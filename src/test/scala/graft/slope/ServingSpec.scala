package graft.slope

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    // saveAsTable (bucketed-layout tests) must never write into the
    // repo working tree — the default warehouse is ./spark-warehouse
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

/** Serving + scoring + CV over DataFrames (reference predict/score/
  * trainOwl semantics: R/predict.R, R/score.R, R/trainOwl.R). */
class ServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  def fixture(seed: Int, n: Int, p: Int, family: String) = {
    val gen = new SlopeFitSpec
    gen.randomProblem(seed, n, p, family = family)
  }

  test("gaussian predictions: linpred matches driver-side dot product") {
    val (xs, ys) = fixture(1, 100, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 8))
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) =>
      (x.toArray, y.asInstanceOf[Double])
    }.toSeq.toDF("features", "label")
    val pred = SlopeServe.predictions(model, df, "features")
      .select("linpred").collect()
    for (i <- 0 until 20) {
      val row = pred(i).getSeq[scala.collection.Seq[Double]](0)
      for (s <- 0 until model.nSteps) {
        val expect = model.linearPredictor(xs(i), s)(0)
        assert(row(s).head == expect, s"row $i step $s: ${row(s).head} vs $expect")
      }
    }
  }

  test("binomial response/class semantics (predict.R:91-121)") {
    val (xs, ys) = fixture(2, 200, 3, "binomial")
    val model = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial", nSigma = 6))
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.toString) }
      .toSeq.toDF("features", "label")
    val out = SlopeServe.predictions(model, df, "features",
      Seq("response", "class")).select("linpred", "response", "predicted_class")
      .collect()
    out.take(50).foreach { r =>
      val lps = r.getSeq[scala.collection.Seq[Double]](0)
      val resp = r.getSeq[scala.collection.Seq[Double]](1)
      val cls = r.getSeq[String](2)
      for (s <- lps.indices) {
        val sigmoid = 1.0 / (1.0 + math.exp(-lps(s).head))
        assert(math.abs(resp(s).head - sigmoid) < 1e-12)
        val expectClass =
          if (lps(s).head > 0) model.classNames(1) else model.classNames(0)
        assert(cls(s) == expectClass)
      }
    }
  }

  test("multinomial response sums to one; class is argmax") {
    val (xs, ys) = fixture(3, 200, 3, "multinomial")
    val model = Slope.fitLocal(xs, ys,
      SlopeParams(family = "multinomial", nSigma = 5))
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.toString) }
      .toSeq.toDF("features", "label")
    val out = SlopeServe.predictions(model, df, "features",
      Seq("response", "class")).select("response", "predicted_class").collect()
    out.take(30).foreach { r =>
      val resp = r.getSeq[scala.collection.Seq[Double]](0)
      val cls = r.getSeq[String](1)
      for (s <- resp.indices) {
        assert(math.abs(resp(s).sum - 1.0) < 1e-9)
        val am = resp(s).indexOf(resp(s).max)
        assert(cls(s) == model.classNames(am))
      }
    }
  }

  test("coefTable: one row per (step, target, feature) of a multinomial path") {
    val (xs, ys) = fixture(3, 200, 3, "multinomial")
    val model = Slope.fitLocal(xs, ys,
      SlopeParams(family = "multinomial", nSigma = 5))
    val (nSteps, m, p) = (model.nSteps, model.m, model.p)
    assert(m > 1 && nSteps > 1, s"m=$m nSteps=$nSteps")
    val rows = SlopeServe.coefTable(model, spark)
      .select("step", "sigma", "target", "feature_idx", "coefficient")
      .collect()
    assert(rows.length == nSteps * m * p)
    val keys = rows.map(r => (r.getInt(0), r.getInt(2), r.getInt(3)))
    assert(keys.distinct.length == rows.length)
    rows.foreach { r =>
      val (step, target, j) = (r.getInt(0), r.getInt(2), r.getInt(3))
      assert(r.getDouble(1) == model.sigma(step), s"sigma at step $step")
      assert(r.getDouble(4) == model.coefs(step)(target * p + j),
        s"coefficient at step $step target $target feature $j")
    }
  }

  test("coefAt: exact on path, interpolated between, clamped outside") {
    val (xs, ys) = fixture(4, 150, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 10))
    assert(model.nSteps >= 3)
    val (i1, c1) = SlopeServe.coefAt(model, model.sigma(1))
    assert(c1.sameElements(model.coefs(1)) && i1.sameElements(model.intercepts(1)))
    // midpoint: between neighbors elementwise
    val mid = (model.sigma(1) + model.sigma(2)) / 2
    val (_, cm) = SlopeServe.coefAt(model, mid)
    for (j <- cm.indices) {
      val lo = math.min(model.coefs(1)(j), model.coefs(2)(j))
      val hi = math.max(model.coefs(1)(j), model.coefs(2)(j))
      assert(cm(j) >= lo - 1e-12 && cm(j) <= hi + 1e-12, s"coef $j out of bracket")
    }
    // clamping
    val (_, cBig) = SlopeServe.coefAt(model, model.sigma.head * 10)
    assert(cBig.sameElements(model.coefs.head))
    val (_, cSmall) = SlopeServe.coefAt(model, model.sigma.last / 10)
    assert(cSmall.sameElements(model.coefs.last))
  }

  test("coefExact: refit matches path on-path, beats interpolation off-path") {
    val (xs, ys) = fixture(14, 150, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 10))
    assert(model.nSteps >= 4)
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.asInstanceOf[Double]) }
      .toSeq.toDF("features", "label")

    // on-path sigma: exact refit reproduces the path solution
    val onPath = model.sigma(2)
    val Array((icOn, cfOn)) = SlopeServe.coefExact(df, "features", "label",
      SlopeParams(), Array(onPath))
    for (j <- cfOn.indices)
      assert(math.abs(cfOn(j) - model.coefs(2)(j)) < 1e-4,
        s"on-path coef $j: ${cfOn(j)} vs ${model.coefs(2)(j)}")

    // off-path midpoint: exact equals a direct single-sigma fit
    // (test-coef.R exact branch), and differs from the interpolation
    // where the path bends
    val mid = (model.sigma(2) + model.sigma(3)) / 2
    val Array((_, cfExact)) = SlopeServe.coefExact(df, "features", "label",
      SlopeParams(), Array(mid))
    val direct = Slope.fitLocal(xs, ys, SlopeParams(sigma = Some(Array(mid))))
    for (j <- cfExact.indices)
      assert(math.abs(cfExact(j) - direct.coefs(0)(j)) < 1e-6,
        s"exact-vs-direct coef $j")
    val (_, cfInterp) = SlopeServe.coefAt(model, mid)
    val maxGap = cfExact.indices.map(j => math.abs(cfExact(j) - cfInterp(j))).max
    // interpolation is an approximation: close, but not the solver answer
    assert(maxGap < 1.0, "interpolation should be in the right ballpark")
    // caller order is preserved for multiple sigmas
    val two = SlopeServe.coefExact(df, "features", "label",
      SlopeParams(), Array(mid, onPath))
    assert(two(1)._2.zip(cfOn).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("weightedAuc: weights=1 equals unweighted midrank; ties get half credit") {
    import spark.implicits._
    // hand-computed: pos scores {3, 2}, neg scores {2, 1}
    //   pairs: (3>2)=1, (3>1)=1, (2=2)=.5, (2>1)=1  => auc = 3.5/4
    val tied = Seq((1.0, 3.0, 1.0), (1.0, 2.0, 1.0), (0.0, 2.0, 1.0),
      (0.0, 1.0, 1.0)).toDF("y", "s", "w")
    val a = SlopeScore.weightedAuc(tied, "y", "s", "w").head().getDouble(0)
    assert(math.abs(a - 3.5 / 4.0) < 1e-12, s"tied auc $a")
    // doubling one weight doubles that row's pair contributions:
    //   w(pos,3)=2: pairs (3>2)*2, (3>1)*2, (2=2)*.5, (2>1)*1 / (3*2)
    val w2 = Seq((1.0, 3.0, 2.0), (1.0, 2.0, 1.0), (0.0, 2.0, 1.0),
      (0.0, 1.0, 1.0)).toDF("y", "s", "w")
    val aw = SlopeScore.weightedAuc(w2, "y", "s", "w").head().getDouble(0)
    assert(math.abs(aw - 5.5 / 6.0) < 1e-12, s"weighted auc $aw")
    // weights=1 reduces to the unweighted midrank AUC on a real fit
    val (xs, ys) = fixture(15, 300, 3, "binomial")
    val model = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial", nSigma = 4))
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.toString) }
      .toSeq.toDF("features", "label")
    val unweighted = SlopeScore.score(model, df, "features", "label", "auc")
    val lastStep = model.nSteps - 1
    val probs = SlopeServe.predictions(model, df, "features", Seq("response"))
      .select(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("response"), lastStep + 1), 1).as("p"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("label") === model.classNames(1), 1.0)
          .otherwise(0.0).as("y"),
        org.apache.spark.sql.functions.lit(1.0).as("w"))
    val aOne = SlopeScore.weightedAuc(probs, "y", "p", "w").head().getDouble(0)
    assert(math.abs(aOne - unweighted(lastStep)) < 1e-10,
      s"weights=1: $aOne vs ${unweighted(lastStep)}")
  }

  /** Rows as a (features, label) frame, features in one of the three
    * accepted encodings. Labels are Double, String or Array[Double];
    * a null feature vector or label stays null. */
  private def scoringFrame(xs: Array[Vector], ys: Array[Any],
                           encoding: String) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val featType = if (encoding == "array") ArrayType(DoubleType)
      else org.apache.spark.ml.linalg.SQLDataTypes.VectorType
    val labelType = ys(0) match {
      case _: Double => DoubleType
      case _: String => StringType
      case _ => ArrayType(DoubleType)
    }
    val rows = xs.indices.map { i =>
      val f = if (xs(i) == null) null else encoding match {
        case "array" => xs(i).toArray.toSeq
        case "dense" => xs(i).toDense
        case "sparse" => xs(i).toSparse
      }
      val y = ys(i) match {
        case a: Array[Double] => a.toSeq
        case other => other
      }
      org.apache.spark.sql.Row(f, y)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("features", featType), StructField("label", labelType))))
  }

  /** Served `linpred` of `df`, one Array(step)(target) per row (null for
    * a null `linpred`). With `cached` the frame is cached first, so the
    * expression runs in generated code; a frame of local rows is
    * evaluated by the optimizer, through the interpreted path. */
  private def servedLinpred(model: SlopeModel, df: org.apache.spark.sql.DataFrame,
                            cached: Boolean) = {
    val in = if (cached) df.cache() else df
    try SlopeServe.withLinearPredictors(model, in, "features").select("linpred").collect()
      .map(r => if (r.isNullAt(0)) null
        else r.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray)
    finally if (cached) in.unpersist()
  }

  test("predictions: array, dense and sparse features serve the same bits") {
    // exact zeros, so the sparse encoding has gaps; m = 2 targets
    val rng = new scala.util.Random(31)
    val xs = Array.fill(120)(Vectors.dense(Array.fill(5) {
      val g = rng.nextGaussian(); if (math.abs(g) < 0.5) 0.0 else g }))
    val ys: Array[Any] = xs.map(x => Array(x(0) - 2.0 * x(3) + 0.1 * rng.nextGaussian(),
      1.5 * x(1) + 0.1 * rng.nextGaussian()))
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 6))
    assert(model.m == 2)
    for (e <- Seq("array", "dense", "sparse"); cached <- Seq(false, true)) {
      val got = servedLinpred(model, scoringFrame(xs, ys, e), cached)
      for (i <- xs.indices; s <- 0 until model.nSteps) {
        val want = model.linearPredictor(xs(i), s)
        assert(got(i)(s).sameElements(want),
          s"$e cached=$cached row $i step $s: ${got(i)(s).mkString(",")} vs ${want.mkString(",")}")
      }
    }
  }

  test("predictions: wrong feature length fails with both lengths; null features give null") {
    val (xs, ys) = fixture(32, 80, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 4))
    for (len <- Seq(3, 5)) {
      val bad = xs.updated(7, Vectors.dense(Array.tabulate(len)(_ + 1.0)))
      for (encoding <- Seq("array", "dense"); cached <- Seq(false, true)) {
        val e = intercept[Exception](
          servedLinpred(model, scoringFrame(bad, ys, encoding), cached))
        val found = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .exists(t => t.isInstanceOf[IllegalArgumentException] &&
            t.getMessage.contains(s"feature vector length $len != model's 4"))
        assert(found, s"length $len, $encoding, cached=$cached: $e")
      }
    }
    for (cached <- Seq(false, true)) {
      val withNull = servedLinpred(model, scoringFrame(xs.updated(3, null), ys, "array"), cached)
      assert(withNull(3) == null, s"cached=$cached")
      assert(withNull(4)(0).sameElements(model.linearPredictor(xs(4), 0)), s"cached=$cached")
    }
  }

  test("predictions and scoreMany: a null array element fails, naming column and index") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (xs, ys) = fixture(36, 80, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 4))
    def frame(containsNull: Boolean, nullAt: Int) = spark.createDataFrame(
      xs.indices.map { i =>
        val f: Seq[Any] = if (i == nullAt) Seq(1.0, 2.0, null, 4.0) else xs(i).toArray.toSeq
        Row(f, ys(i))
      }.asJava,
      StructType(Seq(StructField("feats", ArrayType(DoubleType, containsNull)),
        StructField("target", DoubleType))))
    def named(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("null element at index 2 of the feature vector in column 'feats'"))
    for (cached <- Seq(false, true)) {
      val in = if (cached) frame(containsNull = true, 9).cache() else frame(containsNull = true, 9)
      try {
        val ep = intercept[Exception](SlopeServe.predictions(model, in, "feats").collect())
        assert(named(ep), s"predictions, cached=$cached: $ep")
        val es = intercept[Exception](
          SlopeScore.scoreMany(model, in, "feats", "target", Seq("mse", "mae")))
        assert(named(es), s"scoreMany, cached=$cached: $es")
      } finally if (cached) in.unpersist()
    }
    // an array type that holds no null element is not scanned for one
    // (cached, so the optimizer does not evaluate the local rows itself)
    val plain = frame(containsNull = false, -1).cache()
    try {
      val served = SlopeServe.withLinearPredictors(model, plain, "feats").queryExecution
        .optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case lp: LinearPredictors => lp }))
      assert(served.nonEmpty &&
        served.forall(lp => !RowCodec.nullElements(lp.child.dataType)), served)
      val scored = Slope.selectFrame(plain, "feats", "target", "gaussian")
        .queryExecution.optimizedPlan.schema("f").dataType
      assert(!RowCodec.nullElements(scored), scored)
    } finally plain.unpersist()
  }

  test("scoreMany: a null element of an array label fails, naming column and index") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(89)
    val xs = Array.fill(40)(Vectors.dense(Array.fill(3)(rng.nextGaussian())))
    val ys = Array.fill(40)(Array.fill(2)(rng.nextGaussian()))
    val model = Slope.fitLocal(xs.map(x => x: Vector), ys.map(y => y: Any), SlopeParams(nSigma = 4))
    assert(model.m == 2)
    val df = spark.createDataFrame(
      xs.indices.map { i =>
        val y: Seq[Any] = if (i == 9) Seq(0.5, null) else ys(i).toSeq
        Row(xs(i).toArray.toSeq, y)
      }.asJava,
      StructType(Seq(StructField("feats", ArrayType(DoubleType, containsNull = false)),
        StructField("target", ArrayType(DoubleType, containsNull = true)))))
    for (cached <- Seq(false, true)) {
      val in = if (cached) df.cache() else df
      try {
        val e = intercept[Exception](SlopeScore.scoreMany(model, in, "feats", "target", Seq("mse")))
        val found = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .exists(t => t.isInstanceOf[IllegalArgumentException] &&
            t.getMessage.contains("null element at index 1 of the label array in column 'target'"))
        assert(found, s"cached=$cached: $e")
      } finally if (cached) in.unpersist()
    }
  }

  test("predictions: a 50-feature x 20-step model serves in whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val rng = new scala.util.Random(33)
    val p = 50
    val xs = Array.fill(400)(Vectors.dense(Array.fill(p)(rng.nextGaussian())))
    val ys: Array[Any] = xs.map(x => (0 until 10).map(j => x(j) * (j + 1)).sum +
      rng.nextGaussian())
    val model = Slope.fitLocal(xs, ys, SlopeParams(sigma = Some(
      Array.tabulate(20)(s => math.pow(0.8, s)))))
    assert(model.nSteps == 20 && model.p == p)
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val frame = scoringFrame(xs, ys, "array").cache()
    try {
      val served = SlopeServe.withLinearPredictors(model, frame, "features")
      val stages = served.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec if w.child.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[LinearPredictors]))) => w
      }
      assert(stages.size == 1, served.queryExecution.executedPlan.toString)
      // the stage compiles, and under the limit above which Spark runs
      // the plan without whole-stage codegen
      val (_, stats) = CodeGenerator.compile(stages.head.doCodeGen()._2)
      assert(stats.maxMethodCodeSize <= spark.sessionState.conf.hugeMethodLimit,
        s"largest generated method ${stats.maxMethodCodeSize} bytes")
      val got = served.select("linpred").collect()
      for (i <- 0 until 20; s <- 0 until model.nSteps)
        assert(got(i).getSeq[scala.collection.Seq[Double]](0)(s).head ==
          model.linearPredictor(xs(i), s)(0), s"row $i step $s")
    } finally {
      frame.unpersist()
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("score: repeated scoring over 200 partitions gives the same bits") {
    val (xs, ys) = fixture(34, 2000, 4, "gaussian")
    val model = Slope.fitLocal(xs, ys, SlopeParams(nSigma = 6))
    val wide = scoringFrame(xs, ys, "array").repartition(200).cache()
    try {
      val first = SlopeScore.scoreMany(model, wide, "features", "label", Seq("mse", "mae"))
      for (r <- 1 until 20) {
        val again = SlopeScore.scoreMany(model, wide, "features", "label", Seq("mse", "mae"))
        for (m <- Seq("mse", "mae"))
          assert(again(m).sameElements(first(m)), s"repeat $r $m")
      }
    } finally wide.unpersist()
  }

  test("score: every job is described as slope score, and the caller's description returns") {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (xs, ys) = fixture(35, 300, 3, "binomial")
    val model = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial", nSigma = 4))
    val df = scoringFrame(xs, ys, "array").repartition(3)
    val sc = spark.sparkContext
    val group = "score-labels"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller's description")
    try {
      SlopeScore.scoreMany(model, df, "features", "label", Seq("mse", "deviance"))
      assert(sc.getLocalProperty("spark.job.description") == "caller's description")
    } finally {
      sc.clearJobGroup()
      ListenerBusShim.drain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(descs.asScala.nonEmpty && descs.asScala.forall(_ == "slope score"),
      descs.asScala.mkString(", "))
  }

  test("score: every family's measures match a row-by-row reference") {
    // features with exact zeros, so the sparse encoding has gaps
    def sparsify(xs: Array[Vector]): Array[Vector] = xs.map(x =>
      Vectors.dense(x.toArray.map(v => if (math.abs(v) < 0.4) 0.0 else v)))
    def clamp(v: Double) = math.min(math.max(v, 1e-5), 1.0 - 1e-5)
    val mtRng = new scala.util.Random(11)
    val mtXs = sparsify(Array.fill(150)(
      Vectors.dense(Array.fill(4)(mtRng.nextGaussian()))))
    val mtYs: Array[Any] = mtXs.map(x => Array(
      2.0 * x(0) - 1.5 * x(2) + 0.3 * mtRng.nextGaussian() + 1.0,
      -3.0 * x(1) + 0.3 * mtRng.nextGaussian() - 2.0))
    def problem(seed: Int, n: Int, family: String) = {
      val (xs, ys) = fixture(seed, n, 4, family)
      (sparsify(xs), ys)
    }
    val cases: Seq[(String, (Array[Vector], Array[Any]), Seq[String])] = Seq(
      ("gaussian", problem(5, 120, "gaussian"), Seq("mse", "mae")),
      ("binomial", problem(21, 200, "binomial"),
        Seq("mse", "mae", "deviance", "misclass")),
      ("poisson", problem(22, 200, "poisson"), Seq("mse", "mae")),
      ("multinomial", problem(23, 240, "multinomial"), Seq("mse", "mae", "deviance")),
      ("gaussian", (mtXs, mtYs), Seq("mse", "mae")))
    for ((family, (xs, ys), measures) <- cases) {
      val model = Slope.fitLocal(xs, ys, SlopeParams(family = family, nSigma = 6))
      val tag = s"$family m=${model.m}"
      // per-row terms, each measure's formula from R/score.R
      def rowTerms(i: Int, s: Int): Map[String, Double] = {
        val lp = model.linearPredictor(xs(i), s)
        family match {
          case "gaussian" | "poisson" =>
            val y = ys(i) match {
              case a: Array[Double] => a
              case d => Array(d.asInstanceOf[Double])
            }
            val e = lp.indices.map(k => lp(k) - y(k))
            Map("mse" -> e.map(v => v * v).sum / model.m,
              "mae" -> e.map(math.abs).sum / model.m)
          case "binomial" =>
            val pr = 1.0 / (1.0 + math.exp(-lp(0)))
            val y = if (ys(i) == model.classNames(1)) 1.0 else 0.0
            Map("mse" -> 2 * (pr - y) * (pr - y),
              "mae" -> 2 * math.abs(pr - y),
              "deviance" -> -2 * (y * math.log(clamp(pr)) +
                (1 - y) * math.log(1 - clamp(pr))),
              "misclass" -> (if ((pr > 0.5) != (y == 1.0)) 1.0 else 0.0))
          case "multinomial" =>
            val logits = lp :+ 0.0
            val ex = logits.map(v => math.exp(v - logits.max))
            val pr = ex.map(_ / ex.sum)
            val yi = model.classNames.indexOf(ys(i).toString)
            val d = pr.indices.map(c => pr(c) - (if (c == yi) 1.0 else 0.0))
            Map("mse" -> d.map(v => v * v).sum / model.nClasses,
              "mae" -> d.map(math.abs).sum / model.nClasses,
              "deviance" -> -2 * math.log(clamp(pr(yi))))
        }
      }
      val reference = measures.map(m => m -> Array.tabulate(model.nSteps)(s =>
        xs.indices.map(i => rowTerms(i, s)(m)).sum / xs.length)).toMap
      for (encoding <- Seq("array", "dense", "sparse")) {
        val got = SlopeScore.scoreMany(model, scoringFrame(xs, ys, encoding),
          "features", "label", measures)
        for (m <- measures; s <- 0 until model.nSteps)
          assert(math.abs(got(m)(s) - reference(m)(s)) < 1e-9,
            s"$tag $encoding $m step $s: ${got(m)(s)} vs ${reference(m)(s)}")
      }
      // the driver-array entry CV uses: same kernel, same values
      val withAuc = if (family == "binomial") measures :+ "auc" else measures
      val many = SlopeScore.scoreMany(model, scoringFrame(xs, ys, "array"),
        "features", "label", withAuc)
      val rows = SlopeScore.scoreRows(model, xs, ys, withAuc)
      for (m <- withAuc; s <- 0 until model.nSteps)
        assert(math.abs(rows(m)(s) - many(m)(s)) <=
          1e-12 * math.max(1.0, math.abs(many(m)(s))),
          s"$tag driver rows $m step $s: ${rows(m)(s)} vs ${many(m)(s)}")
      if (family == "gaussian")
        assert(many("mse").last < many("mse").head, s"$tag mse should improve along the path")
    }
  }

  test("score: rows with a null label or null features are not counted") {
    for (family <- Seq("gaussian", "binomial")) {
      val (xs, ys) = fixture(24, 150, 3, family)
      val model = Slope.fitLocal(xs, ys, SlopeParams(family = family, nSigma = 5))
      val measures = SlopeScore.ValidMeasures(family)
      // one null-feature row and one null-label row, each with a value
      // that would move every measure if it were counted
      val xsNull = xs :+ null :+ xs(1)
      val ysNull = ys :+ ys(0) :+ null
      val want = SlopeScore.scoreMany(model, scoringFrame(xs, ys, "array"),
        "features", "label", measures)
      val got = SlopeScore.scoreMany(model, scoringFrame(xsNull, ysNull, "array"),
        "features", "label", measures)
      val rows = SlopeScore.scoreRows(model, xsNull, ysNull, measures)
      for (m <- measures; s <- 0 until model.nSteps) {
        val tol = 1e-12 * math.max(1.0, math.abs(want(m)(s)))
        assert(math.abs(got(m)(s) - want(m)(s)) <= tol,
          s"$family $m step $s: ${got(m)(s)} vs ${want(m)(s)}")
        assert(math.abs(rows(m)(s) - want(m)(s)) <= tol,
          s"$family driver rows $m step $s: ${rows(m)(s)} vs ${want(m)(s)}")
      }
    }
  }

  test("score: binomial auc in [0.5, 1] and improves; invalid measure rejected") {
    val (xs, ys) = fixture(6, 300, 3, "binomial")
    val model = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial", nSigma = 8))
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.toString) }
      .toSeq.toDF("features", "label")
    val auc = SlopeScore.score(model, df, "features", "label", "auc")
    assert(auc.forall(a => a >= 0.0 && a <= 1.0))
    assert(auc.last > 0.7, s"final auc ${auc.last} too low for planted signal")
    val mis = SlopeScore.score(model, df, "features", "label", "misclass")
    assert(mis.forall(v => v >= 0 && v <= 1))
    intercept[IllegalArgumentException] {
      SlopeScore.score(model, df, "features", "label", "auc_bogus")
    }
    // auc invalid for gaussian
    val gm = Slope.fitLocal(xs, ys.map(_ => 1.0: Any), SlopeParams(nSigma = 2))
    intercept[IllegalArgumentException] {
      SlopeScore.score(gm, df, "features", "label", "auc")
    }
  }

  test("cross-validation: summary shape, optima minimality (trainOwl.R)") {
    val (xs, ys) = fixture(7, 200, 4, "gaussian")
    import spark.implicits._
    val df = xs.zip(ys).map { case (x, y) => (x.toArray, y.asInstanceOf[Double]) }
      .toSeq.toDF("features", "label")
    val cv = SlopeCv.trainSlope(df, "features", "label",
      SlopeParams(nSigma = 8), qs = Seq(0.2), number = 4, repeats = 1,
      measures = Seq("mse", "mae"), parallelism = 2)
    val nSteps = cv.model.nSteps
    assert(cv.summary.size == 2 * nSteps)
    assert(cv.summary.forall(c => c.se >= 0 && c.lo <= c.mean && c.mean <= c.hi))
    for (m <- Seq("mse", "mae")) {
      val cells = cv.summary.filter(_.measure == m)
      val opt = cv.optima.find(_.measure == m).get
      assert(opt.mean == cells.map(_.mean).min)
    }
  }

  test("calibration: bin math, perfect-calibration zero ECE, hand-computed gaps") {
    import spark.implicits._
    // perfectly calibrated by construction: in the 0.25 bucket (bin 2),
    // exactly 1 of 4 rows is positive, etc.
    val perfect = Seq.fill(4)(0.25).zipWithIndex.map { case (s, i) =>
      (s, if (i == 0) 1 else 0)
    } ++ Seq.fill(4)(0.75).zipWithIndex.map { case (s, i) =>
      (s, if (i < 3) 1 else 0)
    }
    val p = graft.slope.SlopeScore.calibration(
      perfect.toDF("score", "label"), "score", "label", bins = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(p.keySet == Set(1L, 3L))
    assert(p(1L) == ((4L, 0.25, 0.0, 0.0)), "bin 1: frac_pos 1/4, gap 0")
    assert(p(3L) == ((4L, 0.75, 0.0, 0.0)))
    // skewed: scores say 0.9 but only half are positive; score 1.0
    // clamps into the LAST bin; nulls drop
    val skew = Seq((0.9, 1), (0.9, 0), (1.0, 1), (1.0, 1))
      .toDF("score", "label")
      .union(Seq((null.asInstanceOf[java.lang.Double], 1))
        .toDF("score", "label"))
    val sRows = graft.slope.SlopeScore.calibration(
      skew, "score", "label", bins = 10).collect()
    assert(sRows.map(_.getLong(1)).sum == 4, "null score dropped")
    val bin9 = sRows.find(_.getLong(0) == 9L).get
    assert(bin9.getLong(1) == 4, "score 1.0 clamps into bin 9")
    assert(math.abs(bin9.getDouble(2) - 0.95) < 1e-12) // mean score
    assert(math.abs(bin9.getDouble(3) - 0.75) < 1e-12) // frac pos
    assert(math.abs(bin9.getDouble(4) - 0.2) < 1e-12)  // gap
    assert(math.abs(bin9.getDouble(5) - 0.2) < 1e-12,
      "single-bin ECE equals its gap")
  }
}
