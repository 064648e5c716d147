package graft.slope

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Estimator/Model wrapper, persistence, distributed fixture generator,
  * and local==distributed backend equivalence. */
class MlApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("SlopeRegression estimator: fit + transform through ml.Pipeline API") {
    val gen = RandomProblem.generate(spark, 500, 5, family = "gaussian", seed = 7)
    val est = new SlopeRegression()
      .setFamily("gaussian").setNSigma(15).setScale("l2")
    val model = est.fit(gen.df)
    assert(model.slopeModel.nSteps > 1)
    val out = model.transform(gen.df)
    assert(out.columns.contains("prediction"))
    // predictions should correlate strongly with the label at path end
    val corrV = out.select(corr(col("prediction"), col("label"))).head().getDouble(0)
    assert(corrV > 0.8, s"corr $corrV")
    // planted nonzero features should be recovered at the path end
    val last = model.slopeModel.coefs.last
    gen.nonzero.foreach { j =>
      assert(math.abs(last(j)) > 0.1, s"planted feature $j not recovered")
    }
  }

  test("MLlib CrossValidator tunes SlopeRegression via ParamGridBuilder") {
    // the caret-adapter role (reference R/caretOwl.R:15-269): hyper-
    // parameter tuning must work through the STOCK MLlib tooling, which
    // exercises defaultCopy/fit(paramMap) and the DoubleType prediction
    // contract end-to-end
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val gen = RandomProblem.generate(spark, 400, 5, family = "gaussian",
      seed = 21)
    val est = new SlopeRegression().setFamily("gaussian").setNSigma(8)
    val grid = new ParamGridBuilder()
      .addGrid(est.q, Array(0.1, 0.2))
      .addGrid(est.scale, Array("l2", "sd"))
      .build()
    val cv = new CrossValidator()
      .setEstimator(est)
      .setEvaluator(new RegressionEvaluator().setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      .setSeed(42L)
    val cvModel = cv.fit(gen.df)
    assert(cvModel.avgMetrics.length == 4)
    assert(cvModel.avgMetrics.forall(m => !m.isNaN && m > 0))
    val best = cvModel.bestModel.asInstanceOf[SlopeRegressionModel]
    assert(best.slopeModel.nSteps > 1)
    // the tuned model serves predictions through the standard surface
    val out = cvModel.transform(gen.df)
    val corrV = out.select(corr(col("prediction"), col("label")))
      .head().getDouble(0)
    assert(corrV > 0.8, s"corr $corrV")
  }

  test("multi-task estimator emits array predictions under a distinct name") {
    // m > 1 must NOT silently retype the scalar `prediction` column:
    // the standard DoubleType contract (RegressionEvaluator et al.)
    // stays intact because multi-task output lands in `predictions`
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = (1 to 300).map { _ =>
      val x = Array.fill(4)(rng.nextGaussian())
      (x, Array(2.0 * x(0) - x(1) + rng.nextGaussian() * 0.1,
        x(2) * 3.0 + rng.nextGaussian() * 0.1))
    }
    val df = rows.toDF("features", "label")
    val model = new SlopeRegression().setFamily("gaussian").setNSigma(8)
      .fit(df)
    assert(model.slopeModel.m == 2)
    val out = model.transform(df)
    assert(!out.columns.contains("prediction"),
      "scalar prediction must not exist for m > 1")
    assert(out.columns.contains("predictions"))
    assert(out.schema("predictions").dataType == ArrayType(DoubleType, false) ||
      out.schema("predictions").dataType.isInstanceOf[ArrayType])
    val first = out.select("predictions").head().getSeq[Double](0)
    assert(first.length == 2, s"expected length-2 predictions, got $first")
    // each task's prediction tracks its own target
    val corr0 = out.select(corr(element_at(col("predictions"), 1),
      element_at(col("label"), 1))).head().getDouble(0)
    val corr1 = out.select(corr(element_at(col("predictions"), 2),
      element_at(col("label"), 2))).head().getDouble(0)
    assert(corr0 > 0.8 && corr1 > 0.8, s"per-task corr $corr0 / $corr1")
  }

  test("binomial estimator predicts class labels") {
    val gen = RandomProblem.generate(spark, 600, 4, family = "binomial", seed = 9)
    val model = new SlopeRegression().setFamily("binomial").setNSigma(10)
      .fit(gen.df)
    val out = model.transform(gen.df)
    val acc = out.select(avg(when(col("prediction") ===
      col("label").cast("string"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc > 0.8, s"accuracy $acc")
  }

  test("model save/load roundtrip") {
    val gen = RandomProblem.generate(spark, 300, 4, family = "gaussian", seed = 3)
    val m = Slope.fit(gen.df, "features", "label", SlopeParams(nSigma = 8))
    val dir = java.nio.file.Files.createTempDirectory("slope_model").toString
    SlopeModelIO.save(m, spark, dir)
    val loaded = SlopeModelIO.load(spark, dir)
    assert(loaded.family == m.family && loaded.p == m.p && loaded.nSteps == m.nSteps)
    for (s <- 0 until m.nSteps) {
      assert(loaded.coefs(s).sameElements(m.coefs(s)), s"coefs step $s")
      assert(loaded.intercepts(s).sameElements(m.intercepts(s)))
    }
    assert(loaded.sigma.sameElements(m.sigma))
    assert(loaded.devianceRatios.sameElements(m.devianceRatios))
  }

  test("randomProblem design knobs: density, rho, multinomial response") {
    import spark.implicits._
    // density: cell-level sparsity matches the knob (reference
    // rsparsematrix analogue — iid Bernoulli(density) mask)
    val sp = RandomProblem.generate(spark, 2000, 20, family = "gaussian",
      seed = 31, density = 0.3)
    val cells = sp.df.select(explode(col("features")).as("v"))
    val frac = cells.select(avg(when(col("v") =!= 0.0, 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(math.abs(frac - 0.3) < 0.02, s"nonzero fraction $frac != 0.3")
    // nonzero cells keep the N(0,1) value distribution
    val nzSd = cells.filter(col("v") =!= 0.0)
      .select(stddev(col("v"))).head().getDouble(0)
    assert(math.abs(nzSd - 1.0) < 0.05, s"nonzero sd $nzSd")

    // rho: pairwise column correlation ~ rho (equicorrelated design,
    // reference utils.R:37-38), and variance inflates to 1/(1-rho)
    val co = RandomProblem.generate(spark, 4000, 6, family = "gaussian",
      seed = 33, rho = 0.5)
    val wide = co.df.select((0 until 6).map(j =>
      element_at(col("features"), j + 1).as(s"c$j")): _*)
    val corrs = for (a <- 0 until 6; b <- a + 1 until 6) yield
      wide.select(corr(col(s"c$a"), col(s"c$b"))).head().getDouble(0)
    val meanCorr = corrs.sum / corrs.size
    assert(math.abs(meanCorr - 0.5) < 0.05, s"mean column corr $meanCorr != 0.5")
    val v0 = wide.select(variance(col("c0"))).head().getDouble(0)
    assert(math.abs(v0 - 2.0) < 0.2, s"variance $v0 != 1/(1-rho) = 2")

    // multinomial: labels span 1..m, every class occupied, and the
    // planted beta drives class separation (a fit beats chance)
    val mn = RandomProblem.generate(spark, 3000, 6, family = "multinomial",
      seed = 35, qSignal = 0.3, amplitude = 2.0, nTargets = 3)
    assert(mn.beta.length == 18)
    val counts = mn.df.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(1.0, 2.0, 3.0), s"labels: ${counts.keySet}")
    assert(counts.values.forall(_ > 100), s"class counts: $counts")
    val fit = Slope.fit(mn.df, "features", "label",
      SlopeParams(family = "multinomial", nSigma = 10))
    val pred = SlopeServe.predictions(fit, mn.df, "features", Seq("class"))
    val acc = pred.select(avg(when(
      element_at(col("predicted_class"), fit.nSteps) ===
        col("label").cast("string"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc > 0.55, s"multinomial fixture accuracy $acc not above chance")
  }

  test("distributed backend == local backend on the same data") {
    val gen = RandomProblem.generate(spark, 400, 4, family = "gaussian", seed = 11)
    val local = Slope.fit(gen.df, "features", "label", SlopeParams(nSigma = 10))
    val dist = Slope.fit(gen.df, "features", "label",
      SlopeParams(nSigma = 10, localCellLimit = 0))
    assert(local.nSteps == dist.nSteps)
    for (s <- 0 until local.nSteps) {
      val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-6, s"step $s max diff ${d.max}")
    }
  }

  test("fused evalPairActive == composed primal + eval, on both backends") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(41)
    val p = 4
    def rows(n: Int) = Array.fill(n)((
      Vectors.dense(Array.fill(p)(rng.nextGaussian())): Vector,
      Array(if (rng.nextBoolean()) 1.0 else -1.0)))
    val small = rows(300)
    // 20k rows: the local backend splits evaluation passes into chunks
    val large = rows(20000)
    val dist = new DistributedBackend(spark.sparkContext.parallelize(small.toSeq, 4),
      p, 1, true, knownN = small.length)
    def local(rs: Array[(Vector, Array[Double])]) =
      new LocalBackend(rs.map(_._1), rs.map(_._2), p, 1, true)
    try {
      for ((name, backend) <- Seq("distributed" -> dist, "local" -> local(small),
                                  "local chunked" -> local(large))) {
        backend.setStandardization(new Array[Double](p + 1), Array.fill(p + 1)(1.0))
        val active = (0 to p).toArray
        val cand = Array.tabulate(p + 1)(j => 0.1 * (j + 1))
        val next = Array.tabulate(p + 1)(j => -0.05 * (j + 1))
        val fam = Family("binomial")
        val (gc, gn, dn, grn) = backend.evalPairActive(active, cand, next, fam)
        // the same per-row terms, summed and merged in the same order
        assert(gc == backend.primalActive(active, cand, fam), name)
        val (g2, d2, gr2) = backend.evalActive(active, next, fam,
          needDual = true, needGrad = true)
        assert(gn == g2 && dn == d2, name)
        assert(grn.sameElements(gr2), name)
      }
    } finally dist.unpersist()
  }

  test("repeated distributed passes agree bit for bit") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(53)
    val p = 10
    val rows = Array.fill(16000) {
      val x = Array.fill(p)(rng.nextGaussian())
      (Vectors.dense(x): Vector, Array(if (x(0) + rng.nextGaussian() > 0) 1.0 else -1.0))
    }
    for (parts <- Seq(8, 200)) {
      // no knownN: the backend keeps the input's layout
      val backend = new DistributedBackend(
        spark.sparkContext.parallelize(rows.toSeq, parts), p, 1, true)
      try {
        assert(backend.rows.getNumPartitions == parts)
        backend.setStandardization(new Array[Double](p + 1), Array.fill(p + 1)(1.0))
        val active = (0 to p).toArray
        val beta = Array.tabulate(p + 1)(j => 0.3 / (j + 1))
        val fam = Family("binomial")
        def eval() = backend.evalActive(active, beta, fam, needDual = true, needGrad = true)
        val (g0, d0, gr0) = eval()
        for (r <- 1 until 20) {
          val (g, d, gr) = eval()
          assert(g == g0 && d == d0 && gr.sameElements(gr0), s"$parts partitions: repeat $r differs")
        }
      } finally backend.unpersist()
    }
  }

  test("repeated distributed binomial fits agree bit for bit") {
    def sameFits(fits: Seq[SlopeModel], what: String): Unit =
      for ((f, r) <- fits.zipWithIndex.tail) {
        assert(f.nSteps == fits.head.nSteps, s"$what: fit $r")
        for (s <- 0 until f.nSteps) {
          assert(f.coefs(s).sameElements(fits.head.coefs(s)), s"$what: fit $r step $s")
          assert(f.intercepts(s).sameElements(fits.head.intercepts(s)), s"$what: fit $r step $s")
        }
      }
    val gen = RandomProblem.generate(spark, 8000, 10, family = "binomial",
      seed = 31, slices = 8)
    val params = SlopeParams(family = "binomial", nSigma = 8, localCellLimit = 0)
    sameFits(Seq.fill(3)(Slope.fit(gen.df, "features", "label", params)), "sized rows")
    // every pass over 200 partitions: no knownN, so the backend keeps the layout
    val p = 6
    val rows = binomialRows(31, 4000, p)
    val counts = Array(rows.count(_._2(0) < 0).toLong, rows.count(_._2(0) > 0).toLong)
    sameFits(Seq.fill(2) {
      val backend = new DistributedBackend(spark.sparkContext.parallelize(rows.toSeq, 200),
        p, 1, true)
      try Slope.fitBackend(backend, SlopeParams(family = "binomial", nSigma = 3),
        Array.empty, Array("a", "b"), 2, counts)
      finally backend.unpersist()
    }, "200-partition backend")
  }

  /** Seeded binomial rows over `p` features for the pass-launch cases. */
  private def binomialRows(seed: Int, n: Int, p: Int) = {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(seed)
    Array.fill(n) {
      val x = Array.fill(p)(rng.nextGaussian())
      (Vectors.dense(x): Vector, Array(if (x(0) + rng.nextGaussian() > 0) 1.0 else -1.0))
    }
  }

  /** Runs `body` under a job group and returns it with the description
    * and stage infos of every job it started, in start order. */
  private def withJobs[T](group: String)(body: => T)
    : (T, Seq[(String, Seq[org.apache.spark.scheduler.StageInfo])]) = {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Seq[org.apache.spark.scheduler.StageInfo])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((e.jobId, e.properties.getProperty("spark.job.description"), e.stageInfos))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val out =
      try body
      finally {
        sc.clearJobGroup()
        ListenerBusShim.drain(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    (out, jobs.asScala.toSeq.sortBy(_._1).map(j => (j._2, j._3)))
  }

  test("passes after a backend's first run over the cached blocks alone") {
    val p = 6
    val rows = binomialRows(83, 3000, p)
    // a map over the input: the first pass's stage holds two RDDs
    val backend = new DistributedBackend(
      spark.sparkContext.parallelize(rows.toSeq, 4).map(identity), p, 1, true,
      knownN = rows.length)
    try {
      backend.setStandardization(new Array[Double](p + 1), Array.fill(p + 1)(1.0))
      val fam = Family("binomial")
      val active = Array(0, 2, 5)
      val beta = Array(0.1, -0.4, 0.0)
      val (_, jobs) = withJobs("graft-view") {
        backend.moments(y => y)
        backend.evalActive(active, beta, fam, needDual = true, needGrad = true)
        backend.evalPairActive(active, beta, beta.map(_ * 0.5), fam)
        backend.gramXty(active)
        backend.l1Norms(Array.fill(p)(0.25))
      }
      assert(jobs.map(_._1) == Seq("slope MomentsPass", "slope EvalPass", "slope EvalPass",
        "slope GramPass", "slope L1Pass"), jobs.map(_._1).mkString(", "))
      assert(jobs.head._2.head.rddInfos.length == 2)
      for ((desc, stages) <- jobs.tail) {
        assert(stages.length == 1, desc)
        val rdds = stages.head.rddInfos
        assert(rdds.length == 1 && rdds.head.parentIds.isEmpty,
          s"$desc: ${rdds.map(r => s"${r.name} <- ${r.parentIds}")}")
      }
    } finally backend.unpersist()
  }

  test("a lost cached block is recomputed from lineage, with the same bits") {
    import org.apache.spark.graft.BlockShim
    val p = 8
    val rows = binomialRows(89, 4000, p)
    val backend = new DistributedBackend(spark.sparkContext.parallelize(rows.toSeq, 4),
      p, 1, true)
    try {
      backend.setStandardization(new Array[Double](p + 1), Array.fill(p + 1)(1.0))
      val fam = Family("binomial")
      val active = Array(0, 1, 3, 4, 8)
      val cand = Array(0.2, -0.3, 0.0, 0.7, -0.1)
      val next = cand.map(_ * 0.9)
      // the first pass runs over the rows and caches them; the second over the view
      val first = backend.evalPairActive(active, cand, next, fam)
      val viewed = backend.evalPairActive(active, cand, next, fam)
      BlockShim.removeCached(backend.rows, 2)
      assert(!BlockShim.isCached(backend.rows, 2))
      val (recovered, jobs) = withJobs("graft-lost-block") {
        backend.evalPairActive(active, cand, next, fam)
      }
      // the view job fails, and the pass runs once more over the rows
      assert(jobs.length == 2, jobs.map(_._1).mkString(", "))
      assert(BlockShim.isCached(backend.rows, 2))
      for (r <- Seq(viewed, recovered)) {
        assert(r._1 == first._1 && r._2 == first._2 && r._3 == first._3)
        assert(r._4.sameElements(first._4))
      }
      assert(backend.evalPairActive(active, cand, next, fam)._4.sameElements(first._4))
    } finally backend.unpersist()
  }

  test("a distributed fit that loses a cached block equals the undisturbed fit") {
    import org.apache.spark.graft.BlockShim
    val p = 6
    val rows = binomialRows(97, 3000, p)
    val counts = Array(rows.count(_._2(0) < 0).toLong, rows.count(_._2(0) > 0).toLong)
    val params = SlopeParams(family = "binomial", nSigma = 8)
    def fit(disturb: Boolean): (SlopeModel, Boolean) = {
      val dist = new DistributedBackend(spark.sparkContext.parallelize(rows.toSeq, 4),
        p, 1, true)
      // drops a cached block of the rows after the 5th pass
      val backend = new SlopeBackend(p, 1, true) {
        private var passes = 0
        def n: Long = dist.n
        private[slope] def runPass(pass: RowPass): Array[Double] = {
          val res = dist.runPass(pass)
          passes += 1
          if (disturb && passes == 5) BlockShim.removeCached(dist.rows, 1)
          res
        }
      }
      try (Slope.fitBackend(backend, params, Array.empty, Array("a", "b"), 2, counts),
        BlockShim.isCached(dist.rows, 1))
      finally dist.unpersist()
    }
    val (base, _) = fit(disturb = false)
    val (lost, recached) = fit(disturb = true)
    assert(recached, "the lost block was not cached again")
    assert(lost.nSteps == base.nSteps && base.nSteps > 1)
    for (s <- 0 until base.nSteps) {
      assert(lost.coefs(s).sameElements(base.coefs(s)), s"step $s")
      assert(lost.intercepts(s).sameElements(base.intercepts(s)), s"step $s")
    }
    assert(lost.passes.sameElements(base.passes))
  }

  test("a pass that fails for another reason fails once, with its own exception") {
    val p = 4
    val rows = binomialRows(101, 500, p)
    val backend = new DistributedBackend(spark.sparkContext.parallelize(rows.toSeq, 4),
      p, 1, true)
    try {
      backend.l1Norms(new Array[Double](p))
      val (e, jobs) = withJobs("graft-failing-pass") {
        intercept[Exception](backend.runPass(new FailingPass))
      }
      val causes = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == FailingPass.message), causes.mkString(" | "))
      assert(jobs.map(_._1) == Seq("slope FailingPass"), jobs.map(_._1).mkString(", "))
    } finally backend.unpersist()
  }

  test("a pass over 80 partitions is one job, every stage described by the pass") {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val p = 5
    val rows = binomialRows(103, 2000, p)
    val sc = spark.sparkContext
    // no knownN: the backend keeps the 80-partition layout
    val backend = new DistributedBackend(sc.parallelize(rows.toSeq, 80), p, 1, true)
    val group = "graft-wide-pass"
    val stageDescs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          stageDescs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    try {
      assert(backend.rows.getNumPartitions == 80)
      backend.setStandardization(new Array[Double](p + 1), Array.fill(p + 1)(1.0))
      val active = (0 to p).toArray
      val beta = Array.tabulate(p + 1)(j => 0.2 - 0.05 * j)
      sc.addSparkListener(listener)
      val (_, jobs) = withJobs(group) {
        // over the rows, then over the view
        for (_ <- 0 until 2)
          backend.evalActive(active, beta, Family("binomial"), needDual = true, needGrad = true)
      }
      ListenerBusShim.drain(sc)
      assert(jobs.map(_._1) == Seq("slope EvalPass", "slope EvalPass"), jobs.map(_._1).mkString(", "))
      // one stage of one task per partition
      assert(jobs.forall(j => j._2.map(_.numTasks) == Seq(80)),
        jobs.map(_._2.map(_.numTasks)).mkString(", "))
      import scala.jdk.CollectionConverters._
      val descs = stageDescs.asScala.toSeq
      assert(descs == Seq("slope EvalPass", "slope EvalPass"), descs.mkString(", "))
    } finally {
      sc.removeSparkListener(listener)
      backend.unpersist()
    }
  }

  test("a pass over the driver budget runs in ordered groups that fit it") {
    import org.apache.spark.ml.linalg.Vector
    import org.apache.spark.rdd.RDD
    val p = 30
    val rows = binomialRows(107, 3000, p)
    val sc = spark.sparkContext
    val rdd = sc.parallelize(rows.toSeq, 16).cache()
    val a = p + 1
    val pass = new GramPass(ActiveColumns((0 to p).toArray, p, fitIntercept = true), a, 1)
    val bytes = 8L * pass.length
    // the results of five partitions fit, of six do not
    val budget = 5 * bytes + bytes / 2
    def gram(budget: Long) = withJobs("graft-grouped-pass") {
      OrderedFold.run[(Vector, Array[Double]), Array[Double]](rdd, "slope GramPass", bytes,
          budget, pass.merge)((in: RDD[(Vector, Array[Double])], h) =>
        sc.runJob(in, pass, h)).get
    }
    try {
      val (direct, directJobs) = gram(Long.MaxValue)
      assert(directJobs.map(_._2.map(_.numTasks)) == Seq(Seq(16)))
      assert(OrderedFold.groups(16, bytes, budget) == 5)
      // consecutive ranges, in index order
      val ranges = new RangeCoalescer().coalesce(5, rdd).map(_.partitions.map(_.index).toSeq)
      assert(ranges.flatten.toSeq == (0 until 16) &&
        ranges.forall(r => r == (r.head to r.last)), ranges.mkString(", "))
      val (first, _) = gram(budget)
      for (r <- 1 until 5) {
        val (again, jobs) = gram(budget)
        // one job of five tasks: the driver holds at most five results, within the budget
        assert(jobs.map(_._1) == Seq("slope GramPass"))
        assert(jobs.map(_._2.map(_.numTasks)) == Seq(Seq(5)), s"repeat $r")
        assert(again.sameElements(first), s"repeat $r differs")
      }
      for (i <- direct.indices)
        assert(math.abs(first(i) - direct(i)) <= 1e-12 * math.abs(direct(i)),
          s"entry $i: ${first(i)} vs ${direct(i)}")
    } finally rdd.unpersist()
  }

  test("a null element in array features fails a fit on either backend, naming it") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(73)
    // row 0 fails in the input probe, row 17 where the rows are read
    for (bad <- Seq(0, 17); limit <- Seq(SlopeParams().localCellLimit, 0L)) {
      val rows = (0 until 40).map { i =>
        val f: Seq[Any] = if (i == bad) Seq(0.5, null, -1.0) else Seq.fill(3)(rng.nextGaussian())
        Row(f, rng.nextGaussian())
      }
      val df = spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("feats", ArrayType(DoubleType, containsNull = true)),
        StructField("target", DoubleType))))
      val e = intercept[Exception](Slope.fit(df, "feats", "target",
        SlopeParams(nSigma = 4, localCellLimit = limit)))
      val found = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains("null element at index 1 of the feature vector in column 'feats'"))
      assert(found, s"row $bad, localCellLimit $limit: $e")
    }
  }

  test("a null element in an array label fails a fit on either backend, naming it") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(83)
    val rows = (0 until 40).map { i =>
      val y: Seq[Any] = if (i == 17) Seq(0.5, null) else Seq.fill(2)(rng.nextGaussian())
      Row(Seq.fill(3)(rng.nextGaussian()), y)
    }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("feats", ArrayType(DoubleType, containsNull = false)),
      StructField("target", ArrayType(DoubleType, containsNull = true)))))
    for (limit <- Seq(SlopeParams().localCellLimit, 0L)) {
      val e = intercept[Exception](Slope.fit(df, "feats", "target",
        SlopeParams(nSigma = 4, localCellLimit = limit)))
      val found = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains("null element at index 1 of the label array in column 'target'"))
      assert(found, s"localCellLimit $limit: $e")
    }
  }

  test("collectLocal returns sparse ml Vector features sparse, equal to the input") {
    import org.apache.spark.ml.linalg.{SparseVector, Vectors}
    import spark.implicits._
    val rng = new scala.util.Random(97)
    val rows = (0 until 30).map { i =>
      val idx = (0 until 6).filter(_ => rng.nextDouble() < 0.4).toArray
      (Vectors.sparse(6, idx, idx.map(_ => rng.nextGaussian())), i.toDouble)
    }
    val (xs, ys, _) = Slope.collectLocal(rows.toDF("features", "label"), "features", "label")
    assert(xs.length == rows.length)
    // content order moves the rows; each label names its input row
    for ((x, y) <- xs.zip(ys)) {
      val want = rows(y.asInstanceOf[Double].toInt)._1.toSparse
      x match {
        case s: SparseVector =>
          assert(s.size == want.size && s.indices.sameElements(want.indices) &&
            s.values.sameElements(want.values), s"row $y: $s vs $want")
        case other => fail(s"row $y decoded dense: $other")
      }
    }
  }

  test("non-finite features fail at ingest with a message that names them") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    for (bad <- Seq(Double.PositiveInfinity, Double.NaN)) {
      val df = (0 until 50).map { i =>
        val x = Array.fill(3)(rng.nextGaussian())
        if (i == 17) x(1) = bad
        (x, rng.nextGaussian())
      }.toDF("features", "label")
      for (params <- Seq(SlopeParams(), SlopeParams(localCellLimit = 0))) {
        val e = intercept[Exception](Slope.fit(df, "features", "label", params))
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
        assert(msgs.contains("non-finite (NaN or infinite) feature values"),
          s"$bad, localCellLimit ${params.localCellLimit}: $msgs")
      }
    }
  }

  test("null features and labels fail early with a message that names them") {
    import spark.implicits._
    val rng = new scala.util.Random(67)
    for (family <- Seq("gaussian", "binomial")) {
      def label(i: Int): Option[String] =
        if (family == "gaussian") Some(rng.nextGaussian().toString)
        else Some(if (i % 2 == 0) "yes" else "no")
      val rows = (0 until 40).map(i => (Option(Array.fill(3)(rng.nextGaussian())), label(i)))
      val nullFeature = rows.updated(11, (None, label(11))).toDF("feats", "target")
      val nullLabel = rows.updated(23, (rows(23)._1, None)).toDF("feats", "target")
      val cast = if (family == "gaussian") "double" else "string"
      for ((df, msg) <- Seq(nullFeature -> "null feature vector in column 'feats'",
                            nullLabel -> "null label in column 'target'");
           limit <- Seq(SlopeParams().localCellLimit, 0L)) {
        val e = intercept[Exception](Slope.fit(df.withColumn("target", col("target").cast(cast)),
          "feats", "target", SlopeParams(family = family, nSigma = 4, localCellLimit = limit)))
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
        assert(msgs.contains(msg), s"$family, localCellLimit $limit: $msgs")
      }
      // fitLocal's own row loop names the row
      val xs = rows.map(_._1.get).map(a => org.apache.spark.ml.linalg.Vectors.dense(a)).toArray
      val ys: Array[Any] = rows.map(r => if (family == "gaussian") r._2.get.toDouble else r._2.get)
        .toArray
      val params = SlopeParams(family = family, nSigma = 4)
      val ef = intercept[IllegalArgumentException](Slope.fitLocal(xs.updated(11, null), ys, params))
      assert(ef.getMessage.contains("null feature vector at row 11"), ef.getMessage)
      val el = intercept[IllegalArgumentException](Slope.fitLocal(xs, ys.updated(23, null), params))
      assert(el.getMessage.contains("null label at row 23"), el.getMessage)
      // no rows, and labels that do not pair with the rows one to one
      val e0 = intercept[IllegalArgumentException](
        Slope.fitLocal(Array.empty[org.apache.spark.ml.linalg.Vector], Array.empty[Any], params))
      assert(e0.getMessage.contains("empty input"), e0.getMessage)
      for (labels <- Seq(ys :+ ys(0), ys.init)) {
        val e = intercept[IllegalArgumentException](Slope.fitLocal(xs, labels, params))
        assert(e.getMessage.contains(s"${xs.length} feature vectors but ${labels.length} labels"),
          e.getMessage)
      }
    }
  }

  test("ragged features or label arrays fail with a length message on either backend") {
    import spark.implicits._
    val rng = new scala.util.Random(79)
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val sc = spark.sparkContext
    // one short features row among rows of 3, next to row 0 in its partition
    val oneShort = (0 until 40).map(i =>
      (Array.fill(if (i == 1) 2 else 3)(rng.nextGaussian()), rng.nextGaussian()))
      .toDF("features", "label")
    // every row of the first partition has 3 features, every row of the
    // second 4: each probe task passes, and merging their results fails
    val byPartition = sc.parallelize(0 until 40, 2)
      .map(i => (Array.fill(if (i < 20) 3 else 4)(0.5 * i), i.toDouble))
      .toDF("features", "label")
    assert(byPartition.rdd.getNumPartitions == 2)
    // one multi-target gaussian label row of 3 targets among rows of 2
    val oneLabel = (0 until 40).map(i =>
      (Array.fill(3)(rng.nextGaussian()), Array.fill(if (i == 1) 3 else 2)(rng.nextGaussian())))
      .toDF("features", "label")
    for ((df, msg) <- Seq(oneShort -> "feature vector length 2 != expected 3",
                          byPartition -> "feature vector length 4 != expected 3",
                          oneLabel -> "label array length 3 != expected 2");
         limit <- Seq(SlopeParams().localCellLimit, 0L)) {
      val cachedBefore = sc.getPersistentRDDs.size
      val e = intercept[Exception](Slope.fit(df, "features", "label",
        SlopeParams(nSigma = 4, localCellLimit = limit)))
      assert(messages(e).contains(msg), s"$msg, localCellLimit $limit: ${messages(e)}")
      assert(sc.getPersistentRDDs.size == cachedBefore)
    }
  }

  test("distributed fit set-up: one probe and two passes, no SQL query job") {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val gen = RandomProblem.generate(spark, 2000, 8, family = "gaussian", seed = 71,
      slices = 4)
    val sc = spark.sparkContext
    val group = "graft-setup-budget"
    // (description, stage names) of every job of the fit, in start order
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((e.jobId, e.properties.getProperty("spark.job.description"),
            e.stageInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "set-up budget")
    val model =
      try Slope.fit(gen.df, "features", "label",
        SlopeParams(nSigma = 10, localCellLimit = 0))
      finally {
        sc.clearJobGroup()
        ListenerBusShim.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(model.nSteps > 1)
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq.sortBy(_._1)
    val labels = seen.map(_._2)
    // every job is the probe or a backend pass: no SQL query job
    for ((_, desc, stages) <- seen) {
      assert(desc != null && desc.startsWith("slope "), s"job not launched by a fit: $stages")
      val site = if (desc == "slope probe") " at Slope.scala:" else " at Backend.scala:"
      assert(stages.forall(_.contains(site)), s"$desc: $stages")
    }
    assert(labels.count(_ == "slope probe") == 1, labels.mkString(", "))
    // the probe, the moments pass and the null evaluation; then the path
    assert(labels.take(3) == Seq("slope probe", "slope MomentsPass", "slope EvalPass"),
      labels.mkString(", "))
    assert(labels.indexWhere(_ == "slope GramPass") == 3, labels.mkString(", "))
  }

  test("gaussian path: no Gram pass over a subset of an earlier Gram's set") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(73)
    val n = 400; val p = 20
    val beta = Array.tabulate(p)(j => if (j % 4 == 0) 2.0 / (1 + j) else 0.0)
    val xs = Array.fill(n)(Vectors.dense(Array.fill(p)(rng.nextGaussian())): Vector)
    val ys = xs.map(x => Array(x.toArray.zip(beta).map { case (a, b) => a * b }.sum +
      0.5 * rng.nextGaussian()))
    val yMean = ys.map(_(0)).sum / n
    val backend = new CountingBackend(
      new LocalBackend(xs, ys.map(y => Array(y(0) - yMean)), p, 1, true))
    val model = Slope.fitBackend(backend, SlopeParams(nSigma = 20), Array(yMean),
      Array.empty, 1, Array.empty)
    val grams = backend.calls.filter(_.kind == "gramXty").map(_.active)
    assert(model.activeSets.map(_.length).max > grams.head.length, "active set never grew")
    for ((a, i) <- grams.zipWithIndex; (u, k) <- grams.take(i).zipWithIndex)
      assert(!a.forall(u.contains), s"Gram $i (${a.mkString(",")}) lies inside Gram $k")
  }

  test("a Gram slice equals the Gram pass over the subset, bit for bit") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(79)
    val p = 7
    def rows(n: Int) = Array.fill(n)((
      Vectors.dense(Array.fill(p)(rng.nextGaussian() * 3 + 1)): Vector,
      Array(rng.nextGaussian())))
    val small = rows(3000)
    // 20k rows: the local backend splits Gram passes into chunks
    val large = rows(20000)
    val dist = new DistributedBackend(spark.sparkContext.parallelize(small.toSeq, 4),
      p, 1, true, knownN = small.length)
    val local = new LocalBackend(large.map(_._1), large.map(_._2), p, 1, true)
    try {
      for ((name, backend) <- Seq("distributed" -> dist, "local chunked" -> local)) {
        val rs = if (name == "distributed") small else large
        val c = 0.0 +: Array.tabulate(p)(j => rs.map(_._1(j)).sum / rs.length)
        val sc = math.sqrt(rs.length.toDouble) +: Array.tabulate(p)(j => 1.0 + j * 0.37)
        backend.setStandardization(c, sc)
        val u = Array(0, 1, 2, 4, 5, 7)
        val (gu, xu) = backend.gramXty(u)
        for (a <- Seq(Array(0, 2, 5), Array(1, 4, 7), Array(0), Array(7), u)) {
          val (ga, xa) = backend.gramXty(a)
          val (gs, xs) = BackendKernels.sliceGram(u, gu, xu, a, 1).get
          assert(gs.sameElements(ga) && xs.sameElements(xa), s"$name ${a.mkString(",")}")
        }
        assert(BackendKernels.sliceGram(u, gu, xu, Array(0, 3), 1).isEmpty)
      }
    } finally dist.unpersist()
  }

  test("a failed parallel CV stops its pool and releases its cached folds") {
    import spark.implicits._
    val rng = new scala.util.Random(61)
    // one rare-class row: the fold that holds it out trains on one class
    val df = (0 until 120).map { i =>
      (Array.fill(3)(rng.nextGaussian()), if (i == 0) "rare" else "common")
    }.toDF("features", "label")
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    val e = intercept[Exception] {
      SlopeCv.trainSlope(df, "features", "label",
        SlopeParams(family = "binomial", nSigma = 5), number = 4,
        measures = Seq("deviance"), parallelism = 3)
    }
    assert(e.getMessage.contains("exactly 2 classes"), e.getMessage)
    def cvThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("slope-cv-"))
    cvThreads.foreach(_.join(30000))
    assert(cvThreads.forall(!_.isAlive), cvThreads.map(_.getName).mkString(", "))
    assert(sc.getPersistentRDDs.size == cachedBefore)
  }

  test("a failed parallel CV of distributed cells cancels its running jobs") {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val rng = new scala.util.Random(71)
    // one rare-class row: the cell that holds it out fails at its probe
    // while the other cells run their distributed fits
    val df = (0 until 3000).map { i =>
      (Array.fill(4)(rng.nextGaussian()), if (i == 0) "rare" else "common")
    }.toDF("features", "label")
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    val tagged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .foreach(_.split(",").filter(_.startsWith("slope-cv-")).foreach(tagged.add))
    }
    sc.addSparkListener(listener)
    val e =
      try intercept[Exception] {
        SlopeCv.trainSlope(df, "features", "label",
          SlopeParams(family = "binomial", nSigma = 8, localCellLimit = 0), number = 4,
          measures = Seq("deviance"), parallelism = 4)
      } finally {
        ListenerBusShim.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(e.getMessage.contains("exactly 2 classes"), e.getMessage)
    import scala.jdk.CollectionConverters._
    val tags = tagged.asScala.toSet
    assert(tags.size == 1, s"one tag for the CV's jobs: $tags")
    val running = sc.statusTracker.getActiveJobIds.toSet
      .intersect(sc.statusTracker.getJobIdsForTag(tags.head).toSet)
    assert(running.isEmpty, s"jobs of the failed CV still running: $running")
    def cvThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("slope-cv-"))
    cvThreads.foreach(_.join(30000))
    assert(cvThreads.forall(!_.isAlive), cvThreads.map(_.getName).mkString(", "))
    assert(sc.getPersistentRDDs.size == cachedBefore)
  }

  test("distributed fit: one job per backend pass, no repeated evaluation") {
    import org.apache.spark.graft.ListenerBusShim
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rng = new scala.util.Random(29)
    val n = 600; val p = 6
    val rows = Array.fill(n) {
      val x = Array.fill(p)(rng.nextGaussian())
      val prob = 1.0 / (1.0 + math.exp(-(1.2 * x(0) - 0.8 * x(1) + 0.5 * x(2))))
      (Vectors.dense(x): Vector, Array(if (rng.nextDouble() < prob) 1.0 else -1.0))
    }
    val sc = spark.sparkContext
    val dist = new DistributedBackend(sc.parallelize(rows.toSeq, 4), p, 1, true,
      knownN = n)
    val backend = new CountingBackend(dist)
    val group = "graft-pass-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    // pinned path: 6 steps, every FISTA solve capped at 6 passes
    val params = SlopeParams(family = "binomial", nSigma = 6, maxPasses = 6,
      tolDevChange = 0.0, tolDevRatio = 2.0)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pass budget")
    val model =
      try Slope.fitBackend(backend, params, Array.empty, Array("a", "b"), 2,
        Array(rows.count(_._2(0) < 0).toLong, rows.count(_._2(0) > 0).toLong))
      finally {
        sc.clearJobGroup()
        ListenerBusShim.drain(sc)
        sc.removeSparkListener(listener)
        dist.unpersist()
      }
    assert(model.nSteps == 6)
    assert(model.passes.max == 6, model.passes.mkString(","))
    val calls = backend.calls
    assert(jobs.get == calls.length,
      s"${jobs.get} Spark jobs for ${calls.length} backend passes: " +
        calls.map(_.kind).mkString(", "))

    def same(a: Array[Double], b: Array[Double]): Boolean =
      a.indices.forall(i => a(i) == b(i))
    var lastFull: Array[Double] = null
    var prev: CountingBackend.Call = null
    for ((c, i) <- calls.zipWithIndex if c.points.nonEmpty) {
      // nothing re-evaluates the point the last full-set pass evaluated
      if (lastFull != null)
        assert(!c.points.exists(same(_, lastFull)),
          s"call $i (${c.kind}) repeats the last full-set evaluation")
      // nor the point the pass right before it evaluated in full
      if (prev != null && prev.full && prev.active.sameElements(c.active))
        assert(!c.points.exists(same(_, prev.points.last)),
          s"call $i (${c.kind}) repeats call ${i - 1} (${prev.kind})")
      if (c.kind == "evalActive" && c.active.length == backend.pInt)
        lastFull = c.points.head
      prev = c
    }
    assert(calls.count(_.kind == "evalPairActive") >= model.passes.sum)
  }

  test("distributed backend binomial == local binomial") {
    val gen = RandomProblem.generate(spark, 400, 3, family = "binomial", seed = 13)
    val p = SlopeParams(family = "binomial", nSigma = 6)
    val local = Slope.fit(gen.df, "features", "label", p)
    val dist = Slope.fit(gen.df, "features", "label", p.copy(localCellLimit = 0))
    for (s <- 0 until math.min(local.nSteps, dist.nSteps)) {
      val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-6, s"step $s max diff ${d.max}")
    }
  }

  test("VectorUDT features column (ml Vectors) fits like array<double>") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = (1 to 200).map { _ =>
      val x = Array.fill(4)(rng.nextGaussian())
      (Vectors.dense(x), x(0) * 2 - x(2) + rng.nextGaussian() * 0.1)
    }
    val dfVec = rows.toDF("features", "label")
    val dfArr = rows.map { case (v, y) => (v.toArray, y) }.toDF("features", "label")
    val mv = Slope.fit(dfVec, "features", "label", SlopeParams(nSigma = 8))
    val ma = Slope.fit(dfArr, "features", "label", SlopeParams(nSigma = 8))
    assert(mv.nSteps == ma.nSteps)
    for (s <- 0 until mv.nSteps)
      assert(mv.coefs(s).zip(ma.coefs(s)).forall { case (a, b) => a == b })
  }

  test("distributed sparse fit == distributed dense fit") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      val x = Array.fill(5)(if (rng.nextDouble() < 0.4) rng.nextGaussian() else 0.0)
      (x, x(0) - 2 * x(3) + rng.nextGaussian() * 0.1)
    }
    val dense = rows.map { case (x, y) => (Vectors.dense(x), y) }
      .toDF("features", "label")
    val sparse = rows.map { case (x, y) => (Vectors.dense(x).toSparse
      .asInstanceOf[org.apache.spark.ml.linalg.Vector], y) }
      .toDF("features", "label")
    val p = SlopeParams(nSigma = 8, center = Some(false), localCellLimit = 0)
    val md = Slope.fit(dense, "features", "label", p)
    val ms = Slope.fit(sparse, "features", "label", p)
    assert(md.nSteps == ms.nSteps)
    for (s <- 0 until md.nSteps) {
      val d = md.coefs(s).zip(ms.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-8, s"step $s max diff ${d.max}")
    }
  }

  test("distributed backend poisson and multinomial == local") {
    for (family <- Seq("poisson", "multinomial")) {
      val (df, p) =
        if (family == "poisson")
          (RandomProblem.generate(spark, 300, 3, family = "poisson", seed = 19).df,
            SlopeParams(family = "poisson", nSigma = 5))
        else {
          // multinomial labels from a 3-way split of a random score
          val g = RandomProblem.generate(spark, 300, 3, family = "gaussian", seed = 23)
          import org.apache.spark.sql.functions._
          (g.df.withColumn("label",
            when(col("label") > 1.0, "hi").when(col("label") < -1.0, "lo")
              .otherwise("mid")),
            SlopeParams(family = "multinomial", nSigma = 5))
        }
      val local = Slope.fit(df, "features", "label", p)
      val dist = Slope.fit(df, "features", "label", p.copy(localCellLimit = 0))
      for (s <- 0 until math.min(local.nSteps, dist.nSteps)) {
        val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
        assert(d.max < 1e-6, s"$family step $s max diff ${d.max}")
      }
    }
  }

  test("distributed backend rejects ragged feature rows with a clear error") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), 1.0), (Array(1.0, 2.0), 2.0),
      (Array(0.5, 1.5, 2.5), 3.0)).toDF("features", "label")
    val e = intercept[Exception] {
      Slope.fit(df, "features", "label",
        SlopeParams(family = "gaussian", localCellLimit = 0))
    }
    // executor-side require surfaces wrapped in a SparkException chain
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("length 2 != expected 3"), msgs)
  }

  test("binomial: unregularized fit matches MLlib logistic regression") {
    // External-library anchor for the binomial family (complements the
    // in-test IRLS oracle): MLlib models P(y=1) with +1 = the second
    // sorted class, same convention as the {-1,+1} coding here.
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(19, 500, p, qSignal = 0.4,
      amplitude = 1.0, family = "binomial")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial",
      sigma = Some(Array(1e-7)), screening = false,
      tolRelGap = 1e-9, tolInfeas = 1e-7))
    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, if (y == "b") 1.0 else 0.0) }
      .toDF("features", "label")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setRegParam(0.0).setFitIntercept(true)
      .setStandardization(false).setMaxIter(500).setTol(1e-10)
    val anchor = lr.fit(df)
    for (j <- 0 until p)
      assert(math.abs(fit.coefs(0)(j) - anchor.coefficients(j)) < 1e-3,
        s"feature $j: graft ${fit.coefs(0)(j)} vs mllib ${anchor.coefficients(j)}")
    assert(math.abs(fit.intercepts(0)(0) - anchor.intercept) < 1e-3,
      s"intercept: graft ${fit.intercepts(0)(0)} vs mllib ${anchor.intercept}")
  }

  test("poisson: unregularized fit matches MLlib GLM poisson") {
    // External-library anchor for the poisson family (complements the
    // in-test Newton-IRLS oracle).
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(23, 400, p, family = "poisson")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "poisson",
      sigma = Some(Array(1e-7)), screening = false,
      tolRelGap = 1e-9, tolInfeas = 1e-7))
    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, y.asInstanceOf[Double]) }
      .toDF("features", "label")
    val glm = new org.apache.spark.ml.regression.GeneralizedLinearRegression()
      .setFamily("poisson").setLink("log").setRegParam(0.0)
      .setFitIntercept(true).setMaxIter(200).setTol(1e-10)
    val anchor = glm.fit(df)
    for (j <- 0 until p)
      assert(math.abs(fit.coefs(0)(j) - anchor.coefficients(j)) < 1e-3,
        s"feature $j: graft ${fit.coefs(0)(j)} vs mllib ${anchor.coefficients(j)}")
    assert(math.abs(fit.intercepts(0)(0) - anchor.intercept) < 1e-3,
      s"intercept: graft ${fit.intercepts(0)(0)} vs mllib ${anchor.intercept}")
  }

  test("multinomial: unregularized fit matches MLlib softmax regression") {
    // External anchor for the multinomial family (the reference checks
    // against glmnet the same way: tests/testthat/test-multinomial.R:23-33
    // fits lambda=0 and compares after subtracting the last class's
    // coefficients). Softmax parameters are identified only up to a
    // per-feature constant across classes, so both models are brought to
    // the same gauge by the reference-class shift beta_k - beta_K before
    // comparing; mild amplitude keeps the classes overlapping (a
    // separable draw would make the unregularized optimum diverge).
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(17, 500, p, qSignal = 0.4,
      amplitude = 1.0, family = "multinomial")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "multinomial",
      sigma = Some(Array(1e-6)), screening = false))
    assert(fit.m == 2)

    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, y.toString.drop(1).toDouble) }
      .toDF("features", "label")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setFamily("multinomial").setRegParam(0.0).setFitIntercept(true)
      .setStandardization(false).setMaxIter(500).setTol(1e-10)
    val anchor = lr.fit(df)
    val cm = anchor.coefficientMatrix // K x p
    val iv = anchor.interceptVector
    val K = fit.m + 1
    for (k <- 0 until fit.m) {
      for (j <- 0 until p) {
        val want = cm(k, j) - cm(K - 1, j)
        val got = fit.coefs(0)(k * p + j)
        assert(math.abs(got - want) < 1e-3,
          s"class $k feature $j: graft $got vs mllib $want")
      }
      val wantB = iv(k) - iv(K - 1)
      assert(math.abs(fit.intercepts(0)(k) - wantB) < 1e-3,
        s"class $k intercept: graft ${fit.intercepts(0)(k)} vs mllib $wantB")
    }
  }
}

/** Runs every pass through `inner` and records each public pass call:
  * its kind, active set and evaluated points, scattered to full
  * pInt x m vectors, and whether the last point got a full (primal,
  * dual, gradient) evaluation. The pass bodies are the shared ones
  * (`super`); only the launcher is `inner`'s. */
class CountingBackend(inner: SlopeBackend)
    extends SlopeBackend(inner.pRaw, inner.m, inner.fitIntercept) {
  import CountingBackend.Call
  val calls = scala.collection.mutable.ArrayBuffer[Call]()
  def n: Long = inner.n
  private[slope] def runPass(pass: RowPass): Array[Double] = inner.runPass(pass)

  private def record(kind: String, active: Array[Int] = Array.empty,
                     points: Seq[Array[Double]] = Nil, full: Boolean = false): Unit =
    calls += Call(kind, active, full, points.map { b =>
      val full = new Array[Double](pInt * m)
      for (k <- 0 until m; i <- active.indices)
        full(k * pInt + active(i)) = b(k * active.length + i)
      full
    })

  override def moments(rowV: Array[Double] => Array[Double]): Moments = {
    record("moments"); super.moments(rowV)
  }
  override def l1Norms(center: Array[Double]): Array[Double] = {
    record("l1Norms"); super.l1Norms(center)
  }
  override def evalActive(active: Array[Int], betaActive: Array[Double], family: Family,
                          needDual: Boolean, needGrad: Boolean)
    : (Double, Double, Array[Double]) = {
    record("evalActive", active, Seq(betaActive), needDual && needGrad)
    super.evalActive(active, betaActive, family, needDual, needGrad)
  }
  override def evalPairActive(active: Array[Int], candActive: Array[Double],
                              nextActive: Array[Double], family: Family)
    : (Double, Double, Double, Array[Double]) = {
    record("evalPairActive", active, Seq(candActive, nextActive), full = true)
    super.evalPairActive(active, candActive, nextActive, family)
  }
  override def gramXty(active: Array[Int]): (Array[Double], Array[Double]) = {
    record("gramXty", active); super.gramXty(active)
  }
}

object CountingBackend {
  final case class Call(kind: String, active: Array[Int], full: Boolean,
                        points: Seq[Array[Double]])
}

/** A pass whose tasks fail with an exception of their own. */
private[slope] final class FailingPass extends RowPass {
  def length: Int = 1
  def apply(ctx: org.apache.spark.TaskContext,
            rows: Iterator[(org.apache.spark.ml.linalg.Vector, Array[Double])]): Array[Double] =
    throw new IllegalStateException(FailingPass.message)
}

object FailingPass {
  val message = "a pass that fails on purpose"
}
