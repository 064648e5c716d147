package graft.slope

import graft.slope.kernels.Stats
import org.apache.spark.graft.JobTags
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One (q, sigma, measure) cell of the CV summary. */
case class CvCell(q: Double, sigma: Double, measure: String,
                  mean: Double, se: Double, lo: Double, hi: Double)

/** Repeated k-fold cross-validation result (reference `TrainedOwl`,
  * `R/trainOwl.R:191-200`). */
case class SlopeCvResult(summary: Seq[CvCell], optima: Seq[CvCell],
                         model: SlopeModel) {
  def summaryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    summary.toDF()
  }
  def optimaDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    optima.toDF()
  }
}

/** `trainOwl`-equivalent tuner (reference `R/trainOwl.R:44-200`).
  *
  * Architectural difference vs the reference: the reference ships the
  * full data matrix to every PSOCK worker; here the data stays put in
  * the cluster — fold membership is a seeded column, every cell fit is
  * itself distributed, and cells run concurrently from a driver thread
  * pool (the `CrossValidator.parallelism` pattern). Folds are assigned
  * by seeded uniform hashing rather than an exact permutation
  * (statistically equivalent, and the only shuffle-free way to fold
  * 100 TB).
  */
object SlopeCv {

  /** Names the CV pool's threads `slope-cv-N` (daemon: a cell that
    * outlives a failed CV never holds the JVM open). */
  private object CvThreads extends java.util.concurrent.ThreadFactory {
    private val count = new java.util.concurrent.atomic.AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"slope-cv-${count.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  // numbers each parallel CV's job tag
  private val CvTags = new java.util.concurrent.atomic.AtomicInteger

  def trainSlope(df: DataFrame, featuresCol: String, labelCol: String,
                 params: SlopeParams = SlopeParams(),
                 qs: Seq[Double] = Seq(0.2),
                 number: Int = 10,
                 repeats: Int = 1,
                 measures: Seq[String] = Seq("mse"),
                 seed: Long = 42L,
                 parallelism: Int = 1): SlopeCvResult = {
    require(number > 1, "number of folds must be > 1")
    require(repeats >= 1, "repeats must be >= 1")

    val family = params.family

    val valid = SlopeScore.ValidMeasures(family)
    val ms = measures.filter(valid.contains)
    require(ms.nonEmpty, s"measure needs to be one of ${valid.mkString(", ")}")

    // Deterministic fold columns, one per repeat: fold = content hash mod
    // number. rand(seed) is only stable for a fixed partition layout —
    // a cache eviction or upstream repartition between the fit job and
    // the scoring job could silently swap rows across folds (train/test
    // leakage). A row-content hash is layout-independent.
    val featHash = df.schema(featuresCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(featuresCol)
      case _ => org.apache.spark.ml.functions.vector_to_array(col(featuresCol))
    }
    val foldCols = (0 until repeats).map(r =>
      pmod(xxhash64(featHash, col(labelCol), lit(seed + r)), lit(number))
        .cast("int").as(s"__fold_$r"))
    val withFolds = df.select(
      (col(featuresCol) +: col(labelCol) +: foldCols): _*).cache()

    try {
      val grid = for {
        q <- qs; rep <- 0 until repeats; fold <- 0 until number
      } yield (q, rep, fold)

      // Collect-once cell path: when the training data is driver-sized
      // (the local-dispatch rule of Slope.fit, over the fit's own input
      // probe — one job, which also caches the folded rows), pull the
      // folded rows ONE time, content-sorted with their fold columns
      // (Slope.collectLocal), and slice per cell instead of re-collecting
      // and re-sorting the train split number*repeats*|qs| times (the r11
      // scale gate measured that as a 12x allocation storm at sf1). A
      // filtered subset of a content-sorted sequence is itself
      // content-sorted with the identical value sequence (ties are
      // exact-duplicate rows), so each cell selects SHARED vector
      // references and its fit is bit-identical to a per-cell Slope.fit.
      // Above the gate every cell fit stays fully distributed.
      val (_, shape) = Slope.probe(Slope.selectFrame(withFolds, featuresCol, labelCol,
        family), featuresCol, labelCol, family)
      val localData: (Array[org.apache.spark.ml.linalg.Vector],
          Array[Any], Array[Array[Int]]) =
        if (Slope.runsLocal(shape, params)) {
          val (xs, ys, rows) = Slope.collectLocal(withFolds, featuresCol, labelCol, params,
            (0 until repeats).map(r => col(s"__fold_$r")))
          (xs, ys, rows.map(r => Array.tabulate(repeats)(i => r.getInt(2 + i))))
        } else null

      // initial full fit fixes the sigma path (R/trainOwl.R:69,84) —
      // over the SHARED collect when the data is driver-sized (r17
      // optimization round): the localData arrays carry exactly fit's
      // casts and content order (see the slice argument above), so
      // fitLocal here is bit-identical to `Slope.fit(df, ...)`, minus
      // the second full collect + O(n log n) sort that fit would pay.
      // Above the gate the distributed fit is unchanged.
      val fullFit =
        if (localData != null)
          Slope.fitLocal(localData._1, localData._2,
            params.copy(q = Some(qs.head)))
        else Slope.fit(df, featuresCol, labelCol,
          params.copy(q = Some(qs.head)))
      val sigma = fullFit.sigma

      // A local cell fits AND scores from the shared collect: its
      // held-out rows go through the same scoring kernel scoreMany runs,
      // on the driver, so the cell launches no Spark job.
      def runCell(cell: (Double, Int, Int)): Seq[((Double, String), Array[Double])] = {
        val (q, rep, fold) = cell
        val cellParams = params.copy(q = Some(q), sigma = Some(sigma))
        val scores =
          if (localData != null) {
            val (xsAll, ysAll, foldsAll) = localData
            val (train, test) = Array.range(0, xsAll.length)
              .partition(i => foldsAll(i)(rep) != fold)
            val m = Slope.fitLocal(train.map(xsAll), train.map(ysAll), cellParams)
            SlopeScore.scoreRows(m, test.map(xsAll), test.map(ysAll), ms)
          } else {
            val foldCol = col(s"__fold_$rep")
            val m = Slope.fit(withFolds.filter(foldCol =!= fold), featuresCol,
              labelCol, cellParams)
            SlopeScore.scoreMany(m, withFolds.filter(foldCol === fold),
              featuresCol, labelCol, ms)
          }
        ms.map(measure => ((q, measure), scores(measure)))
      }

      val results: Seq[((Double, Int, Int), Seq[((Double, String), Array[Double])])] =
        if (parallelism <= 1) grid.map(c => c -> runCell(c))
        else {
          // concurrent Spark jobs from a driver pool (thread-safe in Spark),
          // every one tagged with this CV's tag. The first failed cell
          // fails the sequence: shutdownNow keeps the queued cells from
          // starting and interrupts the running ones, which stop at their
          // next wait; once no cell can start a job, the CV's running jobs
          // are cancelled.
          val sc = df.sparkSession.sparkContext
          val tag = s"slope-cv-${CvTags.incrementAndGet()}"
          val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism,
            CvThreads)
          try {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutor(pool)
            val futures = grid.map(c => scala.concurrent.Future {
              sc.addJobTag(tag)
              c -> runCell(c)
            })
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(futures),
              scala.concurrent.duration.Duration.Inf)
          } catch {
            case e: Throwable =>
              pool.shutdownNow()
              pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
              JobTags.cancel(sc, tag, "a cell of this cross-validation failed")
              throw e
          } finally pool.shutdownNow()
        }

      // aggregate (q, measure, step) across number*repeats cells
      val cells = grid.size / qs.size // = number*repeats per (q, measure)
      val byKey = results.flatMap(_._2).groupBy(_._1)
      val summary = for {
        q <- qs
        measure <- ms
        step <- sigma.indices
      } yield {
        val vals = byKey((q, measure)).map(_._2)
          .map(a => if (step < a.length) a(step) else Double.NaN)
          .filterNot(_.isNaN)
        val mean = vals.sum / vals.length
        val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum /
          math.max(1, vals.length - 1))
        val se = sd / math.sqrt(cells.toDouble)
        val ci = Stats.qt(0.975, cells - 1.0) * se
        CvCell(q, sigma(step), measure, mean, se, mean - ci, mean + ci)
      }

      // higher-is-better measures maximize; the reference applies
      // which.min to every measure (trainOwl.R:165), which would pick the
      // WORST model when tuning on AUC — deliberate deviation
      val optima = ms.map { m =>
        val cells = summary.filter(_.measure == m)
        if (m == "auc") cells.maxBy(_.mean) else cells.minBy(_.mean)
      }
      SlopeCvResult(summary, optima, fullFit)
    } finally withFolds.unpersist()
  }
}
