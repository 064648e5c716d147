package perfbench

import graft.slope.{RandomProblem, Slope, SlopeCv, SlopeModel, SlopeParams, SlopeScore, SlopeServe}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared pieces of the two SLOPE workloads. */
object SlopeBench {
  /** Pinned path length: early stopping off (the `_dist` convention). */
  def pinned(family: String, steps: Int): SlopeParams =
    SlopeParams(family = family, nSigma = steps, tolDevChange = 0.0, tolDevRatio = 2.0)

  /** The row id `spark.range(0, n, 1, slices)` gave a generated row:
    * partition `i` holds ids from `i * n / slices`, in order. */
  def rowId(n: Long, slices: Int): Column = {
    val mid = monotonically_increasing_id()
    floor(shiftright(mid, 33) * lit(n) / lit(slices.toLong)).cast("long") +
      mid.bitwiseAND(lit((1L << 33) - 1))
  }

  /** Order-independent digest of a frame's rows. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)).cast("long"),
      expr("sum(cast(xxhash64(struct(*)) as decimal(38,0)))")).head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  def maxAbsDiff(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => math.abs(a(i) - b(i))).foldLeft(0.0)(math.max)

  /** Distributed and driver-local fits of one problem must agree to 1e-4
    * at every step (the engine's dist-vs-local certificate tolerance). */
  def certificate(name: String, dist: SlopeModel, local: SlopeModel): Seq[String] =
    if (dist.nSteps != local.nSteps)
      Seq(s"$name certificate: ${dist.nSteps} distributed vs ${local.nSteps} local steps")
    else {
      val d = (0 until dist.nSteps).map(s => math.max(
        maxAbsDiff(dist.coefs(s), local.coefs(s)),
        maxAbsDiff(dist.intercepts(s), local.intercepts(s)))).max
      if (d <= 1e-4) Nil else Seq(f"$name certificate: distributed vs local differ by $d%.3g")
    }

  def attachFit(s: Span, m: SlopeModel): Unit = {
    s.attrs("family") = m.family
    s.attrs("passes") = m.passes.sum
    s.attrs("steps") = m.nSteps
    s.attrs("active_max") = m.activeSets.map(_.length).max
  }
}

/** A cached design with its planted nonzero coefficients. */
final case class Problem(df: DataFrame, nonzero: Array[Int])

/** `slope_fit_dist`: a gaussian and a binomial path on the distributed
  * `treeAggregate` backend (`localCellLimit = 0`), over one seeded dense
  * design. Backend job count and per-job latency dominate the binomial
  * path; the gaussian path's ADMM solve runs on the driver. */
final class SlopeFitDist(ctx: Ctx) extends Workload {
  import SlopeBench._
  import ctx._

  private val n = 20000
  private val p = 20
  private val gaussSteps = 10
  private val binomSteps = 5
  private val gaussP = pinned("gaussian", gaussSteps)
  // every step reaches the pass cap, so each seed does the same solver work
  private val binomP = pinned("binomial", binomSteps).copy(maxPasses = 6)

  private var gauss: Problem = _
  private var binom: Problem = _

  private def problem(family: String, amplitude: Double): Problem = {
    val g = RandomProblem.generate(spark, n, p, amplitude = amplitude,
      family = family, seed = seed, slices = nproc)
    val df = g.df.cache()
    df.count()
    Problem(df, g.nonzero)
  }

  def prepare(): Unit = {
    gauss = problem("gaussian", 3.0)
    // binomial signal kept weak: at amplitude 3 the problem is near-separable
    binom = problem("binomial", 0.3)
  }

  def release(): Unit = { gauss.df.unpersist(); binom.df.unpersist() }

  def inputDigest(): String = s"${digest(gauss.df)}/${digest(binom.df)}"

  private def fitDist(pr: Problem, params: SlopeParams): (SlopeModel, Double) =
    timed("slope.fit") { s =>
      val m = Slope.fit(pr.df, "features", "label", params.copy(localCellLimit = 0))
      attachFit(s, m)
      m
    }

  def certify(): Seq[String] = {
    val (gd, _) = fitDist(gauss, gaussP)
    val (bd, _) = fitDist(binom, binomP)
    val gl = Slope.fit(gauss.df, "features", "label", gaussP)
    val bl = Slope.fit(binom.df, "features", "label", binomP)
    certificate("gaussian", gd, gl) ++ certificate("binomial", bd, bl)
  }

  private def check(name: String, m: SlopeModel, steps: Int, nonzero: Array[Int]): Seq[String] = {
    val coefs = m.coefs.last
    if (fault) java.util.Arrays.fill(coefs, 0.0)
    val missing = nonzero.filter(j => coefs(j) == 0.0)
    (if (m.nSteps != steps) Seq(s"$name path has ${m.nSteps} steps, pinned $steps") else Nil) ++
      (if (missing.nonEmpty) Seq(s"$name final support misses planted ${missing.mkString(",")}") else Nil) ++
      (if (m.coefs.exists(_.exists(c => !java.lang.Double.isFinite(c)))) Seq(s"$name non-finite coefficient") else Nil)
  }

  /** Rounds of (gaussian path, binomial path) per iteration: single fits
    * are short and latency-bound, so one iteration sums several. */
  private val rounds = 2

  def iterate(k: Int): Iter = {
    val fits = (1 to rounds).map { _ =>
      val (gm, gs) = fitDist(gauss, gaussP)
      val (bm, bs) = fitDist(binom, binomP)
      (gs, bs, check("gaussian", gm, gaussSteps, gauss.nonzero) ++
        check("binomial", bm, binomSteps, binom.nonzero))
    }
    Iter(Seq("fit_gaussian_s" -> fits.map(_._1).sum / rounds,
        "fit_binomial_s" -> fits.map(_._2).sum / rounds),
      2 * rounds, fits.flatMap(_._3))
  }
}

/** `slope_cv_serve`: `SlopeCv.trainSlope` (2 q x 3 folds, driver-local
  * cell fits) on a training frame below the local gate, then batch
  * predictions and scoring of the chosen path over a cached scoring
  * frame. Training and scoring rows come from ONE generated problem,
  * split by row id, so they share the planted coefficients. */
final class SlopeCvServe(ctx: Ctx) extends Workload {
  import SlopeBench._
  import ctx._

  private val nTrain = 10000
  private val nScore = 100000
  private val p = 20
  private val steps = 10
  private val qs = Seq(0.1, 0.2)
  private val folds = 3
  private val measures = Seq("mse", "mae")
  private val params = pinned("gaussian", steps)

  private var train: DataFrame = _
  private var score: DataFrame = _

  def prepare(): Unit = {
    val total = nTrain.toLong + nScore
    val g = RandomProblem.generate(spark, total, p, family = "gaussian",
      seed = seed, slices = nproc)
    val all = g.df.withColumn("id", rowId(total, nproc))
    train = all.filter(col("id") < nTrain).select("features", "label").cache()
    score = all.filter(col("id") >= nTrain).cache()
    train.count()
    score.count()
  }

  def release(): Unit = { train.unpersist(); score.unpersist() }

  def inputDigest(): String = s"${digest(train)}/${digest(score)}"

  def certify(): Seq[String] = round()._2

  /** Rounds of (CV, serve) per iteration: one round is short enough that
    * run-to-run jitter would dominate a single sample. */
  private val rounds = 2

  def iterate(k: Int): Iter = {
    val rs = (1 to rounds).map(_ => round())
    val ops = rs.head._1.map { case (name, _) =>
      name -> rs.map(_._1.toMap.apply(name)).sum / rounds }
    Iter(ops, 3 * rounds, rs.flatMap(_._2), Map("score_rows" -> nScore.toDouble))
  }

  /** One CV + serving round: its operation times and failed checks. */
  private def round(): (Seq[(String, Double)], Seq[String]) = {
    val (cv, cvS) = timed("cv.trainSlope") { s =>
      val r = SlopeCv.trainSlope(train, "features", "label", params, qs = qs,
        number = folds, measures = measures, seed = seed, parallelism = nproc)
      attachFit(s, r.model)
      r
    }
    val model = cv.model
    val best = cv.optima.find(_.measure == "mse").get.sigma
    val (_, coefS) = timed("serve.coefAt") { _ => SlopeServe.coefAt(model, best) }
    val served = if (fault) score.filter(col("id") % 2 === 0) else score
    val (_, predS) = timed("serve.predictions") { _ =>
      SlopeServe.predictions(model, served, "features")
        .write.format("noop").mode("overwrite").save()
    }
    val (scores, scoreS) = timed("serve.scoreMany") { _ =>
      SlopeScore.scoreMany(model, served, "features", "label", measures)
    }
    (Seq("cv_s" -> cvS, "predict_s" -> predS, "score_s" -> scoreS, "coef_at_s" -> coefS),
      checks(cv, model, best, served, scores))
  }

  private def checks(cv: graft.slope.SlopeCvResult, model: SlopeModel, best: Double,
                     served: DataFrame, scores: Map[String, Array[Double]]): Seq[String] = {
    val want = qs.size * measures.size * model.nSteps
    val cells = cv.summary.filter(c => java.lang.Double.isFinite(c.mean) &&
      java.lang.Double.isFinite(c.se))
    val cellFail =
      if (model.nSteps != steps || cv.summary.size != want || cells.size != want)
        Seq(s"cv summary has ${cells.size} finite of ${cv.summary.size} cells, want $want")
      else Nil
    val rows = SlopeServe.predictions(model, served, "features").count()
    val rowFail = if (rows != nScore) Seq(s"predictions returned $rows rows, scoring frame has $nScore") else Nil
    // spot-check served linear predictors against the model's own row math
    val sample = SlopeServe.predictions(model, served, "features")
      .select("features", "linpred").limit(20).collect()
    val valueFail = sample.flatMap { r =>
      val x = Vectors.dense(r.getSeq[Double](0).toArray)
      val lp = r.getSeq[scala.collection.Seq[Double]](1)
      (0 until model.nSteps).collect {
        case s if math.abs(lp(s).head - model.linearPredictor(x, s)(0)) >
            1e-9 * math.max(1.0, math.abs(lp(s).head)) => s"served linpred differs at step $s"
      }
    }.distinct.toSeq
    val bestStep = model.sigma.indices.minBy(i => math.abs(model.sigma(i) - best))
    val mse = scores("mse")(bestStep)
    val mseFail = if (mse > 0.8 && mse < 1.25) Nil
      else Seq(f"best-sigma test mse $mse%.4f, unit noise variance expected")
    cellFail ++ rowFail ++ valueFail ++ mseFail
  }
}
