package graft.slope

import org.apache.spark.TaskContext
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Model scoring over a DataFrame (reference `R/score.R`): per-path-step
  * mse / mae / deviance / misclass / AUC with the reference's
  * family-measure validity matrix (`R/trainOwl.R:74-79`).
  *
  * Plan shape: every measure except AUC comes out of ONE per-row
  * kernel ([[StepErrors]]). It computes a row's linear predictor at
  * every path step over the row's nonzeros, applies the family's
  * per-measure formula, and adds the results into a (measure x step)
  * buffer plus a row count. A DataFrame is scored by one Spark job of
  * that kernel over Catalyst's internal rows ([[ScorePass]], described
  * `slope score`; no explode, no shuffle, nMeasures x nSteps + 1 doubles
  * per task result), launched through [[OrderedFold]], whose task
  * results fold on the driver in task order, so a repeated score gives
  * the same bits at any width; driver-resident rows (a local CV cell's
  * held-out fold) run the same kernel in a loop, with no Spark job.
  * AUC aggregates per distinct probability first (midrank identity),
  * never a global row rank.
  */
object SlopeScore {

  val ValidMeasures: Map[String, Seq[String]] = Map(
    "gaussian" -> Seq("mse", "mae"),
    "binomial" -> Seq("mse", "mae", "deviance", "misclass", "auc"),
    "poisson" -> Seq("mse", "mae"),
    "multinomial" -> Seq("mse", "mae", "deviance"))

  /** Validated, de-duplicated measures split into (auc, kernel). */
  private def splitMeasures(model: SlopeModel, measures: Seq[String])
    : (Seq[String], Seq[String]) = {
    val valid = ValidMeasures(model.family)
    measures.foreach(m => require(valid.contains(m),
      s"measure $m invalid for family ${model.family}; valid: ${valid.mkString(", ")}"))
    measures.distinct.partition(_ == "auc")
  }

  /** Score several measures; returns measure -> one value per path step.
    * Every non-AUC measure shares ONE pass over the rows; AUC needs its
    * own ranked aggregation and runs separately. Every Spark job of the
    * call is described as `slope score`.
    *
    * Counted rows: every row whose features and label are both non-null.
    * Rows with a null feature vector or a null label are skipped in
    * every family and are not in any measure's denominator, AUC's
    * included (for
    * binomial and multinomial this is a change: a null label used to
    * count as the first class / as no class). A label that is not one
    * of the model's classes still counts (binomial: the first class;
    * multinomial: no class). With no counted rows every value is NaN. */
  def scoreMany(model: SlopeModel, df: DataFrame, featuresCol: String,
                labelCol: String, measures: Seq[String]): Map[String, Array[Double]] = {
    val (aucMs, sumMs) = splitMeasures(model, measures)
    val sc = df.sparkSession.sparkContext
    // planning the input may run jobs of its own (adaptive query stages)
    OrderedFold.described(sc, "slope score") {
      kernelSums(model, sumMs) { kernel =>
        val sel = Slope.selectFrame(df, featuresCol, labelCol, model.family)
        val pass = new ScorePass(kernel, RowCodec(sel, featuresCol, labelCol))
        OrderedFold.run[InternalRow, Array[Double]](sel.queryExecution.toRdd, "slope score",
            8L * kernel.zero.length, OrderedFold.budget(sc), kernel.merge)((in, h) =>
          sc.runJob(in, pass, h)).getOrElse(kernel.zero)
      } ++ aucMs.map(m => m -> scoreAuc(model, df, featuresCol, labelCol))
    }
  }

  /** [[scoreMany]] over driver-resident rows, with no Spark job: `xs`
    * and `ys` carry the casts `Slope.selectFrame` applies (SlopeCv's
    * shared collect). Same kernel, same null-row rule; AUC uses the
    * same midrank estimator as the distributed plan. */
  private[slope] def scoreRows(model: SlopeModel, xs: Array[Vector], ys: Array[Any],
                               measures: Seq[String]): Map[String, Array[Double]] = {
    val (aucMs, sumMs) = splitMeasures(model, measures)
    kernelSums(model, sumMs) { kernel =>
      var buf = kernel.zero
      var i = 0
      while (i < xs.length) {
        if (xs(i) != null && ys(i) != null) buf = kernel.add(buf, xs(i), ys(i))
        i += 1
      }
      buf
    } ++ aucMs.map(m => m -> aucRows(model, xs, ys))
  }

  /** Per-step means of the kernel measures, from the buffer `sum`
    * accumulates over the counted rows. */
  private def kernelSums(model: SlopeModel, measures: Seq[String])(
      sum: StepErrors => Array[Double]): Map[String, Array[Double]] =
    if (measures.isEmpty) Map.empty
    else {
      val kernel = new StepErrors(model, measures)
      kernel.result(sum(kernel))
    }

  /** Score one measure; returns one value per path step. */
  def score(model: SlopeModel, df: DataFrame, featuresCol: String,
            labelCol: String, measure: String): Array[Double] =
    scoreMany(model, df, featuresCol, labelCol, Seq(measure))(measure)

  /** Weighted midrank AUC over a (label, score, weight) frame — the
    * DETERMINISTIC closed form of the reference's weighted AUC
    * (`R/score.R:152-166`). The reference randomizes tie order with
    * `runif` and credits each positive with the negative weight strictly
    * before it; the expectation of that randomization is half credit per
    * tied (pos, neg) weight pair, which is what the midrank form
    * computes — so this is the reference's estimator with the sampling
    * noise removed (documented deviation; the `runif` form is not
    * oracle-checkable). `weights = 1` reduces exactly to the unweighted
    * midrank AUC.
    *
    * Scalable shape: aggregate per DISTINCT score first, then a
    * range-bucketed two-pass prefix sum ([[graft.functions.PrefixSum]])
    * for the cumulative negative weight — no single-reducer window
    * anywhere, even with continuous scores where |distinct| ≈ n.
    * Returns a 1-row frame with column `auc_w`.
    *
    * Determinism caveat: PrefixSum's bit-equality-with-the-naive-window
    * claim holds when the summed weights are exact in double (integer
    * or dyadic weights — the engine's call sites). Arbitrary fractional
    * weights reorder FP additions versus the single-window form, so
    * results can drift in the last ULP; treat them as correct to ~1e-15
    * relative, not bit-reproducible across plans. */
  def weightedAuc(df: DataFrame, labelCol: String, scoreCol: String,
                  weightCol: String): DataFrame = {
    val g = df.select(col(labelCol).cast("double").as("y"),
      col(scoreCol).as("s"), col(weightCol).cast("double").as("w"))
      .groupBy("s")
      .agg(sum(when(col("y") === 1.0, col("w")).otherwise(0.0)).as("w1"),
        sum(when(col("y") === 1.0, 0.0).otherwise(col("w"))).as("w0"))
    graft.functions.PrefixSum.inclusive(g, Nil, "s", "w0", "cw0i")
      .select(col("w1"), col("w0"), (col("cw0i") - col("w0")).as("cw0"))
      .agg((sum(col("w1") * (col("cw0") + col("w0") / 2)) /
        (sum("w1") * sum("w0"))).as("auc_w"))
  }

  /** Reliability curve + expected calibration error — the audit a
    * learned quality filter needs before its scores become sampling
    * WEIGHTS (an uncalibrated filter silently over/under-samples).
    * Scores bin into `bins` equal-width [0,1] buckets (scores clamped;
    * a score of exactly 1.0 lands in the last bin); per bin: count,
    * mean score, empirical positive rate, and |gap|. ECE is the
    * count-weighted mean |gap| — derivable from the output, and also
    * returned on every row for one-frame serving.
    *
    * One map-side-combined groupBy over one scan — bins are the only
    * exchange key (≤ `bins` groups), so the plan is flat at any corpus
    * size. Engine-replayable: bin = floor(score·bins) clamped, all
    * aggregates exact-or-rounded. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val b = least(floor(col(scoreCol) * bins).cast("long"),
      lit(bins - 1L))
    val perBin = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(greatest(least(b, lit(bins - 1L)), lit(0L)).as("bin"),
        col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("double").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), avg("s").as("mean_score"),
        avg("y").as("frac_pos"))
      .select(col("bin"), col("n"), col("mean_score"), col("frac_pos"),
        abs(col("mean_score") - col("frac_pos")).as("gap"))
    // ECE = Σ n_b/N · |gap_b| — a 1-row frame broadcast back, never a
    // driver value
    val ece = perBin.agg(
      (sum(col("n") * col("gap")) / sum("n")).as("ece"))
    perBin.crossJoin(broadcast(ece))
  }

  /** Scalable midrank AUC per step: aggregate per distinct probability
    * first (midrank of a tie group = count-before + (n+1)/2), then a
    * per-step range-bucketed prefix sum for the running count
    * ([[graft.functions.PrefixSum]]) — a step's |distinct probs| ≈ n
    * rows never funnel through one task (R/score.R:137-150 rank form).
    * Counts the same rows as [[scoreMany]]'s kernel. */
  private def scoreAuc(model: SlopeModel, df: DataFrame, featuresCol: String,
                       labelCol: String): Array[Double] = {
    val counted = df.filter(col(featuresCol).isNotNull && col(labelCol).isNotNull)
    val y2 = when(col(labelCol).cast("string") === model.classNames(1), 1.0)
      .otherwise(0.0)
    val e = SlopeServe.predictions(model, counted, featuresCol, Seq("response"))
      .select(y2.as("y2"), posexplode(col("response")).as(Seq("step", "r")))
      .select(col("step"), col("y2"), element_at(col("r"), 1).as("p"))
    val g = e.groupBy("step", "p")
      .agg(count(lit(1)).as("n"), sum("y2").as("n1"))
    graft.functions.PrefixSum.inclusive(g, Seq("step"), "p", "n", "cn")
      .select(col("step"), col("n"), col("n1"),
        (col("cn") - col("n") + (col("n") + 1.0) / 2.0).as("mr"))
      .groupBy("step")
      .agg(((sum(col("n1") * col("mr")) -
        sum("n1") * (sum("n1") + 1.0) / 2.0) /
        (sum("n1") * (sum("n") - sum("n1")))).as("v"))
      .orderBy("step").collect().map(_.getDouble(1))
  }

  /** [[scoreAuc]]'s estimator over driver-resident rows, in its
    * Mann-Whitney form: each positive scores the negatives below its
    * probability plus half the negatives tied with it, which equals the
    * midrank sum minus n1(n1+1)/2. Two primitive sorts per step and one
    * merge walk. */
  private def aucRows(model: SlopeModel, xs: Array[Vector],
                      ys: Array[Any]): Array[Double] = {
    val counted = xs.indices.filter(i => xs(i) != null && ys(i) != null)
    val (pos, neg) = counted.partition(i => ys(i).toString == model.classNames(1))
    Array.tabulate(model.nSteps) { s =>
      def probs(rows: IndexedSeq[Int]) = {
        val pr = rows.map(i =>
          1.0 / (1.0 + math.exp(-model.linearPredictor(xs(i), s)(0)))).toArray
        java.util.Arrays.sort(pr)
        pr
      }
      val (p1, p0) = (probs(pos), probs(neg))
      var below = 0 // negatives < p
      var upTo = 0  // negatives <= p
      var acc = 0.0
      for (p <- p1) {
        while (below < p0.length && p0(below) < p) below += 1
        upTo = math.max(upTo, below)
        while (upTo < p0.length && p0(upTo) == p) upTo += 1
        acc += below + (upTo - below) / 2.0
      }
      acc / (p1.length.toDouble * p0.length)
    }
  }
}

/** The per-row kernel behind [[SlopeScore.scoreMany]]: for one row it
  * computes the linear predictor at every path step
  * ([[PathPredictor]], over the row's nonzeros) and adds each
  * requested measure's per-row term into `buf(measure * nSteps + step)`;
  * the last slot counts rows, and [[result]] divides by it. The
  * per-measure formulas are the reference's (`R/score.R`): gaussian
  * and poisson errors on the link scale, binomial and multinomial on
  * the response scale, multi-task gaussian averaged over the m targets.
  *
  * Serializable so [[ScorePass]] ships it to the tasks; the scratch
  * arrays are transient, so each task's deserialized copy (and each
  * driver-side instance) has its own. */
private[slope] final class StepErrors(model: SlopeModel, measures: Seq[String])
    extends Serializable {
  import StepErrors._

  private val nSteps = model.nSteps
  private val m = model.m
  private val nClasses = model.nClasses
  private val nMeasures = measures.length
  private val codes: Array[Int] = measures.map {
    case "mse" => Mse
    case "mae" => Mae
    case "deviance" => Deviance
    case "misclass" => Misclass
  }.toArray
  private val kind = model.family match {
    case "gaussian" if m > 1 => MultiTask
    case "gaussian" | "poisson" => Link
    case "binomial" => Binomial
    case "multinomial" => Multinomial
  }
  private val predictor = model.predictor
  private val positive = model.classNames.lift(1).orNull // binomial's class 1
  private val classIndex: Map[String, Int] = model.classNames.zipWithIndex.toMap

  @transient private lazy val lp = new Array[Double](m)
  @transient private lazy val prob = new Array[Double](m + 1)

  def zero: Array[Double] = new Array[Double](nMeasures * nSteps + 1)

  /** Adds one row (non-null features and label) to `buf`. */
  def add(buf: Array[Double], x: Vector, y: Any): Array[Double] = {
    predictor.check(x)
    val yv = if (kind == Link) Slope.anyToDouble(y) else 0.0
    val ya = if (kind == MultiTask) Slope.anyToDoubleArray(y) else null
    require(ya == null || ya.length == m,
      s"label array length ${ya.length} != model's $m targets")
    val y2 = if (kind == Binomial && y.toString == positive) 1.0 else 0.0
    val yi = if (kind == Multinomial) classIndex.getOrElse(y.toString, -1) else -1
    var s = 0
    while (s < nSteps) {
      predictor.at(x, s, lp)
      if (kind == Binomial) prob(0) = 1.0 / (1.0 + math.exp(-lp(0)))
      else if (kind == Multinomial) softmax()
      var i = 0
      while (i < nMeasures) {
        buf(i * nSteps + s) += term(codes(i), yv, ya, y2, yi)
        i += 1
      }
      s += 1
    }
    buf(nMeasures * nSteps) += 1.0
    buf
  }

  def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  /** measure -> per-step mean over the counted rows (NaN if none). */
  def result(buf: Array[Double]): Map[String, Array[Double]] = {
    val n = buf(nMeasures * nSteps)
    measures.indices.map(i =>
      measures(i) -> Array.tabulate(nSteps)(s => buf(i * nSteps + s) / n)).toMap
  }

  /** Class probabilities with the reference class's 0 logit appended. */
  private def softmax(): Unit = {
    var mx = 0.0
    var k = 0
    while (k < m) { if (lp(k) > mx) mx = lp(k); k += 1 }
    var tot = 0.0
    k = 0
    while (k <= m) {
      prob(k) = math.exp((if (k < m) lp(k) else 0.0) - mx)
      tot += prob(k)
      k += 1
    }
    k = 0
    while (k <= m) { prob(k) /= tot; k += 1 }
  }

  /** One row's term for one measure at the step held in `lp` / `prob`. */
  private def term(code: Int, yv: Double, ya: Array[Double], y2: Double,
                   yi: Int): Double = kind match {
    case Link =>
      val err = lp(0) - yv
      if (code == Mse) err * err else math.abs(err)
    case MultiTask =>
      var acc = 0.0
      var k = 0
      while (k < m) {
        val e = lp(k) - ya(k)
        acc += (if (code == Mse) e * e else math.abs(e))
        k += 1
      }
      acc / m
    case Binomial =>
      val pr = prob(0)
      // mse/mae sum over the reference's two response columns (class 0
      // and class 1 probability against their one-hot labels)
      code match {
        case Mse => sq(pr + (1.0 - y2) - 1.0) + sq(pr - y2)
        case Mae => math.abs(pr + (1.0 - y2) - 1.0) + math.abs(pr - y2)
        case Misclass =>
          if ((1.0 - y2) == 1.0 && pr > 0.5 || y2 == 1.0 && pr <= 0.5) 1.0 else 0.0
        case Deviance =>
          val pc = clamp(pr)
          -2.0 * ((1.0 - y2) * math.log(1.0 - pc) + y2 * math.log(pc))
      }
    case Multinomial =>
      var acc = 0.0
      var c = 0
      while (c < nClasses) {
        val yc = if (c == yi) 1.0 else 0.0
        acc += (code match {
          case Mse => sq(prob(c) - yc)
          case Mae => math.abs(prob(c) - yc)
          case Deviance => -2.0 * yc * math.log(clamp(prob(c)))
        })
        c += 1
      }
      if (code == Deviance) acc else acc / nClasses
  }
}

private object StepErrors {
  final val Mse = 0
  final val Mae = 1
  final val Deviance = 2
  final val Misclass = 3

  final val Link = 0
  final val MultiTask = 1
  final val Binomial = 2
  final val Multinomial = 3

  private def sq(v: Double): Double = v * v
  private def clamp(pr: Double): Double = math.min(math.max(pr, 1e-5), 1.0 - 1e-5)
}

/** [[SlopeScore.scoreMany]]'s task: adds every row of a partition of the
  * scoring frame ([[Slope.selectFrame]]'s `f` and `l`, as Catalyst's
  * internal rows) to one [[StepErrors]] buffer, skipping rows with a null
  * features value or a null label. Rows decode through the engine's
  * [[RowCodec]], the decoder of fitting and serving, before the iterator
  * moves on. A named class, so launching it runs no closure cleaning. */
private[slope] final class ScorePass(kernel: StepErrors, codec: RowCodec)
    extends ((TaskContext, Iterator[InternalRow]) => Array[Double]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Double] = {
    val buf = kernel.zero
    while (rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(0) && !r.isNullAt(1)) kernel.add(buf, codec.features(r), codec.label(r))
    }
    buf
  }
}
