package graft.slope

import graft.slope.kernels.{LambdaSequence, Screening}
import org.apache.spark.TaskContext
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** Fit configuration — field-for-field the reference's `owl()` surface
  * (jolars/golem `R/owl.R:271-293`), with Spark-specific execution knobs
  * at the end.
  */
case class SlopeParams(
    family: String = "gaussian",
    fitIntercept: Boolean = true,
    /** None => center iff input is dense (reference `R/owl.R:276`). */
    center: Option[Boolean] = None,
    scale: String = "l2",
    /** User penalty-scale grid; None => auto log grid of length nSigma. */
    sigma: Option[Array[Double]] = None,
    /** "gaussian" | "bh" | "oscar" | "user" (default matches `match.arg`). */
    lambdaType: String = "gaussian",
    userLambda: Option[Array[Double]] = None,
    /** None => 1e-2 if n < p else 1e-4 (reference `R/owl.R:280`). */
    lambdaMinRatio: Option[Double] = None,
    nSigma: Int = 100,
    /** None => 0.1*min(1, n/p) (reference `R/owl.R:282`). */
    q: Option[Double] = None,
    screening: Boolean = true,
    tolDevChange: Double = 1e-5,
    tolDevRatio: Double = 0.995,
    tolAbs: Double = 1e-5,
    tolRel: Double = 1e-4,
    /** None => n*m (reference `R/owl.R:288`). */
    maxVariables: Option[Long] = None,
    maxPasses: Int = 1000000,
    tolRelGap: Double = 1e-5,
    tolInfeas: Double = 1e-3,
    diagnostics: Boolean = false,
    // ---- Spark execution knobs (not in the reference) ----
    /** Collect to a driver-local backend when n*p is below this; the
      * path loop then runs with zero job-launch overhead. Distributed
      * passes (one Spark job each) otherwise. The 40M default is MEASURED,
      * not guessed (r11 scale gate): at the sf1 CV frame (6M × 7 =
      * 42M, just over the gate) the distributed cells cost 114 s while
      * forcing the local path cost 128-389 s with 7-33 s GC per run —
      * the local backend's per-row boxed label encoding allocates
      * O(cells·n) tiny arrays, so above ~megarow frames the job
      * overhead of distributed passes is CHEAPER than driver heap
      * churn. The dist≡local certificates make this dispatch point a
      * pure performance knob; results are identical on either side. */
    localCellLimit: Long = 40L * 1000 * 1000,
    /** ADMM needs an |active|^2 Gram on the driver; above this active-set
      * size fall back to FISTA (never materialize huge Grams). */
    admmMaxActive: Int = 4096,
    /** Carry the converged FISTA learning rate across sigma steps (the
      * reference resets it per step, family.h:111 — a local): each
      * backtracking halving is a full distributed pass, and warm starts
      * keep the local curvature nearly unchanged, so re-probing from 1.0
      * per step is pure waste at 100 TB. Off by default: it perturbs the
      * iterate trajectory (same fixed point, different rounding tail),
      * which would churn committed goldens for no local-mode gain. */
    carryLearningRate: Boolean = false,
    /** Gradient-based adaptive restart (O'Donoghue & Candes 2015): reset
      * FISTA momentum when it opposes the prox step. Driver-side check,
      * zero extra passes; off by default for golden stability. */
    adaptiveRestart: Boolean = false)

/** Per-path-step diagnostics (reference `R/setupDiagnostics.R:9-25`). */
case class StepDiagnostics(primals: Array[Double], duals: Array[Double],
                           times: Array[Double])

/** Fitted SLOPE path — the reference's `Owl` S3 object (`R/owl.R:471-486`)
  * with p/m-dimensional state only; coefficients are in ORIGINAL units.
  *
  * `coefs(s)` is p x m column-major (features only); `intercepts(s)` has
  * length m. `lambda` is the user-facing sequence (divided by n,
  * reference `src/owl.cpp:379`).
  */
case class SlopeModel(
    family: String,
    fitIntercept: Boolean,
    p: Int,
    m: Int,
    nClasses: Int,
    classNames: Array[String],
    intercepts: Array[Array[Double]],
    coefs: Array[Array[Double]],
    sigma: Array[Double],
    lambda: Array[Double],
    nullDeviance: Double,
    deviances: Array[Double],
    devianceRatios: Array[Double],
    passes: Array[Int],
    nUnique: Array[Int],
    activeSets: Array[Array[Int]],
    xCenter: Array[Double],
    xScale: Array[Double],
    diagnostics: Array[StepDiagnostics]) {

  def nSteps: Int = sigma.length

  /** Deviance per step = (1 - ratio) * null (reference `R/deviance.R:13-18`). */
  def devianceAt(step: Int): Double = (1.0 - devianceRatios(step)) * nullDeviance

  /** Linear predictor for one feature row (of length p) at one path step
    * (length m): b + sum_j w_j x_j, the sum serving and scoring compute
    * ([[PathPredictor]]). */
  def linearPredictor(x: Vector, step: Int): Array[Double] = {
    predictor.check(x)
    val out = new Array[Double](m)
    predictor.at(x, step, out)
    out
  }

  @transient private[slope] lazy val predictor = new PathPredictor(this)
}

/** The path-fit orchestrator: the reference's `owlCpp` main loop
  * (`src/owl.cpp:14-394`) re-expressed against a [[SlopeBackend]] so the
  * identical control flow runs over driver-local arrays or a distributed
  * Dataset. All state held here is p- or m-dimensional.
  */
object Slope {

  /** Effective local-dispatch threshold. The JVM property
    * `graft.slope.localCellLimitOverride` (when set) wins over the
    * per-fit param: the scale gate pins it to 0 around its q_slope_cv
    * row so BOTH scale points measure the distributed path — the
    * sf0.1/sf1 pair used to straddle the dispatch, making the fitted
    * exponent measure the crossover instead of the algorithm (r11
    * verdict ask #5). Results are identical on either side (the
    * dist≡local certificates), so the override is a pure
    * measurement-path selector, never a semantics knob. */
  def effectiveLocalCellLimit(params: SlopeParams): Long =
    sys.props.get("graft.slope.localCellLimitOverride") match {
      case Some(v) => v.toLong
      case None => params.localCellLimit
    }

  /** The cast projection `fit` consumes: features as Vector or
    * array<double> (column `f`), label cast per family (column `l`),
    * then any `extra` columns — ONE definition so [[collectLocal]],
    * `fit`, SlopeCv's shared collect and SlopeScore's scoring pass can
    * never drift. */
  private[slope] def selectFrame(df: DataFrame, featuresCol: String,
                                 labelCol: String, family: String,
                                 extra: Seq[Column] = Nil): DataFrame = {
    val labelIsClass = family == "binomial" || family == "multinomial"
    val labelIsArray = df.schema(labelCol).dataType.isInstanceOf[ArrayType]
    val labExpr =
      if (labelIsClass) col(labelCol).cast(StringType)
      else if (labelIsArray) col(labelCol).cast(ArrayType(DoubleType))
      else col(labelCol).cast(DoubleType)
    df.select(featuresColumn(df, featuresCol).as("f") +: labExpr.as("l") +: extra: _*)
  }

  /** The features column as the engine reads it: an ml Vector as is, an
    * array cast to array<double>. */
  private[slope] def featuresColumn(df: DataFrame, featuresCol: String): Column =
    df.schema(featuresCol).dataType match {
      case _: ArrayType => col(featuresCol).cast(ArrayType(DoubleType))
      case _            => col(featuresCol)
    }

  /** A features value of `column` (an ml Vector or a sequence of
    * doubles) as a Vector; a null value or element fails. */
  private[slope] def toVec(a: Any, column: String): Vector = a match {
    case null => throw new IllegalArgumentException("null feature vector")
    case v: Vector => v
    case s: scala.collection.Seq[_] =>
      val out = new Array[Double](s.length)
      var i = 0
      s.foreach { e =>
        if (e == null) throw nullElement(column, i)
        out(i) = e.asInstanceOf[Double]
        i += 1
      }
      Vectors.dense(out)
    case other => throw new IllegalArgumentException(
      s"unsupported features type: ${other.getClass}")
  }

  /** The error for a null element of an array features value. */
  private[slope] def nullElement(column: String, index: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"null element at index $index of the feature vector in column '$column'")

  /** The local path's rows: collect → cast ([[selectFrame]]) →
    * vectorize → content sort, as [[fitLocal]] reads them inside `fit`.
    * Returns the features, the labels and the collected rows (for
    * `extra` columns, which follow the label at index 2), all in
    * content order ([[contentOrderIndices]]). A caller that fits several
    * models over one frame (q_coef_interp; SlopeCv, which carries its
    * fold columns as `extra`) collects and sorts once, and feeding the
    * result to [[fitLocal]] is bit-identical to `fit(df, ...)` on the
    * local path. (collect() order follows the parquet split plan, which
    * shifts with spark.default.parallelism — the content sort makes the
    * FP summation order, and thus every fitted path, a function of the
    * DATA only; ties are exact-duplicate rows, so the order is total
    * where it matters.) Rows are checked by [[fitLocal]], not here. */
  def collectLocal(df: DataFrame, featuresCol: String, labelCol: String,
                   params: SlopeParams = SlopeParams(), extra: Seq[Column] = Nil)
      : (Array[Vector], Array[Any], Array[Row]) = {
    val rows = selectFrame(df, featuresCol, labelCol, params.family, extra).collect()
    val xs = rows.map(r => toVec(r.get(0), featuresCol))
    val rawY = rows.map(_.get(1))
    val ord = contentOrderIndices(xs, rawY)
    (ord.map(xs), ord.map(rawY), ord.map(rows))
  }

  /** The one scan of a fit's input before anything is cached: ONE Spark
    * job over `sel.rdd` (`sel` as [[selectFrame]] projects it) that
    * folds every row into a [[ProbeStats]] ([[ProbeTask]]): the row
    * count, p, and the label summary. Null features or labels fail here,
    * naming their column, and so does any row [[ProbeStats.add]] rejects
    * (a ragged or non-finite features row, a ragged label array), so
    * nothing is cached before the rows are checked. Task results fold in
    * task order ([[OrderedFold]]), so the gaussian sums are a function of
    * the data and its partitioning. Returns the planned rows with the
    * summary, so a distributed fit persists the rows this job read. */
  private[slope] def probe(sel: DataFrame, featuresCol: String, labelCol: String,
                           family: String): (RDD[Row], ProbeStats) = {
    val rows = sel.rdd
    val task = new ProbeTask(featuresCol, labelCol, family)
    val sc = rows.sparkContext
    val stats = OrderedFold.run[Row, ProbeStats](rows, "slope probe", ProbeStats.Bytes,
        OrderedFold.budget(sc), ProbeStats.merge)((in, h) =>
      sc.runJob(in, task, h)).getOrElse(new ProbeStats(family))
    (rows, stats)
  }

  /** Whether a fit over the rows `stats` summarizes runs on the
    * driver-local backend: n*p at most the effective local cell limit. */
  private[slope] def runsLocal(stats: ProbeStats, params: SlopeParams): Boolean =
    stats.n * stats.p.toLong <= effectiveLocalCellLimit(params)

  /** Fit from a DataFrame with a features column (ml Vector or
    * array<double>) and a label column (numeric, string for
    * classification families, or array<double> for the multi-task
    * gaussian matrix response). Multi-task gaussian is an EXTENSION
    * beyond the reference surface: the reference rejects matrix
    * gaussian responses outright (`R/preProcessResponse.R:7-8`,
    * "response for Gaussian regression must be one-dimensional"; its
    * multi-target machinery is multinomial-only). This engine accepts
    * them — a documented behavioral divergence — with semantics
    * certified independently by `MultiTaskSpec` (constant-λ
    * separability + joint duality-gap certificate).
    *
    * The input is scanned once by [[probe]], which checks every row and
    * whose n and p choose the backend. The driver-local backend then
    * collects the rows and [[fitLocal]] summarizes them again in
    * content order; the distributed one persists the rows the probe
    * planned and takes its response set-up from the probe's summary.
    */
  def fit(df: DataFrame, featuresCol: String, labelCol: String,
          params: SlopeParams = SlopeParams()): SlopeModel = {
    checkArrayLabel(df.schema(labelCol).dataType.isInstanceOf[ArrayType], params.family)
    val sel = selectFrame(df, featuresCol, labelCol, params.family)
    val (selRdd, probed) = probe(sel, featuresCol, labelCol, params.family)

    if (runsLocal(probed, params)) {
      // driver-local path: zero Spark jobs inside the solver loop
      val (xs, rawY, _) = collectLocal(df, featuresCol, labelCol, params)
      fitLocal(xs, rawY, params)
    } else {
      // distributed path: the probe has checked these rows
      val r = response(probed, params.family)
      val enc = r.encode
      val rdd = selRdd.map(row => (toVec(row.get(0), featuresCol), enc(row.get(1))))
      val backend = new DistributedBackend(rdd, probed.p, r.m, params.fitIntercept,
        knownN = probed.n)
      try fitBackend(backend, params, r.yCenter, r.classNames, r.nClasses, r.classCounts)
      finally backend.unpersist()
    }
  }

  /** Fully driver-local fit (also the unit-test entry — no SparkSession).
    * Every row is checked here: a null feature vector or label names
    * its row, and the rest is [[ProbeStats.add]]'s check. The label
    * summary, and so the gaussian center, is folded over the rows in the
    * order given (content order, from [[collectLocal]]). */
  def fitLocal(xs: Array[Vector], rawY: Array[Any],
               params: SlopeParams): SlopeModel = {
    require(xs.length == rawY.length,
      s"${xs.length} feature vectors but ${rawY.length} labels")
    val stats = new ProbeStats(params.family)
    var i = 0
    while (i < xs.length) {
      require(xs(i) != null, s"null feature vector at row $i")
      require(rawY(i) != null, s"null label at row $i")
      stats.add(xs(i), rawY(i))
      i += 1
    }
    val r = response(stats, params.family)
    val backend = new LocalBackend(xs, rawY.map(r.encode), stats.p, r.m, params.fitIntercept)
    fitBackend(backend, params, r.yCenter, r.classNames, r.nClasses, r.classCounts)
  }

  /** A fit's response set-up from the summary of its rows (reference
    * `R/preProcessResponse.R:1-104`): the class names (sorted as
    * [[sortClassNames]] does) and their counts, the gaussian center per
    * target, the class count, m and the row encoder. */
  private final case class Response(classNames: Array[String], classCounts: Array[Long],
                                    yCenter: Array[Double], nClasses: Int, m: Int,
                                    encode: Any => Array[Double])

  private def response(stats: ProbeStats, family: String): Response = {
    require(stats.n > 0, "empty input")
    val yCenter = stats.ySum.map(_ / stats.n)
    val classNames = sortClassNames(stats.classCounts.keys.toArray)
    checkClasses(family, classNames)
    val nClasses = if (classNames.nonEmpty) classNames.length else 1
    val m = if (yCenter.nonEmpty) yCenter.length else Family(family).nTargets(nClasses)
    Response(classNames, classNames.map(stats.classCounts), yCenter, nClasses, m,
      responseEncoder(family, classNames, yCenter, m))
  }

  /** Array-typed (multi-target) labels are for the gaussian family only. */
  private[slope] def checkArrayLabel(labelIsArray: Boolean, family: String): Unit =
    require(!labelIsArray || family == "gaussian",
      s"array-typed (multi-target) labels are only supported for " +
        s"family=gaussian, got $family")

  /** Content order (label first, then features lexicographically) as a
    * stable permutation: a deterministic total preorder whose ties are
    * exact-duplicate rows, making driver-local FP reductions independent
    * of partition layout. Label keys are materialized once (not per
    * comparison), and vectors compare over merged active entries —
    * O(nnz), no per-element binary search on sparse rows. A FILTERED
    * subset of a content-sorted sequence is itself content-sorted, with
    * the value SEQUENCE (hence every FP fold) of sorting the subset
    * directly, so SlopeCv slices its one sorted collect per cell. */
  private def contentOrderIndices(xs: Array[Vector], rawY: Array[Any]): Array[Int] = {
    val n = xs.length
    val labelKey = new Array[String](n)
    var i = 0
    while (i < n) {
      // arrays/seqs (multi-task labels) key by CONTENT — Array.toString
      // is an identity hash and Seq subclasses render differently
      labelKey(i) = rawY(i) match {
        case a: Array[Double] => a.mkString(",")
        case s: scala.collection.Seq[_] => s.mkString(",")
        case other => String.valueOf(other)
      }
      i += 1
    }
    val ord = new java.util.Comparator[Integer] {
      def compare(ab: Integer, bb: Integer): Int = {
        val a = ab.intValue(); val b = bb.intValue()
        val c0 = labelKey(a).compareTo(labelKey(b))
        if (c0 != 0) return c0
        val c1 = Integer.compare(xs(a).size, xs(b).size)
        if (c1 != 0) c1 else compareVec(xs(a), xs(b))
      }
    }
    // parallel merge sort (stable, like the sequential sort it
    // replaces): the comparator — hence the resulting permutation up
    // to ties — is unchanged, and ties are rows with IDENTICAL
    // content, so the sorted value sequence (and every FP fold built
    // on it) is bit-identical either way. At the sf0.1 local-fit size
    // (600k rows) the sequential sort was ~0.9 s of driver time per
    // fit, paid by every local-path SLOPE query (r16 profile).
    val boxed = new Array[Integer](n)
    i = 0
    while (i < n) { boxed(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.parallelSort(boxed, ord)
    val out = new Array[Int](n)
    i = 0
    while (i < n) { out(i) = boxed(i).intValue(); i += 1 }
    out
  }

  /** Elementwise lexicographic compare of equal-size vectors, walking
    * merged active entries (implicit zeros included) — O(nnz_a+nnz_b). */
  private def compareVec(va: Vector, vb: Vector): Int = (va, vb) match {
    case (a: DenseVector, b: DenseVector) =>
      val av = a.values; val bv = b.values
      var j = 0
      while (j < av.length) {
        val c = java.lang.Double.compare(av(j), bv(j))
        if (c != 0) return c
        j += 1
      }
      0
    case _ =>
      def actives(v: Vector): (Array[Int], Array[Double]) = v match {
        case s: SparseVector => (s.indices, s.values)
        case d: DenseVector => (Array.range(0, d.size), d.values)
      }
      val (ai, av) = actives(va)
      val (bi, bv) = actives(vb)
      var ia = 0; var ib = 0
      while (ia < ai.length || ib < bi.length) {
        val ja = if (ia < ai.length) ai(ia) else Int.MaxValue
        val jb = if (ib < bi.length) bi(ib) else Int.MaxValue
        val j = math.min(ja, jb)
        val x = if (ja == j) av(ia) else 0.0
        val y = if (jb == j) bv(ib) else 0.0
        val c = java.lang.Double.compare(x, y)
        if (c != 0) return c
        if (ja == j) ia += 1
        if (jb == j) ib += 1
      }
      0
  }

  private[slope] def anyToDouble(a: Any): Double = a match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case s: String => s.toDouble
    // a length-1 array<double> label infers m = 1 and lands on the
    // scalar encoder; unwrap it instead of failing mid-job
    case s: scala.collection.Seq[_] if s.length == 1 => anyToDouble(s.head)
    case arr: Array[Double] if arr.length == 1 => arr(0)
    case other => throw new IllegalArgumentException(s"non-numeric label: $other")
  }

  /** Multi-target label row -> Array[Double] (Spark hands back Seq). */
  private[slope] def anyToDoubleArray(a: Any): Array[Double] = a match {
    case arr: Array[Double] => arr
    case s: scala.collection.Seq[_] => s.map(anyToDouble).toArray
    case other => throw new IllegalArgumentException(
      s"expected an array-typed multi-target label, got: $other")
  }

  /** Class names sorted the way R's `as.factor` levels sort: numerically
    * when every label parses as a number, lexically otherwise. */
  private def sortClassNames(names: Array[String]): Array[String] = {
    val numeric = names.forall(s => scala.util.Try(s.toDouble).isSuccess)
    if (numeric) names.sortBy(_.toDouble) else names.sorted
  }

  private def checkClasses(family: String, classNames: Array[String]): Unit =
    family match {
      case "binomial" =>
        require(classNames.length == 2,
          s"binomial response must have exactly 2 classes, got ${classNames.length}")
      case "multinomial" =>
        require(classNames.length > 2,
          s"multinomial response must have >2 classes, got ${classNames.length}" +
            (if (classNames.length == 2) " (use family=binomial)" else ""))
      case _ => ()
    }

  /** Internal response coding (reference `R/preProcessResponse.R:1-104`):
    * gaussian centered per target (scalar m=1 or matrix m>1, the
    * reference's `NROW(y)`/`NCOL(y)` branch); binomial {-1,+1};
    * multinomial one-hot over the first K-1 classes; poisson raw
    * nonnegative. `yCenter` has length m for gaussian, 0 otherwise. Its
    * rows have passed [[ProbeStats.add]], so label arrays have m entries. */
  private def responseEncoder(family: String, classNames: Array[String],
                              yCenter: Array[Double], m: Int): Any => Array[Double] =
    family match {
      case "gaussian" if m > 1 => (a: Any) => {
        val row = anyToDoubleArray(a)
        val out = new Array[Double](m)
        var k = 0
        while (k < m) {
          require(!row(k).isNaN, "missing (NaN) values in response are not allowed")
          out(k) = row(k) - yCenter(k)
          k += 1
        }
        out
      }
      case "gaussian" => (a: Any) => {
        val v = anyToDouble(a)
        require(!v.isNaN, "missing (NaN) values in response are not allowed")
        Array(v - yCenter(0))
      }
      case "poisson" => (a: Any) => {
        val v = anyToDouble(a)
        require(!v.isNaN, "missing (NaN) values in response are not allowed")
        require(v >= 0, "cannot have negative responses in poisson model")
        Array(v)
      }
      case "binomial" =>
        val first = classNames(0)
        (a: Any) => Array(if (a.toString == first) -1.0 else 1.0)
      case "multinomial" =>
        val index = classNames.zipWithIndex.toMap
        (a: Any) => {
          val out = new Array[Double](m)
          val k = index(a.toString)
          if (k < m) out(k) = 1.0
          out
        }
    }

  /** The path loop proper (mirrors `src/owl.cpp:88-394`). `yCenter` has
    * one entry per gaussian target; empty for other families (their
    * responses are not centered). `classCounts` holds the row count of
    * each of `classNames` for binomial and multinomial; empty otherwise. */
  def fitBackend(backend: SlopeBackend, params: SlopeParams,
                 yCenter: Array[Double], classNames: Array[String],
                 nClasses: Int, classCounts: Array[Long]): SlopeModel = {
    val family = Family(params.family)
    val n = backend.n
    val p = backend.pRaw
    val m = backend.m
    val pInt = backend.pInt
    val intercept = backend.fitIntercept
    val off = if (intercept) 1 else 0

    // ---- set-up: ONE moments pass (src/standardize.h, lambdaMax.h) ----
    // Binomial and multinomial labels are class codes (+-1, one-hot), so
    // their sums and sums of squares are exact integers: taken from the
    // class counts they have the bits a pass over the coded rows gives,
    // and they are known before the pass, whose lambda-max row weights
    // need the mean (and the multinomial sd).
    val classMoments = family match {
      case Binomial =>
        Some(Moments.labelMoments(Array((classCounts(1) - classCounts(0)).toDouble),
          Array(classCounts.sum.toDouble), classCounts.sum.toDouble))
      case Multinomial =>
        val sums = Array.tabulate(m)(k => classCounts(k).toDouble)
        Some(Moments.labelMoments(sums, sums, classCounts.sum.toDouble))
      case _ => None
    }
    val moments = backend.moments(lambdaMaxRowWeights(family, m, classMoments))
    val (yMean, ySd) = classMoments.getOrElse(moments.yMoments)

    // standardization, lazily folded into the row kernels — the data
    // itself is never rewritten. The moments pass yields the means and
    // detects sparse representation EXACTLY (the former 100-row sample
    // could miss late sparse partitions and flip the centering default
    // between runs). An explicit params.center still wins; unlike the
    // reference (which mutates X and must refuse center+sparse,
    // R/owl.R:359-360) centering here is folded into the row kernels, so
    // it is safe on sparse data either way.
    val featMeans = moments.featureMeans
    val center = params.center.getOrElse(!moments.anySparse)

    val xCenterRaw = if (center) featMeans else new Array[Double](p)
    // "sd" always measures spread about the mean even when the data is
    // not centered (reference sparse branch, standardize.h:56-58)
    val scaleCenters =
      if (params.scale == "sd" && !center) featMeans else xCenterRaw
    val xScaleRaw = (params.scale match {
      case "none" => Array.fill(p)(1.0)
      case "l1" => backend.l1Norms(scaleCenters)
      case scale => moments.spread(scaleCenters, scale)
    }).map(s => if (s == 0.0) 1.0 else s) // zero-variance guard
    // coefficient-row numbering: slot 0 = intercept. The intercept
    // coordinate is scaled by sqrt(n) — exact reparameterization that
    // keeps the ones-column curvature at 1 instead of n, so first-order
    // pass counts do not grow with data size (see BackendKernels
    // .effectiveWeights). Undone in the rescale step below.
    val xCenter = new Array[Double](pInt)
    val xScale = Array.fill(pInt)(1.0)
    if (intercept) xScale(0) = math.sqrt(n.toDouble)
    var j = 0
    while (j < p) { xCenter(j + off) = xCenterRaw(j); xScale(j + off) = xScaleRaw(j); j += 1 }
    backend.setStandardization(xCenter, xScale)

    // ---- lambda sequence + sigma grid (src/regularizationPath.h) ----
    val nLambda = p * m
    val qDefault = 0.1 * math.min(1.0, n.toDouble / p)
    val qv = params.q.getOrElse(qDefault)
    val lambda = LambdaSequence.build(params.lambdaType, nLambda, qv, n,
      params.userLambda)

    val absGrad = lambdaMaxGradient(moments.xtv(xCenter, xScale), family, ySd, m, pInt, off)
    val sigmaMax = LambdaSequence.sigmaMax(absGrad, lambda)

    val sigmaIsUser = params.sigma.isDefined
    val minRatio = params.lambdaMinRatio.getOrElse(if (n < p) 1e-2 else 1e-4)
    val sigmas =
      params.sigma.getOrElse(LambdaSequence.sigmaGrid(sigmaMax, minRatio, params.nSigma))
    val nSigma = sigmas.length
    // user-supplied sigma disables early path stopping (R/owl.R:386-391)
    val tolDevChange = if (sigmaIsUser) 0.0 else params.tolDevChange
    val tolDevRatio = if (sigmaIsUser) 1.0 else params.tolDevRatio
    val maxVariables =
      if (sigmaIsUser) (p + off).toLong * m
      else params.maxVariables.getOrElse(n * m)

    // ---- path state ----
    val fullSet = Array.range(0, pInt)
    var beta = new Array[Double](pInt * m) // column-major pInt x m
    var betaPrev = new Array[Double](pInt * m)
    // The last full-set evaluation (primal, dual, gradient) and the
    // point it was taken at: the null model at beta = 0 first, which
    // also gives the null deviance (src/owl.cpp:94-96), then each KKT
    // pass or full-set FISTA solve. Screening and the KKT check read it
    // through `evalAtBeta`, and a FISTA solve starting at that point
    // takes its restriction to the active set, so no pass re-evaluates
    // a point this loop already evaluated.
    var evalPoint = beta.clone()
    var fullEval = backend.evalActive(fullSet, beta, family,
      needDual = true, needGrad = true)
    val nullDeviance = 2.0 * fullEval._1
    def evalAtBeta(): (Double, Double, Array[Double]) = {
      if (!java.util.Arrays.equals(beta, evalPoint)) {
        evalPoint = beta.clone()
        fullEval = backend.evalActive(fullSet, beta, family,
          needDual = true, needGrad = true)
      }
      fullEval
    }
    // sum of squared internal y per target (for ADMM deviance, driver-side)
    val sumYsq = {
      var s = 0.0
      var k = 0
      while (k < m) { s += n * (ySd(k) * ySd(k) + yMean(k) * yMean(k)); k += 1 }
      s
    }

    var screening = params.screening
    var everActive: Array[Int] = if (intercept) Array(0) else Array.empty

    // ADMM auxiliary state, warm-started across the path (src/owl.cpp:123-127)
    val z = new Array[Double](pInt)
    val u = new Array[Double](pInt)
    var fullFact: Admm.Factorization = null
    // Standardized Gram and Xs^T y of U, the union of the active sets
    // factorized so far: a set inside U takes its entries as a slice,
    // which holds the bits of a Gram pass over that set
    // (BackendKernels.sliceGram); a set with new features runs ONE Gram
    // pass over U and the set, or over the set alone (restarting U) when
    // that union exceeds admmMaxActive.
    var gramSet = Array.empty[Int]
    var gramU: (Array[Double], Array[Double]) = null
    def gramOf(active: Array[Int]): (Array[Double], Array[Double]) =
      (if (gramU == null) None
       else BackendKernels.sliceGram(gramSet, gramU._1, gramU._2, active, m)).getOrElse {
        val union = Screening.union(gramSet, active)
        gramSet = if (union.length <= params.admmMaxActive) union else active
        gramU = backend.gramXty(gramSet)
        BackendKernels.sliceGram(gramSet, gramU._1, gramU._2, active, m).get
      }
    // FISTA learning rate carried across sigma steps / KKT growth
    // iterations when params.carryLearningRate is set
    var carriedLr = 1.0

    val betasOut = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val devs = scala.collection.mutable.ArrayBuffer[Double]()
    val devRatios = scala.collection.mutable.ArrayBuffer[Double]()
    val passesOut = scala.collection.mutable.ArrayBuffer[Int]()
    val nUniqueOut = scala.collection.mutable.ArrayBuffer[Int]()
    val activeSetsOut = scala.collection.mutable.ArrayBuffer[Array[Int]]()
    val diagOut = scala.collection.mutable.ArrayBuffer[StepDiagnostics]()

    def nonzeroRows(b: Array[Double]): Array[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var r = 0
      while (r < pInt) {
        var any = false
        var k = 0
        while (k < m && !any) { any = b(k * pInt + r) != 0.0; k += 1 }
        if (any) out += r
        r += 1
      }
      out.toArray
    }

    def gather(b: Array[Double], active: Array[Int]): Array[Double] = {
      val a = active.length
      val out = new Array[Double](a * m)
      var k = 0
      while (k < m) {
        var i = 0
        while (i < a) { out(k * a + i) = b(k * pInt + active(i)); i += 1 }
        k += 1
      }
      out
    }

    def scatter(sub: Array[Double], active: Array[Int], into: Array[Double]): Unit = {
      val a = active.length
      var k = 0
      while (k < m) {
        var i = 0
        while (i < a) { into(k * pInt + active(i)) = sub(k * a + i); i += 1 }
        k += 1
      }
    }

    /** Fit on one active set; returns (betaActive, passes, deviance, diag). */
    def solveSubset(active: Array[Int], sigK: Double, lambdaMaxSig: Double)
      : (Array[Double], Int, Double, StepDiagnostics) = {
      val a = active.length
      val aOff = if (intercept && a > 0 && active(0) == 0) 1 else 0
      val nPen = (a - aOff) * m
      val lamSig = new Array[Double](nPen)
      var i = 0
      while (i < nPen) { lamSig(i) = lambda(i) * sigK; i += 1 }

      if (params.family == "gaussian" && m == 1 && a <= params.admmMaxActive) {
        // (m > 1 runs FISTA: the sorted-L1 prox couples all p*m
        // coefficients, and the z/u ADMM state here is single-target)
        val isFull = a == pInt
        val fact =
          if (isFull && fullFact != null) fullFact
          else {
            // wide active set (n < |a|): Woodbury via the standardized
            // rows when driver-resident (gaussian.h:88-92); otherwise
            // the tall Gram form
            val f = (if (n < a) backend.activeMatrixXty(active) else None) match {
              case Some((xmat, xty)) =>
                Admm.factorizeWide(xmat, n.toInt, a, xty, lambdaMaxSig)
              case None =>
                val (gram, xty) = gramOf(active)
                Admm.factorize(gram, xty, a, lambdaMaxSig)
            }
            if (isFull) fullFact = f
            f
          }
        val zs = active.map(z)
        val us = active.map(u)
        val (zOut, passes, primals, duals, times) = Admm.fit(fact, a, aOff, n,
          lamSig, zs, us, params.maxPasses, params.tolAbs, params.tolRel,
          params.diagnostics, sumYsq)
        i = 0
        while (i < a) { z(active(i)) = zs(i); u(active(i)) = us(i); i += 1 }
        // deviance = ||y - X z||^2 = sum y^2 - 2 z'X'y + z'Gz (driver-side;
        // reference recomputes x*z, src/families/gaussian.h:130)
        var lin = 0.0
        i = 0
        while (i < a) { lin += zOut(i) * fact.xty(i); i += 1 }
        val dev = fact.gramQuad(zOut) - 2.0 * lin + sumYsq
        (zOut, passes, dev, StepDiagnostics(primals, duals, times))
      } else {
        val betaA = gather(beta, active)
        val init =
          if (!java.util.Arrays.equals(beta, evalPoint)) None
          else Some((fullEval._1, fullEval._2, gather(fullEval._3, active)))
        val res = Fista.fit(backend, active, betaA, lamSig, family, intercept,
          params.maxPasses, params.tolRelGap, params.tolInfeas,
          params.diagnostics,
          lrInit = if (params.carryLearningRate) carriedLr else 1.0,
          adaptiveRestart = params.adaptiveRestart, init = init)
        carriedLr = res.finalLr
        // a full-set solve ends holding the full-set evaluation at its
        // result, which the KKT check and the next solve then reuse
        if (a == pInt) { evalPoint = res.beta.clone(); fullEval = res.finalEval }
        (res.beta, res.passes, res.deviance,
          StepDiagnostics(res.primals, res.duals, res.times))
      }
    }

    var k = 0
    var devianceChange = 0.0
    var stop = false
    while (k < nSigma && !stop) {
      val sigK = sigmas(k)
      val lamMaxSig = lambda(0) * sigK

      var activeSet: Array[Int] = fullSet
      var strongSet: Array[Int] = fullSet

      if (screening) {
        // step 1: strong set from the gradient at beta_prev
        // (src/owl.cpp:150-162) — the previous step's last KKT pass, or
        // the null model at step 0 (beta still equals beta_prev here)
        val sigPrev = if (k == 0) sigmaMax else sigmas(k - 1)
        val lamSig = lambda.map(_ * sigK)
        val lamSigPrev = lambda.map(_ * sigPrev)
        strongSet = Screening.strongSet(evalAtBeta()._3, pInt, m, lamSig,
          lamSigPrev, intercept)
        // step 2: start from the ever-active set (src/owl.cpp:163-168)
        everActive = Screening.union(everActive, nonzeroRows(betaPrev))
        activeSet = everActive
      }

      var stepPasses = 0
      var stepDev = 0.0
      var stepDiag = StepDiagnostics(Array.empty, Array.empty, Array.empty)

      if (activeSet.length == pInt || !screening) {
        screening = false
        activeSet = fullSet
        val (b, pass, dev, diag) = solveSubset(fullSet, sigK, lamMaxSig)
        scatter(b, fullSet, beta)
        stepPasses = pass; stepDev = dev; stepDiag = diag
      } else {
        var kktViolation = true
        while (kktViolation) {
          if (activeSet.isEmpty) {
            java.util.Arrays.fill(beta, 0.0)
            stepPasses = 0
            stepDev = nullDeviance
          } else {
            val (b, pass, dev, diag) = solveSubset(activeSet, sigK, lamMaxSig)
            // zero out non-active slots, then scatter the sub-solution
            java.util.Arrays.fill(beta, 0.0)
            scatter(b, activeSet, beta)
            stepPasses = pass; stepDev = dev; stepDiag = diag
          }
          // full-set evaluation -> KKT check (src/owl.cpp:277-307); it
          // also starts a KKT re-solve or the next step
          val lamSig = lambda.map(_ * sigK)
          val possible = Screening.kktCheck(evalAtBeta()._3, beta, pInt, m, lamSig,
            params.tolInfeas, intercept)
          val strongFailures = Screening.intersect(possible, strongSet)
          var checkFailures = Screening.diff(strongFailures, activeSet)
          kktViolation = checkFailures.nonEmpty
          if (!kktViolation) {
            checkFailures = Screening.diff(possible, activeSet)
            kktViolation = checkFailures.nonEmpty
          }
          activeSet = Screening.union(checkFailures, activeSet)
        }
      }

      // ---- record step (src/owl.cpp:321-347) ----
      val devianceRatio = 1.0 - stepDev / nullDeviance
      if (k > 0) devianceChange = math.abs((devs(k - 1) - stepDev) / devs(k - 1))
      devs += stepDev
      devRatios += devianceRatio
      betasOut += beta.clone()
      betaPrev = beta.clone()
      passesOut += stepPasses
      activeSetsOut += activeSet
      if (params.diagnostics) diagOut += stepDiag

      // n_coefs = rows with any nonzero entry; n_unique = distinct |values|
      // (src/owl.cpp:334-338)
      val nCoefs = nonzeroRows(beta).length
      val nz = scala.collection.mutable.TreeSet.empty[Double]
      var t = 0
      while (t < beta.length) { if (beta(t) != 0.0) nz += math.abs(beta(t)); t += 1 }
      nUniqueOut += nz.size

      // early stopping (src/owl.cpp:350-359)
      if (nCoefs > 0 && k > 0 &&
        (devianceChange < tolDevChange || devianceRatio > tolDevRatio)) {
        k += 1
        stop = true
      } else if (nz.size > maxVariables) {
        // drop this step (reference trims at k without incrementing)
        betasOut.remove(betasOut.length - 1)
        devs.remove(devs.length - 1)
        devRatios.remove(devRatios.length - 1)
        passesOut.remove(passesOut.length - 1)
        nUniqueOut.remove(nUniqueOut.length - 1)
        activeSetsOut.remove(activeSetsOut.length - 1)
        if (params.diagnostics && diagOut.nonEmpty) diagOut.remove(diagOut.length - 1)
        stop = true
      } else {
        k += 1
      }
    }

    val kept = betasOut.length

    // ---- rescale to original units (src/rescale.h:8-31) ----
    val interceptsOut = new Array[Array[Double]](kept)
    val coefsOut = new Array[Array[Double]](kept)
    val yScaleArr = Array.fill(m)(1.0) // y_scale is 1 for every family
    var s = 0
    while (s < kept) {
      val b = betasOut(s)
      val ic = new Array[Double](m)
      val cf = new Array[Double](p * m)
      var kk = 0
      while (kk < m) {
        var xbarBeta = 0.0
        var r = off
        while (r < pInt) {
          val v = b(kk * pInt + r) * yScaleArr(kk) / xScale(r)
          cf(kk * p + (r - off)) = v
          xbarBeta += xCenter(r) * v
          r += 1
        }
        // Without a fitted intercept the reference drops both y_center
        // and the x-centering offset from served predictions (rescale.h
        // only restores them onto the intercept row) — leaving every
        // prediction biased by mean(y) - sum(c_j b_j). We keep the
        // COEFFICIENTS reference-faithful but carry the offset in the
        // intercepts slot so linearPredictor/serving are unbiased.
        val yC = if (kk < yCenter.length) yCenter(kk) else 0.0
        ic(kk) =
          if (intercept) b(kk * pInt) / xScale(0) * yScaleArr(kk) + yC - xbarBeta
          else yC - xbarBeta
        kk += 1
      }
      interceptsOut(s) = ic
      coefsOut(s) = cf
      s += 1
    }

    SlopeModel(
      family = params.family,
      fitIntercept = intercept,
      p = p, m = m,
      nClasses = nClasses,
      classNames = classNames,
      intercepts = interceptsOut,
      coefs = coefsOut,
      sigma = sigmas.take(kept),
      lambda = lambda.map(_ / n),
      nullDeviance = nullDeviance,
      deviances = devs.toArray,
      devianceRatios = devRatios.toArray,
      passes = passesOut.toArray,
      nUnique = nUniqueOut.toArray,
      activeSets = activeSetsOut.toArray,
      xCenter = xCenter,
      xScale = xScale,
      diagnostics = diagOut.toArray)
  }

  /** The lambda-max row weights v(y) (`src/lambdaMax.h:8-40`) over
    * internal labels; binomial and multinomial read the label `moments`
    * (mean, population sd) their class counts give. */
  private def lambdaMaxRowWeights(family: Family, m: Int,
                                  moments: Option[(Array[Double], Array[Double])])
    : Array[Double] => Array[Double] = family match {
    case Gaussian => (y: Array[Double]) => y
    case Binomial =>
      // y_new = (y+1)/2 centered by its mean (lambdaMax.h:19-24)
      val muNew = (moments.get._1(0) + 1.0) / 2.0
      (y: Array[Double]) => Array((y(0) + 1.0) / 2.0 - muNew)
    case Poisson => (y: Array[Double]) => Array(1.0 - y(0))
    case Multinomial =>
      // standardized one-hot columns (lambdaMax.h:28-40)
      val (yMean, ySd) = moments.get
      (y: Array[Double]) => {
        val out = new Array[Double](m)
        var k = 0
        while (k < m) { out(k) = (y(k) - yMean(k)) / ySd(k); k += 1 }
        out
      }
  }

  /** |gradient| of the null model from the standardized X^T v of the
    * moments pass (`src/lambdaMax.h:42-60`). Returns the penalized
    * entries only (intercept row shed), length p*m. */
  private def lambdaMaxGradient(g: Array[Double], family: Family, ySd: Array[Double],
                                m: Int, pInt: Int, off: Int): Array[Double] = {
    // multinomial: multiply column k back by y_std(k) (lambdaMax.h:42-45)
    if (family == Multinomial) {
      var k = 0
      while (k < m) {
        var r = 0
        while (r < pInt) { g(k * pInt + r) *= ySd(k); r += 1 }
        k += 1
      }
    }
    // shed the intercept row, take |.|
    val out = new Array[Double]((pInt - off) * m)
    var k = 0
    while (k < m) {
      var r = off
      while (r < pInt) {
        out(k * (pInt - off) + (r - off)) = math.abs(g(k * pInt + r))
        r += 1
      }
      k += 1
    }
    out
  }
}

/** The summary of a fit's rows, and the one check of their values
  * ([[add]]; a null row is rejected before it, by a caller that names
  * its column or its row). [[Slope.probe]] folds a fit's input into it
  * before anything is cached, and [[Slope.fitLocal]] its own rows. It
  * holds the row count, the feature count p of the first row (-1 before
  * any row), and the label summary — `ySum` per gaussian target,
  * `classCounts` per class label of the binomial and multinomial
  * families. */
private[slope] final class ProbeStats(family: String) extends Serializable {
  var n = 0L
  var p = -1
  var ySum: Array[Double] = Array.empty
  val classCounts = scala.collection.mutable.HashMap.empty[String, Long]
  private val gaussian = family == "gaussian"
  private val classes = family == "binomial" || family == "multinomial"

  /** Checks one row and adds it to the summary. The features must be as
    * long as the first row's and finite (NaN or infinite values would
    * poison every pass sum; the reference rejects NA too,
    * `R/owl.R:350`), and a gaussian label array as long as the first
    * row's. Labels sum in the order rows are added. */
  def add(x: Vector, y: Any): Unit = {
    if (n == 0) p = x.size
    require(x.size == p, ProbeStats.featureLength(x.size, p))
    require(ProbeStats.allFinite(x), "non-finite (NaN or infinite) feature values are not allowed")
    val labelIsArray = y.isInstanceOf[scala.collection.Seq[_]] || y.isInstanceOf[Array[Double]]
    Slope.checkArrayLabel(labelIsArray, family)
    if (gaussian) {
      val ys = if (labelIsArray) Slope.anyToDoubleArray(y) else Array(Slope.anyToDouble(y))
      if (n == 0) ySum = new Array[Double](ys.length)
      require(ys.length == ySum.length, ProbeStats.labelLength(ys.length, ySum.length))
      var k = 0
      while (k < ys.length) { ySum(k) += ys(k); k += 1 }
    } else if (classes) {
      val c = y.toString
      classCounts(c) = classCounts.getOrElse(c, 0L) + 1
    }
    n += 1
  }
}

private[slope] object ProbeStats {
  /** A task result's size as [[OrderedFold]] budgets it: a few label
    * sums or class counts. */
  val Bytes = 1024L

  private def featureLength(got: Int, expected: Int): String =
    s"feature vector length $got != expected $expected " +
      "(all rows must have the same dimensionality)"

  private def labelLength(got: Int, expected: Int): String =
    s"label array length $got != expected $expected " +
      "(all rows must have the same number of targets)"

  /** Whether every stored value of `v` is finite (implicit zeros are). */
  private def allFinite(v: Vector): Boolean = {
    val vals = v match {
      case d: DenseVector => d.values
      case s: SparseVector => s.values
    }
    var i = 0
    while (i < vals.length && java.lang.Double.isFinite(vals(i))) i += 1
    i == vals.length
  }

  /** `b`, a later run of rows, folded into `a`; both runs' rows must
    * agree on p and on the number of gaussian targets. */
  def merge(a: ProbeStats, b: ProbeStats): ProbeStats = {
    if (a.n == 0) { a.p = b.p; a.ySum = b.ySum }
    else if (b.n > 0) {
      require(b.p == a.p, featureLength(b.p, a.p))
      require(b.ySum.length == a.ySum.length, labelLength(b.ySum.length, a.ySum.length))
      var k = 0
      while (k < a.ySum.length) { a.ySum(k) += b.ySum(k); k += 1 }
    }
    a.n += b.n
    b.classCounts.foreach { case (c, k) =>
      a.classCounts(c) = a.classCounts.getOrElse(c, 0L) + k }
    a
  }
}

/** The probe's task: folds a run of [[Slope.selectFrame]] rows into a
  * [[ProbeStats]], rejecting null features or labels with a message
  * that names their column; [[ProbeStats.add]] checks the rest. */
private[slope] final class ProbeTask(featuresCol: String, labelCol: String, family: String)
    extends ((TaskContext, Iterator[Row]) => ProbeStats) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[Row]): ProbeStats = {
    val s = new ProbeStats(family)
    while (rows.hasNext) {
      val r = rows.next()
      require(!r.isNullAt(0), s"null feature vector in column '$featuresCol'")
      require(!r.isNullAt(1), s"null label in column '$labelCol'")
      s.add(Slope.toVec(r.get(0), featuresCol), r.get(1))
    }
    s
  }
}
