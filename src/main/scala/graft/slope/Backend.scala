package graft.slope

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.graft.{CachedBlockMissing, CachedBlocksRDD}
import org.apache.spark.ml.linalg.{Vector, DenseVector, SparseVector}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.storage.StorageLevel

/** Data-access layer for the SLOPE solvers.
  *
  * Everything n-dimensional (rows, residuals, linear predictors) stays
  * behind this interface; the solvers above it only ever see p- and
  * m-dimensional state (coefficients, gradients, Gram matrices). That is
  * the key architectural change vs the reference, which holds X in RAM
  * and mutates it (`src/standardize.h:20,37`): here standardization is
  * *folded into the row kernels* — the data is never rewritten, which
  * also keeps sparse rows sparse.
  *
  * Coefficient-row numbering: when `fitIntercept`, row 0 is the
  * intercept (the reference's `cbind(1, x)` ones column, `R/owl.R:444-448`)
  * and rows 1..p are features; otherwise rows 0..p-1 are features.
  * `xCenter`/`xScale` use the same numbering with center 0 / scale 1 for
  * the intercept row.
  *
  * Every pass is written once, here: a [[RowPass]] object that folds
  * rows into a buffer, plus its driver-side fold. A backend only says
  * where the rows live and how a pass runs over them ([[runPass]]) —
  * one Spark job, or pinned chunks on the driver — and merges partial
  * buffers in a fixed order, so a pass is a function of the data and
  * its partitioning. A pass object holds the driver state its rows read
  * as plain fields, sized by the active set rather than by p
  * ([[ActiveColumns]]), so a Spark job ships the pass and no broadcast
  * is made. The passes: [[moments]] (a fit's set-up: feature
  * and label moments plus the lambda-max X^T v, in one scan) and
  * [[l1Norms]] (the "l1" scale only); per path step, [[evalActive]]
  * and [[evalPairActive]] (one evaluation scan at one or two points)
  * and [[gramXty]] (the gaussian ADMM Gram). Every call is a full data
  * pass, so callers never ask twice for what they already hold: the
  * path loop hands its full-set evaluation to the next solve as its
  * starting point, FISTA reports the deviance from the evaluation it
  * carries, and the gaussian path slices a Gram from a superset's.
  */
abstract class SlopeBackend(val pRaw: Int, // feature count, excluding intercept
                            val m: Int, // internal targets
                            val fitIntercept: Boolean) {
  def n: Long
  final def pInt: Int = pRaw + (if (fitIntercept) 1 else 0)

  private var xCenter: Array[Double] = new Array[Double](pInt)
  private var xScale: Array[Double] = Array.fill(pInt)(1.0)

  /** Install standardization vectors (coefficient-row numbering). */
  final def setStandardization(c: Array[Double], s: Array[Double]): Unit = {
    xCenter = c; xScale = s
  }

  /** The one launcher: folds every row through `pass` and merges the
    * partial buffers with `pass.merge` in a fixed order. A pass carries
    * its own driver state, so launching it ships the pass and nothing
    * else: no broadcast is made or destroyed. */
  private[slope] def runPass(pass: RowPass): Array[Double]

  /** The set-up moments of a fit in ONE pass ([[MomentsPass]]): feature
    * sums, squares and maxima, the row and sparse-row counts, label sums
    * and squares, and the raw lambda-max X^T v with row weights
    * `rowV(y)` (`src/lambdaMax.h`). Each accumulator sums its own per-row
    * terms in row order, apart from the others, so sharing the scan moves
    * no bit of any of them. Row shapes and values were validated at
    * ingest. */
  def moments(rowV: Array[Double] => Array[Double]): Moments =
    new Moments(pRaw, m, pInt, fitIntercept, runPass(new MomentsPass(pRaw, m, pInt,
      fitIntercept, rowV)))

  /** sum_i |x_ij - c_j| per feature, the "l1" scale statistic. Centered
    * l1 needs every slot; with all-zero centers (sparse path) the stored
    * entries suffice. */
  def l1Norms(center: Array[Double]): Array[Double] =
    runPass(new L1Pass(pRaw, if (center.exists(_ != 0.0)) Some(center) else None))

  /** One [[EvalPass]] at `points` (each |active| x m): primals at every
    * point, dual and gradient terms at the last. */
  private def evalPass(active: Array[Int], points: Seq[Array[Double]], family: Family,
                       needDual: Boolean, needGrad: Boolean): Array[Double] = {
    val weights = points.map { beta =>
      val (w, b) = BackendKernels.effectiveWeights(active, beta, m, fitIntercept, xCenter, xScale)
      new PointWeights(w, b)
    }
    runPass(new EvalPass(ActiveColumns(active, pRaw, fitIntercept), weights.toArray, family,
      active.length, m, needDual, needGrad))
  }

  /** Raw gradient terms at `from` in a pass buffer -> standardized
    * gradient. */
  private def gradAt(active: Array[Int], res: Array[Double], from: Int): Array[Double] = {
    val a = active.length
    val s0 = java.util.Arrays.copyOfRange(res, from, from + m)
    val rawA = java.util.Arrays.copyOfRange(res, from + m, from + m + a * m)
    BackendKernels.standardizeGrad(active, rawA, s0, m, fitIntercept, xCenter, xScale)
  }

  /** Fused pass at coefficients `betaActive` (|active| x m, column-major)
    * over standardized active columns: returns
    * (sum primal, sum dual (0 unless needDual), gradient |active| x m).
    */
  def evalActive(active: Array[Int], betaActive: Array[Double], family: Family,
                 needDual: Boolean, needGrad: Boolean): (Double, Double, Array[Double]) = {
    // buffer: [primal, dual, s0(m), A(a*m)]
    val res = evalPass(active, Seq(betaActive), family, needDual, needGrad)
    (res(0), res(1), if (needGrad) gradAt(active, res, 2) else new Array[Double](0))
  }

  /** Primal-only pass (line-search probes). */
  final def primalActive(active: Array[Int], betaActive: Array[Double],
                         family: Family): Double =
    evalActive(active, betaActive, family, needDual = false, needGrad = false)._1

  /** Fused TWO-POINT pass for the speculative FISTA step: primal at
    * the line-search candidate `candActive` PLUS the full
    * (primal, dual, gradient) at the momentum point `nextActive`, in
    * ONE data scan instead of two (at 100 TB that halves both
    * scheduling latency and data I/O for every non-gaussian solver
    * pass). Values equal composing [[primalActive]] + [[evalActive]]
    * exactly: each accumulator sums the same per-row terms in the same
    * order, and partial buffers merge in the same fixed order.
    * Returns (gCand, gNext, dualNext, gradNext). */
  def evalPairActive(active: Array[Int], candActive: Array[Double],
                     nextActive: Array[Double], family: Family)
    : (Double, Double, Double, Array[Double]) = {
    // buffer: [gCand, gNext, dualNext, s0(m), A(a*m)]  (grad terms at next)
    val res = evalPass(active, Seq(candActive, nextActive), family,
      needDual = true, needGrad = true)
    (res(0), res(1), res(2), gradAt(active, res, 3))
  }

  /** Gram matrix of standardized active columns (|a| x |a|, column-major)
    * and Xs_active^T y (|a| x m). One pass; |a| must be driver-sized.
    * Each entry depends only on its own pair of columns, so the entries
    * of a subset are a slice of a superset's ([[BackendKernels.sliceGram]]). */
  def gramXty(active: Array[Int]): (Array[Double], Array[Double]) = {
    val a = active.length
    val res = runPass(new GramPass(ActiveColumns(active, pRaw, fitIntercept), a, m))
    BackendKernels.assembleGram(active, res, a, m, n, fitIntercept, xCenter, xScale)
  }

  /** Standardized active matrix (row-major n x |a|) + Xs^T y, for the
    * wide-ADMM Woodbury branch (m = 1 only). None when the rows are not
    * driver-resident — the distributed backend keeps the Gram form so
    * the cluster stays out of the ADMM inner loop. */
  def activeMatrixXty(active: Array[Int])
    : Option[(Array[Double], Array[Double])] = None

  /** The standardized value of coefficient row `row` in feature row `x`
    * (`activeMatrixXty`'s entries). */
  protected final def standardized(x: Vector, row: Int): Double =
    if (fitIntercept && row == 0) 1.0 / xScale(0)
    else (x(if (fitIntercept) row - 1 else row) - xCenter(row)) / xScale(row)
}

private[slope] object BackendKernels extends Serializable {

  /** `f(j, x_j)` for every stored entry of `x`, in index order: every
    * slot of a dense vector, the listed ones of a sparse vector. Spark's
    * `Vector.foreachActive` walks an iterator of `(index, value)` tuples
    * built per entry; this loops over the backing arrays in the same
    * order, so every sum built on it is unchanged. */
  def foreachStored(x: Vector)(f: (Int, Double) => Unit): Unit = x match {
    case d: DenseVector =>
      val v = d.values
      var j = 0
      while (j < v.length) { f(j, v(j)); j += 1 }
    case s: SparseVector =>
      val idx = s.indices; val v = s.values
      var t = 0
      while (t < idx.length) { f(idx(t), v(t)); t += 1 }
  }

  /** `f(slot, x_j)` for every active feature j of `x` ([[ActiveColumns]]):
    * the active features of a dense row in ascending index order, the
    * stored entries of a sparse row whose feature is active (`look`, the
    * columns' [[ActiveColumns.lookup]]), in index order. */
  def foreachActive(x: Vector, cols: ActiveColumns, look: Array[Int])
                   (f: (Int, Double) => Unit): Unit = x match {
    case d: DenseVector =>
      val v = d.values; val feat = cols.features; val slots = cols.slots
      var i = 0
      while (i < feat.length) { f(slots(i), v(feat(i))); i += 1 }
    case s: SparseVector =>
      val idx = s.indices; val v = s.values
      var t = 0
      while (t < idx.length) {
        val slot = look(idx(t))
        if (slot >= 0) f(slot, v(t))
        t += 1
      }
  }

  /** Adds one row's gradient terms at pseudo-gradient `pg` into `buf`:
    * s0 (m) at `from`, then A = x_j * pg_k over active feature slots
    * (a x m, column-major) — the raw form [[standardizeGrad]] folds. Each
    * slot takes one term per row, so the loop order within a row moves
    * no bit. */
  def gradRowUpdate(x: Vector, pg: Array[Double], cols: ActiveColumns, look: Array[Int],
                    buf: Array[Double], from: Int, a: Int, m: Int): Unit = {
    var k = 0
    while (k < m) { buf(from + k) += pg(k); k += 1 }
    val aFrom = from + m
    foreachActive(x, cols, look) { (slot, v) =>
      var kk = 0
      while (kk < m) { buf(aFrom + kk * a + slot) += v * pg(kk); kk += 1 }
    }
  }

  /** lp_k = b_k + sum_j w_jk x_j over the active features of `x`, where
    * `w(k)(slot)` is the weight of the feature in active slot `slot`: a
    * dense row loops over the active features, a sparse row over its
    * stored entries through `look`. The skipped terms are those of a
    * zero weight, each an exact ±0 (features are finite); adding ±0 to a
    * partial sum that starts at +0.0 never changes it, so the sum holds
    * the bits of a loop over every feature. */
  def linPred(x: Vector, cols: ActiveColumns, look: Array[Int], w: Array[Array[Double]],
              b: Array[Double], out: Array[Double]): Unit = {
    val m = b.length
    var k = 0
    while (k < m) { out(k) = b(k); k += 1 }
    x match {
      case d: DenseVector =>
        val v = d.values; val feat = cols.features; val slots = cols.slots
        k = 0
        while (k < m) {
          val wk = w(k)
          var i = 0
          var s = 0.0
          while (i < feat.length) { s += wk(slots(i)) * v(feat(i)); i += 1 }
          out(k) += s
          k += 1
        }
      case s: SparseVector =>
        val idx = s.indices; val v = s.values
        k = 0
        while (k < m) {
          val wk = w(k)
          var t = 0
          var acc = 0.0
          while (t < idx.length) {
            val slot = look(idx(t))
            if (slot >= 0) acc += wk(slot) * v(t)
            t += 1
          }
          out(k) += acc
          k += 1
        }
    }
  }

  /** Effective weights/offsets so that
    * lp = W^T x + b  ==  sum_{j active} beta_j * (x_j - c_j)/s_j
    *                     + beta_0 / s_0.
    * Returns (w: m arrays of length |active|, indexed by active slot, the
    * intercept's slot left 0; b: length m).
    *
    * The intercept coordinate carries its own scale s_0 (set to sqrt(n)
    * by the orchestrator): the raw ones-column has squared norm n, which
    * would dominate the Lipschitz constant and make first-order solver
    * pass counts grow with n. Dividing by sqrt(n) is an exact
    * reparameterization (the intercept is unpenalized) that pins its
    * curvature at 1 regardless of data size. */
  def effectiveWeights(active: Array[Int], betaActive: Array[Double],
                       m: Int, fitIntercept: Boolean,
                       xCenter: Array[Double], xScale: Array[Double])
    : (Array[Array[Double]], Array[Double]) = {
    val a = active.length
    val w = Array.fill(m)(new Array[Double](a))
    val b = new Array[Double](m)
    var k = 0
    while (k < m) {
      var i = 0
      while (i < a) {
        val row = active(i)
        val beta = betaActive(k * a + i)
        if (fitIntercept && row == 0) b(k) += beta / xScale(0)
        else {
          val wv = beta / xScale(row)
          w(k)(i) = wv
          b(k) -= wv * xCenter(row)
        }
        i += 1
      }
      k += 1
    }
    (w, b)
  }

  /** Per-row raw accumulation for the Gram pass. Buffer layout:
    * [G_raw(a*a), colSum(a), xty_raw(a*m), ySum(m)]. */
  def gramRowUpdate(x: Vector, y: Array[Double], cols: ActiveColumns, look: Array[Int],
                    buf: Array[Double], a: Int, m: Int,
                    tmpSlot: Array[Int], tmpVal: Array[Double]): Unit = {
    val gLen = a * a
    var cnt = 0
    foreachActive(x, cols, look) { (s, v) =>
      if (v != 0.0) { tmpSlot(cnt) = s; tmpVal(cnt) = v; cnt += 1 }
    }
    var t1 = 0
    while (t1 < cnt) {
      val s1 = tmpSlot(t1); val v1 = tmpVal(t1)
      buf(gLen + s1) += v1
      var k = 0
      while (k < m) { buf(gLen + a + k * a + s1) += v1 * y(k); k += 1 }
      var t2 = 0
      while (t2 < cnt) { buf(tmpSlot(t2) * a + s1) += v1 * tmpVal(t2); t2 += 1 }
      t1 += 1
    }
    var k = 0
    while (k < m) { buf(gLen + a + a * m + k) += y(k); k += 1 }
  }

  /** Fold the raw Gram-pass buffer into the standardized Gram and
    * Xs^T y (both column-major). */
  def assembleGram(active: Array[Int], res: Array[Double], a: Int, m: Int,
                   n: Long, fitIntercept: Boolean, xCenter: Array[Double],
                   xScale: Array[Double]): (Array[Double], Array[Double]) = {
    val gLen = a * a
    val colSum = java.util.Arrays.copyOfRange(res, gLen, gLen + a)
    val xtyRaw = java.util.Arrays.copyOfRange(res, gLen + a, gLen + a + a * m)
    val ySum = java.util.Arrays.copyOfRange(res, gLen + a + a * m, res.length)
    val nn = n.toDouble
    val gram = new Array[Double](a * a)
    val xty = new Array[Double](a * m)
    var i = 0
    while (i < a) {
      val ri = active(i)
      val iIsInt = fitIntercept && ri == 0
      val ci = xCenter(ri); val si = xScale(ri)
      var j = 0
      while (j < a) {
        val rj = active(j)
        val jIsInt = fitIntercept && rj == 0
        val cj = xCenter(rj); val sj = xScale(rj)
        gram(j * a + i) =
          if (iIsInt && jIsInt) nn / (si * sj)
          else if (iIsInt) (colSum(j) - nn * cj) / (si * sj)
          else if (jIsInt) (colSum(i) - nn * ci) / (si * sj)
          else (res(j * a + i) - ci * colSum(j) - cj * colSum(i) + nn * ci * cj) / (si * sj)
        j += 1
      }
      var k = 0
      while (k < m) {
        xty(k * a + i) =
          if (iIsInt) ySum(k) / si
          else (xtyRaw(k * a + i) - ci * ySum(k)) / si
        k += 1
      }
      i += 1
    }
    (gram, xty)
  }

  /** The Gram and Xs^T y of `active` cut from those of `of` (both sorted
    * coefficient rows; `gram` |of| x |of| and `xty` |of| x m, as
    * [[SlopeBackend.gramXty]] returns them), or None unless `active` is
    * a subset of `of`. Every [[assembleGram]] entry is a function of its
    * own pair's raw sums, which the Gram pass accumulates row by row the
    * same way whatever else is active, so the slice holds the bits a
    * Gram pass over `active` would return. */
  def sliceGram(of: Array[Int], gram: Array[Double], xty: Array[Double],
                active: Array[Int], m: Int): Option[(Array[Double], Array[Double])] = {
    val u = of.length; val a = active.length
    val pos = new Array[Int](a)
    var i = 0; var t = 0
    while (i < a) {
      while (t < u && of(t) < active(i)) t += 1
      if (t == u || of(t) != active(i)) return None
      pos(i) = t
      i += 1
    }
    val g = new Array[Double](a * a)
    val x = new Array[Double](a * m)
    var j = 0
    while (j < a) {
      i = 0
      while (i < a) { g(j * a + i) = gram(pos(j) * u + pos(i)); i += 1 }
      j += 1
    }
    var k = 0
    while (k < m) {
      i = 0
      while (i < a) { x(k * a + i) = xty(k * u + pos(i)); i += 1 }
      k += 1
    }
    Some((g, x))
  }

  /** Fold a raw accumulation (A = sum x_j * pg_k over active feature slots,
    * s0 = sum pg_k) into the standardized-space gradient. */
  def standardizeGrad(active: Array[Int], rawA: Array[Double], s0: Array[Double],
                      m: Int, fitIntercept: Boolean,
                      xCenter: Array[Double], xScale: Array[Double]): Array[Double] = {
    val a = active.length
    val g = new Array[Double](a * m)
    var k = 0
    while (k < m) {
      var i = 0
      while (i < a) {
        val row = active(i)
        g(k * a + i) =
          if (fitIntercept && row == 0) s0(k) / xScale(0)
          else (rawA(k * a + i) - xCenter(row) * s0(k)) / xScale(row)
        i += 1
      }
      k += 1
    }
    g
  }
}
/** One solver pass: `apply` folds a run of rows (a partition, or a
  * chunk of the driver's rows) into a fresh accumulator, with per-run
  * scratch allocated there, once; `merge` combines two accumulators.
  * Every pass is a named top-level class holding only what its tasks
  * read — its driver state included, as plain fields that travel in the
  * task binary (broadcast once per executor by Spark with the stage), so
  * no pass makes a broadcast of its own. Launching one on Spark costs
  * the serializability check and nothing more: the closure cleaner
  * returns at once for a class that is not a lambda, and no pass
  * captures the backend. A p-length lookup is built once per run of
  * rows, in `apply`, never per row. */
private[slope] abstract class RowPass
    extends ((TaskContext, Iterator[(Vector, Array[Double])]) => Array[Double])
    with Serializable {
  /** The accumulator's length, which also sizes a task's result. */
  def length: Int
  def zero(): Array[Double] = new Array[Double](length)
  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
  /** Whether the local backend splits large inputs into parallel chunks
    * for this pass (the per-step evaluation and Gram passes); the
    * once-per-fit set-up passes scan the rows in one run. */
  def chunked: Boolean = false
}

/** The active feature columns of a pass, as its tasks read them: the raw
  * index of each active non-intercept coefficient row, ascending, and
  * that row's slot (its position in the active set). Its size is the
  * active set's, whatever p is; a task expands it to a p-length
  * [[lookup]] once, never per row. */
private[slope] final class ActiveColumns(val pRaw: Int, val features: Array[Int],
                                         val slots: Array[Int]) extends Serializable {
  /** Raw feature index -> active slot (-1 = inactive). */
  def lookup(): Array[Int] = {
    val look = Array.fill(pRaw)(-1)
    var i = 0
    while (i < features.length) { look(features(i)) = slots(i); i += 1 }
    look
  }
}

private[slope] object ActiveColumns {
  /** The columns of `active` (coefficient rows; an intercept row 0 has no
    * column). */
  def apply(active: Array[Int], pRaw: Int, fitIntercept: Boolean): ActiveColumns = {
    val off = if (fitIntercept) 1 else 0
    val slots = active.indices.filterNot(i => fitIntercept && active(i) == 0)
      .sortBy(active(_)).toArray
    new ActiveColumns(pRaw, slots.map(active(_) - off), slots)
  }
}

/** Effective weights/offsets of one evaluated point
  * ([[BackendKernels.effectiveWeights]]). */
private[slope] final class PointWeights(val w: Array[Array[Double]], val b: Array[Double])
  extends Serializable

/** The set-up moments pass behind [[SlopeBackend.moments]]. Buffer (see
  * [[Moments]]): [sum x(p), n, nSparse, sum x^2(p), max x(p), sum y(m),
  * sum y^2(m), X^T v(pInt*m), sum v(m)], with v = rowV(y) and the X^T v
  * rows in coefficient-row numbering (an intercept row stays 0). Implicit
  * zeros of sparse rows count in max. */
private[slope] final class MomentsPass(p: Int, m: Int, pInt: Int, fitIntercept: Boolean,
                                       rowV: Array[Double] => Array[Double])
    extends RowPass {
  import Moments._
  def length: Int = sizeAt(p, m, pInt)
  override def zero(): Array[Double] = {
    val z = new Array[Double](length)
    java.util.Arrays.fill(z, maxAt(p), maxAt(p) + p, Double.NegativeInfinity)
    z
  }
  def apply(ctx: TaskContext, rows: Iterator[(Vector, Array[Double])]): Array[Double] = {
    val acc = zero()
    val sq = sumSqAt(p); val mx = maxAt(p); val sy = ySumAt(p); val syy = sy + m
    val xv = xtvAt(p, m); val sv = xv + pInt * m
    val off = if (fitIntercept) 1 else 0
    while (rows.hasNext) {
      val (x, y) = rows.next()
      val v = rowV(y)
      if (x.isInstanceOf[SparseVector]) {
        acc(sparseAt(p)) += 1
        var j = 0
        while (j < p) { if (0.0 > acc(mx + j)) acc(mx + j) = 0.0; j += 1 }
      }
      BackendKernels.foreachStored(x) { (j, vx) =>
        acc(j) += vx
        acc(sq + j) += vx * vx
        if (vx > acc(mx + j)) acc(mx + j) = vx
        var k = 0
        while (k < m) { acc(xv + k * pInt + j + off) += vx * v(k); k += 1 }
      }
      acc(countAt(p)) += 1
      var k = 0
      while (k < m) {
        acc(sy + k) += y(k); acc(syy + k) += y(k) * y(k); acc(sv + k) += v(k)
        k += 1
      }
    }
    acc
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val mx = maxAt(p)
    var i = 0
    while (i < a.length) {
      if (i >= mx && i < mx + p) { if (b(i) > a(i)) a(i) = b(i) }
      else a(i) += b(i)
      i += 1
    }
    a
  }
}

/** What one [[MomentsPass]] measured, and the set-up statistics a fit
  * derives from it with the formulas of the reference
  * (`src/standardize.h`, `src/lambdaMax.h`). */
final class Moments private[slope] (p: Int, m: Int, pInt: Int, fitIntercept: Boolean,
                                    res: Array[Double]) {
  import Moments._
  private def cnt: Double = res(countAt(p))

  /** Per-feature raw means (length p). */
  def featureMeans: Array[Double] = Array.tabulate(p)(j => res(j) / cnt)

  /** Whether any row uses a sparse representation — counted exactly,
    * not sampled, since the flag steers the centering default. */
  def anySparse: Boolean = res(sparseAt(p)) > 0

  /** The "l2" | "sd" | "max" scale statistic per feature about `center`
    * (0s if no centering); centered l2 and sd derive from the moments. */
  def spread(center: Array[Double], scale: String): Array[Double] = {
    val sq = sumSqAt(p); val mx = maxAt(p)
    scale match {
      case "l2" =>
        Array.tabulate(p)(j => math.sqrt(math.max(0.0, res(sq + j) - cnt * center(j) * center(j))))
      case "sd" =>
        Array.tabulate(p)(j =>
          math.sqrt(math.max(0.0, res(sq + j) - cnt * center(j) * center(j)) / (cnt - 1.0)))
      case "max" =>
        Array.tabulate(p)(j => res(mx + j) - center(j))
    }
  }

  /** Per-target label mean and population sd. */
  def yMoments: (Array[Double], Array[Double]) = {
    val sy = ySumAt(p)
    labelMoments(java.util.Arrays.copyOfRange(res, sy, sy + m),
      java.util.Arrays.copyOfRange(res, sy + m, sy + 2 * m), cnt)
  }

  /** Xs^T v over all pInt coefficient rows (pInt x m, column-major),
    * standardized by `xCenter`/`xScale` (coefficient-row numbering). */
  def xtv(xCenter: Array[Double], xScale: Array[Double]): Array[Double] = {
    val xv = xtvAt(p, m); val sv = xv + pInt * m
    val out = new Array[Double](pInt * m)
    var k = 0
    while (k < m) {
      val vSum = res(sv + k)
      var r = 0
      while (r < pInt) {
        out(k * pInt + r) =
          if (fitIntercept && r == 0) vSum / xScale(0)
          else (res(xv + k * pInt + r) - xCenter(r) * vSum) / xScale(r)
        r += 1
      }
      k += 1
    }
    out
  }
}

private[slope] object Moments {
  // buffer offsets of a MomentsPass
  def countAt(p: Int): Int = p
  def sparseAt(p: Int): Int = p + 1
  def sumSqAt(p: Int): Int = p + 2
  def maxAt(p: Int): Int = 2 * p + 2
  def ySumAt(p: Int): Int = 3 * p + 2
  def xtvAt(p: Int, m: Int): Int = 3 * p + 2 + 2 * m
  def sizeAt(p: Int, m: Int, pInt: Int): Int = xtvAt(p, m) + pInt * m + m

  /** Per-target mean and population sd (multinomial lambdaMax needs
    * stddev(y, 1) — reference `src/lambdaMax.h:30-31`) from label sums
    * and sums of squares over `cnt` rows. */
  def labelMoments(sum: Array[Double], sumSq: Array[Double], cnt: Double)
    : (Array[Double], Array[Double]) = {
    val mean = sum.map(_ / cnt)
    val sd = Array.tabulate(sum.length)(k =>
      math.sqrt(math.max(0.0, sumSq(k) / cnt - mean(k) * mean(k))))
    (mean, sd)
  }
}

/** sum_i |x_ij - c_j| per feature. Uncentered (`center` None) only the
  * stored entries contribute. */
private[slope] final class L1Pass(p: Int, center: Option[Array[Double]])
    extends RowPass {
  def length: Int = p
  def apply(ctx: TaskContext, rows: Iterator[(Vector, Array[Double])]): Array[Double] = {
    val acc = zero()
    val c = center.orNull
    while (rows.hasNext) {
      val x = rows.next()._1
      if (c == null) BackendKernels.foreachStored(x)((j, v) => acc(j) += math.abs(v))
      else { var j = 0; while (j < p) { acc(j) += math.abs(x(j) - c(j)); j += 1 } }
    }
    acc
  }
}

/** The fused evaluation pass behind `evalActive` (one point) and
  * `evalPairActive` (two points), at `points` over the active `cols`.
  * Buffer: the primal at every point but the last, then [primal, dual,
  * s0(m), A(a*m)] at the last; the dual and gradient parts only when
  * asked for. */
private[slope] final class EvalPass(cols: ActiveColumns, points: Array[PointWeights],
                                    family: Family, a: Int, m: Int,
                                    needDual: Boolean, needGrad: Boolean)
    extends RowPass {
  override def chunked: Boolean = true
  def length: Int = points.length + 1 + (if (needGrad) m + a * m else 0)
  def apply(ctx: TaskContext, rows: Iterator[(Vector, Array[Double])]): Array[Double] = {
    val look = cols.lookup()
    val last = points.length - 1
    val acc = zero()
    val lp = new Array[Double](m)
    val pg = new Array[Double](m)
    while (rows.hasNext) {
      val (x, y) = rows.next()
      var t = 0
      while (t <= last) {
        BackendKernels.linPred(x, cols, look, points(t).w, points(t).b, lp)
        acc(t) += family.primalRow(y, lp)
        t += 1
      }
      if (needDual) acc(last + 1) += family.dualRow(y, lp)
      if (needGrad) {
        family.pseudoGradientRow(y, lp, pg)
        BackendKernels.gradRowUpdate(x, pg, cols, look, acc, last + 2, a, m)
      }
    }
    acc
  }
}

/** Raw Gram + X^T y accumulation ([[BackendKernels.gramRowUpdate]]). */
private[slope] final class GramPass(cols: ActiveColumns, a: Int, m: Int)
    extends RowPass {
  override def chunked: Boolean = true
  def length: Int = a * a + a + a * m + m
  def apply(ctx: TaskContext, rows: Iterator[(Vector, Array[Double])]): Array[Double] = {
    val acc = zero()
    val look = cols.lookup()
    val tmpSlot = new Array[Int](a)
    val tmpVal = new Array[Double](a)
    while (rows.hasNext) {
      val (x, y) = rows.next()
      BackendKernels.gramRowUpdate(x, y, cols, look, acc, a, m, tmpSlot, tmpVal)
    }
    acc
  }
}

/** The one launcher of the engine's jobs: a fit's input probe
  * (`Slope.probe`), every [[RowPass]] and scoring's [[ScorePass]], at
  * any width. It alone decides how a job runs, from the partition count
  * and the byte size of one task result, and folds task results on the
  * driver in task-index order, so a repeated job gives the same bits.
  *
  * The width rule: while `parts x resultBytes` fits the driver budget
  * ([[budget]]), each task runs one partition (the direct case). Above
  * it, one fixed fan-in level: the tasks are consecutive index ranges of
  * partitions ([[RangeCoalescer]]), as many as fit the budget, each task
  * runs its range in index order, and the driver folds the group results
  * in group order. So the driver holds no more than the budget, unless a
  * single result is larger. */
private[slope] object OrderedFold {
  /** The driver's budget for the task results of one job: half of
    * `spark.driver.maxResultSize` (Spark fails a job whose results
    * exceed it), taken as 1 GiB when that is unlimited (0). */
  def budget(sc: SparkContext): Long = {
    val max = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    (if (max > 0) max else 1L << 30) / 2
  }

  /** The task count of a job over `parts` partitions whose results take
    * `resultBytes` each: `parts` while they fit `budget`, else as many
    * as fit (at least one). */
  def groups(parts: Int, resultBytes: Long, budget: Long): Int =
    if (parts.toLong * resultBytes <= budget) parts
    else math.max(1L, budget / resultBytes).toInt

  /** Runs ONE Spark job over `rdd`, or over its [[groups]] ranges,
    * through `launch`, which calls `runJob(input, task, handler)` with
    * the input and handler it is given, so the job's call site names its
    * caller; the job is described as `label` (e.g. `slope GramPass`). A
    * task result that arrives early waits for its predecessors. None
    * when there are no partitions. */
  def run[T, U <: AnyRef](rdd: RDD[T], label: String, resultBytes: Long, budget: Long,
                          merge: (U, U) => U)
                         (launch: (RDD[T], (Int, U) => Unit) => Unit): Option[U] = {
    val parts = rdd.getNumPartitions
    val tasks = groups(parts, resultBytes, budget)
    val input =
      if (tasks == parts) rdd else rdd.coalesce(tasks, shuffle = false, Some(new RangeCoalescer))
    val held = new Array[AnyRef](tasks)
    var next = 0
    var acc: Option[U] = None
    described(rdd.sparkContext, label)(launch(input, { (i: Int, part: U) =>
      held(i) = part
      while (next < tasks && held(next) != null) {
        val r = held(next).asInstanceOf[U]
        acc = Some(acc.fold(r)(merge(_, r)))
        held(next) = null
        next += 1
      }
    }))
    acc
  }

  /** Runs `body` with every job it starts described as `label`, and
    * restores the caller's description after. */
  def described[T](sc: SparkContext, label: String)(body: => T): T = {
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, label)
    try body finally sc.setLocalProperty(key, prev)
  }
}

/** [[OrderedFold]]'s grouping: a parent's partitions as `maxPartitions`
  * consecutive index ranges of near-equal size, in index order, each
  * preferring its first partition's location. Spark's default coalescer
  * groups by locality, which would break the fold order. */
private[slope] final class RangeCoalescer extends PartitionCoalescer with Serializable {
  def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
    val ps = parent.partitions
    val g = math.min(maxPartitions, ps.length)
    Array.tabulate(g) { k =>
      val range = ps.slice((k.toLong * ps.length / g).toInt, ((k + 1L) * ps.length / g).toInt)
      val group = new PartitionGroup(parent.preferredLocations(range.head).headOption)
      group.partitions ++= range
      group
    }
  }
}

/** Distributed backend over an RDD of (features, preprocessed labels):
  * input sizing, persistence, and [[runPass]], which makes every solver
  * pass ONE Spark job that ships the pass object and nothing else: the
  * pass holds its own driver state, sized by the active set, so no
  * broadcast is made per pass. The first pass runs over `rows` and
  * caches them; every later pass runs over a lineage-free view of the
  * cached blocks ([[org.apache.spark.graft.CachedBlocksRDD]]), so its
  * task binary carries no input lineage (SQL plan, generated code). A
  * pass is one `runJob` through [[OrderedFold]] at every width, whose
  * task results fit the driver's budget and fold in task order. A
  * 1000-executor cluster does one shuffle-free job per solver pass,
  * repeated passes agree bit for bit, and the driver adds no per-job
  * bookkeeping on top (see [[RowPass]]).
  */
class DistributedBackend(
    rowsIn: RDD[(Vector, Array[Double])],
    pRaw: Int,
    m: Int,
    fitIntercept: Boolean,
    knownN: Long = -1L) extends SlopeBackend(pRaw, m, fitIntercept) {

  // Size-aware task sizing: every solver pass is ONE job over these
  // rows, so the pass wall time is (rows-per-task x per-row kernel
  // cost) + the per-job floor. Two failure modes, both measured
  // on the bench box (r17 optimization round, guide §2.5):
  //  - too MANY near-empty tasks: a small fit forced down the
  //    distributed path pays ~110 ms/job of launch + collection when
  //    the pass runs 32 near-empty tasks (600k rows, local[32]) —
  //    COALESCE down to the work-derived width (narrow, no shuffle);
  //  - too FEW tasks: a sub-128MB parquet scan arrives as 1-3 splits,
  //    so every one of the path's hundreds of sequential passes ran on
  //    3 of 32 cores (150-380 ms/pass at sf0.1, OPTIMIZATION_r17.md) —
  //    REPARTITION up to the same work-derived width (one shuffle of
  //    the training rows, amortized over every solver pass).
  // The width derives from WORK (feature cells), never from a core
  // constant: ~100k cells/task (the exp/log-heavy non-gaussian row
  // kernels run ~0.25 us/cell, so a task is ~25 ms of compute — an r17
  // sweep over {3, 8, 16, 32, 64} widths at sf0.1 put the minimum at
  // 16-32), capped by the cluster's defaultParallelism — growing past
  // the core count adds scheduling overhead with no concurrency. At
  // 100-TB scale cells/100k far exceeds both the scan layout and the
  // core count, so the policy only ever coalesces there (the pre-r17
  // behavior).
  // The row count comes from `Slope.fit`'s input probe, which runs
  // before the rows are persisted; inputs with no prior count
  // (knownN < 0) keep their layout: sizing is not worth an extra pass.
  val rows: RDD[(Vector, Array[Double])] =
    if (knownN < 0) rowsIn
    else {
      val cells = knownN.toDouble * math.max(1, pRaw) * math.max(1, m)
      val target = math.min(
        math.max(8, math.ceil(cells / 1e5).toLong),
        rowsIn.sparkContext.defaultParallelism.toLong).toInt
      val parts = rowsIn.getNumPartitions
      if (target == parts) rowsIn
      else if (target < parts) rowsIn.coalesce(target)
      // growing costs a full shuffle of the training rows — pay it
      // only when it at least DOUBLES the pass parallelism (the
      // 3-split case it exists for), never to fine-tune an already
      // -wide layout (measured at the 10x frame: repartition 30→32
      // shuffled ~1 GB to gain 2 tasks and LOST ~6 s to the shuffle
      // + GC)
      else if (target >= 2 * parts) rowsIn.repartition(target)
      else rowsIn
    }

  rows.persist(StorageLevel.MEMORY_AND_DISK)

  // Slope.fit passes in the probe's count, which also chose this backend
  lazy val n: Long = if (knownN >= 0) knownN else rows.count()

  private def sc = rows.sparkContext

  // the driver's budget for one pass's task results
  private val budget = OrderedFold.budget(rowsIn.sparkContext)

  // the cached blocks of `rows`, once the first pass has cached them
  @volatile private var cached: RDD[(Vector, Array[Double])] = null

  /** Runs `pass` over the cached view of `rows` once a pass has cached
    * them, over `rows` before that. A view job that fails because a
    * cached block is gone (a lost executor) runs again over `rows`: Spark
    * recomputes only the lost partitions from lineage and caches them
    * again, and the ordered fold returns the bits the view would have
    * (when the lineage recomputes a partition's rows in their order). Any
    * other failure propagates unchanged.
    *
    * `runJob` runs the pass object itself as the task function, so no
    * closure is cleaned, and [[OrderedFold]] sets the job's width from
    * the pass's buffer size and folds task results in task order, so
    * repeated passes agree bit for bit at any width. Every job of a pass
    * is described as `slope <Pass class>`. The `runJob` call must stay in
    * this file: job call sites read `... at Backend.scala:`. */
  private[slope] def runPass(pass: RowPass): Array[Double] = {
    val label = "slope " + pass.getClass.getSimpleName
    def over(input: RDD[(Vector, Array[Double])]): Array[Double] =
      OrderedFold.run[(Vector, Array[Double]), Array[Double]](
          input, label, 8L * pass.length, budget, pass.merge)((in, h) =>
        sc.runJob(in, pass, h)).getOrElse(pass.zero())
    val view = cached
    if (view == null) {
      val res = over(rows)
      cached = new CachedBlocksRDD(rows)
      res
    } else
      try over(view)
      catch { case e: Exception if lostBlock(e) => over(rows) }
  }

  private def lostBlock(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[CachedBlockMissing])

  def unpersist(): Unit = rows.unpersist()
}

/** Local backend over collected rows — used when n*p is driver-sized
  * (all reference-scale problems). It runs the same [[RowPass]] objects
  * as the distributed backend with zero job overhead: this is what
  * makes the path loop (up to 100 sigma steps x thousands of FISTA
  * passes) feasible without 10^5 Spark jobs on small data, exactly
  * mirroring the reference's single-node execution.
  */
class LocalBackend(
    xs: Array[Vector], // raw feature rows
    ys: Array[Array[Double]],
    pRaw: Int,
    m: Int,
    fitIntercept: Boolean) extends SlopeBackend(pRaw, m, fitIntercept) {

  private val rows: Array[(Vector, Array[Double])] = xs.zip(ys)

  val n: Long = rows.length.toLong

  /** A [[RowPass.chunked]] pass over 16,384 rows or more runs as 32
    * chunks on the common ForkJoin pool; any other pass, as one run.
    * The chunk count is fixed (not the core count) and chunks merge in
    * index order, so the summation order is the same on every host —
    * which the golden-file oracle checks depend on. */
  private[slope] def runPass(pass: RowPass): Array[Double] = {
    val nRows = rows.length
    if (!pass.chunked || nRows < 16384) pass(null, rows.iterator)
    else {
      val nChunks = 32
      val chunk = (nRows + nChunks - 1) / nChunks
      val parts = new Array[Array[Double]](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
        parts(c) = pass(null, rows.iterator.slice(c * chunk, (c + 1) * chunk))
      }
      parts.reduceLeft(pass.merge)
    }
  }

  /** Rows are driver-resident: materialize the standardized active
    * matrix directly (standardization folded in, same formulas as the
    * row kernels). */
  override def activeMatrixXty(active: Array[Int])
    : Option[(Array[Double], Array[Double])] = {
    val a = active.length
    val xmat = new Array[Double](rows.length * a)
    val xty = new Array[Double](a)
    var i = 0
    while (i < rows.length) {
      val (x, y) = rows(i)
      var s = 0
      while (s < a) {
        val v = standardized(x, active(s))
        xmat(i * a + s) = v
        xty(s) += v * y(0)
        s += 1
      }
      i += 1
    }
    Some((xmat, xty))
  }
}
