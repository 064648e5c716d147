package graft.slope

import graft.slope.kernels.Stats.{truncExp, truncLog}
import org.apache.commons.math3.special.Gamma

/** GLM family strategy: per-row primal loss, Fenchel dual (for the
  * duality-gap stopping rule), and pseudo-gradient d(loss)/d(linpred).
  * The true gradient is X^T * pseudoGradient, accumulated by one
  * distributed pass.
  *
  * Semantics mirror the reference's family classes
  * (jolars/golem `src/families/{gaussian,binomial,poisson,multinomial}.h`),
  * re-expressed as row-separable kernels so each quantity is a plain
  * `sum over rows` — exactly what a Spark aggregation computes.
  *
  * Encoding conventions preserved from the reference:
  *  - binomial y is {-1, +1} (`R/preProcessResponse.R:42`)
  *  - multinomial y is a one-hot matrix over the first m = K-1 classes;
  *    the K-th class is the implicit reference with logit 0
  *    (`R/preProcessResponse.R:62-68`)
  *  - gaussian y arrives centered by its mean (`R/preProcessResponse.R:10-13`)
  */
sealed trait Family extends Serializable {
  def name: String

  /** m = number of internal targets for K classes / raw labels. */
  def nTargets(nClasses: Int): Int = 1

  /** Per-row primal loss contribution. */
  def primalRow(y: Array[Double], lp: Array[Double]): Double

  /** Per-row dual objective contribution. */
  def dualRow(y: Array[Double], lp: Array[Double]): Double

  /** Per-row pseudo-gradient, written into `out` (length m). */
  def pseudoGradientRow(y: Array[Double], lp: Array[Double], out: Array[Double]): Unit
}

object Family {
  def apply(name: String): Family = name match {
    case "gaussian"    => Gaussian
    case "binomial"    => Binomial
    case "poisson"     => Poisson
    case "multinomial" => Multinomial
    case other => throw new IllegalArgumentException(s"unknown family: $other")
  }
}

/** 0.5*||y - Xb||^2 (reference `src/families/gaussian.h:21-45`), summed
  * over targets. m > 1 (multi-task matrix response) is an EXTENSION
  * beyond the reference, which rejects matrix gaussian responses
  * (`R/preProcessResponse.R:7-8`); loss and penalty here run jointly
  * over the p x m coefficient matrix, anchored by `MultiTaskSpec`'s
  * engine-independent certificates. For m = 1 the loops below reduce
  * bit-for-bit to the scalar formulas.
  */
case object Gaussian extends Family {
  val name = "gaussian"
  def primalRow(y: Array[Double], lp: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < y.length) { val r = y(k) - lp(k); s += 0.5 * r * r; k += 1 }
    s
  }
  def dualRow(y: Array[Double], lp: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < y.length) { s += 0.5 * y(k) * y(k) - 0.5 * lp(k) * lp(k); k += 1 }
    s
  }
  def pseudoGradientRow(y: Array[Double], lp: Array[Double], out: Array[Double]): Unit = {
    var k = 0
    while (k < y.length) { out(k) = lp(k) - y(k); k += 1 }
  }
}

/** Logistic loss on y in {-1,+1} (reference `src/families/binomial.h:15-44`). */
case object Binomial extends Family {
  val name = "binomial"
  def primalRow(y: Array[Double], lp: Array[Double]): Double =
    truncLog(1.0 + truncExp(-y(0) * lp(0)))
  def dualRow(y: Array[Double], lp: Array[Double]): Double = {
    val r = 1.0 / (1.0 + truncExp(y(0) * lp(0)))
    (r - 1.0) * truncLog(1.0 - r) - r * truncLog(r)
  }
  def pseudoGradientRow(y: Array[Double], lp: Array[Double], out: Array[Double]): Unit =
    out(0) = -y(0) / (1.0 + truncExp(y(0) * lp(0)))
}

/** Poisson negative log-likelihood (reference `src/families/poisson.h:15-38`). */
case object Poisson extends Family {
  val name = "poisson"
  def primalRow(y: Array[Double], lp: Array[Double]): Double =
    -(y(0) * lp(0) - truncExp(lp(0)) - Gamma.logGamma(y(0) + 1.0))
  def dualRow(y: Array[Double], lp: Array[Double]): Double =
    -(truncExp(lp(0)) * (lp(0) - 1.0) - Gamma.logGamma(y(0) + 1.0))
  def pseudoGradientRow(y: Array[Double], lp: Array[Double], out: Array[Double]): Unit =
    out(0) = truncExp(lp(0)) - y(0)
}

/** Multinomial logistic with K-1 targets and an implicit zero logit for
  * the reference class (reference `src/families/multinomial.h:15-56`). */
case object Multinomial extends Family {
  val name = "multinomial"
  override def nTargets(nClasses: Int): Int = nClasses - 1

  /** log(exp(-max) + sum_k exp(lp_k - max)) + max — the reference's exact
    * max-shifted logsumexp including the implicit 0 logit. */
  private def lse(lp: Array[Double]): Double = {
    var mx = lp(0)
    var k = 1
    while (k < lp.length) { if (lp(k) > mx) mx = lp(k); k += 1 }
    var s = math.exp(-mx)
    k = 0
    while (k < lp.length) { s += truncExp(lp(k) - mx); k += 1 }
    truncLog(s) + mx
  }

  def primalRow(y: Array[Double], lp: Array[Double]): Double = {
    var dot = 0.0
    var k = 0
    while (k < lp.length) { dot += y(k) * lp(k); k += 1 }
    lse(lp) - dot
  }

  def dualRow(y: Array[Double], lp: Array[Double]): Double = {
    val l = lse(lp)
    var s = 0.0
    var k = 0
    while (k < lp.length) { s += lp(k) * truncExp(lp(k) - l); k += 1 }
    l - s
  }

  def pseudoGradientRow(y: Array[Double], lp: Array[Double], out: Array[Double]): Unit = {
    val l = lse(lp)
    var k = 0
    while (k < lp.length) { out(k) = truncExp(lp(k) - l) - y(k); k += 1 }
  }
}
