package graft.slope

import graft.slope.kernels.{LambdaSequence, Prox, Screening, Stats}
import org.scalatest.funsuite.AnyFunSuite

class KernelsSpec extends AnyFunSuite {

  def sortedL1Objective(x: Array[Double], v: Array[Double], lam: Array[Double]): Double = {
    var f = 0.0
    for (i <- x.indices) { val d = x(i) - v(i); f += 0.5 * d * d }
    val absSorted = x.map(math.abs).sorted(Ordering[Double].reverse)
    for (i <- x.indices) f += lam(i) * absSorted(i)
    f
  }

  test("prox: hand cases") {
    // lambda all zero -> identity
    val v = Array(3.0, -1.0, 2.0)
    assert(Prox.sortedL1(v, Array(0.0, 0.0, 0.0)).sameElements(v))
    // scalar case: soft threshold
    assert(Prox.sortedL1(Array(5.0), Array(2.0)).sameElements(Array(3.0)))
    assert(Prox.sortedL1(Array(-5.0), Array(2.0)).sameElements(Array(-3.0)))
    assert(Prox.sortedL1(Array(1.0), Array(2.0)).sameElements(Array(0.0)))
  }

  test("prox: output is argmin (random perturbation check)") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val p = 1 + rng.nextInt(20)
      val v = Array.fill(p)(rng.nextGaussian() * 3)
      val lam = Array.fill(p)(math.abs(rng.nextGaussian()))
        .sorted(Ordering[Double].reverse)
      val x = Prox.sortedL1(v, lam)
      val f0 = sortedL1Objective(x, v, lam)
      for (_ <- 1 to 30) {
        val xp = x.clone()
        val j = rng.nextInt(p)
        xp(j) += (rng.nextGaussian()) * 0.1
        assert(sortedL1Objective(xp, v, lam) >= f0 - 1e-9,
          s"perturbation improved objective: v=${v.toList} lam=${lam.toList}")
      }
    }
  }

  test("prox: ties pool to common magnitude") {
    // v = (2, 2), lambda = (3, 1): soft-thresholding separately would give
    // (-1 -> 0, 1) violating the sorted-L1 structure; pooling gives (1, 1) / 2 = avg
    val out = Prox.sortedL1(Array(2.0, 2.0), Array(3.0, 1.0))
    assert(math.abs(out(0) - out(1)) < 1e-12)
    assert(math.abs(out(0) - 0.0) < 1e-12) // (2-3 + 2-1)/2 = 0
  }

  test("qnorm matches known quantiles") {
    assert(math.abs(Stats.qnorm(0.975) - 1.959963984540054) < 1e-9)
    assert(math.abs(Stats.qnorm(0.5)) < 1e-12)
    assert(math.abs(Stats.qnorm(0.9) - 1.2815515655446004) < 1e-9)
  }

  test("bh lambda sequence formula") {
    val lam = LambdaSequence.bh(4, 0.2)
    // lambda_i = qnorm(1 - (i+1)*0.2/8)
    for (i <- 0 until 4)
      assert(math.abs(lam(i) - Stats.qnorm(1.0 - (i + 1) * 0.2 / 8.0)) < 1e-12)
    assert(lam.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("gaussian lambda sequence is non-increasing and >= 0") {
    for (n <- Seq(10L, 100L, 1000L); nl <- Seq(5, 50); q <- Seq(0.05, 0.2)) {
      val lam = LambdaSequence.gaussian(nl, q, n)
      assert(lam.sliding(2).forall(w => w.length < 2 || w(0) >= w(1) - 1e-12),
        s"not non-increasing for n=$n nl=$nl q=$q: ${lam.toList}")
      assert(lam.forall(_ > 0))
    }
  }

  test("oscar lambda sequence") {
    val lam = LambdaSequence.oscar(4, 0.5)
    assert(lam.sameElements(Array(2.5, 2.0, 1.5, 1.0)))
  }

  test("sigmaMax null-model optimality boundary") {
    // at sigma slightly above sigmaMax the zero vector is prox-stable
    val g = Array(3.0, 1.0, 0.5)
    val lam = Array(2.0, 1.5, 1.0)
    val sm = LambdaSequence.sigmaMax(g, lam)
    val eps = 1e-9
    val above = Prox.sortedL1(g, lam.map(_ * sm * (1 + eps)))
    assert(above.forall(x => math.abs(x) < 1e-6))
    val below = Prox.sortedL1(g, lam.map(_ * sm * 0.9))
    assert(below.exists(x => math.abs(x) > 1e-6))
  }

  test("infeasibility zero inside the dual ball") {
    assert(Screening.infeasibility(Array(0.5, -0.3), Array(1.0, 0.8)) == 0.0)
    assert(Screening.infeasibility(Array(2.0, 0.1), Array(1.0, 0.8)) == 1.0)
  }

  test("set operations") {
    assert(Screening.union(Array(1, 3), Array(2, 3)).sameElements(Array(1, 2, 3)))
    assert(Screening.diff(Array(1, 2, 3), Array(2)).sameElements(Array(1, 3)))
    assert(Screening.intersect(Array(3, 1, 2), Array(2, 3)).sameElements(Array(2, 3)))
  }

  test("compact linPred and gradient terms equal a dense loop over every feature, bit for bit") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(107)
    val p = 40; val m = 2
    for (fitIntercept <- Seq(true, false); sparse <- Seq(false, true)) {
      val off = if (fitIntercept) 1 else 0
      val active = ((if (fitIntercept) Seq(0) else Nil) ++
        rng.shuffle((off until p + off).toList).take(9).sorted).toArray
      val a = active.length
      // exact zeros and negatives among the coefficients
      val beta = Array.tabulate(a * m)(i => if (i % 4 == 1) 0.0 else rng.nextGaussian() * 2)
      val center = Array.tabulate(p + off)(r => if (fitIntercept && r == 0) 0.0 else rng.nextGaussian())
      val scale = Array.tabulate(p + off)(_ => 0.5 + rng.nextDouble())
      val (w, b) = BackendKernels.effectiveWeights(active, beta, m, fitIntercept, center, scale)
      // the dense reference: p-long weights, every feature in the loop
      val wd = Array.fill(m)(new Array[Double](p))
      val bd = new Array[Double](m)
      val slotOf = Array.fill(p)(-1)
      for (k <- 0 until m; i <- 0 until a) {
        val row = active(i)
        if (fitIntercept && row == 0) bd(k) += beta(k * a + i) / scale(0)
        else {
          val wv = beta(k * a + i) / scale(row)
          wd(k)(row - off) = wv
          bd(k) -= wv * center(row)
          slotOf(row - off) = i
        }
      }
      val cols = ActiveColumns(active, p, fitIntercept)
      val look = cols.lookup()
      val buf = new Array[Double](m + a * m)
      val ref = new Array[Double](m + a * m)
      val lp = new Array[Double](m)
      val pg = new Array[Double](m)
      for (r <- 0 until 300) {
        val xs = Array.fill(p)(if (rng.nextDouble() < 0.3) 0.0 else rng.nextGaussian() * 3)
        val x: Vector = if (sparse) Vectors.dense(xs).toSparse else Vectors.dense(xs)
        BackendKernels.linPred(x, cols, look, w, b, lp)
        for (k <- 0 until m) {
          var s = 0.0
          for (j <- 0 until p) s += wd(k)(j) * xs(j)
          val want = bd(k) + s
          assert(java.lang.Double.doubleToRawLongBits(lp(k)) ==
            java.lang.Double.doubleToRawLongBits(want),
            s"intercept $fitIntercept sparse $sparse row $r target $k: ${lp(k)} vs $want")
          pg(k) = rng.nextGaussian()
        }
        BackendKernels.gradRowUpdate(x, pg, cols, look, buf, 0, a, m)
        for (k <- 0 until m) ref(k) += pg(k)
        for (j <- 0 until p if slotOf(j) >= 0; k <- 0 until m)
          ref(m + k * a + slotOf(j)) += xs(j) * pg(k)
      }
      assert(buf.map(java.lang.Double.doubleToRawLongBits)
        .sameElements(ref.map(java.lang.Double.doubleToRawLongBits)),
        s"intercept $fitIntercept sparse $sparse: gradient terms differ")
    }
  }

  test("an evaluation pass's size follows its active set, not p") {
    def bytes(p: Int): Int = {
      val active = Array(0, 3, p)
      val beta = Array(0.5, -1.0, 2.0)
      val (w, b) = BackendKernels.effectiveWeights(active, beta, 1, true,
        new Array[Double](p + 1), Array.fill(p + 1)(1.0))
      val pass = new EvalPass(ActiveColumns(active, p, true),
        Array(new PointWeights(w, b), new PointWeights(w, b)), Family("binomial"), 3, 1,
        needDual = true, needGrad = true)
      val out = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(out)
      oos.writeObject(pass)
      oos.close()
      out.size
    }
    val large = bytes(100000)
    assert(large < 4096, s"$large bytes")
    assert(large == bytes(10))
  }
}
