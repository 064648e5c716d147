package graft.slope

import graft.slope.kernels.{Prox, Screening}

/** Per-sigma-step solver result (reference `src/results.h:8-30`).
  * `finalLr` reports the last accepted FISTA learning rate so the path
  * loop can warm-start the next sigma step's line search; `finalEval`
  * is the (primal, dual, gradient) evaluation at `beta`, so the path
  * loop need not evaluate that point again. */
case class SolveResult(
    beta: Array[Double], // |active| x m, column-major
    passes: Int,
    deviance: Double,
    primals: Array[Double],
    duals: Array[Double],
    times: Array[Double],
    finalLr: Double,
    finalEval: (Double, Double, Array[Double]))

/** FISTA with backtracking line search and duality-gap + infeasibility
  * stopping — the reference's generic solver (`src/families/family.h:87-223`).
  *
  * Driver-held state is |active| x m; each pass costs ONE backend pass:
  * the line-search candidate's primal fused with the full evaluation
  * (primal + dual + gradient) at the next momentum point. Only a
  * rejected candidate costs more — one primal-only pass per further
  * probe, then one evaluation at the accepted point. The learning rate
  * persists across passes (reference `family.h:111`) so probes are rare
  * after warm-up. A solve asks for no evaluation it already holds: the
  * caller passes the one at `betaInit` when it has it, and the returned
  * deviance comes from the evaluation carried at the returned beta.
  */
private[slope] object Fista {

  def fit(backend: SlopeBackend,
          active: Array[Int],
          betaInit: Array[Double],
          lambda: Array[Double], // already scaled by sigma; length (|a|-off)*m
          family: Family,
          fitIntercept: Boolean,
          maxPasses: Int,
          tolRelGap: Double,
          tolInfeas: Double,
          diagnostics: Boolean,
          warmLr: Option[Double] = None,
          init: Option[(Double, Double, Array[Double])] = None): SolveResult = {

    val a = active.length
    val m = backend.m
    val off = if (fitIntercept && a > 0 && active(0) == 0) 1 else 0
    val pTail = a - off // penalized rows

    var beta = betaInit.clone()
    var betaTilde = betaInit.clone()
    var betaTildeOld = betaInit.clone()

    // The reference resets learning_rate = 1.0 per fit (family.h:111,
    // a local), so every sigma step re-pays the backtracking halvings —
    // each one a full distributed pass. `warmLr` lets the path loop
    // carry the converged rate across sigma steps (warm starts keep the
    // local curvature nearly unchanged) and turns on adaptive restart,
    // opt-in via SlopeParams.fistaWarmStart.
    val adaptiveRestart = warmLr.isDefined
    var learningRate = warmLr.filter(lr => lr > 0 && !lr.isNaN).getOrElse(1.0)
    val eta = 0.5
    var t = 1.0

    val primals = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val duals = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val times = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val t0 = System.nanoTime()

    def tailAbs(b: Array[Double]): Array[Double] = {
      val out = new Array[Double](pTail * m)
      var k = 0
      while (k < m) {
        var i = off
        while (i < a) { out(k * pTail + (i - off)) = math.abs(b(k * a + i)); i += 1 }
        k += 1
      }
      out
    }

    // one evaluation (primal, dual, gradient) carried across
    // iterations, always at `beta`: the caller's `init` or one pass here,
    // then refreshed by the fused speculative pass at each accepted step
    // — steady state is ONE data scan per pass, with identical iterates
    var carried: (Double, Double, Array[Double]) = init.getOrElse(
      backend.evalActive(active, beta, family, needDual = true, needGrad = true))

    /** prox(beta - lr*grad) with the tail-only sorted-L1 prox. */
    def proxStep(grad: Array[Double], lr: Double): Array[Double] = {
      val cand = new Array[Double](a * m)
      var j = 0
      while (j < a * m) { cand(j) = beta(j) - lr * grad(j); j += 1 }
      val tailVec = new Array[Double](pTail * m)
      var k = 0
      while (k < m) {
        var r = off
        while (r < a) { tailVec(k * pTail + (r - off)) = cand(k * a + r); r += 1 }
        k += 1
      }
      val lamLr = new Array[Double](lambda.length)
      j = 0
      while (j < lambda.length) { lamLr(j) = lambda(j) * lr; j += 1 }
      val proxed = Prox.sortedL1(tailVec, lamLr)
      k = 0
      while (k < m) {
        var r = off
        while (r < a) { cand(k * a + r) = proxed(k * pTail + (r - off)); r += 1 }
        k += 1
      }
      cand
    }

    /** Line-search majorization bound at `cand` given g(beta) = gOld. */
    def searchBound(cand: Array[Double], grad: Array[Double], gOld: Double,
                    lr: Double): Double = {
      var dDotGrad = 0.0
      var dNormSq = 0.0
      var j = 0
      while (j < a * m) {
        val d = cand(j) - beta(j)
        dDotGrad += d * grad(j)
        dNormSq += d * d
        j += 1
      }
      gOld + dDotGrad + dNormSq / (2.0 * lr)
    }

    var passes = 0
    var done = false
    while (passes < maxPasses && !done) {
      val (g0, dual, grad) = carried

      // sorted-L1 penalty at current beta
      val absTail = tailAbs(beta).sortBy(-(_: Double))
      var h = 0.0
      var i = 0
      while (i < absTail.length) { h += absTail(i) * lambda(i); i += 1 }
      val f = g0 + h

      val gradTail = {
        val out = new Array[Double](pTail * m)
        var k = 0
        while (k < m) {
          var r = off
          while (r < a) { out(k * pTail + (r - off)) = grad(k * a + r); r += 1 }
          k += 1
        }
        out
      }
      val infeas =
        if (lambda.length > 0) Screening.infeasibility(gradTail, lambda) else 0.0

      val small = math.sqrt(2.220446049250313e-16)
      val optimal = math.abs(f - dual) / math.max(small, math.abs(f)) < tolRelGap
      val feasible =
        if (lambda.length > 0) infeas <= math.max(small, tolInfeas * lambda(0)) else true

      if (diagnostics) {
        times += (System.nanoTime() - t0) / 1e9
        primals += f
        duals += dual
      }

      if (optimal && feasible) {
        done = true
      } else {
        betaTildeOld = betaTilde
        val gOld = g0
        val tOld = t
        // t / momentum depend only on tOld — compute up front so the
        // speculative pass can evaluate the momentum point
        val tNew = 0.5 * (1.0 + math.sqrt(1.0 + 4.0 * tOld * tOld))
        val mom = (tOld - 1.0) / tNew

        def momentumPoint(cand: Array[Double], m0: Double): Array[Double] = {
          val next = new Array[Double](a * m)
          var j = 0
          while (j < a * m) {
            next(j) = cand(j) + m0 * (cand(j) - betaTildeOld(j))
            j += 1
          }
          next
        }

        /** Gradient-based adaptive restart (O'Donoghue & Candes 2015,
          * "Adaptive restart for accelerated gradient schemes", sec 3.2):
          * when the momentum direction opposes the latest prox step —
          * dot(y_{k-1} - x_k, x_k - x_{k-1}) > 0, with y_{k-1} = `beta`
          * (the point the gradient was taken at), x_k = `cand`, x_{k-1}
          * = `betaTildeOld` — momentum is hurting; take a plain proximal
          * step and reset t. All three vectors are driver-held, so the
          * check costs NO cluster pass. */
        def restartAt(cand: Array[Double]): Boolean = adaptiveRestart && {
          var s = 0.0
          var j = 0
          while (j < a * m) {
            s += (beta(j) - cand(j)) * (cand(j) - betaTildeOld(j))
            j += 1
          }
          s > 0.0
        }

        // backtracking line search (reference family.h:177-201). First
        // try is SPECULATIVE: the candidate's line-search primal and the
        // momentum point's full evaluation fuse into one backend pass —
        // on acceptance (the warm-started common case) the pass is done;
        // a rejection falls back to single-point probes and pays one
        // extra evaluation, exactly the pre-fusion cost.
        var searching = true
        var firstTry = true
        var restarted = false
        while (searching) {
          val cand = proxStep(grad, learningRate)
          val restart = restartAt(cand)
          val momUse = if (restart) 0.0 else mom
          if (firstTry) {
            firstTry = false
            val nextSpec = momentumPoint(cand, momUse)
            val (gCand, gNext, dualNext, gradNext) =
              backend.evalPairActive(active, cand, nextSpec, family)
            if (searchBound(cand, grad, gOld, learningRate) >= gCand * (1.0 - 1e-12)) {
              betaTilde = cand
              beta = nextSpec
              carried = (gNext, dualNext, gradNext)
              restarted = restart
              searching = false
            } else {
              learningRate *= eta
            }
          } else {
            val g = backend.primalActive(active, cand, family)
            if (searchBound(cand, grad, gOld, learningRate) >= g * (1.0 - 1e-12)) {
              betaTilde = cand
              beta = momentumPoint(cand, momUse)
              carried = backend.evalActive(active, beta, family,
                needDual = true, needGrad = true)
              restarted = restart
              searching = false
            } else {
              learningRate *= eta
            }
          }
        }

        t = if (restarted) 1.0 else tNew
        passes += 1
      }
    }

    // `carried` is at the returned beta on both exits — on a
    // maxPasses-exhausted one too, where beta moved after the last
    // stopping check — so the deviance matches the returned coefficients
    SolveResult(beta, passes, 2.0 * carried._1,
      if (diagnostics) primals.toArray else Array.empty,
      if (diagnostics) duals.toArray else Array.empty,
      if (diagnostics) times.toArray else Array.empty,
      finalLr = learningRate, finalEval = carried)
  }
}

/** Over-relaxed ADMM for the gaussian family (reference
  * `src/families/gaussian.h:47-139`): after ONE distributed Gram + X^T y
  * pass, every iteration is a pure driver-side O(p^2) triangular solve +
  * prox — zero per-iteration cluster passes. This is the 100-TB fast
  * path for gaussian fits.
  *
  * Two x-update factorizations, as in the reference:
  *  - tall (n >= |active|): Cholesky of (Gram + rho I), |a| x |a|
  *    (`gaussian.h:93-96`);
  *  - wide (n < |active|): Woodbury — factor (rho I + X X') at n x n and
  *    solve (X'X + rho I)^-1 q = (q - X'((rho I + X X')^-1 X q)) / rho
  *    (`gaussian.h:88-92`). Needs the standardized rows themselves, so it
  *    is only offered by the driver-local backend; the distributed path
  *    keeps the Gram form (one cluster pass, driver iterations) since a
  *    per-iteration distributed X q product would put the cluster back in
  *    the inner loop.
  */
object Admm {
  private val alpha = 1.5

  /** Largest eigenvalue of a symmetric PSD matrix via power iteration. */
  def eigMax(gram: Array[Double], a: Int): Double = {
    if (a == 0) return 0.0
    var v = Array.fill(a)(1.0 / math.sqrt(a))
    var lambda = 0.0
    var it = 0
    while (it < 200) {
      val w = new Array[Double](a)
      var j = 0
      while (j < a) {
        var i = 0
        var s = 0.0
        while (i < a) { s += gram(j * a + i) * v(i); i += 1 }
        w(j) = s
        j += 1
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      if (nrm == 0.0) return 0.0
      val newLambda = nrm
      var i = 0
      while (i < a) { v(i) = w(i) / nrm; i += 1 }
      if (math.abs(newLambda - lambda) < 1e-10 * math.max(1.0, newLambda) && it > 10) {
        return newLambda
      }
      lambda = newLambda
      it += 1
    }
    lambda
  }

  /** In-place Cholesky (lower) of a column-major symmetric matrix. */
  def cholesky(mat: Array[Double], a: Int): Array[Double] = {
    val l = new Array[Double](a * a)
    var j = 0
    while (j < a) {
      var i = j
      while (i < a) {
        var s = mat(j * a + i)
        var k = 0
        while (k < j) { s -= l(k * a + i) * l(k * a + j); k += 1 }
        if (i == j) {
          require(s > 0, s"Cholesky failed: non-PD at $j (s=$s)")
          l(j * a + j) = math.sqrt(s)
        } else {
          l(j * a + i) = s / l(j * a + j)
        }
        i += 1
      }
      j += 1
    }
    l
  }

  /** Solve (L L^T) x = b by forward/back substitution. */
  def cholSolve(l: Array[Double], a: Int, b: Array[Double]): Array[Double] = {
    val y = new Array[Double](a)
    var i = 0
    while (i < a) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(k * a + i) * y(k); k += 1 }
      y(i) = s / l(i * a + i)
      i += 1
    }
    val x = new Array[Double](a)
    i = a - 1
    while (i >= 0) {
      var s = y(i)
      var k = i + 1
      while (k < a) { s -= l(i * a + k) * x(k); k += 1 }
      x(i) = s / l(i * a + i)
      i -= 1
    }
    x
  }

  /** The reference's rho heuristic (`src/owl.cpp:190-192`, as written:
    * eig_max^(1/3) * (lambda_max*sigma)^(2/3); the C++ integer division
    * makes the compiled value 1.0 — the fixed point is rho-independent,
    * so we use the intended formula for better conditioning). */
  def rhoHeuristic(eigmax: Double, lambdaMaxSigma: Double): Double = {
    val r = math.cbrt(eigmax) * math.cbrt(lambdaMaxSigma * lambdaMaxSigma)
    if (r.isNaN || r <= 0 || r.isInfinity) 1.0 else r
  }

  /** Factorization cache entry for one active set.
    *
    * Tall form (`xmat == null`): `chol` is the |a| x |a| Cholesky of
    * (Gram + rho I) and `gram` the raw Gram, so the final deviance
    * ||y - Xz||^2 = y'y - 2 z'X'y + z'Gz is a pure driver-side
    * computation (no extra cluster pass).
    *
    * Wide form: `chol` is the n x n Cholesky of (rho I + X X') and
    * `xmat` the standardized active matrix (row-major n x |a|); solves
    * go through the Woodbury identity and z'Gz = ||Xz||^2. */
  case class Factorization(chol: Array[Double], gram: Array[Double],
                           xty: Array[Double], rho: Double,
                           xmat: Array[Double] = null, nRows: Int = 0) {
    /** x-update solve: (X'X + rho I)^-1 q. */
    def solve(q: Array[Double]): Array[Double] = {
      val a = q.length
      if (xmat == null) return cholSolve(chol, a, q)
      val n = nRows
      val t = new Array[Double](n) // X q
      var i = 0
      while (i < n) {
        var s = 0.0
        var j = 0
        while (j < a) { s += xmat(i * a + j) * q(j); j += 1 }
        t(i) = s
        i += 1
      }
      val w = cholSolve(chol, n, t) // (rho I + X X')^-1 X q
      val out = new Array[Double](a)
      var j = 0
      while (j < a) { out(j) = q(j); j += 1 }
      i = 0
      while (i < n) {
        val wi = w(i)
        j = 0
        while (j < a) { out(j) -= xmat(i * a + j) * wi; j += 1 }
        i += 1
      }
      j = 0
      while (j < a) { out(j) /= rho; j += 1 }
      out
    }

    /** z' G z (tall: cached raw Gram; wide: ||X z||^2). */
    def gramQuad(zv: Array[Double]): Double = {
      val a = zv.length
      if (xmat == null) {
        var s = 0.0
        var j = 0
        while (j < a) {
          var i = 0
          var acc = 0.0
          while (i < a) { acc += gram(j * a + i) * zv(i); i += 1 }
          s += acc * zv(j)
          j += 1
        }
        s
      } else {
        var s = 0.0
        var i = 0
        while (i < nRows) {
          var lp = 0.0
          var j = 0
          while (j < a) { lp += xmat(i * a + j) * zv(j); j += 1 }
          s += lp * lp
          i += 1
        }
        s
      }
    }
  }

  def factorize(gram: Array[Double], xty: Array[Double], a: Int,
                lambdaMaxSigma: Double): Factorization = {
    val rho = rhoHeuristic(eigMax(gram, a), lambdaMaxSigma)
    val g = gram.clone()
    var j = 0
    while (j < a) { g(j * a + j) += rho; j += 1 }
    Factorization(cholesky(g, a), gram, xty, rho)
  }

  /** Woodbury factorization for the wide (n < |active|) branch
    * (`gaussian.h:88-92`): K = X X' at n x n shares the Gram's nonzero
    * spectrum, so the rho heuristic is unchanged. */
  def factorizeWide(xmat: Array[Double], n: Int, a: Int,
                    xty: Array[Double], lambdaMaxSigma: Double): Factorization = {
    val k = new Array[Double](n * n)
    var i1 = 0
    while (i1 < n) {
      var i2 = i1
      while (i2 < n) {
        var s = 0.0
        var j = 0
        while (j < a) { s += xmat(i1 * a + j) * xmat(i2 * a + j); j += 1 }
        k(i1 * n + i2) = s
        k(i2 * n + i1) = s
        i2 += 1
      }
      i1 += 1
    }
    val rho = rhoHeuristic(eigMax(k, n), lambdaMaxSigma)
    var d = 0
    while (d < n) { k(d * n + d) += rho; d += 1 }
    Factorization(cholesky(k, n), null, xty, rho, xmat = xmat, nRows = n)
  }

  /** ADMM iterations, entirely on the driver.
    *
    * @param fact   cached Cholesky of (Gram + rho I) and X^T y for the
    *               active columns
    * @param nRows  n (for the stopping thresholds)
    * @param lambda penalty (already sigma-scaled), length a - off
    * @param z,u    warm-start auxiliary state (length a), mutated in place
    * @return final z (the returned coefficients, as in the reference)
    */
  def fit(fact: Factorization, a: Int, off: Int, nRows: Long,
          lambda: Array[Double], z: Array[Double], u: Array[Double],
          maxPasses: Int, tolAbs: Double, tolRel: Double,
          diagnostics: Boolean, sumYsq: Double = 0.0)
    : (Array[Double], Int, Array[Double], Array[Double], Array[Double]) = {

    val rho = fact.rho
    var passes = 0
    var beta = new Array[Double](a)
    val primals = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val duals = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val times = if (diagnostics) scala.collection.mutable.ArrayBuffer[Double]() else null
    val t0 = System.nanoTime()

    var converged = false
    while (passes < maxPasses && !converged) {
      passes += 1
      val q = new Array[Double](a)
      var i = 0
      while (i < a) { q(i) = fact.xty(i) + rho * (z(i) - u(i)); i += 1 }
      beta = fact.solve(q)

      val zOld = z.clone()
      val betaHat = new Array[Double](a)
      i = 0
      while (i < a) { betaHat(i) = alpha * beta(i) + (1 - alpha) * zOld(i); i += 1 }

      i = 0
      while (i < a) { z(i) = betaHat(i) + u(i); i += 1 }
      // prox on the penalized tail
      val tail = java.util.Arrays.copyOfRange(z, off, a)
      val lamRho = lambda.map(_ / rho)
      val proxed = Prox.sortedL1(tail, lamRho)
      i = off
      while (i < a) { z(i) = proxed(i - off); i += 1 }

      i = 0
      while (i < a) { u(i) += betaHat(i) - z(i); i += 1 }

      var rNormSq = 0.0
      var sNormSq = 0.0
      var bNormSq = 0.0
      var zNormSq = 0.0
      var uNormSq = 0.0
      i = 0
      while (i < a) {
        val r = beta(i) - z(i); rNormSq += r * r
        val s = rho * (z(i) - zOld(i)); sNormSq += s * s
        bNormSq += beta(i) * beta(i)
        zNormSq += z(i) * z(i)
        uNormSq += rho * u(i) * rho * u(i)
        i += 1
      }
      val rNorm = math.sqrt(rNormSq)
      val sNorm = math.sqrt(sNormSq)
      val epsPrimal = math.sqrt(nRows.toDouble) * tolAbs +
        tolRel * math.max(math.sqrt(bNormSq), math.sqrt(zNormSq))
      val epsDual = math.sqrt(nRows.toDouble) * tolAbs + tolRel * math.sqrt(uNormSq)

      if (diagnostics) {
        // primal/dual OBJECTIVES with the same semantics as the FISTA
        // diagnostics (gaussian primalRow/dualRow summed over rows),
        // via the cached Gram identities — still zero cluster passes:
        //   sum primalRow = 0.5||y||^2 - z'X'y + 0.5 z'Gz
        //   sum dualRow   = 0.5||y||^2 - 0.5 z'Gz
        val zGz = fact.gramQuad(z)
        var zXty = 0.0
        i = 0
        while (i < a) { zXty += z(i) * fact.xty(i); i += 1 }
        val tailAbs = new Array[Double](a - off)
        i = off
        while (i < a) { tailAbs(i - off) = math.abs(z(i)); i += 1 }
        java.util.Arrays.sort(tailAbs)
        var h = 0.0
        i = 0
        while (i < tailAbs.length) {
          h += tailAbs(tailAbs.length - 1 - i) * lambda(i); i += 1
        }
        primals += 0.5 * sumYsq - zXty + 0.5 * zGz + h
        duals += 0.5 * sumYsq - 0.5 * zGz
        times += (System.nanoTime() - t0) / 1e9
      }
      if (rNorm < epsPrimal && sNorm < epsDual) converged = true
    }

    (z.clone(), passes,
      if (diagnostics) primals.toArray else Array.empty,
      if (diagnostics) duals.toArray else Array.empty,
      if (diagnostics) times.toArray else Array.empty)
  }
}
