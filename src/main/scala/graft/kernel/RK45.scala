package graft.kernel

/** Adaptive Dormand–Prince 5(4) integrator with quartic dense output —
  * the same method family, tolerances, and step-control policy as the
  * reference's `scipy.integrate.solve_ivp` defaults
  * (optimal_pursuit.py:86,96: RK45, rtol=1e-3, atol=1e-6, `t_eval`
  * interpolation). Pure Scala, runs inside per-group kernels on
  * executors.
  *
  * The right-hand side writes into a caller-provided buffer and every
  * stage/step buffer is preallocated per `integrate` call: the kernel
  * executes ~10⁶ steps per season workload across 32 threads, and
  * per-step allocation made the whole pipeline garbage-collector-bound
  * (see BASELINE.md round-2 notes).
  *
  * Coefficients are the published Dormand–Prince tableau and the
  * Shampine dense-output polynomial (Dormand & Prince 1980; Shampine
  * 1986) — public numerical-analysis constants.
  */
object RK45 {

  private val c = Array(0.0, 1.0 / 5, 3.0 / 10, 4.0 / 5, 8.0 / 9, 1.0)
  private val a = Array(
    Array.empty[Double],
    Array(1.0 / 5),
    Array(3.0 / 40, 9.0 / 40),
    Array(44.0 / 45, -56.0 / 15, 32.0 / 9),
    Array(19372.0 / 6561, -25360.0 / 2187, 64448.0 / 6561, -212.0 / 729),
    Array(9017.0 / 3168, -355.0 / 33, 46732.0 / 5247, 49.0 / 176, -5103.0 / 18656))
  private val b = Array(35.0 / 384, 0.0, 500.0 / 1113, 125.0 / 192, -2187.0 / 6784, 11.0 / 84)
  // error coefficients: 5th-order minus embedded 4th-order weights
  private val e = Array(71.0 / 57600, 0.0, -71.0 / 16695, 71.0 / 1920,
    -17253.0 / 339200, 22.0 / 525, -1.0 / 40)
  // dense-output polynomial (rows = 7 stages, cols = θ..θ⁴ coefficients)
  private val p = Array(
    Array(1.0, -8048581381.0 / 2820520608.0, 8663915743.0 / 2820520608.0, -12715105075.0 / 11282082432.0),
    Array(0.0, 0.0, 0.0, 0.0),
    Array(0.0, 131558114200.0 / 32700410799.0, -68118460800.0 / 10900136933.0, 87487479700.0 / 32700410799.0),
    Array(0.0, -1754552775.0 / 470086768.0, 14199869525.0 / 1410260304.0, -10690763975.0 / 1880347072.0),
    Array(0.0, 127303824393.0 / 49829197408.0, -318862633887.0 / 49829197408.0, 701980252875.0 / 199316789632.0),
    Array(0.0, -282668133.0 / 205662961.0, 2019193451.0 / 616988883.0, -1453857185.0 / 822651844.0),
    Array(0.0, 40617522.0 / 29380423.0, -110615467.0 / 29380423.0, 69997945.0 / 29380423.0))

  private val safety = 0.9
  private val minFactor = 0.2
  private val maxFactor = 10.0
  private val errExponent = -1.0 / 5.0

  /** In-place right-hand side: write dy/dt of (t, y) into `out`. */
  type Rhs = (Double, Array[Double], Array[Double]) => Unit

  /** Hairer/Wanner initial step heuristic (the one scipy uses). */
  private def initialStep(f: Rhs, t0: Double, y0: Array[Double], f0: Array[Double],
      rtol: Double, atol: Double, tBound: Double): Double = {
    val n = y0.length
    val scale = new Array[Double](n)
    var i = 0
    while (i < n) { scale(i) = atol + rtol * math.abs(y0(i)); i += 1 }
    def scaledNorm(v: Array[Double]): Double = {
      var s = 0.0
      var j = 0
      while (j < n) { val q = v(j) / scale(j); s += q * q; j += 1 }
      math.sqrt(s / n)
    }
    val d0 = scaledNorm(y0)
    val d1 = scaledNorm(f0)
    val h0 = if (d0 < 1e-5 || d1 < 1e-5) 1e-6 else 0.01 * d0 / d1
    val y1 = new Array[Double](n)
    i = 0
    while (i < n) { y1(i) = y0(i) + h0 * f0(i); i += 1 }
    val f1 = new Array[Double](n)
    f(t0 + h0, y1, f1)
    i = 0
    while (i < n) { y1(i) = f1(i) - f0(i); i += 1 } // reuse y1 as diff
    val d2 = scaledNorm(y1) / h0
    val h1 =
      if (d1 <= 1e-15 && d2 <= 1e-15) math.max(1e-6, h0 * 1e-3)
      else math.pow(0.01 / math.max(d1, d2), 1.0 / 5.0)
    Seq(100 * h0, h1, math.abs(tBound - t0)).min
  }

  /** Integrate y' = f(t, y) from t0 to tf (tf > t0), returning the state
    * at each of `tEval` (ascending, within [t0, tf]) via 4th-order dense
    * interpolation, plus the final state. */
  def integrate(f: Rhs, t0: Double, tf: Double, y0: Array[Double],
      tEval: Array[Double], rtol: Double = 1e-3, atol: Double = 1e-6): (Array[Array[Double]], Array[Double]) = {
    val n = y0.length
    val out = Array.ofDim[Array[Double]](tEval.length)
    var evalIdx = 0
    while (evalIdx < tEval.length && tEval(evalIdx) <= t0) {
      out(evalIdx) = y0.clone(); evalIdx += 1
    }
    if (tf <= t0) {
      while (evalIdx < tEval.length) { out(evalIdx) = y0.clone(); evalIdx += 1 }
      return (out, y0.clone())
    }

    var t = t0
    var y = y0.clone()
    var yNew = new Array[Double](n)
    val k = Array.ofDim[Double](7, n)
    var fCur = new Array[Double](n)
    f(t, y, fCur)
    var h = initialStep(f, t0, y, fCur, rtol, atol, tf)
    val minStep = 10.0 * math.ulp(tf - t0)
    val ys = new Array[Double](n)
    val pows = new Array[Double](4)

    while (t < tf) {
      if (h < minStep) h = minStep
      if (t + h > tf) h = tf - t
      // stages: k(0) is the FSAL value from the previous accepted step
      System.arraycopy(fCur, 0, k(0), 0, n)
      var st = 1
      while (st < 6) {
        var i = 0
        while (i < n) {
          var acc = 0.0
          var j = 0
          while (j < st) { acc += a(st)(j) * k(j)(i); j += 1 }
          ys(i) = y(i) + h * acc
          i += 1
        }
        f(t + c(st) * h, ys, k(st))
        st += 1
      }
      var i = 0
      while (i < n) {
        var acc = 0.0
        var j = 0
        while (j < 6) { acc += b(j) * k(j)(i); j += 1 }
        yNew(i) = y(i) + h * acc
        i += 1
      }
      f(t + h, yNew, k(6))
      // embedded error estimate (scaled RMS, computed in place)
      var errAcc = 0.0
      i = 0
      while (i < n) {
        var acc = 0.0
        var j = 0
        while (j < 7) { acc += e(j) * k(j)(i); j += 1 }
        val scale = atol + rtol * math.max(math.abs(y(i)), math.abs(yNew(i)))
        val q = h * acc / scale
        errAcc += q * q
        i += 1
      }
      val errNorm = math.sqrt(errAcc / n)
      if (errNorm < 1.0 || h <= minStep) {
        // accept: dense-interpolate any t_eval points inside (t, t+h]
        while (evalIdx < tEval.length && tEval(evalIdx) <= t + h + 1e-15) {
          val theta = math.min(math.max((tEval(evalIdx) - t) / h, 0.0), 1.0)
          pows(0) = theta; pows(1) = theta * theta
          pows(2) = pows(1) * theta; pows(3) = pows(2) * theta
          val yi = new Array[Double](n) // escapes into `out`
          var ii = 0
          while (ii < n) {
            var acc = 0.0
            var jj = 0
            while (jj < 7) {
              var pc = 0.0
              var q = 0
              while (q < 4) { pc += p(jj)(q) * pows(q); q += 1 }
              acc += k(jj)(ii) * pc
              jj += 1
            }
            yi(ii) = y(ii) + h * acc
            ii += 1
          }
          out(evalIdx) = yi
          evalIdx += 1
        }
        t += h
        // y ← yNew and fCur ← k(6), by reference swap (buffers reused)
        val tmp = y; y = yNew; yNew = tmp
        val tmpF = fCur
        System.arraycopy(k(6), 0, tmpF, 0, n)
        fCur = tmpF
        val factor =
          if (errNorm == 0.0) maxFactor
          else math.min(maxFactor, math.max(1.0, safety * math.pow(errNorm, errExponent)))
        h *= factor
      } else {
        h *= math.max(minFactor, safety * math.pow(errNorm, errExponent))
      }
    }
    while (evalIdx < tEval.length) { out(evalIdx) = y.clone(); evalIdx += 1 }
    (out, y.clone())
  }
}
