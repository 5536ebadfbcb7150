package graft.kernel

import java.lang.Double.{doubleToRawLongBits => bits}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import Linalg._

/** The optimal-pursuit LQR kernel (K1–K3): finite-horizon tracking of a
  * fixed target by a double-integrator pursuer, solved by a backward
  * Riccati sweep plus a forward state/costate integration.
  *
  * Semantics mirror the reference (cited for behavior, re-derived here):
  *  - weights from the pursuer's physical limits: terminal position cost
  *    c_R = 2/R_t², velocity cost α = 2/V_max², control (acceleration)
  *    cost β = 2/A_max² (optimal_pursuit.py:55-70);
  *  - S_f = diag(c_R, c_R, 0, 0); F = double integrator; G routes the
  *    2-D acceleration input into velocity (optimal_pursuit.py:77-82);
  *  - backward sweep of Ṡ = −SF − FᵀS − A + S G B⁻¹ Gᵀ S integrated in
  *    reversed time from S_f (K1, optimal_pursuit.py:22-39);
  *  - λ₀ = S₀ x₀, then the coupled linear system
  *    [ẋ; λ̇] = [[F, −G B⁻¹ Gᵀ], [−A, −Fᵀ]] [x; λ] evaluated at the
  *    tracking-frame times (K2, optimal_pursuit.py:41-53);
  *  - accelerations a = −B⁻¹ Gᵀ λ (optimal_pursuit.py:106).
  */
object OptimalPursuit {

  /** Optimal path sampled at the input times (all arrays same length). */
  final case class Path(x: Array[Double], y: Array[Double],
      u: Array[Double], v: Array[Double],
      ax: Array[Double], ay: Array[Double]) {
    def maxSpeed: Double = {
      var m = 0.0
      var i = 0
      while (i < u.length) { m = math.max(m, math.hypot(u(i), v(i))); i += 1 }
      m
    }
    def maxAccel: Double = {
      var m = 0.0
      var i = 0
      while (i < ax.length) { m = math.max(m, math.hypot(ax(i), ay(i))); i += 1 }
      m
    }
    def finalRadius: Double = math.hypot(x.last, y.last)
  }

  private val F: Mat = Array(
    Array(0.0, 0.0, 1.0, 0.0),
    Array(0.0, 0.0, 0.0, 1.0),
    Array(0.0, 0.0, 0.0, 0.0),
    Array(0.0, 0.0, 0.0, 0.0))
  private val G: Mat = Array(
    Array(0.0, 0.0),
    Array(0.0, 0.0),
    Array(1.0, 0.0),
    Array(0.0, 1.0))
  private val Gt: Mat = transpose(G)

  /** K1: right-hand side of the reversed-time Riccati sweep. `s` is the
    * 4×4 matrix flattened row-major; symmetrized each evaluation.
    * General-matrix form — reference semantics, used by tests to verify
    * the specialized fast path below. */
  private[kernel] def sweepSDot(s: Array[Double], A: Mat, bInv: Mat): Array[Double] = {
    val s0 = reshape(s, 4, 4)
    val sym = scale(add(s0, transpose(s0)), 0.5)
    val sf = matmul(sym, F)
    val sg = matmul(sym, G)
    val sDot = add(sub(neg(add(sf, transpose(sf))), A), matmul(matmul(sg, bInv), transpose(sg)))
    flatten(neg(sDot)) // negated: integrating backwards in time
  }

  /** K1 fast path: closed-form scalar evaluation exploiting the fixed
    * F/G structure (S·F shifts columns; S·G selects columns 2,3;
    * A = diag(0,0,α,α); B⁻¹ = (1/β)·I). Allocation: two 16-arrays per
    * call vs ~60 in the general form — the kernel was GC-throughput
    * bound at season scale (32 threads serialized on the collector). */
  private[kernel] def sweepSDotFast(s: Array[Double], alphaV: Double, bInvD: Double): Array[Double] = {
    val out = new Array[Double](16)
    sweepSDotInto(s, alphaV, bInvD, new Array[Double](16), out)
    out
  }

  /** In-place form for the integrator's buffer-reuse protocol. */
  private[kernel] def sweepSDotInto(s: Array[Double], alphaV: Double, bInvD: Double,
      sym: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 4) { sym(i * 4 + j) = 0.5 * (s(i * 4 + j) + s(j * 4 + i)); j += 1 }
      i += 1
    }
    i = 0
    while (i < 4) {
      var j = 0
      while (j < 4) {
        val sfIJ = if (j >= 2) sym(i * 4 + (j - 2)) else 0.0
        val sfJI = if (i >= 2) sym(j * 4 + (i - 2)) else 0.0
        val aIJ = if (i == j && i >= 2) alphaV else 0.0
        val mIJ = bInvD * (sym(i * 4 + 2) * sym(j * 4 + 2) + sym(i * 4 + 3) * sym(j * 4 + 3))
        // S_dot = -SF - (SF)ᵀ - A + S G B⁻¹ Gᵀ S ; returned negated
        out(i * 4 + j) = -(-sfIJ - sfJI - aIJ + mIJ)
        j += 1
      }
      i += 1
    }
  }

  /** K2: right-hand side of the combined state/costate linear system
    * (general form, kept for tests). */
  private[kernel] def stateCostateDot(y: Array[Double], A: Mat, bInv: Mat): Array[Double] = {
    val gbg = matmul(matmul(G, bInv), Gt) // 4×4
    val out = new Array[Double](8)
    var i = 0
    while (i < 4) {
      var acc = 0.0
      var j = 0
      while (j < 4) { acc += F(i)(j) * y(j) - gbg(i)(j) * y(4 + j); j += 1 }
      out(i) = acc
      acc = 0.0
      j = 0
      while (j < 4) { acc += -A(i)(j) * y(j) - F(j)(i) * y(4 + j); j += 1 }
      out(4 + i) = acc
      i += 1
    }
    out
  }

  /** K2 fast path: the coupled system reduces to eight scalar ops —
    * ẋ = (u, v, −λ₂/β, −λ₃/β), λ̇ = (0, 0, −αu − λ₀, −αv − λ₁). */
  private[kernel] def stateCostateDotFast(y: Array[Double], alphaV: Double, bInvD: Double): Array[Double] = {
    val out = new Array[Double](8)
    stateCostateDotInto(y, alphaV, bInvD, out)
    out
  }

  /** In-place form for the integrator's buffer-reuse protocol. */
  private[kernel] def stateCostateDotInto(y: Array[Double], alphaV: Double, bInvD: Double,
      out: Array[Double]): Unit = {
    out(0) = y(2)
    out(1) = y(3)
    out(2) = -bInvD * y(6)
    out(3) = -bInvD * y(7)
    out(4) = 0.0
    out(5) = 0.0
    out(6) = -alphaV * y(2) - y(4)
    out(7) = -alphaV * y(3) - y(5)
  }

  /** The exact bits of the inputs the backward sweep depends on. */
  private[kernel] final case class SweepKey(vMax: Long, aMax: Long, rT: Long, tF: Long)

  /** Insert-only memo of the sweep's S₀ holding at most `bound` entries;
    * once full, misses compute through without storing. Keys are exact
    * bits — no rounding, no tolerance — so a hit returns the very array
    * a fresh sweep would, and results are bit-identical with or without
    * it. Stored arrays are shared across threads and never written. */
  private[graft] final class SweepMemo(val bound: Int) {
    private val map = new ConcurrentHashMap[SweepKey, Array[Double]]()
    private val reserved = new AtomicInteger() // claimed slots: keeps size <= bound
    val hits = new LongAdder()
    val misses = new LongAdder()

    def apply(k: SweepKey)(sweep: => Array[Double]): Array[Double] = {
      val got = map.get(k)
      if (got != null) { hits.increment(); got }
      else {
        misses.increment()
        val s0 = sweep
        if (reserved.incrementAndGet() > bound || map.putIfAbsent(k, s0) != null)
          reserved.decrementAndGet()
        s0
      }
    }

    def size: Int = map.size

    /** Empties the memo and zeroes its counters (tests and profiles). */
    def clear(): Unit = { map.clear(); reserved.set(0); hits.reset(); misses.reset() }
  }

  /** One memo per JVM, shared by every task's kernel. A season has a few
    * hundred distinct (bounds, horizon) keys (about 390 on a 2,000-play season). */
  private[graft] val sweepMemo = new SweepMemo(4096)

  /** K3: solve the optimal pursuit path from relative initial state
    * (x0, y0) with initial velocity (u0, v0), over time grid `t`
    * (seconds, ascending, t(0) = 0), with limits vMax/aMax and target
    * radius rT. Returns the path sampled at `t`. */
  def solveOptimalPath(x0: Double, y0: Double, u0: Double, v0: Double,
      t: Array[Double], vMax: Double, aMax: Double, rT: Double): Path = {
    val betaA = 2.0 / (aMax * aMax)
    val alphaV = 2.0 / (vMax * vMax)
    val bInvD = 1.0 / betaA
    val tF = t.last

    // backward Riccati sweep (no t_eval — only the endpoint matters); a
    // function of the bounds and the horizon alone, so memoised on them
    val s0Flat = sweepMemo(SweepKey(bits(vMax), bits(aMax), bits(rT), bits(tF))) {
      val cR = 2.0 / (rT * rT)
      val sF = diag(cR, cR, 0.0, 0.0)
      val symBuf = new Array[Double](16) // scratch reused across RHS calls
      RK45.integrate(
        (_, s, out) => sweepSDotInto(s, alphaV, bInvD, symBuf, out),
        0.0, tF, flatten(sF), Array.empty)._2
    }
    val s0 = reshape(s0Flat, 4, 4) // a copy: the memoised array is never written

    val xVec = Array(x0, y0, u0, v0)
    val l0 = matvec(s0, xVec)
    val y0Full = xVec ++ l0

    val (states, _) = RK45.integrate(
      (_, y, out) => stateCostateDotInto(y, alphaV, bInvD, out), 0.0, tF, y0Full, t)

    val n = t.length
    val path = Path(new Array(n), new Array(n), new Array(n), new Array(n), new Array(n), new Array(n))
    var i = 0
    while (i < n) {
      val st = states(i)
      path.x(i) = st(0); path.y(i) = st(1); path.u(i) = st(2); path.v(i) = st(3)
      // a = -B⁻¹ Gᵀ λ: picks λ₃, λ₄ scaled by 1/β
      path.ax(i) = -st(6) / betaA
      path.ay(i) = -st(7) / betaA
      i += 1
    }
    path
  }
}
