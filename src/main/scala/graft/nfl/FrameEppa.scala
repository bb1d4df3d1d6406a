package graft.nfl

/** The frame-EPPA kernel (SURVEY §2.10, F1–F10) — a from-scratch Scala
  * implementation of the reference's per-frame pass-value model
  * (`analysis/models/play_eppa_cpu.py:222-641`, torch variants
  * `play_eppa_gpu.py:241-685`, `frame_eppa.py:157-445`).
  *
  * Semantics notes (divergences documented per SURVEY §7.4):
  *  - grid y[0] is regular −0.5, not the reference's −0.2 quirk
  *    (`consts.py:8`);
  *  - individual p_int adjustment follows `frame_eppa.py:205-207` (offense
  *    scaled by (1 − p_int_def) per cell), not the CPU path's scalar
  *    renormalize, which reduces over all axes at once;
  *  - survival/completion accumulation follows the GPU path
  *    (`play_eppa_gpu.py:394-424`, worked example in comments there): the
  *    CPU path cumprods over the wrong axis.
  *
  * Memory shape: the reference materializes (F,T,T,J) ≈ 1.8 GB/frame; we
  * never do. p_int_adj and the per-player completion are the two (F,T,J)
  * arrays (~44 MB each, reused across a task's frames); the trajectory
  * integration walks τ per (f,T) with a running survival product —
  * O(F·ΣT·J) ops, O(J) extra space. p_int_adj is filled one (cell, T)
  * slice at a time, the first time a trajectory inside the catchable z
  * window (or the true-pass projection) reads it — about half the
  * slices — together with the slice's Π_j(1 − p_adj); a per-frame flag
  * array marks the filled slices. Cells with a zero prior skip the trans
  * pow and the per-player sums, which they would add +0.0 to. That is
  * what makes one frame a sane unit of Spark work at 100 TB: ~100 MB of
  * scratch, ~150 ms of CPU with the stub xyac scorer.
  */
object FrameEppa {

  /** Physics/model parameters (reference `analysis/models/params.py`). */
  final case class Params(
      aMax: Double = 7.67,
      sMax: Double = 9.42,
      reaxT: Double = 0.0,
      ttiSigma: Double = 0.31,
      alpha: Double = 1.2,
      zMin: Double = 1.0,
      zMax: Double = 3.0,
      /** Relative prior floor: cells with prior < priorEps·max(prior) are
        * zeroed before the xyac/EPPA stages. A fitted gamma T|L pdf is
        * mathematically nonzero at every flight time, so without a floor
        * EVERY in-window cell pays the GBDT walk; tails at 1e-12 of the
        * peak contribute less than float32 epsilon to trans (the
        * reference's own GPU path computes in float32, where they flush
        * to zero anyway). 0.0 = exact. */
      priorEps: Double = 1e-12)

  // grid (consts.py:5-11): x 0.5..119.5 ×120, y −0.5..53.5 ×55, T 0.1..4.0 ×40
  val Nx = 120
  val Ny = 55
  val F: Int = Nx * Ny
  val NT = 40
  val G = 10.72468 // ballistic g, yd/s² (play_eppa_cpu.py:340)
  @inline def gx(f: Int): Double = (f % Nx) + 0.5
  @inline def gy(f: Int): Double = (f / Nx) - 0.5
  @inline def tOf(k: Int): Double = 0.1 * (k + 1)

  final case class Player(nflId: Long, name: String, isOff: Boolean,
                          x: Double, y: Double, vx: Double, vy: Double,
                          ax: Double, ay: Double)

  /** One frame of one play, ready for the kernel. trueFIdx/trueTIdx index
    * the play's ACTUAL pass (landing cell, flight time) when known —
    * the back-testing hook (`play_eppa_cpu.py:105-119`); −1 = unknown. */
  final case class FrameInput(gameId: Long, playId: Long, frameId: Int,
                              framesSinceSnap: Int, ballX: Double, ballY: Double,
                              players: Array[Player],
                              trueFIdx: Int = -1, trueTIdx: Int = -1)

  final case class PassSummary(gameId: Long, playId: Long, frameId: Int,
      framesSinceSnap: Int, eppa1Tot: Double, maxEppa1: Double,
      maxX: Double, maxY: Double, maxT: Double, maxPpcOff: Double,
      maxXepaComp: Double, maxTrans: Double,
      // true-pass backtest (play_eppa_cpu.py:593-612): model surface
      // sampled at the play's actual throw; NaN when unknown
      trueX: Double = Double.NaN, trueY: Double = Double.NaN,
      trueT: Double = Double.NaN, truePpcOff: Double = Double.NaN,
      trueEppa1: Double = Double.NaN, trueTrans: Double = Double.NaN)

  final case class PlayerStat(gameId: Long, playId: Long, frameId: Int,
      nflId: Long, displayName: String, teamPos: String,
      indEppa1: Double, indEppa1WoValue: Double)

  final case class FieldCell(gameId: Long, playId: Long, frameId: Int,
      x: Double, y: Double, eppa1Max: Double, eppa1Sum: Double,
      ppcOffMax: Double, ppcDefMax: Double, transSum: Double)

  /** Per-player projection snapshot at the play's TRUE pass cell
    * (`play_eppa_cpu.py:507-540`, written as `true_pass_player_proj.pkl`,
    * merged back onto tracking at `:668`): reaction state, intercept
    * geometry, motion-phase decomposition, arrival probabilities, and the
    * projected (x, y, v) along the actual trajectory. One row per player
    * per frame; only frames of plays with a known true pass emit rows. */
  final case class PlayerProj(gameId: Long, playId: Long, frameId: Int,
      nflId: Long,
      reaxX: Double, reaxY: Double, reaxVx: Double, reaxVy: Double,
      dVecX: Double, dVecY: Double, dMag: Double, intS0: Double,
      tLtSmax: Double, dLtSmax: Double, tAtSmax: Double, dAtSmax: Double,
      tTot: Double, intDT: Double, pInt: Double, pIntAdj: Double,
      dProj: Double, sProj: Double, projX: Double, projY: Double,
      projVx: Double, projVy: Double, ppcInd: Double)

  final case class FrameOutput(pass: PassSummary, players: Array[PlayerStat],
                               field: Array[FieldCell],
                               proj: Array[PlayerProj] = Array.empty)

  /** xyac feature vector layout fed to the injected GBDT scorer:
    * 0 pass_x, 1 pass_y, 2 frame_thrown, 3 tof, 4-8 d1..d5, 9-13 x1..x5,
    * 14-18 y1..y5, 19-23 v1..v5, 24 y — FIXTURES A8 feature names. */
  val XyacNumFeatures = 25
  val XyacValues: Array[Double] = Array(-2.5, 2.5, 7.5, 12.5, 17.5, 22.5, 27.5, 30.0)

  /** Historical-prior inputs: T-given-distance table (60 distances × 40
    * flight times) and the uniform reachable-window mask bounds
    * (play_eppa_cpu.py:75-77, 301-334). */
  final case class Priors(tGivenL: Array[Array[Double]],
                          xMin: Int = -9, xMax: Int = 70,
                          yMin: Int = -39, yMax: Int = 40) {
    require(tGivenL.length == 60 && tGivenL.forall(_.length == NT))
  }

  object Priors {
    /** Synthetic fallback: triangular T|L peaked where flight time matches
      * distance / 20 yd/s — structurally like the fitted gamma table. */
    def synthetic(): Priors = Priors(Array.tabulate(60, NT) { (d, k) =>
      val ideal = (d + 1) / 20.0
      math.max(0.0, 1.0 - math.abs(tOf(k) - ideal))
    })
  }

  /** Batch xyac scorer over rows in the kernel's 25-slot layout — the
    * fast path for real GBDT models (tree-outer, cell-interleaved walks;
    * see GbdtScorer.expectationBatch). */
  trait XyacBatchScorer extends Serializable {
    def scoreBatch(x: Array[Double], n: Int, out: Array[Double]): Unit
  }

  /** NOT thread-safe: a Kernel instance keeps reusable scratch buffers
    * (one frame allocates ~100 MB otherwise — at 32 concurrent frames
    * that is >1 GB/s of allocation, and memory bandwidth, not CPU,
    * becomes the scaling wall). Use one instance per task/thread —
    * exactly what EppaJob's mapPartitions and the greedy loop do. */
  final class Kernel(params: Params, priors: Priors,
                     xyacScore: Array[Double] => Double,
                     xyacBatch: XyacBatchScorer = null) {

    /** Per-J scratch. Arrays fully overwritten every frame are reused
      * as-is; conditionally-assigned arrays (pAdjSet, prior, xyac, lMask)
      * are memset at frame start — half the memory traffic of fresh
      * allocation (the JVM zeroes new arrays anyway) and zero GC. */
    private final class Scratch(val J: Int) {
      val tTot = new Array[Double](F * J)
      val cosTh = new Array[Double](F * J)
      val sinTh = new Array[Double](F * J)
      val dMagA = new Array[Double](F * J)
      val s0A = new Array[Double](F * J)
      val tLtA = new Array[Double](F * J)
      val dLtA = new Array[Double](F * J)
      val pAdj = new Array[Double](F * NT * J)   // filled per (f, k) slice on first read
      val pAdjSet = new Array[Boolean](F * NT)   // which slices are filled: clear per frame
      val qAll = new Array[Double](F * NT)       // Π_j (1 − p_adj) of each filled slice
      val ppcInd = new Array[Double](F * NT * J)
      val ppcOff = new Array[Double](F * NT)
      val ppcDef = new Array[Double](F * NT)
      val lMask = new Array[Double](F)           // conditional: clear per frame
      val prior = new Array[Double](F * NT)      // conditional: clear per frame
      val xyac = new Array[Double](F * NT)       // conditional: clear per frame
      val trans = new Array[Double](F * NT)
      val eppa1 = new Array[Double](F * NT)
      val xepaComp = new Array[Double](F * NT)
      var featBuf: Array[Double] = Array.emptyDoubleArray
      var cellIdx: Array[Int] = Array.emptyIntArray
      var scored: Array[Double] = Array.emptyDoubleArray
      def ensureGather(n: Int): Unit = if (cellIdx.length < n) {
        featBuf = new Array[Double](n * XyacNumFeatures)
        cellIdx = new Array[Int](n)
        scored = new Array[Double](n)
      }
      def reset(): Unit = {
        java.util.Arrays.fill(pAdjSet, false)
        java.util.Arrays.fill(lMask, 0.0)
        java.util.Arrays.fill(prior, 0.0)
        java.util.Arrays.fill(xyac, 0.0)
      }
    }
    private var scratch: Scratch = null

    /** The flight-time steps τ ≤ k at which a ball thrown with flight time
      * tOf(k) is inside the catchable z window, ascending. The ball's
      * height depends on (k, τ) only, not on the landing cell. */
    private val catchable: Array[Array[Int]] = Array.tabulate(NT) { k =>
      val vz0 = tOf(k) * G / 2.0
      (0 to k).filter { tau =>
        val tt = tOf(tau)
        val z = 2.0 + vz0 * tt - 0.5 * G * tt * tt
        z > params.zMin && z < params.zMax
      }.toArray
    }

    /** F1–F10 for one frame. epaComp(i) = xepa if the play ends at
      * x = i + 0.5 (120 entries); epaInc = incompletion xepa. */
    def compute(in: FrameInput, epaComp: Array[Double], epaInc: Double): FrameOutput = {
      val ps = in.players
      val J = ps.length
      val bx = in.ballX; val by = in.ballY

      // ---- F1 reaction projection (play_eppa_cpu.py:235-240)
      val xr = new Array[Double](J); val yr = new Array[Double](J)
      val vxr = new Array[Double](J); val vyr = new Array[Double](J)
      var j = 0
      while (j < J) {
        val p = ps(j); val rt = params.reaxT
        vxr(j) = p.vx + p.ax * rt; vyr(j) = p.vy + p.ay * rt
        xr(j) = p.x + p.vx * rt + 0.5 * p.ax * rt * rt
        yr(j) = p.y + p.vy * rt + 0.5 * p.ay * rt * rt
        j += 1
      }

      // ---- F2 time-to-intercept (play_eppa_cpu.py:250-265) per (f, j)
      if (scratch == null || scratch.J != J) scratch = new Scratch(J)
      scratch.reset()
      val tTot = scratch.tTot
      val cosTh = scratch.cosTh
      val sinTh = scratch.sinTh
      val dMagA = scratch.dMagA
      val s0A = scratch.s0A
      val tLtA = scratch.tLtA
      val dLtA = scratch.dLtA
      var f = 0
      while (f < F) {
        val fx = gx(f); val fy = gy(f)
        j = 0
        while (j < J) {
          val i = f * J + j
          val dx = fx - xr(j); val dy = fy - yr(j)
          val dMag = math.sqrt(dx * dx + dy * dy)
          val c = if (dMag > 1e-12) dx / dMag else 1.0
          val s = if (dMag > 1e-12) dy / dMag else 0.0
          // initial speed along the reach vector, clipped ±sMax
          val s0r = if (dMag > 1e-12) (dx * vxr(j) + dy * vyr(j)) / dMag else 0.0
          val s0 = math.max(-params.sMax, math.min(params.sMax, s0r))
          var tLt = (params.sMax - s0) / params.aMax
          var dLt = tLt * (s0 + params.sMax) / 2.0
          if (dLt > dMag) {
            // accelerating to sMax overshoots: quadratic kinematics solve
            val q = s0 / params.aMax
            tLt = -q + math.sqrt(q * q + 2.0 * dMag / params.aMax)
            dLt = dMag
          }
          dLt = math.max(0.0, math.min(dMag, dLt))
          val dAt = dMag - dLt
          val tAt = dAt / params.sMax
          tTot(i) = tLt + tAt + params.reaxT
          cosTh(i) = c; sinTh(i) = s; dMagA(i) = dMag; s0A(i) = s0
          tLtA(i) = tLt; dLtA(i) = dLt
          j += 1
        }
        f += 1
      }

      // ---- F3/F4: p_int + team combine + offense adjustment, one (f, k)
      // slice of p_adj at a time, filled the first time F7 or the true-pass
      // projection reads it: F7 reaches only the cells a catchable
      // trajectory passes through, about half of them
      // p_adj(f,k,j): offense scaled by (1 − p_def) (frame_eppa.py:205-207)
      val sigK = math.Pi / math.sqrt(3.0) / params.ttiSigma
      val pAdj = scratch.pAdj
      val pAdjSet = scratch.pAdjSet
      val qAll = scratch.qAll
      def fillPAdj(f: Int, k: Int): Unit = {
        val tt = tOf(k)
        val slice = f * NT + k
        val base = slice * J
        var prodDef = 1.0
        var j = 0
        while (j < J) {
          // saturated-sigmoid guard: beyond |36/σk| the exp under/overflows
          // to an exact 0/1 anyway — skip the transcendental (most field
          // cells are far from most players, so this is the common case)
          val a = sigK * (tt - tTot(f * J + j))
          val p = if (a > 36.0) 1.0
                  else if (a < -36.0) 0.0
                  else 1.0 / (1.0 + math.exp(-a))
          pAdj(base + j) = p
          if (!ps(j).isOff) prodDef *= (1.0 - p)
          j += 1
        }
        val pDef = 1.0 - prodDef
        var prodAll = 1.0
        j = 0
        while (j < J) {
          if (ps(j).isOff) pAdj(base + j) *= (1.0 - pDef)
          prodAll *= (1.0 - pAdj(base + j))
          j += 1
        }
        qAll(slice) = prodAll
        pAdjSet(slice) = true
      }

      // ---- F7 trajectory completion (gpu path semantics) → ppc
      // (outputs copy scalars out of these; nothing escapes the call)
      val ppcOff = scratch.ppcOff
      val ppcDef = scratch.ppcDef
      val ppcInd = scratch.ppcInd // completion per player
      f = 0
      while (f < F) {
        val dx = gx(f) - bx; val dy = gy(f) - by
        var k = 0
        while (k < NT) {
          val T = tOf(k)
          val vx = dx / T; val vy = dy / T
          var surv = 1.0
          val base = (f * NT + k) * J
          java.util.Arrays.fill(ppcInd, base, base + J, 0.0)
          // the ball's cell matters only inside the catchable z window
          val taus = catchable(k)
          var ti = 0
          while (ti < taus.length) {
            val tau = taus(ti)
            val tt = tOf(tau)
            val cx = math.rint(math.max(0.0, math.min(Nx - 1.0, bx + vx * tt))).toInt
            val cy = math.rint(math.max(0.0, math.min(Ny - 1.0, by + vy * tt))).toInt
            val slice = (cy * Nx + cx) * NT + tau
            if (!pAdjSet(slice)) fillPAdj(cy * Nx + cx, tau)
            val cb = slice * J
            j = 0
            while (j < J) { ppcInd(base + j) += surv * pAdj(cb + j); j += 1 }
            surv *= qAll(slice)
            ti += 1
          }
          // team combine: 1 − Π(1 − ind) (play_eppa_gpu.py:428-430)
          var po = 1.0; var pd = 1.0
          j = 0
          while (j < J) {
            val c = ppcInd(base + j)
            if (ps(j).isOff) po *= (1.0 - c) else pd *= (1.0 - c)
            j += 1
          }
          ppcOff(f * NT + k) = 1.0 - po
          ppcDef(f * NT + k) = 1.0 - pd
          k += 1
        }
        f += 1
      }

      // ---- F6 historical prior (uniform L window × T|dist)
      val bxI = math.rint(bx).toInt; val byI = math.rint(by).toInt
      val lMask = scratch.lMask
      var maskSum = 0.0
      f = 0
      while (f < F) {
        val ix = f % Nx; val iy = f / Nx
        val inWin = iy >= math.max(byI + priors.yMin, 0) &&
          iy < math.min(byI + priors.yMax, Ny - 1) &&
          ix >= math.max(bxI + priors.xMin, 0) &&
          ix < math.min(bxI + priors.xMax, Nx - 1)
        if (inWin) { lMask(f) = 1.0; maskSum += 1.0 }
        f += 1
      }
      val prior = scratch.prior
      var priorSum = 0.0
      f = 0
      while (f < F) {
        if (lMask(f) > 0) {
          val dx = gx(f) - bx; val dy = gy(f) - by
          val dist = math.rint(math.sqrt(dx * dx + dy * dy)).toInt
          if (dist > 1 && dist <= 60) {
            val row = priors.tGivenL(dist - 1)
            var k = 0
            while (k < NT) {
              val v = (lMask(f) / maskSum) * row(k)
              prior(f * NT + k) = v; priorSum += v; k += 1
            }
          }
        }
        f += 1
      }
      if (priorSum > 0) { var i = 0; while (i < prior.length) { prior(i) /= priorSum; i += 1 } }
      if (params.priorEps > 0) {
        var maxP = 0.0
        var i = 0
        while (i < prior.length) { if (prior(i) > maxP) maxP = prior(i); i += 1 }
        val floor = params.priorEps * maxP
        i = 0
        while (i < prior.length) { if (prior(i) < floor) prior(i) = 0.0; i += 1 }
      }

      // ---- F5+F8 xyac features (top-5 defenders at projected positions)
      val defIdx = (0 until J).filter(i => !ps(i).isOff).toArray
      val nDef = defIdx.length
      val xyac = scratch.xyac
      val feats = new Array[Double](XyacNumFeatures)
      val dd = new Array[Double](math.max(nDef, 5))
      val dxp = new Array[Double](math.max(nDef, 5))
      val dyp = new Array[Double](math.max(nDef, 5))
      val dvp = new Array[Double](math.max(nDef, 5))
      // batch mode: features of every in-prior cell gathered first, one
      // scoreBatch call, then scatter — the GBDT walk throughput triples
      // when the walks of adjacent cells overlap (independent load chains)
      var nPriorCells = 0
      if (xyacBatch != null) {
        var pi = 0
        while (pi < prior.length) {
          if (prior(pi) != 0.0) nPriorCells += 1
          pi += 1
        }
      }
      if (xyacBatch != null) scratch.ensureGather(nPriorCells)
      val featBuf = if (xyacBatch != null) scratch.featBuf else null
      val cellIdx = if (xyacBatch != null) scratch.cellIdx else null
      var nGathered = 0
      f = 0
      while (f < F) {
        val fx = gx(f); val fy = gy(f)
        var k = 0
        while (k < NT) {
          // prior == 0 ⇒ trans == 0 ⇒ eppa1 == 0 and every xyac-derived
          // quantity is weighted by trans — skipping the GBDT walk (and the
          // defender projections feeding it) is exact, and with the real
          // 30k-tree model it is the difference between ~all and ~half the
          // kernel's work (the L-window + dist ≤ 60 mask zeroes most cells)
          if (prior(f * NT + k) == 0.0) { k += 1 }
          else {
          val T = tOf(k)
          var di = 0
          while (di < nDef) {
            val jj = defIdx(di); val i = f * J + jj
            // F5 piecewise motion projection (play_eppa_cpu.py:279-297)
            val tPastReax = T - params.reaxT
            var dProj = 0.0; var sProj = s0A(i)
            if (tPastReax > 0) {
              if (tPastReax <= tLtA(i)) {
                dProj = s0A(i) * tPastReax + 0.5 * params.aMax * tPastReax * tPastReax
                sProj = s0A(i) + params.aMax * tPastReax
              } else {
                dProj = dLtA(i) + params.sMax * (tPastReax - tLtA(i))
                sProj = params.sMax
              }
            }
            if (dProj > dMagA(i)) dProj = dMagA(i) // no purposeful overshoot
            val xProj = xr(jj) + dProj * cosTh(i)
            val yProj = yr(jj) + dProj * sinTh(i)
            val rx = xProj - fx; val ry = yProj - fy
            dd(di) = math.sqrt(rx * rx + ry * ry)
            dxp(di) = rx; dyp(di) = ry; dvp(di) = sProj
            di += 1
          }
          // partial selection of the 5 nearest (allocation-free; J ≈ 11)
          feats(0) = fx; feats(1) = fy; feats(2) = in.framesSinceSnap
          feats(3) = T
          var r = 0
          var usedMask = 0
          var lastSrc = 0
          while (r < 5) {
            var src = -1; var bestD = Double.MaxValue
            var di2 = 0
            while (di2 < nDef) {
              if ((usedMask & (1 << di2)) == 0 && dd(di2) < bestD) {
                bestD = dd(di2); src = di2
              }
              di2 += 1
            }
            if (src < 0) src = lastSrc // fewer than 5 defenders: repeat last
            else { usedMask |= (1 << src); lastSrc = src }
            feats(4 + r) = dd(src)
            feats(9 + r) = dxp(src)
            feats(14 + r) = dyp(src)
            feats(19 + r) = dvp(src)
            r += 1
          }
          feats(24) = fy
          if (xyacBatch == null) xyac(f * NT + k) = xyacScore(feats)
          else {
            System.arraycopy(feats, 0, featBuf,
              nGathered * XyacNumFeatures, XyacNumFeatures)
            cellIdx(nGathered) = f * NT + k
            nGathered += 1
          }
          k += 1
          }
        }
        f += 1
      }

      if (xyacBatch != null && nGathered > 0) {
        val scored = scratch.scored
        xyacBatch.scoreBatch(featBuf, nGathered, scored)
        var ci = 0
        while (ci < nGathered) { xyac(cellIdx(ci)) = scored(ci); ci += 1 }
      }

      // ---- F9 EPA join + EPPA assembly
      val eppa1 = scratch.eppa1
      val trans = scratch.trans
      var transSum = 0.0
      var i = 0
      while (i < F * NT) {
        // prior == 0 ⇒ trans == +0.0 exactly (ppcOff ∈ [0, 1] for finite
        // inputs, so the pow is finite): skip the pow on the masked cells
        trans(i) = if (prior(i) == 0.0) 0.0 else prior(i) * math.pow(ppcOff(i), params.alpha)
        transSum += trans(i)
        i += 1
      }
      if (transSum > 0) { i = 0; while (i < trans.length) { trans(i) /= transSum; i += 1 } }

      val xepaComp = scratch.xepaComp
      f = 0
      while (f < F) {
        var k = 0
        while (k < NT) {
          val idx = f * NT + k
          // play endpoint = clip(round(xyac + x) + 0.5, 0.5, 119.5)
          val endX = math.max(0.5, math.min(119.5, math.rint(xyac(idx) + gx(f)) + 0.5))
          xepaComp(idx) = epaComp(math.rint(endX - 0.5).toInt)
          val passVal = ppcOff(idx) * xepaComp(idx) + (1.0 - ppcOff(idx)) * epaInc
          eppa1(idx) = passVal * trans(idx)
          k += 1
        }
        f += 1
      }

      // ---- F10 extraction
      var best = 0; var bestV = Double.NegativeInfinity; var tot = 0.0
      i = 0
      while (i < F * NT) {
        if (eppa1(i) > bestV) { bestV = eppa1(i); best = i }
        tot += eppa1(i)
        i += 1
      }
      val bf = best / NT; val bk = best % NT
      val pass0 = PassSummary(in.gameId, in.playId, in.frameId, in.framesSinceSnap,
        tot, bestV, gx(bf), gy(bf), tOf(bk), ppcOff(best), xepaComp(best), trans(best))
      val pass =
        if (in.trueFIdx >= 0 && in.trueFIdx < F &&
            in.trueTIdx >= 0 && in.trueTIdx < NT) {
          val ti = in.trueFIdx * NT + in.trueTIdx
          pass0.copy(trueX = gx(in.trueFIdx), trueY = gy(in.trueFIdx),
            trueT = tOf(in.trueTIdx), truePpcOff = ppcOff(ti),
            trueEppa1 = eppa1(ti), trueTrans = trans(ti))
        } else pass0

      // one sequential pass over ppcInd (cell-outer, player-inner); each
      // player's sums still accumulate in cell order, so bits are unchanged.
      // A cell with trans == 0 adds ±0.0 to sums that start at +0.0 and
      // are never −0.0, which leaves them as they are: skip it
      val sV = new Array[Double](J); val sW = new Array[Double](J)
      var c = 0
      while (c < F * NT) {
        val tr = trans(c)
        if (tr != 0.0) {
          val dv = xepaComp(c) - epaInc
          val cb = c * J
          j = 0
          while (j < J) {
            val w = ppcInd(cb + j) * tr
            sW(j) += w
            sV(j) += w * dv
            j += 1
          }
        }
        c += 1
      }
      val stats = Array.tabulate(J) { jj =>
        PlayerStat(in.gameId, in.playId, in.frameId, ps(jj).nflId, ps(jj).name,
          if (ps(jj).isOff) "OFF" else "DEF", sV(jj), sW(jj))
      }

      val field = Array.tabulate(F) { ff =>
        var m = Double.NegativeInfinity; var s = 0.0
        var po = 0.0; var pd = 0.0; var tr = 0.0
        var k = 0
        while (k < NT) {
          val idx = ff * NT + k
          if (eppa1(idx) > m) m = eppa1(idx)
          s += eppa1(idx)
          if (ppcOff(idx) > po) po = ppcOff(idx)
          if (ppcDef(idx) > pd) pd = ppcDef(idx)
          tr += trans(idx)
          k += 1
        }
        FieldCell(in.gameId, in.playId, in.frameId, gx(ff), gy(ff), m, s, po, pd, tr)
      }

      // ---- F10 proj: per-player snapshot at the true pass cell
      // (play_eppa_cpu.py:507-540; same piecewise motion model as the
      // xyac block above, here for every player at one (f,T))
      val proj: Array[PlayerProj] =
        if (in.trueFIdx >= 0 && in.trueFIdx < F &&
            in.trueTIdx >= 0 && in.trueTIdx < NT) {
          val tfI = in.trueFIdx; val tkI = in.trueTIdx
          if (!pAdjSet(tfI * NT + tkI)) fillPAdj(tfI, tkI)
          val T = tOf(tkI)
          Array.tabulate(J) { jj =>
            val idx = tfI * J + jj
            val dAt = dMagA(idx) - dLtA(idx)
            val tAt = dAt / params.sMax
            val tPastReax = T - params.reaxT
            var dProj = 0.0; var sProj = s0A(idx)
            if (tPastReax > 0) {
              if (tPastReax <= tLtA(idx)) {
                dProj = s0A(idx) * tPastReax + 0.5 * params.aMax * tPastReax * tPastReax
                sProj = s0A(idx) + params.aMax * tPastReax
              } else {
                dProj = dLtA(idx) + params.sMax * (tPastReax - tLtA(idx))
                sProj = params.sMax
              }
            }
            if (dProj > dMagA(idx)) dProj = dMagA(idx)
            val cellIdx = (tfI * NT + tkI) * J + jj
            val dT = T - tTot(idx)
            val a = sigK * dT
            val pRaw = if (a > 36.0) 1.0
                       else if (a < -36.0) 0.0
                       else 1.0 / (1.0 + math.exp(-a))
            PlayerProj(in.gameId, in.playId, in.frameId, ps(jj).nflId,
              xr(jj), yr(jj), vxr(jj), vyr(jj),
              gx(tfI) - xr(jj), gy(tfI) - yr(jj), dMagA(idx), s0A(idx),
              tLtA(idx), dLtA(idx), tAt, dAt, tTot(idx), dT,
              pRaw, pAdj(cellIdx),
              dProj, sProj,
              xr(jj) + dProj * cosTh(idx), yr(jj) + dProj * sinTh(idx),
              sProj * cosTh(idx), sProj * sinTh(idx), ppcInd(cellIdx))
          }
        } else Array.empty[PlayerProj]

      FrameOutput(pass, stats, field, proj)
    }
  }
}
