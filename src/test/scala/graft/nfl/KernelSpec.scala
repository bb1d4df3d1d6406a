package graft.nfl

import graft.SparkTestBase
import FrameEppa._

/** Semantic checks for the frame-EPPA kernel, on synthetic frames with
  * hand-computable physics (SURVEY §5: p_int ∈ [0,1], team product-of-
  * complements monotonicity, survival toy example, trans normalization).
  */
class KernelSpec extends SparkTestBase {

  def mkPlayer(id: Long, off: Boolean, x: Double, y: Double,
               vx: Double = 0, vy: Double = 0) =
    Player(id, s"P$id", off, x, y, vx, vy, 0, 0)

  val params = Params()
  def kernel(xyac: Array[Double] => Double = _ => 5.0) =
    new Kernel(params, Priors.synthetic(), xyac)

  val flatEpa: Array[Double] = Array.fill(120)(1.0)

  def frame(players: Array[Player], bx: Double = 30, by: Double = 26): FrameInput =
    FrameInput(1L, 1L, 20, 15, bx, by, players)

  lazy val out: FrameOutput = kernel().compute(
    frame(Array(
      mkPlayer(1, off = true, 35, 26, vx = 5),
      mkPlayer(2, off = true, 40, 30),
      mkPlayer(3, off = false, 36, 26),
      mkPlayer(4, off = false, 45, 20))),
    flatEpa, 0.0)

  test("field output covers the full grid; probabilities in range") {
    assert(out.field.length == F)
    out.field.foreach { c =>
      assert(c.ppcOffMax >= 0 && c.ppcOffMax <= 1 + 1e-9)
      assert(c.ppcDefMax >= 0 && c.ppcDefMax <= 1 + 1e-9)
    }
  }

  test("trans sums to 1 over the surface") {
    val s = out.field.map(_.transSum).sum
    assert(math.abs(s - 1.0) < 1e-6)
  }

  test("argmax pass is inside the field and has positive value") {
    val p = out.pass
    assert(p.maxX >= 0.5 && p.maxX <= 119.5)
    assert(p.maxY >= -0.5 && p.maxY <= 53.5)
    assert(p.maxEppa1 > 0)
    assert(p.eppa1Tot >= p.maxEppa1)
  }

  test("closer defender dominates interception near its own cell") {
    // defender standing AT (36,26) vs offense at (35,26): at the defender's
    // cell with long flight time, ppc_def should beat ppc_off... measured
    // via the per-player completion stats
    val stats = out.players.map(s => s.nflId -> s).toMap
    assert(stats.size == 4)
    // all ind_eppa1_wo_value (= Σ ppc_ind·trans) are probabilities-weighted
    // sums → non-negative, bounded by 1
    out.players.foreach { s =>
      assert(s.indEppa1WoValue >= -1e-12 && s.indEppa1WoValue <= 1.0 + 1e-9)
    }
  }

  test("time-to-intercept physics: stationary player, known distance") {
    // stationary defender, d = 20 yd, s0 = 0:
    // t_lt = sMax/aMax; d_lt = sMax²/(2 aMax) ≈ 5.785 < 20
    // t_tot = t_lt + (d − d_lt)/sMax
    val tLt = params.sMax / params.aMax
    val dLt = params.sMax * params.sMax / (2 * params.aMax)
    val expected = tLt + (20.0 - dLt) / params.sMax
    // p_int at T = expected must be exactly 0.5 (sigmoid midpoint)
    val single = kernel().compute(
      frame(Array(mkPlayer(1, off = true, 30, 26), // offense far corner
        mkPlayer(2, off = false, 30 + 20, 26))), // defender 20yd right? no:
      flatEpa, 0.0)
    // defender is AT x=50,y=26; the cell 20 yd from the defender going
    // right is x=70 — but p_int is vs cells; instead check via kernel
    // internals indirectly: ppc at the defender's own cell rises with T
    val defCell = single.field.find(c => c.x == 50.5 && c.y == 25.5).get
    assert(defCell.ppcDefMax > 0.9) // plenty of time at T = 4 s
    assert(expected > 2.0 && expected < 4.0) // sanity of the analytic value
  }

  test("offense adjustment: p_off scaled down where defense contests") {
    // one offense and one defense at the SAME spot: ppc_def > ppc_off
    // because offense is scaled by (1 − p_def)
    val res = kernel().compute(
      frame(Array(mkPlayer(1, off = true, 40, 26),
        mkPlayer(2, off = false, 40, 26))),
      flatEpa, 0.0)
    val cell = res.field.find(c => c.x == 40.5 && c.y == 25.5).get
    assert(cell.ppcDefMax > cell.ppcOffMax)
  }

  test("empty defense: offense completion approaches 1 near receiver") {
    val res = kernel().compute(
      frame(Array(mkPlayer(1, off = true, 40, 26))), flatEpa, 0.0)
    val cell = res.field.find(c => c.x == 40.5 && c.y == 25.5).get
    assert(cell.ppcOffMax > 0.95)
    assert(cell.ppcDefMax == 0.0)
  }

  test("true-pass backtest samples the surface at the actual throw") {
    val in = frame(Array(
      mkPlayer(1, off = true, 45, 26),
      mkPlayer(2, off = false, 50, 30)))
      .copy(trueFIdx = 26 * F / (55 * 1) / 120 * 120 + 50, trueTIdx = 19)
    val out2 = kernel().compute(in, flatEpa, 0.0)
    assert(!out2.pass.truePpcOff.isNaN)
    assert(out2.pass.truePpcOff >= 0 && out2.pass.truePpcOff <= 1 + 1e-9)
    assert(out2.pass.trueT == 2.0)
    assert(!out2.pass.trueEppa1.isNaN)
    // and without true indices the fields stay NaN
    assert(out.pass.truePpcOff.isNaN)
  }

  test("proj output: one row per player at the true cell, physics consistent") {
    val tf = 26 * Nx + 50 // cell (x=50.5, y=25.5)
    val in = frame(Array(
      mkPlayer(1, off = true, 45, 26),
      mkPlayer(2, off = false, 50, 30, vx = 1, vy = -2)))
      .copy(trueFIdx = tf, trueTIdx = 19)
    val res = kernel().compute(in, flatEpa, 0.0)
    assert(res.proj.length == 2)
    val byId = res.proj.map(p => p.nflId -> p).toMap
    // reaction state equals raw state at reaxT = 0
    assert(byId(1L).reaxX === 45.0)
    assert(byId(2L).reaxY === 30.0)
    def close(a: Double, b: Double, tol: Double = 1e-9) =
      assert(math.abs(a - b) < tol, s"$a vs $b")
    res.proj.foreach { p =>
      close(p.dMag, math.hypot(p.dVecX, p.dVecY), 1e-12)
      close(p.dVecX, 50.5 - p.reaxX, 1e-12)
      close(p.dVecY, 25.5 - p.reaxY, 1e-12)
      // phase decomposition reassembles total time and distance
      close(p.tTot, p.tLtSmax + p.tAtSmax + params.reaxT)
      close(p.dLtSmax + p.dAtSmax, p.dMag)
      close(p.intDT, 2.0 - p.tTot)
      // projection never overshoots the target and lands on the reach ray
      assert(p.dProj >= 0 && p.dProj <= p.dMag + 1e-9)
      close(math.hypot(p.projX - p.reaxX, p.projY - p.reaxY), p.dProj)
      close(math.hypot(p.projVx, p.projVy), math.abs(p.sProj))
      assert(p.pInt >= 0 && p.pInt <= 1)
      assert(p.pIntAdj >= 0 && p.pIntAdj <= p.pInt + 1e-12)
      assert(p.ppcInd >= 0 && p.ppcInd <= 1 + 1e-9)
    }
    // defender 2 starts 4.6 yd from the cell; with T = 2.0 s it arrives:
    // its raw p_int should be near 1 and d_proj capped at d_mag
    val d = byId(2L)
    assert(d.pInt > 0.95)
    close(d.dProj, d.dMag)
    // no true cell → no proj rows
    assert(out.proj.isEmpty)
  }

  test("bit-exact pin: every output field of six varied frames") {
    // J, ball position and true-pass indices vary per frame; the xyac
    // scorer depends on its features, so endpoints differ per cell
    val xyac: Array[Double] => Double =
      fs => 3.0 + 0.11 * fs(0) - 0.07 * fs(1) + 0.9 * fs(3) - 0.2 * fs(4)
    val epa = Array.tabulate(120)(i => math.sin(i / 17.0) + i / 40.0)
    def team(n: Int, off: Boolean, x0: Double, seed: Int) = Array.tabulate(n) { i =>
      val r = new scala.util.Random(seed * 31 + i)
      Player(seed * 100L + i + (if (off) 50 else 0), s"P$seed-$i", off,
        x0 + r.nextDouble() * 20, 3 + r.nextDouble() * 47,
        r.nextGaussian() * 3, r.nextGaussian() * 3,
        r.nextGaussian(), r.nextGaussian())
    }
    val frames = Seq(
      // (offense, defense, ball x, ball y, true cell, true T index)
      (1, 1, 30.0, 26.0, -1, -1),
      (3, 4, 42.5, 12.0, 20 * Nx + 55, 9),
      (5, 6, 25.0, 40.0, -1, -1),
      (4, 7, 61.0, 30.5, 33 * Nx + 78, 24),
      (5, 5, 88.0, 20.0, 10 * Nx + 97, 39),
      (2, 3, 12.0, 50.0, 45 * Nx + 20, 0)
    ).zipWithIndex.map { case ((nOff, nDef, bx, by, tf, tt), s) =>
      FrameInput(7L, 40L + s, 30 + s, 14 + s, bx, by,
        team(nOff, off = true, bx + 2, s) ++ team(nDef, off = false, bx + 4, s + 9),
        tf, tt)
    }
    val k = kernel(xyac)
    val digest = KernelSpec.digest(frames.map(k.compute(_, epa, -0.35)))
    assert(digest == "4bb4110a1cec67350344491fbc0a4d5f73954bb4589c6c5780f38de4969b3c4b",
      s"kernel output digest moved: $digest")
  }

  test("spark job end-to-end over toy play") {
    val norm = Normalize(ToyData.tracking(spark), ToyData.games(spark),
      ToyData.plays(spark))
    val inputs = EppaJob.frameInputs(norm)
    val n = inputs.count()
    assert(n > 0, "toy play should produce in-window frames")
    val epaTables = Seq((1L, 100L), (1L, 200L), (2L, 100L), (2L, 300L))
      .map(k => k -> (Array.tabulate(120)(i => i / 60.0), -0.5)).toMap
    val out = EppaJob.run(inputs.limit(2), epaTables)
    val results = out.collect()
    assert(results.nonEmpty)
    results.foreach { r =>
      assert(r.field.length == F)
      assert(r.players.nonEmpty)
      assert(!r.pass.eppa1Tot.isNaN)
    }
  }
}

object KernelSpec {
  /** SHA-256 over every field of `outs`, doubles by their raw bits. */
  def digest(outs: Seq[FrameOutput]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(v: Any): Unit = v match {
      case d: Double => buf.clear(); md.update(buf.putLong(java.lang.Double.doubleToLongBits(d)).array())
      case l: Long => buf.clear(); md.update(buf.putLong(l).array())
      case i: Int => buf.clear(); md.update(buf.putLong(i.toLong).array())
      case s: String => md.update(s.getBytes("UTF-8"))
      case p: Product => p.productIterator.foreach(put)
      case a: Array[_] => put(a.length); a.foreach(put)
    }
    outs.foreach(put)
    md.digest().map("%02x".format(_)).mkString
  }
}
