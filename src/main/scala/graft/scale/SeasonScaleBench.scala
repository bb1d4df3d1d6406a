package graft.scale

import graft.Bench.{jnum, jstr}
import graft.nfl.{Normalize, SeasonBench, SeasonJob}

/** Season-kernel scale rehearsal (round-7 verdict item 7): SCALE_r7
  * measured the §2.13 families at ×10/×50 but the NFL frame-EPPA kernel
  * only at one size (SEASON_r7). This main runs the SAME season job at
  * several play multiplicities — copies of the disjoint toy game set, so
  * play count is the exact scale knob while every per-play group stays
  * the SAME size — and records the numbers that decide executor sizing:
  *
  *  - wall + frames/s: must grow ~linearly in plays (plays are the
  *    embarrassingly parallel unit — the kernel never materializes the
  *    (F,T,T,J) tensor, so per-play work is constant). Measured r8:
  *    sec_per_play flat 1.13/0.90/0.95 at ×1/×10/×30 — holds;
  *  - peak task memory / spill: the KERNEL's per-play state is bounded,
  *    but the surrounding sort/agg stages carry more rows per partition
  *    as the input grows (fixed 32 partitions locally; AQE-coalesced
  *    under the production posture), so their peak grows with copies.
  *    Per-stage peak memory (`stage_peaks`, r14 VERDICT item 5) names
  *    where: the growth must live in named sort/agg/exchange stages,
  *    never the kernel's own stage.
  *
  * One timed run per cell (the season job is minutes-long; the ±20%
  * box variance noted in SEASON_r7 applies — the claims checked here are
  * order-of-magnitude shape claims, flat-vs-linear, not ±5% timings).
  * `SPARK_GRAFT_SEASON_SCALES` sets the copy counts (default 18,182:
  * plays ×1 → ×10 over the base; append 546 for a ×30 point when the
  * wall budget allows). A single count is a one-cell season run: 182
  * copies is the ~1M-raw-row, 17-week season (`SEASON_r*.json`).
  */
object SeasonScaleBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val copiesList = sys.env.getOrElse("SPARK_GRAFT_SEASON_SCALES", "18,182")
      .split(",").map(_.trim.toInt).toSeq
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "target/SEASON_SCALE.json")
    // SPARK_GRAFT_SEASON_POSTURE=production runs the same cells under
    // GraftSession.production (AQE + coalescing, partitions sized to
    // input instead of the fixed local 32) — the posture a cluster runs;
    // r8 ATTRIBUTED the ×30 cell's spill to the fixed partitioning, this
    // knob exists to MEASURE that claim (r9 verdict item 4)
    val posture = sys.env.getOrElse("SPARK_GRAFT_SEASON_POSTURE", "local")
    val spark =
      if (posture == "production") {
        val s = graft.GraftSession.production(
          org.apache.spark.sql.SparkSession.builder()
            .master(s"local[$cpus]")
            .appName("graft-season-scale-prod")
            .config("spark.ui.enabled", "false")).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      } else graft.GraftSession.local(cpus, appName = "graft-season-scale")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // warm-up: one-copy season primes codegen + model broadcast
    val (t1, g1, p1, s1) = SeasonBench.replicate(spark, 1)
    val warmDir = java.nio.file.Files.createTempDirectory("graft-sscale-warm").toString
    SeasonJob.run(Normalize(t1, g1, p1), s1, warmDir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmDir))

    case class Cell(copies: Int, plays: Long, rawRows: Long,
                    frames: Long, sec: Double, metrics: Map[String, Long],
                    stages: Seq[(String, Long)])
    def runCell(copies: Int): Cell = {
      val (tracking, games, plays, preState) = SeasonBench.replicate(spark, copies)
      val rawRows = tracking.count()
      val nPlays = plays.select("gameId", "playId").distinct().count()
      val outDir = java.nio.file.Files
        .createTempDirectory(s"graft-sscale-$copies").toString
      spark.catalog.clearCache()
      System.gc()
      listener.reset()
      val t0 = System.nanoTime()
      val frames = SeasonJob.run(Normalize(tracking, games, plays), preState, outDir)
      val sec = (System.nanoTime() - t0) / 1e9
      MetricsListener.drainBus(spark)
      val cell = Cell(copies, nPlays, rawRows, frames, sec,
        listener.snapshot, listener.topStages(6))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
      System.err.println(f"[season-scale] copies=$copies%-4d plays=$nPlays%-6d " +
        f"${sec}%8.1f s  ${frames / sec}%6.2f frames/s  " +
        f"peakMem=${cell.metrics("peak_task_memory")}%12d  " +
        f"spill=${cell.metrics("disk_spill_bytes")}%d")
      cell.stages.foreach { case (n, p) =>
        System.err.println(f"[season-scale]   stage peak ${p}%12d  $n") }
      cell
    }

    val cells = copiesList.map(runCell)
    val base = cells.head
    def cellJson(c: Cell): String = {
      val m = c.metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      val stages = c.stages.map { case (n, p) =>
        s"""{"stage": ${jstr(n)}, "peak_task_memory": $p}""" }.mkString("[", ", ", "]")
      s"""{"copies": ${c.copies}, "plays": ${c.plays}, "raw_rows": ${c.rawRows}, "frames": ${c.frames}, "sec": ${jnum(c.sec)}, "frames_per_sec": ${jnum(c.frames / c.sec)}, "sec_per_play": ${jnum(c.sec / c.plays)}, $m, "stage_peaks": $stages, "growth": {"plays_ratio": ${jnum(c.plays.toDouble / base.plays)}, "time_ratio": ${jnum(c.sec / base.sec)}, "peak_mem_ratio": ${jnum(c.metrics("peak_task_memory").toDouble / math.max(1L, base.metrics("peak_task_memory")))}}}"""
    }
    val body = cells.map(c => s""""x${c.plays / base.plays}": ${cellJson(c)}""")
      .mkString(",\n  ")
    val json = s"""{
  "meta": {"cpus": $cpus, "heap_gb": ${Runtime.getRuntime.maxMemory / (1024L * 1024 * 1024)}, "posture": "$posture", "note": "disjoint game copies: plays are the exact scale knob, per-play group size constant; claims = linear wall, SUB-LINEAR peak task memory, zero spill. Attribution (r15 coalesce-off control, reconfirmed by r16 stage_peaks): the peak-memory growth lives in the BENCH HARNESS's replicated-input exchange (Exchange+map+parallelize stages), which does not exist in production; the kernel MapGroups stage and the job's sort/agg stages stay flat at every scale. stage_peaks names the top stages by per-stage peak task memory so the attribution is read off the stage names"},
  $body
}
"""
    // explicit UTF-8 (r15 ADVICE): the default-charset PrintWriter mangled
    // the committed SEASON_SCALE_r15.json's note ('1.6x ? the growth')
    // under the POSIX locale
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.write(json) finally w.close()
    System.err.println(s"[season-scale] wrote $outFile")
    spark.stop()
  }
}
