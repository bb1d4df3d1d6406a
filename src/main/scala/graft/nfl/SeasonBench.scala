package graft.nfl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-season wall-time rehearsal (VERDICT r4 item 7): SeasonJob over a
  * synthetic 17-week season at ~1M raw tracking rows, through the REAL
  * end-to-end path — raw tracking → Normalize (the wide exchange) →
  * frame inputs → EPPA kernel with the real xyac binary → four
  * partitioned output sinks. The reference point is the reference's
  * own batch run: ≈7–26 s/play on CUDA (`play_eppa_gpu.py:46-47`,
  * BASELINE.md) and its 5-week ingest at 40.1 s (pandas).
  *
  * The season is the toy play set replicated under distinct (gameId,
  * playId) keys across 17 weeks — identical physics per play, so the
  * number measures the DISTRIBUTED path (normalize windows, shuffle,
  * task scheduling, kernel, model broadcast, partitioned writes), not
  * data variety; ThroughputBench already isolates the kernel.
  *
  * `sbt "runMain graft.nfl.SeasonBench"` — env SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SEASON_COPIES (default 182 ≈ 1.00M raw rows),
  * SPARK_GRAFT_OUT (default target/SEASON_r5.json).
  */
object SeasonBench {

  /** Replicate the toy tables into `copies` disjoint game sets spread
    * over 17 weeks. gameId' = copy*10 + gameId keeps the two toy games
    * distinct within each copy. */
  def replicate(spark: SparkSession, copies: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cp = broadcast(spark.range(copies).select(
      col("id").cast("int").as("copy"),
      (col("id") % 17 + 1).cast("int").as("week_n")))
    def remap(df: DataFrame): DataFrame =
      df.crossJoin(cp)
        .withColumn("gameId", col("gameId") + col("copy") * 10L)
    val tracking = remap(ToyData.tracking(spark))
      .drop("copy", "week_n")
    val games = remap(ToyData.games(spark))
      .withColumn("week", col("week_n"))
      .drop("copy", "week_n")
    val plays = remap(ToyData.plays(spark)).drop("copy", "week_n")
    // pre-play state for the EPA tables: deterministic down/distance per
    // play key (the toy fixture has no pbp join; SeasonJob only needs the
    // five columns EpaModel.epaTable reads)
    val preState = plays.select("gameId", "playId").distinct()
      .select(col("gameId"), col("playId"),
        (pmod(col("gameId") + col("playId"), lit(4)) + 1).cast("int").as("down_x"),
        (lit(20.0) + pmod(col("playId"), lit(60))).as("yardline_100"),
        (lit(1.0) + pmod(col("playId"), lit(10))).as("ydstogo"))
    (tracking, games, plays, preState)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val copies = sys.env.getOrElse("SPARK_GRAFT_SEASON_COPIES", "182").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "target/SEASON.json")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-season").toString
    val spark = graft.GraftSession.local(cpus, appName = "graft-season")

    val (tracking, games, plays, preState) = replicate(spark, copies)
    val rawRows = tracking.count()
    val nPlays = plays.select("gameId", "playId").distinct().count()

    // warm-up: one-copy season primes codegen + model broadcast
    val (t1, g1, p1, s1) = replicate(spark, 1)
    SeasonJob.run(Normalize(t1, g1, p1), s1, s"$outDir/warm")

    // task-metric ceilings for the timed run: the per-task peak execution
    // memory is the number that decides executor sizing at season scale
    val listener = new graft.scale.MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val t0 = System.nanoTime()
    val norm = Normalize(tracking, games, plays)
    val frames = SeasonJob.run(norm, preState, s"$outDir/run")
    val wall = (System.nanoTime() - t0) / 1e9
    graft.scale.MetricsListener.drainBus(spark)
    val metrics = listener.snapshot

    val json =
      s"""{"metric":"season_wall","value":${f"$wall%.1f"},"unit":"sec",""" +
      s""""raw_rows":$rawRows,"plays":$nPlays,"weeks":17,""" +
      s""""frames":$frames,"frames_per_sec":${f"${frames / wall}%.2f"},""" +
      s""""sec_per_play":${f"${wall / nPlays}%.3f"},"cpus":$cpus,""" +
      s""""peak_task_mem_bytes":${metrics("peak_task_memory")},""" +
      s""""shuffle_write_bytes":${metrics("shuffle_write_bytes")},""" +
      s""""reference_sec_per_play":"7-26 (CUDA, play_eppa_gpu.py:46-47)"}"""
    println(json)
    val w = new java.io.PrintWriter(outFile)
    try w.write(json + "\n") finally w.close()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    spark.stop()
  }
}
