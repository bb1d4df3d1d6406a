package graft.nfl

import org.apache.spark.sql.SparkSession

/** Aggregate kernel throughput through the real Spark path: N plays'
  * worth of frames through EppaJob.run on local[cpus] with the real
  * xyac model when present. The comparable reference numbers are
  * ≈1.3 frames/s and 7–26 s/play on CUDA (`combined_models.ipynb`
  * cells 7/9/14, BASELINE.md).
  *
  * Frames are the toy play's, replicated under distinct (gameId,
  * playId) keys — identical physics per frame, so this measures the
  * distributed path (shuffle, task scheduling, kernel, model
  * broadcast), not data variety.
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val nPlays = args.headOption.map(_.toInt).getOrElse(32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val norm = Normalize(ToyData.tracking(spark), ToyData.games(spark),
      ToyData.plays(spark))
    val baseFrames = EppaJob.frameInputs(norm).collect()
    val framesPerPlay = baseFrames.length / 4 // 4 toy plays
    val replicated = (0 until nPlays).flatMap { p =>
      baseFrames.map(f => f.copy(gameId = 100L + p / 16, playId = p * 1000L + f.playId))
    }
    // EppaJob.run partitions the kernel stage itself
    val inputs = spark.createDataset(replicated)

    val epaTables = replicated.map(f => (f.gameId, f.playId))
      .distinct.map(k => k -> (Array.tabulate(120)(i => i / 60.0), -0.5)).toMap
    val model = XyacModel.loadReferenceIfPresent()
    val xyac = model.map(XyacModel.kernelScorer).getOrElse((_: Array[Double]) => 5.0)
    val batch = model.map(XyacModel.kernelBatchScorer).orNull

    // warm-up: codegen + model deserialization per executor thread
    EppaJob.run(spark.createDataset(baseFrames.toIndexedSeq), epaTables,
      xyacScore = xyac, xyacBatch = batch).foreach(_ => ())

    val t0 = System.nanoTime()
    val n = EppaJob.run(inputs, epaTables, xyacScore = xyac, xyacBatch = batch)
      .map(_.pass.eppa1Tot).filter(!_.isNaN).count()
    val dt = (System.nanoTime() - t0) / 1e9
    val fps = n / dt
    println(f"THROUGHPUT frames=$n%d wall=$dt%.1f s fps=$fps%.2f " +
      f"playsPerMin=${fps * 60 / math.max(framesPerPlay, 1)}%.1f " +
      f"model=${model.map(_ => "real").getOrElse("stub")} cpus=$cpus%s")
    spark.stop()
  }
}
