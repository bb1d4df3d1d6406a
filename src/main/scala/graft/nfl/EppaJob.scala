package graft.nfl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed driver for the frame-EPPA kernel (SURVEY §3.2):
  * normalized tracking → `groupByKey((gameId, playId, frameId))` →
  * one [[FrameEppa.FrameInput]] per frame → range exchange on the frame
  * key → one [[FrameEppa.Kernel]] per task over its run of frames →
  * pass/player/field outputs.
  *
  * The reference loops plays in a Python process pool
  * (`comb_model_big_run_cpu.py:29-41`); here a kernel task takes a
  * contiguous, count-balanced run of frames — embarrassingly parallel
  * after the frame shuffle. Per-play EPA tables and priors ride as
  * broadcast values. Output is written partitioned by (gameId, playId)
  * mirroring the reference's output tree (S8); contiguous frame runs keep
  * the number of play directories each task writes small.
  */
object EppaJob {

  /** Frame window processed per play: snap+14 .. min(throw, snap+47)
    * (`play_eppa_cpu.py:651`, `play_eppa_gpu.py:46-47`). */
  val MinFramesAfterSnap = 14
  val MaxFramesAfterSnap = 47

  /** Normalized tracking → kernel inputs: one FrameInput per
    * (gameId, playId, frameId) inside the model window. */
  def frameInputs(norm: DataFrame): Dataset[FrameEppa.FrameInput] = {
    val spark = norm.sparkSession
    import spark.implicits._
    val wPlay = Window.partitionBy("gameId", "playId")
    val annotated = norm
      .withColumn("snap_frame",
        min(when(col("event") === "ball_snap", col("frameId"))).over(wPlay))
      // pass_shovel counts as the throw too (play_eppa_cpu.py:101-102)
      .withColumn("throw_frame",
        min(when(col("event").isin("pass_forward", "pass_shovel"),
          col("frameId"))).over(wPlay))
      .withColumn("arrive_frame",
        min(when(col("event") === "pass_arrived", col("frameId"))).over(wPlay))
      // actual landing spot = ball position at pass_arrived → true-pass
      // backtest indices (play_eppa_cpu.py:105-119)
      .withColumn("true_bx", max(when(
        col("nflId") === 0 && col("event") === "pass_arrived", col("x"))).over(wPlay))
      .withColumn("true_by", max(when(
        col("nflId") === 0 && col("event") === "pass_arrived", col("y"))).over(wPlay))
      .withColumn("fss", col("frameId") - col("snap_frame"))
      .filter(col("snap_frame").isNotNull && col("throw_frame").isNotNull &&
        col("fss") >= MinFramesAfterSnap &&
        col("fss") <= MaxFramesAfterSnap &&
        col("frameId") <= col("throw_frame"))
      .select("gameId", "playId", "frameId", "fss", "nflId", "displayName",
        "team_pos", "position", "x", "y", "v_x", "v_y", "a_x", "a_y",
        "throw_frame", "arrive_frame", "true_bx", "true_by")

    annotated
      .groupByKey(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMapGroups { (key: (Long, Long, Int), rows: Iterator[org.apache.spark.sql.Row]) =>
        val (g, p, fr) = key
        val rs = rows.toArray
        val qb = rs.find(r => r.getAs[String]("position") == "QB")
        if (qb.isEmpty) Iterator.empty
        else {
          val players = rs.iterator
            .filter(r => r.getLong(4) != 0L &&
              r.getAs[String]("position") != "QB")
            // dedup + stable order (play_eppa_cpu.py:232)
            .toSeq.groupBy(_.getLong(4)).map(_._2.head).toSeq
            .sortBy(_.getLong(4))
            .map { r =>
              FrameEppa.Player(r.getLong(4), r.getAs[String]("displayName"),
                r.getAs[String]("team_pos") == "OFF",
                r.getAs[Double]("x"), r.getAs[Double]("y"),
                r.getAs[Double]("v_x"), r.getAs[Double]("v_y"),
                r.getAs[Double]("a_x"), r.getAs[Double]("a_y"))
            }.toArray
          val fss = rs.head.getAs[Int]("fss")
          val head = rs.head
          // true pass: landing cell + flight-time index (clipped to grid)
          val (tf, tt) = (Option(head.getAs[Any]("arrive_frame")),
              Option(head.getAs[Any]("true_bx"))) match {
            case (Some(arr), Some(_)) =>
              val bx = head.getAs[Double]("true_bx")
              val by = head.getAs[Double]("true_by")
              val cx = math.rint(math.max(0.0, math.min(FrameEppa.Nx - 1.0, bx - 0.5))).toInt
              val cy = math.rint(math.max(0.0, math.min(FrameEppa.Ny - 1.0, by + 0.5))).toInt
              val tofFrames = arr.asInstanceOf[Int] - head.getAs[Int]("throw_frame")
              val tIdx = math.max(0, math.min(FrameEppa.NT - 1, tofFrames - 1))
              (cy * FrameEppa.Nx + cx, tIdx)
            case _ => (-1, -1)
          }
          Iterator.single(FrameEppa.FrameInput(g, p, fr, fss,
            qb.get.getAs[Double]("x"), qb.get.getAs[Double]("y"), players, tf, tt))
        }
      }
  }

  /** Run the kernel over every in-window frame. `epaTables` maps
    * (gameId, playId) → (xepa_comp per endpoint, xepa_inc); plays without
    * an EPA table are skipped (reference skips error plays — S9). */
  def run(inputs: Dataset[FrameEppa.FrameInput],
          epaTables: Map[(Long, Long), (Array[Double], Double)],
          params: FrameEppa.Params = FrameEppa.Params(),
          priors: FrameEppa.Priors = FrameEppa.Priors.synthetic(),
          xyacScore: Array[Double] => Double = _ => 5.0,
          xyacBatch: FrameEppa.XyacBatchScorer = null)
      : Dataset[FrameEppa.FrameOutput] = {
    val spark = inputs.sparkSession
    import spark.implicits._
    val bEpa = spark.sparkContext.broadcast(epaTables)
    val bPriors = spark.sparkContext.broadcast(priors)
    // A frame costs a few hundred ms of CPU but is only a few KB, so the
    // frame shuffle's key hash and AQE's byte-based sizing both leave the
    // kernel tasks uneven. A range exchange on the frame key gives every
    // task a contiguous run of frames, balanced by count; an explicit
    // partition count is never coalesced by AQE, so the count is the
    // task slots: one run of frames per slot.
    val n = spark.sparkContext.defaultParallelism
    // one kernel per partition: its scratch buffers (~100 MB) are reused
    // across the partition's frames instead of reallocated per frame
    inputs.repartitionByRange(n, col("gameId"), col("playId"), col("frameId"))
      .mapPartitions { it =>
        val kernel = new FrameEppa.Kernel(params, bPriors.value,
          xyacScore, xyacBatch)
        it.flatMap { in =>
          bEpa.value.get((in.gameId, in.playId)) match {
            case Some((comp, inc)) =>
              Iterator.single(kernel.compute(in, comp, inc))
            case None => Iterator.empty
          }
        }
      }
  }

  /** Write the four output tables partitioned like the reference's
    * output/{game}/{play} tree (S8; the 4th mirrors
    * `true_pass_player_proj.pkl`, play_eppa_cpu.py:675). DYNAMIC
    * partition overwrite at (gameId, playId) granularity: a resumed run
    * writing only new plays replaces exactly those partitions —
    * static overwrite would truncate everything already computed. */
  def writeOutputs(out: Dataset[FrameEppa.FrameOutput], dir: String): Unit = {
    val spark = out.sparkSession
    import spark.implicits._
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gameId", "playId").parquet(s"$dir/$name")
    val cached = out.cache()
    write(cached.map(_.pass).toDF(), "passes")
    write(cached.flatMap(_.players).toDF(), "player_stats")
    write(cached.flatMap(_.field).toDF(), "field_viz")
    write(cached.flatMap(_.proj).toDF(), "player_proj")
    cached.unpersist()
  }
}
