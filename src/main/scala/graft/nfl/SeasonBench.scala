package graft.nfl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Season-sized inputs for the season benches (`scale.SeasonScaleBench`
  * and perfbench's `season_eppa`): the toy play set replicated under
  * distinct (gameId, playId) keys across 17 weeks — identical physics per
  * play, so a run measures the distributed path, not data variety. */
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
}
