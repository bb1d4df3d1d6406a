package graft.nfl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tracking-data normalization — the Spark-first rebuild of the
  * reference's `data_processing/normalize.py` ETL (SURVEY §3.1).
  *
  * One lazy DataFrame plan replaces the eager pandas pipeline:
  *  - dim joins (games, plays) are broadcast (J1/J2);
  *  - the line-of-scrimmage self-join (J3, `normalize.py:35-37`) is
  *    rewritten as `max(when(...)) over W(gameId, playId)` — no join, no
  *    extra shuffle;
  *  - per-actor kinematics are lag-difference windows (W1,
  *    `normalize.py:67-81`), all sharing ONE window spec keyed
  *    (gameId, playId, nflId) ordered by frameId, so Catalyst plans a
  *    single exchange+sort for every derivative column;
  *  - the reference's `multiprocessing.Pool(10)` over weeks
  *    (`normalize.py:107-111`) becomes ordinary partition parallelism.
  *
  * At 100 TB: input partitioned by week/gameId; the only wide exchange is
  * the window shuffle on (gameId, playId, nflId), which is the finest
  * stable key — no skew (a play has ≤ ~70 frames per actor).
  */
object Normalize {

  private val D = 0.1 // seconds between frames (normalize.py:59)

  /** Full normalize: raw tracking + games + plays → 30-column enriched
    * frame table (FIXTURES A6). */
  def apply(tracking: DataFrame, games: DataFrame, plays: DataFrame): DataFrame = {
    val w = Window.partitionBy("gameId", "playId", "nflId").orderBy("frameId")
    val wPlay = Window.partitionBy("gameId", "playId")

    val withDims = tracking
      // ball rows carry null nflId → 0 (normalize.py:20)
      .withColumn("nflId", coalesce(col("nflId"), lit(0L)))
      .join(broadcast(games), Seq("gameId"))
      // team abbr resolution (normalize.py:23-26 np.select)
      .withColumn("teamAbbr",
        when(col("team") === "home", col("homeTeamAbbr"))
          .when(col("team") === "away", col("visitorTeamAbbr"))
          .otherwise(lit("FTBL")))
      .join(broadcast(plays.select("gameId", "playId", "possessionTeam")),
        Seq("gameId", "playId"))

    // Each step below is one withColumns over the previous step's columns:
    // one analysis per step, not one per derived column
    val left = col("playDirection") === "left"
    val flipped = withDims.withColumns(Map(
      // OFF/DEF/FTBL (normalize.py:30-31)
      "team_pos" -> when(col("teamAbbr") === "FTBL", lit("FTBL"))
        .when(col("teamAbbr") === col("possessionTeam"), lit("OFF"))
        .otherwise(lit("DEF")),
      // direction normalization: all plays flow rightward
      // (normalize.py:43-57)
      "x" -> when(left, lit(Schemas.FieldXMax) - col("x")).otherwise(col("x")),
      "y" -> when(left, lit(Schemas.FieldYMax) - col("y")).otherwise(col("y")),
      "o" -> when(left, pmod(col("o") + 180.0, lit(360.0))).otherwise(col("o")),
      "dir" -> when(left, pmod(col("dir") + 180.0, lit(360.0))).otherwise(col("dir")),
      // line of scrimmage: ball x at ball_snap, broadcast to the play via a
      // whole-partition window instead of the reference's self-join (J3),
      // mirrored like x
      "los" -> {
        val los = max(when(
          col("displayName") === "Football" && col("event") === "ball_snap",
          col("x"))).over(wPlay)
        when(left, lit(Schemas.FieldXMax) - los).otherwise(los)
      }))

    // velocity decomposition (normalize.py:62-65): tracking `dir` is
    // degrees clockwise from +y; convert to standard math angle
    val sDir = pmod(lit(90.0) - col("dir"), lit(360.0))
    val sDirRad = radians(sDir)
    val vx = col("s") * cos(sDirRad)
    val vy = col("s") * sin(sDirRad)
    val vel = flipped.withColumns(Map(
      "s_dir" -> sDir, "s_dir_rad" -> sDirRad, "v_x" -> vx, "v_y" -> vy,
      "v_theta" -> atan2(vy, vx), "v_mag" -> col("s")))

    // ball rows have no s/dir: derive velocity from the position diff
    // (normalize.py:67-70), per play — same W1 lag-difference
    val ballVel = vel.withColumns(Map(
      "v_x" -> when(col("nflId") === 0,
        (col("x") - lag("x", 1).over(w)) / D).otherwise(col("v_x")),
      "v_y" -> when(col("nflId") === 0,
        (col("y") - lag("y", 1).over(w)) / D).otherwise(col("v_y"))))

    // accelerations = velocity lag-difference (normalize.py:75-81)
    val ax = coalesce((col("v_x") - lag("v_x", 1).over(w)) / D, lit(0.0))
    val ay = coalesce((col("v_y") - lag("v_y", 1).over(w)) / D, lit(0.0))
    val acc = ballVel.withColumns(Map(
      "v_mag" -> when(col("nflId") === 0,
        sqrt(col("v_x") * col("v_x") + col("v_y") * col("v_y")))
        .otherwise(col("v_mag")),
      "a_x" -> ax, "a_y" -> ay, "a_old" -> col("a")))
      .withColumns(Map(
        "a_mag" -> sqrt(col("a_x") * col("a_x") + col("a_y") * col("a_y")),
        "a_theta" -> atan2(col("a_y"), col("a_x"))))

    // position group map (normalize.py:87-90) as a literal CASE chain
    val posMap = Schemas.positionGeneral.foldLeft(lit(null).cast("string")) {
      case (acc0, (k, v)) => when(col("position") === k, lit(v)).otherwise(acc0)
    }

    val kinCols = Set("los", "x", "y", "dis", "o", "s", "s_dir", "s_dir_rad",
      "v_x", "v_y", "v_theta", "v_mag", "a_old", "a_x", "a_y", "a_theta", "a_mag")
    acc.select(Seq("gameId", "playId", "frameId", "event", "nflId",
      "displayName", "jerseyNumber", "position", "position_general", "team",
      "team_pos", "teamAbbr", "route", "time", "los", "x", "y", "dis", "o", "s",
      "s_dir", "s_dir_rad", "v_x", "v_y", "v_theta", "v_mag", "a_old", "a_x",
      "a_y", "a_theta", "a_mag").map {
      case "position_general" => posMap.as("position_general")
      case c if kinCols(c) => round(col(c), 2).as(c) // 2dp (normalize.py:85)
      case c => col(c)
    }: _*)
  }

  /** Read raw CSVs and write the normalized table partitioned by game —
    * the S7 sink (`normalize.py:100-101`), parquet instead of CSV. */
  def runJob(spark: SparkSession, trackingPath: String, gamesPath: String,
             playsPath: String, outPath: String): Unit = {
    val tracking = spark.read.schema(Schemas.trackingRaw)
      .option("header", "true").csv(trackingPath)
    val games = spark.read.schema(Schemas.games).option("header", "true").csv(gamesPath)
    val plays = spark.read.schema(Schemas.plays).option("header", "true").csv(playsPath)
    apply(tracking, games, plays)
      .write.mode("overwrite").partitionBy("gameId").parquet(outPath)
  }
}
