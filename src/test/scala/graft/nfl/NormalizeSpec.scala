package graft.nfl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class NormalizeSpec extends SparkTestBase {

  lazy val norm = Normalize(
    ToyData.tracking(spark), ToyData.games(spark), ToyData.plays(spark)).cache()

  test("30-column contract (FIXTURES A6)") {
    val expected = Seq("gameId", "playId", "frameId", "event", "nflId",
      "displayName", "jerseyNumber", "position", "position_general", "team",
      "team_pos", "teamAbbr", "route", "time", "los", "x", "y", "dis", "o",
      "s", "s_dir", "s_dir_rad", "v_x", "v_y", "v_theta", "v_mag", "a_old",
      "a_x", "a_y", "a_theta", "a_mag")
    assert(norm.columns.toSeq == expected)
  }

  test("ball rows get nflId 0 and team_pos FTBL") {
    val ball = norm.filter(col("displayName") === "Football")
    assert(ball.count() > 0)
    assert(ball.filter(col("nflId") =!= 0 || col("team_pos") =!= "FTBL").count() == 0)
  }

  test("team_pos OFF iff teamAbbr == possessionTeam") {
    val offHome = norm.filter(col("gameId") === 1 && col("playId") === 100 &&
      col("team") === "home" && col("team_pos") =!= "OFF")
    assert(offHome.count() == 0) // play 1/100 possessed by HOM (home team)
    val defAway = norm.filter(col("gameId") === 1 && col("playId") === 100 &&
      col("team") === "away" && col("team_pos") =!= "DEF")
    assert(defAway.count() == 0)
  }

  test("direction normalization is an involution on coordinates") {
    // a left-direction play's x must mirror the raw x: x_norm = 120 - x_raw
    val raw = ToyData.tracking(spark)
      .filter(col("gameId") === 1 && col("playId") === 200 &&
        col("frameId") === 10 && col("displayName") === "Player 1")
      .select("x", "y").head
    val n = norm.filter(col("gameId") === 1 && col("playId") === 200 &&
      col("frameId") === 10 && col("displayName") === "Player 1")
      .select("x", "y").head
    assert(math.abs((120.0 - raw.getDouble(0)) - n.getDouble(0)) < 0.01)
    assert(math.abs((160.0 / 3.0 - raw.getDouble(1)) - n.getDouble(1)) < 0.01)
  }

  test("los is constant within a play and equals flipped ball-snap x") {
    val losVals = norm.filter(col("gameId") === 1 && col("playId") === 100)
      .select("los").distinct().collect().map(_.getDouble(0))
    assert(losVals.length == 1)
  }

  test("velocity decomposition: v_x² + v_y² ≈ s² for players") {
    val bad = norm.filter(col("nflId") > 0)
      .withColumn("err",
        abs(col("v_x") * col("v_x") + col("v_y") * col("v_y") - col("s") * col("s")))
      .filter(col("err") > 0.1)
    assert(bad.count() == 0)
  }

  test("constant-velocity players have ~zero acceleration after frame 2") {
    val bad = norm.filter(col("nflId") > 0 && col("frameId") > 2 &&
      col("a_mag") > 0.5)
    // boundary-clamped actors can show spurious acceleration; the interior
    // ones must not
    val interior = bad.filter(col("x") > 2 && col("x") < 114 &&
      col("y") > 2 && col("y") < 51)
    assert(interior.count() == 0)
  }

  test("position_general maps every toy position") {
    val unmapped = norm.filter(col("nflId") > 0 && col("position_general").isNull)
    assert(unmapped.count() == 0)
  }

  test("ball velocity derives from position diff") {
    // toy ball is static → v_mag 0 after first frame
    val ball = norm.filter(col("nflId") === 0 && col("frameId") > 1)
    val moving = ball.filter(abs(col("v_mag")) > 0.01)
    assert(moving.count() == 0)
  }

  test("bit-exact pin: every row and the schema of the toy normalize") {
    val digest = KernelSpec.rowsDigest(norm)
    assert(digest == "d5893c7b3c8b82ce2846278c012ebf48d3f4faa442543acbb5c66257a871fcdd", s"normalize digest moved: $digest")
  }
}
