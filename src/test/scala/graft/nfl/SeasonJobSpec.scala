package graft.nfl

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The composed batch driver (comb_model_big_run re-expression): EPA
  * tables from play pre-state, kernel over every in-window frame, four
  * partitioned outputs, S9 resume. */
class SeasonJobSpec extends SparkTestBase {

  private lazy val norm = Normalize(ToyData.tracking(spark),
    ToyData.games(spark), ToyData.plays(spark)).cache()

  private def preState = {
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (1L, 100L, 1, 60.0, 10.0),
      (1L, 200L, 2, 45.0, 7.0),
      (2L, 100L, 1, 70.0, 10.0),
      (2L, 300L, 3, 30.0, 4.0)
    ).toDF("gameId", "playId", "down_x", "yardline_100", "ydstogo")
  }

  test("epaTables: one 120-entry table per play, overrides intact") {
    val t = SeasonJob.epaTables(preState)
    assert(t.size == 4)
    t.values.foreach { case (comp, inc) =>
      assert(comp.length == 120)
      assert(!inc.isNaN)
      // TD override from the state machine: last endpoints score 7 - before
      assert(comp(115) > comp(20), "downfield catches must beat safeties")
    }
  }

  test("run writes 4 partitioned tables; resume skips completed plays") {
    val dir = tempDir("graft_season")
    val n1 = SeasonJob.run(norm, preState, dir,
      xyacModel = None, resume = true)
    assert(n1 > 0, "first run must compute frames")
    for (t <- Seq("passes", "player_stats", "field_viz"))
      assert(spark.read.parquet(s"$dir/$t").count() > 0, t)
    // partition tree mirrors the reference's output/{game}/{play} layout
    val partDirs = new java.io.File(s"$dir/passes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(partDirs.exists(_.startsWith("gameId=")), partDirs.toSeq.toString)

    val passes1 = spark.read.parquet(s"$dir/passes")
      .select("gameId", "playId", "frameId", "eppa1Tot").collect().toSet

    // second run: everything already written → nothing recomputed
    val n2 = SeasonJob.run(norm, preState, dir,
      xyacModel = None, resume = true)
    assert(n2 == 0, s"resume should skip all plays, recomputed $n2")
    val passes2 = spark.read.parquet(s"$dir/passes")
      .select("gameId", "playId", "frameId", "eppa1Tot").collect().toSet
    assert(passes1 == passes2, "resume must not clobber existing output")
  }

  test("partial resume: only missing plays are recomputed and merged") {
    val dir = tempDir("graft_season2")
    // first pass: only game 1
    val n1 = SeasonJob.run(norm.filter(col("gameId") === 1L), preState, dir,
      xyacModel = None, resume = true)
    assert(n1 > 0)
    val g1 = spark.read.parquet(s"$dir/passes").collect().length
    // second pass: full input — only game 2's plays are new work
    val n2 = SeasonJob.run(norm, preState, dir, xyacModel = None, resume = true)
    assert(n2 > 0 && n2 < n1 + n2, "second run computes only the remainder")
    val all = spark.read.parquet(s"$dir/passes")
    assert(all.collect().length == g1 + n2,
      "existing game-1 output merged with new game-2 output")
    assert(all.select("gameId").distinct().count() == 2)
  }

  test("bit-exact pin: all four output tables of the toy plays") {
    val dir = tempDir("graft_season_pin")
    assert(SeasonJob.run(norm, preState, dir, xyacModel = None) == 48)
    val got = Seq("passes", "player_stats", "field_viz", "player_proj").map { t =>
      t -> KernelSpec.rowsDigest(spark.read.parquet(s"$dir/$t"))
    }.toMap
    val want = Map(
      "passes" -> "1050379c10943f5ea1d262e71b8309101b908a2778cd82f543b11196b0e496ed",
      "player_stats" -> "9ed02abd928d6aa47114b6a462860de75a0cd3212bcb37d0e9fd156f6624f119",
      "field_viz" -> "8c6b81795fa64b94fab5e744c2bca7b2e4dfbfa3573dfc81e36db74c4f2e6b40",
      "player_proj" -> "4c69ae3947405bd05708083377cf5ec5e3054650a27e3ae95f1b865c928c2981")
    assert(got == want, s"season output digests moved: $got")
  }

  test("a first run with no in-window frames returns 0; a full run then resumes") {
    val dir = tempDir("graft_season3")
    // frames before snap+14 only: no play reaches the model window
    val early = norm.filter(col("frameId") < ToyData.SnapFrame + EppaJob.MinFramesAfterSnap)
    assert(SeasonJob.run(early, preState, dir, xyacModel = None) == 0)
    assert(SeasonJob.run(norm, preState, dir, xyacModel = None) == 48)
    assert(SeasonJob.run(norm, preState, dir, xyacModel = None) == 0,
      "the full run's plays must be skipped on the next resume")
    val passes = spark.read.parquet(s"$dir/passes")
    assert(passes.count() == 48)
    assert(passes.select("gameId", "playId").distinct().count() == 4)
  }
}
