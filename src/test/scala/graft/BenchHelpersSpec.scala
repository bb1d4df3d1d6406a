package graft

/** The median, JSON escaper and timed run every bench main publishes
  * through (Bench, ScaleBench, SeasonScaleBench, Verify). */
class BenchHelpersSpec extends SparkTestBase {

  test("median drops NaN and infinities, averages the middle pair") {
    assert(Bench.med(Seq(3.0, Double.NaN, 1.0, Double.PositiveInfinity, 2.0,
      Double.NegativeInfinity)) == 2.0)
    assert(Bench.med(Seq(4.0, 1.0, Double.NaN, 2.0, 10.0)) == 3.0)
    assert(Bench.med(Seq(Double.NaN, Double.PositiveInfinity)).isNaN)
    assert(Bench.med(Nil).isNaN)
  }

  test("jstr gives a JSON literal that parses back to the same string") {
    val s = "a\"b\\c\nd\te\u0001f"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.jstr(s), classOf[String])
    assert(back == s)
  }

  test("a throwing frame gives a NaN wall and no rows, and leaves no legs") {
    graft.ops.Legs.add("leftover", "build", 1.0)
    val bad = Bench.timedRun(spark, sfDir, "spec-bad", (s, _) =>
      graft.ops.Legs.time("spec-bad", "build")(s.range(3).selectExpr("raise_error('boom')")))
    assert(bad.wall.isNaN)
    assert(bad.rows.isEmpty)
    assert(bad.legs.keySet == Set("spec-bad.build"))
    assert(graft.ops.Legs.drain().isEmpty)
  }

  test("a good frame gives its row count and the legs it recorded") {
    val good = Bench.timedRun(spark, sfDir, "spec-good", (s, _) => {
      val df = s.range(5).toDF("id").persist()
      graft.ops.Legs.time("spec-good", "build")(df.count())
      df
    })
    assert(!good.wall.isNaN && good.wall >= 0.0)
    assert(good.rows.contains(5L))
    assert(good.legs.keySet == Set("spec-good.build"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the middle run is the median successful one") {
    assert(Bench.middle(Seq(3.0, Double.NaN, 1.0, 2.0))(identity).contains(2.0))
    assert(Bench.middle(Seq(4.0, Double.NaN, 1.0))(identity).contains(1.0))
    assert(Bench.middle(Seq(Double.NaN))(identity).isEmpty)
  }
}
