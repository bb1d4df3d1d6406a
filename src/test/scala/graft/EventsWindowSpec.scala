package graft

import org.apache.spark.sql.functions._
import graft.ops.{Events, Windows}

/** Semantic specs for the EWMA window smoother and conversion
  * attribution, against independent scalar references on fixtures. */
class EventsWindowSpec extends SparkTestBase {
  import spark.implicits._

  test("ewma matches the scalar adjusted-EWM recursion on a fixture") {
    // scalar reference: pandas-style adjusted ewm(alpha=.5) truncated to
    // the same EwmaDepth frame, computed independently per prefix
    def ref(xs: Seq[Double]): Seq[Double] = xs.indices.map { i =>
      val frame = xs.slice(math.max(0, i - Windows.EwmaDepth + 1), i + 1)
      val weights = frame.indices.map(j => math.pow(2.0, j))
      frame.zip(weights).map { case (x, w) => x * w }.sum / weights.sum
    }
    val vals = Seq(6.55, 12.31, 1.63, 40.0, 0.25, 7.5, 3.125, 99.0, 1.0, 2.0)
    val ewma = Windows.ewma(spark, sfDir)
    // check a real user with >= 10 events end-to-end instead: recompute
    // that user's series from the raw table and compare
    val uid = Tables.events(spark, sfDir).groupBy($"user_id")
      .agg(count(lit(1)).as("n")).orderBy($"n".desc).head().getLong(0)
    val series = Tables.events(spark, sfDir)
      .filter($"user_id" === uid)
      .orderBy($"ts", $"event_id")
      .select($"event_id", $"value").collect()
    val expected = ref(series.map(_.getDouble(1)).toSeq)
    val got = ewma.filter($"user_id" === uid).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    series.map(_.getLong(0)).zip(expected).foreach { case (eid, e) =>
      assert(math.abs(got(eid) - e) < 1e-6, s"event $eid: ${got(eid)} vs $e")
    }
    // the fixture documents the weighting direction: the newest sample
    // carries more than half the total weight, and a spike decays away
    val r = ref(vals)
    assert(r(7) > 49.0, s"spike at idx 7 under-weighted: ${r(7)}")
    assert(r.last < 20.0, s"spike at idx 7 over-persists: ${r.last}")
  }

  test("rolling median matches a scalar reference and shrugs off outliers") {
    def ref(xs: Seq[Double]): Seq[Double] = xs.indices.map { i =>
      val fr = xs.slice(math.max(0, i - 4), i + 1)
        .map(v => math.floor(v * 1e6 + 0.5).toLong).sorted
      val n = fr.length
      val m = if (n % 2 == 1) fr(n / 2).toDouble
              else (fr(n / 2 - 1) + fr(n / 2)).toDouble / 2.0
      m / 1e6
    }
    val uid = Tables.events(spark, sfDir).groupBy($"user_id")
      .agg(count(lit(1)).as("n")).orderBy($"n".desc).head().getLong(0)
    val series = Tables.events(spark, sfDir)
      .filter($"user_id" === uid).orderBy($"ts", $"event_id")
      .select($"event_id", $"value").collect()
    val expected = ref(series.map(_.getDouble(1)).toSeq)
    val got = ops.Windows.rollingMedian(spark, sfDir)
      .filter($"user_id" === uid).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    series.map(_.getLong(0)).zip(expected).foreach { case (eid, e) =>
      assert(got(eid) == e, s"event $eid: ${got(eid)} vs $e")
    }
    // robustness: a spike in a 5-frame moves the median to at most the
    // frame's 2nd-largest value, never the spike itself
    val spiked = ref(Seq(1.0, 2.0, 3.0, 1e6, 2.0))
    assert(spiked.last == 2.0)
  }

  test("attribution credits the latest prior touch, ties by event_id") {
    val ev = Seq(
      // user 1: view then click then purchase -> last=click, first=view
      (1L, "2024-01-01 00:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 00:01:00", 1L, "click", 0.0),
      (3L, "2024-01-01 00:02:00", 1L, "purchase", 10.0),
      // user 2: purchase with no touch -> excluded
      (4L, "2024-01-01 00:00:00", 2L, "purchase", 5.0),
      // user 3: same-ts touch pair; event_id totalizes -> last=click
      (5L, "2024-01-01 00:00:00", 3L, "view", 0.0),
      (6L, "2024-01-01 00:00:00", 3L, "click", 0.0),
      (7L, "2024-01-01 00:00:30", 3L, "purchase", 2.5)
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s"))
      .withColumn("props", lit("{}"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val dir = tempDir("attr_fix")
    ev.write.parquet(s"$dir/events.parquet")
    val out = Events.attribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSet == Set(
      ("2024-01-01", "click", "view", 2L, 12.5)))
  }

  test("attribution conversions are bounded by purchases with a prior touch") {
    val n = Events.attribution(spark, sfDir)
      .agg(sum($"n_conversions")).head().getLong(0)
    val purchases = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase").count()
    assert(n > 0 && n <= purchases)
  }
}
