package graft

import graft.ops.{Events, Features, Num}
import org.apache.spark.sql.functions._

/** LOO target encoding + sliding distinct actives vs scalar references. */
class FeaturesSpec extends SparkTestBase {

  test("loo encoding matches a scalar reference and never leaks its own label") {
    import spark.implicits._
    val rows = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_mktsegment",
        Num.micros($"o_totalprice").as("y"))
      .as[(Long, String, Long)].collect()
    val bySeg = rows.groupBy(_._2).view
      .mapValues(rs => (rs.map(_._3).sum, rs.size.toLong)).toMap
    val prior = rows.map(_._3).sum / rows.length
    val m = Features.LooSmoothing
    def ref(seg: String, y: Long): Long = {
      val (s, n) = bySeg(seg)
      val num = s - y + m * prior
      val den = n - 1 + m
      // floor division on possibly-negative-free positives
      num / den
    }
    val got = Features.looTargetEncode(spark, sfDir)
      .select($"o_orderkey", $"segment", $"loo_enc_micros")
      .as[(Long, String, Long)].collect()
    assert(got.length == rows.length)
    val yOf = rows.map(r => r._1 -> (r._2, r._3)).toMap
    got.foreach { case (k, seg, enc) =>
      val (rseg, y) = yOf(k)
      assert(seg == rseg)
      assert(enc == ref(seg, y), s"order $k: $enc != ${ref(seg, y)}")
    }
    // leakage guard: two same-segment orders with different totals must
    // get different encodings (the own-label exclusion shifts each)
    val pair = got.groupBy(_._2).values.map(_.take(2)).find { g =>
      g.size == 2 && yOf(g(0)._1)._2 != yOf(g(1)._1)._2
    }
    pair.foreach { g =>
      assert(g(0)._3 != g(1)._3,
        "distinct labels in one segment must yield distinct LOO encodings")
    }
  }

  test("singleton category degrades to exactly the smoothed prior") {
    import spark.implicits._
    val dir = tempDir("loo_single")
    // two segments: BULK with 3 orders, LONE with exactly one
    Seq(
      (1L, 10L, "O", 100.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "P"),
      (2L, 10L, "O", 200.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "P"),
      (3L, 11L, "O", 300.0, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), "P"),
      (4L, 12L, "O", 400.0, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), "P"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, "ca", 1, 0.0, "BULK"), (11L, "cb", 1, 0.0, "BULK"),
        (12L, "cc", 1, 0.0, "LONE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val got = Features.looTargetEncode(spark, dir)
      .select($"o_orderkey", $"loo_enc_micros")
      .as[(Long, Long)].collect().toMap
    val prior = (100000000L + 200000000L + 300000000L + 400000000L) / 4
    val m = Features.LooSmoothing
    // LONE's order 4: (seg_sum - y) = 0 and seg_n - 1 = 0 → exactly prior
    assert(got(4L) == (m * prior) / m)
    assert(got(4L) == prior)
    // BULK's order 1: ((200+300)M + 10*prior) / (2 + 10)
    assert(got(1L) == (500000000L + m * prior) / 12L)
  }

  test("rolling slope equals a scalar least-squares fit on the trailing week") {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").cast("string").as("d"))
      .agg(count(lit(1)).as("y"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => java.time.LocalDate.parse(r._2) -> r._3).toMap)
      .toMap
    val got = Events.rollingSlope(spark, sfDir)
      .select($"event_type", $"day", $"slope_micros")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    daily.foreach { case (et, byDay) =>
      byDay.keys.foreach { d =>
        // reference: slope defined ONLY when the 6 preceding calendar
        // days are all observed (the contiguity rule)
        val win = (0 to 6).map(i => byDay.get(d.minusDays(6 - i)))
        val expect =
          if (win.forall(_.isDefined)) {
            val ys = win.map(_.get)
            Some((7L * ys.zipWithIndex.map { case (y, i) => i * y }.sum -
              21L * ys.sum) * 1000000L / 196L)
          } else None
        assert(got((et, d.toString)) == expect, s"$et $d")
      }
    }
  }

  test("rolling slope nulls a frame that spans a calendar gap") {
    import spark.implicits._
    val dir = tempDir("slopegap")
    // 6 contiguous days, a 5-day hole, then 7 more contiguous days
    val days = (1 to 6) ++ (12 to 18)
    val rows = days.zipWithIndex.flatMap { case (d, di) =>
      (1 to (di + 1)).map(i => (d.toLong * 1000 + i,
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 01:00:00"),
        i.toLong, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = Events.rollingSlope(spark, dir)
      .collect().map(r => r.getString(1) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // the first day with 7 contiguous observed predecessors is Jan 18
    days.map(d => f"2024-01-$d%02d").foreach { day =>
      if (day == "2024-01-18")
        assert(got(day).isDefined, "contiguous frame must emit a slope")
      else
        assert(got(day).isEmpty, s"$day: gap-spanning frame must be NULL")
    }
    // and the one defined slope is the exact LS fit of counts 8..13... (7..13)
    val ys = (7 to 13).map(_.toLong) // counts on Jan 12..18 are 7,8,...,13
    val expect = (7L * ys.zipWithIndex.map { case (y, i) => i * y }.sum -
      21L * ys.sum) * 1000000L / 196L
    assert(got("2024-01-18").contains(expect))
  }

  test("sliding actives equal a scalar 7-day trailing distinct") {
    import spark.implicits._
    val ud = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").cast("string")).distinct()
      .as[(Long, String)].collect()
      .map { case (u, d) => (u, java.time.LocalDate.parse(d)) }
    val ref = ud.flatMap { case (u, d) => (0 to 6).map(i => (u, d.plusDays(i))) }
      .groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong).toMap
    val got = Events.slidingActives(spark, sfDir)
      .as[(String, Long)].collect()
      .map { case (d, n) => java.time.LocalDate.parse(d) -> n }.toMap
    assert(got == ref)
    // each trailing window dominates its own day's distinct count
    val daily = ud.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong)
    daily.foreach { case (d, n) =>
      assert(got(d) >= n, s"$d window $n > ${got(d)}")
    }
  }
}
