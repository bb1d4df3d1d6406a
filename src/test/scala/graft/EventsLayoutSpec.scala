package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The driver has shipped events.parquet in two physical layouts across
  * rounds: INT64 nanoseconds (TIMESTAMP_NS, surfaced as LongType by
  * nanosAsLong=true) and a native microsecond timestamp. Tables.eventsAt
  * and EventStreams.readEvents must decode both to the same canonical
  * µs-TimestampType rows, deciding per-directory from one footer read. */
class EventsLayoutSpec extends SparkTestBase {
  test("eventsAt decodes INT64-nanos and timestamp[us] layouts identically") {
    import spark.implicits._
    val base = Seq(
      (1L, 1704067207179575L, 8L, "error", 6.55, """{"k": 69}"""),
      (2L, 1704067432824425L, 46L, "click", 12.31, """{"k": 89}"""))
    val dirN = tempDir("ev_nanos")
    val dirT = tempDir("ev_ts")
    base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts") * 1000L) // epoch nanos as a plain INT64
      .write.mode("overwrite").parquet(s"$dirN/events.parquet")
    base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$dirT/events.parquet")
    assert(Tables.eventsTsIsLong(spark, s"$dirN/events.parquet"))
    assert(!Tables.eventsTsIsLong(spark, s"$dirT/events.parquet"))
    val a = Tables.events(spark, dirN).orderBy("event_id").collect().toSeq
    val b = Tables.events(spark, dirT).orderBy("event_id").collect().toSeq
    assert(a == b, s"layouts decoded differently:\n$a\n$b")
    assert(Tables.events(spark, dirN).schema("ts").dataType == TimestampType)
    val sn = graft.streaming.EventStreams.readEvents(spark, s"$dirN/events.parquet")
    val st = graft.streaming.EventStreams.readEvents(spark, s"$dirT/events.parquet")
    assert(sn.schema("ts").dataType == TimestampType)
    assert(st.schema("ts").dataType == TimestampType)
  }
}
