package graft

import graft.pipelines.IncrementalRollup
import org.apache.spark.sql.functions._

class IncrementalRollupSpec extends SparkTestBase {

  test("incremental ingest equals the full recompute, days untouched on disk") {
    val out = tempDir("rollup")
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    assert(days.length >= 3, "need several days of events")
    val newDays = days.takeRight(2).toSet
    val past = ev.filter(!col("day").isin(newDays.toSeq: _*)).drop("day")
    val batch = ev.filter(col("day").isin(newDays.toSeq: _*)).drop("day")

    IncrementalRollup.initialize(past, out)
    def filesOf(day: String): Map[String, Long] = {
      val d = new java.io.File(s"$out/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val oldDay = days.head
    val before = filesOf(oldDay)

    IncrementalRollup.ingest(ev.drop("day"), batch, out)

    // equality with the one-shot full rollup, bit for bit
    val got = IncrementalRollup.read(spark, out)
      .select("day", "event_type", "n_events", "total_value", "n_users")
      .collect().map(_.toSeq).toSet
    val full = IncrementalRollup.rollup(ev.drop("day"))
      .collect().map(_.toSeq).toSet
    assert(got == full)
    // a day outside the batch kept its exact files
    assert(filesOf(oldDay) == before, "untouched day was rewritten")
    // idempotent re-ingest of the same batch
    IncrementalRollup.ingest(ev.drop("day"), batch, out)
    assert(IncrementalRollup.read(spark, out)
      .select("day", "event_type", "n_events", "total_value", "n_users")
      .collect().map(_.toSeq).toSet == full)
  }

  test("day-partitioned bronze: the touched-day join prunes directories in the plan") {
    val bronze = tempDir("bronze_part")
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(bronze)
    val allEvents = spark.read.parquet(bronze)
    val batchDay = ev.select("day").distinct().orderBy(col("day").desc)
      .limit(1).collect().head.getString(0)
    val batch = ev.filter(col("day") === batchDay).drop("day")

    // reproduce ingest's touched-day filter shape over the PARTITIONED log
    // and pin that the scan is pruned by the partition column, not a
    // post-scan filter: broadcast join on the raw partition column plants
    // a dynamic partition pruning subquery in the scan
    val touchedDays = batch
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
    val dayType = allEvents.schema("day").dataType
    val touched = allEvents
      .join(broadcast(touchedDays.select(col("day").cast(dayType).as("day"))), "day")
    val plan = touched.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"bronze scan must be dynamically pruned by the touched days:\n${plan.take(1500)}")

    // and end-to-end: ingest over the partitioned log equals full recompute
    val out = tempDir("rollup_part")
    IncrementalRollup.initialize(ev.drop("day"), out)
    IncrementalRollup.ingest(allEvents, batch, out)
    val got = IncrementalRollup.read(spark, out)
      .select("day", "event_type", "n_events", "total_value", "n_users")
      .collect().map(_.toSeq).toSet
    val full = IncrementalRollup.rollup(ev.drop("day"))
      .collect().map(_.toSeq).toSet
    assert(got == full, "ingest over day-partitioned bronze diverged")
  }
}
