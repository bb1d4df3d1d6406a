package graft

import org.apache.spark.sql.functions._

/** Misra–Gries guarantees, checked against exact counts — the sketch's
  * contents are merge-order-dependent, but these properties must hold
  * under ANY partitioning:
  *  - every item with true frequency > n/(k+1) appears in the output;
  *  - every reported estimate brackets the truth: est ≤ true ≤ est + err.
  */
class FreqItemsSpec extends SparkTestBase {

  private val K = 16

  private def tokens = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"lang", explode(split(trim(lower($"text")), "\\s+")).as("tok"))
  }

  test("sketch output satisfies the frequency and bracket guarantees") {
    import spark.implicits._
    val exact = tokens.groupBy($"lang", $"tok").count().collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    val sketch = ops.TextOps.freqTokens(spark, sfDir).collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      }
    assert(sketch.nonEmpty && exact.keySet == sketch.keySet)
    for ((lang, trueCounts) <- exact) {
      val n = trueCounts.values.sum
      val reported = sketch(lang).map(_._1).toSet
      val mustFind = trueCounts.filter(_._2 > n / (K + 1)).keySet
      assert((mustFind -- reported).isEmpty,
        s"$lang: heavy hitters missing: ${mustFind -- reported}")
      for ((item, est, err) <- sketch(lang)) {
        val truth = trueCounts(item)
        assert(est <= truth && truth <= est + err,
          s"$lang/$item: est=$est err=$err truth=$truth")
      }
    }
  }

  test("streaming sketch keeps the same guarantees on its final emission") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tempDir("stream_docs_mg"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("documents.parquet"))
    val stream = streaming.EventStreams.streamingFreqTokens(spark,
      streaming.EventStreams.readDocuments(spark, dir.toString), K)
    val out = streaming.EventStreams.drainToMemory(stream.toDF(), "trending",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val exact = tokens.groupBy($"lang", $"tok").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    assert(out.nonEmpty)
    out.foreach { case (lang, item, est, err) =>
      val truth = exact((lang, item))
      assert(est <= truth && truth <= est + err,
        s"$lang/$item: est=$est err=$err truth=$truth")
    }
    val reported = out.map(r => (r._1, r._2)).toSet
    for (((lang, item), c) <- exact if c > n(lang) / (K + 1))
      assert(reported((lang, item)), s"streaming sketch lost heavy hitter $lang/$item")
  }

  test("guarantees hold at a different partitioning (merge-order shift)") {
    import spark.implicits._
    graft.functions.FreqItems.register(spark)
    withSessionConf("spark.sql.shuffle.partitions" -> "2") {
      val sk = tokens.repartition(7)
        .groupBy($"lang")
        .agg(call_function("graft_freq_items", $"tok", lit(K)).as("fi"))
        .select($"lang", explode($"fi").as("f"))
        .select($"lang", $"f.item", $"f.est", $"f.err")
        .collect()
      val exact = tokens.groupBy($"lang", $"tok").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val n = exact.groupBy(_._1._1).view.mapValues(_.values.sum)
      sk.foreach { r =>
        val truth = exact((r.getString(0), r.getString(1)))
        assert(r.getLong(2) <= truth && truth <= r.getLong(2) + r.getLong(3))
      }
      // heavy hitters still present under the different merge order
      for (((lang, item), c) <- exact if c > n(lang) / (K + 1))
        assert(sk.exists(r => r.getString(0) == lang && r.getString(1) == item),
          s"$lang/$item lost at alternate partitioning")
    }
  }
}
