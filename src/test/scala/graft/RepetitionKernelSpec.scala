package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r18 `graft_repetition_counts` kernel must reproduce the
  * interpreted-HOF composition it replaced (array_distinct size + sorted
  * bigram longest-equal-run fold) bit-for-bit — that equivalence keeps
  * the unchanged DuckDB oracle SQL valid for `t_repetition`. Edge shapes
  * planted: exactly two tokens, all-identical tokens (top bigram = n−1),
  * all-distinct tokens (top bigram = 1), repeated non-adjacent bigrams,
  * and multi-byte tokens.
  */
class RepetitionKernelSpec extends SparkTestBase {
  import graft.ops.TextOps

  /** The pre-r18 interpreted-HOF form of [[TextOps.repetitionStats]]'s
    * per-row statistics, the equivalence control for the kernel. */
  private def repetitionStatsHof(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 2)
      .withColumn("bgs", expr(
        "array_sort(transform(sequence(0, size(t) - 2), " +
          "i -> concat(t[i], ' ', t[i + 1])))"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        size(array_distinct($"t")).cast("long").as("n_distinct"),
        expr(
          """aggregate(bgs,
            |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            |  (a, x) -> named_struct('prev', x,
            |    'run', IF(a.prev <=> x, a.run + 1L, 1L),
            |    'best', greatest(a.best, IF(a.prev <=> x, a.run + 1L, 1L))),
            |  a -> a.best)""".stripMargin).as("top_bigram_n"),
        (size($"t") - 1).cast("long").as("n_bigrams"))
      .select($"doc_id", $"n_tokens",
        floor($"n_distinct" * 10000 / $"n_tokens").cast("long").as("distinct_bp"),
        floor($"top_bigram_n" * 10000 / $"n_bigrams").cast("long").as("top_bigram_bp"))
      .orderBy($"doc_id")
  }

  private def rows(df: DataFrame): Map[Long, (Long, Long, Long)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("kernel equals the HOF composition on the corpus") {
    val docs = Tables.documents(spark, sfDir)
    assert(rows(TextOps.repetitionStats(spark, sfDir)) ==
      rows(repetitionStatsHof(docs)))
  }

  test("kernel equals the HOF composition on edge shapes") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b",
      2L -> "x x x x x x",
      3L -> "a b c d e f g",
      4L -> "a b c a b c a b",
      5L -> "café au lait café au lait",
      6L -> "one two one three one two",
    ).toDF("doc_id", "text")
    val kernel = rows(repetitionStatsHof(docs))
    // compute the kernel path over the same frame via the private helper's
    // public twin: repetitionStats reads from a dir, so compare through
    // the HOF control on both sides of the expression boundary instead
    val viaKernel = rows({
      graft.functions.ShingleExpressions.register(spark)
      import org.apache.spark.sql.functions._
      docs.select($"doc_id", split(trim(lower($"text")), "\\s+").as("t"))
        .filter(size($"t") >= 2)
        .withColumn("rc",
          graft.functions.ShingleExpressions.repetitionCounts($"t"))
        .select($"doc_id",
          size($"t").cast("long").as("n_tokens"),
          $"rc.n_distinct".as("n_distinct"),
          $"rc.top_bigram_n".as("top_bigram_n"),
          (size($"t") - 1).cast("long").as("n_bigrams"))
        .select($"doc_id", $"n_tokens",
          floor($"n_distinct" * 10000 / $"n_tokens").cast("long").as("distinct_bp"),
          floor($"top_bigram_n" * 10000 / $"n_bigrams").cast("long").as("top_bigram_bp"))
    })
    assert(viaKernel == kernel)
    // spot-check planted structure through the kernel values
    assert(viaKernel(4L)._1 == 8) // n_tokens
    assert(viaKernel(2L)._3 == 10000) // all bigrams identical → 100% share
    assert(viaKernel(2L)._2 == 10000 / 6) // one distinct token of six
    assert(viaKernel(3L)._3 == 10000 / 6) // all bigrams distinct, 6 of them
  }

  test("graft_bigrams equals the transform composition on the corpus") {
    import org.apache.spark.sql.functions._
    graft.functions.ShingleExpressions.register(spark)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
    val viaKernel = toks.select(col("doc_id"),
        graft.functions.ShingleExpressions.bigrams(col("t")).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaHof = toks.select(col("doc_id"), expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))
          |ELSE CAST(array() AS array<string>) END""".stripMargin).as("bg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaKernel == viaHof)
  }
}
