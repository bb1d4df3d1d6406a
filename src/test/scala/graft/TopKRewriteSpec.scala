package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The injected optimizer rule must (a) fire on the row-number-top-k
  * pattern, (b) leave every other window untouched, and (c) return the
  * exact rows of the window plan it replaces. Applied here directly to
  * analyzed plans (the test session doesn't install GraftExtensions, so
  * window specs elsewhere keep seeing window plans); the Verify/Bench
  * sessions run the whole oracle suite through the injected rule.
  */
class TopKRewriteSpec extends SparkTestBase {
  import graft.plans.RewriteWindowTopK

  private def viaRule(df: DataFrame): (DataFrame, String) = {
    val rewritten = RewriteWindowTopK(df.queryExecution.analyzed)
    (GraftSqlBridge.ofRows(spark, rewritten), rewritten.toString)
  }

  test("domain cap rewrites to the heap aggregate and matches the window rows") {
    // the per-source cap is the rule's flagship consumer: sources are
    // low-cardinality, so the window form is the hottest-reducer skew
    // case; the folded single-ASC rank key exists exactly so this fires
    val df = graft.ops.DataSelection.domainCap(spark, sfDir)
    val rewritten = RewriteWindowTopK(df.queryExecution.analyzed)
    val plan = rewritten.toString
    assert(plan.contains("collect_top_k"), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    val got = GraftSqlBridge.ofRows(spark, rewritten).collect().map(_.toSeq).toSet
    assert(got == df.collect().map(_.toSeq).toSet)
    // cap census: no source exceeds K, ranks dense from 1
    val bySrc = df.collect().groupBy(_.getString(1))
    bySrc.foreach { case (s, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted
      assert(ranks.length <= graft.ops.DataSelection.DomainCapK)
      assert(ranks.sameElements(1L to ranks.length), s"source $s ranks: ${ranks.toSeq}")
    }
  }

  test("desc top-3 rewrites to the aggregate and returns identical rows") {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val df = Tables.customer(spark, sfDir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
    val (got, plan) = viaRule(df)
    assert(plan.contains("collect_top_k"), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    val expected = df.collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet == expected)
  }

  test("rn === 1 (last-per-group) rewrites and matches") {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc)
    val df = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "rn", "event_id")
    val (got, plan) = viaRule(df)
    assert(plan.contains("collect_top_k"), s"rule did not fire:\n$plan")
    val expected = df.collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet == expected)
  }

  test("ascending multi-key ordering rewrites and matches") {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc)
    val df = Tables.lineitem(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") < 4)
      .select("l_returnflag", "rn", "l_orderkey", "l_linenumber")
    val (got, plan) = viaRule(df)
    assert(plan.contains("collect_top_k"), s"rule did not fire:\n$plan")
    val expected = df.collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet == expected)
  }

  test("mixed-direction ordering rewrites via the comparator aggregate") {
    // value DESC, id ASC — the canonical deterministic ranking; fully
    // total order, so window and aggregate agree exactly
    val mixed = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val df = Tables.customer(spark, sfDir)
      .withColumn("rn", row_number().over(mixed)).filter(col("rn") <= 3)
    val (got, plan) = viaRule(df)
    assert(plan.contains("graft_top_k_ordered"), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    assert(got.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("fixed-width items survive the partial/final serialize roundtrip") {
    // all-numeric payload: serialized UnsafeRows are exact-size, the case
    // where a shared projection buffer would alias every item to the last
    val df = spark.range(2000).select(
      (col("id") % 7).as("g"), (col("id") * 37 % 1000).as("v"), col("id"))
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    val (got, plan) = viaRule(q)
    assert(plan.contains("graft_top_k_ordered"), s"rule did not fire:\n$plan")
    val rows = got.collect().map(_.toSeq)
    assert(rows.toSet == q.collect().map(_.toSeq).toSet)
    assert(rows.distinct.length == rows.length, "duplicate items: serialize aliasing")
  }

  test("null sort keys follow Spark's default null placement") {
    import spark.implicits._
    // desc => NULLS LAST, asc tiebreak => NULLS FIRST; both appear here
    val df = Seq[(Long, java.lang.Double, java.lang.Long)](
      (1L, 5.0, 10L), (1L, null, 11L), (1L, 5.0, null), (1L, 7.0, 12L),
      (2L, null, 20L), (2L, null, null), (2L, 1.0, 21L))
      .toDF("g", "v", "tie")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("tie").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val (got, plan) = viaRule(q)
    assert(plan.contains("graft_top_k_ordered"), s"rule did not fire:\n$plan")
    assert(got.collect().map(_.toSeq).toSet == q.collect().map(_.toSeq).toSet)
  }

  test("rank() and explicit null-ordering overrides are left alone") {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val ranked = Tables.customer(spark, sfDir)
      .withColumn("r", rank().over(w)).filter(col("r") <= 3)
    assert(RewriteWindowTopK(ranked.queryExecution.analyzed).toString
      .contains("Window"), "rank() must not rewrite (ties differ)")
    val nulls = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc_nulls_first)
    val n = Tables.customer(spark, sfDir)
      .withColumn("rn", row_number().over(nulls)).filter(col("rn") <= 3)
    assert(RewriteWindowTopK(n.queryExecution.analyzed).toString
      .contains("Window"), "non-default null ordering must not rewrite")
  }

  test("end-to-end through an extension-installed plan shape: rank column usable downstream") {
    // operators above the filter (projections, sorts, aggregates on rank)
    // must keep resolving against the rewritten subtree's pinned exprIds
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val df = Tables.customer(spark, sfDir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .groupBy("rank").agg(count(lit(1)).as("n"))
      .orderBy("rank")
    val (got, plan) = viaRule(df)
    assert(plan.contains("collect_top_k"), s"rule did not fire:\n$plan")
    assert(got.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }
}
