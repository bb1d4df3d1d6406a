package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r18 `graft_gram_set` codegen kernel must be bit-identical to the
  * interpreted-HOF composition it replaced (`array_sort(array_distinct(
  * transform(sequence(1, size - n + 1), i -> hash(concat_ws(' ',
  * slice(toks, i, n))))))` guarded by size >= n) — that equivalence is
  * what keeps the unchanged DuckDB oracle SQL valid for every gram-family
  * query (d_ngram_*, d_containment_*, the persisted gram index). Edge
  * shapes are planted explicitly: empty text, fewer tokens than the gram
  * width, exactly the width, repeated grams (distinct must collapse),
  * non-ASCII multi-byte tokens, and tab/newline whitespace (Spark's
  * `trim` strips spaces only, so a leading tab yields a leading EMPTY
  * token through split — the kernel must reproduce concat_ws's
  * skip-nothing behavior on empty-but-not-null strings).
  */
class GramSetKernelSpec extends SparkTestBase {
  import graft.dedup.Dedup
  import Dedup.{NgramN, canonText}

  /** The pre-r18 interpreted-HOF gram pass, the equivalence control for
    * the `graft_gram_set` kernel behind [[Dedup.gramSets]]. */
  private def gramSetsHof(docs: DataFrame, algo: String): DataFrame = {
    graft.functions.ShingleExpressions.register(docs.sparkSession)
    graft.functions.HashExpressions.register(docs.sparkSession)
    val hashExpr =
      if (algo == "md5")
        s"graft_md5_prefix64(concat_ws(' ', slice(toks, i, $NgramN)), 15)"
      else s"xxhash64(concat_ws(' ', slice(toks, i, $NgramN)))"
    docs
      .withColumn("toks", split(trim(canonText(docs)), "\\s+"))
      .withColumn("gs", expr(
        s"""CASE WHEN size(toks) >= $NgramN THEN
           |  array_sort(array_distinct(transform(
           |    sequence(1, size(toks) - ${NgramN - 1}),
           |    i -> $hashExpr)))
           |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .select(col("doc_id"), col("gs"))
  }

  private def gramsOf(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def edgeDocs: DataFrame = {
    import spark.implicits._
    Seq(
      1L -> "",
      2L -> "one",
      3L -> "one two",
      4L -> "one two three",
      5L -> "a b c a b c a b c",
      6L -> "café au lait café au lait",
      7L -> "cafe\u0301 au lait", // decomposed twin of 6's prefix (NFC)
      8L -> "\ttab lead three four",
      9L -> "trail space three four   ",
      10L -> "line\nbreak mid token stream",
    ).toDF("doc_id", "text")
  }

  test("kernel equals the HOF composition on the corpus (md5)") {
    val docs = Tables.documents(spark, sfDir)
    assert(gramsOf(Dedup.gramSets(docs)) ==
      gramsOf(gramSetsHof(docs, "md5")))
  }

  test("kernel equals the HOF composition on the corpus (xxh64)") {
    val docs = Tables.documents(spark, sfDir)
    assert(gramsOf(Dedup.gramSetsFast(docs)) ==
      gramsOf(gramSetsHof(docs, "xxh64")))
  }

  test("kernel equals the HOF composition on edge shapes (both algos)") {
    assert(gramsOf(Dedup.gramSets(edgeDocs)) ==
      gramsOf(gramSetsHof(edgeDocs, "md5")))
    assert(gramsOf(Dedup.gramSetsFast(edgeDocs)) ==
      gramsOf(gramSetsHof(edgeDocs, "xxh64")))
  }

  test("gram arrays arrive sorted-distinct; short docs are empty") {
    val sets = gramsOf(Dedup.gramSets(edgeDocs))
    assert(sets(1L).isEmpty && sets(2L).isEmpty && sets(3L).isEmpty)
    assert(sets(4L).length == 1)
    sets.values.foreach { gs =>
      assert(gs == gs.sorted && gs.distinct == gs)
    }
    // repeated grams collapse: doc 5 has 7 windows but few distinct grams
    assert(sets(5L).length < 7 && sets(5L).nonEmpty)
    // NFC canonicalization upstream: composed and decomposed agree on the
    // shared prefix gram ("café au lait")
    assert(gramsOf(Dedup.gramSets(edgeDocs))(7L)
      .forall(sets(6L).contains))
  }
}
