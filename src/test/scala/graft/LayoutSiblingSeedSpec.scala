package graft

import graft.sources.DerivedStore

/** r18: a d4b/d4d gram-layout build whose sibling layout is FRESH for the
  * same corpus must seed its sets table from the sibling's materialized
  * files (skipping the corpus tokenize+hash pass) and still serve results
  * bit-identical to the layout-free inline forms — the same oracle SQL
  * gates both, so this spec is the fast in-suite pin of that equality
  * plus the proof the seeded path actually runs. */
class LayoutSiblingSeedSpec extends SparkTestBase {
  import graft.dedup.Dedup

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  test("gram layout builds seed from the fresh sibling and stay bit-identical") {
    val dir = tempDir("sibling_seed")
    Tables.documents(spark, sfDir).limit(60)
      .write.parquet(s"$dir/documents.parquet")
    try {
      val expectNgram = canon(Dedup.ngramJaccardInline(spark, dir))
      val expectContain = canon(Dedup.containmentInline(spark, dir))
      spark.catalog.clearCache()

      // first build on this corpus: no sibling exists — from scratch
      assert(canon(Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true))
        == expectNgram)
      assert(Dedup.siblingSeededFor(dir, "d4b") == 0,
        "no sibling yet - the first build must compute from the corpus")

      // d4d now has a fresh d4b sibling: its build must seed from it
      assert(canon(Dedup.containmentBucketedAttach(spark, dir, reuse = false))
        == expectContain)
      assert(Dedup.siblingSeededFor(dir, "d4d") == 1,
        "d4d build with a fresh d4b must take the seeded path")

      // and a forced d4b rebuild seeds back from the fresh d4d
      assert(canon(Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = false))
        == expectNgram)
      assert(Dedup.siblingSeededFor(dir, "d4b") == 1,
        "forced d4b rebuild with a fresh d4d must take the seeded path")
    } finally DerivedStore.deleteLocal(new java.io.File(dir))
  }

  test("a sibling left fresh by another process does not seed a forced rebuild") {
    val dir = tempDir("sibling_foreign")
    Tables.documents(spark, sfDir).limit(60)
      .write.parquet(s"$dir/documents.parquet")
    val expectNgram = canon(Dedup.ngramJaccardInline(spark, dir))
    spark.catalog.clearCache()
    Dedup.containmentBucketedAttach(spark, dir, reuse = true).collect()
    // a fresh process: the d4d layout is now another process's install
    Dedup.forgetServeRegistrations()
    val seeded = Dedup.siblingSeededFor(dir, "d4b")
    assert(canon(Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = false))
      == expectNgram)
    assert(Dedup.siblingSeededFor(dir, "d4b") == seeded,
      "a sibling this process did not install must not seed the build")
  }
}
