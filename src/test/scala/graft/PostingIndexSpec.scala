package graft

import graft.similarity.Retrieval
import org.apache.spark.sql.functions._

/** Persisted inverted index: full build ≡ incremental upserts ≡ streamed
  * microbatches; replays are no-ops; untouched term buckets keep their
  * bytes; the indexed BM25 serve path equals the inline query. */
class PostingIndexSpec extends SparkTestBase {


  private def tableRows(path: String): Seq[Seq[Any]] =
    spark.read.parquet(path).collect()
      .map(r => r.schema.fieldNames.sorted.toSeq.map(n => r.get(r.fieldIndex(n))))
      .sortBy(_.mkString("|")).toSeq

  private def indexRows(idx: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
    (tableRows(s"$idx/postings"), tableRows(s"$idx/doclen"))

  test("full build equals two incremental upserts; replay is a no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val full = tempDir("posting_full")
    Retrieval.postingIndexBuild(spark, sfDir, full)

    val inc = tempDir("posting_inc")
    val mid = 25L
    Retrieval.postingIndexUpsert(docs.filter($"doc_id" < mid), inc)
    Retrieval.postingIndexUpsert(docs.filter($"doc_id" >= mid), inc)
    assert(indexRows(inc) == indexRows(full),
      "incremental index must equal the one-shot build row-for-row")

    // replaying the second batch rewrites identical content
    Retrieval.postingIndexUpsert(docs.filter($"doc_id" >= mid), inc)
    assert(indexRows(inc) == indexRows(full), "replay must be a no-op")
  }

  test("an upsert touches only its own term buckets") {
    import spark.implicits._
    val idx = tempDir("posting_touch")
    Retrieval.postingIndexBuild(spark, sfDir, idx)
    def bucketFiles(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(s"$idx/postings")
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(root).forEach { p =>
        val rel = root.relativize(p).toString
        if (rel.startsWith("tp=") && rel.endsWith(".parquet"))
          out(rel) = (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      out.toMap
    }
    val before = bucketFiles()
    // one new doc of one repeated term: exactly ONE tp bucket may change
    Retrieval.postingIndexUpsert(
      Seq((9999L, "zzzuniqueterm zzzuniqueterm zzzuniqueterm"))
        .toDF("doc_id", "text"), idx)
    val after = bucketFiles()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k)).map(_.takeWhile(_ != '/'))
    assert(changed.size == 1,
      s"single-term upsert must rewrite one tp bucket, touched: $changed")
    // and the new doc is served from it
    val served = spark.read.parquet(s"$idx/postings")
      .filter($"term" === "zzzuniqueterm").select($"doc_id", $"tf")
      .as[(Long, Long)].collect().toSeq
    assert(served == Seq((9999L, 3L)))
  }

  test("a changed document that LOST a term leaves no stale posting") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("posting_chg")
    Retrieval.postingIndexBuild(spark, sfDir, idx)
    // rewrite one non-query doc to a single novel term: every one of its
    // old terms is LOST, and those postings live in tp buckets the new
    // batch never visits — the upsert must still remove them
    val victim = 30L
    Retrieval.postingIndexUpsert(
      Seq((victim, "qqreplacementterm")).toDF("doc_id", "text"), idx)
    val rows = spark.read.parquet(s"$idx/postings")
      .filter($"doc_id" === victim)
      .select($"term", $"tf").as[(String, Long)].collect().toSeq
    assert(rows == Seq(("qqreplacementterm", 1L)),
      s"stale postings survived the changed-doc upsert: $rows")
    // and the whole index equals a fresh build over the changed corpus —
    // tf, df, dl all self-correct, so inline ≡ indexed still holds
    val changedDir = tempDir("posting_chgsrc")
    docs.filter($"doc_id" =!= victim)
      .unionByName(Seq((victim, "qqreplacementterm")).toDF("doc_id", "text"))
      .write.parquet(s"$changedDir/documents.parquet")
    val cleanIdx = tempDir("posting_chgidx")
    Retrieval.postingIndexBuild(spark, changedDir, cleanIdx)
    assert(indexRows(idx) == indexRows(cleanIdx),
      "changed-doc upsert must leave exactly the rebuilt-from-scratch content")
    val inline = Retrieval.bm25TopK(spark, changedDir).collect().map(_.toSeq).toSeq
    val indexed = Retrieval.bm25TopKIndexed(spark, changedDir, idx)
      .collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("indexed bm25 serve equals the inline query") {
    val idx = tempDir("posting_serve")
    Retrieval.postingIndexBuild(spark, sfDir, idx)
    val inline = Retrieval.bm25TopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = Retrieval.bm25TopKIndexed(spark, sfDir, idx)
      .collect().map(_.toSeq).toSeq
    assert(indexed == inline,
      "the persisted-index serve path must reproduce the inline ranking")
  }

  test("takedown: deleted docs vanish and the index equals a victim-free build") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("posting_del")
    Retrieval.postingIndexBuild(spark, sfDir, idx)
    // victims outside the query-id range so both sides ask the same queries
    val victims = Seq(30L, 31L)
    val n = Retrieval.postingIndexDeleteDocs(spark, idx, victims)
    assert(n > 0, "victims had postings")
    val served = Retrieval.bm25TopKIndexed(spark, sfDir, idx)
      .select($"doc_id").as[Long].collect().toSet
    assert(victims.forall(v => !served.contains(v)),
      "a taken-down doc must be unreachable through the serve path")
    // the post-delete index must be indistinguishable from one built on
    // the victim-free corpus: df, N, avgdl all self-correct
    val cleanDir = tempDir("posting_delclean")
    Tables.documents(spark, sfDir).filter(!$"doc_id".isin(victims: _*))
      .write.parquet(s"$cleanDir/documents.parquet")
    val cleanIdx = tempDir("posting_delidx")
    Retrieval.postingIndexBuild(spark, cleanDir, cleanIdx)
    assert(indexRows(idx) == indexRows(cleanIdx),
      "deleteDocs must leave exactly the victim-free index content")
    val cleanServe = Retrieval.bm25TopKIndexed(spark, sfDir, cleanIdx)
      .collect().map(_.toSeq).toSeq
    val afterServe = Retrieval.bm25TopKIndexed(spark, sfDir, idx)
      .collect().map(_.toSeq).toSeq
    assert(afterServe == cleanServe)
  }

  test("streamed posting maintenance equals the batch build; cold replay no-op") {
    import graft.streaming.EventStreams
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val full = tempDir("posting_sfull")
    Retrieval.postingIndexBuild(spark, sfDir, full)
    val expect = indexRows(full)

    val src = tempDir("posting_ssrc")
    docs.filter($"doc_id" < 25).write.parquet(s"$src/b0")
    docs.filter($"doc_id" >= 25).write.parquet(s"$src/b1")
    val idx = tempDir("posting_sidx")
    def run(chk: String): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      val q = EventStreams.postingMaintenanceSink(stream, idx, chk)
      q.processAllAvailable(); q.stop()
    }
    val chk = tempDir("posting_schk")
    run(chk)
    assert(indexRows(idx) == expect,
      "streamed upserts must equal the one-shot build")
    // warm restart reprocesses nothing; cold restart replays as no-ops
    run(chk)
    assert(indexRows(idx) == expect)
    run(tempDir("posting_schk2"))
    assert(indexRows(idx) == expect)
  }
}
