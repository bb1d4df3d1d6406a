package graft

import graft.sources.DerivedStore

import graft.dedup.{Dedup, NgramIndex}
import org.apache.spark.sql.functions._

/** Persisted rare-gram index: full build ≡ incremental upserts; replay
  * is a no-op; changed docs leave no stale postings; takedown equals a
  * victim-free build; indexed serve equals the inline query. */
class NgramIndexSpec extends SparkTestBase {


  private def tableRows(path: String): Seq[Seq[Any]] =
    spark.read.parquet(path).collect()
      .map { r =>
        r.schema.fieldNames.sorted.toSeq.map { n =>
          r.get(r.fieldIndex(n)) match {
            case s: Seq[_] => s.mkString(",")
            case v => v
          }
        }
      }
      .sortBy(_.mkString("|")).toSeq

  private def indexRows(idx: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
    (tableRows(s"$idx/gramsets"), tableRows(s"$idx/postings"))

  test("full build equals two incremental upserts; replay is a no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val full = tempDir("ngram_full")
    NgramIndex.build(spark, sfDir, full)

    val inc = tempDir("ngram_inc")
    NgramIndex.upsert(docs.filter($"doc_id" % 3 =!= 0), inc)
    NgramIndex.upsert(docs.filter($"doc_id" % 3 === 0), inc)
    assert(indexRows(inc) == indexRows(full),
      "incremental index must equal the one-shot build row-for-row")

    NgramIndex.upsert(docs.filter($"doc_id" % 3 === 0), inc)
    assert(indexRows(inc) == indexRows(full), "replay must be a no-op")
  }

  test("upsert refuses a hash-format mismatch; a full rebuild restamps") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("ngram_fmt")
    NgramIndex.upsert(docs.limit(20), idx)
    val marker = new java.io.File(idx, "_format")
    assert(marker.exists, "first write stamps the marker")
    // a pre-change store (different hash identity) refuses the append -
    // post-change grams beside pre-change postings silently corrupt df
    java.nio.file.Files.write(marker.toPath, "other".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      NgramIndex.upsert(docs.limit(20), idx))
    assert(e.getMessage.contains("hash format"))
    // a FULL rebuild owns the whole content: restamps instead of refusing
    NgramIndex.buildFrom(docs.limit(20), idx)
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      == NgramIndex.indexFormat)
    NgramIndex.upsert(docs.limit(20), idx) // and appends work again
  }

  test("a torn rebuild leaves NO stamp, so the next upsert refuses loudly") {
    import spark.implicits._
    // r13 ADVICE: buildFrom must restamp LAST — a crash anywhere between
    // its two (non-atomic) table overwrites must leave the store
    // markerless, never old/mixed content under a fresh stamp that a
    // later upsert would append beside silently. Simulate the tear at
    // its widest window: marker invalidated (buildFrom's first step),
    // content present, crash before the restamp.
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("ngram_torn")
    NgramIndex.buildFrom(docs.limit(20), idx)
    val marker = new java.io.File(idx, "_format")
    assert(marker.exists, "a completed rebuild stamps the marker LAST")
    graft.sources.Store.invalidateStoreFormat(idx)
    val e = intercept[IllegalArgumentException](
      NgramIndex.upsert(docs.limit(20), idx))
    assert(e.getMessage.contains("no _format marker"),
      s"content-without-marker must refuse the append, got: ${e.getMessage}")
    NgramIndex.buildFrom(docs.limit(20), idx) // rebuild repairs the store
    NgramIndex.upsert(docs.limit(20), idx)
  }

  test("indexed serve equals the inline query") {
    val idx = tempDir("ngram_serve")
    NgramIndex.build(spark, sfDir, idx)
    val inline = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toSeq).toSeq
    val indexed = NgramIndex.ngramJaccardIndexed(spark, idx)
      .collect().map(_.toSeq).toSeq
    assert(indexed == inline,
      "the persisted-index serve path must reproduce the inline pairs")
  }

  test("a changed document leaves no stale grams; index equals a fresh build") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("ngram_chg")
    NgramIndex.build(spark, sfDir, idx)
    val victim = 7L
    val newText = "aa bb cc dd"
    NgramIndex.upsert(Seq((victim, newText)).toDF("doc_id", "text"), idx)
    // old grams of the victim live in gb buckets the new batch never
    // visits — they must be gone
    val left = spark.read.parquet(s"$idx/postings")
      .filter($"doc_id" === victim).count()
    assert(left == 2L, // "aa bb cc" and "bb cc dd"
      s"victim should hold exactly its 2 new grams, found $left")
    val changedDir = tempDir("ngram_chgsrc")
    docs.filter($"doc_id" =!= victim)
      .unionByName(Seq((victim, newText)).toDF("doc_id", "text"))
      .write.parquet(s"$changedDir/documents.parquet")
    val cleanIdx = tempDir("ngram_chgidx")
    NgramIndex.build(spark, changedDir, cleanIdx)
    assert(indexRows(idx) == indexRows(cleanIdx),
      "changed-doc upsert must leave exactly the rebuilt-from-scratch content")
  }

  test("a doc changed to BELOW the gram width drops all its old postings") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("ngram_shrink")
    NgramIndex.build(spark, sfDir, idx)
    val victim = 7L
    val newText = "aa bb" // 2 tokens < NgramN=3 → EMPTY gram set, so the
    // upsert derives ZERO posting rows for the victim; the replace must
    // still be keyed on the batch's doc_ids or the old postings survive
    NgramIndex.upsert(Seq((victim, newText)).toDF("doc_id", "text"), idx)
    val left = spark.read.parquet(s"$idx/postings")
      .filter($"doc_id" === victim).count()
    assert(left == 0L,
      s"a shrunk-below-n doc must hold zero postings, found $left stale")
    val changedDir = tempDir("ngram_shrinksrc")
    docs.filter($"doc_id" =!= victim)
      .unionByName(Seq((victim, newText)).toDF("doc_id", "text"))
      .write.parquet(s"$changedDir/documents.parquet")
    val cleanIdx = tempDir("ngram_shrinkidx")
    NgramIndex.build(spark, changedDir, cleanIdx)
    assert(indexRows(idx) == indexRows(cleanIdx),
      "shrunk-doc upsert must leave exactly the rebuilt-from-scratch content")
  }

  test("incrementalServe reuses one bounded scratch dir and leaves no /tmp debris") {
    // the old leak: a fresh createTempDirectory("ngram_inc_index") per
    // call — assert no NEW entries appear (a shared /tmp may hold stale
    // pre-fix debris from other processes)
    def tmpDebris: Set[String] = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().map(_.getName).filter(_.startsWith("ngram_inc_index")).toSet
    val before = tmpDebris
    val inline = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toSeq).toSeq
    val served = NgramIndex.incrementalServe(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(served == inline)
    val scratch = new java.io.File(
      DerivedStore.scratchDir(sfDir, "ngram-inc"))
    NgramIndex.incrementalServe(spark, sfDir).collect() // second call: same dir
    assert(scratch.isDirectory, "scratch dir should live under the managed cache root")
    assert((tmpDebris -- before).isEmpty,
      s"no per-call temp index copies may accumulate, found ${(tmpDebris -- before).size} new")
  }

  test("streamed gram maintenance equals the batch build; cold replay no-op") {
    import graft.streaming.EventStreams
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val full = tempDir("ngram_sfull")
    NgramIndex.build(spark, sfDir, full)
    val expect = indexRows(full)

    val src = tempDir("ngram_ssrc")
    docs.filter($"doc_id" < 25).write.parquet(s"$src/b0")
    docs.filter($"doc_id" >= 25).write.parquet(s"$src/b1")
    val idx = tempDir("ngram_sidx")
    def run(chk: String): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      val q = EventStreams.ngramMaintenanceSink(stream, idx, chk)
      q.processAllAvailable(); q.stop()
    }
    val chk = tempDir("ngram_schk")
    run(chk)
    assert(indexRows(idx) == expect,
      "streamed upserts must equal the one-shot build")
    run(tempDir("ngram_schk2")) // cold restart: replays land as no-ops
    assert(indexRows(idx) == expect)
  }

  test("cached serve equals inline and a takedown invalidates the cache") {
    import spark.implicits._
    val inline = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toSeq).toSeq
    val cached = NgramIndex.ngramJaccardCached(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(cached == inline)
  }

  test("takedown: the index equals a victim-free build and serves without victims") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val idx = tempDir("ngram_del")
    NgramIndex.build(spark, sfDir, idx)
    val victims = Seq(3L, 11L)
    val n = NgramIndex.deleteDocs(spark, idx, victims)
    assert(n > 0, "victims had gram sets")
    val cleanDir = tempDir("ngram_delsrc")
    docs.filter(!$"doc_id".isin(victims: _*))
      .write.parquet(s"$cleanDir/documents.parquet")
    val cleanIdx = tempDir("ngram_delidx")
    NgramIndex.build(spark, cleanDir, cleanIdx)
    assert(indexRows(idx) == indexRows(cleanIdx),
      "deleteDocs must leave exactly the victim-free index content")
    val served = NgramIndex.ngramJaccardIndexed(spark, idx)
      .select($"doc_a").union(
        NgramIndex.ngramJaccardIndexed(spark, idx).select($"doc_b"))
      .as[Long].collect().toSet
    assert(victims.forall(v => !served.contains(v)))
  }
}
