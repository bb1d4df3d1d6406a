package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkTestBase {

  test("doc chunks tile every document with the declared stride and overlap") {
    import spark.implicits._
    val chunks = TextOps.chunkDocs(spark, sfDir).collect()
    val nChars = Tables.documents(spark, sfDir)
      .select($"doc_id", length($"text").cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(chunks.nonEmpty)
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == nChars.keySet, "every doc must chunk")
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      // indices are dense from 0; starts follow the stride
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getLong(1) == i)
        assert(c.getLong(2) == i.toLong * TextOps.ChunkStride)
      }
      val n = nChars(doc)
      // chunks cover the doc: last chunk reaches the end
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) == n,
        s"doc $doc: coverage ends at ${last.getLong(2) + last.getLong(3)} of $n")
      // every chunk is the window clipped to the doc end
      sorted.foreach(c => assert(c.getLong(3) ==
        math.min(TextOps.ChunkSize, n - c.getLong(2))))
      // chunk count: one per stride step up to the last covered char
      assert(sorted.size == (math.max(n - 1, 0) / TextOps.ChunkStride + 1).toInt)
    }
  }

  test("doc keywords surface rare-in-corpus, frequent-in-doc tokens") {
    import spark.implicits._
    val kw = TextOps.docKeywords(spark, sfDir)
    val rows = kw.collect()
    assert(rows.nonEmpty)
    // exactly ≤3 per doc, ranks dense from 1
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.sameElements(1L to ranks.length))
      assert(ranks.length <= 3)
      // ordering invariant: df ascending, tf descending within df
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (dfa, dfb) = (a.getLong(4), b.getLong(4))
          val (tfa, tfb) = (a.getLong(3), b.getLong(3))
          assert(dfa < dfb || (dfa == dfb && tfa > tfb) ||
            (dfa == dfb && tfa == tfb && a.getString(2) < b.getString(2)))
        case _ => ()
      }
    }
  }

  /** Stage a synthetic documents corpus in a fresh dir (Tables.documents
    * schema) for scrub-family tests that need controlled duplication. */
  private def stageDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("scrub_docs")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("guarded span scrub: planted mega-hot gram, bit-identical + broadcast") {
    // one boilerplate 8-gram in EVERY doc: df = 120 >> ScrubHotDf = 50
    val boiler = (1 to TextOps.ScrubGram).map(i => s"boiler$i").mkString(" ")
    val docs = (0 until 120).map { d =>
      d.toLong -> s"$boiler unique${d}a unique${d}b unique${d}c"
    }
    val dir = stageDocs(docs)
    val plain = TextOps.spanScrub(spark, dir).collect().map(_.toSeq)
    val guarded = TextOps.spanScrubGuarded(spark, dir)
    assert(guarded.collect().map(_.toSeq).toSeq == plain.toSeq,
      "guarded variant must be bit-identical to the plain scrub")
    // the mega-hot gram really took the broadcast path
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"mega-hot grams must join by broadcast:\n${plan.take(1500)}")
    // and the boilerplate was scrubbed: kept text is exactly the unique tail
    val keptById = plain.map(r => r.head.asInstanceOf[Long] -> r.last).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until 120).foreach { d =>
      assert(keptById(d.toLong) == md5(s"unique${d}a unique${d}b unique${d}c"),
        s"doc $d: boilerplate must be scrubbed, tail kept")
    }
  }

  test("self-dedup keeps the globally first occurrence, scrubs every later one") {
    val span = (1 to TextOps.ScrubGram).map(i => s"dup$i").mkString(" ")
    val inner = (1 to TextOps.ScrubGram).map(i => s"rep$i").mkString(" ")
    val docs = Seq(
      // owner: smallest (doc_id, j) — doc 1 keeps the span intact
      1L -> s"head1a head1b $span tail1a tail1b",
      // later cross-doc occurrence: scrubbed
      2L -> s"head2a $span tail2a",
      // TWO later occurrences in one doc: both scrubbed
      5L -> s"$span mid5a $span tail5a",
      // within-doc repeat with no cross-doc twin: first kept, second out
      6L -> s"$inner gap6a $inner",
      7L -> "nothing duplicated in this one at all")
    val dir = stageDocs(docs)
    val rows = TextOps.selfDedupScrub(spark, dir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 owns the span: untouched
    assert(byId(1L).getAs[Long]("n_selfdup_windows") == 0L)
    assert(byId(1L).getAs[String]("kept_md5") == md5(docs.head._2))
    // doc 2 loses exactly the span tokens
    assert(byId(2L).getAs[Long]("n_covered") == TextOps.ScrubGram.toLong)
    assert(byId(2L).getAs[String]("kept_md5") == md5("head2a tail2a"))
    // doc 5 loses both occurrences
    assert(byId(5L).getAs[Long]("n_covered") == 2L * TextOps.ScrubGram)
    assert(byId(5L).getAs[String]("kept_md5") == md5("mid5a tail5a"))
    // doc 6: the WITHIN-doc repeat keeps its first position only
    assert(byId(6L).getAs[Long]("n_covered") == TextOps.ScrubGram.toLong)
    assert(byId(6L).getAs[String]("kept_md5") == md5(s"$inner gap6a"))
    // doc 7 untouched
    assert(byId(7L).getAs[Long]("n_selfdup_windows") == 0L)
    assert(byId(7L).getAs[String]("kept_md5") == md5(docs.last._2))
  }

  test("guarded self-dedup: planted mega-hot window, bit-identical + broadcast") {
    // one boilerplate window in every doc (occ = 120 >= ScrubHotDf): the
    // guard must route its owner row by broadcast and keep the answer
    val boiler = (1 to TextOps.ScrubGram).map(i => s"boiler$i").mkString(" ")
    val docs = (0 until 120).map { d =>
      d.toLong -> s"$boiler unique${d}a unique${d}b"
    }
    val dir = stageDocs(docs)
    val plain = TextOps.selfDedupScrub(spark, dir).collect().map(_.toSeq)
    val guarded = TextOps.selfDedupScrubGuarded(spark, dir)
    assert(guarded.collect().map(_.toSeq).toSeq == plain.toSeq,
      "guarded variant must be bit-identical to the plain self-dedup")
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"mega-hot owner rows must join by broadcast:\n${plan.take(1500)}")
    // first doc (owner) keeps the boilerplate, every later doc loses it
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keptById = plain.map(r => r.head.asInstanceOf[Long] -> r.last).toMap
    assert(keptById(0L) == md5(s"$boiler unique0a unique0b"))
    (1 until 120).foreach { d =>
      assert(keptById(d.toLong) == md5(s"unique${d}a unique${d}b"),
        s"doc $d: later occurrence must be scrubbed")
    }
  }

  test("incremental self-dedup: batched ≡ one-shot, replay no-op, takedown frees owners") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val span = (1 to TextOps.ScrubGram).map(i => s"xd$i").mkString(" ")
    val docs = Seq(
      1L -> s"alpha1 $span omega1",   // owner of the span
      2L -> s"alpha2 $span omega2",   // later copy: scrubbed
      7L -> s"alpha7 $span omega7",   // later still, lands in batch 2
      9L -> "entirely unique text here with no duplication at all")
    val dir = stageDocs(docs)
    val oneShot = TextOps.selfDedupScrub(spark, dir).collect().map(_.toSeq).toSeq

    val store = tempDir("sd_store")
    val table = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val b1 = TextOps.selfDedupAdmitBatch(table.filter(col("doc_id") <= 2), store)
      .collect().map(_.toSeq)
    val b2 = TextOps.selfDedupAdmitBatch(table.filter(col("doc_id") > 2), store)
      .collect().map(_.toSeq)
    assert((b1 ++ b2).sortBy(_.head.asInstanceOf[Long]).toSeq == oneShot,
      "sequential batches must reproduce the one-shot rows exactly")

    // replay: re-admitting batch 2 over the already-written store keys
    // must produce identical rows (crash-window recovery)
    val b2again = TextOps.selfDedupAdmitBatch(table.filter(col("doc_id") > 2), store)
      .collect().map(_.toSeq)
    assert(b2again.sortBy(_.head.asInstanceOf[Long]).toSeq ==
      b2.sortBy(_.head.asInstanceOf[Long]).toSeq)

    // takedown: doc 1 owned the span window; freeing its owned rows must
    // re-admit identical content fresh (kept intact, not scrubbed)
    val freed = TextOps.selfDedupRemoveOwners(spark, store, Seq(1L))
    assert(freed >= 1L, "doc 1 must own at least the span window")
    val resub = TextOps.selfDedupAdmitBatch(
      Seq((100L, s"alphaR $span omegaR")).toDF("doc_id", "text"), store)
      .collect()
    assert(resub.head.getAs[Long]("n_selfdup_windows") == 0L,
      "freed span must be admitted fresh after the owner takedown")
  }

  test("scrub window identity is NFC-canonical; kept text keeps original bytes") {
    // the same duplicated span, once composed ("é") and once decomposed
    // ("e" + U+0301): r11 window hashing normalizes the HASH INPUT, so
    // the decomposed later copy is recognized and scrubbed — while the
    // surviving text is reconstructed from the ORIGINAL tokens, not the
    // normalized ones
    val spanC = (1 to TextOps.ScrubGram).map(i => s"café$i").mkString(" ")
    val spanD = java.text.Normalizer.normalize(
      spanC, java.text.Normalizer.Form.NFD)
    assert(spanC != spanD)
    val docs = Seq(1L -> s"head1 $spanC tail1", 2L -> s"head2 $spanD tail2")
    val dir = stageDocs(docs)
    val rows = TextOps.selfDedupScrub(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 owns the span (first occurrence) — kept whole, ORIGINAL bytes
    assert(rows(1L).getAs[Long]("n_selfdup_windows") == 0L)
    assert(rows(1L).getAs[String]("kept_md5") == md5(docs.head._2))
    // doc 2's decomposed re-encoding is the SAME span: scrubbed
    assert(rows(2L).getAs[Long]("n_selfdup_windows") == 1L,
      "composition variant of a duplicated span must be recognized")
    assert(rows(2L).getAs[String]("kept_md5") == md5("head2 tail2"))
  }

  test("self-dedup probe: shuffle fallback above the broadcast cap is bit-identical") {
    import org.apache.spark.sql.functions.col
    // the r10 probe broadcast the batch's distinct window hashes
    // UNCONDITIONALLY — batch-token-sized, an executor OOM for a
    // multi-GB crawl batch. Force the over-cap route (threshold 0) and
    // pin bit-equality against the broadcast route on a fresh store.
    val span = (1 to TextOps.ScrubGram).map(i => s"bg$i").mkString(" ")
    val dir = stageDocs(Seq(
      1L -> s"bga1 $span bgz1", 2L -> s"bga2 $span bgz2",
      5L -> s"bga5 $span bgz5", 8L -> "no duplication in this one at all"))
    val table = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def runWith(maxBroadcast: Long): Seq[Seq[Any]] = {
      val store = tempDir("sd_guard")
      Seq(table.filter(col("doc_id") <= 2), table.filter(col("doc_id") > 2))
        .flatMap(b => TextOps.selfDedupAdmitBatch(b, store, maxBroadcast)
          .collect().map(_.toSeq))
        .sortBy(_.head.asInstanceOf[Long])
    }
    val viaBroadcast = runWith(TextOps.SelfDedupBroadcastMaxGrams)
    val viaShuffle = runWith(0L)
    assert(viaShuffle == viaBroadcast,
      "the guarded shuffle route must change the plan, not the answer")
  }

  test("self-dedup: out-of-range doc_id fails loudly, not silently corrupted") {
    import spark.implicits._
    // the (doc_id·2^20 + j) encoding documents doc_id < 2^43 but r10
    // enforced only the window bound; this repo's own planted-twin
    // convention (doc_id + 2^62) makes out-of-range ids a real hazard
    val bad = Seq((TextOps.SelfDedupMaxDocId + 7L,
      (1 to TextOps.ScrubGram + 2).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val store = tempDir("sd_badid")
    val e = intercept[Exception] {
      TextOps.selfDedupAdmitBatch(bad, store).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("outside the encodable range")),
      s"expected the loud encoding-bound error, got: ${messages(e)}")
  }

  test("streaming self-dedup sink equals the one-shot rule; restart is clean") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    val span = (1 to TextOps.ScrubGram).map(i => s"sd$i").mkString(" ")
    val corpusDir = stageDocs(Seq(
      1L -> s"s1a $span s1b", 2L -> s"s2a $span s2b",
      6L -> s"s6a $span s6b", 8L -> "all unique over here"))
    val docs = Tables.documents(spark, corpusDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val src = tempDir("sd_src")
    val store = tempDir("sd_sink_store")
    val outDir = tempDir("sd_out")
    val chk = tempDir("sd_chk")
    // two id-ordered single-file microbatches with unambiguous mtimes
    def stage(df: org.apache.spark.sql.DataFrame, name: String, dt: Long): Unit = {
      val d = s"$src/$name"
      df.coalesce(1).write.parquet(d)
      val f = new java.io.File(d).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/$name.parquet")
      java.nio.file.Files.move(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + dt))
    }
    stage(docs.filter(col("doc_id") <= 2), "b0", 0L)
    stage(docs.filter(col("doc_id") > 2), "b1", 10000L)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      val q = EventStreams.selfDedupSink(stream, store, outDir, chk)
      q.processAllAvailable(); q.stop()
    }
    run()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_tokens", "n_selfdup_windows", "n_covered", "kept_md5")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val oneShot = TextOps.selfDedupScrub(spark, corpusDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == oneShot,
      "streamed microbatch self-dedup must equal the one-shot corpus rule")
    // restart with nothing new: no reprocessing, no duplicate rows
    run()
    assert(spark.read.parquet(outDir).count() == streamed.size)
  }

  test("NFC normalizer: decomposed recomposes, composed untouched, same hash") {
    // ids 0 and 7 (% 7 == 0) get the DECOMPOSED suffix, ids 1 and 8
    // (% 7 == 1) the composed twin; identical base texts make the md5s
    // directly comparable across the two forms
    val dir = stageDocs(Seq(
      0L -> "same base text", 1L -> "same base text",
      7L -> "other base words", 8L -> "other base words",
      2L -> "plain ascii only here"))
    val rows = TextOps.nfcNormalize(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // decomposed plant: one char shorter after NFC, flagged changed
    assert(rows(0L).getAs[Long]("n_after") == rows(0L).getAs[Long]("n_before") - 1)
    assert(rows(0L).getAs[Int]("changed") == 1)
    // composed plant: already NFC — untouched
    assert(rows(1L).getAs[Int]("changed") == 0)
    assert(rows(1L).getAs[Long]("n_after") == rows(1L).getAs[Long]("n_before"))
    // the whole point: both forms normalize to the SAME bytes
    assert(rows(0L).getAs[String]("norm_md5") == rows(1L).getAs[String]("norm_md5"))
    assert(rows(7L).getAs[String]("norm_md5") == rows(8L).getAs[String]("norm_md5"))
    // ascii fast path: untouched
    assert(rows(2L).getAs[Int]("changed") == 0)
    // the normalizer is the codegen expression, not a UDF
    val plan = TextOps.nfcNormalize(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("graft_nfc"), s"expected graft_nfc in plan:\n${plan.take(1200)}")
  }

  test("NFC dedup collapses composition variants that byte dedup keeps apart") {
    import org.apache.spark.sql.functions.col
    val rows = TextOps.dedupNfc(spark, sfDir).collect()
    val byKeep = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each planted pair (doc < 5, twin at +2^62) collapses to one group
    (0L until 5L).foreach { d =>
      assert(byKeep(d) == 2L, s"planted pair for doc $d must collapse: ${byKeep(d)}")
    }
    // the twins never survive as their own keepers
    assert((0L until 5L).forall(d =>
      !byKeep.contains(d + graft.dedup.Dedup.ContainIdBase)))
    // control: BYTE-hash dedup on the same planted corpus keeps all ten
    val nGroupsNfc = rows.length
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = base
      .withColumn("raw", org.apache.spark.sql.functions.when(col("doc_id") < 5,
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" cafe\u0301")))
        .otherwise(col("text")))
      .select(col("doc_id"), col("raw"))
      .unionByName(base.filter(col("doc_id") < 5)
        .select((col("doc_id") + graft.dedup.Dedup.ContainIdBase).as("doc_id"),
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" caf\u00e9")).as("raw")))
    val byteGroups = corpus
      .groupBy(org.apache.spark.sql.functions.md5(col("raw").cast("binary")))
      .count().count()
    assert(byteGroups == nGroupsNfc + 5,
      s"byte dedup must keep the 5 planted pairs apart: $byteGroups vs $nGroupsNfc")
  }

  test("self-dedup refuses a document past the 2^20-window encoding bound") {
    // silently spilling occurrence keys into the next doc's range would
    // corrupt first-occurrence ownership — the guard must fail loudly
    val big = (0 until (1 << 20) + TextOps.ScrubGram).map(i => "w").mkString(" ")
    val dir = stageDocs(Seq(1L -> big, 2L -> "small doc here"))
    val e = intercept[Exception] {
      TextOps.selfDedupScrub(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("encoding bound")),
      s"expected the bound error, got: ${messages(e).mkString(" | ")}")
  }

  test("span scrub reconstruction is linear: a fully-covered 20k-token doc") {
    // two identical 20k-token docs: every window is duplicated, so the
    // covered array spans the whole doc — the O(n·|cov|) form took ~4·10⁸
    // comparisons here; the gap-merge form must stay well under a second
    val big = (0 until 20000).map(i => s"w${i % 19000}").mkString(" ")
    val dir = stageDocs(Seq(1L -> big, 2L -> big, 3L -> "tiny doc here"))
    val t0 = System.nanoTime()
    val rows = TextOps.spanScrub(spark, dir).collect()
    val dt = (System.nanoTime() - t0) / 1e9
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("n_covered") == 20000L, "whole doc covered")
    assert(byId(1L).getAs[String]("kept_md5") ==
      byId(2L).getAs[String]("kept_md5"))
    assert(byId(3L).getAs[Long]("n_covered") == 0L)
    assert(dt < 30.0, s"fully-covered doc took ${dt}s — reconstruction not linear?")
  }

  test("decontam scrub keeps eval docs out and scrubs only overlapping spans") {
    import graft.dedup.Dedup.DecontamEvalMod
    val evalSpan = (1 to TextOps.ScrubGram).map(i => s"eval$i").mkString(" ")
    val docs = Seq[(Long, String)](
      0L * DecontamEvalMod -> s"$evalSpan held out benchmark text",   // eval doc
      1L -> s"clean training doc with no overlap at all going on here",
      2L -> s"prefix words here $evalSpan suffix words here too"      // contaminated
    )
    val dir = stageDocs(docs)
    val out = TextOps.decontamScrub(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(0L), "eval docs are not training output rows")
    assert(out(1L).getAs[Long]("n_covered") == 0L, "clean doc untouched")
    assert(out(2L).getAs[Long]("n_eval_windows") > 0L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // only the eval span is removed; surrounding text survives
    assert(out(2L).getAs[String]("kept_md5") ==
      md5("prefix words here suffix words here too"),
      "exactly the overlapping span must be scrubbed")
  }

  test("PII redaction scrubs injected identifiers and counts by type") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at jane.doe+x@example.org or call +1 (415) 555-0123 ok"),
      (2L, "server 10.0.42.7 charged card 4111111111111111 twice"),
      (3L, "no pii here at all"),
      (4L, "two mails: a@b.co and c.d@e.info; ip 192.168.1.1")
    ).toDF("id", "text")
    val out = TextOps.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> r).toMap

    val r1 = out(1L)
    assert(r1.getAs[String]("text_redacted") ==
      "contact me at [email] or call [phone] ok")
    assert(r1.getAs[Long]("n_email") == 1 && r1.getAs[Long]("n_phone") == 1)

    val r2 = out(2L)
    assert(r2.getAs[String]("text_redacted") ==
      "server [ipv4] charged card [card] twice")
    assert(r2.getAs[Long]("n_ipv4") == 1 && r2.getAs[Long]("n_card") == 1)
    assert(r2.getAs[Long]("n_phone") == 0, "card must not double-count as phone")

    val r3 = out(3L)
    assert(r3.getAs[String]("text_redacted") == "no pii here at all")
    assert(Seq("n_email", "n_phone", "n_ipv4", "n_card")
      .forall(c => r3.getAs[Long](c) == 0))

    val r4 = out(4L)
    assert(r4.getAs[Long]("n_email") == 2 && r4.getAs[Long]("n_ipv4") == 1)
    assert(!r4.getAs[String]("text_redacted").contains("@"))
  }

  test("perplexity separates in-distribution text from gibberish") {
    import spark.implicits._
    val ref = Tables.documents(spark, sfDir)
    val corpus = ref.limit(50).select($"doc_id", $"text")
    val gibberish = Seq(
      (900001L, "zxqv wplk jmtr qqzx bnvc xkwz pltj zzzq vvkx qwjz"),
      (900002L, "aaxz bbqy ccwz ddvx eeuz ffty ggxr hhqw iizv jjuy"))
      .toDF("doc_id", "text")
    val scored = TextOps.perplexityScores(ref, corpus.unionByName(gibberish))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val inDist = scored.filter(_._1 < 900000L).values.map(_._3)
    val junk = scored.filter(_._1 >= 900000L).values
    // every gibberish token is OOV, and its perplexity clears every
    // in-distribution doc by a wide margin
    junk.foreach { case (n, oov, ppl) =>
      assert(oov == n, "gibberish must be all-OOV")
      assert(ppl > inDist.max * 10, s"gibberish ppl $ppl not separated")
    }
    // in-distribution scores are finite, positive, vocabulary-bounded
    inDist.foreach(p => assert(p > 1 && p < 1e6))
  }

  test("t_pii_redact audit finds exactly the planted identifiers") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val expected = Map(
      "n_email" -> docs.count(_ % 7 == 0).toLong,
      "n_ipv4" -> docs.count(_ % 11 == 0).toLong,
      "n_card" -> docs.count(_ % 17 == 0).toLong,
      "n_phone" -> docs.count(_ % 13 == 0).toLong)
    val rows = TextOps.piiRedact(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length)
    expected.foreach { case (c, want) =>
      val got = rows.map(_.getAs[Long](c)).sum
      assert(got == want, s"$c: redacted $got, planted $want")
    }
    // the checksum column is populated and bounded by the per-row modulus
    rows.foreach { r =>
      val chk = r.getAs[Long]("redact_chk")
      assert(chk >= 0 && chk < r.getAs[Long]("n_docs") * 1000000000L)
    }
  }
}
