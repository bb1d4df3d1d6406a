package graft

import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import graft.dedup.Dedup
  import graft.similarity.Ann
  import graft.functions.TextFunctions

  test("minhash signatures are within [0, P)") {
    val sigs = Dedup.signatures(Tables.documents(spark, sfDir))
    val cols = (0 until Dedup.NumHashes).map(j => col(s"mh$j"))
    val bad = sigs.filter(cols.map(c => c < 0 || c >= Dedup.P).reduce(_ || _))
    assert(bad.count() == 0)
  }

  test("identical docs always collide in every band") {
    import spark.implicits._
    val dup = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                  (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val sigs = Dedup.signatures(dup).collect()
    assert(sigs.length == 2)
    val a = sigs.find(_.getLong(0) == 1L).get
    val b = sigs.find(_.getLong(0) == 2L).get
    (1 to Dedup.NumHashes).foreach(i => assert(a.getLong(i) == b.getLong(i)))
  }

  test("jaccard_bp for identical docs is 10000") {
    import spark.implicits._
    // near-identical pair must surface through LSH with jaccard 10000
    val shingles = Dedup.shingleHashes(
      Seq((1L, "hello world this is a document"),
          (2L, "hello world this is a document")).toDF("doc_id", "text"))
      .distinct().collect().groupBy(_.getLong(0))
    val h1 = shingles(1L).map(_.getLong(1)).toSet
    val h2 = shingles(2L).map(_.getLong(1)).toSet
    assert(h1 == h2)
  }

  test("NFC: composition variants collapse across every near-dup hash family") {
    import spark.implicits._
    // a decomposed twin ("e" + U+0301) of a composed document: byte-wise
    // different, canonically the same text — until r11 only EXACT dedup
    // normalized, so this pair evaded every hash family below
    val composed = "café résumé déjà touché " +
      "the café menu lists résumé advice and touché replies"
    val decomposed = java.text.Normalizer.normalize(
      composed, java.text.Normalizer.Form.NFD)
    assert(composed != decomposed, "fixture must be byte-distinct")
    val docs = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")

    // shingle sets (minhash family), gram sets (ngram/containment
    // family), and simhash signatures must all agree bit-for-bit
    val ss = Dedup.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ss(1L) == ss(2L), "shingle sets must normalize before hashing")
    val gs = Dedup.gramSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(gs(1L) == gs(2L), "gram sets must normalize before hashing")
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L), "simhash must normalize before hashing")

    // end-to-end: the MinHash LSH path now CATCHES the pair — every band
    // collides (identical signatures) and the planted twin verifies at
    // jaccard 10000
    val cands = Dedup.bandCandidates(
      Dedup.signaturesFromSets(Dedup.shingleSets(docs))).collect()
    assert(cands.length == 1)
    assert(cands.head.getLong(0) == 1L && cands.head.getLong(1) == 2L)
    assert(cands.head.getLong(2) == Dedup.Bands.toLong,
      "composition variants must collide in every band")
  }

  test("bucket count derives from corpus bytes; reuse rebuilds on corpus change") {
    import spark.implicits._
    // pure derivation: data-driven growth, PROCESS-INVARIANT floor (r13
    // ADVICE: a parallelism-tracking floor fed the fingerprint, so two
    // processes with different core counts ping-ponged full rebuilds of
    // the shared layout), upper clamp
    assert(Dedup.bucketsForBytes(1L) == Dedup.LayoutFloorBuckets,
      "small corpus takes the constant floor, independent of parallelism")
    assert(Dedup.bucketsForBytes(100L * Dedup.BucketTargetBytes) == 100,
      "bucket count grows linearly with corpus bytes")
    assert(Dedup.bucketsForBytes(Long.MaxValue / 4) == Dedup.MaxDerivedBuckets,
      "derived count clamps at the metastore-sanity cap")
    val sfBuckets = Dedup.bucketsForCorpus(spark, sfDir)
    assert(sfBuckets >= Dedup.LayoutFloorBuckets,
      s"corpus listing derivation must run: $sfBuckets")

    // reuse=true freshness (the r10 gap): an IN-PLACE corpus rewrite —
    // append/regeneration, which fires no Store.deleteKeys hook — must
    // rebuild instead of serving the stale bucketed tables
    val dir = java.nio.file.Files.createTempDirectory("bucket_fresh").toString
    // per-ENTRY build counts (r11 ADVICE): suites share one parallel JVM,
    // so asserting exact values of the GLOBAL counter raced any
    // concurrent bucketedPair build from another suite — the private
    // temp-dir entry's own count cannot
    Tables.documents(spark, sfDir).limit(40)
      .write.parquet(s"$dir/documents.parquet")
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 0, "fresh temp-dir entry")
    Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true).collect()
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 1, "first call builds")
    Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true).collect()
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 1, "clean reuse hit: no rebuild")
    Tables.documents(spark, sfDir).limit(25)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
    after.collect()
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 2,
      "corpus fingerprint change must force a rebuild under reuse=true")
    // r12 ADVICE closure: an EXPLICIT bucket count differing from the
    // served layout's must rebuild (the fingerprint folds the resolved
    // count), not silently serve the other layout
    Dedup.ngramJaccardBucketedAttach(spark, dir, nBuckets = 3, reuse = true).collect()
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 3,
      "explicit nBuckets differing from the built layout must rebuild")
    Dedup.ngramJaccardBucketedAttach(spark, dir, nBuckets = 3, reuse = true).collect()
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 3,
      "same explicit nBuckets reuses cleanly")
  }

  test("bucketed layout is cross-process persistent: a fresh session serves without rebuilding") {
    // two real JVMs are exercised by the probe harness; in-suite, a
    // "fresh process" is a session with NO catalog entries and NO serve
    // registration — exactly the state a new driver starts in (the
    // shared cache entry is the only thing that persists)
    val dir = java.nio.file.Files.createTempDirectory("bucket_xproc").toString
    Tables.documents(spark, sfDir).limit(40)
      .write.parquet(s"$dir/documents.parquet")
    val first = Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
      .collect().map(_.toSeq).toSeq
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 1)
    val (setsN, candsN) = Dedup.bucketedTableNames(dir, "d4b")
    spark.sql(s"DROP TABLE IF EXISTS $setsN")
    spark.sql(s"DROP TABLE IF EXISTS $candsN")
    Dedup.forgetServeRegistrations()
    val second = Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
      .collect().map(_.toSeq).toSeq
    assert(Dedup.bucketedBuildsFor(dir, "d4b") == 1,
      "fresh session must re-register over the shared files, not rebuild")
    assert(second == first)
    assert(spark.catalog.tableExists(setsN), "serve re-registered the catalog entry")
  }

  test("a deleted corpus's cache entry is reaped; living and relative-source entries survive") {
    import graft.similarity.Ann
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
      f.delete(); ()
    }
    // entry whose corpus will be DELETED outright
    val dir = java.nio.file.Files.createTempDirectory("sweep_corpus").toString
    Tables.documents(spark, sfDir).limit(30)
      .write.parquet(s"$dir/documents.parquet")
    Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true).collect()
    val doomed = Dedup.layoutEntry(dir, "d4b")
    assert(doomed.exists, "layout entry installed")
    // control 1: a living corpus's entry
    Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true).collect()
    val living = Dedup.layoutEntry(sfDir, "d4b")
    assert(living.exists)
    // control 2: a synthetic entry with a RELATIVE source record — the
    // sweep must not judge CWD-dependent paths
    val rel = new java.io.File(s"${Ann.cacheRoot}/graft-ann-index/bkt-spec-relsrc")
    rel.mkdirs()
    java.nio.file.Files.write(new java.io.File(rel, "_built").toPath, "x".getBytes)
    java.nio.file.Files.write(new java.io.File(rel, "_src").toPath,
      "target/definitely-not-here".getBytes)
    try {
      rmr(new java.io.File(dir)) // the corpus of record is gone
      val reaped = Ann.sweepOrphanedEntries()
      assert(!doomed.exists, s"entry must not outlive its corpus ($reaped)")
      assert(living.exists, "living corpus's entry untouched")
      assert(rel.exists, "relative-source entry untouched")
      assert(reaped.contains(doomed.getName))
    } finally rmr(rel)
  }

  test("default near-dup entries fall back to the inline plan when the layout root is unusable") {
    // detection half: a root that cannot be created (its parent is a
    // plain FILE — permission-bit roots don't block the test user, who
    // may be privileged) is not usable
    val notADir = java.io.File.createTempFile("not_a_dir", null)
    assert(!Dedup.layoutRootUsable(new java.io.File(notADir, "sub")),
      "an uncreatable root must be detected as unusable")
    assert(Dedup.layoutRootUsable(), "the real root is usable in this environment")
    // routing half: an unusable verdict serves the inline plan (and the
    // bucketed thunk must not run at all — it would write the layout)
    var builtBucketed = false
    val routed = Dedup.serveBucketedOrInline(spark, "spec", usable = false) {
      builtBucketed = true
      Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true)
    } {
      Dedup.ngramJaccardInline(spark, sfDir)
    }
    assert(!builtBucketed, "unusable root must not touch the bucketed path")
    val inline = Dedup.ngramJaccardInline(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(routed.collect().map(_.toSeq).toSeq == inline, "fallback is bit-identical")
  }

  test("a default cache root owned by another user is refused and the entries serve inline") {
    import java.nio.file.Files
    // another local user got to the per-user path first
    val foreign = Files.createTempDirectory("foreign_root")
    val otherUid = new com.sun.security.auth.module.UnixSystem().getUid.toInt + 4242
    assume(scala.util.Try(Files.setAttribute(foreign, "unix:uid", otherUid)).isSuccess,
      "changing a directory's owner needs a privileged test user")
    try {
      intercept[IllegalStateException](Ann.privateDir(foreign))
      // the refusal is read inside the usability check, not thrown past it
      val usable = Dedup.layoutRootUsable(
        new java.io.File(Ann.privateDir(foreign), "graft-ann-index"))
      assert(!usable, "a refused root must count as unusable")
      val routed = Dedup.serveBucketedOrInline(spark, "spec-foreign", usable)(
        sys.error("bucketed path must not run"))(
        Dedup.lshJaccardInline(spark, sfDir))
      assert(routed.collect().map(_.toSeq).toSeq ==
        Dedup.lshJaccardInline(spark, sfDir).collect().map(_.toSeq).toSeq)
      assert(Option(foreign.toFile.list()).exists(_.isEmpty),
        "nothing is written into the foreign root")
    } finally Files.delete(foreign)
  }

  test("inline fallback stays result-identical under the production posture") {
    // r12 VERDICT item 7: the unwritable-root fallback serves the INLINE
    // plans, and the r10 inline hazards lived exactly under the 100-TB
    // posture (CBO + AQE + 2000 shuffle partitions + bloom pruning +
    // skew splitting) — so the fallback must be pinned THERE, not only
    // in the default posture the routing spec runs in
    val expect = Seq(
      Dedup.ngramJaccardInline(spark, sfDir),
      Dedup.containmentInline(spark, sfDir),
      Dedup.lshJaccardInline(spark, sfDir))
      .map(_.collect().map(_.toSeq).toSeq)
    withSessionConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.statistics.histogram.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "2000") {
      val got = Seq(
        Dedup.serveBucketedOrInline(spark, "spec-prod-ngram", usable = false)(
          sys.error("bucketed path must not run"))(
          Dedup.ngramJaccardInline(spark, sfDir)),
        Dedup.serveBucketedOrInline(spark, "spec-prod-contain", usable = false)(
          sys.error("bucketed path must not run"))(
          Dedup.containmentInline(spark, sfDir)),
        Dedup.serveBucketedOrInline(spark, "spec-prod-lsh", usable = false)(
          sys.error("bucketed path must not run"))(
          Dedup.lshJaccardInline(spark, sfDir)))
        .map(_.collect().map(_.toSeq).toSeq)
      assert(got == expect,
        "fallback inline results must be identical under CBO+AQE+2000-partitions")
    }
  }

  test("slim-pair bucketed attach is bit-identical to the standard shape") {
    // the ScaleBench experiment twin must never drift semantically: only
    // WHICH side's arrays ride the exchange differs
    val std = graft.dedup.Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true)
      .collect().map(_.toSeq).toSeq
    val slim = graft.dedup.Dedup.ngramJaccardBucketedSlim(spark, sfDir, reuse = true)
      .collect().map(_.toSeq).toSeq
    assert(slim == std)
    val stdC = graft.dedup.Dedup.containmentBucketedAttach(spark, sfDir, reuse = true)
      .collect().map(_.toSeq).toSeq
    val slimC = graft.dedup.Dedup.containmentBucketedSlim(spark, sfDir, reuse = true)
      .collect().map(_.toSeq).toSeq
    assert(slimC == stdC)
  }

  test("simhash signature fits in 32 bits") {
    val sigs = Dedup.simhash(Tables.documents(spark, sfDir))
    val bad = sigs.filter(col("sig") < 0 || col("sig") >= (1L << 32))
    assert(bad.count() == 0)
  }

  test("ann topk ranks are dense and dot-descending per query") {
    val r = Ann.bruteForceTopK(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
    r.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
      val dots = sorted.map(_.getAs[Long]("dot"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lsh bucket pairs agree with brute-force dot products") {
    val pairs = Ann.lshPairs(spark, sfDir).limit(20).collect()
    assert(pairs.nonEmpty)
    // every bucket id must fit in NumPlanes bits
    pairs.foreach { p =>
      val b = p.getAs[Long]("bucket")
      assert(b >= 0 && b < (1L << Ann.NumPlanes))
    }
  }

  test("ivf top-k recalls most of the brute-force top-k") {
    // quality gate for the approximate path, not just a shape check: the
    // probed-cell top-3 must agree with the exact top-3 for most queries
    val truth = Ann.bruteForceTopK(spark, sfDir).filter(col("rank") <= 3)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val approx = Ann.ivfTopK(spark, sfDir)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = truth.keys.toSeq.map { q =>
      val t = truth(q)
      (t intersect approx.getOrElse(q, Set.empty)).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    // the spec embeddings are isotropic (labels don't cluster), so the
    // chance floor for 3-of-10 probed cells is 0.30; beating it proves the
    // probe ordering works, and on clustered data recall rises with it.
    // Deterministic data → this is a fixed value (0.40), not a flaky bound.
    assert(mean >= 0.35, f"mean recall@3 $mean%.2f — probe ordering broken")
  }

  test("pq: adc + exact re-rank recalls most of the true top-10") {
    // PQ quantizes 64 floats to PqM 4-bit codes; ADC alone is lossy, so
    // the production shape re-ranks the ADC top-PqRerankN with the exact
    // dot. The gate is real usefulness: mean recall@10 vs the brute-force
    // truth must clear 0.5 (random top-10 of a ~500-candidate corpus
    // would recall ~0.02). Deterministic inputs → a fixed value.
    val truth = Ann.bruteForceTopK(spark, sfDir, k = 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val pq = Ann.pqTopK(spark, sfDir).collect()
    // structural: dense ranks, exact scores descending within each query
    pq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val dots = sorted.map(_.getAs[Long]("dot")).toSeq
      assert(dots == dots.sorted.reverse, s"exact scores not descending: $dots")
    }
    val approx = pq.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = truth.keys.toSeq.map { q =>
      val t = truth(q)
      (t intersect approx.getOrElse(q, Set.empty)).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(f"pq mean recall@10 = $mean%.3f (gate 0.5)")
    assert(mean >= 0.5, f"mean recall@10 $mean%.2f — re-ranked PQ below the usefulness bar")
  }

  test("ivf: persisted cell-partitioned index answers identically; probes prune") {
    val idx = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Ann.ivfIndexBuild(spark, sfDir, idx)
    // the layout IS the index: one directory per cell
    val cellDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("label="))
    assert(cellDirs.length > 1, "corpus must be partitioned by cell")
    val inline = Ann.ivfTopK(spark, sfDir).collect().map(_.toSeq).toSet
    val indexed = Ann.ivfTopKIndexed(spark, sfDir, idx)
    assert(indexed.collect().map(_.toSeq).toSet == inline,
      "indexed query diverged from inline")
    // the probed join keys on the partition column → dynamic partition
    // pruning bounds the cells scan to the probed directories
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"cells scan must be dynamically pruned by the probe side:\n${plan.take(2000)}")
  }

  test("pq: a persisted index answers identically to inline training") {
    val idx = java.nio.file.Files.createTempDirectory("pq_index").toString
    Ann.pqIndexBuild(spark, sfDir, idx)
    assert(new java.io.File(s"$idx/codebooks").exists())
    assert(new java.io.File(s"$idx/codes").exists())
    val inline = Ann.pqTopK(spark, sfDir).collect().map(_.toSeq).toSet
    val indexed = Ann.pqTopKIndexed(spark, sfDir, idx).collect().map(_.toSeq).toSet
    assert(indexed == inline, "indexed query diverged from inline training")
    // query-many: a second read answers the same without rebuilding
    val again = Ann.pqTopKIndexed(spark, sfDir, idx).collect().map(_.toSeq).toSet
    assert(again == inline)
  }

  test("cached-index wrappers reuse the trained index across calls") {
    val inline = Ann.pqTopK(spark, sfDir).collect().map(_.toSeq).toSet
    // wipe any cache a previous JVM left so this test really trains once
    val pqDir = new java.io.File(Ann.cachedIndexDir(sfDir, "pq"))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (pqDir.exists()) rm(pqDir)
    assert(Ann.pqTopKCached(spark, sfDir).collect().map(_.toSeq).toSet == inline)
    val marker = new java.io.File(pqDir, "_built")
    assert(marker.exists(), "first call must persist the index + marker")
    val mtime = marker.lastModified()
    assert(Ann.pqTopKCached(spark, sfDir).collect().map(_.toSeq).toSet == inline)
    assert(marker.lastModified() == mtime, "second call must not retrain")
    val ivfInline = Ann.ivfTopK(spark, sfDir).collect().map(_.toSeq).toSet
    assert(Ann.ivfTopKCached(spark, sfDir).collect().map(_.toSeq).toSet == ivfInline)
  }

  test("pq: one lloyd round does not worsen total quantization error") {
    // inertia(seed codebook) >= inertia(refined codebook) — the k-means
    // descent property, checked through the same assignment code path
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Ann.quantized(col("embedding")).as("q"))
    val norms = emb.select(
        sum(graft.functions.VectorExpressions.dot(col("q"), col("q"))).as("v2"))
      .collect()(0).getDouble(0)
    def inertia(afterRounds: Int): Double = {
      val df = Ann.pqAssignmentForTest(spark, sfDir, afterRounds)
      norms + df.agg(sum(col("dist"))).collect()(0).getDouble(0)
    }
    val before = inertia(0)
    val after = inertia(1)
    assert(after <= before,
      f"lloyd round increased PQ inertia: $before%.0f -> $after%.0f")
    assert(after >= 0.0, "quantization error must stay non-negative")
  }

  test("fingerprint is deterministic and in [0, P)") {
    val f1 = TextFunctions.fingerprint(spark, sfDir).collect()
    val f2 = TextFunctions.fingerprint(spark, sfDir).collect()
    assert(f1.map(_.getLong(1)).toSeq == f2.map(_.getLong(1)).toSeq)
    assert(f1.forall(r => r.getLong(1) >= 0 && r.getLong(1) < TextFunctions.P))
  }

  test("langid confusion matrix covers every doc exactly once") {
    val cm = graft.functions.TextFunctions.langId(spark, sfDir)
    val total = cm.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("capped band join: generous cap is identity, cap=1 empties, recall holds") {
    import spark.implicits._
    val sigs = Dedup.signaturesFromSets(
      Dedup.shingleSets(Tables.documents(spark, sfDir), algo = "xxh64"))
      .cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = pairs(Dedup.bandCandidates(sigs))
    // a cap above any bucket size must change nothing
    assert(pairs(Dedup.bandCandidatesCapped(sigs, Int.MaxValue)) == full)
    // cap=1 drops every multi-doc bucket → no candidates at all
    assert(Dedup.bandCandidatesCapped(sigs, 1).count() == 0)
    // a moderate cap yields a subset, and verified-dup recall stays 1.0
    // on this corpus (hot buckets hold boilerplate, not dup clusters)
    val capped = pairs(Dedup.bandCandidatesCapped(sigs, 256))
    assert(capped.subsetOf(full))
    val fullDups = pairs(Dedup.lshJaccardFast(spark, sfDir)
      .filter(col("is_dup") === 1))
    val cappedDups = pairs(Dedup.lshJaccardCapped(spark, sfDir, 256)
      .filter(col("is_dup") === 1))
    assert(cappedDups == fullDups,
      s"cap lost ${(fullDups -- cappedDups).size} verified dups")
    sigs.unpersist()
  }

  test("scaled multi-table embedding LSH degenerates to the fixed form") {
    import spark.implicits._
    // one table + tiny corpus → plane count floors at NumPlanes and the
    // plane family prefix is shared, so candidates and flags must match
    // the oracle-gated fixed construction exactly
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "dot", "is_dup", "is_similar")
        .as[(Long, Long, Long, Int, Int)].collect().toSet
    val fixed = pairs(Ann.embeddingDup(spark, sfDir))
    val scaled = pairs(Ann.embeddingDupScaled(spark, sfDir,
      targetBucket = Int.MaxValue, tables = 1, maxBucket = Int.MaxValue))
    assert(scaled == fixed)
    // multi-table is a superset of any single table's candidates
    val multi = pairs(Ann.embeddingDupScaled(spark, sfDir,
      targetBucket = Int.MaxValue, tables = 4, maxBucket = Int.MaxValue))
    assert(fixed.subsetOf(multi))
  }

  test("dup-cluster label paths agree: driver union-find vs distributed propagation") {
    import spark.implicits._
    // chain 1-2-3, triangle 10-11-12 + tail 13, isolated edge 20-21;
    // min-label component ids: 1, 10, 20
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (12L, 13L), (20L, 21L)).toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = toMap(graft.dedup.Dedup.unionFindLabels(spark, edges))
    val dist = toMap(graft.dedup.Dedup.propagateLabels(edges))
    assert(fast == dist, s"paths disagree: $fast vs $dist")
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("ramped-stride convergence: deep chain collapses actions, shallow adds none") {
    import spark.implicits._
    // a 41-node chain: diameter 40, the propagation worst case — the min
    // label needs 40 hops, so per-round checking pays 41 driver actions.
    // The ramp (1,2,4,8,8,…) covers C(k) = 1,3,7,15,23,… hops after k
    // blocks: the first k with C(k) ≥ 40 is 8, plus one no-change block
    val d = 40
    val edges = (0 until d).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val (labR, actionsR) = graft.dedup.Dedup.propagateLabelsCounted(edges)
    val got = labR.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 to d).map(i => i.toLong -> 0L).toMap,
      "every chain node must take the minimum label")
    assert(actionsR == 9,
      s"ramped loop should take exactly 9 driver actions on a 40-chain, took $actionsR")
    // per-round checking on the same graph: diameter-many actions — the
    // cost the stride removes (and both fixed points agree)
    val (lab1, actions1) = graft.dedup.Dedup.propagateLabelsCounted(edges, 1)
    assert(lab1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
    assert(actions1 >= d, s"per-round loop should pay ~diameter actions, took $actions1")
    assert(actionsR * 3 < actions1,
      s"ramp must cut driver actions several-fold: $actionsR vs $actions1")
    // SHALLOW graph: diameter 1 — the ramp's stride-1 first block sees
    // convergence immediately, so it pays EXACTLY what per-round pays
    // (the r8 fixed-4 stride burned 3 no-op hops here)
    val shallow = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val (labS, actionsS) = graft.dedup.Dedup.propagateLabelsCounted(shallow)
    assert(labS.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    val (_, actionsS1) = graft.dedup.Dedup.propagateLabelsCounted(shallow, 1)
    assert(actionsS == actionsS1,
      s"shallow graph must cost the ramp zero extra rounds: $actionsS vs $actionsS1")
  }

  test("semantic dedup: total coverage, no surviving similar pair, every cell keeps one") {
    val out = Ann.semanticDedup(spark, sfDir).cache()
    assert(out.count() ==
      Tables.embeddings(spark, sfDir).count() + Ann.SemDedupTwinIds)
    // the planted EXACT twins MUST all be deduplicated: identical vectors
    // tie on centroid distance and the larger (twin) id is the dropped
    // side (halved twins may legitimately win over their original)
    assert(out.filter(col("vec_id") >= Ann.SemDedupTwinBase &&
      col("vec_id") < Ann.SemDedupTwinBase + Ann.SemDedupTwinIds / 2 &&
      col("keep") === 1).count() == 0, "a planted exact twin survived")
    assert(out.filter(col("vec_id") < Ann.SemDedupTwinIds / 2 &&
      col("keep") === 0).count() == 0, "an original lost to its own exact twin")
    // recompute τ-similar same-cell pairs among SURVIVORS: must be empty —
    // within any τ-similar pair exactly one side satisfies the drop rule
    val p100 = Ann.semanticAugmented(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 100)).as("p"))
    val kept = out.filter(col("keep") === 1).join(p100, Seq("vec_id"))
      .withColumn("n2", Ann.intDot(col("p"), col("p")).cast("long"))
    val l = kept.select(col("cell"), col("vec_id").as("va"), col("p").as("pa"),
      col("n2").as("na"), col("d").as("da"))
    val r = kept.select(col("cell").as("cr"), col("vec_id").as("vb"),
      col("p").as("pb"), col("n2").as("nb"), col("d").as("db"))
    val surviving = l.join(r, col("cell") === col("cr") && col("va") < col("vb"))
      .withColumn("dot", Ann.intDot(col("pa"), col("pb")).cast("long"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * Ann.SemDedupTauSqDen >=
          col("na") * col("nb") * Ann.SemDedupTauSqNum)
    assert(surviving.count() == 0, "two τ-similar same-cell docs both survived")
    // a cell never empties: the farthest-from-centroid member (smallest id
    // among ties) has no dropper
    val emptied = out.groupBy("cell")
      .agg(sum("keep").as("n_keep")).filter(col("n_keep") === 0)
    assert(emptied.count() == 0)
    out.unpersist()
  }

  test("semantic dedup keeps the farther-from-centroid side of a dropped pair") {
    val out = Ann.semanticDedup(spark, sfDir).cache()
    val p100 = Ann.semanticAugmented(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 100)).as("p"))
    val rows = out.join(p100, Seq("vec_id"))
      .withColumn("n2", Ann.intDot(col("p"), col("p")).cast("long"))
    val l = rows.select(col("cell"), col("vec_id").as("va"), col("p").as("pa"),
      col("n2").as("na"), col("d").as("da"), col("keep").as("ka"))
    val r = rows.select(col("cell").as("cr"), col("vec_id").as("vb"),
      col("p").as("pb"), col("n2").as("nb"), col("d").as("db"), col("keep").as("kb"))
    val simPairs = l.join(r, col("cell") === col("cr") && col("va") < col("vb"))
      .withColumn("dot", Ann.intDot(col("pa"), col("pb")).cast("long"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * Ann.SemDedupTauSqDen >=
          col("na") * col("nb") * Ann.SemDedupTauSqNum)
      .cache()
    assert(simPairs.count() > 0, "fixture has no τ-similar same-cell pair — test is vacuous")
    // whenever exactly one side of a similar pair survives, it is the
    // farther one (or the smaller id on a distance tie)
    val wrongSide = simPairs.filter(
      (col("ka") === 1 && col("kb") === 0 &&
        (col("da") < col("db") || (col("da") === col("db") && col("va") > col("vb")))) ||
      (col("kb") === 1 && col("ka") === 0 &&
        (col("db") < col("da") || (col("db") === col("da") && col("vb") > col("va")))))
    assert(wrongSide.count() == 0, "kept the nearer-to-centroid side")
    simPairs.unpersist(); out.unpersist()
  }

  test("filtered ANN = unfiltered ranking restricted to the allowed set") {
    val allowed = Tables.documents(spark, sfDir).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val out = Ann.bruteForceTopKFiltered(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => allowed.contains(r.getLong(2))),
      "a neighbor escaped the metadata filter")
    // pre-filtering must equal re-ranking the FULL ranking restricted to
    // the allowed set (post-filtering a top-5 would lose rows instead)
    val full = Ann.bruteForceTopK(spark, sfDir, k = Int.MaxValue).collect()
    val expect = full.toSeq.filter(r => allowed.contains(r.getLong(2)))
      .groupBy(_.getLong(0)).toSeq.flatMap { case (q, rs) =>
        rs.sortBy(r => (-r.getLong(3), r.getLong(2))).take(5).zipWithIndex
          .map { case (r, i) => (q, i + 1, r.getLong(2), r.getLong(3)) }
      }.sortBy(t => (t._1, t._2))
    val got = out.toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got == expect)
  }

  test("scaled semantic dedup: twins structurally co-bucket and deduplicate") {
    val out = graft.similarity.Ann.semanticDedupScaled(spark, sfDir).cache()
    assert(out.count() ==
      Tables.embeddings(spark, sfDir).count() + Ann.SemDedupTwinIds)
    // LSH cells make planted recall STRUCTURAL: an exact twin shares every
    // plane projection, a ×0.5 twin every projection SIGN — both co-bucket
    // with their original, so every exact twin is dropped and no original
    // loses to its own exact twin (the kmeans-form invariants, verbatim)
    assert(out.filter(col("vec_id") >= Ann.SemDedupTwinBase &&
      col("vec_id") < Ann.SemDedupTwinBase + Ann.SemDedupTwinIds / 2 &&
      col("keep") === 1).count() == 0, "a planted exact twin survived")
    assert(out.filter(col("vec_id") < Ann.SemDedupTwinIds / 2 &&
      col("keep") === 0).count() == 0, "an original lost to its own exact twin")
    // a HALVED twin is τ-similar to its original; when quantization keeps
    // the pair co-celled exactly one side survives, and a cross-cell pair
    // (a near-zero projection rounded across a plane) keeps both
    val halvedIds = (Ann.SemDedupTwinIds / 2 until Ann.SemDedupTwinIds)
    halvedIds.foreach { id =>
      val pair = out.filter(col("vec_id") === id ||
        col("vec_id") === id + Ann.SemDedupTwinBase).collect()
      assert(pair.length == 2)
      val keeps = pair.map(_.getInt(3)).sum
      if (pair.map(_.getLong(1)).distinct.length == 1)
        assert(keeps == 1, s"co-celled halved-twin pair of $id must keep one side")
      else assert(keeps == 2, s"cross-cell halved-twin pair of $id must keep both")
    }
    out.unpersist()
  }

  test("semantic dedup pair join stays equi-keyed on the cell") {
    spark.catalog.clearCache()
    val p = Ann.semanticDedup(spark, sfDir).queryExecution.executedPlan.toString
    // the only nested-loop join allowed is the model-sized centroid
    // BROADCAST cross (the kmeans assignment); the n×n pair join itself
    // must be an equi join on the cell, never a cartesian
    assert(!p.contains("CartesianProduct"), "within-cell pairs must equi-join")
    val loops = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(loops.forall(_.contains("BuildRight, Cross")),
      s"non-broadcast nested loop in the pair join:\n${loops.mkString("\n")}")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cell")),
      "expected an equi join keyed on the cell")
  }

  test("canonicalBest keeps the longest member of every cluster") {
    import spark.implicits._
    val rows = graft.dedup.Dedup.canonicalBest(spark, sfDir)
      .select($"doc_id", $"cluster_id", $"canonical_id", $"keep")
      .as[(Long, Long, Long, Int)].collect()
    val len = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    // same partition as dupClusters, every doc present exactly once
    val plain = graft.dedup.Dedup.dupClusters(spark, sfDir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(rows.length == plain.size)
    rows.foreach { case (d, c, _, _) => assert(plain(d) == c) }
    rows.groupBy(_._2).foreach { case (c, members) =>
      val canon = members.head._3
      assert(members.forall(_._3 == canon), s"cluster $c: split canonical")
      val byRule = members.map(_._1).minBy(d => (-len(d), d))
      assert(canon == byRule, s"cluster $c: canonical $canon != longest $byRule")
      assert(members.count(_._4 == 1) == 1)
      members.foreach { m => assert((m._4 == 1) == (m._1 == canon)) }
    }
    // at least one multi-member cluster exercises the argmax
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
  }

  test("containment catches every planted excerpt that Jaccard misses") {
    import spark.implicits._
    val rows = graft.dedup.Dedup.containment(spark, sfDir)
      .select($"doc_a", $"doc_b", $"contain_bp", $"jaccard_bp")
      .as[(Long, Long, Long, Long)].collect()
    val base = graft.dedup.Dedup.ContainIdBase
    val nToks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(split(trim(lower($"text")), "\\s+")).cast("long"))
      .as[(Long, Long)].collect().toMap
    // all 5 planted (original, excerpt) pairs must fire
    (0L until 5L).foreach { id =>
      val hit = rows.find(r => r._1 == id && r._2 == id + base)
      assert(hit.isDefined, s"planted excerpt of doc $id not caught")
      val (_, _, c, j) = hit.get
      assert(c >= graft.dedup.Dedup.ContainBp)
      if (nToks(id) >= 2L * graft.dedup.Dedup.ContainTokens) {
        // a real excerpt (original ≥ 2× its length): Jaccard sits far
        // below any symmetric dup bar — containment is the only rule
        // that fires, which is the point of the operator
        assert(j < 6000, s"doc $id: jaccard $j should be under the dup bar")
        assert(c - j >= 3000, s"doc $id: asymmetric gap missing (c=$c j=$j)")
      }
      // an original shorter than the excerpt window degenerates to a
      // full dup (containment = jaccard = 10000) — still caught
    }
    rows.foreach { case (a, b, c, _) =>
      assert(c >= graft.dedup.Dedup.ContainBp && a < b)
    }
  }

  test("xxhash64 gram fast path is output-identical to the md5 oracle path") {
    // pairs, n_inter, jaccard_bp, is_dup are all functions of gram
    // IDENTITY; at spec scale both hash spaces are collision-free, so the
    // two pipelines — different 64-bit hash functions end to end — must
    // emit bit-identical rows. (The fast form ships rows-only in Verify
    // because DuckDB has no xxhash64; this is its correctness gate.)
    val md5 = graft.dedup.Dedup.ngramJaccard(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val fast = graft.dedup.Dedup.ngramJaccardFast(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(md5.nonEmpty && fast == md5)
  }

  test("gram collision census: every candidate pair shares literal grams " +
      "and n_inter is collision-free") {
    import spark.implicits._
    // The 60-bit gram space (r10: the 31-bit `% P` reduction is gone)
    // must make hash identity ≡ string identity in practice. Census: for
    // every pair the rare-gram candidate mechanism surfaces, the two
    // docs' LITERAL 3-gram string sets must intersect, and the hashed
    // n_inter must EQUAL the literal intersection size — any spurious
    // bucket collision would inflate n_inter or invent a pair.
    val n = graft.dedup.Dedup.NgramN
    def gramsOf(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+")
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val pairs = graft.dedup.Dedup.ngramJaccard(spark, sfDir)
      .select($"doc_a", $"doc_b", $"n_inter").as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, nInter) =>
      val shared = gramsOf(texts(a)).intersect(gramsOf(texts(b)))
      assert(shared.nonEmpty, s"pair ($a,$b) shares no literal gram")
      assert(shared.size.toLong == nInter,
        s"pair ($a,$b): hashed n_inter=$nInter != literal ${shared.size}")
    }
  }
}
