package graft

import graft.sources.DerivedStore

/** Serve-path hardening specs (r13 VERDICT items 3/5/6): the bucketed
  * layouts' per-call overhead segment — gated sweeps, lock, `_gen`/
  * `_meta` reads, DDL registration, retries — is measured, bounded in
  * frequency, and survives the cross-process force-rebuild race the
  * retry loop exists for. */
class DedupServePathSpec extends SparkTestBase {
  import graft.dedup.Dedup

  test("serve retry survives a concurrent force-rebuild deleting the entry mid-serve") {
    // The window: another PROCESS force-rebuilds (delete → rebuild →
    // reinstall) after this call's ensureFresh freshness check and
    // before its locked _gen/_meta read. In-JVM callers serialize on
    // Dedup's monitor, so the race can't be driven through the public
    // API here; the seam injects the foreign delete exactly in the
    // protected window (thread-scoped so parallel suites' serves pass
    // through untouched).
    val dir = tempDir("serve_race")
    Tables.documents(spark, sfDir).limit(40)
      .write.parquet(s"$dir/documents.parquet")
    try {
      val expect = Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
        .collect().map(_.toSeq.toString).sorted.toSeq
      val entry = Dedup.layoutEntry(dir, "d4b")
      assert(entry.exists, "layout installed by the first serve")
      val buildsBefore = Dedup.bucketedBuildsFor(dir, "d4b")
      val me = Thread.currentThread()
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      Dedup.serveRaceHook = () =>
        if ((Thread.currentThread() eq me) && hits.incrementAndGet() == 1)
          DerivedStore.deleteLocal(entry) // unlocked, as the foreign process's install does
      val got =
        try Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
          .collect().map(_.toSeq.toString).sorted.toSeq
        finally Dedup.serveRaceHook = () => ()
      assert(hits.get() >= 2,
        s"the NoSuchFileException retry must loop back through ensureFresh (hits=${hits.get()})")
      assert(Dedup.bucketedBuildsFor(dir, "d4b") == buildsBefore + 1,
        "the retry rebuilds the deleted layout exactly once")
      assert(got == expect, "the served result is unchanged by the race")
    } finally DerivedStore.deleteLocal(new java.io.File(dir))
  }

  test("forced rebuilds interleaved with serves never fail and keep results stable") {
    // the in-JVM flavor of the same churn: generation flips under the
    // serve path's registration cache; every serve must answer and
    // answer identically
    val dir = tempDir("serve_churn")
    Tables.documents(spark, sfDir).limit(30)
      .write.parquet(s"$dir/documents.parquet")
    try {
      val expect = Dedup.containmentBucketedAttach(spark, dir, reuse = true)
        .collect().map(_.toSeq.toString).sorted.toSeq
      (1 to 3).foreach { _ =>
        // force: delete + rebuild + new generation
        Dedup.containmentBucketedAttach(spark, dir, reuse = false)
          .queryExecution.toRdd.count()
        val got = Dedup.containmentBucketedAttach(spark, dir, reuse = true)
          .collect().map(_.toSeq.toString).sorted.toSeq
        assert(got == expect, "serve across generation flips is stable")
      }
    } finally DerivedStore.deleteLocal(new java.io.File(dir))
  }

  test("governance sweeps are gated: back-to-back serves sweep at most once per interval") {
    // pre-r14 every bucketedPair call swept (O(cache entries) listdir
    // per QUERY); now the first call after a gate reset sweeps and the
    // interval closes the gate JVM-wide. Parallel suites can land the
    // one fresh-gate sweep themselves (or one just before our reset),
    // hence the <= 2 bound — the property pinned is "not once per call".
    val before = Dedup.sweepRuns.get()
    Dedup.resetSweepGate()
    (1 to 3).foreach { _ =>
      Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true)
        .queryExecution.toRdd.count()
    }
    val delta = Dedup.sweepRuns.get() - before
    assert(delta >= 1, "a fresh gate must sweep on the first serve")
    assert(delta <= 2, s"three quick serves must not sweep each ($delta sweeps)")
  }

  test("every serve records the serve_overhead leg, split from the build leg") {
    graft.ops.Legs.drain()
    Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true)
      .queryExecution.toRdd.count()
    val legs = graft.ops.Legs.drain()
    val overhead = legs.get("layout_d4b.serve_overhead")
    assert(overhead.nonEmpty, s"serve must book its overhead leg (got ${legs.keys})")
    assert(overhead.get >= 0.0)
    // a reuse hit must not book a build leg
    graft.ops.Legs.drain()
    Dedup.ngramJaccardBucketedAttach(spark, sfDir, reuse = true)
      .queryExecution.toRdd.count()
    val legs2 = graft.ops.Legs.drain()
    assert(!legs2.contains("layout_d4b.build"),
      "a clean reuse hit books overhead only, never a build")
  }

  test("warm serve launches ZERO Spark jobs at two corpus sizes (overhead can't grow with the corpus)") {
    // r14 VERDICT item 4: the serve_overhead leg MEASURES flat (57 ms ×1
    // → ~0.2 s ×50) but nothing FAILED if a future change made the
    // per-call segment grow with the corpus — the listdir-ish risks live
    // exactly there. The guarantee pinned here is structural: a warm
    // serve (layout installed, catalog registered, generation current)
    // is driver-side listing + file reads ONLY — zero Spark jobs — at
    // BOTH corpus sizes. Any distributed work sneaking into the per-call
    // segment (e.g. a bucket-count derivation via spark.read instead of
    // an FS listing) turns the measured flatness into a lie and this
    // test red. Jobs are counted via a thread-scoped job group, so
    // parallel suites' jobs never pollute the count.
    val sizes = Seq(100, 500)
    val results = sizes.map { nDocs =>
      val dir = tempDir(s"serve_zerojob_$nDocs")
      Tables.documents(spark, sfDir).limit(nDocs)
        .write.parquet(s"$dir/documents.parquet")
      try {
        // build + register (jobs expected, untimed/uncounted)
        Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
          .queryExecution.toRdd.count()
        val group = s"serve-overhead-spec-$nDocs"
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            if (Option(j.properties).exists(p =>
                group == p.getProperty("spark.jobGroup.id"))) {
              jobs.incrementAndGet(); ()
            }
        }
        spark.sparkContext.addSparkListener(listener)
        graft.ops.Legs.drain()
        spark.sparkContext.setJobGroup(group, "serve-overhead zero-job pin")
        val t0 = System.nanoTime()
        try Dedup.ngramJaccardBucketedAttach(spark, dir, reuse = true)
        finally spark.sparkContext.clearJobGroup()
        val callSec = (System.nanoTime() - t0) / 1e9
        graft.scale.MetricsListener.drainBus(spark)
        spark.sparkContext.removeSparkListener(listener)
        val legs = graft.ops.Legs.drain()
        assert(legs.contains("layout_d4b.serve_overhead"),
          s"warm serve must book its overhead leg (got ${legs.keys})")
        assert(!legs.contains("layout_d4b.build"),
          "the zero-job call must be a warm serve, not a rebuild")
        (nDocs, jobs.get(), callSec)
      } finally DerivedStore.deleteLocal(new java.io.File(dir))
    }
    results.foreach { case (n, j, _) =>
      assert(j == 0,
        s"corpus of $n docs: warm serve ran $j Spark job(s); the per-call " +
          "segment must stay listing+DDL-only or its measured flatness is void")
    }
    // belt-and-braces wall bound — intentionally loose (parallel suites
    // share this JVM); the zero-jobs assertion above is the guarantee
    results.foreach { case (n, _, sec) =>
      assert(sec < 10.0, s"corpus of $n docs: warm serve took $sec s")
    }
  }
}
