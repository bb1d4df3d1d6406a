package graft

import graft.sources.DerivedStore

import graft.similarity.{Ann, Retrieval}
import graft.sources.VersionedStore
import org.apache.spark.sql.functions._

/** Snapshot-consistent index serving (round-7 verdict item 1): a query
  * pinned to `readAt(v)` must be answered by an index built on exactly
  * that version's content — not the latest fingerprint of a live dir —
  * across later commits, without rebuilds on cache hits, and with a
  * purge (the one legal manifest mutation) forcing the rebuild erasure
  * demands. */
class VersionedIndexSpec extends SparkTestBase {


  private def builtMarkerMtime(vroot: String, version: Long, kind: String): Long =
    new java.io.File(
      DerivedStore.cachedIndexDir(s"$vroot@v$version", kind), "_built").lastModified()

  test("pq: v1-pinned serve survives a v2 commit, equals inline over readAt(v1)") {
    val emb = Tables.embeddings(spark, sfDir)
    val vroot = tempDir("vidx_pq")
    val v1 = VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 =!= 0), vroot)

    val r1 = Ann.pqTopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    val inline1 = Ann.pqTopKFrom(spark, VersionedStore.readAt(spark, vroot, v1))
      .collect().map(_.toSeq).toSeq
    assert(r1 == inline1, "pinned serve must equal the inline query over the snapshot")
    val mt1 = builtMarkerMtime(vroot, v1, "pq")

    // v2 lands; the v1-pinned query must neither see it nor rebuild
    val v2 = VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 === 0), vroot)
    val r1b = Ann.pqTopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    assert(r1b == r1, "a later commit leaked into a v1-pinned read")
    assert(builtMarkerMtime(vroot, v1, "pq") == mt1,
      "v1 cache hit must not rebuild after v2 lands")

    // the v2-pinned query sees the full corpus, from its OWN cache entry
    val r2 = Ann.pqTopKCachedAt(spark, vroot, v2).collect().map(_.toSeq).toSeq
    val inline2 = Ann.pqTopKFrom(spark, VersionedStore.readAt(spark, vroot, v2))
      .collect().map(_.toSeq).toSeq
    assert(r2 == inline2)
    assert(r2 != r1, "v2 must rank over the full corpus, not v1's subset")
  }

  test("pq: a purge invalidates the pinned cache and the rebuilt serve drops the victim") {
    val emb = Tables.embeddings(spark, sfDir)
    val vroot = tempDir("vidx_purge")
    val v1 = VersionedStore.commitAppend(emb, vroot)
    val before = Ann.pqTopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    // victim: a non-query vector that actually appears in some top list
    // (output schema: query_id, rank, neighbor_id, dot)
    val victim = before.map(_(2).asInstanceOf[Long])
      .filter(_ >= Ann.AnnQueryIds).head
    val n = VersionedStore.purgeKeys(spark, vroot, "vec_id", Seq(victim))
    assert(n == 1L)
    val after = Ann.pqTopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    assert(!after.exists(_(2) == victim),
      "a purged vector must be unreachable through the v-pinned serve path")
    val inline = Ann.pqTopKFrom(spark, VersionedStore.readAt(spark, vroot, v1))
      .collect().map(_.toSeq).toSeq
    assert(after == inline,
      "post-purge pinned serve must equal inline over the purged snapshot")
  }

  test("vacuumIndexCache keeps the newest k pinned versions; purge still invalidates") {
    val emb = Tables.embeddings(spark, sfDir)
    val vroot = tempDir("vidx_vac")
    // three committed versions, each serving once → three pinned entries
    val v1 = VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 === 0), vroot)
    val v2 = VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 === 1), vroot)
    val v3 = VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 === 2), vroot)
    Seq(v1, v2, v3).foreach(v => Ann.pqTopKCachedAt(spark, vroot, v).collect())
    def entry(v: Long) = new java.io.File(DerivedStore.cachedIndexDir(s"$vroot@v$v", "pq"))
    assert(Seq(v1, v2, v3).forall(entry(_).isDirectory), "three pinned entries exist")
    // horizon rule: keep the newest 2 versions' entries, drop v1's
    val deleted = Ann.vacuumIndexCache(vroot, keepLast = 2)
    assert(!entry(v1).exists(), "v1's pinned entry must be vacuumed")
    assert(entry(v2).isDirectory && entry(v3).isDirectory,
      "the newest k entries must survive")
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("pq-")))
    // an UNRELATED root's entries are untouched by this vroot's vacuum
    val r3 = Ann.pqTopKCachedAt(spark, vroot, v3).collect().map(_.toSeq).toSeq
    assert(Ann.vacuumIndexCache(vroot + "-other", keepLast = 1).isEmpty)
    // a surviving entry still rebuilds under a purge (vacuum must not
    // weaken erasure): the manifest digest changes, forcing the rebuild
    val victim = r3.map(_(2).asInstanceOf[Long]).filter(_ >= Ann.AnnQueryIds).head
    assert(VersionedStore.purgeKeys(spark, vroot, "vec_id", Seq(victim)) == 1L)
    val after = Ann.pqTopKCachedAt(spark, vroot, v3).collect().map(_.toSeq).toSeq
    assert(!after.exists(_(2) == victim),
      "a purged vector must stay unreachable through a vacuum-surviving entry")
  }

  test("store vacuum reaps pinned index entries through the retention " +
      "hook: keepLast=k leaves exactly the k newest") {
    val emb = Tables.embeddings(spark, sfDir)
    val vroot = tempDir("vidx_wire")
    val vs = (0 to 2).map(i =>
      VersionedStore.commitAppend(emb.filter(col("vec_id") % 3 === i), vroot))
    vs.foreach(v => Ann.pqTopKCachedAt(spark, vroot, v).collect())
    def entry(v: Long) = new java.io.File(DerivedStore.cachedIndexDir(s"$vroot@v$v", "pq"))
    assert(vs.forall(entry(_).isDirectory))
    // ONE call: the store's own vacuum governs manifests AND the cache —
    // no manual vacuumIndexCache companion call
    val deleted = VersionedStore.vacuum(spark, vroot, keepLast = 2)
    assert(VersionedStore.versions(spark, vroot) == vs.takeRight(2),
      "store retention must drop the oldest manifest")
    assert(!entry(vs.head).exists(),
      "the dropped version's pinned index entry must be reaped by the same call")
    assert(vs.tail.forall(entry(_).isDirectory),
      "the k newest pinned entries must survive")
    assert(deleted.exists(_.startsWith("pq-")),
      "the vacuum return must name the reaped cache entries")
    // idle-grace variant: a freshly-served entry within the window is
    // spared even when outside the horizon (the in-flight-serve guard)
    Ann.pqTopKCachedAt(spark, vroot, vs(1)).collect()
    assert(Ann.vacuumIndexCache(vroot, keepLast = 1,
      minIdleMillis = 3600L * 1000L).isEmpty,
      "an entry served within the idle window must be spared")
    assert(Ann.vacuumIndexCache(vroot, keepLast = 1).nonEmpty,
      "without the grace the horizon rule reaps it")
  }

  test("store vacuum reaps dead-manifest entries even when nothing newer is cached") {
    // the r10 review gap: indexes pinned ONLY at old versions are the
    // "newest cached" set, but their manifests are gone — readAt of their
    // versions can never succeed again, so the hook must reap them (the
    // keepLast-of-cached rule kept them forever)
    val emb = Tables.embeddings(spark, sfDir)
    val vroot = tempDir("vidx_stale")
    val vs = (0 to 3).map(i =>
      VersionedStore.commitAppend(emb.filter(col("vec_id") % 4 === i), vroot))
    Seq(vs(0), vs(1)).foreach(v => Ann.pqTopKCachedAt(spark, vroot, v).collect())
    def entry(v: Long) = new java.io.File(DerivedStore.cachedIndexDir(s"$vroot@v$v", "pq"))
    assert(entry(vs(0)).isDirectory && entry(vs(1)).isDirectory)
    VersionedStore.vacuum(spark, vroot, keepLast = 2) // retains vs(2), vs(3)
    assert(VersionedStore.versions(spark, vroot) == vs.takeRight(2))
    assert(!entry(vs(0)).exists() && !entry(vs(1)).exists(),
      "entries for dropped manifests must be reaped even as the newest cached")
  }

  test("bm25: v1-pinned serve survives a v2 commit, equals inline over readAt(v1)") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val vroot = tempDir("vidx_bm25")
    val v1 = VersionedStore.commitAppend(docs.filter(col("doc_id") % 2 === 0), vroot)
    val r1 = Retrieval.bm25TopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    val inline1 = Retrieval.bm25TopKFrom(spark,
      VersionedStore.readAt(spark, vroot, v1)).collect().map(_.toSeq).toSeq
    assert(r1 == inline1)
    val mt1 = builtMarkerMtime(vroot, v1, "posting")

    VersionedStore.commitAppend(docs.filter(col("doc_id") % 2 =!= 0), vroot)
    val r1b = Retrieval.bm25TopKCachedAt(spark, vroot, v1).collect().map(_.toSeq).toSeq
    assert(r1b == r1, "a later commit leaked into a v1-pinned bm25 read")
    assert(builtMarkerMtime(vroot, v1, "posting") == mt1,
      "v1 cache hit must not rebuild after v2 lands")

    val v2 = VersionedStore.latestVersion(spark, vroot).get
    val r2 = Retrieval.bm25TopKCachedAt(spark, vroot, v2).collect().map(_.toSeq).toSeq
    val inline2 = Retrieval.bm25TopKFrom(spark,
      VersionedStore.readAt(spark, vroot, v2)).collect().map(_.toSeq).toSeq
    assert(r2 == inline2)
  }
}
