package graft

import graft.sources.DerivedStore

import org.apache.spark.sql.functions._
import graft.similarity.Ann
import graft.sources.Store

/** Persisted-ANN-index cache governance: the cache must serve the CURRENT
  * corpus — a takedown (`Store.deleteKeys`) or any rewrite of the
  * embeddings table must force a rebuild, never a stale answer. This is
  * the right-to-be-forgotten path for the serve side: a deleted vector
  * must be unretrievable through every cached index. */
class AnnIndexSpec extends SparkTestBase {

  /** Stage the sf embeddings as a PARTITIONED table in a fresh dir, so
    * deleteKeys can rewrite it partition-wise like a production corpus. */
  private def stageEmbeddings(): String = {
    val dir = tempDir("ann_takedown")
    Tables.embeddings(spark, sfDir)
      .withColumn("pt", (col("vec_id") % 4).cast("int"))
      .write.partitionBy("pt").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("scratch reaper: marker-owned dead scratch reaped, name lookalikes spared") {
    // ownership lives in the `_scratch` marker (pid inside), never in the
    // entry NAME: a cached index whose sanitized source path happens to
    // contain `-p<digits>-` (corpus dir like /data/set-p2024-v1) must
    // survive every reap — the r10 name-regex reaper deleted it
    val parent = new java.io.File(DerivedStore.scratchDir(sfDir, "reap-probe"))
      .getParentFile
    parent.mkdirs()
    val dead = new java.io.File(parent, "fixture-dead-scratch-entry")
    dead.mkdirs()
    java.nio.file.Files.write(new java.io.File(dead, "_scratch").toPath,
      "999999999".getBytes("UTF-8")) // pid that cannot be alive
    val lookalike = new java.io.File(parent, "ngram-corpus-p2024-v1-aaaaaa")
    lookalike.mkdirs()
    new java.io.File(lookalike, "_built").createNewFile()
    // the old scratch NAME shape with a dead pid but no `_scratch` and no
    // completion marker: nothing marks it as scratch, so it is not ours
    val oldShape = new java.io.File(parent, "ngram-inc-p999999999-x")
    oldShape.mkdirs()
    try {
      DerivedStore.scratchDir(sfDir, "reap-probe2") // any scratchDir call reaps
      assert(!dead.exists(), "marker-owned dead-pid scratch must be reaped")
      assert(lookalike.isDirectory,
        "an unmarked entry with a pid-shaped NAME fragment must survive")
      assert(oldShape.isDirectory,
        "an unmarked entry in the old scratch name shape must survive")
    } finally {
      Seq(lookalike, oldShape).foreach { d =>
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.delete()
      }
    }
  }

  test("deleteKeys on the corpus invalidates the cached PQ index") {
    val dir = stageEmbeddings()
    val marker = new java.io.File(DerivedStore.cachedIndexDir(dir, "pq"), "_built")

    val before = Ann.pqTopKCached(spark, dir).collect()
    assert(marker.exists(), "first call must build and mark the index")
    val builtAt = java.nio.file.Files.readAllBytes(marker.toPath).toSeq

    // pick a victim that is a SERVED neighbor but not a query vector
    val victim = before.map(_.getAs[Long]("neighbor_id"))
      .find(_ >= Ann.AnnQueryIds).get
    assert(before.exists(_.getAs[Long]("neighbor_id") == victim))

    // same data → cache hit (marker bytes unchanged, no rebuild)
    Ann.pqTopKCached(spark, dir).collect()
    assert(java.nio.file.Files.readAllBytes(marker.toPath).toSeq == builtAt,
      "unchanged corpus must not retrain")

    val n = Store.deleteKeys(spark, s"$dir/embeddings.parquet",
      "vec_id", Seq(victim), Seq("pt"))
    assert(n == 1L)

    val after = Ann.pqTopKCached(spark, dir).collect()
    assert(!after.exists(_.getAs[Long]("neighbor_id") == victim),
      s"taken-down vector $victim still served by the cached index")
    assert(java.nio.file.Files.readAllBytes(marker.toPath).toSeq != builtAt,
      "marker must record the new corpus fingerprint")
    // and the rebuild is CORRECT, not merely victim-free: identical to
    // training inline on the post-delete corpus
    val inline = Ann.pqTopK(spark, dir).collect().map(_.toSeq).toSet
    assert(after.map(_.toSeq).toSet == inline)
  }

  test("deleteKeys on the corpus invalidates the cached IVF index") {
    val dir = stageEmbeddings()
    val before = Ann.ivfTopKCached(spark, dir).collect()
    val victim = before.map(_.getAs[Long]("neighbor_id"))
      .find(_ >= Ann.AnnQueryIds).get
    Store.deleteKeys(spark, s"$dir/embeddings.parquet",
      "vec_id", Seq(victim), Seq("pt"))
    val after = Ann.ivfTopKCached(spark, dir).collect()
    assert(!after.exists(_.getAs[Long]("neighbor_id") == victim),
      s"taken-down vector $victim still served by the cached IVF index")
    assert(after.map(_.toSeq).toSet ==
      Ann.ivfTopK(spark, dir).collect().map(_.toSeq).toSet)
  }

  test("default cache root is a per-user directory with mode 0700") {
    import java.nio.file.{Files, LinkOption, Paths}
    import java.nio.file.attribute.PosixFilePermissions.{fromString, toString => modeOf}
    val user = System.getProperty("user.name")
    val root = Paths.get(DerivedStore.defaultCacheRoot)
    assert(root == Paths.get(System.getProperty("java.io.tmpdir"), s"graft-$user"))
    assert(Files.isDirectory(root, LinkOption.NOFOLLOW_LINKS))
    assert(Files.getAttribute(root, "unix:uid", LinkOption.NOFOLLOW_LINKS) ==
      new com.sun.security.auth.module.UnixSystem().getUid.toInt)
    assert(modeOf(Files.getPosixFilePermissions(root)) == "rwx------")

    val parent = java.nio.file.Paths.get(tempDir("cache_root_mode"))
    // created fresh at 0700; an own directory left wider is tightened
    val fresh = parent.resolve("fresh")
    DerivedStore.privateDir(fresh)
    assert(modeOf(Files.getPosixFilePermissions(fresh)) == "rwx------")
    val wide = Files.createDirectory(parent.resolve("wide"))
    Files.setPosixFilePermissions(wide, fromString("rwxrwxrwx"))
    DerivedStore.privateDir(wide)
    assert(modeOf(Files.getPosixFilePermissions(wide)) == "rwx------")
    // a symlink planted at the path is refused, not followed
    val target = Files.createDirectory(parent.resolve("target"))
    val link = Files.createSymbolicLink(parent.resolve("link"), target)
    intercept[IllegalStateException](DerivedStore.privateDir(link))
  }

  test("an empty cache-root setting counts as unset") {
    import DerivedStore.configuredCacheRoot
    assert(configuredCacheRoot(Some("/e"), Some("/p")).contains("/e"))
    assert(configuredCacheRoot(Some(""), Some("/p")).contains("/p"))
    assert(configuredCacheRoot(None, Some("/p")).contains("/p"))
    // nothing usable set: cacheRoot falls to the per-user default
    assert(configuredCacheRoot(Some(""), Some("")).isEmpty)
    assert(configuredCacheRoot(None, None).isEmpty)
  }

  test("two source dirs never alias one cache entry") {
    val a = stageEmbeddings(); val b = stageEmbeddings()
    assert(DerivedStore.cachedIndexDir(a, "pq") != DerivedStore.cachedIndexDir(b, "pq"))
  }

  test("ivf upsert equals a full rebuild, replays clean, spares cold cells") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = tempDir("ivf_up")
    Ann.ivfIndexBuild(spark, sfDir, idx) // full build = the expectation
    val full = Ann.ivfTopKIndexed(spark, sfDir, idx).collect().map(_.toSeq)
    // build WITHOUT one whole label cell, then upsert it back in
    val victims = emb.filter(col("label") === 0)
    val idx2 = tempDir("ivf_up2")
    val baseDir = tempDir("ivf_base")
    emb.filter(col("label") =!= 0).write.parquet(s"$baseDir/embeddings.parquet")
    Ann.ivfIndexBuild(spark, baseDir, idx2)
    val untouched = new java.io.File(s"$idx2/cells/label=3")
    val filesBefore = Option(untouched.listFiles())
      .map(_.map(f => f.getName -> f.length()).toMap).getOrElse(Map.empty)
    Ann.ivfIndexUpsert(victims, idx2)
    val upserted = Ann.ivfTopKIndexed(spark, sfDir, idx2).collect().map(_.toSeq)
    assert(upserted.toSeq == full.toSeq,
      "incremental upsert must equal the full rebuild exactly")
    // replay: key-deduplicated upsert is a no-op for content
    Ann.ivfIndexUpsert(victims, idx2)
    val replayed = Ann.ivfTopKIndexed(spark, sfDir, idx2).collect().map(_.toSeq)
    assert(replayed.toSeq == full.toSeq)
    // a cell no upsert row touches keeps its files byte-identical
    assert(filesBefore.nonEmpty, "expected a label=3 cell at this SF")
    val filesAfter = Option(untouched.listFiles())
      .map(_.map(f => f.getName -> f.length()).toMap).getOrElse(Map.empty)
    assert(filesAfter == filesBefore, "untouched cell partitions rewritten")
  }

  test("streaming index maintenance serves exactly the full-rebuild index") {
    import graft.streaming.EventStreams
    val emb = Tables.embeddings(spark, sfDir)
    val idxFull = tempDir("ivf_sfull")
    Ann.ivfIndexBuild(spark, sfDir, idxFull)
    val full = Ann.ivfTopKIndexed(spark, sfDir, idxFull).collect().map(_.toSeq).toSeq

    // index built on two thirds; the last third arrives as a stream
    val baseDir = tempDir("ivf_sbase")
    emb.filter(col("vec_id") % 3 =!= 0).write.parquet(s"$baseDir/embeddings.parquet")
    val idx = tempDir("ivf_sidx")
    Ann.ivfIndexBuild(spark, baseDir, idx)

    val src = tempDir("ivf_ssrc")
    val arriving = emb.filter(col("vec_id") % 3 === 0)
    val midId = arriving.agg(max(col("vec_id"))).head().getLong(0) / 2
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtimePlus: Long): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val f = new java.io.File(s"$src/$name").listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/$name.parquet")
      java.nio.file.Files.move(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(dst).toMillis + mtimePlus))
    }
    stage(arriving.filter(col("vec_id") <= midId), "part0", 0L)
    stage(arriving.filter(col("vec_id") > midId), "part1", 10000L)
    def run(chk: String): Unit = {
      val stream = spark.readStream.schema(Tables.embeddingsSchema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = EventStreams.indexMaintenanceSink(stream, idx, chk)
      q.processAllAvailable(); q.stop()
    }
    val chk = tempDir("ivf_schk")
    run(chk)
    def served = Ann.ivfTopKIndexed(spark, sfDir, idx).collect().map(_.toSeq).toSeq
    assert(served == full,
      "streamed upserts must leave the index identical to a full rebuild")
    // warm restart: no new files, nothing reprocessed, same answer
    run(chk)
    assert(served == full)
    // cold restart (checkpoint lost): every microbatch REPLAYS — the
    // key-deduplicated upsert makes the replays no-ops
    run(tempDir("ivf_schk2"))
    assert(served == full)
  }

  test("streaming pq maintenance equals the batch append; replays are no-ops") {
    import graft.streaming.EventStreams
    val emb = Tables.embeddings(spark, sfDir)
    // expectation: batch pqIndexAppend of the last third onto a 2/3 build
    val baseDir = tempDir("pq_sbase")
    emb.filter(col("vec_id") % 3 =!= 0).write.parquet(s"$baseDir/embeddings.parquet")
    val idxBatch = tempDir("pq_sbatch")
    Ann.pqIndexBuild(spark, baseDir, idxBatch)
    val arriving = emb.filter(col("vec_id") % 3 === 0)
    Ann.pqIndexAppend(arriving.select(col("vec_id"), col("embedding")), idxBatch)
    val expect = Ann.pqTopKIndexed(spark, sfDir, idxBatch).collect().map(_.toSeq).toSeq

    // same third arrives as two microbatches through the sink
    val idx = tempDir("pq_sidx")
    Ann.pqIndexBuild(spark, baseDir, idx)
    val src = tempDir("pq_ssrc")
    val midId = arriving.agg(max(col("vec_id"))).head().getLong(0) / 2
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtimePlus: Long): Unit = {
      df.coalesce(1).write.parquet(s"$src/$name")
      val f = new java.io.File(s"$src/$name").listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/$name.parquet")
      java.nio.file.Files.move(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(dst).toMillis + mtimePlus))
    }
    stage(arriving.filter(col("vec_id") <= midId), "part0", 0L)
    stage(arriving.filter(col("vec_id") > midId), "part1", 10000L)
    def run(chk: String): Unit = {
      val stream = spark.readStream.schema(Tables.embeddingsSchema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = EventStreams.pqMaintenanceSink(stream, idx, chk)
      q.processAllAvailable(); q.stop()
    }
    run(tempDir("pq_schk"))
    def served = Ann.pqTopKIndexed(spark, sfDir, idx).collect().map(_.toSeq).toSeq
    assert(served == expect,
      "streamed frozen-codebook appends must equal the batch append")
    // cold restart: both microbatches replay; key-deduplicated code
    // upsert + pure frozen-codebook encoding make them no-ops
    run(tempDir("pq_schk2"))
    assert(served == expect)
  }

  test("pq append: frozen-codebook encoding matches the build encoder") {
    val emb = Tables.embeddings(spark, sfDir)
    // subset-built index, rest appended with frozen codebooks
    val idxA = tempDir("pq_app_a")
    val baseDir = tempDir("pq_base")
    emb.filter(col("vec_id") % 3 =!= 0)
      .write.parquet(s"$baseDir/embeddings.parquet")
    Ann.pqIndexBuild(spark, baseDir, idxA)
    Ann.pqIndexAppend(emb.filter(col("vec_id") % 3 === 0), idxA)
    // same codebooks, ALL vectors encoded through the append path alone
    val idxC = tempDir("pq_app_c")
    spark.read.parquet(s"$idxA/codebooks")
      .write.parquet(s"$idxC/codebooks")
    Ann.pqIndexAppend(emb, idxC)
    def codesOf(p: String) = spark.read.parquet(s"$p/codes")
      .select("vec_id", "code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val a = codesOf(idxA); val c = codesOf(idxC)
    assert(a.keySet == c.keySet &&
      emb.count() == a.size, "codes must cover the corpus exactly once")
    assert(a == c, "build-encoded and append-encoded codes must agree")
    // served results identical through either history
    val servedA = Ann.pqTopKIndexed(spark, sfDir, idxA).collect().map(_.toSeq)
    val servedC = Ann.pqTopKIndexed(spark, sfDir, idxC).collect().map(_.toSeq)
    assert(servedA.toSeq == servedC.toSeq)
    // replay: no content change
    Ann.pqIndexAppend(emb.filter(col("vec_id") % 3 === 0), idxA)
    assert(codesOf(idxA) == a, "replayed append must be a content no-op")
  }

  test("concurrent first builds serialize on the lock; both serve correctly") {
    // FileChannel.lock throws OverlappingFileLockException on same-JVM
    // overlap — the JVM monitor must make two threads queue instead
    val dir = stageEmbeddings()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Set[Seq[Any]]] {
          override def call(): Set[Seq[Any]] =
            Ann.pqTopKCached(spark, dir).collect().map(_.toSeq).toSet
        })
      }
      val results = tasks.map(_.get())
      assert(results(0) == results(1), "concurrent builders must agree")
      val inline = Ann.pqTopK(spark, dir).collect().map(_.toSeq).toSet
      assert(results(0) == inline)
    } finally pool.shutdown()
  }

  test("a takedown hook deletes its entry only under the entry's build lock") {
    // the hook must not tear an entry another thread holds the lock on
    // (an install in flight, a locked payload read)
    val dir = tempDir("ann_hook_lock")
    Tables.embeddings(spark, sfDir).limit(10).write.parquet(s"$dir/embeddings.parquet")
    val entry = new java.io.File(Ann.ensureIndex(spark, dir, "hooklock")(
      tmp => new java.io.File(tmp).mkdirs()))
    val built = new java.io.File(entry, "_built")
    assert(built.exists(), "entry installed")
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      DerivedStore.withBuildLock(entry) { held.countDown(); release.await() })
    holder.start()
    held.await()
    val takedown = new Thread(() => { Store.invalidateDerived(s"$dir/embeddings.parquet"); () })
    takedown.start()
    takedown.join(200)
    try {
      assert(takedown.isAlive, "the takedown must wait for the build lock")
      assert(built.exists(), "nothing is deleted while the lock is held")
    } finally release.countDown()
    takedown.join()
    holder.join()
    assert(!entry.exists(), "the takedown deletes the entry once the lock is free")
  }
}
