package graft

import org.apache.spark.sql.functions._
import graft.sources.Store

class StoreSpec extends SparkTestBase {

  def tmp(): String =
    tempDir("graft_store")

  test("partitioned write + dynamic overwrite is idempotent per partition") {
    val out = tmp()
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Store.writePartitioned(ev, out, Seq("day"))
    val total = spark.read.parquet(out).count()
    assert(total == ev.count())
    // overwrite ONE day: total unchanged (that partition replaced, not appended)
    val oneDay = ev.filter(col("day") === "2024-01-05")
    Store.writePartitioned(oneDay, out, Seq("day"))
    assert(spark.read.parquet(out).count() == total)
  }

  test("replaceKeys drops a key's old rows in partitions the batch never touches") {
    import spark.implicits._
    val out = tmp()
    // key 1's rows live in partitions p=0 and p=1; key 2 lives in p=2
    Seq((1L, 0, "a"), (1L, 1, "b"), (2L, 2, "c"), (3L, 0, "d"))
      .toDF("k", "p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(out)
    // replace key 1 with a single row landing ONLY in p=0: the stale
    // (1, p=1) row must vanish even though the batch never visits p=1 —
    // and p=1, now empty, must lose its directory
    Store.replaceKeys(Seq((1L, 0, "A")).toDF("k", "p", "v"), out,
      keyCols = Seq("k"), partitionCols = Seq("p"))
    val rows = spark.read.parquet(out).select($"k", $"p", $"v")
      .as[(Long, Int, String)].collect().toSet
    assert(rows == Set((1L, 0, "A"), (2L, 2, "c"), (3L, 0, "d")),
      s"unexpected content after replaceKeys: $rows")
    assert(!new java.io.File(out, "p=1").exists(),
      "an emptied partition must lose its directory")
    // idempotent: replaying the batch changes nothing
    Store.replaceKeys(Seq((1L, 0, "A")).toDF("k", "p", "v"), out,
      keyCols = Seq("k"), partitionCols = Seq("p"))
    assert(spark.read.parquet(out).count() == 3)
    // first-batch path: a fresh root is just a partitioned write
    val fresh = tmp() + "/sub"
    Store.replaceKeys(Seq((9L, 4, "z")).toDF("k", "p", "v"), fresh,
      keyCols = Seq("k"), partitionCols = Seq("p"))
    assert(spark.read.parquet(fresh).count() == 1)
  }

  test("idempotent rerun heals a lost or corrupted partition, hash-exact") {
    // the job-level resume story at 100 TB: a run dies mid-write (or an
    // object-store partition rots) — the rerun must converge to the same
    // bytes without rewriting the world
    def fingerprint(path: String): (Long, java.math.BigDecimal) = {
      val df = spark.read.parquet(path)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    val out = tmp()
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Store.writePartitioned(ev, out, Seq("day"))
    val clean = fingerprint(out)

    // case 1: a partition is LOST (failed task cleanup, deleted prefix) —
    // resume = skipExisting keeps only the missing day, dynamic overwrite
    // rewrites just that directory
    val lostDay = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted.apply(3)
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete()
    }
    rmTree(new java.io.File(out, lostDay))
    val remaining = Store.skipExisting(ev, out, Seq("day"))
    assert(remaining.select("day").distinct().count() == 1,
      "resume must reduce to exactly the lost partition")
    Store.writePartitioned(remaining, out, Seq("day"))
    assert(fingerprint(out) == clean, "healed output differs from the clean run")

    // case 2: a partition is PRESENT BUT CORRUPT — the operator's runbook
    // is to re-push that day; dynamic overwrite replaces only it and the
    // result is again bit-identical
    val badDay = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted.apply(5)
    val victim = new java.io.File(out, badDay).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(victim.toPath, "not parquet".getBytes)
    val dayKey = badDay.stripPrefix("day=")
    Store.writePartitioned(ev.filter(col("day") === dayKey), out, Seq("day"))
    assert(fingerprint(out) == clean, "repushed partition differs from the clean run")
  }

  test("partition filters prune the directory scan, not just the rows") {
    // the 100 TB property of the partitioned layout: a day-filter must
    // show up as a PartitionFilter (directory pruning before any IO),
    // not merely as a data filter evaluated over every file
    val out = tmp()
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Store.writePartitioned(ev, out, Seq("day"))
    val oneDay = spark.read.parquet(out).filter(col("day") === "2024-01-05")
    val scan = oneDay.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    assert(scan.partitionFilters.nonEmpty,
      s"day predicate must prune partitions: ${scan.partitionFilters}")
    val allDirs = new java.io.File(out).listFiles().count(_.getName.startsWith("day="))
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.size).sum < allDirs,
      "pruned scan must touch fewer files than there are day partitions")
    assert(oneDay.count() == ev.filter(col("day") === "2024-01-05").count())
  }

  test("interchange sinks round-trip; zstd beats snappy on text columns") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val csvOut = tmp() + "/docs_csv"
    Store.writeCsv(docs.select(col("doc_id"), col("lang"), col("source")), csvOut)
    val backCsv = spark.read.option("header", "true").csv(csvOut)
    assert(backCsv.count() == n)
    assert(backCsv.columns.toSeq == Seq("doc_id", "lang", "source"))
    val jsonOut = tmp() + "/docs_json"
    Store.writeJsonl(docs, jsonOut)
    assert(spark.read.json(jsonOut).count() == n)
    // codec trade measured, not asserted from folklore
    def bytes(dir: String): Long = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val snappyOut = tmp() + "/docs_snappy"; val zstdOut = tmp() + "/docs_zstd"
    Store.writeParquet(docs.coalesce(1), snappyOut, "snappy")
    Store.writeParquet(docs.coalesce(1), zstdOut, "zstd")
    assert(spark.read.parquet(zstdOut).count() == n)
    assert(bytes(zstdOut) < bytes(snappyOut),
      s"zstd (${bytes(zstdOut)}) must compress the text corpus tighter " +
        s"than snappy (${bytes(snappyOut)})")
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    // the lake reality: files written before a column existed must stay
    // readable next to files written after. mergeSchema pays a footer
    // read per file at planning, so it's an explicit opt-in here — at
    // 100 TB you promote the merged schema into the table definition and
    // read WITHOUT merging once the schema settles.
    val out = tmp()
    import spark.implicits._
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "value")
      .write.parquet(s"$out/gen=1")
    Seq((3L, 30.0, "es"), (4L, 40.0, "de")).toDF("id", "value", "lang")
      .write.parquet(s"$out/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted.toSeq == Seq("gen", "id", "lang", "value"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 4)
    // old-generation rows surface the new column as null, not as a failure
    assert(rows.take(2).forall(_.isNullAt(merged.columns.indexOf("lang"))))
    assert(rows.drop(2).map(_.getAs[String]("lang")).toSeq == Seq("es", "de"))
  }

  test("bloom-filter sink writes real per-column bloom filters") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val out = tmp() + "/ev_bloom"
    // bloom on event_id: unique ids overflow the dictionary encoder, the
    // case bloom filters exist for (parquet skips them on fully
    // dictionary-encoded columns — the dictionary already IS an exact
    // membership filter, so low-cardinality user_id would get none)
    Store.writeWithBloomFilters(
      Tables.events(spark, sfDir).select(col("event_id"), col("user_id"),
        col("event_type")),
      out, Seq("event_id"))
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val idCol = cols.find(_.getPath.toDotString == "event_id").get
      assert(idCol.getBloomFilterOffset > 0, "event_id must carry a bloom filter")
      assert(reader.readBloomFilter(idCol) != null)
      // negative control: columns not opted in carry none
      val userCol = cols.find(_.getPath.toDotString == "user_id").get
      assert(userCol.getBloomFilterOffset <= 0,
        "user_id must not pay for a bloom filter it didn't ask for")
    } finally reader.close()
  }

  test("skipExisting anti-joins away already-written keys") {
    val out = tmp()
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val firstHalf = ev.filter(col("day") < "2024-01-15")
    Store.writePartitioned(firstHalf, out, Seq("day"))
    val remaining = Store.skipExisting(ev, out, Seq("day"))
    assert(remaining.count() == ev.count() - firstHalf.count())
    // and against a nonexistent path, everything passes through
    assert(Store.skipExisting(ev, tmp() + "/nope", Seq("day")).count() == ev.count())
    // and against the empty directory a dynamic overwrite of no rows leaves
    val empty = tmp()
    ev.limit(0).write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(empty)
    assert(Store.skipExisting(ev, empty, Seq("day")).count() == ev.count())
  }

  test("keyed upsert rewrites only the partitions containing updated keys") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 100).map(k => (k.toLong, s"v$k", k % 5))
      .toDF("key", "value", "part")
    Store.upsertPartitions(base, out, Seq("key"), Seq("part"))
    assert(spark.read.parquet(out).count() == 100)

    def partFiles(p: Int): Map[String, Long] = {
      val d = new java.io.File(s"$out/part=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = Map(0 -> partFiles(0), 4 -> partFiles(4))

    // update two keys (parts 2 and 3) and insert a new one (part 1)
    val updates = Seq((7L, "NEW7", 2), (3L, "NEW3", 3), (101L, "NEW101", 1))
      .toDF("key", "value", "part")
    Store.upsertPartitions(updates, out, Seq("key"), Seq("part"))

    val back = spark.read.parquet(out)
    assert(back.count() == 101)
    val byKey = back.select("key", "value").as[(Long, String)].collect().toMap
    assert(byKey(7L) == "NEW7" && byKey(3L) == "NEW3" && byKey(101L) == "NEW101")
    assert(byKey(8L) == "v8" && byKey(12L) == "v12") // same-partition neighbors intact
    // untouched partitions' FILES are bit-identical — never rewritten
    assert(partFiles(0) == untouchedBefore(0) && partFiles(4) == untouchedBefore(4),
      "upsert rewrote a partition with no updated keys")
    // re-running the same batch is idempotent
    Store.upsertPartitions(updates, out, Seq("key"), Seq("part"))
    assert(spark.read.parquet(out).count() == 101)
    assert(spark.read.parquet(out).select("key", "value").as[(Long, String)]
      .collect().toMap == byKey)
  }

  test("content manifest verifies intact data and localizes tampering") {
    import spark.implicits._
    val out = tmp()
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Store.writePartitioned(ev, out, Seq("day"))
    Store.writeManifest(spark, out, Seq("day"))
    // intact: zero diffs (and the manifest dir is invisible to the scan)
    assert(Store.verifyManifest(spark, out, Seq("day")).count() == 0)
    // hash is partitioning-invariant: 3-way and 17-way agree
    val m3 = Store.manifestOf(ev.repartition(3), Seq("day"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2))).toMap
    val m17 = Store.manifestOf(ev.repartition(17), Seq("day"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2))).toMap
    assert(m3 == m17, "content hash depends on partitioning")
    // tamper with one day: drop a row and rewrite just that partition
    val day = ev.select("day").orderBy("day").head().getString(0)
    val tampered = ev.filter(col("day") === day)
      .orderBy("event_id").limit(ev.filter(col("day") === day).count().toInt - 1)
    Store.writePartitioned(tampered, out, Seq("day"))
    val diffs = Store.verifyManifest(spark, out, Seq("day")).collect()
    assert(diffs.length == 1, s"expected one flagged partition, got ${diffs.length}")
    assert(diffs.head.getAs[Any]("day").toString == day)
  }

  test("targeted delete rewrites only touched partitions, removes emptied ones") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 100).map(k => (k.toLong, s"v$k", k % 5))
      .toDF("key", "value", "part")
    Store.writePartitioned(base, out, Seq("part"))
    def partFiles(p: Int): Map[String, Long] = {
      val d = new java.io.File(s"$out/part=$p")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched = Map(0 -> partFiles(0), 1 -> partFiles(1))

    // two keys from part 2, plus EVERY key of part 3 (k % 5 == 3)
    val allOfPart3 = (1 to 100).filter(_ % 5 == 3).map(_.toLong)
    val doomed = Seq(2L, 7L) ++ allOfPart3
    val n = Store.deleteKeys(spark, out, "key", doomed, Seq("part"))
    assert(n == doomed.length, s"deleted $n of ${doomed.length}")

    val back = spark.read.parquet(out)
    assert(back.count() == 100 - doomed.length)
    assert(back.filter($"key".isin(doomed: _*)).count() == 0)
    // untouched partitions keep their exact files
    assert(partFiles(0) == untouched(0) && partFiles(1) == untouched(1))
    // the fully-emptied partition directory is gone
    assert(!new java.io.File(s"$out/part=3").exists(), "emptied partition remains")
    // idempotent: nothing left to delete
    assert(Store.deleteKeys(spark, out, "key", doomed, Seq("part")) == 0L)
    assert(spark.read.parquet(out).count() == 100 - doomed.length)
  }

  test("targeted delete handles nested partition directories") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 60).map(k => (k.toLong, k % 3, if (k % 2 == 0) "even" else "odd"))
      .toDF("key", "p1", "p2")
    Store.writePartitioned(base, out, Seq("p1", "p2"))
    // all four keys of (p1=0, p2=even) ≡ k % 6 == 0 up to 60… delete them all
    val doomed = (1 to 60).filter(k => k % 3 == 0 && k % 2 == 0).map(_.toLong)
    val n = Store.deleteKeys(spark, out, "key", doomed, Seq("p1", "p2"))
    assert(n == doomed.length)
    assert(!new java.io.File(s"$out/p1=0/p2=even").exists(),
      "emptied nested partition dir must be removed")
    assert(new java.io.File(s"$out/p1=0/p2=odd").exists())
    assert(spark.read.parquet(out).count() == 60 - doomed.length)
  }

  test("compaction collapses small files, preserves data, bounds file size") {
    val out = tmp() + "/frag"
    val ev = Tables.events(spark, sfDir)
    ev.repartition(64).write.parquet(out) // the streaming-sink fragmentation shape
    val before = spark.read.parquet(out)
      .orderBy("event_id").collect().map(_.toSeq)
    val (nBefore, nAfter) = Store.compact(spark, out, targetFileBytes = 256 * 1024)
    assert(nBefore == 64)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(out)
      .orderBy("event_id").collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq, "compaction changed the data")
    // leftovers cleaned up
    assert(!new java.io.File(out + "_compact_tmp").exists())
    assert(!new java.io.File(out + "_compact_old").exists())
  }

  test("upsert: a corrupt existing table aborts, never masquerades as first batch") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 20).map(k => (k.toLong, s"v$k", k % 2)).toDF("key", "value", "part")
    Store.upsertPartitions(base, out, Seq("key"), Seq("part"))
    // corrupt the table: a data file that is not parquet
    val bad = new java.io.File(s"$out/part=0/zzz-corrupt.parquet")
    java.nio.file.Files.write(bad.toPath, "not parquet".getBytes)
    val upd = Seq((2L, "V2", 0)).toDF("key", "value", "part")
    intercept[Exception] { Store.upsertPartitions(upd, out, Seq("key"), Seq("part")) }
    // the failed upsert must not have dynamic-overwritten part=0 down to
    // just the update row: remove the corruption and prove all rows live
    bad.delete()
    assert(spark.read.parquet(out).count() == 20, "corrupt-table upsert dropped base rows")
  }

  test("takedown delete and compaction compose in either order") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 100).map(k => (k.toLong, s"v$k", k % 2)).toDF("key", "value", "part")
    base.repartition(8).write.mode("overwrite").partitionBy("part").parquet(out)
    // delete → compact
    assert(Store.deleteKeys(spark, out, "key", Seq(2L, 4L), Seq("part")) == 2L)
    val (nb, na) = Store.compact(spark, s"$out/part=0", targetFileBytes = 64L * 1024 * 1024)
    assert(na <= nb)
    val after = spark.read.parquet(out)
    assert(after.count() == 98)
    assert(after.filter($"key".isin(2L, 4L)).count() == 0, "compaction resurrected a deleted row")
    // compact → delete
    Store.compact(spark, s"$out/part=1", targetFileBytes = 64L * 1024 * 1024)
    assert(Store.deleteKeys(spark, out, "key", Seq(3L), Seq("part")) == 1L)
    assert(spark.read.parquet(out).count() == 97)
    assert(!new java.io.File(s"$out/part=0_compact_tmp").exists())
    assert(!new java.io.File(s"$out/part=1_compact_old").exists())
  }

  test("a delete racing the compaction swap is detected, not resurrected") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 100).map(k => (k.toLong, s"v$k", k % 2)).toDF("key", "value", "part")
    base.repartition(8).write.mode("overwrite").partitionBy("part").parquet(out)
    // the takedown lands AFTER compaction read part=0 but BEFORE the swap:
    // installing the compacted copy would resurrect keys 2 and 4
    intercept[java.util.ConcurrentModificationException] {
      Store.compactWithHook(spark, s"$out/part=0", targetFileBytes = 64L * 1024 * 1024) { () =>
        Store.deleteKeys(spark, out, "key", Seq(2L, 4L), Seq("part")); ()
      }
    }
    val after = spark.read.parquet(out)
    assert(after.count() == 98, "aborted compaction lost rows")
    assert(after.filter($"key".isin(2L, 4L)).count() == 0, "race resurrected deleted rows")
    // the aborted attempt cleans up after itself
    assert(!new java.io.File(s"$out/part=0_compact_tmp").exists(), "temp output leaked")
    assert(!new java.io.File(s"$out/part=0_compact_old").exists())
    // and a retry (no concurrent writer now) succeeds
    val (_, na) = Store.compact(spark, s"$out/part=0", targetFileBytes = 64L * 1024 * 1024)
    assert(na >= 1 && spark.read.parquet(out).count() == 98)
  }

  test("vacuum removes only aged write debris, never data or fresh temp dirs") {
    import spark.implicits._
    val out = tmp()
    val base = (1 to 40).map(k => (k.toLong, s"v$k", k % 2)).toDF("key", "value", "part")
    base.write.mode("overwrite").partitionBy("part").parquet(out)
    val before = spark.read.parquet(out).collect().map(_.toSeq).toSet

    def mk(rel: String, aged: Boolean): java.io.File = {
      val f = new java.io.File(s"$out/$rel")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, "junk".getBytes)
      if (aged) {
        // age EVERY level: vacuum takes the newest mtime anywhere in the
        // debris subtree, so dead debris means the whole tree is old
        var p = f
        while (p != null && !p.toString.equals(out)) {
          p.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
          p = p.getParentFile
        }
      }
      f
    }
    mk("_temporary/0/task/part-0.parquet", aged = true)
    mk("part=0_compact_tmp/leftover.parquet", aged = true)
    // dot-prefixed so the data read below ignores it while it survives
    val fresh = mk("._racing_compact_old/fresh.parquet", aged = false)
    // a long-running writer: the debris ROOT is old but a file deep inside
    // is fresh — the job is still writing; vacuum must leave the tree alone
    val live = mk("._live_compact_tmp/still-writing.parquet", aged = false)
    new java.io.File(s"$out/._live_compact_tmp")
      .setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)

    // (.crc debris is also matched, but the local ChecksumFileSystem
    // hides checksum files from listStatus, so it is not testable here)
    val deleted = graft.sources.Store.vacuum(spark, out)
    assert(deleted.size == 2, s"expected 2 debris paths, got $deleted")
    assert(!new java.io.File(s"$out/_temporary").exists())
    assert(!new java.io.File(s"$out/part=0_compact_tmp").exists())
    // younger than the horizon: an in-flight writer's debris survives
    assert(fresh.exists(), "vacuum deleted a fresh temp dir inside the horizon")
    assert(live.exists(),
      "vacuum deleted a long-running writer's tree (old root, fresh file inside)")
    // data untouched
    assert(spark.read.parquet(out).collect().map(_.toSeq).toSet == before)
    // idempotent
    assert(graft.sources.Store.vacuum(spark, out).count(p => !p.contains("_compact_old")) == 0)
  }

  test("takedown propagates to registered derived stores") {
    // 1. the registry mechanics: deleteKeys fires every hook for its path
    val dir = tempDir("derived")
    val path = s"$dir/t.parquet"
    spark.range(10).selectExpr("id AS k", "(id % 2) AS pt")
      .write.partitionBy("pt").parquet(path)
    var fired = 0
    Store.registerDerived(path, "idx-a")(() => fired += 1)
    Store.registerDerived(path, "idx-b")(() => fired += 1)
    Store.deleteKeys(spark, path, "k", Seq(3L), Seq("pt"))
    assert(fired == 2, "every derived hook must fire on takedown")

    // 2. end-to-end: the bucketed dedup candidate tables are derived from
    // the documents corpus; a takedown there must drop them so no serve
    // path can read a deleted doc's shingles from the warehouse copy
    val docDir = tempDir("dedup_takedown")
    Tables.documents(spark, sfDir)
      .write.partitionBy("lang").parquet(s"$docDir/documents.parquet")
    graft.dedup.Dedup.lshJaccardBucketedAttach(spark, docDir).collect()
    val (setsName, candsName) =
      graft.dedup.Dedup.bucketedTableNames(docDir, "d3")
    assert(spark.catalog.tableExists(setsName))
    assert(spark.catalog.tableExists(candsName))
    val victim = Tables.documents(spark, docDir)
      .select("doc_id").head().getLong(0)
    Store.deleteKeys(spark, s"$docDir/documents.parquet",
      "doc_id", Seq(victim), Seq("lang"))
    assert(!spark.catalog.tableExists(setsName),
      "derived bucketed set table must be invalidated by the takedown")
    assert(!spark.catalog.tableExists(candsName))
    // the serve path rebuilds from the post-delete corpus: the victim is
    // unreachable through the rebuilt tables
    val rebuilt = graft.dedup.Dedup.lshJaccardBucketedAttach(spark, docDir)
    assert(rebuilt.filter(col("doc_a") === victim || col("doc_b") === victim)
      .count() == 0)
  }

  test("takedown reaches the DEFAULT near-dup entries over the shared layout cache") {
    // r12 (VERDICT item 8): the DEFAULT d_lsh_jaccard / d_containment
    // entries — not the explicit twins — must serve no taken-down doc
    // after Store.deleteKeys, and must pay exactly ONE rebuild each on
    // the post-delete corpus (the fingerprint change, not every call)
    val docDir = tempDir("default_takedown")
    Tables.documents(spark, sfDir).limit(60)
      .write.partitionBy("lang").parquet(s"$docDir/documents.parquet")
    graft.dedup.Dedup.lshJaccard(spark, docDir).collect()
    graft.dedup.Dedup.containment(spark, docDir).collect()
    val builds0 = (graft.dedup.Dedup.bucketedBuildsFor(docDir, "d3"),
      graft.dedup.Dedup.bucketedBuildsFor(docDir, "d4d"))
    assert(builds0 == ((1L, 1L)), s"one build per family first: $builds0")
    // victim ≥ ContainIdBase-safe range and ≥ 5 so the planted-excerpt
    // twins never reference it
    val victim = Tables.documents(spark, docDir)
      .filter(col("doc_id") >= 5).select("doc_id").head().getLong(0)
    Store.deleteKeys(spark, s"$docDir/documents.parquet",
      "doc_id", Seq(victim), Seq("lang"))
    for (df <- Seq(graft.dedup.Dedup.lshJaccard(spark, docDir),
                   graft.dedup.Dedup.containment(spark, docDir))) {
      assert(df.filter(col("doc_a") === victim || col("doc_b") === victim)
        .count() == 0, "taken-down doc must appear in no served pair")
    }
    val builds1 = (graft.dedup.Dedup.bucketedBuildsFor(docDir, "d3"),
      graft.dedup.Dedup.bucketedBuildsFor(docDir, "d4d"))
    assert(builds1 == ((2L, 2L)),
      s"exactly one rebuild per family after the takedown: $builds1")
    // a further serve is a clean reuse hit
    graft.dedup.Dedup.lshJaccard(spark, docDir).collect()
    assert(graft.dedup.Dedup.bucketedBuildsFor(docDir, "d3") == 2L)
  }

  test("same-bucketed join plans with zero exchanges") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Store.writeBucketed(li, "li_b", "l_orderkey", 8)
    Store.writeBucketed(ord, "ord_b", "l_orderkey", 8)
    // disable auto-broadcast so the small test tables take the same
    // sort-merge path a 100 TB fact-fact join would
    withSessionConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Store.bucketedJoin(spark, "li_b", "ord_b", "l_orderkey")
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1200)}")
      assert(plan.contains("Bucketed: true"), plan.take(1200))
      // the un-bucketed equivalent of the same join DOES shuffle — the
      // bucketing removed the exchanges, not the data size
      val unbucketed = li.join(ord, "l_orderkey")
      unbucketed.count()
      val planU = unbucketed.queryExecution.executedPlan.toString
      assert(planU.contains("Exchange"), planU.take(800))
    }
  }
}
