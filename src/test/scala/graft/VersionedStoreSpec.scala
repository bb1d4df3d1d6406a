package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedStore

/** Snapshot-versioned store: time-travel isolation, append/overwrite
  * lifecycle, history-reaching purge, retention vacuum, and the
  * concurrent-commit race. */
class VersionedStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("vstore")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("a v1 read taken after later commits sees exactly v1") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(spark.range(0, 100).toDF(), root)
    val v2 = VersionedStore.commitAppend(spark.range(100, 150).toDF(), root)
    assert((v1, v2) == (1L, 2L))
    assert(ids(VersionedStore.readAt(spark, root, v1)) == (0L until 100L).toSet)
    assert(ids(VersionedStore.readAt(spark, root, v2)) == (0L until 150L).toSet)
    val v3 = VersionedStore.commitOverwrite(spark.range(500, 510).toDF(), root)
    assert(ids(VersionedStore.readLatest(spark, root)) == (500L until 510L).toSet)
    // both pre-overwrite snapshots stay intact
    assert(ids(VersionedStore.readAt(spark, root, v1)) == (0L until 100L).toSet)
    assert(ids(VersionedStore.readAt(spark, root, v2)) == (0L until 150L).toSet)
    assert(VersionedStore.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(v3 == 3L)
  }

  test("additive schema evolution: lazy default backfill, old versions untouched") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    val v2 = VersionedStore.evolveAddColumn(spark, root,
      "score", "BIGINT", "0")
    // v1 still reads the OLD schema; v2 surfaces the column, defaulted
    assert(VersionedStore.readAt(spark, root, v1).columns.toSeq == Seq("id", "name"))
    val r2 = VersionedStore.readAt(spark, root, v2)
      .select("id", "name", "score").as[(Long, String, Long)].collect().toSet
    assert(r2 == Set((1L, "a", 0L), (2L, "b", 0L)))
    // an append AFTER the evolve carries real values; old rows stay defaulted
    val v3 = VersionedStore.commitAppend(
      Seq((3L, "c", 7L)).toDF("id", "name", "score"), root)
    val r3 = VersionedStore.readAt(spark, root, v3)
      .select("id", "name", "score").as[(Long, String, Long)].collect().toSet
    assert(r3 == Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 7L)))
    // readChanges refuses loudly across the evolve boundary...
    val e = intercept[IllegalArgumentException] {
      VersionedStore.readChanges(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("evolve"))
    // ...and works on the pure-append range after it
    assert(VersionedStore.readChanges(spark, root, v2, v3)
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // a purge preserves the schema record it remaps around
    VersionedStore.purgeKeys(spark, root, "id", Seq(1L))
    val afterPurge = VersionedStore.readAt(spark, root, v3)
      .select("id", "name", "score").as[(Long, String, Long)].collect().toSet
    assert(afterPurge == Set((2L, "b", 0L), (3L, "c", 7L)))
    // compaction materializes the defaults and drops the merge cost
    val v5 = VersionedStore.compactHead(spark, root, 1)
    val compacted = VersionedStore.readAt(spark, root, v5)
      .select("id", "name", "score").as[(Long, String, Long)].collect().toSet
    assert(compacted == afterPurge)
    // stacked evolves compose in order
    val v6 = VersionedStore.evolveAddColumn(spark, root,
      "lang", "STRING", "'unknown'")
    val r6 = VersionedStore.readAt(spark, root, v6)
      .select("id", "lang").as[(Long, String)].collect().toSet
    assert(r6 == Set((2L, "unknown"), (3L, "unknown")))
    // the pruned read surfaces the same evolved schema
    val zr = freshRoot()
    val zv1 = VersionedStore.commitAppend(
      Seq((1L, "a")).toDF("id", "name"), zr, statsCol = Some("id"))
    VersionedStore.evolveAddColumn(spark, zr, "score", "BIGINT", "5")
    val zv3 = VersionedStore.commitAppend(
      Seq((9L, "z", 7L)).toDF("id", "name", "score"), zr, statsCol = Some("id"))
    val pruned = VersionedStore.readAtPruned(spark, zr, zv3, 0L, 100L)
      .select("id", "score").as[(Long, Long)].collect().toSet
    assert(pruned == Set((1L, 5L), (9L, 7L)),
      "readAtPruned must backfill evolved defaults like readAt")
    assert(zv1 == 1L)
  }

  test("rename-column evolution: O(1) record, lazy read mapping, stacks with addcol") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    val dataDir = new java.io.File(s"$root/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    val v2 = VersionedStore.evolveRenameColumn(spark, root, "name", "title")
    // O(1): no data file read or written by the evolve
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore)
    // old version keeps the old name; the evolved version maps it lazily
    assert(VersionedStore.readAt(spark, root, v1).columns.toSeq == Seq("id", "name"))
    assert(VersionedStore.readAt(spark, root, v2).columns.toSeq == Seq("id", "title"))
    assert(VersionedStore.readAt(spark, root, v2)
      .select("id", "title").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // appends after the rename write the NEW name physically; the merged
    // read coalesces old-name and new-name files
    val v3 = VersionedStore.commitAppend(
      Seq((3L, "c")).toDF("id", "title"), root)
    assert(VersionedStore.readAt(spark, root, v3)
      .select("id", "title").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // CDC refuses across the evolve boundary, works after it
    val e = intercept[IllegalArgumentException](
      VersionedStore.readChanges(spark, root, v1, v3))
    assert(e.getMessage.contains("append-only"))
    assert(VersionedStore.readChanges(spark, root, v2, v3)
      .select("id").as[Long].collect().toSeq == Seq(3L))
    // stacked with addcol IN ORDER: add a column, then rename IT
    val v4 = VersionedStore.evolveAddColumn(spark, root, "score", "BIGINT", "0")
    val v5 = VersionedStore.evolveRenameColumn(spark, root, "score", "points")
    val v6 = VersionedStore.commitAppend(
      Seq((4L, "d", 9L)).toDF("id", "title", "points"), root)
    assert(VersionedStore.readAt(spark, root, v6)
      .select("id", "title", "points").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L), (4L, "d", 9L)))
    // freed names cannot be re-added or re-targeted (old files still
    // physically carry them — the merged read would conflate eras)
    intercept[IllegalArgumentException](
      VersionedStore.evolveAddColumn(spark, root, "name", "STRING", "'x'"))
    intercept[IllegalArgumentException] {
      VersionedStore.evolveRenameColumn(spark, root, "title", "score")
    }
    // the pruned read surfaces the renamed schema too
    assert(VersionedStore.readAtPruned(spark, root, v6, Long.MinValue, Long.MaxValue)
      .columns.contains("title"))
    // compaction materializes the renames+defaults and drops the records
    val v7 = VersionedStore.compactHead(spark, root, 1)
    assert(VersionedStore.readAt(spark, root, v7)
      .select("id", "title", "points").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L), (4L, "d", 9L)))
    // post-compaction the table is record-free: a fresh add of the once-
    // freed name is legal again (no old-era files remain)
    val v8 = VersionedStore.evolveAddColumn(spark, root, "name", "STRING", "'x'")
    assert(VersionedStore.readAt(spark, root, v8).columns.contains("name"))
    assert(Seq(v2, v4, v5) == Seq(2L, 4L, 5L) && v7 == 7L)
  }

  test("purgeKeys erases a key from every retained version, sparing other files") {
    val root = freshRoot()
    // two files per commit so some files never contain the victim
    VersionedStore.commitAppend(spark.range(0, 40).toDF().repartition(2), root)
    VersionedStore.commitAppend(spark.range(40, 80).toDF().repartition(2), root)
    val dataDir = new java.io.File(s"$root/data")
    val before = dataDir.listFiles().map(f => f.getName -> f.length()).toMap
    val removed = VersionedStore.purgeKeys(spark, root, "id", Seq(7L, 44L))
    assert(removed == 2L)
    VersionedStore.versions(spark, root).foreach { v =>
      val got = ids(VersionedStore.readAt(spark, root, v))
      assert(!got.contains(7L) && !got.contains(44L),
        s"purged key still readable at version $v")
    }
    assert(ids(VersionedStore.readAt(spark, root, 1L)) == (0L until 40L).toSet - 7L)
    assert(ids(VersionedStore.readAt(spark, root, 2L)) == (0L until 80L).toSet - 7L - 44L)
    // files without a hit were not rewritten
    val after = dataDir.listFiles().map(f => f.getName -> f.length()).toMap
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "expected at least one victim-free file")
    untouched.foreach(f => assert(before(f) == after(f)))
    // idempotent: nothing left to purge
    assert(VersionedStore.purgeKeys(spark, root, "id", Seq(7L, 44L)) == 0L)
  }

  test("vacuum drops old versions' exclusive files and aged orphans only") {
    val root = freshRoot()
    VersionedStore.commitAppend(spark.range(0, 20).toDF(), root)   // v1
    VersionedStore.commitAppend(spark.range(20, 40).toDF(), root)  // v2 (shares v1 files)
    val dataDir = new java.io.File(s"$root/data")
    def parquets() = dataDir.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet
    val v12Files = parquets()
    VersionedStore.commitOverwrite(spark.range(99, 100).toDF(), root) // v3 (fresh files)
    // plant debris: one aged orphan (reclaimable), one young (in-flight)
    val aged = new java.io.File(dataDir, "orphan-aged.parquet")
    val young = new java.io.File(dataDir, "orphan-young.parquet")
    Seq(aged, young).foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](1)))
    aged.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    val deleted = VersionedStore.vacuum(spark, root, keepLast = 1)
    assert(VersionedStore.versions(spark, root) == Seq(3L))
    assert(ids(VersionedStore.readLatest(spark, root)) == Set(99L))
    assert(deleted.contains("orphan-aged.parquet"))
    assert(!deleted.contains("orphan-young.parquet"), "in-flight staging reclaimed")
    assert(young.exists() && !aged.exists())
    // every v1/v2 data file is gone; v3's files + the young orphan remain
    val remaining = parquets()
    assert(remaining.intersect(v12Files).isEmpty,
      s"dropped versions' files survived: ${remaining.intersect(v12Files)}")
    assert(remaining.contains("orphan-young.parquet"))
  }

  test("concurrent appends both land; the union survives") {
    val root = freshRoot()
    VersionedStore.commitAppend(spark.range(0, 10).toDF(), root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(VersionedStore.commitAppend(spark.range(10, 20).toDF(), root))
    val fb = Future(VersionedStore.commitAppend(spark.range(20, 30).toDF(), root))
    val (va, vb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(va != vb, "two committers may never share a version")
    assert(Set(va, vb) == Set(2L, 3L))
    assert(ids(VersionedStore.readLatest(spark, root)) == (0L until 30L).toSet,
      "the losing append must retry on top of the winner, losing nothing")
  }

  test("readChanges feeds exactly the appended delta; non-append ranges fail loud") {
    val root = freshRoot()
    VersionedStore.commitAppend(spark.range(0, 10).toDF(), root)   // v1
    VersionedStore.commitAppend(spark.range(10, 25).toDF(), root)  // v2
    VersionedStore.commitAppend(spark.range(25, 30).toDF(), root)  // v3
    assert(ids(VersionedStore.readChanges(spark, root, 1L, 3L)) == (10L until 30L).toSet)
    assert(ids(VersionedStore.readChanges(spark, root, 2L, 3L)) == (25L until 30L).toSet)
    assert(VersionedStore.readChanges(spark, root, 3L, 3L).isEmpty)
    // an overwrite inside the range makes the file diff meaningless
    VersionedStore.commitOverwrite(spark.range(0, 5).toDF(), root) // v4
    val e = intercept[IllegalArgumentException](
      VersionedStore.readChanges(spark, root, 2L, 4L))
    assert(e.getMessage.contains("append-only"))
    // a purge remaps files CONSISTENTLY across manifests, so the file
    // diff stays the correct (post-purge) row delta
    val root2 = freshRoot()
    VersionedStore.commitAppend(spark.range(0, 10).toDF(), root2)
    VersionedStore.commitAppend(spark.range(10, 20).toDF(), root2)
    VersionedStore.purgeKeys(spark, root2, "id", Seq(3L, 15L))
    assert(ids(VersionedStore.readChanges(spark, root2, 1L, 2L))
      == (10L until 20L).toSet - 15L)
  }

  test("zone maps skip non-overlapping files; pruned read equals full filter") {
    val root = freshRoot()
    val v = VersionedStore.commitAppend(
      spark.range(0, 1000).toDF().repartitionByRange(8, col("id")),
      root, statsCol = Some("id"))
    val all = VersionedStore.overlappingFiles(spark, root, v, Long.MinValue, Long.MaxValue)
    val narrow = VersionedStore.overlappingFiles(spark, root, v, 100L, 220L)
    assert(all.size >= 8)
    assert(narrow.size <= 2, s"expected <=2 overlapping files, got ${narrow.size}")
    val pruned = VersionedStore.readAtPruned(spark, root, v, 100L, 220L)
      .filter(col("id").between(100, 220))
    val full = VersionedStore.readAt(spark, root, v)
      .filter(col("id").between(100, 220))
    assert(ids(pruned) == ids(full))
    assert(ids(pruned) == (100L to 220L).toSet)
    // bounds survive a purge (kept valid, possibly loose) — pruning still correct
    VersionedStore.purgeKeys(spark, root, "id", Seq(150L))
    val afterPurge = VersionedStore.readAtPruned(spark, root, v, 100L, 220L)
      .filter(col("id").between(100, 220))
    assert(ids(afterPurge) == (100L to 220L).toSet - 150L)
  }

  test("compaction bounds the file count, keeps content, and fences CDC") {
    val root = freshRoot()
    (0 until 6).foreach(i =>
      VersionedStore.commitAppend(
        spark.range(i * 10, i * 10 + 10).toDF().coalesce(1), root))
    val dataDir = new java.io.File(s"$root/data")
    def parquets() = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    val beforeCount = parquets()
    val vc = VersionedStore.compactHead(spark, root, nFiles = 2)
    assert(ids(VersionedStore.readAt(spark, root, vc)) == (0L until 60L).toSet)
    // old versions still readable alongside until vacuum reclaims them
    assert(ids(VersionedStore.readAt(spark, root, 3L)) == (0L until 30L).toSet)
    VersionedStore.vacuum(spark, root, keepLast = 1)
    assert(parquets() < beforeCount && parquets() <= 3)
    assert(ids(VersionedStore.readLatest(spark, root)) == (0L until 60L).toSet)
    // CDC refuses to diff across the rewrite
    val root2 = freshRoot()
    VersionedStore.commitAppend(spark.range(0, 10).toDF(), root2)
    VersionedStore.commitAppend(spark.range(10, 20).toDF(), root2)
    VersionedStore.compactHead(spark, root2, nFiles = 1)
    val e = intercept[IllegalArgumentException](
      VersionedStore.readChanges(spark, root2, 1L, 3L))
    assert(e.getMessage.contains("append-only"))
  }

  test("widen-type evolution: O(1) record, narrow files upcast at read, stacks") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(
      spark.range(0, 3).selectExpr("CAST(id AS INT) AS id", "CAST(id AS STRING) AS name"), root)
    val dataDir = new java.io.File(s"$root/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    val v2 = VersionedStore.evolveWidenColumn(spark, root, "id", "BIGINT")
    // O(1): no data file touched; old version keeps the narrow type
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore)
    assert(VersionedStore.readAt(spark, root, v1).schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val r2 = VersionedStore.readAt(spark, root, v2)
    assert(r2.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(r2.select("id").as[Long].collect().toSet == Set(0L, 1L, 2L))
    // a post-widen append carries values the NARROW type cannot hold
    val big = Int.MaxValue.toLong + 7L
    val v3 = VersionedStore.commitAppend(
      Seq((big, "w")).toDF("id", "name"), root)
    assert(VersionedStore.readAt(spark, root, v3)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, big))
    // non-widening promotions refuse loudly
    intercept[RuntimeException](
      VersionedStore.evolveWidenColumn(spark, root, "name", "BIGINT"))
    intercept[RuntimeException](
      VersionedStore.evolveWidenColumn(spark, root, "id", "INT"))
    // CDC refuses across the evolve, works after it
    intercept[IllegalArgumentException](
      VersionedStore.readChanges(spark, root, v1, v3))
    assert(VersionedStore.readChanges(spark, root, v2, v3)
      .select("id").as[Long].collect().toSeq == Seq(big))
    // stacks with rename and addcol, applied in commit order
    val v4 = VersionedStore.evolveRenameColumn(spark, root, "id", "key")
    val v5 = VersionedStore.evolveAddColumn(spark, root, "score", "BIGINT", "0")
    val got = VersionedStore.readAt(spark, root, v5)
      .select("key", "name", "score").as[(Long, String, Long)].collect().toSet
    assert(got == Set((0L, "0", 0L), (1L, "1", 0L), (2L, "2", 0L), (big, "w", 0L)))
    // compaction materializes the wide type physically and drops records
    val v6 = VersionedStore.compactHead(spark, root, 1)
    assert(VersionedStore.readAt(spark, root, v6).schema("key").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(VersionedStore.readAt(spark, root, v6)
      .select("key").as[Long].collect().toSet == Set(0L, 1L, 2L, big))
    // the pruned read carries the widened schema too
    assert(VersionedStore.readAtPruned(spark, root, v3, Long.MinValue, Long.MaxValue)
      .schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(Seq(v2, v4) == Seq(2L, 4L))
  }

  test("drop-column evolution: O(1) record, time travel keeps the bytes, " +
      "freed name refused until compaction") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "score"), root)
    val dataDir = new java.io.File(s"$root/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    val v2 = VersionedStore.evolveDropColumn(spark, root, "score")
    // O(1): no data file touched; post-drop reads no longer surface it
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore)
    assert(VersionedStore.readAt(spark, root, v2).columns.toSet == Set("id", "name"))
    // time travel to v1 still sees the column — drop is metadata, not purge
    assert(VersionedStore.readAt(spark, root, v1)
      .select("score").as[Long].collect().toSet == Set(10L, 20L))
    // a post-drop append writes the narrow schema; the merged read stays clean
    val v3 = VersionedStore.commitAppend(Seq((3L, "c")).toDF("id", "name"), root)
    assert(VersionedStore.readAt(spark, root, v3)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the freed name is refused for re-add AND as a rename target while
    // pre-drop files still carry it (conflation guard, both directions)
    intercept[IllegalArgumentException](
      VersionedStore.evolveAddColumn(spark, root, "score", "BIGINT", "0"))
    intercept[IllegalArgumentException](
      VersionedStore.evolveRenameColumn(spark, root, "name", "score"))
    // dropping what isn't there, or the last column, refuses
    intercept[RuntimeException](
      VersionedStore.evolveDropColumn(spark, root, "nope"))
    // compaction materializes the projection, drops the record, and
    // frees the name for real
    val v4 = VersionedStore.compactHead(spark, root, 1)
    assert(VersionedStore.readAt(spark, root, v4).columns.toSet == Set("id", "name"))
    val v5 = VersionedStore.evolveAddColumn(spark, root, "score", "BIGINT", "7")
    assert(VersionedStore.readAt(spark, root, v5)
      .select("score").as[Long].collect().toSet == Set(7L))
    assert(Seq(v1, v2, v3, v4, v5) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("schema records stack addcol→rename→widen→drop and compaction " +
      "materializes the composite") {
    val root = freshRoot()
    VersionedStore.commitAppend(
      Seq((1, "a"), (2, "b")).toDF("id", "tag"), root)
    VersionedStore.evolveAddColumn(spark, root, "w", "INT", "5")
    VersionedStore.evolveRenameColumn(spark, root, "w", "weight")
    VersionedStore.evolveWidenColumn(spark, root, "weight", "BIGINT")
    val v5 = VersionedStore.evolveDropColumn(spark, root, "tag")
    val got = VersionedStore.readAt(spark, root, v5)
    assert(got.columns.toSet == Set("id", "weight"))
    assert(got.schema("weight").dataType == org.apache.spark.sql.types.LongType)
    assert(got.select("id", "weight").as[(Int, Long)].collect().toSet ==
      Set((1, 5L), (2, 5L)))
    // post-evolve append at the evolved schema, then compact: all four
    // records materialize and drop
    VersionedStore.commitAppend(
      Seq((3, Int.MaxValue.toLong + 1L)).toDF("id", "weight"), root)
    val v7 = VersionedStore.compactHead(spark, root, 1)
    val compacted = VersionedStore.readAt(spark, root, v7)
    assert(compacted.columns.toSet == Set("id", "weight"))
    assert(compacted.select("id", "weight").as[(Int, Long)].collect().toSet ==
      Set((1, 5L), (2, 5L), (3, Int.MaxValue.toLong + 1L)))
    // every ghost name (w, tag) is free again after the rewrite
    VersionedStore.evolveAddColumn(spark, root, "tag", "STRING", "'x'")
    VersionedStore.evolveAddColumn(spark, root, "w", "INT", "0")
  }

  test("zone-map bounds written in the narrow era still prune exactly " +
      "after the stats column widens") {
    val root = freshRoot()
    // narrow era: INT stats column, range-clustered so files have
    // disjoint bounds — bounds land in the manifest as longs
    val v1 = VersionedStore.commitAppend(
      spark.range(0, 1000).selectExpr("CAST(id AS INT) AS k", "id * 2 AS v")
        .repartitionByRange(4, col("k")),
      root, statsCol = Some("k"))
    val v2 = VersionedStore.evolveWidenColumn(spark, root, "k", "BIGINT")
    // wide era: append values only BIGINT can hold, bounds computed wide
    val big = Int.MaxValue.toLong + 100L
    val v3 = VersionedStore.commitAppend(
      Seq((big, 1L), (big + 1L, 2L)).toDF("k", "v"),
      root, statsCol = Some("k"))
    // probe a narrow-era range THROUGH the widened head: pruning must
    // open only overlapping files and the result must equal the full
    // filter — bounds written narrow, schema served wide
    val lo = 100L; val hi = 300L
    val pruned = VersionedStore.readAtPruned(spark, root, v3, lo, hi)
    assert(pruned.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val got = pruned.filter(col("k").between(lo, hi))
      .select("k").as[Long].collect().toSet
    assert(got == (lo to hi).toSet)
    // the zone map actually skipped: narrow-era files are 4 range-disjoint
    // parts + wide-era files; the [100,300] probe must not open them all
    val opened = VersionedStore.overlappingFiles(spark, root, v3, lo, hi)
    val all = VersionedStore.overlappingFiles(spark, root, v3, Long.MinValue, Long.MaxValue)
    assert(opened.size < all.size, s"no pruning: ${opened.size} of ${all.size}")
    // and a wide-era probe finds the post-widen rows
    assert(VersionedStore.readAtPruned(spark, root, v3, big, big + 1L)
      .filter(col("k") >= big).count() == 2L)
    assert(Seq(v1, v2) == Seq(1L, 2L))
  }

  test("addcol with defaultSql = NULL gives add-nullable-column semantics") {
    val root = freshRoot()
    VersionedStore.commitAppend(Seq((1L, "a")).toDF("id", "name"), root)
    val v2 = VersionedStore.evolveAddColumn(spark, root, "note", "STRING", "NULL")
    // pre-evolve rows surface NULL, not a default
    assert(VersionedStore.readAt(spark, root, v2)
      .filter(col("note").isNull).count() == 1)
    // an EXPLICIT null written after the evolve SURVIVES (the coalesce
    // degenerates to identity — the wart the with-default contract has)
    val v3 = VersionedStore.commitAppend(
      Seq((2L, "b", Some("x")), (3L, "c", None))
        .toDF("id", "name", "note"), root)
    val got = VersionedStore.readAt(spark, root, v3)
      .select("id", "note").as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, None), (2L, Some("x")), (3L, None)))
  }

  test("additive schema evolution surfaces through a merged read") {
    val root = freshRoot()
    val v1 = VersionedStore.commitAppend(spark.range(0, 5).toDF(), root)
    val v2 = VersionedStore.commitAppend(
      spark.range(5, 10).toDF().withColumn("score", col("id") * 2), root)
    val merged = VersionedStore.readAt(spark, root, v2, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "score"))
    assert(merged.count() == 10)
    assert(merged.filter(col("score").isNull).count() == 5,
      "pre-evolution rows must surface the new column as null")
    assert(VersionedStore.readAt(spark, root, v1).columns.toSet == Set("id"))
  }

  test("time-travel demo rows carry both versions' aggregates") {
    val out = VersionedStore.timeTravelDemo(spark, sfDir).collect()
    val versions = out.map(_.getInt(0)).toSet
    assert(versions == Set(1, 2))
    val n1 = out.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    val n2 = out.filter(_.getInt(0) == 2).map(_.getLong(2)).sum
    assert(n2 == Tables.orders(spark, sfDir).count(), "v2 must hold the whole table")
    assert(n1 < n2, "v1 must be the strict pre-cut subset")
  }
}
