package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, IncrementalDedup}

class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def freshStore(): String =
    tempDir("inc_store")

  private def docs = Tables.documents(spark, sfDir).select("doc_id", "text")

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

  test("sequential incremental admission equals the one-shot global rule") {
    val got = asMap(IncrementalDedup.incrementalAdmit(spark, sfDir))
    // reference: the existing LSH candidate pairs give dup_of = min doc_a
    val expectDup = Dedup.minhashLsh(spark, sfDir)
      .groupBy("doc_b").agg(min("doc_a").as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet == ids.toSet)
    ids.foreach { id =>
      val (isDup, dupOf) = got(id)
      expectDup.get(id) match {
        case Some(e) => assert(isDup == 1L && dupOf == e, s"doc $id: got ($isDup,$dupOf) want (1,$e)")
        case None => assert(isDup == 0L && dupOf == -1L, s"doc $id: got ($isDup,$dupOf) want admitted")
      }
    }
  }

  test("admission is batch-split invariant: one batch == three batches") {
    val oneShot = asMap(IncrementalDedup.admitBatch(docs, freshStore()))
    val threeWay = asMap(IncrementalDedup.incrementalAdmit(spark, sfDir))
    assert(oneShot == threeWay)
  }

  test("replaying a batch reproduces its flags and appends nothing") {
    val store = freshStore()
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val b1 = docs.filter($"doc_id" <= maxId / 2)
    val b2 = docs.filter($"doc_id" > maxId / 2)
    IncrementalDedup.admitBatch(b1, store)
    val first = asMap(IncrementalDedup.admitBatch(b2, store))
    val rows = spark.read.parquet(store).count()
    val replay = asMap(IncrementalDedup.admitBatch(b2, store))
    assert(replay == first, "replay must reproduce identical admission flags")
    assert(spark.read.parquet(store).count() == rows,
      "replay must not grow the bucket store")
  }

  test("store refuses a hash-format mismatch and a pre-marker store") {
    // r11 ADVICE (medium): a persistent store written under a different
    // hash identity (pre-NFC content, another algo, other shingle
    // params) must FAIL LOUDLY on the next append — silently probing it
    // misses every stored owner with no error
    val store = freshStore()
    IncrementalDedup.admitBatch(docs.limit(20), store)
    val marker = new java.io.File(store, "_format")
    assert(marker.exists, "first write must stamp the _format marker")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      .contains("canonv3"))
    // same format appends fine
    IncrementalDedup.admitBatch(docs.limit(20), store)
    // an algo flip is a different hash identity -> refuse
    val e1 = intercept[IllegalArgumentException](
      IncrementalDedup.admitBatch(docs.limit(20), store, algo = "xxh64"))
    assert(e1.getMessage.contains("hash format"))
    // a data-bearing store WITHOUT a marker (pre-marker generation) is
    // refused the same way
    java.nio.file.Files.delete(marker.toPath)
    val e2 = intercept[IllegalArgumentException](
      IncrementalDedup.admitBatch(docs.limit(20), store))
    assert(e2.getMessage.contains("no _format marker"))
    // self-dedup owner store: same contract
    val sStore = tempDir("sd_store")
    graft.ops.TextOps.selfDedupAdmitBatch(docs.limit(10), sStore)
    val sMarker = new java.io.File(sStore, "_format")
    assert(sMarker.exists)
    java.nio.file.Files.write(sMarker.toPath, "other-format".getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException](
      graft.ops.TextOps.selfDedupAdmitBatch(docs.limit(10), sStore))
    assert(e3.getMessage.contains("hash format"))
  }

  test("store probe broadcasts the batch keys and prunes bp partitions") {
    import org.apache.spark.sql.execution.ExplainMode
    val store = freshStore()
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    IncrementalDedup.admitBatch(docs.filter($"doc_id" <= maxId / 2), store)
    val b2 = docs.filter($"doc_id" > maxId / 2)
    val probe = IncrementalDedup.probeHits(spark, store,
      IncrementalDedup.bucketMins(IncrementalDedup.batchBands(b2)))
    val p = probe.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastExchange"),
      s"batch bucket keys must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "probe lost its equi keys")
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("bp#")),
      s"store scan must prune bp= partitions:\n${p.take(1500)}")
  }

  test("removeOwners frees a taken-down doc's buckets; resubmission admits") {
    val store = freshStore()
    // pick a doc that is admitted (owns its buckets) in batch 1
    val flags1 = asMap(IncrementalDedup.admitBatch(docs, store))
    val victim = flags1.collect { case (id, (0L, _)) => id }.min
    val before = spark.read.parquet(store)
    val victimBuckets = before.filter($"owner" === victim).count()
    assert(victimBuckets > 0, s"victim $victim must own buckets")
    val untouchedBps = before.filter($"owner" === victim)
      .select("bp").distinct().collect().map(_.getInt(0)).toSet
    val n = IncrementalDedup.removeOwners(spark, store, Seq(victim))
    assert(n == victimBuckets, s"removed $n of $victimBuckets bucket rows")
    val after = spark.read.parquet(store)
    assert(after.filter($"owner" === victim).count() == 0)
    // untouched partitions keep every row
    assert(after.filter(!$"bp".isInCollection(untouchedBps)).count() ==
      before.filter(!$"bp".isInCollection(untouchedBps)).count())
    // identical content under a fresh id is admitted again, and
    // re-occupies the freed buckets under the new owner
    val resubmitId = docs.agg(max($"doc_id")).head().getLong(0) + 1000L
    val resubmit = docs.filter($"doc_id" === victim)
      .select(lit(resubmitId).as("doc_id"), $"text")
    val flags2 = asMap(IncrementalDedup.admitBatch(resubmit, store))
    assert(flags2(resubmitId)._1 == 0L,
      "resubmitted content must be admitted after the owner takedown")
    assert(spark.read.parquet(store)
      .filter($"owner" === resubmitId).count() == victimBuckets)
  }

  test("streaming admission sink equals the one-shot rule; replay is clean") {
    import graft.streaming.EventStreams
    val src = tempDir("adm_src")
    val store = freshStore()
    val flagsDir = tempDir("adm_flags")
    val chk = tempDir("adm_chk")
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    // two id-ordered files; maxFilesPerTrigger=1 forces one microbatch each
    docs.filter($"doc_id" <= maxId / 2).coalesce(1)
      .write.parquet(s"$src/b0")
    val f0 = new java.io.File(s"$src/b0").listFiles
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f0.toPath,
      java.nio.file.Paths.get(s"$src/part0.parquet"))
    docs.filter($"doc_id" > maxId / 2).coalesce(1)
      .write.parquet(s"$src/b1")
    val f1 = new java.io.File(s"$src/b1").listFiles
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f1.toPath,
      java.nio.file.Paths.get(s"$src/part1.parquet"))
    // the file source orders microbatches by mtime: make the id-order
    // unambiguous regardless of filesystem timestamp granularity
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$src/part1.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(s"$src/part0.parquet")).toMillis + 10000))
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
      val q = EventStreams.admissionSink(stream, store, flagsDir, chk)
      q.processAllAvailable(); q.stop()
    }
    run()
    val streamed = spark.read.parquet(flagsDir)
      .select("doc_id", "is_dup", "dup_of")
    val oneShot = asMap(IncrementalDedup.admitBatch(docs, freshStore()))
    assert(asMap(streamed.orderBy("doc_id")) == oneShot,
      "streamed microbatch admission must equal the one-shot global rule")
    // restart with nothing new: no reprocessing, no duplicate flag rows
    run()
    assert(spark.read.parquet(flagsDir).count() == streamed.count())
    assert(spark.read.parquet(flagsDir).select("doc_id").distinct().count()
      == streamed.count())
  }

  test("a half-appended crash window recovers: same flags, store completes") {
    val storeA = freshStore()
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val b1 = docs.filter($"doc_id" <= maxId / 2)
    val b2 = docs.filter($"doc_id" > maxId / 2)
    IncrementalDedup.admitBatch(b1, storeA)
    val afterB1 = spark.read.parquet(storeA).collect().toSet
    val cleanFlags = asMap(IncrementalDedup.admitBatch(b2, storeA))
    val afterB2 = spark.read.parquet(storeA).collect().toSet
    val delta = (afterB2 -- afterB1).toSeq.sortBy(_.getAs[Long]("owner"))
    // crash store: batch 1 complete, only half of batch 2's appends landed.
    // A real crashed store HAS its _format marker (stamped before any
    // data on the first admit), so the fabricated one gets it too
    val storeB = freshStore()
    graft.sources.Store.ensureStoreFormat(storeB,
      IncrementalDedup.storeFormat("md5"))
    val half = afterB1.toSeq ++ delta.take(delta.size / 2)
    val schema = spark.read.parquet(storeA).schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(half.toSeq), schema)
      .write.mode("append").partitionBy("bp").parquet(storeB)
    val recovered = asMap(IncrementalDedup.admitBatch(b2, storeB))
    assert(recovered == cleanFlags,
      "admission after a partial append must equal the clean run")
    def keys(dir: String) = spark.read.parquet(dir)
      .drop("owner").collect().toSet
    assert(keys(storeB) == keys(storeA),
      "the replay must complete the bucket store's key set")
  }
}
