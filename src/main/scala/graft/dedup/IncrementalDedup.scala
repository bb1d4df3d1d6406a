package graft.dedup

import graft.sources.DerivedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental cross-batch near-dup admission — the crawl-pipeline form of
  * MinHash-LSH dedup. A 100-TB corpus is not deduplicated in one shot: it
  * arrives in crawl batches, and re-running global LSH over the
  * accumulated corpus per batch is quadratic in wall time. Instead each
  * batch is admitted against a PERSISTENT band-bucket store: the store
  * holds every LSH bucket ever seen with the earliest doc_id that produced
  * it, a new batch probes only its own buckets, and only never-seen
  * buckets are appended.
  *
  * Admission rule: a document is a duplicate iff some EARLIER document
  * (smaller doc_id — earlier batch, or earlier in this batch) occupies one
  * of its [[Dedup.Bands]] LSH band buckets; `dup_of` is the smallest such
  * doc_id. The rule is order-independent, so processing id-ordered batches
  * sequentially is provably equal to the one-shot corpus-wide rule — which
  * is exactly what the DuckDB oracle replays, making this stateful
  * incremental operator hash-gated end-to-end (rare for streaming-shaped
  * state: the usual best is a batch-parity spec).
  *
  * Scale shape per batch: signature + banding are the in-row kernels
  * shared with [[Dedup.minhashLsh]] (map-only); the store probe scans only
  * the `bp=` partitions the batch's buckets hash into and broadcast-joins
  * the batch's bucket keys against them (the store side never shuffles);
  * everything after the probe is batch-sized. Store growth is one row per
  * DISTINCT bucket — bounded by corpus size, never by batch count.
  *
  * Recovery: admission output is a pure function of (store ∪ batch) —
  * bucket owners recorded by a crashed run are exactly what a rerun would
  * write (first-writer-wins equals min-doc_id under id-ordered batches),
  * and the probe rejects only on `owner < doc_id`, so replaying a batch
  * whose buckets are already (partially) recorded reproduces identical
  * flags and completes the missing appends. Single writer per store, like
  * the rollup sink.
  */
object IncrementalDedup {

  /** Store directory partition count (`bp = k0 % StoreParts`): bounds the
    * partitions a small batch's probe must scan. */
  val StoreParts = 16

  private val keyNames: Seq[String] =
    "band" +: (0 until Dedup.RowsPerBand).map(r => s"k$r")
  private val keyCols: Seq[String] = keyNames :+ "bp"

  private def storeSchema: StructType = StructType(
    StructField("band", IntegerType) +:
      (0 until Dedup.RowsPerBand).map(r => StructField(s"k$r", LongType)) :+
      StructField("owner", LongType) :+ StructField("bp", IntegerType))

  private def storeAt(spark: SparkSession, dir: String): DataFrame = {
    if (graft.sources.Store.hasLocalData(dir))
      spark.read.parquet(dir).select(
        col("band").cast("int") +:
          (0 until Dedup.RowsPerBand).map(r => col(s"k$r")) :+
          col("owner") :+ col("bp").cast("int"): _*)
    else
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        storeSchema)
  }

  /** Batch → its LSH bucket rows with the store partition key attached. */
  private[graft] def batchBands(batch: DataFrame,
                                algo: String = "md5"): DataFrame =
    Dedup.bandRows(Dedup.signaturesFromSets(Dedup.shingleSets(batch, algo)))
      .withColumn("bp", pmod(col("k0"), lit(StoreParts.toLong)).cast("int"))

  /** Batch-local first owner per bucket — also the append payload. */
  private[graft] def bucketMins(bands: DataFrame): DataFrame =
    bands.groupBy(keyCols.map(col): _*)
      .agg(min(col("doc_id")).as("batch_owner"))

  /** The store probe: one map-only pass over only the `bp=` partitions the
    * batch touches, with the batch's bucket keys broadcast — the store
    * side joins without ever shuffling (PlanSpec pins this shape). The
    * `bp` list is a driver-side collect of <= [[StoreParts]] ints. */
  private[graft] def probeHits(spark: SparkSession, storeDir: String,
                               bmin: DataFrame): DataFrame = {
    val bps = bmin.select("bp").distinct().collect().map(_.getInt(0)).toSeq
    storeAt(spark, storeDir).filter(col("bp").isInCollection(bps))
      .join(broadcast(bmin.select(keyCols.map(col): _*)), keyCols)
  }

  /** Admit one id-ordered batch against the bucket store at `storeDir`,
    * append its previously-unseen buckets, and return
    * `(doc_id, is_dup, dup_of)` — `dup_of` the smallest earlier doc
    * sharing a bucket, null for admitted docs. */
  /** Everything a stored bucket key's VALUE depends on — stamped into
    * the store's `_format` marker (Store.ensureStoreFormat) so a build
    * whose hash identity differs (NFC generation, shingle params, algo)
    * fails loudly instead of silently missing every stored owner. */
  private[graft] def storeFormat(algo: String): String =
    s"lsh-bucket-store-canonv3-k${Dedup.K}-h${Dedup.NumHashes}" +
      s"-b${Dedup.Bands}-r${Dedup.RowsPerBand}-p${Dedup.P}" +
      s"-sp$StoreParts-$algo"

  def admitBatch(batch: DataFrame, storeDir: String,
                 algo: String = "md5"): DataFrame = {
    val spark = batch.sparkSession
    graft.sources.Store.ensureStoreFormat(storeDir, storeFormat(algo))
    val bands = batchBands(batch, algo).persist()
    val bmin = bucketMins(bands).persist()
    // batch-bounded from here on
    val storedHits = probeHits(spark, storeDir, bmin).persist()
    // Two-join prior/intra split, kept DELIBERATELY (r17): the single
    // least(store-owner, batch-owner) table looked cheaper on paper (one
    // join over the band fan-out instead of two + a union), but measured
    // ×1.37 SLOWER same-session (d_incremental_admit_fast batch legs
    // 1.7/2.4/2.5 s → 2.5/3.2/3.6 s) — the prior-rejection join's build
    // side (storedHits, only the buckets with store matches) is far
    // smaller than the every-bucket owner table, and the asymmetry wins
    // over the saved union. Guide §1.1: the "ideal" plan lost to the
    // empirical one; keep the measurement.
    val priorRej = bands
      .join(storedHits, keyCols)
      .filter(col("owner") < col("doc_id"))
      .select(col("doc_id"), col("owner").as("earlier"))
    val intraRej = bands
      .join(bmin, keyCols)
      .filter(col("doc_id") > col("batch_owner"))
      .select(col("doc_id"), col("batch_owner").as("earlier"))
    val dupOf = priorRej.unionAll(intraRej)
      .groupBy("doc_id").agg(min(col("earlier")).as("dup_of"))
    val flags = batch.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        col("dup_of").isNotNull.cast("long").as("is_dup"), col("dup_of"))
      // unordered by contract — callers that need an order sort the
      // union once (admitThreeWay), not per batch; a per-batch orderBy
      // booked a range-partitioning sample job per micro-batch for rows
      // whose order nobody reads
      // eager localCheckpoint: materialize BEFORE the store append mutates
      // what a re-read would see (flags are replay-stable either way), cut
      // the lineage so later actions never re-probe, and let the blocks
      // free on GC — a long-running admissionSink stream must not accrete
      // a cached DataFrame per microbatch
      .localCheckpoint()
    val newBuckets = bmin
      .join(storedHits.select(keyNames.map(col): _*), keyNames, "left_anti")
      .select(col("band") +:
        (0 until Dedup.RowsPerBand).map(r => col(s"k$r")) :+
        col("batch_owner").as("owner") :+ col("bp"): _*)
    // repartition ON the partition column first: without it every shuffle
    // partition writes a file into every `bp=` dir (tasks × StoreParts
    // small files per batch — the dominant admitBatch cost measured at
    // sf0.1, and the classic small-files explosion at crawl scale);
    // with it, exactly one file per touched bp per batch
    newBuckets.repartition(col("bp"))
      .write.mode("append").partitionBy("bp").parquet(storeDir)
    bands.unpersist(); bmin.unpersist(); storedHits.unpersist()
    flags
  }

  /** `d_incremental_admit`: run the full documents table through
    * [[admitBatch]] as three sequential id-range batches against a fresh
    * store, exactly as a crawl pipeline would — the oracle replays the
    * equivalent one-shot corpus-wide rule in DuckDB, so the hash gate
    * proves sequential-incremental ≡ global. */
  def incrementalAdmit(spark: SparkSession, dir: String): DataFrame =
    admitThreeWay(spark, dir, "md5")

  /** xxhash64 production twin (rows-only check, like the other `_fast`
    * dedup paths — DuckDB has no xxhash64, and md5 parity is already
    * proven by `d_incremental_admit`). */
  def incrementalAdmitFast(spark: SparkSession, dir: String): DataFrame =
    admitThreeWay(spark, dir, "xxh64")

  private def admitThreeWay(spark: SparkSession, dir: String,
                            algo: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / 3 + 1
    // one wiped-per-call scratch store per (corpus, algo, process): md5
    // and xxh64 hashes never share a store
    val parts = DerivedStore.withScratch(dir, s"inc-dedup-$algo") { storeDir =>
      (0L until 3L).map { i =>
        graft.ops.Legs.time(s"d_incremental_admit${if (algo == "md5") "" else "_fast"}",
          s"batch$i")(
          admitBatch(
            docs.filter(col("doc_id") >= i * width &&
              col("doc_id") < (i + 1) * width), storeDir, algo))
      }
    }
    parts.reduce(_ unionAll _).orderBy("doc_id")
  }

  /** Right-to-be-forgotten reach into the bucket store: buckets OWNED by
    * a removed document are deleted — a partition-selective rewrite
    * ([[graft.sources.Store.deleteKeys]] on the `owner` column: only the
    * `bp=` partitions containing hits are rewritten, the rest stay
    * byte-identical) — so re-submitted identical content is admitted
    * fresh instead of flagged as a dup of a document that no longer
    * exists. Call it with the same key list as the base-table takedown.
    *
    * Semantics note: if a LIVE document shared a freed bucket (it was a
    * dup of the removed owner), the next submission of that content is
    * re-admitted once before re-occupying the bucket under the new
    * owner — the standard dedup-store slack after deletions; the
    * alternative (recomputing each freed bucket's next-earliest owner)
    * needs a corpus scan and buys one duplicate. */
  def removeOwners(spark: SparkSession, storeDir: String,
                   owners: Seq[Long]): Long =
    graft.sources.Store.deleteKeys(spark, storeDir, "owner",
      owners, Seq("bp"))

  val incrementalAdmitSql: String =
    s"""WITH shingles AS (${Dedup.shingleSql}),
       |sigs AS (${Dedup.sigSql}),
       |bands AS (${Dedup.bandSql}),
       |dups AS (
       |  SELECT r.doc_id, min(l.doc_id) AS dup_of
       |  FROM bands l JOIN bands r
       |    ON ${Dedup.bandJoinSql} AND l.doc_id < r.doc_id
       |  GROUP BY r.doc_id)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN p.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
       |  p.dup_of
       |FROM documents d LEFT JOIN dups p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
