package graft.dedup

import graft.Tables
import graft.sources.DerivedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted rare-gram inverted index for the n-gram dedup family — the
  * R-B2 lifecycle (build once → incremental upsert → partition-selective
  * takedown → serve) applied to [[Dedup.ngramJaccard]]'s candidate
  * mechanism, which until round 8 re-tokenized the corpus from scratch
  * every run while every other index family (IVF, PQ, BM25 postings,
  * admission buckets) already had a persisted maintenance story.
  *
  * Layout, mirroring the BM25 posting index:
  * {{{
  *   indexDir/gramsets/dp=N/   (doc_id, gs)  — per-doc sorted gram set,
  *                                             doc-hash partitioned
  *   indexDir/postings/gb=N/   (doc_id, h)   — exploded gram postings,
  *                                             gram-hash partitioned
  * }}}
  * ALL postings of a gram live in exactly one `gb=` partition, so df
  * computed over any partition subset that is closed under gb is the
  * GLOBAL df for those grams; the doc-keyed gramsets table feeds the
  * verify joins without re-tokenizing. Upserts are keyed REPLACES on
  * doc_id ([[graft.sources.Store.replaceKeys]]): a changed document's
  * old grams are dropped from whatever gb buckets they live in, so df
  * self-corrects — the same changed-doc guarantee the BM25 index gained
  * this round. Replays rewrite identical content (exactly-once by
  * idempotence); takedown reuses `Store.deleteKeys`' partition-selective
  * rewrite on both tables.
  *
  * Serve ([[ngramJaccardIndexed]]) feeds the UNCHANGED
  * [[Dedup.ngramJaccardOver]] candidate+verify tail, so indexed ≡ inline
  * bit-for-bit — `d_ngram_incremental` gates the whole
  * build→upsert→serve chain with the UNMODIFIED inline oracle SQL
  * (the `s_ivf_upsert` device), and NgramIndexSpec pins replay, changed
  * docs, and takedown against fresh rebuilds.
  */
object NgramIndex {

  /** Gram-hash partition count for postings. */
  val GramBuckets = 32
  /** Doc-hash partition count for the gram-set table. */
  val DocBuckets = 16

  /** Everything a stored row's IDENTITY depends on (r12 — the
    * IncrementalDedup/self-dedup `_format` contract applied to the
    * third persistent store): gram hash family + NFC generation + gram
    * width + both partition moduli. [[buildFrom]] RESTAMPS (a full
    * rebuild owns the whole content); [[upsert]] refuses a mismatch —
    * appending post-change grams beside pre-change postings silently
    * corrupts df and candidate recall with no error. */
  private[graft] def indexFormat: String =
    s"ngram-index-canonv3-md5p60-n${Dedup.NgramN}-gb$GramBuckets-dp$DocBuckets"

  private def withParts(grams: DataFrame): (DataFrame, DataFrame) = {
    val gs = grams.withColumn("dp",
      pmod(col("doc_id"), lit(DocBuckets.toLong)).cast("int"))
    val posting = grams.select(col("doc_id"), explode(col("gs")).as("h"))
      .withColumn("gb", pmod(col("h"), lit(GramBuckets.toLong)).cast("int"))
    (gs, posting)
  }

  /** Full build: gram-hash the corpus at `dir` into `indexDir`. */
  def build(spark: SparkSession, dir: String, indexDir: String): Unit =
    buildFrom(Tables.documents(spark, dir).select("doc_id", "text"), indexDir)

  def buildFrom(docs: DataFrame, indexDir: String): Unit = {
    // invalidate → write both tables → restamp LAST: the marker must
    // never vouch for content it didn't see land. A rebuild torn between
    // the two (non-atomic) table overwrites leaves content with NO
    // marker, so the next upsert refuses loudly via ensureStoreFormat's
    // pre-marker guard instead of appending beside mixed-format postings.
    graft.sources.Store.invalidateStoreFormat(indexDir)
    // materialize the gram pass once: both table writes read it, and the
    // tokenize+hash chain is the dominant cost (at 100 TB: checkpoint)
    val (gs, posting) = withParts(Dedup.gramSets(docs).localCheckpoint())
    // repartition ON the partition column: one file per bucket per build
    gs.repartition(col("dp")).write.mode("overwrite")
      .partitionBy("dp").parquet(s"$indexDir/gramsets")
    posting.repartition(col("gb")).write.mode("overwrite")
      .partitionBy("gb").parquet(s"$indexDir/postings")
    graft.sources.Store.restampStoreFormat(indexDir, indexFormat)
  }

  /** Fold a batch of new OR CHANGED documents into the index: keyed
    * replace on doc_id, so lost grams leave no stale postings. Cost ∝
    * batch grams + touched buckets + one doc-filtered probe per table;
    * the corpus is never re-read.
    *
    * The replace is keyed on the BATCH's doc_ids, not the derived rows: a
    * changed document whose new text falls below [[Dedup.NgramN]] tokens
    * has an EMPTY gram set and therefore no posting rows at all, so a
    * replace keyed off the exploded frame would never drop its old
    * postings — stale rare grams inflating df and yielding candidate
    * pairs a fresh rebuild would not (NgramIndexSpec plants exactly this
    * shrink-below-n case). */
  def upsert(batch: DataFrame, indexDir: String): Unit = {
    graft.sources.Store.ensureStoreFormat(indexDir, indexFormat)
    val b = batch.select("doc_id", "text").localCheckpoint()
    val keys = b.select("doc_id")
    val (gs, posting) = withParts(Dedup.gramSets(b).localCheckpoint())
    graft.sources.Store.replaceKeys(gs, s"$indexDir/gramsets",
      keyCols = Seq("doc_id"), partitionCols = Seq("dp"), keysOf = Some(keys))
    graft.sources.Store.replaceKeys(posting, s"$indexDir/postings",
      keyCols = Seq("doc_id"), partitionCols = Seq("gb"), keysOf = Some(keys))
  }

  /** Takedown reach: remove every gram row of the given documents. Only
    * buckets containing a victim rewrite; df needs no bookkeeping —
    * the serve path derives it from surviving postings, so after
    * deletion the index equals one built without the victims. */
  def deleteDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Long = {
    val n = graft.sources.Store.deleteKeys(
      spark, s"$indexDir/gramsets", "doc_id", docIds, Seq("dp"))
    graft.sources.Store.deleteKeys(
      spark, s"$indexDir/postings", "doc_id", docIds, Seq("gb"))
    n
  }

  /** Serve FROM the persisted index: the unchanged candidate+verify tail
    * over the stored tables — no tokenization anywhere on the path. */
  def ngramJaccardIndexed(spark: SparkSession, indexDir: String): DataFrame =
    Dedup.ngramJaccardOver(
      spark.read.parquet(s"$indexDir/gramsets").select("doc_id", "gs"),
      spark.read.parquet(s"$indexDir/postings").select("doc_id", "h"))

  /** `d_ngram_indexed`: serve from the build-once cached index — the
    * keyword-dedup twin of `s_bm25_topk_indexed`/`s_pq_topk_indexed`.
    * The index builds on first use through the hardened ANN cache
    * (corpus data fingerprint in the `_built` marker, cross-process
    * build locks, atomic-rename install, takedown-invalidation hook on
    * the documents table), then every call times pure serve latency.
    * Oracle: the UNMODIFIED inline SQL — serve ≡ inline is exact. */
  def ngramJaccardCached(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.similarity.Ann.ensureIndex(spark, dir, "ngram",
      table = "documents.parquet")(buildFrom(
        Tables.documents(spark, dir).select("doc_id", "text"), _))
    ngramJaccardIndexed(spark, idx)
  }

  /** `d_ngram_incremental`: build the index on 90% of the corpus, fold
    * the remaining tenth in via [[upsert]], then serve — gated by the
    * UNMODIFIED inline [[Dedup.ngramJaccardSql]], so the hash proves
    * incremental maintenance ≡ full rebuild ≡ inline end-to-end. (A 10%
    * batch is already far larger than a production ingest batch relative
    * to its corpus; NgramIndexSpec separately proves split-invariance
    * with a 1/3-2/3 split, so the bench split is a cost knob, not a
    * semantics one — any split hashes identically.) */
  def incrementalServe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // one wiped-per-call scratch entry per (source corpus, process): the
    // lifecycle is the thing being timed, and the footprint stays at one
    // copy per process (NgramIndexSpec asserts it). A caller drains the
    // returned (lazy) frame before the next same-process call wipes it
    // (bench/verify do).
    val idx = DerivedStore.withScratch(dir, "ngram-inc") { idx =>
      graft.ops.Legs.time("d_ngram_incremental", "build")(
        buildFrom(docs.filter(col("doc_id") % 10 =!= 0), idx))
      graft.ops.Legs.time("d_ngram_incremental", "upsert")(
        upsert(docs.filter(col("doc_id") % 10 === 0), idx))
      idx
    }
    ngramJaccardIndexed(spark, idx)
  }
}
