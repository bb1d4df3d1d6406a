package graft.dedup

import graft.Tables
import graft.sources.DerivedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection families for a training-data pipeline:
  * MinHash+LSH, SimHash, and LSH-candidate + exact-Jaccard verification.
  *
  * Design for 100 TB: everything is shingle-explode → hash → band-group —
  * no all-pairs stage ever materializes. The only shuffles are (a) the
  * per-doc signature aggregation and (b) the band-bucket self-join, whose
  * key (band index + signature slice) distributes uniformly by
  * construction. Candidate verification touches only bucket-collision
  * pairs, ~|pairs| << n².
  *
  * Determinism for the DuckDB oracle: shingle hashes come from md5 prefixes
  * (identical bytes in any engine), all arithmetic is 64-bit integer.
  */
object Dedup {

  /** Large prime modulus for the universal-hash family (2^31 - 1). */
  val P = 2147483647L
  /** Number of minhash functions and LSH banding shape (m = bands * r).
    * 3 bands × 4 rows: band-collision probability J⁴ per band — strict
    * enough that near-vocabulary documents (like this corpus) don't flood
    * the candidate set; at 5k docs this yields ~5k candidate pairs vs ~55k
    * with 4×3 banding, which directly bounds the verify-join cost. */
  val NumHashes = 12
  val Bands = 3
  val RowsPerBand = 4
  /** Character shingle width. */
  val K = 7

  /** Per-doc exploded (doc_id, shingle-hash) pairs, lowercased char
    * shingles of width K. The transform(sequence(...)) generator runs
    * inside codegen — no UDF, no driver loop (SURVEY §2.12: grid
    * expansion via built-in generators). Hashing is the codegen
    * graft_md5_prefix64 expression — identical value to
    * `conv(substring(md5(x),1,15),16,10)` (the oracle-side SQL) without
    * the per-shingle hex-string materialization and base-16 parse that
    * made this the round-1 bench hotspot. */
  def shingleHashes(docs: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(docs.sparkSession)
    shingleTable(docs,
      sh => graft.functions.HashExpressions.md5Prefix64(sh, 15) % P)
  }

  /** The canonical text every near-dup hash family hashes: Unicode NFC
    * first (T24's normalize-before-hash rule — decomposed "e + U+0301"
    * and composed "é" must produce the SAME shingles/grams/simhash
    * votes, or composition variants evade near-dup detection exactly as
    * they evaded byte-exact dedup), then lowercase. Until r11 only the
    * EXACT dedup path normalized; the hash families worked on raw
    * bytes. The codegen `graft_nfc` has an allocation-free ASCII fast
    * path, so on the common case this costs one byte scan riding the
    * scan projection. Oracle lockstep: every twin SQL applies DuckDB's
    * `nfc_normalize` at the same spot ([[canonTextSql]]). */
  private[graft] def canonText(docs: DataFrame): Column = {
    graft.functions.NormalizeExpressions.register(docs.sparkSession)
    lower(graft.functions.NormalizeExpressions.nfc(col("text")))
  }

  /** DuckDB twin of [[canonText]]. */
  private[dedup] val canonTextSql: String = "lower(nfc_normalize(text))"

  /** Production fast path: xxhash64 (Spark-native, codegen, ~an order of
    * magnitude cheaper than any md5 form) — NOT oracle-comparable (DuckDB
    * has no xxhash64), so it ships as a rows-only-checked query and the
    * documented 100 TB configuration; the md5 form exists for cross-engine
    * hash parity. pmod because xxhash64 is signed. */
  def shingleHashesFast(docs: DataFrame): DataFrame =
    shingleTable(docs, sh => pmod(xxhash64(sh), lit(P)))

  private def shingleTable(docs: DataFrame, hasher: Column => Column): DataFrame =
    docs
      // hoist the canonical text out of the transform lambda: inside it,
      // the expression re-evaluates per element → O(len²) per document
      .withColumn("lt", canonText(docs))
      .withColumn("shingle", explode(expr(
        s"transform(sequence(1, greatest(length(lt) - ${K - 1}, 1))," +
          s" i -> substring(lt, i, $K))")))
      .select(col("doc_id"), hasher(col("shingle")).as("h"))

  /** Per-doc sorted-distinct shingle-hash SET as one array<long> column —
    * the round-3 scale shape. A document's shingles all live inside its own
    * row, so shingle → hash → distinct is per-row-local work: one codegen
    * expression pass, zero shuffles. The exploded [[shingleHashes]] form
    * (which paid a full distinct + groupBy shuffle of every shingle row)
    * remains only for spec-level inspection. */
  def shingleSets(docs: DataFrame, algo: String = "md5"): DataFrame = {
    graft.functions.ShingleExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.functions.ShingleExpressions
        .shingleSet(canonText(docs), K, 15, P, algo).as("hs"))
  }

  /** Doc → NumHashes minhash signature values. All m mins come from one
    * in-row pass over the shingle set (graft_minhash_sig) — the signature
    * table is produced map-only, where the round-2 form shuffled every
    * (doc, shingle) row through a 12-min aggregation. Minhash over the
    * distinct set equals minhash over the multiset, so values are
    * unchanged. */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFromSets(shingleSets(docs))

  /** Same, over a pre-computed (doc_id, hs) shingle-set table. */
  def signaturesFromSets(ss: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(ss.sparkSession)
    ss.select(col("doc_id"),
        graft.functions.ShingleExpressions
          .minhashSig(col("hs"), NumHashes, P).as("sig"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(j => col("sig")(j).as(s"mh$j")): _*)
  }

  /** LSH candidate pairs: docs sharing at least one band of the signature.
    * Emits (doc_a < doc_b, n_shared_bands).
    *
    * The signature table is cached before the band self-join — without it
    * the join's two scans re-evaluate the whole shingle→md5→min-agg
    * subtree per side (at 100 TB this would be a checkpoint to parquet,
    * same idea). Bands explode in a single pass, not a 4-way union. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    bandCandidates(signatures(Tables.documents(spark, dir)))

  /** xxhash64 fast-path twin of [[minhashLsh]] (rows-only check). */
  def minhashLshFast(spark: SparkSession, dir: String): DataFrame =
    bandCandidates(signaturesFromSets(
      shingleSets(Tables.documents(spark, dir), algo = "xxh64")))

  /** One row per (doc, band) with the band's signature slice as columns
    * k0..k{r-1} — the LSH bucket key. Stateless column expressions, so it
    * works identically over a batch table or an append stream (the
    * streaming near-dup path joins these against a static corpus). */
  def bandRows(sigs: DataFrame): DataFrame = {
    val keyNames = (0 until RowsPerBand).map(r => s"k$r")
    val bandStructs = (0 until Bands).map { b =>
      val fields = lit(b).as("band") +:
        (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}").as(s"k$r"))
      struct(fields: _*)
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id") +: col("bs.band").as("band") +:
        keyNames.map(k => col(s"bs.$k").as(k)): _*)
  }

  /** Band-bucket self-join over a signature table → candidate pairs. */
  def bandCandidates(sigs: DataFrame): DataFrame = {
    val keyNames = (0 until RowsPerBand).map(r => s"k$r")
    val bandRows = this.bandRows(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = bandRows.select(col("doc_id").as("doc_a") +: col("band").as("band_l") +:
      keyNames.map(k => col(k).as(s"${k}_l")): _*)
    val r = bandRows.select(col("doc_id").as("doc_b") +: col("band").as("band_r") +:
      keyNames.map(k => col(k).as(s"${k}_r")): _*)
    val joinCond = ((col("band_l") === col("band_r")) +: keyNames.map(k =>
      col(s"${k}_l") === col(s"${k}_r"))).reduce(_ && _) && col("doc_a") < col("doc_b")
    l.join(r, joinCond)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[bandCandidates]] with a band-BUCKET size cap — the production
    * guard against the LSH hot-bucket pathology, which the ×N scale
    * rehearsal measured rather than hypothesized: on the ciphered ×3
    * corpus one band bucket drew ~475 docs and alone emitted ~113k
    * candidate pairs (C(475,2)) — 100× the corpus's true-dup count —
    * while the identity copy's draw emitted 1,131. Band-bucket sizes
    * are heavy-tailed (a frequent shingle winning the min of all
    * RowsPerBand rows captures every doc containing it), and bucket
    * join output is QUADRATIC in bucket size: at 100 TB a 1M-doc hot
    * bucket is 5·10¹¹ pairs — a job-killer, the same class of blowup
    * the n-gram path bounds with its df∈[2,20] postings cap.
    *
    * The cap drops buckets with more than `maxBucket` docs entirely.
    * Recall semantics, documented: a TRUE near-dup pair (J ≥ 0.8) has
    * per-band match probability j⁴ ≥ 0.41, so it lands in all [[Bands]]
    * bands independently and survives unless EVERY band it shares is
    * hot — with ~equal-frequency shingles inside a dup cluster, hot
    * buckets concentrate template boilerplate, not dup clusters, so
    * measured recall of verified dups vs the uncapped join is 1.0 on
    * both the base and ×N corpora (ScaleBench records it per run).
    * Oracle-gated md5 forms stay uncapped — the cap is a *production*
    * knob (like the xxhash64 twins), not a semantics change to the
    * verified-dup definition: the Jaccard verify behind it is
    * unchanged, only candidate GENERATION is bounded. */
  def bandCandidatesCapped(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val keyNames = (0 until RowsPerBand).map(r => s"k$r")
    val bandRows = this.bandRows(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bucket size via one aggregation on the same (band, key) grouping the
    // join shuffles on anyway; the filter runs BEFORE the self-join, so
    // the quadratic stage never sees a hot bucket
    val sized = bandRows
      .withColumn("bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band") +: keyNames.map(col): _*)))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
    val l = sized.select(col("doc_id").as("doc_a") +: col("band").as("band_l") +:
      keyNames.map(k => col(k).as(s"${k}_l")): _*)
    val r = sized.select(col("doc_id").as("doc_b") +: col("band").as("band_r") +:
      keyNames.map(k => col(k).as(s"${k}_r")): _*)
    val joinCond = ((col("band_l") === col("band_r")) +: keyNames.map(k =>
      col(s"${k}_l") === col(s"${k}_r"))).reduce(_ && _) && col("doc_a") < col("doc_b")
    l.join(r, joinCond)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** Production minhash-LSH: xxhash64 shingles + capped band buckets. */
  def minhashLshCapped(spark: SparkSession, dir: String,
                       maxBucket: Int = 1000): DataFrame =
    bandCandidatesCapped(signaturesFromSets(
      shingleSets(Tables.documents(spark, dir), algo = "xxh64")), maxBucket)

  /** Verified near-dup pairs over the capped production candidates. */
  def lshJaccardCapped(spark: SparkSession, dir: String,
                      maxBucket: Int = 1000): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    val sh = shingleSets(Tables.documents(spark, dir), algo = "xxh64")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = bandCandidatesCapped(signaturesFromSets(sh), maxBucket)
      .select("doc_a", "doc_b")
    val attached = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
    scoreAttachedPairs(attached)
  }

  /** Shared SQL fragment: per-doc shingle hashes (mirrors shingleHashes). */
  private[dedup] def shingleSql: String =
    s"""SELECT doc_id,
       |  (CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $P) AS h
       |FROM (
       |  SELECT doc_id, substring($canonTextSql, i, $K) AS shingle
       |  FROM documents,
       |       UNNEST(range(1, greatest(len($canonTextSql) - ${K - 1}, 1) + 1)) AS t(i))""".stripMargin

  private[dedup] def sigSql: String = {
    val aggs = (0 until NumHashes).map { j =>
      val a = 2L * j + 1; val b = 101L * j + 7
      s"min((h * $a + $b) % $P) AS mh$j"
    }.mkString(",\n  ")
    s"SELECT doc_id,\n  $aggs\nFROM shingles GROUP BY doc_id"
  }

  private[dedup] def bandSql: String =
    (0 until Bands).map { b =>
      val ks = (0 until RowsPerBand).zipWithIndex
        .map { case (r, i) => s"mh${b * RowsPerBand + r} AS k$i" }.mkString(", ")
      s"SELECT doc_id, $b AS band, $ks FROM sigs"
    }.mkString("\nUNION ALL\n")

  private[dedup] def bandJoinSql: String =
    ("l.band = r.band" +: (0 until RowsPerBand).map(i => s"l.k$i = r.k$i"))
      .mkString(" AND ")

  val minhashLshSql: String =
    s"""WITH shingles AS ($shingleSql),
       |sigs AS ($sigSql),
       |bands AS ($bandSql)
       |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |  count(*) AS n_shared_bands
       |FROM bands l JOIN bands r
       |  ON $bandJoinSql
       | AND l.doc_id < r.doc_id
       |GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** LSH candidates verified with exact shingle-set Jaccard.
    * jaccard_bp = floor(10000 * |A∩B| / |A∪B|); is_dup at 80%.
    *
    * Round-3 shape: ONE per-doc shingle-set pass feeds both the signatures
    * (graft_minhash_sig over the array) and the verification
    * (graft_sorted_intersect on the candidate pair's two arrays). The only
    * shuffles left are doc-level: the band self-join over signatures and
    * the two joins attaching each pair's arrays — the round-2 form instead
    * shuffled every (doc, shingle) row through a distinct AND a 12-min
    * aggregation AND a two-key verify join. The counted intersection is the
    * same distinct-set intersection the oracle SQL computes.
    *
    * 100 TB note: rows carry one array per doc (8 bytes/distinct shingle —
    * ~8 KB for a 1k-shingle web page). Pathologically large documents
    * (books: millions of shingles) should be length-capped upstream, the
    * standard corpus-dedup practice. */
  /** The DEFAULT `d_lsh_jaccard` entry — r11: SERVES THROUGH THE
    * BUCKETED LAYOUT (the same move the gram family made, and the same
    * reason: the inline attach at ×50 survives only on a
    * stats-underestimated BROADCAST of the corpus-sized shingle-array
    * table — complex-type size estimates lowball arrays, an executor
    * OOM at real scale). Downstream consumers (dup clustering,
    * canonicalization, the leakage gate, the curation pipeline) inherit
    * the serve layout and share the one-time build via `reuse = true`.
    * [[lshJaccardInline]] keeps the layout-free form oracle-green. */
  def lshJaccard(spark: SparkSession, dir: String): DataFrame =
    serveBucketedOrInline(spark, "d_lsh_jaccard")(
      lshJaccardBucketedAttach(spark, dir, reuse = true))(
      lshJaccardInline(spark, dir))

  /** Routing for the three DEFAULT near-dup entries (r11 ADVICE): the
    * bucketed serve needs a writable layout root
    * (`DerivedStore.cacheRoot`, i.e. `GRAFT_ANN_CACHE_DIR`/tmpdir — NOT
    * the warehouse, which r12's external layout removed from the
    * picture). On a read-only host the
    * default entry must still answer, so an unusable root routes to the
    * bit-identical inline twin with a loud log line instead of failing
    * on the layout write. `usable` is injectable so the routing is
    * spec-testable without mutating the JVM-global cache-root property
    * under parallel suites. */
  private[graft] def serveBucketedOrInline(spark: SparkSession, what: String,
                                           usable: => Boolean = layoutRootUsable())
                                          (bucketed: => DataFrame)
                                          (inline: => DataFrame): DataFrame =
    if (usable) bucketed
    else {
      val root = scala.util.Try(DerivedStore.cacheRoot)
        .fold(_.getMessage, identity)
      System.err.println(s"[graft] $what: layout root not writable " +
        s"($root) — serving the inline plan " +
        "(bit-identical; no shared bucketed layout on this host)")
      inline
    }

  /** Can the shared layout root be created and written? One mkdirs +
    * one probe-file per call — cheap against a corpus-scale query.
    * `root` is by-name so a cache root that `DerivedStore.cacheRoot`
    * refuses (a default owned by another user) counts as unusable too. */
  private[graft] def layoutRootUsable(
      root: => java.io.File = new java.io.File(DerivedStore.entriesRoot)): Boolean =
    try {
      val dir = root
      dir.mkdirs()
      val probe = java.io.File.createTempFile(".probe", null, dir)
      probe.delete()
      true
    } catch { case _: Exception => false }

  /** The layout-free inline attach (`d_lsh_inline`) — the pre-r11
    * default; the PlanSpec control, and the AUTOMATIC fallback target
    * when the shared layout root is unwritable ([[serveBucketedOrInline]]
    * — r12: the fallback actually routes, it is no longer a docstring
    * promise). */
  def lshJaccardInline(spark: SparkSession, dir: String): DataFrame =
    lshJaccardOver(shingleSets(Tables.documents(spark, dir)))

  /** xxhash64 fast-path twin (rows-only check). Deliberately the
    * INLINE one-shot shape: this is what the scale rehearsal measures
    * as the single-pass production form (its bucketed serve twin is
    * `d_lsh_bucketed`, which shares the same verify arithmetic). */
  def lshJaccardFast(spark: SparkSession, dir: String): DataFrame =
    lshJaccardOver(shingleSets(Tables.documents(spark, dir), algo = "xxh64"))

  private def lshJaccardOver(sets: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(sets.sparkSession)
    // the set table is read twice (signatures, pair-attach joins): persist
    // so the shingle hashing runs once (at 100 TB: checkpoint to parquet)
    val sh = sets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = bandCandidates(signaturesFromSets(sh)).select("doc_a", "doc_b")
    val attached = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
    scoreAttachedPairs(attached)
  }

  /** Isolate the deterministic-output sort from the heavy scoring
    * segment below it (r12). A global `orderBy` is an Exchange with
    * RANGE partitioning, and range partitioning SAMPLES its child by
    * running a real job over the child RDD — so everything between the
    * previous shuffle boundary and the sort executes TWICE: once for
    * the sampler, once for the sort's map tasks. For the pair scorers
    * that segment is the expensive part of the whole query (the set
    * scan + attach SMJ + per-pair sorted-intersect); the r11 rehearsal
    * shows the signature directly — `d_ngram_bucketed` at ×50 READS
    * 40.5 GB of shuffle while WRITING 20.5 GB (SCALE_r11), the attach
    * exchange consumed twice. One narrow hash exchange of the SCORED
    * rows (16–40 B each, no arrays) right below the sort turns the
    * scoring segment into a materialized stage: the sampler and the
    * sort both re-read shuffle files instead of re-executing the
    * segment. The barrier costs one narrow pass; it saves an
    * array-wide one plus the recompute — strictly cheaper from toy
    * scale up. (The sort itself is the correctness gate's determinism
    * contract; a production pipeline consuming pairs as a SET would
    * drop both the sort and this barrier.) */
  private def sortIsolated(scored: DataFrame): DataFrame =
    scored.repartition(col("doc_a")).orderBy("doc_a", "doc_b")

  /** Shared verify tail: exact Jaccard from the attached sorted-set
    * arrays, identical arithmetic for the persisted and bucketed paths. */
  private def scoreAttachedPairs(attached: DataFrame): DataFrame =
    sortIsolated(attached
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ShingleExpressions
          .sortedIntersect(col("hs_a"), col("hs_b")).as("n_inter"),
        size(col("hs_a")).cast("long").as("n_a"),
        size(col("hs_b")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(col("n_inter") * 10000 / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long").as("jaccard_bp"))
      .withColumn("is_dup", (col("jaccard_bp") >= 8000).cast("int")))

  /** [[lshJaccard]] with its pair-attach joins running over BUCKETED
    * storage (`d_lsh_bucketed`) — the layout a production dedup pipeline
    * keeps between stages. The shingle-set table is written hash-bucketed
    * by doc_id and the band candidates bucketed by doc_a with the same
    * bucket count, so the doc_a attach is a sort-merge join with ZERO
    * exchanges (both scans are already co-partitioned and sorted; Spark
    * propagates the scan's bucket partitioning through the rename
    * projections). The doc_b attach then needs exactly ONE shuffle — the
    * pair intermediate redistributing by doc_b onto the bucketed set
    * table's layout. Against the unbucketed path's three-plus exchanges,
    * that is the point of bucketing at 100 TB: the set TABLE never
    * re-exchanges — though the attached arrays still ride the pair
    * intermediate through that one doc_b exchange, the irreducible
    * array pass. Results are
    * bit-identical to [[lshJaccard]] — same oracle SQL gates both.
    * PlanSpec pins the exchange counts. */
  def lshJaccardBucketedAttach(spark: SparkSession, dir: String,
                               nBuckets: Int = -1,
                               reuse: Boolean = false): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    val (setsT, candsT) = bucketedPair(spark, dir, "d3", nBuckets, reuse,
      shingleSets(Tables.documents(spark, dir)),
      s => bandCandidates(signaturesFromSets(s)).select("doc_a", "doc_b"))
    val attached = candsT
      .join(setsT.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(setsT.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
    scoreAttachedPairs(attached)
  }

  /** The bucketed-attach twins' shared table device — r12: the layout is
    * CROSS-PROCESS PERSISTENT. The (sets, cands) pair lives as external
    * bucketed parquet under the hardened ANN cache root
    * (`DerivedStore.cachedIndexDir(dir, "bkt-<kind>")`), installed by
    * `DerivedStore.ensureFresh` like the persisted ANN indexes —
    * cross-process build locks, a freshness marker carrying every
    * parameter the layout depends on (INCLUDING the resolved bucket
    * count) plus the corpus data fingerprint, temp-dir build with
    * marker-last, atomic-rename install. One process pays the
    * corpus-sized bucketed write; every other process (and every later
    * driver) re-registers a catalog entry over the same files — a
    * pure-DDL step, no data movement — which at 100 TB removes what r11
    * left as the dominant first-query cost of every new driver.
    *
    * Catalog state stays PER-JVM (Spark's default in-memory catalog):
    * each session registers `CREATE TABLE … CLUSTERED BY … LOCATION`
    * over the installed files under a stable per-(kind, corpus) name.
    * The shared WAREHOUSE is out of the picture entirely, which is what
    * dissolves the r10 cross-JVM drop-and-recreate race the pid-suffixed
    * names worked around — there is nothing left to race on: installs
    * are atomic renames under the file lock, and DDL is per-process.
    * A `_gen` id written at build time detects another process's
    * re-install at the same path (same fingerprint, new files) and
    * refreshes this session's registration — DROP+CREATE also drops the
    * session's cached file listing for the old generation.
    *
    * `reuse = true` is the build-once/query-many split (the ANN
    * `*_indexed` precedent) — and now amortizes across PROCESSES, not
    * just passes in one JVM. `reuse = false` (Verify's explicit
    * `*_bucketed` cells) keeps the always-rebuild contract via a forced
    * build, so correctness runs still exercise the build path.
    *
    * The tables are DERIVED copies of the documents corpus and retain
    * any later-taken-down doc's rows; every call registers BOTH a
    * file-deletion hook (ensureFresh's) and a catalog-drop hook for the
    * base table, so a `Store.deleteKeys` takedown reaches the shared
    * files and this JVM's serve entries. An UNREGISTERED process (one
    * that never called bucketedPair this lifetime) rebuilds rather than
    * serves post-takedown — the corpus fingerprint in the marker changed
    * — the same guarantee (and the same mid-query caveat) the ANN index
    * cache documents. */
  /** The (sets, cands) serve-table names [[bucketedPair]] registers for
    * a given corpus dir — package-visible so specs assert on the REAL
    * names instead of duplicating the construction. Stable across
    * processes (no pid suffix — the names are per-JVM catalog entries
    * over shared external files, not warehouse directories). */
  private[graft] def bucketedTableNames(dir: String, kind: String)
      : (String, String) = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    (s"graft_${kind}_sets_$h", s"graft_${kind}_cands_$h")
  }

  /** Target on-disk bytes of SOURCE TEXT per bucket of the derived
    * gram/shingle-set layout (the set arrays are ~the text's size: 8 B
    * per distinct shingle/gram). 64 MB keeps bucket files in parquet's
    * comfortable range while the bucket COUNT grows linearly with the
    * corpus — the D7e lesson (any fixed count caps write and SMJ
    * parallelism at toy scale). */
  val BucketTargetBytes: Long = 64L * 1024 * 1024
  /** Upper clamp on the derived count: past ~200k buckets the metastore
    * listing and per-bucket file count dominate; at that count a 100 TB
    * corpus still lands ~500 MB per bucket. */
  val MaxDerivedBuckets = 200000

  /** PROCESS-INVARIANT floor on the derived bucket count (r13 ADVICE).
    * The floor used to track `defaultParallelism`, but the resolved
    * count is folded into the shared layout's `_built` fingerprint —
    * two processes with different core counts sharing one
    * GRAFT_ANN_CACHE_DIR derived DIFFERENT counts for small corpora and
    * force-rebuilt the shared layout back and forth on every alternation
    * (the generation ping-pong the ScaleBench comment warns about,
    * reintroduced cross-process). Everything in the fingerprint must be
    * a function of (corpus, family constants) ONLY, never of the
    * resolving process. 32 = the production-posture core count the
    * measured regimes were calibrated on; small corpora keep 32-way
    * write/SMJ parallelism on any host, and for large corpora the
    * byte-derived count dominates the floor anyway. */
  val LayoutFloorBuckets = 32

  /** Corpus-derived bucket count: ceil(bytes / [[BucketTargetBytes]]),
    * floored at [[LayoutFloorBuckets]] (process-invariant — see there),
    * clamped at [[MaxDerivedBuckets]]. Pure derivation split out for
    * the spec. */
  private[graft] def bucketsForBytes(bytes: Long): Int = {
    val byData = (bytes + BucketTargetBytes - 1) / BucketTargetBytes
    math.min(MaxDerivedBuckets.toLong,
      math.max(LayoutFloorBuckets.toLong, byData)).toInt
  }

  /** [[bucketsForBytes]] over the documents table's actual file listing
    * (a pure LISTING pass — the DerivedStore.dataFingerprint device, no
    * data read). This is the DEFAULT for every bucketed-attach entry point:
    * the API previously shipped a fixed `nBuckets = 8`, which SURVEY
    * D4d-b itself calls "the D7e fixed-bucket mistake in layout form" —
    * production callers got the toy default unless they remembered to
    * scale it. */
  private[graft] def bucketsForCorpus(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(root).getLength
    bucketsForBytes(bytes)
  }

  /** How many layout builds were seeded from the sibling layout's
    * materialized sets ([[siblingSetsSource]]) — spec observability,
    * per entry (suites share one JVM; a global counter is flaky under
    * parallel suites — the r11 lesson behind [[bucketedBuildsFor]]). */
  private val siblingSeededByEntry =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def siblingSeededFor(dir: String, kind: String): Long =
    siblingSeededByEntry.getOrElse(layoutEntry(dir, kind).getName, 0L)
  /** Build counter for the bucketed-pair layouts (spec observability:
    * the fingerprint freshness rule must REBUILD on corpus change and
    * SKIP on a clean reuse hit). Specs assert on [[bucketedBuildsFor]] —
    * the per-entry counts — because suites share one JVM and run in
    * parallel, so a concurrent build from ANOTHER suite landing between
    * two global-counter reads made the r11 assertions flaky. */
  private val bucketedBuildsByEntry =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def bucketedBuildsFor(dir: String, kind: String): Long =
    bucketedBuildsByEntry.getOrElse(layoutEntry(dir, kind).getName, 0L)

  /** Governance-sweep gate (r13 VERDICT item 6): the orphaned-entry
    * sweep used to run on EVERY [[bucketedPair]] call. It is
    * listdir-cheap at today's cache sizes, but it is O(cache entries)
    * per query — at a shared cache root with thousands of entries that's
    * real per-query money at 100 TB, for hygiene that only needs to
    * happen occasionally. Gate: the FIRST call in a process always
    * sweeps (fresh processes still reap takedown orphans immediately),
    * later calls sweep at most once per [[SweepIntervalNanos]]. Takedown
    * CORRECTNESS never rode the sweep — deleteKeys reaches layouts
    * through the registered derived-store hooks synchronously; the sweep
    * is a backstop for processes that died without running their hooks. */
  private[graft] val SweepIntervalNanos: Long = 60L * 1000L * 1000L * 1000L
  private val lastSweepAt = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Spec observability: how many times the gated sweep actually ran. */
  private[graft] val sweepRuns = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Spec hook: model a fresh process (next serve call sweeps). */
  private[graft] def resetSweepGate(): Unit = lastSweepAt.set(0L)
  private def sweepIfDue(): Unit = {
    val now = System.nanoTime()
    val prev = lastSweepAt.get()
    if ((prev == 0L || now - prev >= SweepIntervalNanos) &&
        lastSweepAt.compareAndSet(prev, now)) {
      sweepRuns.incrementAndGet()
      // governance sweep: cache entries whose corpus was DELETED outright
      // (retired dataset, cleaned temp dir) are otherwise immortal — no
      // later probe ever fingerprints them. A HYGIENE BACKSTOP that never
      // carries correctness, so a failure must not fail the serve call it
      // happened to ride on
      try {
        DerivedStore.sweepOrphanedEntries()
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[dedup] orphaned-entry sweep failed (non-fatal): ${e.getMessage}")
      }
    }
  }

  /** The cross-process cache entry holding a (kind, corpus) layout. */
  private[graft] def layoutEntry(dir: String, kind: String): java.io.File =
    new java.io.File(DerivedStore.cachedIndexDir(dir, s"bkt-$kind"))

  /** Everything the layout CONTENT depends on, folded into the `_built`
    * marker: a format generation (bump on any persisted-shape change),
    * the resolved bucket count (the r11 ADVICE gap — an explicit
    * nBuckets differing from the derived one must rebuild, or a layout
    * measurement cell silently measures the wrong layout), every
    * family constant that shapes sets or candidates, and the corpus
    * data fingerprint. */
  private def layoutWant(spark: SparkSession, dir: String, nb: Int): String =
    s"bkt-v1-nb$nb-k$K-h$NumHashes-b$Bands-r$RowsPerBand-p$P" +
      s"-n$NgramN-df$NgramMaxDf-ct$ContainTokens-canonv3\n" +
      DerivedStore.dataFingerprint(spark, dir, "documents.parquet")

  /** Per-JVM serve-registration state: serve table name → the installed
    * generation id its catalog entry points at. A mismatch (another
    * process re-installed the entry at the same path) or a missing
    * table (fresh session) re-registers — DROP + CREATE, which also
    * drops this session's cached file listing of the old generation. */
  private val serveRegistrations =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Spec hook: wipe the per-JVM registration memory so a test can model
    * a FRESH PROCESS (no catalog entries, no registration state, shared
    * cache files intact, and no entry counted as installed by this JVM).
    * Safe under parallel suites — a wiped entry is simply re-registered
    * (idempotent DDL) on its owner's next serve. */
  private[graft] def forgetServeRegistrations(): Unit = {
    serveRegistrations.clear()
    DerivedStore.forgetInstalls()
  }

  /** Spec seam for the serve-path race (r13 VERDICT item 5): invoked in
    * [[bucketedPair]]'s retry loop exactly in the window the retry
    * protects — after `ensureFresh` verified the entry and before the
    * locked `_gen`/`_meta` read. In-JVM callers serialize on this
    * object's monitor, so the race the retry exists for (a concurrent
    * forced rebuild in ANOTHER PROCESS deleting the entry mid-serve)
    * cannot be driven through the public API from a spec;
    * DedupServePathSpec injects the other process's delete here
    * instead. Production value: no-op. */
  private[graft] var serveRaceHook: () => Unit = () => ()

  private def readEntryFile(entry: java.io.File, name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(entry, name).toPath), "UTF-8")

  /** r18 (guide §6 — reuse materialized derived data): the d4b
    * (documents) and d4d (documents ∪ planted excerpt twins) gram layouts
    * hold IDENTICAL per-doc gram sets for every real document (gramSets
    * is row-local), so a FRESH sibling layout's installed sets files can
    * seed this build and skip the corpus-wide tokenize+md5 pass — the
    * dominant CPU of the two largest bench legs (layout_d4d/d4b build).
    * Freshness = the sibling's `_built` marker equals OUR want string
    * (layoutWant is kind-independent: same family constants, same
    * resolved bucket count, same corpus fingerprint), and THIS JVM
    * installed it: a sibling another process left in the shared cache
    * root does not seed a build here (run-scoped reuse). The read is
    * deliberately LOCKLESS: taking the sibling's build lock inside our
    * own build would order the two entries' locks both ways across kinds
    * — a cross-process deadlock — so a concurrent takedown/rebuild of
    * the sibling mid-read surfaces as a failed write job and
    * [[bucketedPair]] falls back to the from-scratch compute. */
  private def siblingSetsSource(spark: SparkSession, dir: String,
                                sibling: String, want: String)
      : Option[() => DataFrame] = {
    val entry = layoutEntry(dir, sibling)
    if (DerivedStore.isFresh(entry, want) && DerivedStore.installedHere(entry, want))
      Some(() => spark.read.parquet(s"${entry.getPath}/sets")
        .select(col("doc_id"), col("gs")))
    else None
  }

  /** The planted excerpt twins of [[containCorpus]] on their own — the
    * 5-row remainder a d4d build needs when its real-document sets come
    * from the sibling d4b layout. */
  private def excerptTwins(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + ContainIdBase).as("doc_id"),
        concat_ws(" ", slice(split(trim(canonText(docs)), "\\s+"),
          1, ContainTokens)).as("text"))
  }

  /** Sibling-seeded sets source for a gram-layout build at resolved
    * bucket count `nb` — see [[siblingSetsSource]]. d4b filters the
    * excerpt twins out of d4d's sets; d4d unions them onto d4b's. */
  private def gramAltSets(spark: SparkSession, dir: String, kind: String)
                         (nb: Int): Option[() => DataFrame] = {
    val want = layoutWant(spark, dir, nb)
    kind match {
      case "d4b" => siblingSetsSource(spark, dir, "d4d", want)
        .map(src => () => src().filter(col("doc_id") < ContainIdBase))
      case "d4d" => siblingSetsSource(spark, dir, "d4b", want)
        .map(src => () => src()
          .unionByName(gramSets(excerptTwins(spark, dir))))
      case _ => None
    }
  }

  private def bucketedPair(spark: SparkSession, dir: String, kind: String,
                           nBuckets: Int, reuse: Boolean,
                           sets: => DataFrame,
                           candsOf: DataFrame => DataFrame,
                           altSetsFor: Int => Option[() => DataFrame] = _ => None)
      : (DataFrame, DataFrame) = synchronized {
    // the whole check-and-build-and-register is serialized JVM-wide:
    // Verify's query pool can hit one (kind, corpus) pair from two
    // threads, and catalog DDL on one name is not self-concurrent.
    // Builds are the rare path; serve hits pay two small file reads.
    //
    // Serve-path attribution (r13 VERDICT item 3): everything this call
    // spends OUTSIDE the layout build — gated sweeps, bucket-count
    // listing, takedown-hook registration, the freshness check + file
    // lock, `_gen`/`_meta` reads, catalog DDL, retries — lands in a
    // `layout_<kind>.serve_overhead` leg. This segment runs on every
    // bucketed query at any scale; it is measured, not inferred.
    val callT0 = System.nanoTime()
    var buildSec = 0.0
    sweepIfDue()
    val nb = if (nBuckets > 0) nBuckets else bucketsForCorpus(spark, dir)
    val entry = layoutEntry(dir, kind)
    val (setsName, candsName) = bucketedTableNames(dir, kind)
    val base = s"$dir/documents.parquet"
    // catalog takedown hook, registered on EVERY call (not just builds):
    // a deleteKeys on the corpus must reach this JVM's catalog entries,
    // even in a process that only ever served (ensureFresh registers the
    // shared files' hook the same way)
    graft.sources.Store.registerDerived(base, s"cat-$setsName") { () =>
      spark.sql(s"DROP TABLE IF EXISTS $setsName")
      spark.sql(s"DROP TABLE IF EXISTS $candsName")
      serveRegistrations.remove(setsName); ()
    }
    // serve loop (r13 ADVICE): `_gen`/`_meta` are read UNDER the entry's
    // build lock — after ensureFresh returns, a concurrent forced rebuild
    // (reuse=false in another process) or the orphan sweep can delete and
    // re-install the entry, and an unlocked read in that window threw
    // NoSuchFileException on the serve path. Under the lock the two files
    // are one installed generation; if the entry vanished since our
    // freshness check, loop back through ensureFresh instead of failing —
    // bounded retries, since deletion needs an explicit force or a
    // corpus takedown, neither of which self-repeats.
    var forceOnce = !reuse
    var attempt = 0
    var out: (DataFrame, DataFrame) = null
    while (out == null) {
      attempt += 1
      DerivedStore.ensureFresh(entry, layoutWant(spark, dir, nb),
        registerBase = Some(base), force = forceOnce) { tmp =>
       val buildT0 = System.nanoTime()
       graft.ops.Legs.time(s"layout_$kind", "build") {
        // preferred source first (a fresh sibling layout's materialized
        // sets — see [[siblingSetsSource]]), from-scratch compute as the
        // fallback on ANY failure of the seeded write
        val setsDdl = altSetsFor(nb) match {
          case Some(src) =>
            try {
              val ddl = graft.sources.Store.writeBucketedExternal(
                src(), "doc_id", nb, s"$tmp/sets")
              siblingSeededByEntry.updateWith(entry.getName)(
                c => Some(c.getOrElse(0L) + 1L))
              ddl
            } catch { case e: Exception =>
              System.err.println(s"[dedup] layout_$kind: sibling-seeded " +
                s"sets build failed (${e.getMessage}); recomputing from corpus")
              DerivedStore.deleteLocal(new java.io.File(s"$tmp/sets"))
              graft.sources.Store.writeBucketedExternal(
                sets, "doc_id", nb, s"$tmp/sets")
            }
          case None => graft.sources.Store.writeBucketedExternal(
            sets, "doc_id", nb, s"$tmp/sets")
        }
        // candidates are generated from the MATERIALIZED sets (one scan of
        // the written files — the gram/shingle hashing never runs twice)
        val candsDdl = graft.sources.Store.writeBucketedExternal(
          candsOf(spark.read.parquet(s"$tmp/sets")), "doc_a", nb, s"$tmp/cands")
        java.nio.file.Files.write(new java.io.File(tmp, "_meta").toPath,
          s"$nb\n$setsDdl\n$candsDdl".getBytes("UTF-8"))
        java.nio.file.Files.write(new java.io.File(tmp, "_gen").toPath,
          java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
        bucketedBuildsByEntry.updateWith(entry.getName)(c => Some(c.getOrElse(0L) + 1L))
        ()
       }
       buildSec += (System.nanoTime() - buildT0) / 1e9
      }
      forceOnce = false // a retry must not force-rebuild again
      serveRaceHook()
      try {
        out = DerivedStore.withBuildLock(entry) {
          val gen = readEntryFile(entry, "_gen")
          val fresh = serveRegistrations.get(setsName).contains(gen) &&
            spark.catalog.tableExists(setsName) && spark.catalog.tableExists(candsName)
          if (!fresh) {
            val meta = readEntryFile(entry, "_meta").split("\n", 3)
            val (metaNb, setsDdl, candsDdl) = (meta(0).toInt, meta(1), meta(2))
            graft.sources.Store.registerBucketedExternal(
              spark, setsName, setsDdl, "doc_id", metaNb, s"${entry.getPath}/sets")
            graft.sources.Store.registerBucketedExternal(
              spark, candsName, candsDdl, "doc_a", metaNb, s"${entry.getPath}/cands")
            serveRegistrations.put(setsName, gen)
          }
          (spark.table(setsName), spark.table(candsName))
        }
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          if (attempt >= 5) throw e
          // bounded backoff (r13 VERDICT item 5): an immediate re-loop
          // could exhaust all 5 attempts in milliseconds against a
          // pathological concurrent force-rebuild loop — each deletion
          // window is the victim's delete→rename span, so a short
          // growing sleep makes landing inside 5 consecutive windows
          // vanishingly unlikely while adding at most 150 ms worst-case
          // to a path that normally never retries (DedupServePathSpec
          // drives the race). DOCUMENTED TRADEOFF (r14 ADVICE): the
          // sleep runs inside this object's monitor, so other threads'
          // serves stall behind it for up to ~150 ms while ONE caller
          // races a foreign rebuild. Accepted as bounded: releasing the
          // monitor mid-call would let a second in-JVM caller interleave
          // with the retry's ensureFresh and re-open the serialization
          // the monitor exists for, to shave a worst case that needs a
          // concurrent cross-process force-rebuild to occur at all.
          Thread.sleep(10L * attempt)
      }
    }
    graft.ops.Legs.add(s"layout_$kind", "serve_overhead",
      (System.nanoTime() - callT0) / 1e9 - buildSec)
    out
  }

  val lshJaccardSql: String =
    s"""WITH shingles AS ($shingleSql),
       |sigs AS ($sigSql),
       |bands AS ($bandSql),
       |cands AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON $bandJoinSql
       |   AND l.doc_id < r.doc_id),
       |sh AS (SELECT DISTINCT doc_id, h FROM shingles),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cands c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(floor(n_inter * 10000 / (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_bp,
       |  CAST(CAST(floor(n_inter * 10000 / (sa.n + sb.n - n_inter)) AS BIGINT) >= 8000 AS INT) AS is_dup
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Word n-gram width and posting-list cap for [[ngramJaccard]]. */
  val NgramN = 3
  /** Grams appearing in more than this many documents are "stop grams" —
    * dropped from candidate generation (they pair everything with
    * everything); grams in only one document can't generate a pair. */
  val NgramMaxDf = 20

  /** Excerpt length (tokens) and id offset for [[containment]]'s
    * planted contained docs. The offset is a HIGH BIT (2⁶²), not a round
    * number: a 10⁶-style base collides with real doc_ids once the corpus
    * reaches a million documents (the ×50 rehearsal gets close), silently
    * conflating planted twins with real docs while the oracle stays green
    * (both engines plant identically). No realistic corpus reaches 2⁶²
    * ids, and doc_id + 2⁶² cannot overflow an int64 for any such id. */
  val ContainTokens = 25
  val ContainIdBase = 1L << 62
  /** Containment alarm bar (basis points of the SMALLER gram set). */
  val ContainBp = 9000L

  /** CONTAINMENT near-dup (`d_containment`): score candidate pairs by
    * `|A∩B| / min(|A|,|B|)` instead of Jaccard — the asymmetric-overlap
    * detector. A short document quoted inside a long one has containment
    * ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0, so symmetric dedup never fires;
    * this is the rule that catches quotes, excerpts, and boilerplate
    * wrappers. Candidates come from the same rare-gram inverted index as
    * [[ngramJaccard]] (exact recall for pairs sharing a rare gram, pair
    * count bounded by the df cap), the verify is the same in-row
    * sorted-intersect — only the normalizer changes.
    *
    * The synthetic corpus has no natural excerpt pairs, so the query
    * PLANTS them deterministically on BOTH engines (the SemDeDup
    * device): each doc_id < 5 gains a twin at id+[[ContainIdBase]]
    * holding its first [[ContainTokens]] tokens. The oracle hash then
    * pins that every planted excerpt is caught at ≥ [[ContainBp]] while
    * its Jaccard stays low — and that nothing else fires. */
  /** Per-doc sorted-distinct word-n-gram hash SET — one in-row codegen
    * pass (tokenize → slice → hash → distinct-sort), shared by the
    * inline [[ngramJaccard]]/[[containment]] paths and the persisted
    * rare-gram index ([[NgramIndex]]) so serve and build cannot drift.
    *
    * Gram identity is the FULL 60-bit md5 prefix — deliberately NOT
    * reduced `% P` like the minhash universal-hash family (which needs
    * mod-P arithmetic for its a·x+b permutations). Rarity (df ∈ [2, 20])
    * is only meaningful if distinct grams stay distinct: a fixed 31-bit
    * bucket space holds ~500 unrelated grams per bucket at web scale
    * (~10¹² grams), inflating every df past the rare band AND
    * manufacturing C(G,2)/2³¹ spurious candidate pairs — the measured
    * r9 signature was d_containment's shuffle write bending 11.5× → 583×
    * between ×10 and ×50. At 60 bits the expected collision count across
    * 10¹² grams is ~400 total — df stays exact and the pair count is
    * governed by the df cap alone. [[NgramIndex]]'s `gb=` partitioning
    * is unaffected: it buckets by `pmod(h, GramBuckets)`, which is
    * width-agnostic. */
  private[graft] def gramSets(docs: DataFrame): DataFrame =
    gramSetsWith(docs, "md5")

  /** Production fast twin of [[gramSets]]: xxhash64 gram identity — the
    * full signed 64-bit space, no md5 anywhere on the path (the same
    * order-of-magnitude saving [[shingleHashesFast]] documents for the
    * char-shingle family, which until r10 the gram family lacked). NOT
    * oracle-comparable (DuckDB has no xxhash64), so its queries ship
    * rows-only; DedupSpec proves the stronger fact that at spec scale —
    * where both spaces are collision-free — the fast pipeline's OUTPUT
    * rows are bit-identical to the md5 path's (pairs, n_inter, scores:
    * all are functions of gram IDENTITY, not hash values). */
  private[graft] def gramSetsFast(docs: DataFrame): DataFrame =
    gramSetsWith(docs, "xxh64")

  /** r18 (optimization): the gram loop is the codegen kernel
    * `graft_gram_set` (ShingleExpressions.GramHashSet) — the previous
    * `array_sort(array_distinct(transform(sequence(...), i -> hash(
    * concat_ws(' ', slice(toks, i, n))))))` composition evaluated its
    * lambda INTERPRETED per gram with a fresh slice array + joined string
    * each time (the r17 HOF trap, guide §1.2 step 2). Bit-identical output
    * — GramSetKernelSpec pins kernel ≡ HOF on the corpus plus edge shapes,
    * and the unchanged oracle SQL gates every query built on it. */
  private def gramSetsWith(docs: DataFrame, algo: String): DataFrame = {
    graft.functions.ShingleExpressions.register(docs.sparkSession)
    graft.functions.HashExpressions.register(docs.sparkSession)
    docs
      .withColumn("toks", split(trim(canonText(docs)), "\\s+"))
      .select(col("doc_id"), graft.functions.ShingleExpressions
        .gramSet(col("toks"), NgramN, 15, algo).as("gs"))
  }

  /** The containment corpus: documents plus the deterministically planted
    * excerpt twins (shared by the inline and bucketed-attach paths). */
  private def containCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val excerpts = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + ContainIdBase).as("doc_id"),
        concat_ws(" ", slice(split(trim(canonText(docs)), "\\s+"),
          1, ContainTokens)).as("text"))
    docs.unionByName(excerpts)
  }

  /** Containment scorer over a gs_a/gs_b-attached pair frame — the
    * asymmetric-overlap twin of [[scoreGramAttachedPairs]]; one
    * definition shared by the inline and bucketed-attach paths so they
    * hash against one oracle. */
  private def scoreContainAttachedPairs(attached: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(attached.sparkSession)
    attached
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ShingleExpressions
          .sortedIntersect(col("gs_a"), col("gs_b")).as("n_inter"),
        size(col("gs_a")).cast("long").as("n_a"),
        size(col("gs_b")).cast("long").as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("doc_a"), col("doc_b"),
        floor(col("n_inter") * 10000 / least(col("n_a"), col("n_b")))
          .cast("long").as("contain_bp"),
        floor(col("n_inter") * 10000 / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long").as("jaccard_bp"))
      .filter(col("contain_bp") >= ContainBp)
      .transform(sortIsolated)
  }

  /** The DEFAULT `d_containment` entry — since r11 it SERVES THROUGH THE
    * BUCKETED LAYOUT ([[containmentBucketedAttach]] with `reuse = true`):
    * the inline attach's stats-underestimated plan is the one measured
    * scale hazard left in the suite (the union defeats size estimation,
    * the wide gram-array attach flips broadcast→SMJ and re-exchanges the
    * arrays three times — in-regime ×30→×50 shuffle 9.9× for 1.67× rows,
    * SCALE_PROBE_INREGIME_r10), so the scale-safe layout must be the
    * path users actually call, not an opt-in twin. Results are
    * bit-identical (one scorer, one oracle SQL); [[containmentInline]]
    * keeps the layout-free form — the automatic unwritable-root
    * fallback target ([[serveBucketedOrInline]]) — and the
    * control measurements. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    serveBucketedOrInline(spark, "d_containment")(
      containmentBucketedAttach(spark, dir, reuse = true))(
      containmentInline(spark, dir))

  /** The layout-free inline attach (`d_containment_inline`) — the r10
    * default, kept for sessions without a warehouse-backed catalog and
    * as the ScaleBench control cell. Fine at oracle scale; at corpus
    * scale its attach plan is the documented regime-flip hazard (see
    * [[containment]]). */
  def containmentInline(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    val grams = gramSets(containCorpus(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = ngramPairsOver(
      grams.select(col("doc_id"), explode(col("gs")).as("h")))
    scoreContainAttachedPairs(pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b"))
  }

  /** [[containment]] with the pair-attach joins over BUCKETED storage
    * (`d_containment_bucketed`) — the same attach device as
    * [[ngramJaccardBucketedAttach]], applied to the containment scorer.
    * This is the production answer to the r9 ×50 finding: containment's
    * inline attach was the cell whose shuffle-write curve bent
    * super-linearly (583× at ×50; the wide gram arrays re-exchange per
    * attach). Bucketing the set table by doc_id and the candidates by
    * doc_a makes the doc_a attach a zero-exchange sort-merge join and
    * leaves ONE exchange (the pair intermediate onto doc_b); the arrays
    * never move after the one-time bucketed write, which the jaccard and
    * containment passes then SHARE. Gated by the UNMODIFIED inline
    * [[containmentSql]]; PlanSpec pins the exchange counts. */
  def containmentBucketedAttach(spark: SparkSession, dir: String,
                                nBuckets: Int = -1,
                                reuse: Boolean = false): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    val (setsT, candsT) = bucketedPair(spark, dir, "d4d", nBuckets, reuse,
      gramSets(containCorpus(spark, dir)),
      s => ngramPairsOver(s.select(col("doc_id"), explode(col("gs")).as("h"))),
      gramAltSets(spark, dir, "d4d"))
    scoreContainAttachedPairs(candsT
      .join(setsT.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(setsT.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b"))
  }

  val containmentSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ContainIdBase AS doc_id,
       |    list_aggregate(
       |      (string_split_regex(trim($canonTextSql), '\\s+'))[1:$ContainTokens],
       |      'string_agg', ' ') AS text
       |  FROM documents WHERE doc_id < 5),
       |toklist AS (
       |  SELECT doc_id, string_split_regex(trim($canonTextSql), '\\s+') AS l
       |  FROM corpus),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substring(md5(l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]), 1, 15))
       |      AS BIGINT) AS h
       |  FROM toklist, UNNEST(range(0, greatest(len(l) - ${NgramN - 1}, 0))) t(i)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |rare AS (SELECT h FROM g GROUP BY h
       |         HAVING count(*) BETWEEN 2 AND $NgramMaxDf),
       |pr AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g a JOIN rare USING (h)
       |  JOIN g b ON b.h = a.h AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |  FROM pr p
       |  JOIN g a ON a.doc_id = p.doc_a
       |  JOIN g b ON b.doc_id = p.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(floor(n_inter * 10000 / least(sa.n, sb.n)) AS BIGINT) AS contain_bp,
       |  CAST(floor(n_inter * 10000 / (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_bp
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE CAST(floor(n_inter * 10000 / least(sa.n, sb.n)) AS BIGINT) >= $ContainBp
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Word-n-gram Jaccard dedup via an inverted index (`d_ngram_jaccard`)
    * — the candidate mechanism the MinHash family does NOT use: instead
    * of probabilistic band collisions, two documents become a candidate
    * pair iff they share at least one RARE gram (document frequency in
    * [2, NgramMaxDf]). Exact recall for any pair sharing a rare gram,
    * and the df cap is the scale lever: candidate pairs are bounded by
    * Σ_grams C(df, 2) ≤ NgramMaxDf · |postings|, so the self-join can
    * never go quadratic no matter how skewed the corpus vocabulary is —
    * the stop-gram drop is exactly the classic inverted-index trick.
    *
    * Per-doc gram sets are one in-row codegen pass (tokenize → slice →
    * hash → distinct-sort), so the posting table costs a single explode;
    * verification reuses the per-doc sorted arrays with the same
    * graft_sorted_intersect merge as the MinHash verifier. Docs with
    * fewer than NgramN tokens have empty sets and never pair.
    *
    * Since r11 the DEFAULT entry SERVES THROUGH THE BUCKETED LAYOUT
    * ([[ngramJaccardBucketedAttach]], `reuse = true`, corpus-derived
    * bucket count) — see [[containment]] for the rationale; the
    * layout-free form lives on as [[ngramJaccardInline]]
    * (`d_ngram_inline`), gated by the same oracle SQL. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    serveBucketedOrInline(spark, "d_ngram_jaccard")(
      ngramJaccardBucketedAttach(spark, dir, reuse = true))(
      ngramJaccardInline(spark, dir))

  /** The layout-free inline form (`d_ngram_inline`) — the r10 default;
    * see [[containmentInline]] for why the DEFAULT entry now serves the
    * bucketed layout instead.
    *
    * Cache lifetime: the returned plan references the persisted gram
    * table twice (posting build + pair verify), so it cannot be
    * unpersisted here without defeating the share; the release point is
    * the runner — Bench clears all caches between queries and Verify
    * clears after its pool drains. MEMORY_AND_DISK bounds the worst case
    * at spill, not OOM. */
  def ngramJaccardInline(spark: SparkSession, dir: String): DataFrame = {
    val grams = gramSets(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ngramJaccardOver(grams, grams.select(col("doc_id"), explode(col("gs")).as("h")))
  }

  /** xxhash64 fast-path twin of [[ngramJaccard]] (rows-only check; the
    * documented 100 TB configuration — see [[gramSetsFast]]). */
  def ngramJaccardFast(spark: SparkSession, dir: String): DataFrame = {
    val grams = gramSetsFast(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ngramJaccardOver(grams, grams.select(col("doc_id"), explode(col("gs")).as("h")))
  }

  /** The candidate + verify tail over whichever (gram-set, posting)
    * sources the caller supplies — in-memory inline tables or the
    * persisted [[NgramIndex]]: rare-gram equi-join candidates (df ∈
    * [2, NgramMaxDf]), sorted-intersect verification. One definition, so
    * inline ≡ indexed cannot drift. */
  private[graft] def ngramJaccardOver(grams: DataFrame,
                                      posting: DataFrame): DataFrame = {
    val pairs = ngramPairsOver(posting)
    scoreGramAttachedPairs(pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b"))
  }

  /** Candidate half of [[ngramJaccardOver]]: distinct (doc_a, doc_b)
    * pairs sharing a rare gram (df ∈ [2, NgramMaxDf]).
    *
    * r17 (optimization): the rare-posting SELF-JOIN is gone. The df
    * pre-aggregate stays (it bounds per-gram state BEFORE any list is
    * collected — a stop gram at corpus scale must never materialize its
    * posting list in one buffer); the surviving postings then collapse to
    * one df-capped doc list per gram and the ≤ C(NgramMaxDf, 2) ordered
    * pairs expand IN-ROW (guide §2.4). Because the join-back's output is
    * already hash-partitioned by `h`, the collect_list aggregate needs NO
    * further exchange — the posting rows cross the wire once, where the
    * self-join shape sorted and joined them a second time and fanned the
    * pair rows through a join operator. Same distinct pair set:
    * per-doc gram sets are distinct, so (doc_id, h) rows are unique and
    * the sorted doc list enumerates exactly the doc_a < doc_b pairs.
    *
    * Second pass: the expansion is the codegen kernel
    * [[graft.functions.PairExpressions.OrderedPairs]] — the first form
    * composed it from nested `transform(sequence(...))` HOFs, whose
    * interpreted per-element lambdas made the whole ngram family ×1.4–1.7
    * SLOWER than the self-join it replaced (same-session A/B). */
  /** Size gate for the broadcast candidate expansion below: the posting's
    * plan-estimated bytes must fit under this for the rare posting to
    * broadcast. Conservative by construction (the broadcast side is the
    * rare-filtered subset, always ≤ the whole posting). Parameterised for
    * production (`graft.ngram.broadcastPostingMaxBytes` session conf);
    * the 8 MB default keeps the sf-scale serve paths on the measured-
    * faster broadcast while the ×50 scale-rehearsal corpora (~29 MB of
    * documents) and any corpus-scale posting (100 TB: the posting IS
    * the corpus) stay on the one-exchange collect_list shape — the
    * plan the rehearsal pins. */
  val BroadcastPostingMaxBytes: Long = 8L * 1024 * 1024

  private[graft] def ngramPairsOver(posting: DataFrame): DataFrame = {
    graft.functions.PairExpressions.register(posting.sparkSession)
    val rareGrams = posting.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= NgramMaxDf)
      .select(col("h"))
    // SIZE-ADAPTIVE expansion (r18, VERDICT r17 item 5). Same distinct
    // (doc_a < doc_b) pair set either way — only the plan differs:
    //  - small posting (accurate parquet stats on the indexed serve
    //    paths): broadcast the rare posting and self-join — the plan the
    //    pre-r17 form got from the optimizer at bench scale, measured
    //    ~1.2 s faster there than the collect_list shape, and impossible
    //    at corpus scale (the posting IS the corpus);
    //  - large or unknown-size posting: the r17 df-capped collect_list
    //    per gram + in-row ordered-pair kernel — ONE exchange, the only
    //    shape that exists at 100 TB.
    val postingBytes =
      try posting.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Exception => BigInt(Long.MaxValue) }
    val maxBytes = posting.sparkSession.conf
      .getOption("graft.ngram.broadcastPostingMaxBytes")
      .map(_.toLong).getOrElse(BroadcastPostingMaxBytes)
    if (postingBytes <= maxBytes) {
      val rare = posting.join(rareGrams, "h")
      // distinct names on each side: a same-lineage self-join with
      // l("h") === r("h") trips Spark's ambiguous-self-join resolution
      val l = rare.select(col("h").as("hl"), col("doc_id").as("doc_a"))
      val r = rare.select(col("h").as("hr"), col("doc_id").as("doc_b"))
      broadcast(l).join(r, col("hl") === col("hr") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
    } else {
      posting.join(rareGrams, "h")
        .groupBy(col("h"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(
          graft.functions.PairExpressions.orderedPairs(col("ds"))).as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct()
    }
  }

  /** Verify half of [[ngramJaccardOver]]: exact Jaccard from the attached
    * sorted gram arrays — identical arithmetic for the inline, indexed,
    * and bucketed-attach paths, so all three hash against one oracle. */
  private def scoreGramAttachedPairs(attached: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(attached.sparkSession)
    attached
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ShingleExpressions
          .sortedIntersect(col("gs_a"), col("gs_b")).as("n_inter"),
        size(col("gs_a")).cast("long").as("n_a"),
        size(col("gs_b")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        floor(col("n_inter") * 10000 / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long").as("jaccard_bp"))
      .withColumn("is_dup", (col("jaccard_bp") >= 5000).cast("int"))
      .transform(sortIsolated)
  }

  /** [[ngramJaccard]] with its pair-attach joins running over BUCKETED
    * storage (`d_ngram_bucketed`) — the gram-family twin of
    * [[lshJaccardBucketedAttach]], and the production answer to the
    * attach shape the ×50 rehearsal surfaces for the INLINE path: there,
    * the heavy gram-set table exchanges once per attach AND the gs_a-
    * attached intermediate re-exchanges on doc_b — three wide shuffles
    * of array payloads per run. Here the set table is written hash-
    * bucketed by doc_id and the candidates by doc_a with the same bucket
    * count, so the doc_a attach is a zero-exchange sort-merge join and
    * only the pair intermediate redistributes (ONE exchange) onto the
    * set table's layout for the doc_b attach. Honestly stated: the gs_a
    * arrays RIDE that one exchange on every pair row — the single
    * irreducible array pass (SCALE_r11 measured that it can only be
    * traded for the other side's arrays, never avoided) —
    * while the gram TABLE itself never re-exchanges after the one-time
    * bucketed write, which at 100 TB is amortized across every
    * dedup/containment/decontamination pass that shares it. Results are
    * bit-identical to the inline form — the UNMODIFIED SQL gates it;
    * PlanSpec pins the exchange counts. */
  def ngramJaccardBucketedAttach(spark: SparkSession, dir: String,
                                 nBuckets: Int = -1,
                                 reuse: Boolean = false): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    val (setsT, candsT) = bucketedPair(spark, dir, "d4b", nBuckets, reuse,
      gramSets(Tables.documents(spark, dir)),
      s => ngramPairsOver(s.select(col("doc_id"), explode(col("gs")).as("h"))),
      gramAltSets(spark, dir, "d4b"))
    scoreGramAttachedPairs(candsT
      .join(setsT.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(setsT.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b"))
  }

  val ngramJaccardSql: String =
    s"""WITH toklist AS (
       |  SELECT doc_id, string_split_regex(trim($canonTextSql), '\\s+') AS l
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substring(md5(l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]), 1, 15))
       |      AS BIGINT) AS h
       |  FROM toklist, UNNEST(range(0, greatest(len(l) - ${NgramN - 1}, 0))) t(i)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |rare AS (SELECT h FROM g GROUP BY h
       |         HAVING count(*) BETWEEN 2 AND $NgramMaxDf),
       |pr AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g a JOIN rare USING (h)
       |  JOIN g b ON b.h = a.h AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |  FROM pr p
       |  JOIN g a ON a.doc_id = p.doc_a
       |  JOIN g b ON b.doc_id = p.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.n_inter,
       |  CAST(floor(n_inter * 10000 / (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_bp,
       |  CAST(CAST(floor(n_inter * 10000 / (sa.n + sb.n - n_inter)) AS BIGINT) >= 5000 AS INT) AS is_dup
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Long char-shingle width for benchmark decontamination (≈ a 4–5 word
    * n-gram): only near-verbatim text overlap collides, unlike the K=7
    * near-dup shingles where common words alone collide. */
  val DecontamK = 25
  /** Every EvalMod-th document plays the held-out benchmark set. */
  val DecontamEvalMod = 20
  /** Minimum overlapping shingles before a doc is reported. */
  val DecontamMinHits = 3

  /** Benchmark decontamination: flag training documents that share long
    * character shingles with a held-out evaluation set — the standard
    * "n-gram overlap" test a training-data pipeline runs before any eval
    * claim (every doc whose id % 20 == 0 stands in for the benchmark).
    *
    * Distributed shape for 100 TB: the benchmark side is tiny by nature
    * (eval suites are MBs, the corpus is TBs), so its distinct shingle
    * hashes BROADCAST and the corpus-side probe is a map-only broadcast
    * hash join over the exploded per-doc shingle sets — no shuffle touches
    * corpus rows until the per-doc hit aggregation, which is map-side
    * combinable on doc_id. Same graft_shingle_set codegen pass as the
    * near-dup family, so a shared scan could feed both in one job. */
  /** The held-out eval subset's distinct long-shingle hashes, collected
    * driver-side (eval suites are broadcast-sized by nature) — the side
    * input for streaming admission control
    * ([[graft.streaming.EventStreams.curationFlags]]). */
  def evalGramHashes(spark: SparkSession, dir: String): Array[Long] = {
    graft.functions.ShingleExpressions.register(spark)
    val docs = Tables.documents(spark, dir)
    docs
      .filter(col("doc_id") % DecontamEvalMod === 0)
      .select(explode(graft.functions.ShingleExpressions
        .shingleSet(canonText(docs), DecontamK, 15, P, "md5")).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleExpressions.register(spark)
    val docs = Tables.documents(spark, dir)
    val sets = docs.select(col("doc_id"),
      graft.functions.ShingleExpressions
        .shingleSet(canonText(docs), DecontamK, 15, P, "md5").as("hs"))
    val evalGrams = sets.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(explode(col("hs")).as("h")).distinct()
    sets.filter(col("doc_id") % DecontamEvalMod =!= 0)
      // hs is already the per-doc DISTINCT set, so post-join count(*) is
      // the distinct-overlap count and size(hs) the doc's shingle total
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_total"),
        explode(col("hs")).as("h"))
      .join(broadcast(evalGrams), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), max(col("n_total")).as("n_total"))
      .filter(col("n_hit") >= DecontamMinHits)
      .withColumn("contam_bp",
        floor(col("n_hit") * 10000 / col("n_total")).cast("long"))
      .select("doc_id", "n_hit", "n_total", "contam_bp")
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    (CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $P) AS h
       |  FROM (
       |    SELECT doc_id, substring($canonTextSql, i, $DecontamK) AS shingle
       |    FROM documents,
       |         UNNEST(range(1, greatest(len($canonTextSql) - ${DecontamK - 1}, 1) + 1)) AS t(i))),
       |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % $DecontamEvalMod = 0),
       |tr AS (SELECT * FROM sh WHERE doc_id % $DecontamEvalMod <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_total FROM tr GROUP BY 1),
       |hits AS (
       |  SELECT tr.doc_id, count(*) AS n_hit
       |  FROM tr JOIN ev USING (h) GROUP BY 1)
       |SELECT h.doc_id, h.n_hit, t.n_total,
       |  CAST(floor(h.n_hit * 10000 / t.n_total) AS BIGINT) AS contam_bp
       |FROM hits h JOIN tot t USING (doc_id)
       |WHERE h.n_hit >= $DecontamMinHits
       |ORDER BY doc_id""".stripMargin

  /** SimHash: 32-bit signature over word tokens; banded into 4 bytes for
    * candidate generation; hamming distance via bit_count(xor).
    *
    * The whole signature is one in-row expression pass (graft_simhash over
    * the token array): every per-token md5 vote and the 32 bit balances
    * stay inside the row, so the signature table is produced map-only —
    * the round-2 form exploded every token and shuffled them through a
    * 32-conditional-sum aggregation. Tokens come from the shared
    * [[canonText]] canonicalization (NFC → lower → whitespace split),
    * 32-bit md5 prefix per token. */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.ShingleExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.functions.ShingleExpressions
        .simhash(split(trim(canonText(docs)), "\\s+"), 32).as("sig"))
  }

  /** SimHash near-dup pairs: share ≥1 of 4 byte-bands, hamming ≤ 6. */
  def simhashDup(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhash(Tables.documents(spark, dir)), nBands = 4)

  /** Wide (56-bit) production twin of [[simhashDup]] (rows-only — the
    * oracle pins the 32-bit arithmetic; this is the width a corpus-scale
    * run needs). The ×50 scale rehearsal measured WHY 32 bits stop
    * working: pair output grew 89× at 50× docs (SCALE_r5.json) because
    * two UNRELATED documents collide at hamming ≤ 6 with probability
    * ≈ Σ_{k≤6} C(32,k)/2³² ≈ 2.7·10⁻⁴ — a false-positive floor that is
    * QUADRATIC in corpus size and already ~8M pairs at 250k docs. At 56
    * bits (7 byte-bands; the md5-prefix hash behind graft_simhash yields
    * at most 60 bits, and 56 keeps the banding on clean byte edges) the
    * same sum is ≈ 5·10⁻¹⁰ — ~16 false pairs at 250k docs, and the
    * floor stays ignorable until ~10⁷ docs, where 64-bit token hashing
    * (xxhash64-based simhash) would be the next step. Same banding
    * scheme, same hamming gate, same md5 token hashing. */
  def simhashDupWide(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.functions.ShingleExpressions.register(docs.sparkSession)
    val sigs = docs.select(col("doc_id"),
      graft.functions.ShingleExpressions
        .simhash(split(trim(canonText(docs)), "\\s+"), 56).as("sig"))
    simhashPairs(sigs, nBands = 7)
  }

  private def simhashPairs(sigs: DataFrame, nBands: Int): DataFrame = {
    // persisted: both sides of the self-join read it, and without the
    // persist each side re-runs the whole split+md5 signature pass
    val banded = sigs
      .withColumn("band", explode(expr(s"sequence(0, ${nBands - 1})")))
      .withColumn("bkey", expr("(sig >> (band * 8)) & 255"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("band").as("band_l"), col("bkey").as("bkey_l"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, col("band_l") === col("band_r") && col("bkey_l") === col("bkey_r") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // filter BEFORE the distinct: hamming is computable per candidate
      // row, so the dedup shuffle only carries the (rare) near-dup pairs,
      // not every band collision
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate-cluster assignment: connected components over the verified
    * near-dup pairs (is_dup edges from [[lshJaccard]]), labeled by the
    * minimum doc_id of each component. Every document gets a row;
    * `keep = 1` marks the cluster canonical — filter on it and you have
    * the deduplicated corpus, the terminal step of a dedup pipeline.
    *
    * Distributed shape: iterative min-label propagation — per round, each
    * node takes the min of its own label and its neighbors' labels; the
    * loop stops when no label changes. Rounds = component diameter (near-dup
    * clusters are shallow: a handful of rounds); each round is one equi
    * join + one aggregation, and `localCheckpoint` cuts the growing lineage
    * so round N's plan doesn't replay rounds 1..N-1. The classic
    * large-star/small-star contraction halves round count at extreme
    * diameters, but near-dup graphs never get there.
    *
    * The driver loop only ever `collect`s a single change-count per round —
    * labels themselves never leave the executors.
    *
    * Adaptive fast path: the verified edge list is proportional to the
    * number of NEAR-DUP PAIRS, not the corpus — banding + Jaccard verify
    * has already shrunk it by orders of magnitude. When it fits the
    * driver comfortably (≤ [[DriverUnionFindMaxEdges]] edges ≈ 80 MB) we
    * collect it once and run union-find locally — O(E α(E)) and zero
    * iterative jobs — then ship the label map back as a join side. The
    * distributed loop remains the path for adversarially dup-heavy
    * corpora; both produce identical min-label components. */
  val DriverUnionFindMaxEdges = 5000000L

  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersOver(spark, dir, lshJaccard(spark, dir), DriverUnionFindMaxEdges)

  /** Quality-aware canonicalization (`d_canonical_best`): within each
    * duplicate cluster keep the member a curator would actually keep —
    * the LONGEST document (max n_chars, ties to the smaller id) —
    * instead of [[dupClusters]]'s arbitrary min-id survivor. This is the
    * standard near-dedup canonical rule (truncated copies lose to their
    * fuller original). One window over the cluster id (clusters are
    * small by construction) after a broadcast-size attach of the length
    * column; everything upstream is the unchanged cluster machinery. */
  def canonicalBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(spark, dir).select(col("doc_id"), col("cluster_id"))
    val len = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val best = clusters.join(len, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    clusters.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  def canonicalBestSql: String =
    s"""WITH clusters AS ($dupClustersSql),
       |best AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM (
       |    SELECT c.cluster_id, c.doc_id,
       |      row_number() OVER (PARTITION BY c.cluster_id
       |        ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |    FROM clusters c JOIN documents d USING (doc_id)) t
       |  WHERE rn = 1)
       |SELECT c.doc_id, c.cluster_id, b.canonical_id,
       |  CAST(c.doc_id = b.canonical_id AS INT) AS keep
       |FROM clusters c JOIN best b USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** xxhash64 fast-path twin of [[dupClusters]] — the production 100-TB
    * path (md5 exists only for DuckDB oracle identity). `maxEdges`
    * overrides the driver/distributed crossover so a scale rehearsal can
    * force the distributed min-label propagation on a corpus whose edge
    * list would otherwise take the driver fast path, proving both paths
    * produce identical components at scale (ScaleBench does exactly
    * that). */
  def dupClustersFast(spark: SparkSession, dir: String,
                      maxEdges: Long = DriverUnionFindMaxEdges): DataFrame =
    dupClustersOver(spark, dir, lshJaccardFast(spark, dir), maxEdges)

  private[graft] def dupClustersOver(spark: SparkSession, dir: String,
                                     pairs: DataFrame, maxEdges: Long): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.filter(col("is_dup") === 1)
      .select(col("doc_a"), col("doc_b")).persist(lvl)
    val nEdges = edges.count()
    val labels =
      if (nEdges <= maxEdges) unionFindLabels(spark, edges)
      else propagateLabels(edges)
    edges.unpersist()
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("int"))
      .orderBy("doc_id")
  }

  /** Fast path: collect the (small) edge list, union-find with path
    * compression on the driver, return (doc_id, lab = component min). */
  private[graft] def unionFindLabels(spark: SparkSession,
                              edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // Primitive-encoder collect: as[(Long, Long)] lands as unboxed tuples
    // (~16 B/edge + tuple header) instead of GenericRow objects with boxed
    // Longs, keeping a max-size 5M-edge collect in the low hundreds of MB
    // rather than OOMing the driver just under the threshold.
    import edges.sparkSession.implicits._
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root keeps "label = component minimum" invariant
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keysIterator.map(k => (k, find(k))).toSeq
    rows.toDF("doc_id", "lab")
  }

  /** Stride CAP for [[propagateLabels]]'s convergence checks: the stride
    * RAMPS 1, 2, 4, … up to this cap, doubling each block. Min-label
    * propagation is monotone (labels only decrease), so "no label
    * changed across a k-block" ⇔ "fixed point" — block-checking is exact
    * at any stride schedule; the schedule only trades no-op propagation
    * rounds after convergence against driver round-trips and label
    * materializations (one localCheckpoint per block, not per round).
    * The r8 FIXED stride of 4 charged shallow graphs up to 3 no-op
    * rounds per convergence; the ramp starts at 1 so a graph that
    * converges immediately sees it in the very first check, while a
    * deep chain still collapses driver actions: the planted 400-hop
    * chain needs 401 actions at stride 1, 101 at fixed-4, and ~54 with
    * the ramp capped at 8 (DedupSpec pins both the chain and the
    * shallow case). The cap bounds per-block lineage depth — each block
    * is ONE Catalyst plan of `stride` chained join+aggs, and past ~8
    * deep the per-block planning cost eats the saved round-trips
    * (measured r8: fixed-4 was already planning-bound locally). */
  val PropagateStrideCap = 8

  /** Scale path: iterative distributed min-label propagation (see the
    * method scaladoc above for the round structure). */
  private[graft] def propagateLabels(edges: DataFrame): DataFrame =
    propagateLabelsCounted(edges)._1

  /** [[propagateLabels]] exposing the number of driver convergence
    * actions taken (for the spec's round-count pin). Each block is ONE
    * lineage of `stride` join+agg rounds ended by ONE localCheckpoint
    * and ONE changed-count action — lineage depth is bounded by
    * `strideCap` and the checkpoint still cuts it before the next
    * block. */
  private[graft] def propagateLabelsCounted(edges: DataFrame,
      strideCap: Int = PropagateStrideCap): (DataFrame, Int) = {
    require(strideCap >= 1)
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // propagate over the EDGE SUBGRAPH only: a document with no near-dup
    // edge is its own singleton cluster by definition, so the iteration
    // touches |edge-nodes| rows (a sliver of the corpus at any scale),
    // and the full corpus is re-attached once at the end
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lab")).localCheckpoint()
    var changed = 1L
    var actions = 0
    var stride = 1
    while (changed > 0) {
      // `stride` propagation hops per driver action, the block-start
      // label riding along as a column so the convergence check is a
      // filter on the block's single checkpoint — no extra join or job.
      // The stride ramps 1, 2, 4, … up to the cap: the first check fires
      // after a single hop (shallow graphs converge with zero wasted
      // rounds), later blocks amortize driver round-trips on deep chains.
      //
      // Each hop is pinned to an RDD-identity boundary: the recurrence
      // references `cur` TWICE (inside prop and as the join's left side),
      // so a purely lazy k-hop chain DOUBLES the logical plan per hop —
      // 2^k scan leaves by the block end, which Catalyst plans AND
      // executes (exchange reuse does not fold checkpoint scans; measured
      // 16× the per-round wall at cap 8 on the planted chain). Routing
      // each hop through its compiled RDD keeps the DAG linear — the RDD
      // node is shared BY IDENTITY, every stage runs once — while the
      // block still executes as ONE job with ONE driver action; nothing
      // materializes until the block-end checkpoint.
      var cur = labels.select(col("doc_id"), col("lab").as("old_lab"), col("lab"))
      for (_ <- 1 to stride) {
        val prop = sym.join(cur, sym("src") === cur("doc_id"))
          .groupBy(col("dst")).agg(min(col("lab")).as("nlab"))
        val next = cur.join(prop, cur("doc_id") === prop("dst"), "left")
          .select(cur("doc_id"), cur("old_lab"),
            least(cur("lab"), coalesce(col("nlab"), cur("lab"))).as("lab"))
        cur = next.sparkSession.createDataFrame(next.rdd, next.schema)
      }
      val block = cur.localCheckpoint()
      changed = block.filter(col("lab") =!= col("old_lab")).count()
      actions += 1
      labels = block.select(col("doc_id"), col("lab"))
      stride = math.min(stride * 2, strideCap)
    }
    sym.unpersist()
    (labels, actions)
  }

  val dupClustersSql: String =
    s"""WITH RECURSIVE
       |pairs AS ($lshJaccardSql),
       |edges AS (SELECT doc_a, doc_b FROM pairs WHERE is_dup = 1),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM edges),
       |reach(doc, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.doc)
       |SELECT doc AS doc_id, min(lab) AS cluster_id,
       |  CAST(doc = min(lab) AS INT) AS keep
       |FROM reach
       |GROUP BY doc
       |ORDER BY doc_id""".stripMargin

  val simhashDupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h32
       |  FROM (SELECT doc_id, UNNEST(string_split_regex(trim($canonTextSql), '\\s+')) AS tok
       |        FROM documents)),
       |bal AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN (h32 >> i) & 1 = 1 THEN 1 ELSE -1 END) AS bal
       |  FROM toks, UNNEST(range(0, 32)) AS t(i)
       |  GROUP BY 1, 2),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
       |  FROM bal GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, sig, band, (sig >> (band * 8)) & 255 AS bkey
       |  FROM sigs, UNNEST(range(0, 4)) AS t(band))
       |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |  bit_count(xor(l.sig, r.sig)) AS hamming
       |FROM banded l JOIN banded r
       |  ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.sig, r.sig)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
}
