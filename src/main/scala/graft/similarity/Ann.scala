package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Similarity metric for oracle-gated queries: integer-quantized dot
  * product. Each float coordinate is quantized per-row to round(x*1000) —
  * an integer-valued double. Products and 64-term sums of integer-valued
  * doubles < 2^53 are EXACT in IEEE arithmetic, so the score is
  * bit-identical in any engine and any summation order. Cosine (float)
  * variants live in tests with tolerance, not in the oracle gate.
  *
  * Scale path: [[annLsh]] buckets vectors by random-hyperplane signs
  * (deterministic ±1 planes derived from md5) so the pair space shrinks
  * ~256× before scoring; brute force stays linear in n for a fixed query
  * set and is the accuracy baseline.
  */
object Ann {

  val QuantScale = 1000.0
  val NumPlanes = 8
  val Dim = 64

  /** Quantized embedding: array<double> of exact integer values. */
  def quantized(c: Column): Column =
    transform(c, x => round(x.cast("double") * QuantScale))

  /** The ANN demo/oracle query set: vectors with vec_id < AnnQueryIds are
    * the queries; used identically by every DataFrame builder and its
    * DuckDB oracle SQL so the two sides can never drift. */
  val AnnQueryIds = 20

  /** Exact integer dot product of two quantized arrays via the native
    * codegen expression (graft.functions.VectorExpressions) — same strict
    * left-to-right fold as the HOF composition it replaced, so results are
    * bit-identical; the loop just runs unboxed inside WholeStageCodegen.
    * Callers must have VectorExpressions.register(spark)'d the session. */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** Brute-force top-k neighbors for query vectors (vec_id < AnnQueryIds) by
    * quantized dot product; deterministic tie-break on neighbor id. */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    val queries = emb.filter(col("vec_id") < AnnQueryIds)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("q").as("nv"))
    val scored = broadcast(queries).join(cand, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("qv"), col("nv")).cast("long").as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot")
      .orderBy("query_id", "rank")
  }

  // DuckDB: list_transform to the same integer-valued doubles, then
  // list_dot_product — exact for the same reason.
  private val qListSql =
    "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000.0))"

  val bruteForceTopKSql: String =
    s"""WITH q AS (SELECT vec_id, $qListSql AS qv FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON a.vec_id < $AnnQueryIds AND a.vec_id <> b.vec_id)
       |SELECT query_id, rank, neighbor_id, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Metadata-filtered vector search (`s_ann_filtered`): top-k neighbors
    * among only the corpus vectors whose DOCUMENT passes a metadata
    * predicate (here `lang = 'en'`) — the vector-DB "filtered search"
    * shape (pre-filtering, not post-filtering: post-filtering a top-k can
    * return < k rows when the filter is selective, so the filter must cut
    * the candidate set BEFORE ranking). The predicate runs on the
    * documents table's pruned (doc_id, lang) scan and semi-joins the
    * vector corpus on the shared id — one equi-exchange; scoring and the
    * per-query top-k (bounded map-side by RewriteWindowTopK) are then
    * identical to [[bruteForceTopK]]. At corpus scale the same plan holds
    * with the filter pushed into whatever metadata store shards alongside
    * the vectors; nothing about the ranking changes. */
  def bruteForceTopKFiltered(spark: SparkSession, dir: String,
                             lang: String = "en", k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === lang).select(col("doc_id").as("vec_id"))
    val queries = emb.filter(col("vec_id") < AnnQueryIds)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val cand = emb.join(allowed, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("neighbor_id"), col("q").as("nv"))
    val scored = broadcast(queries).join(cand, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("qv"), col("nv")).cast("long").as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot")
      .orderBy("query_id", "rank")
  }

  val bruteForceTopKFilteredSql: String =
    s"""WITH q AS (SELECT vec_id, $qListSql AS qv FROM embeddings),
       |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot
       |  FROM q a JOIN q b ON a.vec_id < $AnnQueryIds AND a.vec_id <> b.vec_id
       |  JOIN allowed al ON b.vec_id = al.vec_id)
       |SELECT query_id, rank, neighbor_id, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Deterministic ±1 hyperplane matrix: sign(p,i) = +1 iff the first hex
    * digit of md5("p_i") is >= '8'. Computed driver-side once; the oracle
    * reproduces the identical md5 logic in SQL. */
  lazy val planes: Array[Array[Int]] = planesFor(NumPlanes)

  /** First `n` planes of the same md5-seeded deterministic family —
    * [[planes]] is the prefix, so scaled variants agree with the fixed
    * oracle construction on their shared planes. */
  def planesFor(n: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, Dim) { (p, i) =>
      val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("89abcdef".contains(hex.charAt(0))) 1 else -1
    }
  }

  /** LSH bucket id: NumPlanes sign bits of plane·v (exact int arithmetic). */
  def bucketExpr(q: Column): Column = bucketExprSlice(q, 0, NumPlanes, planes)

  /** Bucket id from plane rows [from, from+width) of `ps`. */
  private def bucketExprSlice(q: Column, from: Int, width: Int,
                              ps: Array[Array[Int]]): Column =
    (0 until width).map { b =>
      val planeLit = array(ps(from + b).toIndexedSeq.map(s => lit(s.toDouble)): _*)
      when(intDot(q, planeLit) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed near-dup pairs: same bucket, dot >= threshold. The
    * bucket equi-join is the scale path — pair space shrinks ~2^NumPlanes×
    * and the shuffle key (bucket) is uniform by construction. */
  def lshPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
      .withColumn("bucket", bucketExpr(col("q")))
    val l = emb.select(col("bucket").as("bkt"), col("vec_id").as("vec_a"), col("q").as("qa"))
    val r = emb.select(col("bucket").as("bkt_r"), col("vec_id").as("vec_b"), col("q").as("qb"))
    l.join(r, col("bkt") === col("bkt_r") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("bkt").as("bucket"),
        intDot(col("qa"), col("qb")).cast("long").as("dot"))
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding-cosine near-duplicate pairs. Candidates come from the LSH
    * buckets; the cosine test is the exact rational comparison
    * cos²(a,b) ≥ 0.9 ⇔ 10·(a·b)² ≥ 9·‖a‖²·‖b‖² on integer-quantized
    * vectors (scale 100 keeps 10·dot⁴-order products inside int64), so
    * no floating sqrt ever happens — bit-stable in any engine. */
  def embeddingDup(spark: SparkSession, dir: String): DataFrame =
    embeddingDupOver(spark, dir, maxBucket = Int.MaxValue)

  /** [[embeddingDup]] with a bucket-size cap — the hyperplane-LSH
    * sibling of `Dedup.bandCandidatesCapped`, and the same measured
    * motivation: the ×50 scale rehearsal put 100k vectors through the
    * FIXED 2^NumPlanes bucket space and the candidate join emitted 23M
    * pairs, because clusters stay clustered under rotation and bucket
    * occupancy is heavy-tailed — with the bucket count not scaling in
    * corpus size, expected candidates grow ≥ C(n,2)/2^planes, i.e.
    * QUADRATICALLY. Production levers, in order: more planes as the
    * corpus grows (buckets ∝ n keeps the uniform part linear) and this
    * cap (bounds the adversarial/hot part regardless). Over-cap buckets
    * are dropped before the self-join ever sees them. */
  def embeddingDupCapped(spark: SparkSession, dir: String,
                         maxBucket: Int = 1000): DataFrame =
    embeddingDupOver(spark, dir, maxBucket)

  /** Corpus-scaled multi-table LSH near-dup candidates — the STRUCTURAL
    * fix for what the ×50 rehearsal measured: with the oracle form's
    * FIXED 2⁸ buckets, expected candidates are ≥ C(n,2)/256 — quadratic
    * in corpus size, 23M pairs at 100k vectors. Here the plane count
    * grows with the corpus (planes = max(8, ⌈log₂(n/targetBucket)⌉), so
    * expected bucket occupancy stays ≈ targetBucket and candidates stay
    * ≈ T·n·targetBucket/2 — LINEAR in n. Single-table recall for a
    * true near-dup falls as (1−θ/π)^planes, so `tables` independent
    * plane sets OR together (the classic multi-table construction, the
    * same AND/OR logic as minhash banding): recall 1−(1−p^k)^T.
    * All T buckets per vector come from one posexplode pass; the join
    * key is (table, bucket); pairs are distinct-ed before the exact
    * rational cosine verify, which is unchanged from [[embeddingDup]].
    * Rows-only (`d_embedding_scaled`): same reason as the xxhash twins —
    * the production construction has no cheap cross-engine twin, and
    * the fixed-plane oracle form pins the verify arithmetic. */
  def embeddingDupScaled(spark: SparkSession, dir: String,
                         targetBucket: Int = 16, tables: Int = 4,
                         maxBucket: Int = 4096): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 100)).as("q"))
    val nVec = base.count()
    val nPlanes = math.max(NumPlanes,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, nVec / targetBucket - 1)).toInt)
    val ps = planesFor(tables * nPlanes)
    val emb = base
      .select(col("vec_id"), col("q"),
        posexplode(array((0 until tables).map(t =>
          bucketExprSlice(col("q"), t * nPlanes, nPlanes, ps)): _*))
          .as(Seq("tbl", "bucket")))
      .withColumn("norm2", intDot(col("q"), col("q")).cast("long"))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("tbl"), col("bucket"))))
      .filter(col("bsz") <= maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = emb.select(col("tbl").as("t_l"), col("bucket").as("bkt"),
      col("vec_id").as("vec_a"), col("q").as("qa"), col("norm2").as("na"))
    val r = emb.select(col("tbl").as("t_r"), col("bucket").as("bkt_r"),
      col("vec_id").as("vec_b"), col("q").as("qb"), col("norm2").as("nb"))
    l.join(r, col("t_l") === col("t_r") && col("bkt") === col("bkt_r") &&
        col("vec_a") < col("vec_b"))
      // dot computed per occurrence (≤ T times/pair) so the distinct
      // dedupes narrow scalar rows instead of carrying the q arrays
      .select(col("vec_a"), col("vec_b"),
        intDot(col("qa"), col("qb")).cast("long").as("dot"),
        col("na"), col("nb"))
      .distinct()
      .withColumn("is_dup", (col("dot") > 0 &&
        col("dot") * col("dot") * 10 >= col("na") * col("nb") * 9).cast("int"))
      .withColumn("is_similar", (col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("na") * col("nb")).cast("int"))
      .select(col("vec_a"), col("vec_b"), col("dot"),
        col("is_dup"), col("is_similar"))
      .orderBy("vec_a", "vec_b")
  }

  private def embeddingDupOver(spark: SparkSession, dir: String,
                               maxBucket: Int): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 100)).as("q"))
      .withColumn("bucket", bucketExpr(col("q")))
      .withColumn("norm2", intDot(col("q"), col("q")).cast("long"))
    val emb =
      if (maxBucket == Int.MaxValue) emb0
      else emb0
        .withColumn("bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))))
        .filter(col("bsz") <= maxBucket)
        .drop("bsz")
    val l = emb.select(col("bucket").as("bkt"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("norm2").as("na"))
    val r = emb.select(col("bucket").as("bkt_r"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("norm2").as("nb"))
    l.join(r, col("bkt") === col("bkt_r") && col("vec_a") < col("vec_b"))
      .withColumn("dot", intDot(col("qa"), col("qb")).cast("long"))
      // exact rational cosine tests: cos ≥ t ⇔ dot > 0 ∧ dot²/t² ≥ na·nb
      .withColumn("is_dup", (col("dot") > 0 &&
        col("dot") * col("dot") * 10 >= col("na") * col("nb") * 9).cast("int"))
      .withColumn("is_similar", (col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("na") * col("nb")).cast("int"))
      .select(col("vec_a"), col("vec_b"), col("dot"), col("is_dup"), col("is_similar"))
      .orderBy("vec_a", "vec_b")
  }

  val embeddingDupSql: String = {
    val q100 = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 100.0))"
    s"""WITH qv AS (
       |  SELECT vec_id, $q100 AS q,
       |    CAST(list_dot_product($q100, $q100) AS BIGINT) AS norm2
       |  FROM embeddings),
       |coords AS (
       |  SELECT vec_id, i, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    sum(c.x * (CASE WHEN strpos('89abcdef',
       |        substring(md5(CAST(p.p AS VARCHAR) || '_' || CAST(c.i AS VARCHAR)), 1, 1)) > 0
       |      THEN 1.0 ELSE -1.0 END)) AS dot_p
       |  FROM coords c, UNNEST(range(0, $NumPlanes)) AS p(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dot_p > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id)
       |SELECT vec_a, vec_b, dot,
       |  CAST(dot > 0 AND dot * dot * 10 >= na * nb * 9 AS INT) AS is_dup,
       |  CAST(dot > 0 AND dot * dot * 25 >= na * nb AS INT) AS is_similar
       |FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
       |    a.norm2 AS na, b.norm2 AS nb
       |  FROM qv a JOIN buckets ba ON a.vec_id = ba.vec_id
       |  JOIN buckets bb ON ba.bucket = bb.bucket
       |  JOIN qv b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id) t
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** IVF-style ANN: coarse cells = the embeddings' label partitions with
    * floor-integer centroids (sum DIV n per coordinate — deterministic);
    * each query probes only its nearest centroid's inverted list. The
    * scale path: the fine search shuffles a few probed cells, not the
    * corpus (IvfProbes cells per query). Recall scales with how well the
    * cells track the query structure: the synthetic spec embeddings are
    * ISOTROPIC (intra-label cosine == inter-label cosine ~= 0), so
    * recall@3 is bounded near the probed fraction (measured 0.40 vs the
    * 0.30 3-of-10-cells chance floor — DedupSpec pins it). On a real
    * clustered corpus the same plan recalls far higher; the point here is
    * the SHAPE: probe-k cells, shuffle k/N of the data, exact rerank.
    * Exact integer arithmetic end-to-end (L2-to-centroid compared via
    * n²-scaled expansion — no division). */
  /** Number of coarse cells each query probes. */
  val IvfProbes = 3

  /** (vec_id, label, q): the quantized row form every IVF path shares. */
  private def quantizedRows(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), quantized(col("embedding")).as("q"))

  /** Integer centroids per label cell: per-coordinate sum DIV count.
    * floor (not truncate): DuckDB's // truncates toward zero, so both
    * engines spell out floor(sum / n) explicitly. floor over the merged
    * cell equals floor over any build/upsert split of it — the identity
    * [[ivfIndexUpsert]]'s exactness rests on. */
  private def centroidsOf(q: DataFrame): DataFrame =
    q.select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(floor(sum(col("x").cast("long")) / count(lit(1))).as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("pairs"))
      .select(col("label").as("c_label"),
        expr("transform(pairs, p -> CAST(p.cx AS DOUBLE))").as("centroid"))

  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = quantizedRows(Tables.embeddings(spark, dir))
    val cents = centroidsOf(emb)
    // nearest centroid per query: argmin ‖q − c‖² = argmin(‖c‖² − 2 q·c)
    val queries = emb.filter(col("vec_id") < AnnQueryIds)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val assign = queries.crossJoin(broadcast(cents))
      .withColumn("score",
        intDot(col("centroid"), col("centroid")) - intDot(col("qv"), col("centroid")) * 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score"), col("c_label"))))
      .filter(col("rn") <= IvfProbes)
      .select(col("query_id"), col("qv"), col("c_label").as("probe_label"))
    // fine search inside the probed cell only
    val scored = assign.join(emb, col("probe_label") === col("label") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("probe_label"), col("vec_id").as("neighbor_id"),
        intDot(col("qv"), col("q")).cast("long").as("dot"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "probe_label", "rank", "neighbor_id", "dot")
      .orderBy("query_id", "rank")
  }

  /** Persist the IVF index in its 100-TB layout: centroids as a small
    * parquet table, and the corpus PARTITIONED BY CELL — so a probe
    * touches only its cells' directories. The fine-search join keys on
    * the partition column, which lets Spark's dynamic partition pruning
    * skip every unprobed cell at runtime (the spec pins the pruning
    * subquery in the plan). */
  def ivfIndexBuild(spark: SparkSession, dir: String, indexPath: String): Unit = {
    graft.functions.VectorExpressions.register(spark)
    ivfIndexBuildFrom(quantizedRows(Tables.embeddings(spark, dir)), indexPath)
  }

  /** [[ivfIndexBuild]] over an arbitrary quantized-row set — the unit
    * the incremental path shares with the full build. */
  private def ivfIndexBuildFrom(q: DataFrame, indexPath: String): Unit = {
    centroidsOf(q).write.mode("overwrite").parquet(s"$indexPath/centroids")
    q.write.mode("overwrite").partitionBy("label").parquet(s"$indexPath/cells")
  }

  /** Incremental IVF index maintenance: fold a batch of new vectors into
    * a persisted index WITHOUT a full rebuild — the lifecycle step between
    * build-once/serve-many and takedown. The new rows upsert into their
    * `label=` cell partitions (key-deduplicated partition rewrite, so a
    * replayed batch is a no-op — [[graft.sources.Store.upsertPartitions]]);
    * centroids are then recomputed for the TOUCHED cells only, reading
    * just those partitions, and merged over the untouched cells' old rows.
    * Because the cell centroid is floor(Σx / n), recomputing over the
    * merged cell equals the full-rebuild value EXACTLY — the
    * `s_ivf_upsert` oracle (the unmodified full-corpus ivfTopKSql)
    * hash-gates that identity end-to-end. Per-batch cost: the batch, the
    * touched partitions, and a centroid table rewrite — never the corpus. */
  def ivfIndexUpsert(newVecs: DataFrame, indexPath: String): Unit = {
    val spark = newVecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val q = quantizedRows(newVecs)
    graft.sources.Store.upsertPartitions(q, s"$indexPath/cells",
      Seq("vec_id"), Seq("label"))
    val touched = q.select("label").distinct()
    val recomputed = centroidsOf(
      spark.read.parquet(s"$indexPath/cells")
        .join(broadcast(touched), Seq("label")))
    val kept = spark.read.parquet(s"$indexPath/centroids")
      .join(broadcast(touched.select(col("label").as("c_label"))),
        Seq("c_label"), "left_anti")
    // localCheckpoint: the merge READS the centroid table this overwrites
    val merged = kept.unionByName(recomputed).localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** `s_ivf_upsert`: build the index on two thirds of the corpus, fold
    * the remaining third in via [[ivfIndexUpsert]], then serve — the
    * oracle is the UNMODIFIED full-corpus IVF SQL, so the hash gate
    * proves incremental maintenance ≡ full rebuild. */
  def ivfUpsertServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf_upsert_index").toString
    graft.functions.VectorExpressions.register(spark)
    ivfIndexBuildFrom(quantizedRows(emb.filter(col("vec_id") % 3 =!= 0)), idx)
    ivfIndexUpsert(emb.filter(col("vec_id") % 3 === 0), idx)
    ivfTopKIndexed(spark, dir, idx)
  }

  /** Query the persisted IVF index: identical results to [[ivfTopK]],
    * with the corpus scan bounded to the probed cells' directories. */
  def ivfTopKIndexed(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < AnnQueryIds)
      .select(col("vec_id").as("query_id"), quantized(col("embedding")).as("qv"))
    val assign = queries.crossJoin(broadcast(cents))
      .withColumn("score",
        intDot(col("centroid"), col("centroid")) - intDot(col("qv"), col("centroid")) * 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score"), col("c_label"))))
      .filter(col("rn") <= IvfProbes)
      .select(col("query_id"), col("qv"), col("c_label").as("probe_label"))
    val cells = spark.read.parquet(s"$indexPath/cells")
    val scored = assign.join(cells, col("probe_label") === col("label") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("probe_label"), col("vec_id").as("neighbor_id"),
        intDot(col("qv"), col("q")).cast("long").as("dot"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "probe_label", "rank", "neighbor_id", "dot")
      .orderBy("query_id", "rank")
  }

  val ivfTopKSql: String =
    s"""WITH qv AS (SELECT vec_id, label, $qListSql AS q FROM embeddings),
       |coords AS (
       |  SELECT vec_id, label, i, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |cents AS (
       |  SELECT label, i,
       |    floor(CAST(sum(x) AS DOUBLE) / count(*)) AS cx
       |  FROM coords GROUP BY 1, 2),
       |cent_norm AS (
       |  SELECT label, sum(cx * cx) AS cc FROM cents GROUP BY label),
       |assign AS (
       |  SELECT query_id, probe_label FROM (
       |    SELECT qc.vec_id AS query_id, qc.label AS probe_label,
       |      row_number() OVER (PARTITION BY qc.vec_id
       |        ORDER BY (cn.cc - 2 * qc.qdot), qc.label) AS rn
       |    FROM (
       |      SELECT co.vec_id, ce.label, sum(co.x * ce.cx) AS qdot
       |      FROM coords co JOIN cents ce ON co.i = ce.i
       |      WHERE co.vec_id < $AnnQueryIds
       |      GROUP BY 1, 2) qc
       |    JOIN cent_norm cn ON cn.label = qc.label) t
       |  WHERE rn <= $IvfProbes)
       |SELECT query_id, probe_label, rank, neighbor_id, dot FROM (
       |  SELECT a.query_id, a.probe_label, b.vec_id AS neighbor_id,
       |    CAST(list_dot_product(q.q, b.q) AS BIGINT) AS dot,
       |    row_number() OVER (PARTITION BY a.query_id
       |      ORDER BY CAST(list_dot_product(q.q, b.q) AS BIGINT) DESC, b.vec_id) AS rank
       |  FROM assign a
       |  JOIN qv q ON q.vec_id = a.query_id
       |  JOIN qv b ON b.label = a.probe_label AND b.vec_id <> a.query_id) t
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  val lshPairsSql: String = {
    // plane sign replicated inline: md5('p_i') first hex digit >= '8'
    s"""WITH qv AS (SELECT vec_id, $qListSql AS q FROM embeddings),
       |coords AS (
       |  SELECT vec_id, i, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |proj AS (
       |  SELECT c.vec_id, p.p,
       |    sum(c.x * (CASE WHEN strpos('89abcdef',
       |        substring(md5(CAST(p.p AS VARCHAR) || '_' || CAST(c.i AS VARCHAR)), 1, 1)) > 0
       |      THEN 1.0 ELSE -1.0 END)) AS dot_p
       |  FROM coords c, UNNEST(range(0, $NumPlanes)) AS p(p)
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dot_p > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ba.bucket,
       |  CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
       |FROM qv a JOIN buckets ba ON a.vec_id = ba.vec_id
       |JOIN buckets bb ON ba.bucket = bb.bucket
       |JOIN qv b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** k-means cell count and Lloyd's rounds for the learned-IVF trainer. */
  val KmeansCells = 8
  val KmeansRounds = 2

  /** Distributed k-means (Lloyd's) training of IVF cells — the learned
    * counterpart of [[ivfTopK]]'s label cells. Seeds are the k vectors
    * with the smallest salted hash (deterministic on any engine); each
    * round assigns every vector to its nearest centroid (argmin of
    * ‖c‖² − 2·v·c, ties to the lowest cell) and recomputes centroids as
    * per-coordinate floor-means. All arithmetic stays on integer-valued
    * doubles, so assignments — and therefore the trained model — are
    * bit-identical cross-engine, which is what lets a 2-round training
    * LOOP sit under the hash gate (the oracle unrolls the rounds as SQL).
    *
    * Scale: assignment is a broadcast of k·d centroid values against a
    * scan (no shuffle); the update is one groupBy(cell, coord) — k·d
    * result rows, collected as the next round's model, exactly the
    * k-means|| topology MLlib uses. Driver traffic per round is the
    * MODEL (k·d values), never the data. */
  def kmeansIvf(spark: SparkSession, dir: String): DataFrame = {
    // inertia needs the true ‖v − c‖² = ‖v‖² + dist
    kmeansAssign(spark, dir)
      .withColumn("v2", intDot(col("q"), col("q")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
           sum(col("v2") + col("dist")).cast("long").as("inertia"))
      .orderBy("cell")
  }

  /** The trained Lloyd assignment (vec_id, q, cell, dist) after
    * [[KmeansRounds]] rounds — the unit [[kmeansIvf]] (inertia summary)
    * and [[semanticDedup]] (within-cell dedup) share, so the clustering
    * the dedup runs over is bit-identical to the one the oracle SQL
    * unrolls. `dist` is the assignment objective ‖c‖² − 2 v·c (the ‖v‖²
    * term is rank-invariant per vector and added back where the true
    * distance matters). */
  private def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignOver(Tables.embeddings(spark, dir))

  /** [[kmeansAssign]] over an arbitrary (vec_id, embedding, …) set. */
  private def kmeansAssignOver(emb0: DataFrame): DataFrame = {
    val spark = emb0.sparkSession
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    val emb = emb0
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    val h = graft.functions.HashExpressions.md5Prefix64(
      concat(lit("seed:"), col("vec_id").cast("string")), 15)
    // TakeOrdered (sort+limit), not a single-partition global window
    var cents: Seq[(Int, Seq[Double])] = emb.withColumn("h", h)
      .orderBy(col("h"), col("vec_id")).limit(KmeansCells)
      .select(col("q")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
    var assigned: DataFrame = null
    for (round <- 1 to KmeansRounds) {
      // r17 (optimization): the model is ALREADY driver-held (k·d values —
      // that is the k-means|| topology), so the argmin is one map-side
      // `least` over k (dist, cell) structs instead of a broadcast
      // crossJoin fanning n·k rows through a row_number window (Exchange +
      // Sort per round — guide §2.4: the shuffle was never fundamental).
      // dist is the same exact-integer `‖c‖² − 2·v·c` (intDot is the
      // strict left-to-right codegen fold; all values integer-valued
      // doubles < 2^53), and struct ordering on (dist, cell) reproduces
      // the (dist ASC, cell ASC) tie-break bit-for-bit.
      val scoredCells = cents.map { case (cell, cvec) =>
        val cLit = array(cvec.map(v => lit(v)): _*)
        struct((intDot(cLit, cLit) - intDot(col("q"), cLit) * 2).as("dist"),
          lit(cell).as("cell"))
      }
      assigned = emb
        .withColumn("best",
          if (scoredCells.size == 1) scoredCells.head else least(scoredCells: _*))
        .select(col("vec_id"), col("q"),
          col("best.cell").as("cell"), col("best.dist").as("dist"))
      if (round < KmeansRounds) {
        // model update: k·d rows to the driver, floor-mean per coordinate
        val rows = assigned
          .select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
          .groupBy("cell", "i")
          .agg(floor(sum(col("x")) / count(lit(1))).as("cx"))
          .collect()
        cents = rows.groupBy(_.getInt(0)).toSeq.map { case (cell, rs) =>
          (cell, rs.sortBy(_.getInt(1)).map(_.getLong(2).toDouble).toSeq)
        }.sortBy(_._1)
      }
    }
    assigned
  }

  /** Semantic-dedup cosine threshold τ = 0.9, tested exactly as the
    * rational inequality dot² · 100 ≥ ‖a‖²‖b‖² · 81 (with dot > 0) over
    * ×100-quantized coordinates — the [[embeddingDupOver]] trick, kept at
    * the coarser scale so every product stays inside the 2^53 exact-double
    * range (dot ≤ 64·10⁴ ⇒ dot²·100 ≤ 4.1·10¹³). */
  val SemDedupTauSqNum = 81L
  val SemDedupTauSqDen = 100L

  /** SemDeDup (`d_semantic_dedup`): semantic deduplication by k-means
    * clustering + within-cluster cosine pruning (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540). Exact near-duplicate detection
    * (D5) finds COPIES; SemDeDup removes semantic REDUNDANCY — documents
    * whose embeddings say the same thing in different words — and the
    * paper's result is that pruning it speeds training at equal quality.
    *
    * Shape: cluster once with the SAME Lloyd training as `s_kmeans_ivf`
    * ([[kmeansAssign]]), then compare pairs ONLY within a cell — the
    * paper's exact device for avoiding the all-pairs O(n²): pairwise cost
    * is Σ|cell|², and with k scaled ∝ n (cells of ~constant occupancy,
    * same argument as [[embeddingDupScaled]]'s plane count) that stays
    * linear in the corpus. The cell equi-join keys the only shuffle; no
    * vector ever leaves its cell.
    *
    * Keep rule, from the paper: within a semantic-duplicate pair, keep
    * the example FARTHEST from its cluster centroid (it preserves more
    * diversity than keeping the central one); ties break toward the
    * smaller vec_id. A row is dropped iff SOME same-cell neighbor is
    * τ-similar and strictly farther (or equally far with a smaller id) —
    * a pure pairwise EXISTS, so no connected components are needed and
    * the oracle replays it as a plain SQL anti-pattern. All arithmetic is
    * integer-exact: distances compare as v² + (‖c‖² − 2 v·c) with no
    * division, cosine as the rational inequality above.
    *
    * The synthetic embeddings are ISOTROPIC — the corpus contains no pair
    * above cos 0.6 at any SF — so, like `t_pii_redact` does for PII, the
    * query PLANTS its positives deterministically on BOTH engines: each
    * vec_id < [[SemDedupTwinIds]] gains a twin at
    * vec_id + [[SemDedupTwinBase]] — exact copies (distance TIE, the
    * tie-break decides) for the first half, ×0.5-scaled copies (strictly
    * different distance, the farther-kept rule decides) for the second.
    * The hash gate therefore exercises clustering, the τ-pair join, and
    * BOTH branches of the keep rule ([[semanticAugmented]]). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupOver(semanticAugmented(spark, dir))

  /** Planted-twin corpus: the embeddings plus, for each of the first
    * [[SemDedupTwinIds]] vectors, a twin offset by [[SemDedupTwinBase]] —
    * an EXACT copy for the first half (cosine 1, distance TIE → the
    * tie-break must drop the twin) and a ×0.5-scaled copy for the second
    * half (cosine still 1, distance strictly different → the strict
    * farther-kept branch decides). The 0.5 factor is exact in BOTH float
    * and double arithmetic (a pure exponent decrement), so the two
    * engines construct bit-identical twins. */
  private[graft] def semanticAugmented(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val exact = emb.filter(col("vec_id") < SemDedupTwinIds / 2)
      .select((col("vec_id") + SemDedupTwinBase).as("vec_id"), col("embedding"))
    val halved = emb.filter(col("vec_id") >= SemDedupTwinIds / 2 &&
        col("vec_id") < SemDedupTwinIds)
      .select((col("vec_id") + SemDedupTwinBase).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
    emb.unionAll(exact).unionAll(halved)
  }

  val SemDedupTwinIds = 10L
  val SemDedupTwinBase = 10000000L

  /** [[semanticDedup]] over an arbitrary (vec_id, embedding) corpus — the
    * unit the oracle query, the spec fixtures, and scaled variants share. */
  def semanticDedupOver(emb0: DataFrame): DataFrame = {
    val spark = emb0.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val p100 = emb0
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 100)).as("p"))
      .withColumn("n2", intDot(col("p"), col("p")).cast("long"))
    val rows = kmeansAssignOver(emb0)
      .withColumn("d", (intDot(col("q"), col("q")) + col("dist")).cast("long"))
      .join(p100, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("d"), col("p"), col("n2"))
    semanticPrune(rows)
  }

  /** The SemDeDup keep-rule tail shared by the k-means cells
    * ([[semanticDedupOver]]) and the LSH cells ([[semanticDedupScaled]]):
    * `rows` = (vec_id, cell, d, p, n2) → (vec_id, cell, d, keep). */
  private def semanticPrune(rows0: DataFrame): DataFrame = {
    // rows feeds THREE consumers (both sides of the within-cell pair join
    // and the final keep-flag join) — persist so the upstream
    // assignment + centroid attach runs once per action instead of three
    // times (r17; at 100 TB: checkpoint). Bench/Verify clear persisted
    // frames after each query.
    val rows = rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = rows.select(col("cell"), col("vec_id").as("va"), col("p").as("pa"),
      col("n2").as("na"), col("d").as("da"))
    val r = rows.select(col("cell").as("cell_r"), col("vec_id").as("vb"),
      col("p").as("pb"), col("n2").as("nb"), col("d").as("db"))
    val dropped = l.join(r, col("cell") === col("cell_r") && col("va") =!= col("vb"))
      .withColumn("dot", intDot(col("pa"), col("pb")).cast("long"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * SemDedupTauSqDen >=
          col("na") * col("nb") * SemDedupTauSqNum)
      .filter(col("db") > col("da") ||
        (col("db") === col("da") && col("vb") < col("va")))
      .select(col("va").as("vec_id")).distinct()
      .withColumn("dropped", lit(1))
    rows.join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("d"),
        when(col("dropped").isNull, lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy("vec_id")
  }

  /** Target cell occupancy for the scaled SemDeDup variant. */
  val SemDedupCellTarget = 64

  /** Scale path for [[semanticDedup]] (`d_semantic_scaled`, rows-only).
    *
    * Flat k-means with k ∝ n (what constant occupancy requires) makes the
    * ASSIGNMENT itself quadratic — every Lloyd round scores n·k ≈
    * n²/target vector pairs; the paper pays that term on GPU farms. The
    * Spark-first scale shape swaps the clusterer: cells are corpus-scaled
    * hyperplane-LSH buckets ([[planesFor]] with p = log₂(n/target) — the
    * [[embeddingDupScaled]] device), so assignment is MAP-ONLY codegen,
    * expected occupancy stays ~target, and the whole pipeline is one
    * aggregation (integer floor-mean bucket centroids), one cell-keyed
    * join to attach them, and the same within-cell pair join — everything
    * keyed on `cell`, one exchange family, linear in n.
    *
    * The keep rule is byte-for-byte [[semanticPrune]]: farther from the
    * (now bucket) centroid survives, ties to the smaller id. An EXACT
    * twin co-buckets with its original structurally (identical quantized
    * vector → identical projections), so exact-dup recall is 1 by
    * construction; a ×0.5 twin preserves every projection sign up to
    * quantization rounding, so it co-buckets unless a projection sits
    * within rounding distance of zero (DedupSpec pins both behaviours;
    * organic cross-bucket τ-pairs can be missed at the usual LSH 1−p^k
    * rate, the documented trade vs the exact k-means form). */
  def semanticDedupScaled(spark: SparkSession, dir: String,
                          target: Int = SemDedupCellTarget): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb0 = semanticAugmented(spark, dir)
    val n = emb0.count()
    val nPlanes = math.max(NumPlanes, math.min(56,
      math.ceil(math.log(math.max(1.0, n.toDouble / target)) / math.log(2.0)).toInt))
    val pl = planesFor(nPlanes)
    val q = emb0.select(col("vec_id"), quantized(col("embedding")).as("q"),
        transform(col("embedding"), x => round(x.cast("double") * 100)).as("p"))
      .withColumn("cell", bucketExprSlice(col("q"), 0, nPlanes, pl))
      .withColumn("n2", intDot(col("p"), col("p")).cast("long"))
    val cents = q.select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(floor(sum(col("x").cast("long")) / count(lit(1))).as("cx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("pairs"))
      .select(col("cell"),
        expr("transform(pairs, p -> CAST(p.cx AS DOUBLE))").as("centroid"))
    val rows = q.join(cents, Seq("cell"))
      .withColumn("d", (intDot(col("q"), col("q"))
        + intDot(col("centroid"), col("centroid"))
        - intDot(col("q"), col("centroid")) * 2).cast("long"))
      .select(col("vec_id"), col("cell"), col("d"), col("p"), col("n2"))
    semanticPrune(rows)
  }

  /** DuckDB twin of [[semanticDedup]]: the planted-twin `aug` corpus,
    * then the `s_kmeans_ivf` training CTEs (same seeding, rounds, and
    * floor-means, over `aug`) down to the final assignment, then the
    * within-cell τ-pairs and the farther-kept rule. */
  val semanticDedupSql: String = {
    def distCte(cents: String, n: Int): String =
      s"""d$n AS (
         |  SELECT c.vec_id, k.cell,
         |    sum(k.cx * k.cx - 2 * c.x * k.cx) AS dist
         |  FROM coords c JOIN $cents k ON c.i = k.i
         |  GROUP BY 1, 2),
         |a$n AS (
         |  SELECT vec_id, cell, dist FROM (
         |    SELECT vec_id, cell, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM d$n) t
         |  WHERE rn = 1)""".stripMargin
    val p100 = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 100.0))"
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $SemDedupTwinBase AS vec_id, embedding
       |  FROM embeddings WHERE vec_id < ${SemDedupTwinIds / 2}
       |  UNION ALL
       |  SELECT vec_id + $SemDedupTwinBase AS vec_id,
       |    list_transform(embedding, x -> x * CAST(0.5 AS FLOAT)) AS embedding
       |  FROM embeddings
       |  WHERE vec_id >= ${SemDedupTwinIds / 2} AND vec_id < $SemDedupTwinIds),
       |qv AS (SELECT vec_id, $qListSql AS q FROM aug),
       |coords AS (
       |  SELECT vec_id, i, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |vnorm AS (SELECT vec_id, sum(x * x) AS v2 FROM coords GROUP BY 1),
       |hashed AS (
       |  SELECT vec_id,
       |    CAST(('0x' || substring(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 15))
       |         AS BIGINT) AS h
       |  FROM qv),
       |seeds AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell
       |    FROM hashed) t
       |  WHERE cell < $KmeansCells),
       |cents0 AS (
       |  SELECT s.cell, c.i, c.x AS cx
       |  FROM seeds s JOIN coords c ON s.vec_id = c.vec_id),
       |${distCte("cents0", 1)},
       |cents1 AS (
       |  SELECT a.cell, c.i, floor(sum(c.x) / count(*)) AS cx
       |  FROM a1 a JOIN coords c ON a.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |${distCte("cents1", 2)},
       |pn AS (
       |  SELECT vec_id, $p100 AS p,
       |    CAST(list_dot_product($p100, $p100) AS BIGINT) AS n2
       |  FROM aug),
       |dset AS (
       |  SELECT a.vec_id, a.cell,
       |    CAST(v.v2 + a.dist AS BIGINT) AS d, p.p, p.n2
       |  FROM a2 a JOIN vnorm v ON a.vec_id = v.vec_id
       |  JOIN pn p ON a.vec_id = p.vec_id),
       |pairs AS (
       |  SELECT x.vec_id AS va, x.d AS da, y.d AS db, y.vec_id AS vb,
       |    CAST(list_dot_product(x.p, y.p) AS BIGINT) AS dot,
       |    x.n2 AS na, y.n2 AS nb
       |  FROM dset x JOIN dset y
       |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
       |dropped AS (
       |  SELECT DISTINCT va AS vec_id FROM pairs
       |  WHERE dot > 0
       |    AND dot * dot * $SemDedupTauSqDen >= na * nb * $SemDedupTauSqNum
       |    AND (db > da OR (db = da AND vb < va)))
       |SELECT s.vec_id, s.cell, s.d,
       |  CAST(dr.vec_id IS NULL AS INT) AS keep
       |FROM dset s LEFT JOIN dropped dr ON s.vec_id = dr.vec_id
       |ORDER BY s.vec_id""".stripMargin
  }

  /** Product-quantization geometry: M subspaces of SubDim coords each,
    * K centroids per subspace → a Dim-float vector compresses to M small
    * ints (here 4 bits each; 256-cell codebooks at production scale). */
  val PqM = 16
  val PqK = 16
  val SubDim: Int = Dim / PqM

  /** ADC candidates kept per query for the exact-dot re-rank stage. */
  val PqRerankN = 50

  /** Final neighbors returned per query. */
  val PqTopN = 10

  /** PQ-compressed ANN with ADC scoring (`s_pq_topk`).
    *
    * Training: the K hash-smallest vectors seed every subspace's codebook
    * (same salted-md5 seeding as [[kmeansIvf]]); one Lloyd round refines
    * them — assignment by exact integer argmin of ‖c‖² − 2·v·c per
    * subspace, update by per-coordinate floor-mean. Subspace is a COLUMN
    * (m = i div SubDim) so all M codebooks train in the same two
    * aggregation jobs, not an M-way loop.
    *
    * Encoding: each vector becomes M codes (argmin vs the refined
    * codebook) collected into one array — Dim·4 bytes of floats down to
    * M small ints per row (16× here, 32× with byte codes at Dim=256).
    *
    * Scoring (asymmetric distance computation): each query precomputes
    * q_sub · centroid for every (subspace, cell) — an M·K lookup table,
    * broadcast as a map keyed m·K+cell. The corpus scan then scores a
    * candidate with M map lookups inside codegen — NO shuffle of the
    * corpus, no vector arithmetic per pair; the only exchange in the
    * whole scoring stage is the final per-query top-k (which the
    * RewriteWindowTopK rule bounds map-side). That is the 100 TB shape:
    * codes live with the data, LUTs travel with the query.
    *
    * Re-ranking: ADC ordering is lossy, so the top [[PqRerankN]]
    * candidates per query are re-scored with the EXACT integer dot
    * product and the final top [[PqTopN]] ranks on that. The candidate
    * set is Q·[[PqRerankN]] rows — broadcast against the corpus scan to
    * fetch exact vectors, so re-rank costs one broadcast-hash probe of
    * the corpus, never a shuffle. This is the standard IVF-ADC+re-rank
    * shape (Johnson et al., "Billion-scale similarity search with GPUs").
    *
    * Everything is integer-exact (quantized coords, integer products
    * summed exactly as doubles < 2^53), so codebooks, codes, and ADC
    * scores are bit-identical cross-engine — the oracle replays training
    * in SQL and must hash-match. */
  /** The PQ codebook collected driver-side as [m][cell][j] → cx. This is
    * MODEL-sized (PqM·PqK·SubDim = 1024 values) at ANY corpus scale — the
    * k-means model-to-driver device, never data. Every value is an
    * integer-valued double (quantized coords / floor-means), so embedding
    * it as a SQL literal is exact and the in-row assignment below computes
    * bit-identical distances to the old broadcast-join form. A (m, cell)
    * that lost all members in training is absent from the long-format
    * table and lands here as NaN: NaN distances never win the argmin
    * (Spark orders NaN above every double), exactly as the absent row
    * never joined before. */
  private type PqCodebook = Array[Array[Array[Double]]]

  private def collectCodebook(cents: DataFrame): PqCodebook = {
    val arr = Array.fill(PqM, PqK, SubDim)(Double.NaN)
    cents.select(col("m").cast("int"), col("cell").cast("int"),
        col("j").cast("int"), col("cx").cast("double")).collect()
      .foreach(r => arr(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    arr
  }

  /** Exact decimal SQL literal for an integer-valued double. */
  private def fmtD(v: Double): String =
    if (v.isNaN) "CAST('NaN' AS DOUBLE)"
    else {
      require(v == v.toLong.toDouble, s"non-integer codebook value $v")
      s"${v.toLong}.0D"
    }

  private def codebookSql(cb: PqCodebook): String =
    cb.map(_.map(_.map(fmtD).mkString("array(", ",", ")"))
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** In-row PQ argmin over a `q` column: array of PqM (cell, dist)
    * structs, one per subspace — dist is the same
    * `Σ_j (c·c − 2·x·c)` fold (j ascending, exact integer-valued doubles)
    * the long-format join computed, ties to the smaller cell via the
    * strict `<` fold over cells ascending.
    *
    * r17 (optimization): assignment used to be a broadcast crossJoin of
    * the M·K packed centroids against the vector scan — an n·M·K-row
    * intermediate pushed through a row_number window (Exchange + Sort on
    * (vec_id, m)). With the codebook a driver-held literal, the whole
    * argmin is ONE map-side expression: no join, no exchange, no sort
    * (guide §2.4/§1.2 — the shuffle was never fundamental: every
    * (vec_id, m) group lives inside its own input row). */
  private def pqArgminSql(cb: PqCodebook): String = {
    val carr = codebookSql(cb)
    s"transform(sequence(0, ${PqM - 1}), m -> " +
      s"aggregate(zip_with(sequence(0, ${PqK - 1}), " +
      s"transform($carr[m], cc -> " +
      s"aggregate(zip_with(slice(q, m * $SubDim + 1, $SubDim), cc, " +
      "(x, c) -> c * c - x * c * 2D), 0D, (a, v) -> a + v)), " +
      "(c, d) -> struct(c AS cell, d AS dist)), " +
      "named_struct('cell', -1, 'dist', CAST('Infinity' AS DOUBLE)), " +
      "(b, p) -> IF(p.dist < b.dist, p, b)))"
  }

  /** The per-vector PQ code as one in-row expression: cell argmin per
    * subspace, in subspace order — identical to the old
    * `array_sort(collect_list(struct(m, cell)))` aggregation, with the
    * n-row groupBy gone (map-only encode). r17 second pass: the argmin is
    * the codegen kernel [[graft.functions.PqExpressions.PqCode]] — the
    * first map-only form composed it from `transform`/`zip_with`/
    * `aggregate` HOFs, whose interpreted per-element lambdas made encode
    * 6× SLOWER than the join it replaced (12.2 s vs 2.0 s measured);
    * the flat primitive loop keeps the map-only plan and removes the
    * per-row allocation storm (guide §1.2 step 2). Same fold order →
    * bit-identical codes. */
  private def pqCodeExpr(cb: PqCodebook): org.apache.spark.sql.Column =
    graft.functions.PqExpressions.pqCode(
      col("q"), cb.flatten.flatten, PqM, PqK)

  /** The exact-integer argmin assignment of quantized vectors against a
    * long-format codebook — the unit training, build, and frozen-codebook
    * append all share (so the append encoder cannot drift from the build
    * encoder). r17: map-only (see [[pqArgminSql]]); the long (vec_id, m,
    * cell, dist) shape is produced by an in-row posexplode. */
  private def pqAssignAgainst(emb: DataFrame, cents: DataFrame): DataFrame =
    pqAssignWith(emb, collectCodebook(cents))

  private def pqAssignWith(emb: DataFrame, cb: PqCodebook): DataFrame =
    emb.select(col("vec_id"),
        posexplode(expr(pqArgminSql(cb))).as(Seq("m", "best")))
      .select(col("vec_id"), col("m"),
        col("best.cell").as("cell"), col("best.dist").as("dist"))

  /** Shared PQ training pieces: quantized vectors, the seed codebook, and
    * the exact-integer argmin assignment. */
  private final case class PqParts(emb: DataFrame, cents0: DataFrame,
      assign: DataFrame => DataFrame) {
    /** Codebook after one Lloyd round: floor-mean per (m, cell, coord).
      * r17: the update reads the seed assignment IN-ROW (code array per
      * vector) and explodes (coord, x) from the same row — the old shape
      * joined the n·M-row assignment against a persisted n·Dim coords
      * explode on (vec_id, m). Now it is one scan + one map-side
      * combinable aggregate onto M·K·SubDim groups: the join and the
      * coords persist are gone (guide §2.4). Materialized
      * (localCheckpoint): model-sized at any corpus scale, read by both
      * the encode and the LUT build. */
    lazy val cents1: DataFrame = {
      val cb0 = collectCodebook(cents0)
      // The code column is PROJECTED BELOW the Generate (its own select):
      // a non-generator expression in the same select as a posexplode is
      // placed by the analyzer ABOVE the Generate and re-evaluated once
      // per generated row — measured at 53.7 s (vs 2.7 s for the join
      // form it replaced) when the argmin HOF ran Dim=64 times per
      // vector. As a bare attribute here it is computed once per row,
      // and the argmin itself is the codegen kernel (see pqCodeExpr).
      emb.select(pqCodeExpr(cb0).as("code"), col("q"))
        .select(col("code"), posexplode(col("q")).as(Seq("i", "x")))
        .select(floor(col("i") / SubDim).cast("int").as("m"),
          (col("i") % SubDim).as("j"), col("x"), col("code"))
        .select(col("m"), expr("code[m]").as("cell"), col("j"), col("x"))
        .groupBy(col("m"), col("cell"), col("j"))
        .agg(floor(sum(col("x")) / count(lit(1))).as("cx"))
        .localCheckpoint()
    }
  }

  private def pqParts(spark: SparkSession, dir: String): PqParts =
    pqPartsFrom(spark, Tables.embeddings(spark, dir))

  /** [[pqParts]] over an arbitrary raw (vec_id, embedding) corpus — the
    * unit the version-pinned path shares with the live-dir one. */
  private def pqPartsFrom(spark: SparkSession, embRaw: DataFrame): PqParts = {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    graft.functions.HashExpressions.register(spark)
    graft.functions.PqExpressions.register(spark)
    val emb = embRaw
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    // seed codebook: the PqK hash-smallest vectors, sliced per subspace
    val h = graft.functions.HashExpressions.md5Prefix64(
      concat(lit("pqseed:"), col("vec_id").cast("string")), 15)
    val seeds = emb.withColumn("h", h)
      .orderBy(col("h"), col("vec_id")).limit(PqK)
      .select(col("q")).collect()
      .zipWithIndex.flatMap { case (r, cell) =>
        r.getSeq[Double](0).zipWithIndex.map { case (cx, i) =>
          (i / SubDim, cell, i % SubDim, cx)
        }
      }.toSeq
    val cents0 = seeds.toDF("m", "cell", "j", "cx")
    PqParts(emb, cents0, pqAssignAgainst(emb, _))
  }

  /** Test hook: the (vec_id, m, cell, dist) assignment against the seed
    * codebook (afterRounds = 0) or the Lloyd-refined one (1) — lets specs
    * check the k-means descent property through the production code path. */
  private[graft] def pqAssignmentForTest(spark: SparkSession, dir: String,
      afterRounds: Int): DataFrame = {
    val p = pqParts(spark, dir)
    p.assign(if (afterRounds == 0) p.cents0 else p.cents1)
  }

  /** Leg attribution (r12 verdict finding 4, widened r15 per the r14
    * verdict's item 6): `s_pq_topk` is the bench's slowest query and
    * replays codebook TRAINING in-query by oracle contract, so serve
    * drift could hide inside training drift for rounds. The eager
    * training pieces — the seed collect and the Lloyd-round
    * localCheckpoint — are clocked as `s_pq_topk.train`; the code
    * assignment + aggregation is clocked as `s_pq_topk.encode` via the
    * codes table's own eager localCheckpoint (the PQ index the
    * production path persists anyway — n rows × one small code array,
    * and the assignment ran exactly once in the fused plan too, so the
    * checkpoint re-stages rather than adds work); what remains in the
    * query wall after train + encode is the ADC scoring + top-k SERVE
    * segment, whose pure form is the indexed twin's wall
    * (`s_pq_topk_indexed`). Only this bench entry materializes the
    * split — [[pqTopKFrom]] (the version-pinned oracle twin's unit)
    * stays one fused lazy scan. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val parts = graft.ops.Legs.time("s_pq_topk", "train")(
      pqParts(spark, dir))
    // forcing the lazy cents1 runs the Lloyd round (seed collect already
    // happened inside pqParts) — both are training, as is pulling the
    // model-sized trained codebook to the driver
    val cb1 = graft.ops.Legs.time("s_pq_topk", "train")(
      collectCodebook(parts.cents1))
    // r17: encode is MAP-ONLY (in-row argmin + code array — the old
    // assignment window and the per-vector collect_list groupBy are gone)
    val codes = graft.ops.Legs.time("s_pq_topk", "encode")(
      parts.emb.select(col("vec_id"), pqCodeExpr(cb1).as("code"))
        .localCheckpoint())
    pqScore(parts.emb, cb1, codes)
  }

  /** Inline PQ over an arbitrary raw corpus (the version-pinned oracle
    * twin: `pqTopKCachedAt` must equal this over `readAt(v)`). */
  def pqTopKFrom(spark: SparkSession, embRaw: DataFrame): DataFrame = {
    val parts = pqPartsFrom(spark, embRaw)
    val cb1 = collectCodebook(parts.cents1)
    val codes = parts.emb.select(col("vec_id"), pqCodeExpr(cb1).as("code"))
    pqScore(parts.emb, cb1, codes)
  }

  /** Persist the trained PQ index — codebooks + per-vector codes — so
    * queries stop paying for training: the build-once/query-many split
    * every production ANN service uses. Both tables are plain parquet
    * (codes: one row per corpus vector; codebooks: M·K·SubDim rows), so
    * the index is itself a distributed dataset — no driver bottleneck
    * at any corpus size. */
  def pqIndexBuild(spark: SparkSession, dir: String, indexPath: String): Unit =
    pqIndexBuildFrom(spark, Tables.embeddings(spark, dir), indexPath)

  /** [[pqIndexBuild]] over an arbitrary raw corpus. */
  def pqIndexBuildFrom(spark: SparkSession, embRaw: DataFrame,
                       indexPath: String): Unit = {
    val parts = pqPartsFrom(spark, embRaw)
    val cents1 = parts.cents1
    val codes = parts.emb.select(col("vec_id"),
      pqCodeExpr(collectCodebook(cents1)).as("code"))
    cents1.write.mode("overwrite").parquet(s"$indexPath/codebooks")
    // codes partitioned by a vec_id hash: [[pqIndexAppend]] then rewrites
    // only the partitions a batch touches, never the corpus-sized table
    codes.withColumn("cp", pmod(col("vec_id"), lit(PqCodesParts.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("cp").parquet(s"$indexPath/codes")
  }

  /** Codes-table directory partition count (`cp = vec_id % PqCodesParts`). */
  val PqCodesParts = 16

  /** Fold new vectors into a persisted PQ index with FROZEN codebooks —
    * the production maintenance op: codebooks are a trained artifact,
    * re-trained on a cadence, while arriving vectors are encoded against
    * the frozen ones (encoding drift is bounded by codebook staleness —
    * the standard tradeoff; IVF, whose centroids merge exactly, has the
    * stronger [[ivfIndexUpsert]] story). Encoding is the SAME
    * broadcast-codebook argmin as training-time assignment
    * ([[pqAssignAgainst]] is shared code, so the append encoder cannot
    * drift from the build encoder — AnnIndexSpec pins build-encoded ≡
    * append-encoded), and the codes land via a key-deduplicated rewrite
    * of only the touched `cp=` partitions, so replays are no-ops and
    * per-batch cost is batch + touched partitions. */
  def pqIndexAppend(newVecs: DataFrame, indexPath: String): Unit = {
    val spark = newVecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    graft.functions.PqExpressions.register(spark)
    val emb = newVecs.select(col("vec_id"), quantized(col("embedding")).as("q"))
    val cents1 = spark.read.parquet(s"$indexPath/codebooks")
    val codes = emb.select(col("vec_id"),
        pqCodeExpr(collectCodebook(cents1)).as("code"))
      .withColumn("cp", pmod(col("vec_id"), lit(PqCodesParts.toLong)).cast("int"))
    graft.sources.Store.upsertPartitions(codes, s"$indexPath/codes",
      Seq("vec_id"), Seq("cp"))
  }

  /** Query a persisted PQ index: identical results to [[pqTopK]], but
    * the only training-time work left is reading two small tables. */
  def pqTopKIndexed(spark: SparkSession, dir: String, indexPath: String): DataFrame =
    pqTopKIndexedFrom(spark, Tables.embeddings(spark, dir), indexPath)

  /** [[pqTopKIndexed]] with the query set drawn from an arbitrary raw
    * corpus (the version-pinned serve path passes `readAt(v)`). */
  def pqTopKIndexedFrom(spark: SparkSession, embRaw: DataFrame,
                        indexPath: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    graft.functions.PqExpressions.register(spark)
    val emb = embRaw
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
    // r17: LUTs are built IN-ROW from the query rows and the driver-held
    // codebook (see pqScore) — the query-side coords explode this path
    // used to pay is gone entirely.
    val cents1 = spark.read.parquet(s"$indexPath/codebooks")
    val codes = spark.read.parquet(s"$indexPath/codes")
    pqScore(emb, collectCodebook(cents1), codes)
  }

  /** Build-once/query-many entry points for the bench and verify
    * harnesses: the index is built on first use into a session-external
    * cache directory and every later call pays ONLY the query — which is
    * the latency a production ANN service actually serves (`s_pq_topk` /
    * `s_ivf_topk` bench entries, by contrast, book per-run training).
    *
    * The cache key is the source dir path, and freshness is BOTH a
    * fingerprint of every parameter the trained artifact depends on AND
    * a [[dataFingerprint]] of the corpus files themselves — a parameter
    * change or any rewrite of the embeddings table (upsert, regeneration,
    * `Store.deleteKeys` takedown) rebuilds instead of silently serving a
    * stale index (AnnIndexSpec pins the takedown case). Results are
    * pinned identical to the inline paths (AnnSpec), so the same oracle
    * SQL gates both. */
  /** The leading generation tag must change whenever the FORMAT of any
    * persisted index artifact changes, not just its parameters — v2 was
    * the r10 gram-hash widening (gramSets keeps the full 60-bit md5
    * prefix instead of reducing mod 2³¹−1); v3 is the r11 NFC threading
    * (every near-dup hash family now hashes NFC→lower canonical text,
    * so gram/posting identity changes for any non-ASCII corpus): a
    * pre-change cached index has the same parameters and the same
    * corpus files, so without the tag it would be served as fresh while
    * silently carrying stale-format postings. */
  private def trainingFingerprint: String =
    s"v3-d$Dim-q$QuantScale-m$PqM-k$PqK-p$IvfProbes-r$PqRerankN-t$PqTopN-a$AnnQueryIds"

  /** Fingerprint of the corpus DATA the index serves: every visible file
    * under the embeddings table folded as (relative path, length, mtime)
    * into one digest — a pure LISTING pass, no data read, so it stays
    * O(file count) at any corpus size. Any rewrite of the table — an
    * upsert, a regeneration, and specifically a [[graft.sources.Store
    * .deleteKeys]] takedown — replaces parquet files and changes this
    * digest, so [[ensureIndex]] rebuilds instead of serving stale (or
    * right-to-be-forgotten-deleted) vectors. Files inside `_`/`.`-prefixed
    * trees (commit debris, manifests) are excluded, matching Spark's own
    * visibility rules, so a vacuum or manifest refresh does not force a
    * rebuild. */
  private[graft] def dataFingerprint(spark: SparkSession, dir: String,
                                     table: String = "embeddings.parquet"): String = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val md = java.security.MessageDigest.getInstance("MD5")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val base = fs.getFileStatus(root)
    if (base.isFile) entries += s".:${base.getLen}:${base.getModificationTime}"
    else {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
        if (!rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
          entries += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
    }
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Root of the persisted-index cache: `GRAFT_ANN_CACHE_DIR` env, else
    * the `graft.ann.cache.dir` system property, else a per-user
    * `graft-<user>` directory under the JVM temp dir, owned by this user
    * and mode 0700 — the temp dir itself is world-writable, and another
    * local user must not be able to pre-plant index files. The default
    * is re-checked on every call: a temp cleaner may delete it, and
    * another user may then recreate it. */
  private[graft] def cacheRoot: String =
    sys.env.get("GRAFT_ANN_CACHE_DIR")
      .orElse(sys.props.get("graft.ann.cache.dir"))
      .getOrElse(defaultCacheRoot)

  private[graft] def defaultCacheRoot: String = privateDir(java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"), s"graft-${System.getProperty("user.name")}"))

  /** `dir`, created if missing, as a real directory (not a symlink) owned
    * by the JVM's uid with mode 0700. A directory another uid owns is
    * refused loudly: its contents could be planted. If `dir` cannot be
    * created at all (read-only temp dir), the path is returned as is: its
    * writes fail, and layout serves fall back to their inline plans. */
  private[graft] def privateDir(dir: java.nio.file.Path): String = {
    import java.nio.file.{FileAlreadyExistsException, Files, LinkOption}
    import java.nio.file.attribute.PosixFilePermissions
    val mode = PosixFilePermissions.fromString("rwx------")
    try Files.createDirectory(dir, PosixFilePermissions.asFileAttribute(mode))
    catch {
      case _: FileAlreadyExistsException =>
      case _: java.io.IOException if !Files.exists(dir, LinkOption.NOFOLLOW_LINKS) =>
        return dir.toString
    }
    val uid = new com.sun.security.auth.module.UnixSystem().getUid
    val owner = Files.getAttribute(dir, "unix:uid", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int].toLong
    if (!Files.isDirectory(dir, LinkOption.NOFOLLOW_LINKS) || owner != uid)
      throw new IllegalStateException(s"cache root $dir is not a directory " +
        s"owned by uid $uid (owner: uid $owner); set GRAFT_ANN_CACHE_DIR " +
        "to a private directory")
    Files.setPosixFilePermissions(dir, mode)
    dir.toString
  }

  private[graft] def cachedIndexDir(dir: String, kind: String): String = {
    // full path (sanitized) PLUS a digest of the raw path: readable, and
    // two source dirs can never alias one cache entry (hashCode or
    // sanitization alone could collide)
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"$cacheRoot/graft-ann-index/$kind-$safe-$h"
  }

  private[graft] def deleteLocal(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteLocal))
    f.delete()
  }

  /** A managed SCRATCH directory under the cache root for per-call
    * rebuild-from-scratch lifecycles (`d_ngram_incremental`): one FIXED
    * path per (source dir, kind, PROCESS), wiped on each call — so
    * repeated bench / spec invocations reuse one footprint instead of
    * leaking a fresh temp-dir index copy per run. The pid suffix (r10,
    * the ADVICE race) keeps two JVMs rebuilding the same source corpus
    * from clobbering each other's index mid-build — each process owns
    * its copy outright; same-process callers must additionally
    * serialize through [[withBuildLock]] (the wipe invalidates any
    * in-flight lazy serve over the old content). Unlike [[ensureIndex]]
    * entries there is no freshness marker: the caller rebuilds
    * unconditionally (rebuilding IS what it measures).
    *
    * Returns the PATH only — the caller wipes it inside its own
    * [[withBuildLock]] (the lock is not reentrant, so the wipe cannot
    * live here and be covered by the caller's critical section too). */
  private[graft] def scratchDir(dir: String, kind: String): String = {
    val pid = ProcessHandle.current().pid()
    // reap DEAD processes' scratch copies on the way in: the pid suffix
    // fixed the cross-JVM clobber race, but each JVM would otherwise
    // leave one full index copy in the cache root forever — the
    // unbounded-growth failure the fixed path originally eliminated,
    // just relocated. Ownership is probed via the `_scratch` MARKER file
    // [[resetScratch]] drops (holding the owning pid), never by parsing
    // `-p<digits>-` out of the entry NAME: non-scratch cache entries
    // embed the sanitized source path, which can itself contain a
    // `-p<digits>-` fragment (a corpus dir like `/data/set-p2-v1`), and
    // the r10 name-regex reaper would have deleted such a legitimate
    // cached index on every scratch call.
    Option(new java.io.File(s"$cacheRoot/graft-ann-index").listFiles())
      .getOrElse(Array.empty).toSeq.filter(_.isDirectory)
      .flatMap { d =>
        val m = new java.io.File(d, "_scratch")
        if (!m.exists()) None
        else new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
          .trim.toLongOption.map(d -> _)
      }
      .filter { case (_, p) =>
        p != pid && { val h = ProcessHandle.of(p); !(h.isPresent && h.get.isAlive) }
      }
      .foreach { case (d, _) => withBuildLock(d)(deleteLocal(d)) }
    new java.io.File(cachedIndexDir(dir, s"$kind-p$pid")).getPath
  }

  /** Reap cache entries whose SOURCE CORPUS no longer exists (r12).
    *
    * Takedown hooks and data fingerprints govern entries whose corpus
    * MUTATES, but an entry whose corpus is DELETED outright — a retired
    * dataset, a spec's temp directory after OS cleanup — was immortal:
    * nothing ever probes it again, so no freshness check ever runs, and
    * the cache root accretes one full index/layout copy per dead corpus
    * forever. Builds since r12 record their source path in a `_src`
    * file (`_built`-gated, installed atomically with the entry); this
    * sweep deletes, under the entry's build lock, every completed entry
    * whose recorded source is a LOCAL path that no longer exists.
    * Conservative by construction: entries without `_src` (pre-r12, or
    * version-pinned roots governed by VersionedStore vacuum) and
    * non-local sources (a scheme'd URI this process cannot cheaply
    * probe) are never touched; an entry mid-build has no `_built` and
    * is skipped. Corpus deletion IS the takedown signal here — the data
    * of record is gone, so derived copies must not outlive it. Returns
    * the reaped entry names. Called from the bucketed-pair device (one
    * listdir per build/serve check — cheap) and available for ops. */
  private[graft] def sweepOrphanedEntries(): Seq[String] = {
    val root = new java.io.File(s"$cacheRoot/graft-ann-index")
    // the lock-free pass only NOMINATES; the verdict is re-taken under
    // the entry's build lock (below) — between scan and delete another
    // process may recreate the corpus and rebuild the entry, and reaping
    // that now-valid entry would force a spurious corpus-sized rebuild
    val candidates = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory).filter(isOrphanedEntry)
    candidates.flatMap { d =>
      withBuildLock(d) {
        if (isOrphanedEntry(d)) { deleteLocal(d); Some(d.getName) } else None
      }
    }.sorted
  }

  /** True iff `d` is a COMPLETED cache entry whose recorded local source
    * corpus no longer exists — evaluated twice by the sweep: once
    * lock-free to nominate, once under the build lock to commit. */
  private def isOrphanedEntry(d: java.io.File): Boolean = {
    val src = new java.io.File(d, "_src")
    new java.io.File(d, "_built").exists() && src.exists() && {
      val path = new String(
        java.nio.file.Files.readAllBytes(src.toPath), "UTF-8").trim
      // ABSOLUTE local paths only: a relative source (some callers
      // pass work-tree-relative corpus dirs) is CWD-dependent and a
      // sweep from another directory would misjudge it; a scheme'd
      // URI is a store this process cannot cheaply probe
      val local = path.startsWith("/") ||
        (path.startsWith("file:") && !path.contains("://"))
      local && !new java.io.File(path.stripPrefix("file:")).exists()
    }
  }

  /** Wipe-and-recreate a [[scratchDir]] path — called by the owner
    * inside its build lock. Drops the `_scratch` ownership marker
    * (owning pid) immediately after the mkdir, so the dead-pid reaper
    * above can identify scratch entries without name parsing; the
    * mkdir→marker window is a few microseconds inside the owner's build
    * lock, and an unmarked orphan from a crash inside it is re-wiped by
    * the next same-path resetScratch. */
  private[graft] def resetScratch(path: String): Unit = {
    val f = new java.io.File(path)
    deleteLocal(f)
    f.mkdirs()
    java.nio.file.Files.write(new java.io.File(f, "_scratch").toPath,
      ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    ()
  }

  /** Build-if-stale for the persisted index cache. Freshness = the
    * `_built` marker carries BOTH the parameter fingerprint and the
    * corpus [[dataFingerprint]]; either changing forces a rebuild.
    * Builds are crash- and concurrency-safe: the index is written into a
    * unique temp dir with the marker added LAST, then installed with a
    * rename, all under an exclusive file lock — a reader either sees the
    * complete old index, the complete new one, or no marker (and then
    * queues on the lock to build), never a torn mix. */
  private[graft] def ensureIndex(spark: SparkSession, dir: String, kind: String,
                                 table: String = "embeddings.parquet")
                         (build: String => Unit): String =
    ensureFresh(
      new java.io.File(cachedIndexDir(dir, kind)),
      trainingFingerprint + "\n" + dataFingerprint(spark, dir, table),
      registerBase = Some(s"$dir/$table"))(build)

  /** Version-PINNED index cache over a [[graft.sources.VersionedStore]]
    * corpus: the cache key carries the store root AND the pinned version,
    * and freshness is the manifest fingerprint at that version — so a
    * `readAt(v1)` training run keeps being served by a v1-consistent
    * index after v2 lands (each version gets its own cache entry; the
    * live-dir [[ensureIndex]] would rebuild on v2 and serve v2 content to
    * a v1-pinned reader). The one mutation that can reach a committed
    * manifest — a `purgeKeys` erasure remap — changes the fingerprint and
    * forces the rebuild erasure demands. No derived-hook registration:
    * the fingerprint is the whole freshness story here, and versioned
    * tables are mutated through VersionedStore commits, not
    * `Store.deleteKeys`. */
  private[graft] def ensureIndexAt(spark: SparkSession, vroot: String,
                                   version: Long, kind: String)
                         (build: String => Unit): String = {
    // retention rides the store's own vacuum (r10): the first pinned
    // entry for a root wires `VersionedStore.vacuum(root, keepLast)` to
    // the cache through the Store registry — one call governs manifests
    // AND their derived index copies. The hook fires AFTER the manifests
    // are dropped, so the surviving manifest list IS the retained set:
    // an entry whose version lost its manifest can never serve a
    // legitimate readAt again, regardless of how many NEWER versions
    // happen to be cached (the keepLast-of-cached rule got that wrong
    // for roots pinned only at old versions)
    graft.sources.Store.registerVacuumHook(vroot, s"ann-index-cache")(
      _ => vacuumIndexCacheRetain(vroot,
        graft.sources.VersionedStore.versions(spark, vroot).toSet))
    val entry = new java.io.File(cachedIndexDir(s"$vroot@v$version", kind))
    val path = ensureFresh(
      entry,
      trainingFingerprint + s"\nvstore:v$version:" +
        graft.sources.VersionedStore.manifestFingerprint(spark, vroot, version),
      registerBase = None) { tmp =>
      build(tmp)
      // `_vpin` records WHICH (store root, version) this entry serves —
      // the metadata [[vacuumIndexCache]] keys its horizon rule on
      // (written before the `_built` marker, so a torn entry is never
      // both vacuum-visible and freshness-valid)
      java.nio.file.Files.write(new java.io.File(tmp, "_vpin").toPath,
        s"$vroot\n$version".getBytes("UTF-8"))
    }
    // serve-time touch: [[vacuumIndexCache]]'s idle-grace option keys on
    // this, so "recently handed out" entries can be spared deletion
    new java.io.File(entry, "_vpin").setLastModified(System.currentTimeMillis())
    path
  }

  /** Governance for the version-pinned cache: [[ensureIndexAt]] accretes
    * one entry per (store root, version, kind) forever — every training
    * run that pins a snapshot leaves an index copy nobody may ever pin
    * again. This applies [[graft.sources.VersionedStore.vacuum]]'s
    * horizon rule to those entries: keep every entry whose pinned
    * version is among the newest `keepLast` versions seen for `vroot`,
    * delete the rest. It needs no manual call: `VersionedStore.vacuum`
    * fires it with its own keepLast through the Store vacuum-hook
    * registry (wired by the first [[ensureIndexAt]] for the root) — the
    * versions whose manifests are dropped are exactly the ones whose
    * pinned indexes can never be legitimately requested again.
    * Purge-invalidation is untouched: a purged version's manifest digest
    * changes, so a SURVIVING entry for it still rebuilds on next use
    * (VersionedIndexSpec pins both). Returns the deleted entry names.
    *
    * Concurrency contract, honestly: deletion happens under the BUILD
    * locks, which a serve only holds while (re)building — a reader that
    * already took a path from [[ensureIndexAt]] and is mid-scan when its
    * entry is vacuumed can fail with FileNotFoundException and must
    * retry through [[ensureIndexAt]] (which rebuilds). When serves may
    * race retention, pass `minIdleMillis` > the longest query: entries
    * whose `_vpin` was touched (serve-time) within the window are
    * spared this round and reaped on a later pass. The default is 0 —
    * the deterministic exactly-k-newest rule. */
  def vacuumIndexCache(vroot: String, keepLast: Int,
                       minIdleMillis: Long = 0L): Seq[String] = {
    require(keepLast >= 1, "must retain at least the newest pinned version")
    val root = new java.io.File(s"$cacheRoot/graft-ann-index")
    val entries = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        val vpin = new java.io.File(d, "_vpin")
        if (!vpin.exists()) None
        else new String(java.nio.file.Files.readAllBytes(vpin.toPath),
          "UTF-8").split("\n", 2) match {
          case Array(r, v) if r == vroot => v.trim.toLongOption.map(d -> _)
          case _ => None
        }
      }
    val keepVers = entries.map(_._2).distinct.sorted.takeRight(keepLast).toSet
    reapEntries(entries, keepVers, minIdleMillis)
  }

  /** [[vacuumIndexCache]] with the retained set given EXPLICITLY — the
    * form the store's own vacuum wires up: an entry is retained iff its
    * version still has a manifest. The keepLast form above keys on the
    * newest-k of the CACHED versions, which is right for manual cache
    * pruning but wrong as the store hook — indexes pinned only at old
    * versions would survive every vacuum while `readAt` of their
    * versions can never succeed again. */
  def vacuumIndexCacheRetain(vroot: String, retained: Set[Long],
                             minIdleMillis: Long = 0L): Seq[String] = {
    val root = new java.io.File(s"$cacheRoot/graft-ann-index")
    val entries = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        val vpin = new java.io.File(d, "_vpin")
        if (!vpin.exists()) None
        else new String(java.nio.file.Files.readAllBytes(vpin.toPath),
          "UTF-8").split("\n", 2) match {
          case Array(r, v) if r == vroot => v.trim.toLongOption.map(d -> _)
          case _ => None
        }
      }
    reapEntries(entries, retained, minIdleMillis)
  }

  private def reapEntries(entries: Seq[(java.io.File, Long)],
                          keepVers: Set[Long],
                          minIdleMillis: Long): Seq[String] = {
    val idleFloor = System.currentTimeMillis() - minIdleMillis
    val victims = entries.filterNot { case (d, v) =>
      keepVers(v) ||
        new java.io.File(d, "_vpin").lastModified() > idleFloor }
    victims.foreach { case (d, _) => withBuildLock(d)(deleteLocal(d)) }
    victims.map(_._1.getName).sorted
  }

  /** Shared build-if-stale core: marker check, JVM + cross-process build
    * locks, temp-dir build with marker-last, atomic-rename install.
    * `force = true` rebuilds even when the marker is fresh — the
    * layout-fresh contract the bucketed-pair `reuse = false` callers keep
    * (Verify's explicit `*_bucketed` cells measure build + serve); forced
    * concurrent builders serialize on the lock and each installs a
    * complete generation. */
  private[graft] def ensureFresh(idx: java.io.File, want: String,
                                 registerBase: Option[String],
                                 force: Boolean = false)
                                (build: String => Unit): String = {
    def fresh: Boolean = {
      val marker = new java.io.File(idx, "_built")
      marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == want
    }
    if (!force && fresh) return idx.getPath
    withBuildLock(idx) {
      if (force || !fresh) { // re-check: the lock holder before us may have built it
        val tmp = new java.io.File(idx.getParentFile,
          s"${idx.getName}.build-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          build(tmp.getPath)
          // record the SOURCE path before the marker: the orphan sweeper
          // ([[sweepOrphanedEntries]]) reaps entries whose corpus is gone
          registerBase.foreach(base =>
            java.nio.file.Files.write(new java.io.File(tmp, "_src").toPath,
              base.getBytes("UTF-8")))
          java.nio.file.Files.write(new java.io.File(tmp, "_built").toPath,
            want.getBytes("UTF-8"))
          deleteLocal(idx)
          require(tmp.renameTo(idx), s"could not install ANN index at $idx")
          registerBase.foreach(base => graft.sources.Store.registerDerived(
            base, idx.getPath)(() => deleteLocal(idx)))
        } finally deleteLocal(tmp) // no-op after a successful rename
      }
    }
    idx.getPath
  }

  /** Two locks around a cache-entry mutation: a JVM monitor first
    * (FileChannel.lock THROWS on overlap from the same JVM instead of
    * blocking), then the cross-process file lock — together one mutator
    * at a time, anywhere on the host. Shared by [[ensureFresh]] and the
    * versioned-corpus bootstrap in [[pqVersionedServe]], which without it
    * could have two processes deleting the root out from under each
    * other or observing a committed version before its source marker
    * landed (torn state cached forever by [[ensureIndexAt]]). */
  private[graft] def withBuildLock[T](idx: java.io.File)(body: => T): T = {
    val mon = jvmBuildLocks.computeIfAbsent(idx.getPath, _ => new Object)
    mon.synchronized {
      idx.getParentFile.mkdirs()
      val raf = new java.io.RandomAccessFile(
        new java.io.File(idx.getParentFile, s".${idx.getName}.lock"), "rw")
      try {
        val lock = raf.getChannel.lock()
        try body finally lock.release()
      } finally raf.close()
    }
  }

  private val jvmBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** [[pqTopKIndexed]] over a cached [[pqIndexBuild]]: first call trains,
    * every later call times pure query latency. */
  def pqTopKCached(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(spark, dir, "pq")(pqIndexBuild(spark, dir, _))
    pqTopKIndexed(spark, dir, idx)
  }

  /** [[ivfTopKIndexed]] over a cached [[ivfIndexBuild]]. */
  def ivfTopKCached(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(spark, dir, "ivf")(ivfIndexBuild(spark, dir, _))
    ivfTopKIndexed(spark, dir, idx)
  }

  /** SNAPSHOT-CONSISTENT PQ serving over a versioned corpus: queries
    * pinned to `readAt(version)` are answered by an index built on
    * exactly that version's content — bit-identical to the inline
    * [[pqTopKFrom]] over the same snapshot (VersionedIndexSpec pins it,
    * including across a later commit and across a purge). Each version
    * keys its own cache entry, so a training run that recorded v1 keeps
    * its reproducible serve path while live traffic moves to v2. */
  def pqTopKCachedAt(spark: SparkSession, vroot: String, version: Long): DataFrame = {
    val emb = graft.sources.VersionedStore.readAt(spark, vroot, version)
    val idx = ensureIndexAt(spark, vroot, version, "pq")(
      pqIndexBuildFrom(spark, emb, _))
    pqTopKIndexedFrom(spark, emb, idx)
  }

  /** `s_pq_topk_versioned`: commit the embeddings corpus as a
    * VersionedStore version, then serve through the version-PINNED cached
    * index — the oracle is the UNMODIFIED full-corpus PQ SQL, so the
    * hash gate proves snapshot-pinned serving ≡ inline end-to-end (the
    * `s_ivf_upsert` device applied to snapshot consistency). The
    * versioned root lives in the cache dir keyed by the corpus data
    * fingerprint, so repeat runs re-serve the same committed version
    * instead of stacking identical commits and rebuilding. */
  def pqVersionedServe(spark: SparkSession, dir: String): DataFrame = {
    val root = cachedIndexDir(dir, "vcorpus")
    val want = dataFingerprint(spark, dir)
    val marker = new java.io.File(root, "_source")
    def reuse = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == want &&
      graft.sources.VersionedStore.latestVersion(spark, root).nonEmpty
    // the bootstrap mutates the root (delete + commit + marker), so it
    // runs under the same JVM + cross-process locks as ensureFresh — a
    // concurrent process either sees the complete bootstrapped root (the
    // marker lands LAST, after the commit) or queues here; never a torn
    // root cached by ensureIndexAt
    if (!reuse) withBuildLock(new java.io.File(root)) {
      if (!reuse) { // re-check: the lock holder before us may have bootstrapped
        deleteLocal(new java.io.File(root))
        graft.sources.VersionedStore.commitAppend(Tables.embeddings(spark, dir), root)
        java.nio.file.Files.write(marker.toPath, want.getBytes("UTF-8"))
      }
    }
    val v = graft.sources.VersionedStore.latestVersion(spark, root).get
    pqTopKCachedAt(spark, root, v)
  }

  /** ADC scoring + exact re-rank over a trained index (codebooks +
    * codes), shared by the inline and persisted-index paths. */
  private def pqScore(emb: DataFrame, cb: PqCodebook,
                      codes: DataFrame): DataFrame = {
    // ADC lookup tables for the query set: qdot(query, m, cell), packed
    // into one broadcastable array per query indexed m*K+cell.
    // r17 (optimization): one in-row expression over the Q query rows and
    // the driver-held codebook literal — the old build exploded the query
    // vectors to coords, semi-joined, broadcast-joined the codebook and
    // ran TWO aggregations (sum over j, then the map collect). qdot sums
    // integer-valued products < 2^53, so the j-ascending fold is
    // bit-identical to the old hash aggregate's order-free exact sum.
    // HOFs are fine HERE: this runs once per QUERY row (Q rows), not per
    // corpus row. Second pass: the table is an ARRAY, not a map —
    // `element_at` on an interpreted map literal linear-scans its K·M
    // entries per lookup, so the per-candidate probe below is the codegen
    // kernel [[graft.functions.PqExpressions.PqAdcDot]] doing M direct
    // array reads (same m-ascending fold → bit-identical sums).
    val carr = codebookSql(cb)
    val lutSql =
      s"flatten(transform(sequence(0, ${PqM - 1}), m -> " +
        s"transform($carr[m], cc -> " +
        s"aggregate(zip_with(slice(q, m * $SubDim + 1, $SubDim), cc, " +
        "(x, c) -> x * c), 0D, (a, v) -> a + v))))"
    val luts = emb.filter(col("vec_id") < AnnQueryIds)
      .select(col("vec_id").as("query_id"), expr(lutSql).as("lut"))
    // corpus scan × query LUTs: M array lookups per candidate, map-side
    val scored = codes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_dot",
        graft.functions.PqExpressions.pqAdcDot(col("code"), col("lut"), PqK)
          .cast("long"))
    val candidates = scored.withColumn("adc_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx_dot").desc, col("vec_id"))))
      .filter(col("adc_rank") <= PqRerankN)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // exact re-rank: Q·RerankN candidate rows broadcast against the corpus
    // scan (no shuffle of the corpus), then exact integer dot
    val exact = emb.select(col("vec_id").as("neighbor_id"), col("q").as("nv"))
      .join(broadcast(candidates), "neighbor_id")
      .join(broadcast(emb.filter(col("vec_id") < AnnQueryIds)
        .select(col("vec_id").as("query_id"), col("q").as("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        intDot(col("qv"), col("nv")).cast("long").as("dot"))
    exact.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))))
      .filter(col("rank") <= PqTopN)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"))
      .orderBy("query_id", "rank")
  }

  val pqTopKSql: String = {
    // assignment CTE generator: argmin cell per (vec_id, subspace)
    def assignCte(cents: String, n: Int): String =
      s"""pd$n AS (
         |  SELECT c.vec_id, c.m, k.cell,
         |    sum(k.cx * k.cx - 2 * c.x * k.cx) AS dist
         |  FROM pcoords c JOIN $cents k ON c.m = k.m AND c.j = k.j
         |  GROUP BY 1, 2, 3),
         |pa$n AS (
         |  SELECT vec_id, m, cell FROM (
         |    SELECT vec_id, m, cell,
         |      row_number() OVER (PARTITION BY vec_id, m
         |        ORDER BY dist, cell) AS rn
         |    FROM pd$n) t
         |  WHERE rn = 1)""".stripMargin
    s"""WITH qv AS (SELECT vec_id, $qListSql AS q FROM embeddings),
       |pcoords AS (
       |  SELECT vec_id, CAST(floor(i / $SubDim) AS INT) AS m,
       |    i % $SubDim AS j, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |hashed AS (
       |  SELECT vec_id,
       |    CAST(('0x' || substring(md5('pqseed:' || CAST(vec_id AS VARCHAR)), 1, 15))
       |         AS BIGINT) AS h
       |  FROM qv),
       |seeds AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell
       |    FROM hashed) t
       |  WHERE cell < $PqK),
       |pcents0 AS (
       |  SELECT c.m, s.cell, c.j, c.x AS cx
       |  FROM seeds s JOIN pcoords c ON s.vec_id = c.vec_id),
       |${assignCte("pcents0", 1)},
       |pcents1 AS (
       |  SELECT a.cell, c.m, c.j, floor(sum(c.x) / count(*)) AS cx
       |  FROM pa1 a JOIN pcoords c ON a.vec_id = c.vec_id AND a.m = c.m
       |  GROUP BY 1, 2, 3),
       |${assignCte("pcents1", 2)},
       |luts AS (
       |  SELECT c.vec_id AS query_id, k.m, k.cell, sum(c.x * k.cx) AS qdot
       |  FROM pcoords c JOIN pcents1 k ON c.m = k.m AND c.j = k.j
       |  WHERE c.vec_id < $AnnQueryIds
       |  GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY approx_dot DESC, neighbor_id) AS adc_rank
       |    FROM (
       |      SELECT l.query_id, a.vec_id AS neighbor_id,
       |        CAST(sum(l.qdot) AS BIGINT) AS approx_dot
       |      FROM pa2 a
       |      JOIN luts l ON l.m = a.m AND l.cell = a.cell
       |      WHERE a.vec_id <> l.query_id
       |      GROUP BY 1, 2) s) r
       |  WHERE adc_rank <= $PqRerankN),
       |rer AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(list_dot_product(qa.q, qb.q) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN qv qa ON qa.vec_id = c.query_id
       |  JOIN qv qb ON qb.vec_id = c.neighbor_id)
       |SELECT query_id, rank, neighbor_id, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM rer) t
       |WHERE rank <= $PqTopN
       |ORDER BY query_id, rank""".stripMargin
  }

  val kmeansIvfSql: String = {
    def distCte(cents: String, n: Int): String =
      s"""d$n AS (
         |  SELECT c.vec_id, k.cell,
         |    sum(k.cx * k.cx - 2 * c.x * k.cx) AS dist
         |  FROM coords c JOIN $cents k ON c.i = k.i
         |  GROUP BY 1, 2),
         |a$n AS (
         |  SELECT vec_id, cell, dist FROM (
         |    SELECT vec_id, cell, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM d$n) t
         |  WHERE rn = 1)""".stripMargin
    s"""WITH qv AS (SELECT vec_id, $qListSql AS q FROM embeddings),
       |coords AS (
       |  SELECT vec_id, i, q[i + 1] AS x
       |  FROM qv, UNNEST(range(0, $Dim)) AS t(i)),
       |vnorm AS (SELECT vec_id, sum(x * x) AS v2 FROM coords GROUP BY 1),
       |hashed AS (
       |  SELECT vec_id,
       |    CAST(('0x' || substring(md5('seed:' || CAST(vec_id AS VARCHAR)), 1, 15))
       |         AS BIGINT) AS h
       |  FROM qv),
       |seeds AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id,
       |      CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS cell
       |    FROM hashed) t
       |  WHERE cell < $KmeansCells),
       |cents0 AS (
       |  SELECT s.cell, c.i, c.x AS cx
       |  FROM seeds s JOIN coords c ON s.vec_id = c.vec_id),
       |${distCte("cents0", 1)},
       |cents1 AS (
       |  SELECT a.cell, c.i, floor(sum(c.x) / count(*)) AS cx
       |  FROM a1 a JOIN coords c ON a.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |${distCte("cents1", 2)}
       |SELECT a.cell, count(*) AS n_members,
       |  CAST(sum(v.v2 + a.dist) AS BIGINT) AS inertia
       |FROM a2 a JOIN vnorm v ON a.vec_id = v.vec_id
       |GROUP BY a.cell
       |ORDER BY a.cell""".stripMargin
  }
}
