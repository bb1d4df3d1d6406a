package graft.ops

import graft.Tables
import graft.sources.DerivedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Text-pipeline operators over the documents table: exact dedup, token
  * counting, quality scoring. (Near-dup families live in graft.dedup.)
  *
  * Scale: all of these are embarrassingly parallel scans with one
  * hash-aggregate; the dedup groupBy shuffles on a 128-bit digest, which
  * distributes uniformly — no skew mitigation needed.
  */
object TextOps {

  /** P8 / exact dedup: group by md5(text), keep the smallest doc_id.
    * Hashing the text (not grouping raw strings) keeps shuffle rows small
    * when documents are MB-sized. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  /** Token counting: whitespace tokens per doc, aggregated per language.
    * (The BPE-ish variant is in graft.functions.TextFunctions.) */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("n_tokens",
        size(split(trim($"text"), "\\s+")).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("total_tokens"),
           max($"n_tokens").as("max_tokens"))
      .orderBy($"lang")
  }

  val tokenStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens, max(n_tokens) AS max_tokens
      |FROM (
      |  SELECT lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents) t
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Quality scoring: per-doc length / digit-ratio / uppercase-ratio
    * heuristics, integer-scaled so the oracle hash is exact. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val txt = $"text"
    // greatest(len, 1): an empty document must score 0, not NULL —
    // divide-by-zero yields null in Spark but must match DuckDB exactly.
    val nChars = greatest(length(txt), lit(1)).cast("double")
    // long math BEFORE the multiply: int counts × 10000 wrap negative
    // past ~214k matching chars (the oracle's double arithmetic doesn't)
    val nDigits = (length(txt) - length(regexp_replace(txt, "[0-9]", ""))).cast("long")
    val nUpper = (length(txt) - length(regexp_replace(txt, "[A-Z]", ""))).cast("long")
    val nSpaces = (length(txt) - length(regexp_replace(txt, " ", ""))).cast("long")
    Tables.documents(spark, dir)
      .select($"doc_id",
        length(txt).cast("long").as("n_chars"),
        floor(nDigits * lit(10000L) / nChars).cast("long").as("digit_bp"),
        floor(nUpper * lit(10000L) / nChars).cast("long").as("upper_bp"),
        floor(nSpaces * lit(10000L) / nChars).cast("long").as("space_bp"))
      .orderBy($"doc_id")
  }

  // Integer basis points via floor(int * 10000 / len) — identical integer
  // division semantics in both engines, no float comparison at all.
  val qualityScoreSql: String =
    """SELECT doc_id,
      |  CAST(len(text) AS BIGINT) AS n_chars,
      |  CAST(floor(len(regexp_replace(text, '[^0-9]', '', 'g')) * 10000.0
      |       / greatest(len(text), 1)) AS BIGINT) AS digit_bp,
      |  CAST(floor(len(regexp_replace(text, '[^A-Z]', '', 'g')) * 10000.0
      |       / greatest(len(text), 1)) AS BIGINT) AS upper_bp,
      |  CAST(floor((len(text) - len(replace(text, ' ', ''))) * 10000.0
      |       / greatest(len(text), 1)) AS BIGINT) AS space_bp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Trained quality classifier, frozen-weights scoring form: a logistic
    * model over the [[qualityScore]] features, with weights fit offline
    * by [[graft.ml.LogReg.train]] and published here as integer micros
    * (the `params.py` pattern — fit once, ship constants). The logit is
    * computed ENTIRELY in BIGINT arithmetic (integer features × integer
    * micro-weights), so the oracle hash is exact with no float in either
    * engine; the decision is the logit's sign. [[graft.ml.LogReg]] holds
    * the general float-weight trainer/scorer this freezes. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val txt = $"text"
    val nChars = length(txt).cast("long")
    // greatest(len, 1) in the denominator ONLY: an empty doc gets bp = 0
    // (not NULL) in both engines; n_chars itself stays the true length.
    val denom = greatest(nChars, lit(1L))
    val nDigits = (length(txt) - length(regexp_replace(txt, "[0-9]", ""))).cast("long")
    val nUpper = (length(txt) - length(regexp_replace(txt, "[A-Z]", ""))).cast("long")
    val nSpaces = (length(txt) - length(regexp_replace(txt, " ", ""))).cast("long")
    val digitBp = floor(nDigits * lit(10000) / denom).cast("long")
    val upperBp = floor(nUpper * lit(10000) / denom).cast("long")
    val spaceBp = floor(nSpaces * lit(10000) / denom).cast("long")
    val logit = lit(ClassifierBiasMicros) +
      digitBp * lit(ClassifierWeightsMicros(0)) +
      upperBp * lit(ClassifierWeightsMicros(1)) +
      spaceBp * lit(ClassifierWeightsMicros(2)) +
      least(nChars, lit(2000L)) * lit(ClassifierWeightsMicros(3))
    Tables.documents(spark, dir)
      .select($"doc_id", logit.as("logit_micros"),
        (logit > 0).cast("long").as("is_quality"))
      .orderBy($"doc_id")
  }

  /** Frozen classifier constants (micros): bias, then weights for
    * digit_bp, upper_bp, space_bp, min(n_chars, 2000). */
  val ClassifierBiasMicros: Long = -545000L
  val ClassifierWeightsMicros: Array[Long] = Array(-300L, -200L, 150L, 900L)

  val qualityClassifierSql: String =
    """SELECT doc_id,
      |  CAST(-545000
      |   - 300 * CAST(floor(len(regexp_replace(text, '[^0-9]', '', 'g')) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   - 200 * CAST(floor(len(regexp_replace(text, '[^A-Z]', '', 'g')) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   + 150 * CAST(floor((len(text) - len(replace(text, ' ', ''))) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   + 900 * least(len(text), 2000) AS BIGINT) AS logit_micros,
      |  CAST(CASE WHEN -545000
      |   - 300 * CAST(floor(len(regexp_replace(text, '[^0-9]', '', 'g')) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   - 200 * CAST(floor(len(regexp_replace(text, '[^A-Z]', '', 'g')) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   + 150 * CAST(floor((len(text) - len(replace(text, ' ', ''))) * 10000.0
      |         / greatest(len(text), 1)) AS BIGINT)
      |   + 900 * least(len(text), 2000) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Corpus n-gram statistics: the top-5 word bigrams per language by
    * document frequency (count DESC, bigram ASC tiebreak — a total order,
    * so rank assignment is deterministic). Written as the row_number
    * window form; in extension-installed sessions
    * graft.plans.RewriteWindowTopK turns it into the mixed-direction
    * bounded-heap aggregate (functions.TopKOrdered) — string-keyed, so
    * the oracle hash also gates that aggregate's variable-width
    * serialization path. */
  def topNgrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // r18: bigram strings via the codegen graft_bigrams kernel — the
    // transform(sequence...) lambda this replaces evaluated interpreted
    // per element (bit-identical output; RepetitionKernelSpec's sibling
    // pins the bigram equality through the dsir path)
    graft.functions.ShingleExpressions.register(spark)
    val bigrams = Tables.documents(spark, dir)
      .select($"lang", split(trim(lower($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 2)
      .select($"lang", explode(
        graft.functions.ShingleExpressions.bigrams($"t")).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bg")
    bigrams.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"lang", $"rank", $"bg", $"n")
      .orderBy($"lang", $"rank")
  }

  val topNgramsSql: String =
    """WITH toks AS (
      |  SELECT lang, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |eligible AS (SELECT * FROM toks WHERE len(t) >= 2),
      |bg AS (
      |  SELECT lang, t[i] || ' ' || t[i + 1] AS bg
      |  FROM eligible, UNNEST(range(1, len(t))) AS r(i)),
      |cnt AS (SELECT lang, bg, count(*) AS n FROM bg GROUP BY 1, 2)
      |SELECT lang, rank, bg, n FROM (
      |  SELECT lang, bg, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS rank
      |  FROM cnt) t
      |WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** Unicode NFC normalization audit (`t_normalize_text`) — the
    * normalize-before-hash stage every web pipeline runs ahead of dedup:
    * decomposed "e + U+0301" and composed "é" must hash as the same
    * text, or every encoder's composition choice masquerades as distinct
    * content. Runs the codegen `graft_nfc` expression
    * ([[graft.functions.NormalizeExpressions]]) over the corpus and
    * emits per-doc before/after lengths, a changed flag, and the md5 of
    * the normalized text — the synthetic corpus is ASCII, so the query
    * PLANTS a decomposed suffix on doc_id % 7 == 0 and its composed twin
    * on % 7 == 1 (both engines), making the oracle hash-gate the actual
    * composition: the decomposed plants must come out changed and one
    * char shorter, the composed plants untouched. Map-only; the NFC
    * fast path keeps already-composed text allocation-free. */
  def nfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.NormalizeExpressions.register(spark)
    val raw = when($"doc_id" % 7 === 0, concat($"text", lit(" cafe\u0301")))
      .when($"doc_id" % 7 === 1, concat($"text", lit(" caf\u00e9")))
      .otherwise($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id", $"raw",
        length($"raw").cast("long").as("n_before"),
        graft.functions.NormalizeExpressions.nfc($"raw").as("norm"))
      .select($"doc_id", $"n_before",
        length($"norm").cast("long").as("n_after"),
        ($"raw" =!= $"norm").cast("int").as("changed"),
        md5($"norm".cast("binary")).as("norm_md5"))
      .orderBy($"doc_id")
  }

  val nfcNormalizeSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 7 AS INT)
      |      WHEN 0 THEN text || ' cafe' || chr(769)
      |      WHEN 1 THEN text || ' caf' || chr(233)
      |      ELSE text END AS raw
      |  FROM documents),
      |n AS (SELECT doc_id, raw, len(raw) AS n_before,
      |        nfc_normalize(raw) AS norm FROM raw)
      |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
      |  CAST(len(norm) AS BIGINT) AS n_after,
      |  CAST(raw <> norm AS INT) AS changed,
      |  md5(norm) AS norm_md5
      |FROM n
      |ORDER BY doc_id""".stripMargin

  /** NFC-aware exact dedup (`t_dedup_nfc`) — [[dedupExact]] with
    * [[graft.functions.NormalizeExpressions.nfc]] applied before the
    * hash: two encoders' composition choices (decomposed "e + U+0301" vs
    * composed "é") are the SAME document, and a byte-hash dedup silently
    * keeps both copies. Planted twins (doc_id < 5 gain a decomposed
    * suffix; their +2⁶² twins the composed form, both engines) make the
    * gate discriminative on the ASCII corpus: each planted pair
    * collapses to one group here while byte dedup sees ten distinct
    * texts (spec-pinned control). Same map-combinable one-aggregate
    * shape as exact dedup — the normalizer adds a codegen-resident scan
    * pass, nothing to the shuffle. */
  def dedupNfc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.NormalizeExpressions.register(spark)
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = base
      .withColumn("raw",
        when($"doc_id" < 5, concat($"text", lit(" cafe\u0301")))
          .otherwise($"text"))
      .select($"doc_id", $"raw")
      .unionByName(base.filter($"doc_id" < 5)
        .select(($"doc_id" + graft.dedup.Dedup.ContainIdBase).as("doc_id"),
          concat($"text", lit(" caf\u00e9")).as("raw")))
    corpus
      .groupBy(md5(graft.functions.NormalizeExpressions.nfc($"raw")
        .cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  val dedupNfcSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id < 5 THEN text || ' cafe' || chr(769)
       |         ELSE text END AS raw
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${graft.dedup.Dedup.ContainIdBase} AS doc_id,
       |    text || ' caf' || chr(233) AS raw
       |  FROM documents WHERE doc_id < 5)
       |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus
       |GROUP BY md5(nfc_normalize(raw))
       |ORDER BY keep_id""".stripMargin

  /** Deterministic hash sampling: the reproducible train/holdout split a
    * data pipeline needs — membership depends only on (salt, doc_id), so
    * the same 10% sample falls out on any engine, any partitioning, any
    * run. This is the scale-safe form of `ORDER BY random() LIMIT n`
    * (which needs a global sort AND isn't reproducible): a pure map-side
    * filter the scan can stream through. */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.HashExpressions.register(spark)
    val bucket = graft.functions.HashExpressions.md5Prefix64(
      concat(lit("sample:"), $"doc_id".cast("string")), 15) % 100
    Tables.documents(spark, dir)
      .filter(bucket < 10)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  val hashSampleSql: String =
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE CAST(('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** Repetition-based quality metrics (the Gopher-rule family a pretraining
    * pipeline filters on): per document, the distinct-token ratio and the
    * share of the single most frequent word bigram — high top-bigram share
    * flags boilerplate/template pages. Docs need ≥ 2 tokens to have a
    * bigram; shorter docs are excluded (both engines apply the same gate).
    *
    * Two scan-local aggregations (token counts, bigram counts) re-joined on
    * doc_id; the bigram groupBy key is (doc_id, bigram), which distributes
    * uniformly at any corpus size. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17 (optimization): every statistic here is a function of ONE
    // document's own tokens, so none of it needs an aggregation — the old
    // shape exploded tokens AND bigrams through three doc-keyed hash
    // aggregates plus a join (4 exchanges for per-row-computable values).
    // r18: the in-row work itself is now ONE codegen pass
    // (graft_repetition_counts) — the r17 form composed it from an
    // interpreted `transform` (one concat string per bigram), a string
    // array_sort, and an interpreted `aggregate` run fold (the HOF trap,
    // guide §1.2 step 2). Bit-identical: max run of a sorted multiset =
    // max multiplicity; RepetitionKernelSpec pins kernel ≡ HOF corpus-wide.
    graft.functions.ShingleExpressions.register(spark)
    repetitionStatsOver(Tables.documents(spark, dir)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 2))
  }

  private def repetitionStatsOver(toks: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks
      .withColumn("rc",
        graft.functions.ShingleExpressions.repetitionCounts($"t"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        $"rc.n_distinct".as("n_distinct"),
        $"rc.top_bigram_n".as("top_bigram_n"),
        (size($"t") - 1).cast("long").as("n_bigrams"))
      .select($"doc_id", $"n_tokens",
        floor($"n_distinct" * 10000 / $"n_tokens").cast("long").as("distinct_bp"),
        floor($"top_bigram_n" * 10000 / $"n_bigrams").cast("long").as("top_bigram_bp"))
      .orderBy($"doc_id")
  }

  val repetitionStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |eligible AS (SELECT * FROM toks WHERE len(t) >= 2),
      |tok AS (SELECT doc_id, UNNEST(t) AS tok FROM eligible),
      |ts AS (
      |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
      |  FROM tok GROUP BY 1),
      |bg AS (
      |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
      |  FROM eligible, UNNEST(range(1, len(t))) AS r(i)),
      |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      |bgs AS (
      |  SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
      |  FROM bgc GROUP BY 1)
      |SELECT ts.doc_id, ts.n_tokens,
      |  CAST(floor(n_distinct * 10000 / n_tokens) AS BIGINT) AS distinct_bp,
      |  CAST(floor(top_bigram_n * 10000 / n_bigrams) AS BIGINT) AS top_bigram_bp
      |FROM ts JOIN bgs ON ts.doc_id = bgs.doc_id
      |ORDER BY ts.doc_id""".stripMargin

  /** Sequence packing: assign documents to fixed-capacity context windows
    * (2048 tokens) by running offset — the "pack short docs into one
    * training sequence" step of an LLM data pipeline. A document's chunk
    * is `start_offset DIV capacity` where start_offset is the running
    * token total of everything packed before it, i.e. greedy sequential
    * fill in a deterministic order.
    *
    * Scale: packing is per-language (the natural pack boundary), so the
    * cumulative window partitions by lang — no global single-task sort.
    * Within a partition the running sum is one pass; a 100 TB corpus
    * packs as thousands of independent (lang-)shards. For finer
    * parallelism the same query runs with any deterministic shard key in
    * the PARTITION BY (e.g. hash(doc_id) % N). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 2048
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
      .withColumn("chunk", expr(s"(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id " +
        s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) DIV $cap"))
      .groupBy($"lang", $"chunk")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("chunk_tokens"))
      .orderBy($"lang", $"chunk")
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_tok,
      |    (CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |     - n_tok) // 2048 AS chunk
      |  FROM d)
      |SELECT lang, chunk, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS chunk_tokens
      |FROM c
      |GROUP BY lang, chunk
      |ORDER BY lang, chunk""".stripMargin

  /** Deterministic stratified sampling: a fixed per-language quota (5
    * docs) chosen by salted hash rank — the reproducible "cap every
    * stratum" step of corpus mixing. Unlike `sampleBy` (RNG, partition-
    * order dependent) the selection is a pure function of (salt, doc_id),
    * identical on any engine and cluster shape. The rank window is the
    * row_number-top-k pattern, so in extension-installed sessions the
    * optimizer rewrites it to the bounded-heap aggregate (no per-stratum
    * full sort). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.HashExpressions.register(spark)
    val h = graft.functions.HashExpressions.md5Prefix64(
      concat(lit("strat:"), $"doc_id".cast("string")), 15)
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars", h.as("h"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"lang", $"rank", $"doc_id", $"n_chars")
      .orderBy($"lang", $"rank")
  }

  val stratifiedSampleSql: String =
    """SELECT lang, rank, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY
      |      CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT), doc_id) AS rank
      |  FROM documents) t
      |WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** End-to-end training-mix manifest: the full curation pipeline in one
    * declarative plan — exact dedup (keep the smallest doc_id per content
    * hash), a length-based quality gate, a deterministic per-language cap
    * (50 docs by salted hash rank), and hash sharding for the writer.
    * Emits per (lang, shard) manifest rows. Every stage is an operator
    * this library also exposes standalone; composing them stays ONE
    * Catalyst plan, so the optimizer sees through the whole pipeline
    * (column pruning reaches the scan, the dedup shuffle feeds the quota
    * window without rematerialization). */
  def trainingMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.HashExpressions.register(spark)
    val docs = Tables.documents(spark, dir)
    // stage 1: exact dedup by content hash, survivor = min doc_id
    val survivors = docs
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    // stage 2: re-attach features + quality gate
    val gated = docs.join(survivors, "doc_id")
      .filter($"n_chars" >= 100L && $"n_chars" <= 20000L)
    // stage 3: per-language quota by salted hash
    val h = graft.functions.HashExpressions.md5Prefix64(
      concat(lit("mix:"), $"doc_id".cast("string")), 15)
    val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
    val capped = gated.select($"doc_id", $"lang", $"n_chars", h.as("h"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 50)
    // stage 4: shard assignment for the writer + manifest rollup
    capped
      .withColumn("shard", pmod($"h", lit(8L)))
      .groupBy($"lang", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang", $"shard")
  }

  val trainingMixSql: String =
    """WITH survivors AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |gated AS (
      |  SELECT d.doc_id, d.lang, d.n_chars,
      |    CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
      |         AS BIGINT) AS h
      |  FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
      |  WHERE d.n_chars >= 100 AND d.n_chars <= 20000),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT doc_id, lang, n_chars, h,
      |      row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
      |    FROM gated) t
      |  WHERE rank <= 50)
      |SELECT lang, h % 8 AS shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM capped
      |GROUP BY lang, h % 8
      |ORDER BY lang, shard""".stripMargin

  /** Text normalization: strip stopwords ('a'/'an'/'the'), collapse runs
    * of whitespace, trim — the canonicalization step that runs before
    * exact dedup so trivially-reworded copies hash identically. Emits the
    * normalized digest plus before/after lengths (the shrink ratio is
    * itself a quality signal).
    *
    * Pure per-row regexp_replace chain: map-only, stays in whole-stage
    * codegen, trivially parallel at any scale. The patterns stick to the
    * syntax subset Java regex and RE2 agree on (\b, \s, alternation — no
    * backrefs, no lookaround), so both engines produce identical bytes and
    * the md5 digests hash-match. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = trim(regexp_replace(
      regexp_replace(lower($"text"), "\\b(a|an|the)\\b", ""),
      "\\s+", " "))
    Tables.documents(spark, dir)
      .select($"doc_id", length($"text").cast("long").as("n_raw"),
        norm.as("norm"))
      .select($"doc_id", $"n_raw", length($"norm").cast("long").as("n_norm"),
        md5($"norm").as("norm_md5"))
      .orderBy($"doc_id")
  }

  /** Per-language frequent tokens via the Misra–Gries sketch
    * (functions.FreqItems): heavy hitters when the token domain does NOT
    * fit a shuffle (the exact-count path, `a_mode_per_user` /
    * `t_top_ngrams`, covers bounded domains). Each map task ships ≤ k
    * counters per language; estimates are deterministic-given-merge-order
    * but the sketch's contents are not an engine-portable artifact, so
    * this is a rows-only query — FreqItemsSpec pins the actual
    * guarantees (everything above n/(k+1) present; est ≤ true ≤ est+err)
    * against exact counts. */
  def freqTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.FreqItems.register(spark)
    Tables.documents(spark, dir)
      .select($"lang", explode(split(trim(lower($"text")), "\\s+")).as("tok"))
      .groupBy($"lang")
      .agg(call_function("graft_freq_items", $"tok", lit(16)).as("fi"))
      .select($"lang", explode($"fi").as("f"))
      .select($"lang", $"f.item".as("item"), $"f.est".as("est"), $"f.err".as("err"))
      .orderBy($"lang", $"est".desc, $"item")
  }

  /** Exact-count twin of [[freqTokens]] (`t_freq_tokens_exact`): the same
    * per-language token stream, but counted exactly and top-16 per
    * language — viable whenever the token domain fits a shuffle, and the
    * oracle-able pin for the sketch (same k, same grouping, same
    * tokenization; FreqItemsSpec separately proves every token the exact
    * twin surfaces above n/(k+1) also appears in the sketch). The
    * per-group top-k goes through RewriteWindowTopK, so counting is one
    * map-side-combined aggregation and the rank never materializes the
    * full (lang, token) domain past the heap. */
  def freqTokensExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select($"lang", explode(split(trim(lower($"text")), "\\s+")).as("tok"))
      .groupBy($"lang", $"tok")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok")
    counts.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 16)
      .select($"lang", $"rank", $"tok", $"cnt")
      .orderBy($"lang", $"rank")
  }

  val freqTokensExactSql: String =
    """WITH toks AS (
      |  SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
      |SELECT lang, rank, tok, cnt FROM (
      |  SELECT lang, tok, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
      |  FROM c) t
      |WHERE rank <= 16
      |ORDER BY lang, rank""".stripMargin

  val normalizeTextSql: String =
    """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_raw,
      |  CAST(len(norm) AS BIGINT) AS n_norm, md5(norm) AS norm_md5
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text), '\b(a|an|the)\b', '', 'g'),
      |         '\s+', ' ', 'g')) AS norm
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** RAG/context chunking: fixed character windows with overlap. Each
    * doc fans out to ceil(max(n−overlap,1) / stride) chunks via an
    * in-row sequence + posexplode — map-only, chunks co-partitioned with
    * their parent doc, no shuffle (the same fan-out shape as video frame
    * sampling). Chunk identity is the md5 of the exact substring, so
    * the oracle pins the window arithmetic AND the text slicing. */
  val ChunkSize = 200
  val ChunkStride = 150 // = size − overlap

  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"text", length($"text").cast("long").as("n"))
      .select($"doc_id", $"text", $"n",
        posexplode(sequence(lit(0L), greatest($"n" - 1, lit(0L)), lit(ChunkStride.toLong)))
          .as(Seq("chunk_idx", "start")))
      .filter($"chunk_idx" === 0 || $"start" < $"n") // last stride may overshoot
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        $"start",
        length(substring($"text", ($"start" + 1).cast("int"), lit(ChunkSize)))
          .cast("long").as("chunk_len"),
        md5(substring($"text", ($"start" + 1).cast("int"), lit(ChunkSize))).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Duplicated-span scrub — line/boilerplate removal generalized to a
    * corpus without line structure (the CCNet/RefinedWeb stage: drop
    * text repeated VERBATIM across documents, keeping the rest of each
    * doc): a token is scrubbed iff some 8-token window containing it
    * appears in ≥ 2 distinct documents. Differs from the dedup family
    * (which drops/flags whole documents) and from decontamination
    * (which probes against an eval set): this TRANSFORMS content,
    * emitting per-doc token/window/coverage counts and the md5 of the
    * scrubbed text so the oracle pins the reconstruction, not just the
    * arithmetic.
    *
    * Scale shape: token and window fan-outs are in-row explodes
    * (map-only, co-partitioned with the doc); the one corpus-keyed
    * shuffle is the gram→document-frequency aggregate, equi-joined back
    * to windows on the gram — never an all-pairs space. Coverage is
    * bounded by 8× the duplicated windows. */
  val ScrubGram = 8
  val ScrubDf = 2
  /** 15 hex digits = 60 hash bits: the gram shuffle key. Keying the DF
    * aggregate and the hot-gram join on md5Prefix64(gram) instead of the
    * gram STRING cuts the shuffled row from ~70 B to 20 B (measured 25%
    * of x50 wall). Collisions (≈n²/2⁶¹) can scrub a non-duplicated
    * window, but the oracle computes the IDENTICAL hash, so both engines
    * agree bit-for-bit — the same determinism trade the dedup family
    * makes at these widths. */
  val ScrubHashHex = 15

  /** Hot-gram guard threshold for [[spanScrubGuarded]]: a gram whose
    * document frequency reaches this is "mega-hot" (site boilerplate on a
    * web corpus: df ≈ corpus size). The guarded variant routes those few
    * grams through a BROADCAST join so their window rows never shuffle —
    * without the guard every occurrence of a mega-hot gram lands in one
    * shuffle partition of the window join, the classic skew straggler. */
  val ScrubHotDf = 50

  /** Gram fan-out shared by the scrub family: one row per
    * [[ScrubGram]]-token window, keyed by the window's
    * [[ScrubHashHex]]-digit md5-prefix hash.
    *
    * r11: window IDENTITY hashes the NFC-normalized window string
    * (`graft_nfc` around the joined gram, DuckDB `nfc_normalize` in
    * lockstep) — the same composition-variant rule the dedup hash
    * families gained: a duplicated span re-encoded with decomposed
    * accents is the SAME span. Only the hash input normalizes; the
    * tokens themselves (and the reconstructed kept text) keep their
    * original bytes, because scrubbing must never rewrite what it
    * keeps. A space-joined gram is safe to normalize as a unit: NFC
    * cannot compose across the space separators. */
  private def gramWindows(toks: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    graft.functions.NormalizeExpressions.register(s)
    toks.filter($"n" >= ScrubGram)
      .select($"doc_id", $"t",
        explode(sequence(lit(0), $"n" - ScrubGram)).as("j"))
      .select($"doc_id", $"j",
        graft.functions.HashExpressions.md5Prefix64(
          graft.functions.NormalizeExpressions.nfc(
            concat_ws(" ", slice($"t", $"j" + 1, lit(ScrubGram)))), ScrubHashHex)
          .as("g"))
  }

  /** Shared reconstruction tail: collapse the flagged windows `dupWin`
    * (doc_id, j) to per-doc covered-index arrays and rebuild each doc's
    * kept text as the gap slices between covered indices — one in-row
    * merge pass, O(n) per doc (see the scale note on [[spanScrub]]).
    *
    * r17 (optimization): ONE doc-keyed aggregation over the WINDOW-level
    * rows, with the covered-index expansion done in-row AFTER the
    * aggregate. The previous shape exploded every flagged window into
    * [[ScrubGram]] (doc_id, idx) token rows and pushed that 8× fan-out
    * through a `distinct` exchange plus a second doc-keyed aggregation,
    * then joined TWO aggregates back onto `toks` (guide §2.3 "project
    * before the exchange" / §2.4 "remove shuffles outright"). Window
    * starts per doc are unique (each window matches at most one owner/df
    * row), so `collect_list(j)` + in-row
    * `array_distinct(flatten(sequence(j, j+G−1)))` reproduces the exact
    * covered set; n_covered = size(cov). Plan effect: 3 exchanges + an
    * 8×-wider shuffle → 1 window-level exchange + 1 join. */
  private def scrubReconstruct(toks: DataFrame, dupWin: DataFrame,
                               winCountCol: String): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    // Reconstruction stays IN-ROW: collapse a doc's covered indices to one
    // SORTED array (doc-keyed, ≤ n elements) and rebuild the kept text as
    // the gap slices between consecutive covered indices — one merge pass,
    // O(n) per doc. The alternatives both lose at scale: exploding every
    // corpus token and anti-joining on (doc, idx) shuffles token-level
    // rows (~64× more), and probing `array_contains(cov, i)` per token is
    // O(n·|cov|) — a straggler-task generator on a heavily-duplicated
    // 20k-token doc (~4·10⁸ comparisons in one row expression).
    // r18: both in-row steps are codegen kernels — the covered-index
    // expansion (`graft_covered_idx`) and the gap-merge kept-text
    // reconstruction (`graft_scrub_kept`). The r17 forms composed them
    // from nested interpreted `transform`/`filter`/`sequence` HOFs (one
    // lambda application + allocation per flagged window / per gap — the
    // HOF trap, guide §1.2 step 2). Bit-identical: ScrubKernelSpec pins
    // kernel ≡ HOF on the corpus and planted edges; the unchanged oracle
    // SQL gates every scrub query end-to-end.
    graft.functions.ScrubExpressions.register(s)
    val winAgg = dupWin.groupBy($"doc_id")
      .agg(count(lit(1)).as(winCountCol), collect_list($"j").as("js"))
      .withColumn("cov",
        graft.functions.ScrubExpressions.coveredIdx($"js", ScrubGram))
      .withColumn("n_covered", size($"cov").cast("long"))
      .drop("js")
    toks.select($"doc_id", $"t", $"n")
      .join(winAgg, Seq("doc_id"), "left")
      .withColumn("cov", coalesce($"cov", expr("CAST(array() AS ARRAY<INT>)")))
      .select($"doc_id",
        $"n".cast("long").as("n_tokens"),
        coalesce(col(winCountCol), lit(0L)).as(winCountCol),
        coalesce($"n_covered", lit(0L)).as("n_covered"),
        md5(graft.functions.ScrubExpressions.scrubKept($"t", $"cov"))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  private def scrubToks(spark: SparkSession, dir: String): DataFrame =
    scrubToksOf(Tables.documents(spark, dir))

  /** [[scrubToks]] over an arbitrary (doc_id, text) frame — shared by the
    * whole-corpus paths and the batched incremental self-dedup. */
  private def scrubToksOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.HashExpressions.register(spark)
    docs
      .select($"doc_id", split(trim($"text"), "\\s+").as("t"))
      .select($"doc_id", $"t", size($"t").as("n"))
  }

  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = scrubToks(spark, dir)
    // grams feeds BOTH the df aggregate and the window join; persist so
    // the window fan-out + hash runs once (at 100 TB: checkpoint)
    val grams = gramWindows(toks).persist()
    val hot = grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= ScrubDf).select($"g")
    val dupWin = grams.join(hot, "g").select($"doc_id", $"j")
    scrubReconstruct(toks, dupWin, "n_dup_windows")
  }

  /** [[spanScrub]] with the mega-hot-gram guard: grams at df ≥
    * [[ScrubHotDf]] take a BROADCAST join (df ≥ cap bounds their count at
    * n_windows/cap, so the broadcast side is small by construction) while
    * the long tail keeps the hash-shuffle join — identical output, but a
    * universal boilerplate gram no longer funnels its every occurrence
    * through one shuffle partition. TextOpsSpec pins bit-equality with
    * [[spanScrub]] on a corpus with a planted mega-hot gram; ScaleBench
    * measures the skew case. */
  def spanScrubGuarded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = scrubToks(spark, dir)
    val grams = gramWindows(toks).persist()
    val byDf = grams.groupBy($"g").agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= ScrubDf)
    val hotTail = byDf.filter($"df" < ScrubHotDf).select($"g")
    val hotMega = byDf.filter($"df" >= ScrubHotDf).select($"g")
    val dupWin = grams.join(hotTail, "g").select($"doc_id", $"j")
      .unionAll(grams.join(broadcast(hotMega), "g").select($"doc_id", $"j"))
    scrubReconstruct(toks, dupWin, "n_dup_windows")
  }

  /** Span-level eval decontamination — the production form of D8: instead
    * of DROPPING a training document that overlaps the held-out eval set
    * (`d_decontaminate`), scrub ONLY the overlapping spans and keep the
    * rest of the document. A token is scrubbed iff some
    * [[ScrubGram]]-token window containing it also occurs in an eval
    * document (doc_id % [[graft.dedup.Dedup.DecontamEvalMod]] == 0).
    *
    * Scale shape: the eval side is tiny by nature (eval suites are MBs,
    * the corpus is TBs), so its distinct window hashes BROADCAST and the
    * training-side probe is map-only — no corpus-keyed shuffle at all
    * until the per-doc covered aggregate; reconstruction is the same
    * in-row O(n) gap-merge as the scrub family. Emits the scrubbed
    * text's md5 so the oracle pins the reconstruction end-to-end. */
  def decontamScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evalMod = graft.dedup.Dedup.DecontamEvalMod
    val toksAll = scrubToks(spark, dir)
    val train = toksAll.filter($"doc_id" % evalMod =!= 0)
    val evalG = gramWindows(toksAll.filter($"doc_id" % evalMod === 0))
      .select($"g").distinct()
    val dupWin = gramWindows(train).join(broadcast(evalG), "g")
      .select($"doc_id", $"j")
    scrubReconstruct(train, dupWin, "n_eval_windows")
  }

  /** Occurrence-key encoding for [[selfDedupScrub]]: the (doc_id, j)
    * total order packed into one BIGINT so "globally first occurrence"
    * is a plain `min` on both engines. Bounds: j < 2²⁰ (docs under ~1M
    * tokens — far above any tokenizer context or the corpus) and
    * doc_id < 2⁴³; the product cannot overflow int64. */
  val SelfDedupEncBase = 1L << 20
  /** Companion doc_id bound of the (doc_id·2²⁰ + j) encoding: ids at or
    * above this cannot be packed without overflowing int64. Enforced
    * alongside the window bound — this repo's own planted-twin
    * convention uses doc_id + 2⁶², so an out-of-range id reaching the
    * self-dedup encoder is a REAL hazard, not a theoretical one. */
  val SelfDedupMaxDocId: Long = Long.MaxValue / SelfDedupEncBase

  /** Enforce the [[SelfDedupEncBase]] bounds LOUDLY: a doc with ≥ 2²⁰
    * windows would spill its occurrence keys into the next doc's range,
    * and a doc_id ≥ [[SelfDedupMaxDocId]] (or negative) overflows the
    * pack outright — either silently corrupts first-occurrence
    * ownership. A filter (not an unused assert column, which column
    * pruning would drop) so the check cannot be optimized away. */
  private def encBoundGuard(toks: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks.filter(
      when($"n".cast("long") - ScrubGram >= SelfDedupEncBase,
        raise_error(concat(lit("self-dedup: document "), $"doc_id",
          lit(s" exceeds the 2^20-window encoding bound ($SelfDedupEncBase)"))))
        .when($"doc_id" >= SelfDedupMaxDocId || $"doc_id" < 0,
          raise_error(concat(lit("self-dedup: doc_id "), $"doc_id",
            lit(s" is outside the encodable range [0, $SelfDedupMaxDocId)"))))
        .otherwise(lit(true)))
  }

  /** Corpus-internal duplicate-span removal (`t_selfdedup_scrub`) — the
    * ExactSubstr dedup of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (2022), re-expressed window-wise: any
    * [[ScrubGram]]-token window occurring MORE THAN ONCE in the corpus
    * (across documents or repeated inside one) keeps only its globally
    * FIRST occurrence — min over the (doc_id, j) order — and every later
    * occurrence is scrubbed from its document. This differs from
    * [[spanScrub]] (which drops ALL occurrences of a cross-doc span —
    * the boilerplate killer) in exactly the way that matters for
    * training data: the content survives once, so the corpus loses
    * redundancy, not information.
    *
    * Distributed shape for 100 TB: the paper's suffix array is a
    * single-machine structure; the window-hash form needs ONE map-side
    * combinable aggregate over the gram fan-out (min(enc), count — both
    * combine) and ONE equi-join of the fan-out against the (gram, owner)
    * table, then the scrub family's shared in-row O(n) gap-merge
    * reconstruction. No pairwise term anywhere: cost is linear in total
    * windows regardless of duplication structure. Mega-hot grams skew
    * the owner join's g-partitions — [[selfDedupScrubGuarded]] routes
    * them through a broadcast exactly like [[spanScrubGuarded]]. */
  def selfDedupScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = encBoundGuard(scrubToks(spark, dir))
    val grams = gramWindows(toks).persist()
    val owners = grams.groupBy($"g")
      .agg(min($"doc_id" * SelfDedupEncBase + $"j").as("own"),
        count(lit(1)).as("occ"))
      .filter($"occ" >= 2).select($"g", $"own")
    val dupWin = grams.join(owners, "g")
      .filter($"doc_id" * SelfDedupEncBase + $"j" =!= $"own")
      .select($"doc_id", $"j")
    scrubReconstruct(toks, dupWin, "n_selfdup_windows")
  }

  /** [[selfDedupScrub]] with the mega-hot-gram guard: owner rows of
    * grams at occurrence count ≥ [[ScrubHotDf]] BROADCAST (their count
    * is bounded at n_windows/[[ScrubHotDf]] by construction), so a
    * universal boilerplate window no longer funnels its every occurrence
    * through one shuffle partition. Bit-identical output —
    * TextOpsSpec pins it on a planted mega-hot corpus. */
  def selfDedupScrubGuarded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = encBoundGuard(scrubToks(spark, dir))
    val grams = gramWindows(toks).persist()
    val owners = grams.groupBy($"g")
      .agg(min($"doc_id" * SelfDedupEncBase + $"j").as("own"),
        count(lit(1)).as("occ"))
      .filter($"occ" >= 2)
    val tail = owners.filter($"occ" < ScrubHotDf).select($"g", $"own")
    val mega = owners.filter($"occ" >= ScrubHotDf).select($"g", $"own")
    val keyed = grams.withColumn("k", $"doc_id" * SelfDedupEncBase + $"j")
    val dupWin = keyed.join(tail, "g").filter($"k" =!= $"own")
      .select($"doc_id", $"j")
      .unionAll(keyed.join(broadcast(mega), "g").filter($"k" =!= $"own")
        .select($"doc_id", $"j"))
    scrubReconstruct(toks, dupWin, "n_selfdup_windows")
  }

  /** Window-owner store partition count (`gp = g % SelfDedupStoreParts`):
    * bounds the partitions a batch's probe must scan, like
    * [[graft.dedup.IncrementalDedup.StoreParts]]. */
  val SelfDedupStoreParts = 16

  private def selfStoreAt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    if (graft.sources.Store.hasLocalData(dir))
      spark.read.parquet(dir)
        .select(col("g"), col("own"), col("own_doc"), col("gp").cast("int"))
    else
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("g", LongType), StructField("own", LongType),
          StructField("own_doc", LongType), StructField("gp", IntegerType))))
  }

  /** Incremental cross-batch self-dedup — [[selfDedupScrub]] for a corpus
    * that arrives in crawl batches. The decisive property: ExactSubstr's
    * first-occurrence-wins rule is PREFIX-STABLE — a document's scrub
    * decision depends only on occurrences with SMALLER (doc_id, j) keys,
    * so under id-ordered batches no later batch can ever change an
    * already-emitted row. ([[spanScrub]]'s drop-ALL-occurrences rule is
    * not: the first copy of a span becomes scrub-worthy only when its
    * second copy arrives, so that rule fundamentally cannot stream with
    * immutable outputs. First-wins is the one span rule that does.)
    *
    * Mechanics mirror [[graft.dedup.IncrementalDedup.admitBatch]]: a
    * persistent (g → earliest occurrence key) store partitioned by
    * `gp = g % `[[SelfDedupStoreParts]]; a batch probes ONLY its touched
    * `gp=` partitions with its distinct window hashes broadcast while
    * they fit ([[SelfDedupBroadcastMaxGrams]] — the store side then
    * never shuffles; an oversized batch falls back to a shuffle hash
    * join instead of an executor OOM), scrubs a window iff a strictly smaller
    * occurrence key exists in the store or earlier in the batch, appends
    * the never-seen hashes with their batch-first keys, and reconstructs
    * its own documents with the shared gap-merge. Replay-safe for the
    * same reason admitBatch is: owners are min-stable under id-ordered
    * batches and the probe rejects only on `own < k`, so a half-appended
    * crash window replays to identical rows. The store carries
    * `own_doc = doc of the owning occurrence` so a takedown can free the
    * windows a removed document owns ([[selfDedupRemoveOwners]] — same
    * re-admission slack note as IncrementalDedup.removeOwners). */
  def selfDedupAdmitBatch(batch: DataFrame, storeDir: String): DataFrame =
    selfDedupAdmitBatch(batch, storeDir, SelfDedupBroadcastMaxGrams)

  /** Size gate on the store-probe broadcast: a crawl batch has roughly
    * one distinct window hash per token, so the probe side is
    * batch-token-sized — broadcast-safe for the documented "ingest batch
    * ≪ corpus" cadence, an executor OOM for a multi-GB batch. At 4M
    * hashes the broadcast relation is a few tens of MB; past it the
    * probe falls back to a shuffle hash join (the ScrubHotDf
    * broadcast/shuffle split shape) — bit-identical rows either way,
    * TextOpsSpec pins the equality by forcing the fallback. */
  val SelfDedupBroadcastMaxGrams = 4000000L

  /** The window-owner store's hash-identity stamp — see
    * [[graft.dedup.IncrementalDedup.storeFormat]] for the contract. */
  private[graft] def selfDedupStoreFormat: String =
    s"selfdedup-owner-store-canonv3-g$ScrubGram-enc$SelfDedupEncBase" +
      s"-gp$SelfDedupStoreParts"

  private[graft] def selfDedupAdmitBatch(batch: DataFrame, storeDir: String,
                                         maxBroadcastGrams: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    graft.sources.Store.ensureStoreFormat(storeDir, selfDedupStoreFormat)
    val toks = encBoundGuard(scrubToksOf(batch))
    val wins = gramWindows(toks)
      .withColumn("k", $"doc_id" * SelfDedupEncBase + $"j").persist()
    val bmin = wins.groupBy($"g").agg(min($"k").as("bown"))
      .withColumn("gp", pmod($"g", lit(SelfDedupStoreParts.toLong)).cast("int"))
      .persist()
    // ONE job answers both driver-side questions (r17, guide §1.2: fewer
    // passes): the touched-gp list for the partition-selective store
    // filter AND the batch's distinct-gram count for the broadcast gate —
    // previously a distinct().collect() plus a separate count() over the
    // same persisted frame.
    val gpCounts = bmin.groupBy($"gp").agg(count(lit(1)).as("n")).collect()
    val gps = gpCounts.map(_.getInt(0)).toSeq
    val nGrams = gpCounts.map(_.getLong(1)).sum
    // the partition-selective gp filter holds on BOTH routes; only the
    // probe join's build side is gated
    val storeSide = selfStoreAt(spark, storeDir).filter($"gp".isInCollection(gps))
    val probe =
      if (nGrams <= maxBroadcastGrams) broadcast(bmin.select($"g"))
      else bmin.select($"g")
    val hits = storeSide.join(probe, Seq("g"))
      .select($"g", $"own").persist()
    // the corpus-global first occurrence of g as of this batch is
    // min(store owner, batch minimum) — ONE owner table, ONE join over
    // the window fan-out, and no occurrence can double-book (vs the
    // two-join prior/intra split, which also needed a distinct)
    val ownAll = bmin.join(hits, Seq("g"), "left_outer")
      .select($"g",
        least(coalesce($"own", lit(Long.MaxValue)), $"bown").as("own_min"))
    val dupWin = wins.join(ownAll, "g").filter($"k" > $"own_min")
      .select($"doc_id", $"j")
    // materialize BEFORE the append mutates what a lazy re-read would see
    // (rows are replay-stable either way; the checkpoint also frees the
    // probe lineage for long-running callers)
    val out = scrubReconstruct(toks, dupWin, "n_selfdup_windows")
      .localCheckpoint()
    val newOwners = bmin.join(hits.select("g"), Seq("g"), "left_anti")
      .select($"g", $"bown".as("own"),
        // exact floor-div: EncBase is 2^20 and keys are non-negative, so
        // a shift avoids the long/long → double precision trap
        shiftright($"bown", 20).as("own_doc"), $"gp")
    newOwners.repartition($"gp")
      .write.mode("append").partitionBy("gp").parquet(storeDir)
    wins.unpersist(); bmin.unpersist(); hits.unpersist()
    out
  }

  /** `t_selfdedup_incremental`: the full documents table through
    * [[selfDedupAdmitBatch]] as three sequential id-range batches against
    * a fresh store — gated by the UNMODIFIED one-shot
    * [[selfDedupScrubSql]], so the hash gate PROVES sequential-
    * incremental ≡ global (the `d_incremental_admit` device at span
    * granularity). */
  def selfDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val width = maxId / 3 + 1
    // the managed wiped-per-call scratch entry, NOT a fresh temp dir per
    // invocation: the store is corpus-sized ((g, own, own_doc) per
    // distinct window) and this query runs in bench/verify/scale loops
    val parts = DerivedStore.withScratch(dir, "selfdedup-store") { storeDir =>
      (0L until 3L).map { i =>
        graft.ops.Legs.time("t_selfdedup_incremental", s"batch$i")(
          selfDedupAdmitBatch(
            docs.filter($"doc_id" >= i * width && $"doc_id" < (i + 1) * width),
            storeDir))
      }
    }
    parts.reduce(_ unionAll _).orderBy($"doc_id")
  }

  /** Takedown reach into the window-owner store: free every window a
    * removed document OWNS (partition-selective rewrite on the `gp=`
    * dirs with hits), so re-submitted identical spans are admitted fresh
    * instead of scrubbed against a ghost. Windows the victim merely
    * duplicated (owned elsewhere) need no touch — its rows are gone with
    * the base-table takedown. */
  def selfDedupRemoveOwners(spark: SparkSession, storeDir: String,
                            docs: Seq[Long]): Long =
    graft.sources.Store.deleteKeys(spark, storeDir, "own_doc", docs, Seq("gp"))

  val selfDedupScrubSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |grams AS (
       |  SELECT doc_id, i - 1 AS j,
       |    CAST(('0x' || substring(md5(nfc_normalize(
       |      list_aggregate(t[i:i+${ScrubGram - 1}], 'string_agg', ' '))),
       |      1, $ScrubHashHex)) AS BIGINT) AS g
       |  FROM base, UNNEST(generate_series(1, n - ${ScrubGram - 1})) AS s(i)
       |  WHERE n >= $ScrubGram),
       |owners AS (
       |  SELECT g, min(doc_id * $SelfDedupEncBase + j) AS own FROM grams
       |  GROUP BY g HAVING count(*) >= 2),
       |dupwin AS (SELECT doc_id, j FROM grams JOIN owners USING (g)
       |  WHERE doc_id * $SelfDedupEncBase + j <> own),
       |covered AS (SELECT DISTINCT doc_id, idx
       |  FROM dupwin, UNNEST(generate_series(j, j + ${ScrubGram - 1})) AS u(idx)),
       |tokens AS (SELECT doc_id, i - 1 AS idx, t[i] AS tok
       |  FROM base, UNNEST(generate_series(1, n)) AS s(i)),
       |kept AS (SELECT tokens.* FROM tokens ANTI JOIN covered USING (doc_id, idx))
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(w.n_selfdup_windows, 0) AS BIGINT) AS n_selfdup_windows,
       |  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
       |  COALESCE(k.kept_md5, md5('')) AS kept_md5
       |FROM base b
       |LEFT JOIN (SELECT doc_id, count(*) AS n_selfdup_windows FROM dupwin GROUP BY 1) w
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, count(*) AS n_covered FROM covered GROUP BY 1) c
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY idx)) AS kept_md5
       |  FROM kept GROUP BY 1) k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val decontamScrubSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |base0 AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |grams0 AS (
       |  SELECT doc_id, i - 1 AS j,
       |    CAST(('0x' || substring(md5(nfc_normalize(
       |      list_aggregate(t[i:i+${ScrubGram - 1}], 'string_agg', ' '))),
       |      1, $ScrubHashHex)) AS BIGINT) AS g
       |  FROM base0, UNNEST(generate_series(1, n - ${ScrubGram - 1})) AS s(i)
       |  WHERE n >= $ScrubGram),
       |base AS (SELECT * FROM base0
       |  WHERE doc_id % ${graft.dedup.Dedup.DecontamEvalMod} <> 0),
       |hot AS (SELECT DISTINCT g FROM grams0
       |  WHERE doc_id % ${graft.dedup.Dedup.DecontamEvalMod} = 0),
       |grams AS (SELECT * FROM grams0
       |  WHERE doc_id % ${graft.dedup.Dedup.DecontamEvalMod} <> 0),
       |dupwin AS (SELECT doc_id, j FROM grams JOIN hot USING (g)),
       |covered AS (SELECT DISTINCT doc_id, idx
       |  FROM dupwin, UNNEST(generate_series(j, j + ${ScrubGram - 1})) AS u(idx)),
       |tokens AS (SELECT doc_id, i - 1 AS idx, t[i] AS tok
       |  FROM base, UNNEST(generate_series(1, n)) AS s(i)),
       |kept AS (SELECT tokens.* FROM tokens ANTI JOIN covered USING (doc_id, idx))
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(w.n_eval_windows, 0) AS BIGINT) AS n_eval_windows,
       |  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
       |  COALESCE(k.kept_md5, md5('')) AS kept_md5
       |FROM base b
       |LEFT JOIN (SELECT doc_id, count(*) AS n_eval_windows FROM dupwin GROUP BY 1) w
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, count(*) AS n_covered FROM covered GROUP BY 1) c
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY idx)) AS kept_md5
       |  FROM kept GROUP BY 1) k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val spanScrubSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |grams AS (
       |  SELECT doc_id, i - 1 AS j,
       |    CAST(('0x' || substring(md5(nfc_normalize(
       |      list_aggregate(t[i:i+${ScrubGram - 1}], 'string_agg', ' '))),
       |      1, $ScrubHashHex)) AS BIGINT) AS g
       |  FROM base, UNNEST(generate_series(1, n - ${ScrubGram - 1})) AS s(i)
       |  WHERE n >= $ScrubGram),
       |hot AS (SELECT g FROM (
       |  SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1) h
       |  WHERE df >= $ScrubDf),
       |dupwin AS (SELECT doc_id, j FROM grams JOIN hot USING (g)),
       |covered AS (SELECT DISTINCT doc_id, idx
       |  FROM dupwin, UNNEST(generate_series(j, j + ${ScrubGram - 1})) AS u(idx)),
       |tokens AS (SELECT doc_id, i - 1 AS idx, t[i] AS tok
       |  FROM base, UNNEST(generate_series(1, n)) AS s(i)),
       |kept AS (SELECT tokens.* FROM tokens ANTI JOIN covered USING (doc_id, idx))
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(w.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
       |  COALESCE(k.kept_md5, md5('')) AS kept_md5
       |FROM base b
       |LEFT JOIN (SELECT doc_id, count(*) AS n_dup_windows FROM dupwin GROUP BY 1) w
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, count(*) AS n_covered FROM covered GROUP BY 1) c
       |  USING (doc_id)
       |LEFT JOIN (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY idx)) AS kept_md5
       |  FROM kept GROUP BY 1) k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val chunkDocsSql: String =
    s"""SELECT doc_id,
       |  CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * $ChunkStride AS BIGINT) AS start,
       |  CAST(len(substring(text, i * $ChunkStride + 1, $ChunkSize)) AS BIGINT)
       |    AS chunk_len,
       |  md5(substring(text, i * $ChunkStride + 1, $ChunkSize)) AS chunk_md5
       |FROM documents,
       |  UNNEST(generate_series(0, CAST(floor((greatest(len(text) - 1, 0))
       |         / $ChunkStride) AS BIGINT))) AS s(i)
       |WHERE i = 0 OR i * $ChunkStride < len(text)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Distinctive keywords per document — the tf-idf role with a total
    * order and ZERO floats: rank tokens by (corpus df ASC, in-doc tf
    * DESC, token ASC) and keep the top 3. Rare-in-corpus but
    * frequent-in-doc tokens surface exactly as with idf·tf scoring, and
    * every comparison is integer/string, so the oracle hash is exact.
    * Plan shape: one explode → two aggregations (tf, df) → shuffle join
    * on token → per-doc top-k through the heap rewrite. */
  def docKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("tok"))
    val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy($"tok").agg(countDistinct($"doc_id").as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"df", $"tf".desc, $"tok")
    tf.join(df, "tok")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"tok", $"tf", $"df")
      .orderBy($"doc_id", $"rank")
  }

  val docKeywordsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
      |SELECT doc_id, rank, tok, tf, df FROM (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY df.df, tf.tf DESC, tf.tok) AS BIGINT) AS rank
      |  FROM tf JOIN df USING (tok)) t
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** PII redaction (curation-pipeline scrubbing stage): map-only
    * regexp_replace chain for emails, E.164-ish phone numbers, IPv4
    * addresses, and 13–19-digit card-like runs, each replaced with a
    * typed tag; emits per-row match counts so a pipeline can audit
    * redaction volume. The synthetic corpus contains no PII (spec
    * injects it), so this ships as a generic transform, not an oracle
    * row — all patterns are in the Java/RE2-common syntax subset. */
  /** Unigram LM perplexity scoring — the CCNet-style quality filter: a
    * language model trained on a REFERENCE corpus scores candidate
    * documents; fluent in-distribution text scores low, gibberish and
    * off-domain text scores high, and the score is a principled
    * filtering/weighting signal.
    *
    * Model: Laplace-smoothed unigram probabilities p(t) = (c_t + 1) /
    * (N + V); unseen tokens get 1 / (N + V). Perplexity per doc =
    * exp(mean −ln p). Shape: the model is a (token, prob) table — built
    * in one aggregation, joined to the candidate tokens on token (a
    * shuffle join that scales with the corpus; broadcast when the vocab
    * is small) — then one per-doc aggregation. Floats (ln/exp) keep it
    * spec-gated rather than oracle-hashed. */
  /** The (doc_id, tok) exploded token stream both perplexity paths
    * share — one definition, so the oracle-gated core and the float
    * scorer cannot tokenize differently. */
  private def lmToks(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)

  def perplexityScores(ref: DataFrame, docs: DataFrame,
                       textCol: String = "text"): DataFrame = {
    def toks(df: DataFrame) = lmToks(df, textCol)
    val counts = toks(ref).groupBy("tok").agg(count(lit(1)).as("c"))
    val Row(nTotal: Long, vocab: Long) =
      counts.agg(sum(col("c")), count(lit(1))).head()
    val denom = (nTotal + vocab).toDouble
    val probs = counts.select(col("tok"), ((col("c") + 1.0) / denom).as("p"))
    toks(docs)
      .join(probs, Seq("tok"), "left")
      .withColumn("nll", -log(coalesce(col("p"), lit(1.0 / denom))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("p").isNull.cast("long")).as("n_oov"),
           exp(avg(col("nll"))).as("perplexity"))
      .orderBy("doc_id")
  }

  /** `t_perplexity_core`: the oracle-gated INTEGER core of
    * [[perplexityScores]] — the DSIR device applied to T16. The
    * reference LM is the even-doc_id half of the corpus (a self-scoring
    * ref would make every token in-vocabulary and the OOV column
    * vacuous); per candidate doc the core emits the token count, the
    * OOV count against the reference vocabulary, and the summed
    * reference counts of matched tokens — everything the model consumes
    * before the ln/exp step, as pure 64-bit integers both engines hash
    * identically. The float perplexity itself stays rows-only
    * (`t_perplexity`), spec-gated against a scalar reference.
    *
    * Shape: identical to the scorer — one reference aggregation, one
    * broadcast-or-shuffle token join, one per-doc aggregation; the token
    * stream is the SAME [[lmToks]] the scorer explodes. */
  def perplexityCore(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val counts = lmToks(docs.filter(col("doc_id") % 2 === 0), "text")
      .groupBy("tok").agg(count(lit(1)).as("c"))
    lmToks(docs, "text")
      .join(counts, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("c").isNull.cast("long")).as("n_oov"),
           sum(coalesce(col("c"), lit(0L))).as("sum_c"))
      .orderBy("doc_id")
  }

  val perplexityCoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |    FROM documents) t
      |  WHERE len(tok) > 0),
      |c AS (
      |  SELECT tok, count(*) AS c FROM toks
      |  WHERE doc_id % 2 = 0 GROUP BY 1)
      |SELECT toks.doc_id,
      |  count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN c.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(COALESCE(c.c, 0)) AS BIGINT) AS sum_c
      |FROM toks LEFT JOIN c USING (tok)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    // order matters: specific before general (a bare 16-digit card run
    // would otherwise match the looser phone pattern first)
    val pats = Seq(
      "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "ipv4" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
      "card" -> "\\b[0-9]{13,19}\\b",
      "phone" -> "\\+?[0-9][0-9()\\-\\s]{7,14}[0-9]")
    // counts run against the progressively-redacted text, so each match
    // is attributed to exactly one tag
    val (counted, redacted) = pats.foldLeft((df, col(textCol))) {
      case ((d, c), (tag, p)) =>
        (d.withColumn(s"n_$tag", (size(split(c, p, -1)) - 1).cast("long")),
         regexp_replace(c, p, s"[$tag]"))
    }
    counted.withColumn(s"${textCol}_redacted", redacted)
  }

  /** `t_pii_redact`: corpus-wide PII scrub with a per-source audit — the
    * compliance pass every training-data pipeline runs before tokenizing.
    * The synthetic corpus carries no real PII, so the query PLANTS
    * deterministic doc_id-derived identifiers (email / IPv4 / card /
    * phone) on both engines, runs [[redactPii]]'s progressive
    * redact-and-attribute chain, and emits per-source counts plus an
    * md5-prefix checksum of every redacted text so the oracle pins the
    * rewritten bytes, not just the counts.
    *
    * Scale: pure map-side scan (regex + hash per row, codegen'd) into one
    * tiny per-source hash-aggregate — no join, no wide shuffle; the 100-TB
    * cost is exactly one pass over the text column. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idS = $"doc_id".cast("string")
    val aug = concat(
      $"text",
      when($"doc_id" % 7 === 0, concat(lit(" mail user"), idS,
        lit("@ex"), ($"doc_id" % 5).cast("string"), lit(".org"))).otherwise(lit("")),
      when($"doc_id" % 11 === 0, concat(lit(" host 10."),
        ($"doc_id" % 256).cast("string"), lit("."),
        ($"doc_id" % 199).cast("string"), lit(".9"))).otherwise(lit("")),
      when($"doc_id" % 17 === 0, concat(lit(" card 4111"),
        lpad(($"doc_id" % 1000000000000L).cast("string"), 12, "0"))).otherwise(lit("")),
      when($"doc_id" % 13 === 0, concat(lit(" tel +1 (415) 555-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    val planted = Tables.documents(spark, dir)
      .select($"doc_id", $"source", aug.as("text"))
    redactPii(planted, "text")
      .select($"source", $"n_email", $"n_ipv4", $"n_card", $"n_phone",
        (conv(substring(md5($"text_redacted"), 1, 15), 16, 10).cast("long")
          % 1000000000L).as("chk"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_email").as("n_email"), sum($"n_ipv4").as("n_ipv4"),
        sum($"n_card").as("n_card"), sum($"n_phone").as("n_phone"),
        sum($"chk").as("redact_chk"))
      .orderBy($"source")
  }

  val piiRedactSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val card = "\\b[0-9]{13,19}\\b"
    val phone = "\\+?[0-9][0-9()\\-\\s]{7,14}[0-9]"
    s"""WITH aug AS (
       |  SELECT doc_id, source, text
       |    || CASE WHEN doc_id % 7 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
       |         || '@ex' || CAST(doc_id % 5 AS VARCHAR) || '.org' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |         || '.' || CAST(doc_id % 199 AS VARCHAR) || '.9' ELSE '' END
       |    || CASE WHEN doc_id % 17 = 0 THEN ' card 4111'
       |         || lpad(CAST(doc_id % 1000000000000 AS VARCHAR), 12, '0') ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' tel +1 (415) 555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    AS t0
       |  FROM documents),
       |s1 AS (SELECT doc_id, source,
       |    len(string_split_regex(t0, '$email')) - 1 AS n_email,
       |    regexp_replace(t0, '$email', '[email]', 'g') AS t1 FROM aug),
       |s2 AS (SELECT *, len(string_split_regex(t1, '$ipv4')) - 1 AS n_ipv4,
       |    regexp_replace(t1, '$ipv4', '[ipv4]', 'g') AS t2 FROM s1),
       |s3 AS (SELECT *, len(string_split_regex(t2, '$card')) - 1 AS n_card,
       |    regexp_replace(t2, '$card', '[card]', 'g') AS t3 FROM s2),
       |s4 AS (SELECT *, len(string_split_regex(t3, '$phone')) - 1 AS n_phone,
       |    regexp_replace(t3, '$phone', '[phone]', 'g') AS t4 FROM s3)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       |  CAST(sum(n_card) AS BIGINT) AS n_card,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(CAST(('0x' || substring(md5(t4), 1, 15)) AS BIGINT)
       |    % 1000000000) AS BIGINT) AS redact_chk
       |FROM s4
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }
}
