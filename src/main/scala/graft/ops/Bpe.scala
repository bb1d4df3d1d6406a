package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding TRAINING (Sennrich et al., "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) —
  * the tokenizer-building step of an LLM data pipeline, which the
  * regex-BPE scorer (`f_bpe_tokens`) only consumes.
  *
  * Shape: the corpus collapses ONCE into a (word, freq) dictionary —
  * orders of magnitude smaller than the corpus, and the only thing the
  * loop touches. Each merge round is ONE aggregation (adjacent-pair
  * counts weighted by word freq; top pair to the driver with a count
  * DESC / pair ASC total order) plus a column-level fold that applies
  * the merge to every word's symbol array in place — no UDF, no
  * collect of the dictionary. `localCheckpoint` every few rounds keeps
  * the plan from deepening linearly with merges (the same guard the
  * dup-clustering loop uses).
  *
  * At 100 TB the corpus pass is the cost; the loop runs on the
  * dictionary (vocabulary-sized, millions of rows at web scale — still
  * cluster-trivial). */
object Bpe {

  final case class Merge(a: String, b: String)

  /** Initial symbol split: one single-character symbol per position. */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Left-to-right non-overlapping application of one merge to a symbol
    * array — the standard BPE apply rule, as a codegen fold. */
  private def applyMerge(syms: Column, m: Merge): Column = {
    val merged = m.a + m.b
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === m.a && s === m.b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(s))))
  }

  /** Vocabulary cap for driver-local training. A (word, freq) dictionary
    * is VOCABULARY-sized, not corpus-sized — a few million distinct
    * pre-tokenized words even at web scale (the pre-tokenizer's
    * `[a-z]+|[0-9]+` alphabet bounds it hard), tens of MB collected. */
  val MaxDriverVocab = 4000000

  /** Learn up to `nMerges` merge rules from `textCol` of `docs`. Stops
    * early when no adjacent pair repeats. Returns the ordered rules.
    *
    * r17 (optimization, guide §1.2 step 1): the merge loop runs on the
    * word-frequency DICTIONARY, which the corpus collapses into with one
    * aggregation — after that nothing is corpus-sized, so the 16-round
    * loop ran 30+ sequential vocabulary-sized Spark jobs (pair-count
    * aggregate + TakeOrdered + periodic localCheckpoint) whose wall was
    * pure per-job overhead (~3.9 s of the bench's 5.2 s entry). This is
    * the shape every production tokenizer trainer uses (distributed word
    * count, local merge loop): collect the dictionary once (size-gated)
    * and run the rounds in-process — bit-identical merges, since the
    * local loop reproduces the exact count-DESC / pair-ASC (UTF-8 byte
    * order, matching Spark's UTF8String comparison) total order and the
    * same left-to-right non-overlapping apply rule. Corpora whose
    * dictionary exceeds [[MaxDriverVocab]] take the old distributed loop
    * unchanged. */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    val freqs = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // r18 (VERDICT r17 item 6): gate WITHOUT collecting. The old
    // `limit(cap+1).collect()` materialized up to 4M Row objects on the
    // driver just to decide, and an over-cap dictionary paid that collect
    // only to discard it before the distributed fallback. Persist the
    // vocabulary-sized aggregate, probe the cap with a count (no rows
    // cross to the driver), and collect — as primitives, not Rows — only
    // on the under-cap branch. One corpus pass either way; both branches
    // read the persisted frame.
    val spark = docs.sparkSession
    import spark.implicits._
    val cached = freqs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (cached.limit(MaxDriverVocab + 1).count() > MaxDriverVocab)
        trainDistributed(cached, nMerges)
      else trainLocal(cached.as[(String, Long)].collect(), nMerges)
    } finally { cached.unpersist(false); () }
  }

  /** Split a word into one symbol per Unicode CODE POINT — the same unit
    * Spark's `substr` walks in [[charSyms]] (UTF8String counts code
    * points, not UTF-16 chars). */
  private def codePointSyms(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Unsigned UTF-8 byte order — what Spark's UTF8String (and DuckDB's
    * binary collation) compare strings by; Scala's String ordering is
    * UTF-16 and diverges above the BMP. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private[graft] def trainLocal(freqs: Array[(String, Long)],
                              nMerges: Int): Seq[Merge] = {
    var dict: Array[(Array[String], Long)] =
      freqs.map { case (w, f) => (codePointSyms(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      var best: Option[((String, String), Long)] = None
      counts.foreach { case (p, n) =>
        if (n >= 2 && best.forall { case (bp, bn) =>
          n > bn || (n == bn && (utf8Less(p._1, bp._1) ||
            (p._1 == bp._1 && utf8Less(p._2, bp._2))))
        }) best = Some((p, n))
      }
      best match {
        case None => exhausted = true
        case Some(((a, b), _)) =>
          merges += Merge(a, b)
          val ab = a + b
          dict = dict.map { case (syms, f) =>
            // left-to-right non-overlapping apply — the Sennrich rule,
            // identical to the applyMerge column fold
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { s =>
              if (out.nonEmpty && out.last == a && s == b) {
                out.remove(out.size - 1); out += ab
              } else out += s
            }
            (out.toArray, f)
          }
          round += 1
      }
    }
    merges.toSeq
  }

  /** The pre-r17 distributed merge loop — the fallback for dictionaries
    * above [[MaxDriverVocab]]. */
  private[graft] def trainDistributed(freqs: DataFrame, nMerges: Int): Seq[Merge] = {
    var dict = freqs
      .select(charSyms(col("word")).as("syms"), col("freq"))
      .localCheckpoint()

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val top = dict
        // single-symbol words have no pairs — and sequence(1, 0) would
        // count DOWN ([1, 0]) rather than produce an empty list
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val m = Merge(top(0).getString(0), top(0).getString(1))
        merges += m
        dict = dict.select(applyMerge(col("syms"), m).as("syms"), col("freq"))
        if ((round + 1) % 8 == 0) dict = dict.localCheckpoint()
        round += 1
      }
    }
    merges.toSeq
  }

  // ------------------------------------------------------------------
  // BPE ENCODE: apply a trained tokenizer corpus-wide (T14b). Training
  // happens on a deterministic 10% doc sample (tokenizers are trained on
  // samples in production — the dictionary pass must not scale with the
  // corpus), then the merge list BROADCASTS as literals compiled into a
  // chain of `replace` calls — encoding is pure map-side codegen string
  // work, no shuffle, no state.
  //
  // String-domain representation (shared with the oracle): a token
  // c1..ck becomes "|c1 |c2 ... |ck " — every symbol carries a leading
  // '|' and a trailing ' ', so a merge (a, b) is literally
  // replace("|a |b ", "|ab "): left-to-right non-overlapping replace IS
  // the Sennrich apply rule (a merged pair cannot re-form its own
  // pattern), and the delimiters make cross-symbol false matches
  // impossible because the alphabet below excludes both. Documents
  // join their token reps with '\n', which no pattern can span.
  // ------------------------------------------------------------------

  /** Pre-tokenization alphabet — [a-z]+|[0-9]+ runs of lowered text, the
    * GPT-2-style regex pre-tokenizer reduced to an alphabet that cannot
    * collide with the '|'/' '/newline delimiters. */
  val PreTokenRegex = "[a-z]+|[0-9]+"
  val EncodeMerges = 16
  /** Every SampleMod-th doc trains the tokenizer. */
  val SampleMod = 10

  /** The pre-tokenizer over the raw `text` column, as a SQL fragment so
    * both the train and encode paths use the identical expression. */
  private val preTokensSql = s"regexp_extract_all(lower(text), '$PreTokenRegex', 0)"

  /** Train [[EncodeMerges]] merges on the deterministic doc sample. */
  def trainOnSample(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Merge] = {
    val sample = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % SampleMod === 0)
      .select(concat_ws(" ", expr(preTokensSql)).as("text"))
    val merges = train(sample, "text", EncodeMerges)
    require(merges.length == EncodeMerges,
      s"sample exhausted at ${merges.length} merges — oracle unrolls $EncodeMerges")
    merges
  }

  /** Encode the full corpus with the sample-trained tokenizer; emits the
    * per-doc word/symbol counts and the md5 of the complete encoded
    * representation, so the oracle gates training AND application. */
  def bpeEncode(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val merges = trainOnSample(spark, dir)
    graft.functions.BpeExpressions.register(spark)
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), expr(preTokensSql).as("ts"))
    // r18: the encode is ONE kernel pass (graft_bpe_rep) — the r17 form
    // ran an interpreted transform with a regex pass per token and then
    // 16 nested `replace` calls, each a full scan + full re-allocation of
    // the document-sized rep string (17 document copies per row). Output
    // bytes identical — BpeSpec pins kernel ≡ replace-chain, and the
    // unchanged oracle SQL (which replays the replace chain in DuckDB)
    // hashes the same enc_md5.
    toks
      .withColumn("rep", graft.functions.BpeExpressions.bpeRep(
        col("ts"), merges.map(m => (m.a, m.b))))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_words"),
        (length(col("rep")) - length(expr("replace(rep, '|', '')")))
          .cast("long").as("n_syms"),
        md5(col("rep")).as("enc_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: replays the 16 training rounds (pair-count aggregate →
    * total-order top pair → replace over the dictionary reps) and the
    * encode chain, generated round-by-round like the PQ oracle. */
  val bpeEncodeSql: String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "dict0" else s"dict${r - 1}"
      s"""pairs$r AS MATERIALIZED (
         |  SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS n FROM (
         |    SELECT regexp_extract_all(rep, '\\|([^ ]+) ', 1) AS s, freq
         |    FROM $prev) t,
         |    UNNEST(generate_series(1, len(s) - 1)) AS g(i)
         |  GROUP BY 1, 2 HAVING sum(freq) >= 2),
         |m$r AS MATERIALIZED (SELECT a, b FROM pairs$r ORDER BY n DESC, a, b LIMIT 1),
         |dict$r AS MATERIALIZED (
         |  SELECT replace(rep, '|' || m.a || ' |' || m.b || ' ',
         |                 '|' || m.a || m.b || ' ') AS rep, freq
         |  FROM $prev, m$r m)""".stripMargin
    }
    def enc(r: Int): String = {
      val prev = if (r == 1) "enc0" else s"enc${r - 1}"
      s"""enc$r AS MATERIALIZED (
         |  SELECT doc_id, ts, replace(rep, '|' || m.a || ' |' || m.b || ' ',
         |                             '|' || m.a || m.b || ' ') AS rep
         |  FROM $prev, m$r m)""".stripMargin
    }
    s"""WITH docs0 AS MATERIALIZED (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$PreTokenRegex') AS ts
       |  FROM documents),
       |dict0 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', '|\\1 ', 'g') AS rep, count(*) AS freq
       |  FROM (SELECT unnest(ts) AS word FROM docs0 WHERE doc_id % $SampleMod = 0) w
       |  GROUP BY 1),
       |${(1 to EncodeMerges).map(round).mkString(",\n")},
       |enc0 AS MATERIALIZED (
       |  SELECT doc_id, ts,
       |    COALESCE(list_aggregate(
       |      list_transform(ts, t -> regexp_replace(t, '(.)', '|\\1 ', 'g')),
       |      'string_agg', chr(10)), '') AS rep
       |  FROM docs0),
       |${(1 to EncodeMerges).map(enc).mkString(",\n")}
       |SELECT doc_id,
       |  CAST(len(ts) AS BIGINT) AS n_words,
       |  CAST(len(rep) - len(replace(rep, '|', '')) AS BIGINT) AS n_syms,
       |  md5(rep) AS enc_md5
       |FROM enc$EncodeMerges
       |ORDER BY doc_id""".stripMargin
  }

  /** Tokens-per-word of the dictionary after applying `merges` — the
    * compression measure a tokenizer build reports. */
  def avgTokensPerWord(docs: DataFrame, textCol: String, merges: Seq[Merge]): Double = {
    val syms = merges.foldLeft(charSyms(col("word")))((c, m) => applyMerge(c, m))
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .select(size(syms).cast("double").as("n"))
      .agg(avg(col("n"))).head().getDouble(0)
  }
}
