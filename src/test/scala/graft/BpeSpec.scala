package graft

import graft.ops.Bpe

class BpeSpec extends SparkTestBase {

  /** The pre-r18 replace-chain encode expression over a `ts` column, the
    * equivalence control for the `graft_bpe_rep` kernel. */
  private def encodeRepChainSql(merges: Seq[Bpe.Merge]): String = {
    val rep0Sql =
      """concat_ws('\n', transform(ts, t -> regexp_replace(t, '(.)', '|$1 ')))"""
    merges.foldLeft(rep0Sql) { (s, m) =>
      s"replace($s, '|${m.a} |${m.b} ', '|${m.a}${m.b} ')"
    }
  }

  /** Driver-side reference BPE trainer over a word-frequency map, with
    * the same count DESC / pair ASC total order. */
  private def referenceTrain(freqs: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var dict = freqs.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (out.size < nMerges && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) continue = false
      else {
        val (pair, _) = eligible.minBy { case ((a, b), n) => (-n, a, b) }
        out += pair
        dict = dict.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (merged.nonEmpty && merged.last == pair._1 && s == pair._2) {
              merged.remove(merged.size - 1); merged += (pair._1 + pair._2)
            } else merged += s
          }
          (merged.toVector, f)
        }
      }
    }
    out.toSeq
  }

  test("distributed training matches the reference merge sequence exactly") {
    import spark.implicits._
    val docs = Seq(
      "low low low lower lowest", "new newer newest new new",
      "wide wider widest low new", "low lower newer wide wide"
    ).toDF("text")
    val got = Bpe.train(docs, "text", nMerges = 12).map(m => (m.a, m.b))
    val freqs = docs.as[String].collect()
      .flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    val expected = referenceTrain(freqs, 12)
    assert(got == expected, s"\n got: $got\n exp: $expected")
    assert(got.nonEmpty)
  }

  test("merges compress the corpus dictionary monotonically") {
    val docs = Tables.documents(spark, sfDir).limit(200)
    val merges = Bpe.train(docs, "text", nMerges = 10)
    assert(merges.size == 10, "shared-vocabulary corpus must yield 10 merges")
    val t0 = Bpe.avgTokensPerWord(docs, "text", Nil)
    val t5 = Bpe.avgTokensPerWord(docs, "text", merges.take(5))
    val t10 = Bpe.avgTokensPerWord(docs, "text", merges)
    assert(t0 > t5 && t5 > t10, s"$t0 -> $t5 -> $t10 must decrease")
    // chars-per-word baseline: merging can never grow token counts
    assert(t10 >= 1.0)
  }

  test("driver-local loop equals the distributed fallback merge-for-merge") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).limit(300)
      .select(concat_ws(" ",
        expr(s"regexp_extract_all(lower(text), '${Bpe.PreTokenRegex}', 0)"))
        .as("text"))
    val freqs = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val localRows = freqs.collect().map(r => (r.getString(0), r.getLong(1)))
    val viaLocal = Bpe.trainLocal(localRows, 12)
    val viaDistributed = Bpe.trainDistributed(freqs, 12)
    assert(viaLocal == viaDistributed,
      s"\n local: $viaLocal\n dist:  $viaDistributed")
    assert(viaLocal.size == 12)
  }

  test("a corpus with no repeating pair stops early") {
    import spark.implicits._
    val docs = Seq("ab cd ef").toDF("text")
    val merges = Bpe.train(docs, "text", nMerges = 5)
    assert(merges.isEmpty)
  }

  test("corpus-wide encode: merges shrink symbols, bounds hold, deterministic") {
    import org.apache.spark.sql.functions._
    val out = Bpe.bpeEncode(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() == docs.count(), "one encoded row per document")
    // n_words <= n_syms <= total alphabet chars (merges only shrink; a
    // symbol never crosses a word)
    val chars = docs.select(col("doc_id"),
      aggregate(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)"),
        lit(0L), (a, t) => a + length(t)).as("n_chars"))
    val j = out.join(chars, "doc_id")
    assert(j.filter(col("n_syms") > col("n_chars")).count() == 0)
    assert(j.filter(col("n_words") > col("n_syms")).count() == 0)
    // the trained merges actually fired somewhere
    assert(j.filter(col("n_syms") < col("n_chars")).count() > 0,
      "no merge ever applied — training or encode broken")
    // deterministic end-to-end (training includes driver round-trips)
    val again = Bpe.bpeEncode(spark, sfDir).collect().map(_.toSeq).toSet
    assert(again == out.collect().map(_.toSeq).toSet)
  }

  test("r18 encode kernel is bit-identical to the replace-chain expression") {
    import org.apache.spark.sql.functions._
    val merges = Bpe.trainOnSample(spark, sfDir)
    graft.functions.BpeExpressions.register(spark)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)").as("ts"))
    val both = toks
      .withColumn("rep_k", graft.functions.BpeExpressions.bpeRep(
        col("ts"), merges.map(m => (m.a, m.b))))
      .withColumn("rep_h", expr(encodeRepChainSql(merges)))
    val bad = both.filter(col("rep_k") =!= col("rep_h"))
      .select("doc_id").collect()
    assert(bad.isEmpty, s"kernel/replace-chain divergence on ${bad.mkString(",")}")
    // edge shapes: empty token list, single char, cascaded merges
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "a"), (3L, "aaaa bb ab abab"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)").as("ts"))
    val em = Seq(("a", "a"), ("aa", "a"), ("a", "b"))
    val eBoth = edge
      .withColumn("rep_k", graft.functions.BpeExpressions.bpeRep(col("ts"), em))
      .withColumn("rep_h", expr(encodeRepChainSql(
        em.map { case (a, b) => Bpe.Merge(a, b) })))
      .collect()
    eBoth.foreach(r => assert(r.getAs[String]("rep_k") == r.getAs[String]("rep_h"),
      s"doc ${r.getLong(0)}"))
  }
}
