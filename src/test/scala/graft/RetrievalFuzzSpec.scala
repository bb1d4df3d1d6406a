package graft

import graft.ops.DataSelection
import graft.similarity.Retrieval
import org.apache.spark.sql.functions._

/** Adversarial corpora for the retrieval/selection family: the sf
  * tables are well-behaved, so these tests write synthetic documents +
  * embeddings parquet with the edge cases a crawl actually serves —
  * empty text, whitespace runs, one-token docs, a doc of one repeated
  * token, CJK/emoji unicode, a missing target language — and re-check
  * every operator against independently-computed scalar references. */
class RetrievalFuzzSpec extends SparkTestBase {

  private val edgeDocs: Seq[(Long, String, String)] = Seq(
    (0L, "en", "the quick brown fox jumps over the lazy dog"),
    (1L, "en", ""),
    (2L, "fr", "   "),
    (3L, "de", "solo"),
    (4L, "en", "dup dup dup dup dup dup dup dup"),
    (5L, "zh", "中文 分词 测试 中文 emoji 🦊 test"),
    (6L, "en", "tab\tseparated\nnewline  double  space"),
    (7L, "es", "the quick brown fox sat still"),
    (8L, "en", "a b c d e f g h i j k l m n o p"),
    (9L, "fr", "brown dog and quick fox again brown")
  ) ++ {
    val rng = new scala.util.Random(41)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "the", "fox",
      "dup", "中文", "x1", "yy", "zzz", "Ωmega")
    (10L until 40L).map { id =>
      val n = rng.nextInt(30)
      val txt = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (id, Seq("en", "fr", "de", "zh")(rng.nextInt(4)), txt)
    }
  }

  private def writeCorpus(): String = {
    import spark.implicits._
    val dir = tempDir("fuzzcorpus")
    edgeDocs.toDF("doc_id", "lang", "text")
      .withColumn("source", concat(lit("src"), ($"doc_id" % 3).cast("string")))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rng = new scala.util.Random(43)
    edgeDocs.map { case (id, _, _) =>
      (id, Array.fill(graft.similarity.Ann.Dim)(rng.nextFloat() * 2f - 1f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // identical tokenization to both engines: trim, lowercase, \s+ split
  private def toks(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").toSeq

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bucketOf(g: String): Long =
    java.lang.Long.parseLong(md5Hex(g).take(DataSelection.DsirHashHex), 16) %
      DataSelection.DsirBuckets

  test("dsir weights survive empty/unicode/missing-target corpora") {
    import spark.implicits._
    val dir = writeCorpus()
    val grams = edgeDocs.map { case (id, lang, tx) =>
      val t = toks(tx)
      (id, lang, t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
    }
    val raw = new scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
    val tgt = new scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
    grams.foreach { case (_, lang, gs) => gs.foreach { g =>
      val b = bucketOf(g)
      raw(b) += 1
      if (lang == DataSelection.DsirTargetLang) tgt(b) += 1
    }}
    val (a, bn) = (DataSelection.DsirAlpha, DataSelection.DsirBuckets.toDouble)
    val (tT, rT) = (tgt.values.sum.toDouble, raw.values.sum.toDouble)
    val ref = grams.map { case (id, _, gs) =>
      id -> gs.map { g =>
        val b = bucketOf(g)
        math.log((tgt(b) + a) / (tT + a * bn)) - math.log((raw(b) + a) / (rT + a * bn))
      }.sum
    }.toMap
    val got = DataSelection.dsirWeights(spark, dir)
      .select($"doc_id", $"weight").as[(Long, Double)].collect().toMap
    assert(got.size == edgeDocs.size,
      "every doc (even empty ones — their lone '' token is a gram) must score")
    ref.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) <= 1e-9 * math.max(1.0, math.abs(r)),
        s"doc $id: ${got(id)} vs ref $r")
    }
  }

  test("bm25 on the adversarial corpus matches the scalar reference") {
    import spark.implicits._
    val dir = writeCorpus()
    val tokMap = edgeDocs.map { case (id, _, tx) => id -> toks(tx) }.toMap
    val n = edgeDocs.size.toDouble
    val avgdl = tokMap.values.map(_.size).sum / n
    val dfMap = tokMap.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val (k1, b) = (Retrieval.Bm25K1, Retrieval.Bm25B)
    def score(q: Long, d: Long): Double =
      tokMap(q).take(Retrieval.QueryTerms).distinct.map { t =>
        val tf = tokMap(d).count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = dfMap(t).toDouble
          math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
            (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * tokMap(d).size / avgdl))
        }
      }.sum
    val got = Retrieval.bm25TopK(spark, dir)
      .select($"query_id", $"doc_id", $"score").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, d, s) =>
      val r = score(q, d)
      assert(math.abs(s - r) <= 1e-9 * math.max(1.0, r), s"q=$q d=$d $s vs $r")
      assert(d != q)
    }
    // whitespace-only doc 2 reduces to the same lone '' token as the
    // empty doc 1: the two may match ONLY each other's ''-term queries —
    // a real (and deliberate) degenerate case both engines agree on
    got.filter(g => g._2 == 1L || g._2 == 2L).foreach { case (q, d, _) =>
      assert(q == 1L || q == 2L,
        s"empty doc $d matched non-empty query $q, whose terms can't be ''")
    }
  }

  test("retrieval metrics on the adversarial corpus match a scalar replay") {
    import spark.implicits._
    val dir = writeCorpus()
    val tokMap = edgeDocs.map { case (id, _, tx) => id -> toks(tx) }.toMap
    def kwTop(q: Long): Seq[Long] = {
      val terms = tokMap(q).take(Retrieval.QueryTerms).distinct.toSet
      edgeDocs.map(_._1).filter(_ != q)
        .map { d => (d, tokMap(d).toSet.intersect(terms).size,
                     tokMap(d).count(terms.contains)) }
        .filter(_._2 > 0)
        .sortBy { case (d, nT, sTf) => (-nT, -sTf, d) }
        .map(_._1).take(Retrieval.TopK)
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def quant(v: Array[Float]): Array[Double] =
      v.map(x => BigDecimal(x.toDouble * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def vecTop(q: Long): Seq[Long] = {
      val qv = quant(emb(q))
      edgeDocs.map(_._1).filter(_ != q)
        .map { d => (d, quant(emb(d)).zip(qv)
          .foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }.toLong) }
        .sortBy { case (d, dot) => (-dot, d) }.map(_._1).take(Retrieval.TopK)
    }
    val got = Retrieval.retrievalMetrics(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map { case (q, h, r) => q -> (h, r) }.toMap
    (0L until Retrieval.HybridQueries.toLong).foreach { q =>
      val kw = kwTop(q).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      val truth = vecTop(q)
      val hits = truth.count(kw.contains)
      val rr = truth.flatMap(kw.get).map(r => 1000000L / r)
        .foldLeft(0L)(math.max)
      assert(got.get(q).contains((hits.toLong, rr)),
        s"q=$q metrics ${got.get(q)} != ($hits, $rr)")
    }
  }

  test("hybrid rrf on the adversarial corpus matches a full scalar replay") {
    import spark.implicits._
    val dir = writeCorpus()
    // keyword side
    val tokMap = edgeDocs.map { case (id, _, tx) => id -> toks(tx) }.toMap
    def kwList(q: Long): Seq[Long] = {
      val terms = tokMap(q).take(Retrieval.QueryTerms).distinct.toSet
      edgeDocs.map(_._1).filter(_ != q)
        .map { d =>
          val nT = tokMap(d).toSet.intersect(terms).size
          val sTf = tokMap(d).count(terms.contains)
          (d, nT, sTf)
        }
        .filter(_._2 > 0)
        .sortBy { case (d, nT, sTf) => (-nT, -sTf, d) }
        .map(_._1).take(Retrieval.FuseK)
    }
    // vector side: same quantization as Ann (round half-up like Spark?
    // round() in Spark SQL is HALF_UP for doubles; Math.round matches
    // for the positive/negative magnitudes here via rint? use the exact
    // same rule: BigDecimal HALF_UP)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def quant(v: Array[Float]): Array[Double] =
      v.map(x => BigDecimal(x.toDouble * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def vecList(q: Long): Seq[Long] = {
      val qv = quant(emb(q))
      edgeDocs.map(_._1).filter(_ != q)
        .map { d =>
          val nv = quant(emb(d))
          (d, qv.zip(nv).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }.toLong)
        }
        .sortBy { case (d, dot) => (-dot, d) }
        .map(_._1).take(Retrieval.FuseK)
    }
    def fused(q: Long): Seq[(Long, Long)] = {
      val kw = kwList(q).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      val vc = vecList(q).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
      (kw.keySet ++ vc.keySet).toSeq.map { d =>
        val s = kw.get(d).map(r => Retrieval.RrfScale / (r + Retrieval.RrfK)).getOrElse(0L) +
                vc.get(d).map(r => Retrieval.RrfScale / (r + Retrieval.RrfK)).getOrElse(0L)
        (d, s)
      }.sortBy { case (d, s) => (-s, d) }.take(Retrieval.TopK)
    }
    val got = Retrieval.hybridRrf(spark, dir)
      .select($"query_id", $"rank", $"doc_id", $"rrf_score")
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    (0L until Retrieval.HybridQueries.toLong).foreach { q =>
      val exp = fused(q)
      assert(got.getOrElse(q, Seq.empty) == exp,
        s"q=$q fused list mismatch:\n got=${got.getOrElse(q, Seq.empty)}\n exp=$exp")
    }
  }
}
