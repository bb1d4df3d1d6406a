package graft

import graft.ops.DataSelection
import org.apache.spark.sql.functions._

/** DSIR importance weighting + epoch shuffle + seasonal decomposition.
  * The integer bucket cores are oracle-gated by the driver; these specs
  * cover the pieces the DuckDB oracle can't: the ln-weight arithmetic
  * (vs an independent scalar reference), the selection semantics, the
  * production shard layout, and the residual bound of the decomposition. */
class DataSelectionSpec extends SparkTestBase {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bucketOf(gram: String): Long =
    java.lang.Long.parseLong(md5Hex(gram).take(DataSelection.DsirHashHex), 16) %
      DataSelection.DsirBuckets

  private def gramsOf(text: String): Seq[String] = {
    val t = text.trim.toLowerCase.split("\\s+").toSeq
    t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  test("dsir weights match an independent scalar reference") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()

    // reference model, computed with plain Scala collections + Math.log
    val byDoc = docs.map { case (id, _, tx) =>
      id -> gramsOf(tx).groupBy(bucketOf).view.mapValues(_.size.toLong).toMap
    }.toMap
    val raw = new scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
    val tgt = new scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
    docs.foreach { case (id, lang, _) =>
      byDoc(id).foreach { case (b, c) =>
        raw(b) += c
        if (lang == DataSelection.DsirTargetLang) tgt(b) += c
      }
    }
    val (a, bn) = (DataSelection.DsirAlpha, DataSelection.DsirBuckets.toDouble)
    val (tTot, rTot) = (tgt.values.sum.toDouble, raw.values.sum.toDouble)
    def refWeight(id: Long): Double = byDoc(id).map { case (b, c) =>
      c * (math.log((tgt(b) + a) / (tTot + a * bn)) -
           math.log((raw(b) + a) / (rTot + a * bn)))
    }.sum

    val got = DataSelection.dsirWeights(spark, sfDir)
      .select($"doc_id", $"weight", $"selected")
      .as[(Long, Double, Boolean)].collect()
    assert(got.length == docs.length)
    got.foreach { case (id, w, _) =>
      val r = refWeight(id)
      assert(math.abs(w - r) <= 1e-9 * math.max(1.0, math.abs(r)),
        s"doc $id: spark=$w ref=$r")
    }
    val nSel = got.count(_._3)
    assert(nSel == math.min(DataSelection.DsirKeep, docs.length))
    // the target language must, on average, outscore the rest — the
    // entire point of the importance ratio
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val enW = got.filter(g => langOf(g._1) == "en").map(_._2)
    val otherW = got.filter(g => langOf(g._1) != "en").map(_._2)
    assert(enW.nonEmpty && otherW.nonEmpty)
    assert(enW.sum / enW.size > otherW.sum / otherW.size,
      "target-language docs must have higher mean importance weight")
  }

  test("shard shuffle digest equals the production partition-sorted layout") {
    import spark.implicits._
    val expected = DataSelection.shardShuffle(spark, sfDir)
      .select($"shard", $"order_md5").as[(Long, String)].collect().toMap

    // production path: repartition on the shard column, sort within
    // partitions by the rank hash — then fold each partition's doc_id
    // stream into the same digest, never collecting doc order globally
    val keyed = Tables.documents(spark, sfDir)
      .select($"doc_id",
        md5(concat(lit(DataSelection.ShuffleSeed + ":"), $"doc_id".cast("string"))
          .cast("binary")).as("h"),
        (graft.functions.HashExpressions.md5Prefix64(
          concat(lit(DataSelection.ShuffleSeed + ":"), $"doc_id".cast("string")),
          DataSelection.DsirHashHex) % DataSelection.ShuffleShards).as("shard"))
    val perPart = keyed
      .repartition(DataSelection.ShuffleShards, $"shard")
      .sortWithinPartitions($"h", $"doc_id")
      .select($"shard", $"doc_id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        // local def, not the spec's helper: the closure must not drag
        // the (non-serializable) suite instance onto executors
        def hex(s: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val rows = it.toVector
        rows.groupBy(_._1).map { case (shard, rs) =>
          (shard, hex(rs.map(_._2).mkString(",")))
        }.iterator
      }.collect()
    // hash-partitioning on one column sends each shard to exactly one
    // partition, so every (shard, digest) must match the query's digest
    assert(perPart.length == expected.size, s"${perPart.length} vs ${expected.size}")
    perPart.foreach { case (shard, digest) =>
      assert(expected(shard) == digest, s"shard $shard layout != digest")
    }
  }

  test("curriculum phases partition the corpus in monotone quality order") {
    import spark.implicits._
    val out = graft.ops.DataSelection.curriculumOrder(spark, sfDir)
      .select($"phase", $"n_docs", $"min_q", $"max_q")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (1 to graft.ops.DataSelection.CurriculumPhases))
    // every document lands in exactly one phase
    assert(out.map(_._2).sum == Tables.documents(spark, sfDir).count())
    // ntile balance: phase sizes differ by at most one
    assert(out.map(_._2).max - out.map(_._2).min <= 1)
    // clean-first annealing: phase p's quality floor must not be below
    // phase p+1's ceiling (ties can straddle the ntile boundary exactly)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 >= b._4,
        s"phase ${a._1} floor ${a._3} below phase ${b._1} ceiling ${b._4}")
    }
  }

  test("scaled curriculum: broadcast cut-points reproduce ntile exactly") {
    import spark.implicits._
    val inline = graft.ops.DataSelection.curriculumOrder(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val scaled = graft.ops.DataSelection.curriculumOrderScaled(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // bit-for-bit: census, quality floors/ceilings, AND per-phase order
    // digests — the cut-point assignment IS ntile, not an approximation
    assert(scaled == inline,
      "the scaled path must equal the global-ntile path row-for-row")
    // census re-stated directly (phases partition the corpus, ±1 balance,
    // monotone floors) so a future inline change can't mask a drift
    val out = scaled.map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Long],
      r(3).asInstanceOf[Long], r(4).asInstanceOf[Long]))
    assert(out.map(_._1) == (1 to graft.ops.DataSelection.CurriculumPhases))
    assert(out.map(_._2).sum == Tables.documents(spark, sfDir).count())
    assert(out.map(_._2).max - out.map(_._2).min <= 1)
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 >= b._4, s"phase ${a._1} floor below phase ${b._1} ceiling")
    }
  }

  test("scaled curriculum: multiple phase boundaries inside ONE q group") {
    import spark.implicits._
    // a degenerate quality distribution: every doc shares one q value, so
    // ALL P−1 boundaries land inside the same group and each needs its
    // own intra-group cut — the case a q-keyed cut map would collapse
    val dir = tempDir("curr_skew")
    (1L to 10L).map(i => (i, "same prose for every doc", "en", "web", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val inline = graft.ops.DataSelection.curriculumOrder(spark, dir)
      .collect().map(_.toSeq).toSeq
    val scaled = graft.ops.DataSelection.curriculumOrderScaled(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(scaled == inline,
      "all-boundaries-in-one-group must still reproduce ntile exactly")
    assert(inline.map(_(1).asInstanceOf[Long]) == Seq(3L, 3L, 2L, 2L),
      "10 docs over 4 phases must split 3/3/2/2")
  }

  test("scaled curriculum releases its corpus cache: no storage growth " +
      "across 3 consecutive calls") {
    // r10 (r9 finding 3 / ADVICE low): curriculumOrderScaled persisted a
    // corpus-cardinality frame for the session; only bench/verify were
    // saved by the runner's clearCache. Now the method unpersists after
    // its two driver collects. Census: three full call+collect cycles
    // leave ZERO new persistent RDDs behind.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var last: Seq[Seq[Any]] = Seq.empty
    (1 to 3).foreach { _ =>
      last = graft.ops.DataSelection.curriculumOrderScaled(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      val now = spark.sparkContext.getPersistentRDDs.keySet
      assert((now -- before).isEmpty,
        s"curriculum call leaked persistent RDDs: ${now -- before}")
    }
    // and the released path still returns the exact ntile result
    val inline = graft.ops.DataSelection.curriculumOrder(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(last == inline)
  }

  test("epoch seed changes the order but not shard balance invariants") {
    import spark.implicits._
    val s0 = DataSelection.shardShuffle(spark, sfDir)
      .select($"shard", $"n_docs", $"order_md5")
      .as[(Long, Long, String)].collect()
    val total = s0.map(_._2).sum
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(total == nDocs, "shards must partition the corpus exactly")
    // md5 % S balances: no shard may hold more than 3x its fair share
    val fair = nDocs.toDouble / DataSelection.ShuffleShards
    s0.foreach { case (sh, n, _) =>
      assert(n <= fair * 3 + 4, s"shard $sh skewed: $n docs vs fair $fair")
    }
  }

  test("personalized rank concentrates on the seed's own neighborhood") {
    import spark.implicits._
    val seedParts = Tables.orders(spark, sfDir)
      .filter($"o_custkey" === graft.ops.Graph.PprSeedCust)
      .join(Tables.lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey").distinct().as[Long].collect().toSet
    assert(seedParts.nonEmpty, "seed customer must have purchases in the corpus")
    val ranks = graft.ops.Graph.personalizedRank(spark, sfDir)
      .select($"kind", $"key", $"rank_ppb")
      .as[(String, Long, Long)].collect()
    assert(ranks.nonEmpty)
    // the restart mass must keep the seed itself in its own ranking
    // (the bipartite-parity bug: a dst-side CASE evaporated the jump on
    // odd iterations and no customer could ever appear)
    assert(ranks.exists(r => r._1 == "customer" &&
      r._2 == graft.ops.Graph.PprSeedCust),
      "seed customer absent from its own personalized ranking")
    // the top-ranked part must be one the seed actually bought (1-hop)
    val topPart = ranks.find(_._1 == "part").get
    assert(seedParts.contains(topPart._2),
      s"top part ${topPart._2} is not in the seed's purchase set")
    // every 1-hop part outranks every part the seed never bought
    val partRanks = ranks.filter(_._1 == "part")
    val minOwn = partRanks.filter(r => seedParts.contains(r._2)).map(_._3).min
    val maxOther = partRanks.filter(r => !seedParts.contains(r._2))
      .map(_._3).foldLeft(0L)(math.max)
    assert(minOwn > maxOther,
      s"a 3-hop part ($maxOther) outranked a 1-hop part ($minOwn)")
  }

  test("temperature mix flattens a 9:1 source skew to sqrt's 3:1") {
    import spark.implicits._
    val dir = tempDir("tmix")
    val docs = (1 to 900).map(i => (i.toLong, s"doc $i", "en", "big", 10L)) ++
               (1 to 100).map(i => (900L + i, s"doc b$i", "en", "small", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.ops.DataSelection.temperatureMix(spark, dir)
      .select($"source", $"n", $"quota", $"n_selected")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // denom = sqrt(900) + sqrt(100) = 40; quotas = 200*30/40, 200*10/40
    assert(rows("big")._3 == 150L, rows.toString)
    assert(rows("small")._3 == 50L)
    // the raw 9:1 skew flattened to exactly 3:1, every quota honored
    assert(rows("big")._4 == 150L && rows("small")._4 == 50L)
    // budget respected up to floor loss
    val totalQuota = rows.values.map(_._3).sum
    assert(totalQuota <= graft.ops.DataSelection.MixBudget)
    assert(totalQuota >= graft.ops.DataSelection.MixBudget - rows.size)
  }

  test("anomaly flags equal the float z-test and catch a planted spike") {
    import spark.implicits._
    val rows = graft.ops.Events.anomalyDays(spark, sfDir)
      .select($"day", $"resid_bp", $"is_anomaly")
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val rs = rows.map(_._2.toDouble)
    val mean = rs.sum / rs.length
    val variance = rs.map(r => (r - mean) * (r - mean)).sum / rs.length
    rows.foreach { case (d, r, flag) =>
      val ref = math.abs(r - mean) > 2.0 * math.sqrt(variance)
      assert(flag == ref, s"$d: integer flag $flag != float z-test $ref")
    }
    // planted spike: one day with 30x the events of every other day
    val dir = tempDir("anomaly")
    val base = (1 to 28).flatMap { d =>
      (1 to 10).map(i => (d.toLong * 100 + i,
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 01:00:00"),
        i.toLong, "view", 1.0, "{}"))
    }
    val spike = (1 to 1000).map(i => (90000L + i,
      java.sql.Timestamp.valueOf("2024-01-15 12:00:00"), i.toLong, "view", 1.0, "{}"))
    (base ++ spike).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val flagged = graft.ops.Events.anomalyDays(spark, dir)
      .filter($"is_anomaly").select($"day").as[String].collect().toSeq
    assert(flagged == Seq("2024-01-15"), s"flagged: $flagged")
  }

  test("seasonal residuals per weekday sum to the floor remainder only") {
    import spark.implicits._
    val rows = graft.ops.Events.seasonalDecompose(spark, sfDir)
      .select($"dow", $"n_events", $"seasonal_bp", $"resid_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (dow, rs) =>
      val residSum = rs.map(_._4).sum
      // Σ resid = total*10000 - cnt*floor(total*10000/cnt) ∈ [0, cnt)
      assert(residSum >= 0 && residSum < rs.length,
        s"dow $dow residual sum $residSum outside [0, ${rs.length})")
      // decomposition reconstructs the series exactly
      rs.foreach { case (_, n, sbp, rbp) => assert(n * 10000 == sbp + rbp) }
    }
  }

  test("domain cap: a 250k-space document keeps prose_bp in range (no int wrap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("dcap_big")
    // > ~214k spaces wrapped the int ×10000 product negative before the
    // long fix, corrupting prose_bp and the folded rank key
    val big = ("word " * 250000).trim
    (Seq((1L, big)) ++ (2L to 30L).map(i => (i, s"doc number $i text here")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("webx"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.ops.DataSelection.domainCap(spark, dir).collect()
    val bigRow = rows.find(_.getLong(0) == 1L).get
    val bp = bigRow.getAs[Long]("prose_bp")
    assert(bp >= 0 && bp <= 10000, s"prose_bp out of range: $bp")
    // "word " is exactly 1 space per 5 chars minus the trailing trim
    assert(bp == 1999L, s"expected 1999 bp, got $bp")
  }

  test("leakage split: exact-dup groups never straddle a split boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("lk_split")
    // 3,000 docs; every third text is a byte-identical copy of the one
    // two ids earlier — planted dup groups of size 2 spanning id ranges
    val docs = (0L until 3000L).map { i =>
      val text = if (i % 3 == 2) s"shared text body number ${i - 2} with enough words"
                 else s"shared text body number $i with enough words"
      (i, text)
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.ops.DataSelection.leakageSplit(spark, dir)
      .as[(Long, Long, String)].collect()
    assert(rows.length == 3000, "every doc appears exactly once")
    val byId = rows.map(r => r._1 -> r).toMap
    // cohesion: each planted pair shares canon (the smaller id) AND split
    (0L until 3000L).filter(_ % 3 == 2).foreach { i =>
      assert(byId(i)._2 == i - 2, s"doc $i canon must be ${i - 2}")
      assert(byId(i)._3 == byId(i - 2)._3,
        s"dup pair ($i, ${i - 2}) split ${byId(i)._3} vs ${byId(i - 2)._3}")
    }
    // non-dup docs are their own canon
    (0L until 3000L).filterNot(_ % 3 == 2).foreach(i => assert(byId(i)._2 == i))
    // fractions track 90/5/5 at the GROUP level (2,000 groups)
    val groupSplits = rows.groupBy(_._2).map(_._2.head._3)
    val n = groupSplits.size.toDouble
    val train = groupSplits.count(_ == "train") / n
    val value = groupSplits.count(_ == "val") / n
    assert(math.abs(train - 0.90) < 0.03, s"train fraction $train")
    assert(math.abs(value - 0.05) < 0.02, s"val fraction $value")
  }

  test("near-dup leakage split: LSH clusters are split-cohesive end to end") {
    import spark.implicits._
    val rows = graft.ops.DataSelection.leakageSplitClustered(spark, sfDir)
      .as[(Long, Long, String)].collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every doc assigned exactly once")
    // cohesion at cluster granularity
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"cluster $c spans splits")
    }
    // stronger, crossing two operators: every VERIFIED dup pair from the
    // LSH family lands in one split
    val split = rows.map(r => r._1 -> r._3).toMap
    val pairs = graft.dedup.Dedup.lshJaccardFast(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("is_dup") === 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "sf corpus must contain verified dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"dup pair ($a, $b) crosses splits")
    }
  }

  test("leakage gate: zero cross-split dup pairs, census covers the corpus") {
    import spark.implicits._
    val rows = graft.ops.DataSelection.leakageSplitGate(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet == Set("train", "val", "test"))
    // the gate's whole point: the violation count is structurally zero,
    // computed by a GENUINE edge join (and independently re-derived by
    // the DuckDB oracle)
    assert(rows.forall(_._4 == 0L), s"cross-split dup pairs: ${rows.toSeq}")
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._2).sum == nDocs, "splits must partition the corpus")
    // the md5 gate and the xxhash64 production split agree at spec scale
    // (same components, same cluster ids, same salted split rule)
    val near = graft.ops.DataSelection.leakageSplitClustered(spark, sfDir)
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    rows.foreach { case (s, n, _, _) =>
      assert(near(s) == n, s"gate census for $s diverges from the near split")
    }
  }
}
