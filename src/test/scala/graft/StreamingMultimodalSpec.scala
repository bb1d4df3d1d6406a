package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.multimodal.Multimodal

class StreamingMultimodalSpec extends SparkTestBase {

  // FileStreamSource requires a directory: stage the single parquet file
  lazy val eventsPath: String = {
    val dir = java.nio.file.Paths.get(tempDir("graft_stream_events"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming windowed counts match the batch equivalent") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.drainToMemory(
      EventStreams.windowedCounts(stream), "win_counts")
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    // append-mode emits only watermark-closed windows; every emitted row
    // must match its batch twin exactly
    val joined = got.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    assert(got.count() > 0)
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
  }

  test("file-source stream resumes from checkpoint without reprocessing") {
    // exactly-once at the file granularity: the checkpoint's file log
    // remembers which inputs each committed batch consumed, so a restart
    // processes only files that arrived while the query was down — the
    // property that makes a crashed 100 TB ingest re-runnable without a
    // dedup pass over its own output
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions._
    val src = stageDir("events")
    val outDir = tempDir("stream_out")
    val chk = tempDir("stream_chk")
    def drainOnce(): Unit = {
      val q = EventStreams.readEvents(spark, src).select(col("event_id"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    drainOnce()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == Tables.events(spark, sfDir).count())
    // new data lands while the query is down: a second file, disjoint ids
    spark.read.parquet(s"$src/events.parquet")
      .withColumn("event_id", col("event_id") + 10000000L)
      .write.mode("append").parquet(src)
    drainOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2 * n1, "restart must process ONLY the new file")
    assert(out.select("event_id").distinct().count() == 2 * n1,
      "no event may be emitted twice across the restart")
  }

  test("sliding windows match batch and cover each event exactly 3 times") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions._
    val stream = EventStreams.slidingCounts(
      EventStreams.readEvents(spark, stageDir("events")))
    val got = EventStreams.drainToMemory(stream, "sliding_counts",
      org.apache.spark.sql.streaming.OutputMode.Complete()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(graft.ops.Num.micros(col("value"))) / 1e6).as("v"))
      .collect()
      .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == batch, "stream must agree with the batch sliding window")
    // overlap invariant: every event is counted in duration/slide windows
    val totalCounted = got.values.map(_._1).sum
    val nEvents = Tables.events(spark, sfDir).count()
    assert(totalCounted == 3 * nEvents,
      s"each event must land in exactly 3 sliding windows: $totalCounted vs 3*$nEvents")
  }

  test("streaming session windows agree with batch gaps-and-islands") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.drainToMemory(
      EventStreams.sessionCounts(stream), "sess_counts")
    val batch = ops.Aggregates.sessionize(spark, sfDir)
    // append mode emits only watermark-closed sessions: every emitted
    // session must match its batch twin EXACTLY; the unemitted remainder
    // is the still-open tail (≤ a handful per user)
    val gotKeyed = got.select(col("user_id"),
      unix_micros(col("session_start")).as("session_start_us"),
      col("n_events").as("s_n"), col("session_value").as("s_v"))
    val j = gotKeyed.join(batch, Seq("user_id", "session_start_us"), "left")
    assert(j.filter(col("n_events").isNull).count() == 0,
      "streamed session missing from batch")
    assert(j.filter(col("s_n") =!= col("n_events") ||
      abs(col("s_v") - col("session_value")) > 1e-9).count() == 0)
    val nGot = got.count(); val nBatch = batch.count()
    assert(nGot > 0.9 * nBatch && nGot <= nBatch,
      s"emitted $nGot of $nBatch sessions")
  }

  test("flatMapGroupsWithState accumulates running user totals") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val updates = EventStreams.runningUserTotals(spark, stream)
    val got = EventStreams.drainToMemory(updates.toDF(), "user_totals",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // final state per user == batch totals
    val finals = got.groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("total_value").as("total_value"))
    val batch = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val j = finals.alias("f").join(batch.alias("b"), "user_id")
    assert(j.filter(col("f.n_events") =!= col("b.n_events")).count() == 0)
  }

  /** File-stream sources need a DIRECTORY; the testdata tables are single
    * parquet files, so stage one into a temp dir. */
  private def stageDir(table: String): String = {
    val dir = java.nio.file.Paths.get(tempDir(s"stream_$table"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/$table.parquet"),
      dir.resolve(s"$table.parquet"))
    dir.toString
  }

  test("streaming dedup emits exactly one event per (user, type)") {
    import graft.streaming.EventStreams
    val stream = EventStreams.firstPerUserType(
      EventStreams.readEvents(spark, stageDir("events")))
    val got = EventStreams.drainToMemory(stream, "first_per_user_type")
    val gotKeys = got.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(gotKeys.length == gotKeys.distinct.length, "duplicate keys emitted")
    val batchKeys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(gotKeys.toSet == batchKeys.toSet)
  }

  test("streaming curation flags match the batch pipeline stages") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions._
    val evalHashes = graft.dedup.Dedup.evalGramHashes(spark, sfDir)
    val flags = EventStreams.curationFlags(
      EventStreams.readDocuments(spark, stageDir("documents")), evalHashes)
    val got = EventStreams.drainToMemory(flags, "curation_flags").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("q_keep"), r.getAs[String]("predicted"),
          r.getAs[Boolean]("l_keep"), r.getAs[Boolean]("c_keep")))).toMap
    // batch references, stage by stage
    val q = graft.ops.TextOps.qualityScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars") >= graft.pipelines.TrainingPipeline.MinChars &&
         r.getAs[Long]("space_bp") <= graft.pipelines.TrainingPipeline.MaxSpaceBp)).toMap
    val lp = graft.functions.TextFunctions.langPredictions(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("predicted"), r.getAs[String]("lang")))).toMap
    val contam = graft.dedup.Dedup.decontaminate(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got.keySet == lp.keySet, "streaming must emit every document")
    got.foreach { case (id, (qk, pred, lk, ck)) =>
      assert(qk == q(id), s"doc $id quality flag diverges")
      val (bPred, bLang) = lp(id)
      assert(pred == bPred, s"doc $id: stream predicted $pred, batch $bPred")
      assert(lk == (bPred == bLang || bPred == "und"), s"doc $id lang flag")
      val bCk = id % graft.dedup.Dedup.DecontamEvalMod != 0 && !contam(id)
      assert(ck == bCk, s"doc $id decontam flag diverges")
    }
  }

  test("streaming as-of join matches the batch asof operator") {
    import graft.streaming.EventStreams
    val stream = EventStreams.streamingAsofLastView(spark,
      EventStreams.readEvents(spark, stageDir("events")))
    val got = EventStreams.drainToMemory(stream.toDF(), "asof_stream")
      .collect().map { r =>
        (r.getLong(0), if (r.isNullAt(4)) None else Some((r.getLong(4), r.getDouble(5))))
      }.toMap
    val batch = graft.ops.TemporalJoins.asofLastView(spark, sfDir)
      .collect().map { r =>
        (r.getLong(0), if (r.isNullAt(4)) None else Some((r.getLong(4), r.getDouble(5))))
      }.toMap
    assert(got.size == batch.size)
    assert(got == batch)
  }

  test("foreachBatch rollup sink maintains the table; batch replay is harmless") {
    import graft.streaming.EventStreams
    import graft.pipelines.IncrementalRollup
    val bronze = tempDir("bronze")
    val rollup = tempDir("rollup_s")
    val chk = tempDir("rollup_chk")
    val q = EventStreams.rollupSink(
      EventStreams.readEvents(spark, stageDir("events")), bronze, rollup, chk)
    q.processAllAvailable(); q.stop()

    def tableNow(): Set[Seq[Any]] = IncrementalRollup.read(spark, rollup)
      .select("day", "event_type", "n_events", "total_value", "n_users")
      .collect().map(_.toSeq).toSet
    val got = tableNow()
    val expected = IncrementalRollup.rollup(Tables.events(spark, sfDir))
      .collect().map(_.toSeq).toSet
    assert(got == expected, "streamed rollup differs from batch recompute")

    // simulate checkpoint-recovery REPLAY of an already-committed batch:
    // re-append the same raw events to bronze and re-ingest — the
    // dedup-by-event_id read plus idempotent partition swap must leave
    // the table unchanged
    val replayBatch = Tables.events(spark, sfDir).limit(500)
    replayBatch
      .withColumn("day", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("day").parquet(bronze)
    IncrementalRollup.ingest(spark.read.parquet(bronze), replayBatch, rollup,
      dedupKey = Some("event_id"))
    assert(tableNow() == expected, "batch replay corrupted the rollup")
  }

  test("rollup sink recovers from a crash between bronze append and swap") {
    import graft.streaming.EventStreams
    import graft.pipelines.IncrementalRollup
    val bronze = tempDir("bronze_c")
    val rollup = tempDir("rollup_c")
    val chk = tempDir("rollup_c_chk")
    val src = tempDir("rollup_c_src")
    val half = Tables.events(spark, sfDir)
      .filter(col("event_id") % 2 === 0).count()
    // append part-files at the TOP level of src: the file stream source
    // does not recurse into subdirectories
    def addFile(filter: org.apache.spark.sql.Column): Unit =
      spark.read.parquet(s"$sfDir/events.parquet").filter(filter)
        .write.mode("append").parquet(src)
    addFile(col("event_id") % 2 === 0)

    // batch 1 commits cleanly
    val q1 = EventStreams.rollupSink(
      EventStreams.readEvents(spark, src), bronze, rollup, chk)
    q1.processAllAvailable(); q1.stop()

    // batch 2 CRASHES after the bronze append, before the rollup swap
    addFile(col("event_id") % 2 =!= 0)
    val boom = new RuntimeException("injected crash between bronze and swap")
    val q2 = EventStreams.rollupSinkWithHook(
      EventStreams.readEvents(spark, src), bronze, rollup, chk)(
      () => throw boom)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    // the crash window is real: bronze already has (some of) batch 2...
    assert(spark.read.parquet(bronze).count() > half,
      "crash must land AFTER the bronze append or the window is vacuous")
    // ...but the rollup still reflects only batch 1
    assert(IncrementalRollup.read(spark, rollup)
      .agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0) == half)

    // restart WITHOUT the hook: the uncommitted batch replays, bronze
    // double-appends, and the dedup-by-event_id recompute heals the table
    val q3 = EventStreams.rollupSink(
      EventStreams.readEvents(spark, src), bronze, rollup, chk)
    q3.processAllAvailable(); q3.stop()
    val got = IncrementalRollup.read(spark, rollup)
      .select("day", "event_type", "n_events", "total_value", "n_users")
      .collect().map(_.toSeq).toSet
    val expected = IncrementalRollup.rollup(Tables.events(spark, sfDir))
      .collect().map(_.toSeq).toSet
    assert(got == expected,
      "post-recovery rollup must equal the batch twin: no double-count, no hole")
  }

  test("streaming SCD2 closed intervals match the batch operator") {
    import graft.streaming.EventStreams
    val stream = EventStreams.streamingScd2(spark,
      EventStreams.readEvents(spark, stageDir("events")))
    val got = EventStreams.drainToMemory(stream.toDF(), "scd2_stream")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    // batch twin: every interval with a valid_to (the open/current row is
    // the streaming state, not an emission)
    val batch = graft.ops.Windows.scd2Intervals(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("valid_to_us").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming SCD2 drops cross-batch stragglers instead of inverting intervals") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type")
    val out = EventStreams.streamingScd2(spark, events).toDF()
    val q = out.writeStream.format("memory").queryName("scd2_late")
      .outputMode("append").start()
    // batch 1: a@100 then b@200 — closes (a, 100..200), leaves b open
    mem.addData((1L, ts(100), "a"), (1L, ts(200), "b"))
    q.processAllAvailable()
    // batch 2: c@150 is OLDER than the open interval's start (200): honoring
    // it would emit (b, 200..150), an inverted interval. It must be dropped.
    // a@300 then closes (b, 200..300).
    mem.addData((1L, ts(150), "c"), (1L, ts(300), "a"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("scd2_late").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
        r.getAs[Long]("valid_to_us"))).toSet
    assert(rows.forall { case (_, _, _, from, to) => to > from },
      s"inverted interval emitted: $rows")
    assert(rows == Set(
      (1L, 1L, "a", 100000000L, 200000000L),
      (1L, 2L, "b", 200000000L, 300000000L)), s"got $rows")
  }

  test("streaming SCD2 drops a cross-batch straggler at EXACTLY the open start") {
    // the ts == sinceUs edge: honoring it would emit a zero-length
    // interval under an ordering the batch twin may not share — it is a
    // straggler like any other and must be dropped, while a same-ts pair
    // WITHIN one batch still totalizes by (ts, state) like the batch sort
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type")
    val out = EventStreams.streamingScd2(spark, events).toDF()
    val q = out.writeStream.format("memory").queryName("scd2_eq_edge")
      .outputMode("append").start()
    // batch 1: a@100 → b@200; user 2: within-batch same-ts pair x@100, y@100
    mem.addData((1L, ts(100), "a"), (1L, ts(200), "b"),
      (2L, ts(100), "x"), (2L, ts(100), "y"))
    q.processAllAvailable()
    // batch 2: c@200 equals the open interval's start with a DIFFERENT
    // state — drop; then a@300 closes (b, 200..300) as if c never arrived
    mem.addData((1L, ts(200), "c"), (1L, ts(300), "a"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("scd2_eq_edge").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
        r.getAs[Long]("valid_to_us"))).toSet
    val u1 = rows.filter(_._1 == 1L)
    assert(u1 == Set(
      (1L, 1L, "a", 100000000L, 200000000L),
      (1L, 2L, "b", 200000000L, 300000000L)),
      s"cross-batch == straggler must be dropped: $u1")
    // within one batch, (100, x) sorts before (100, y) exactly like the
    // batch twin: the zero-length x interval is EMITTED, matching batch
    val u2 = rows.filter(_._1 == 2L)
    assert(u2 == Set((2L, 1L, "x", 100000000L, 100000000L)),
      s"within-batch same-ts pair must match the batch (ts, state) sort: $u2")
  }

  test("streaming DSIR scoring is bit-identical to the batch path; replay no-op") {
    import graft.ops.DataSelection
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text")
    // frozen model from the batch-side oracle-gated bins
    val model = DataSelection.dsirModel(DataSelection.dsirBins(spark, sfDir))
      .localCheckpoint()
    val expect = DataSelection.dsirScore(docs, model)
      .select($"doc_id", $"weight", $"n_grams")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq

    val src = tempDir("dsir_src")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$src/b0")
    docs.filter($"doc_id" % 2 =!= 0).write.parquet(s"$src/b1")
    val out = tempDir("dsir_out") + "/scores"
    def run(chk: String): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      val q = EventStreams.dsirScoringSink(stream, model, out,
        tempDir("dsir_chk") + "/c")
      q.processAllAvailable(); q.stop()
    }
    run("unused")
    def scored(): Seq[(Long, Double, Long)] =
      spark.read.parquet(out).select($"doc_id", $"weight", $"n_grams")
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    // bit-identical doubles: the sorted fold + frozen broadcast model make
    // stream ≡ batch exact, not approximately equal
    assert(scored() == expect,
      "streamed DSIR scores must equal the batch scores bit-for-bit")
    // cold replay (fresh checkpoint, same files): scores unchanged —
    // replaceKeys rewrites identical content
    run("again")
    assert(scored() == expect, "a replay must leave identical scores")

    // A re-ingested CHANGED doc that now yields zero feature rows (null
    // text → the tokenizer emits nothing) must have its stale score row
    // DELETED, not left standing: the replace is keyed on the microbatch's
    // doc_ids, not on the scored frame — same as a batch re-score over the
    // changed corpus, which would emit no row for it.
    val victim = expect.head._1
    Seq((victim, "en", null: String)).toDF("doc_id", "lang", "text")
      .write.parquet(s"$src/b2")
    run("emptied")
    assert(scored() == expect.filterNot(_._1 == victim),
      "an emptied re-ingested doc must leave NO stale score row")
  }

  test("streaming funnel matches the batch funnel operator") {
    import graft.streaming.EventStreams
    val stream = EventStreams.streamingFunnel(spark,
      EventStreams.readEvents(spark, stageDir("events")))
    // Update-mode memory sink holds every emission; keep the final row
    // per user (single-batch here, but written to survive multi-batch)
    val got = EventStreams.drainToMemory(stream.toDF(), "funnel_stream",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4))
      }.toMap
    val batch = graft.ops.Events.funnel(spark, sfDir)
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4))
      }.toMap
    assert(got.size == batch.size, s"${got.size} vs ${batch.size} users")
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("streaming near-dup flags match the batch band candidates") {
    import graft.streaming.EventStreams
    import graft.dedup.Dedup
    val corpus = Dedup.bandRows(
      Dedup.signatures(Tables.documents(spark, sfDir)))
    val flags = EventStreams.nearDupFlags(
      EventStreams.readDocuments(spark, stageDir("documents")), corpus)
    val got = EventStreams.drainToMemory(flags, "near_dup_flags")
      .select("doc_id", "corpus_doc_id").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
                 math.max(r.getLong(0), r.getLong(1)))).toSet
    val expected = Dedup.minhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("multimodal synthesize → extract → resize keeps shapes and determinism") {
    val items = Multimodal.synthesize(spark, sfDir).cache()
    assert(items.count() == Tables.documents(spark, sfDir).count())
    val feats = Multimodal.extractFeatures(items).cache()
    val f1 = feats.collect().map(f => f.mediaId -> f.meanByte).toMap
    val f2 = Multimodal.extractFeatures(items).collect()
      .map(f => f.mediaId -> f.meanByte).toMap
    assert(f1 == f2, "decode must be deterministic")
    val kinds = items.collect().map(m => m.mediaId -> m.kind).toMap
    feats.collect().foreach { f =>
      kinds(f.mediaId) match {
        case "image" => assert(f.nBytes == 8 * 6 * 3) // real pixels
        case "audio" => assert((f.nBytes - 44) % 1280 == 0) // real WAV bytes
        // video: real Y4M luma planes, 8x6 per frame, >= 2 frames
        case _ => assert(f.nBytes % 48 == 0 && f.nBytes >= 96)
      }
      assert(f.meanByte >= 0 && f.meanByte <= 255)
      assert(f.histogram.sum == f.nBytes)
      assert(f.entropyMilli >= 0 && f.entropyMilli <= 4000) // ≤ log2(16)*1000
    }
    val resized = Multimodal.resize(items, 2, 2).collect()
    resized.foreach { m =>
      if (m.kind == "image") {
        // real codec path: payload is a valid 2×2 image in its ORIGINAL
        // format (synthesize rotates PNG / P6 PPM / JPEG by doc id)
        val dec = (m.mediaId / 3) % 3 match {
          case 0 =>
            assert(graft.multimodal.PngCodec.isPng(m.payload),
              "resize must re-encode in the source format")
            graft.multimodal.PngCodec.decode(m.payload)
          case 1 =>
            assert(graft.multimodal.PpmCodec.isPpm(m.payload),
              "resize must re-encode in the source format")
            graft.multimodal.PpmCodec.decode(m.payload)
          case _ =>
            assert(graft.multimodal.JpegCodec.isJpeg(m.payload),
              "resize must re-encode in the source format")
            graft.multimodal.JpegCodec.decode(m.payload)
        }
        val Some((w, h, rgb)) = dec
        assert(w == 2 && h == 2 && rgb.length == 12)
      } else assert(m.payload.length == 2 * 2 * m.meta.channels)
      assert(m.meta.width == 2 && m.meta.height == 2)
    }
  }

  test("audio items are real WAVs: decode, features, and resample work") {
    val items = Multimodal.synthesize(spark, sfDir).cache()
    val audio = items.filter(_.kind == "audio")
    val nAudio = audio.count()
    assert(nAudio > 0)
    val feats = Multimodal.extractAudioFeatures(items).collect()
    assert(feats.length == nAudio, "every audio payload must decode as WAV")
    val metaById = audio.collect().map(m => m.mediaId -> m.meta).toMap
    feats.foreach { f =>
      val meta = metaById(f.mediaId)
      assert(f.sampleRate == 16000)
      assert(f.nSamples == meta.sampleRate * meta.durationMs / 1000)
      // 0.6 amplitude sine × 0.9 scale → rms ≈ 0.382 full scale
      assert(f.rmsMilli > 250 && f.rmsMilli < 500, s"rms ${f.rmsMilli}")
      // tone of 200..2240 Hz → 2·f crossings/s over durMs
      val freqLow = 2.0 * 200 * meta.durationMs / 1000
      val freqHigh = 2.0 * 2240 * meta.durationMs / 1000
      assert(f.zeroCrossings >= freqLow * 0.8 && f.zeroCrossings <= freqHigh * 1.2,
        s"zc ${f.zeroCrossings} for durMs ${meta.durationMs}")
      assert(f.peakAbs > 15000 && f.peakAbs <= 32767)
    }
    // resample halves the sample count and keeps the RMS level
    val down = Multimodal.extractAudioFeatures(
      Multimodal.resampleAudio(audio, 8000)).collect()
    val origById = feats.map(f => f.mediaId -> f).toMap
    down.foreach { d =>
      val o = origById(d.mediaId)
      assert(d.sampleRate == 8000)
      assert(math.abs(d.nSamples - o.nSamples / 2) <= 1)
      assert(math.abs(d.rmsMilli - o.rmsMilli) < 60,
        s"resample changed level: ${o.rmsMilli} -> ${d.rmsMilli}")
    }
  }

  test("stream-stream interval join matches the batch attribution join") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.drainToMemory(
      EventStreams.purchaseAttribution(stream), "attribution")
    // batch twin: the same interval join over the static table
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val batch = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("view_id"))
    assert(got.count() > 0, "stream join emitted nothing")
    // every emitted (purchase, view) pair must exist in the batch join;
    // the reverse can differ only by the still-open watermark tail
    val extra = got.select(col("purchase_id"), col("view_id"))
      .join(batch, Seq("purchase_id", "view_id"), "left_anti").count()
    assert(extra == 0, s"$extra streamed pairs not in the batch join")
    val missing = batch.join(got.select(col("purchase_id"), col("view_id")),
      Seq("purchase_id", "view_id"), "left_anti").count()
    assert(missing < batch.count() / 2,
      s"stream emitted too little: $missing of ${batch.count()} missing")
  }

  test("stream-stream LEFT OUTER join emits watermark-expired null rows") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.drainToMemory(
      EventStreams.purchaseAttributionLeftOuter(stream), "attribution_lo")
    // batch twin over the static table
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val batch = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"), "left_outer")
      .select(col("purchase_id"), col("view_id"))
    val batchNullIds = batch.filter(col("view_id").isNull)
      .select("purchase_id").distinct().collect().map(_.getLong(0)).toSet
    assert(batchNullIds.nonEmpty, "corpus has no unattributed purchases — spec is vacuous")

    // 1. the nulls the stream emitted must be genuinely unattributed
    val gotNullIds = got.filter(col("view_id").isNull)
      .select("purchase_id").distinct().collect().map(_.getLong(0)).toSet
    assert(gotNullIds.nonEmpty,
      "no null rows emitted — watermark expiry path never fired")
    val wrongNulls = gotNullIds -- batchNullIds
    assert(wrongNulls.isEmpty,
      s"stream emitted null for purchases that HAVE views: ${wrongNulls.take(5)}")
    // 2. ...and each at most once
    val dupNulls = got.filter(col("view_id").isNull)
      .groupBy("purchase_id").count().filter(col("count") > 1).count()
    assert(dupNulls == 0, s"$dupNulls purchases got more than one null row")
    // 3. matched pairs are exactly the inner-join semantics
    val gotPairs = got.filter(col("view_id").isNotNull)
      .select(col("purchase_id"), col("view_id"))
    val extra = gotPairs.join(batch.filter(col("view_id").isNotNull),
      Seq("purchase_id", "view_id"), "left_anti").count()
    assert(extra == 0, s"$extra streamed pairs not in the batch join")
    // 4. coverage: only the still-open watermark tail may be missing
    val missingNulls = batchNullIds -- gotNullIds
    assert(missingNulls.size < batchNullIds.size / 2,
      s"too few nulls: ${missingNulls.size} of ${batchNullIds.size} never emitted")
  }

  test("frame sampling fans out by duration") {
    val items = Multimodal.synthesize(spark, sfDir)
    val frames = Multimodal.sampleFrames(items, everyMs = 40)
    val vids = items.filter(_.kind == "video").collect()
    val expected = vids.map(v => 1 + (v.meta.durationMs - 1) / 40).sum
    assert(frames.count() == expected)
  }

  test("decoded frame sampling emits true per-frame luma stats") {
    val items = Multimodal.synthesize(spark, sfDir).cache()
    val vids = items.filter(_.kind == "video")
    // everyMs = frame period (40 ms at 25 fps) → every frame sampled
    val stats = Multimodal.sampleFramesDecoded(vids, everyMs = 40).collect()
    val byId = stats.groupBy(_.mediaId)
    vids.collect().foreach { m =>
      val got = byId(m.mediaId)
      // synthesize alternates raw Y4M and compressed MJPEG/AVI videos
      val (nFrames, frame0Mean) =
        graft.multimodal.Y4mCodec.decode(m.payload) match {
          case Some(v) =>
            val n = v.width * v.height
            (v.frames.length, v.frames(0).take(n).map(_ & 0xff).sum.toDouble / n)
          case None =>
            val v = graft.multimodal.AviMjpegCodec.decode(m.payload).get
            val rgb = v.frames.head
            val n = v.width * v.height
            val mean = (0 until n).map { i =>
              math.round(0.299 * (rgb(i * 3) & 0xff) +
                0.587 * (rgb(i * 3 + 1) & 0xff) +
                0.114 * (rgb(i * 3 + 2) & 0xff)).toInt
            }.sum.toDouble / n
            (v.frames.length, mean)
        }
      assert(got.length == nFrames,
        s"media ${m.mediaId}: ${got.length} stats for $nFrames frames")
      // recompute one frame's mean luma independently
      val f0 = got.minBy(_.frameIdx)
      assert(math.abs(f0.meanLuma - frame0Mean) < 1e-9)
      assert(got.forall(s => s.meanLuma >= 0 && s.meanLuma <= 255))
      // frames differ → fingerprints differ
      assert(got.map(_.lumaHash).distinct.length == got.length)
    }
  }
}
