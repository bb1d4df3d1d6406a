package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The driver bench, plus the helpers every bench main publishes
  * through (ScaleBench, SeasonScaleBench and Verify share them). */
object Bench {

  /** One timed execution: its wall (NaN when it threw), its output rows
    * (None when it threw) and the lifecycle legs it recorded. */
  private[graft] final case class Run(wall: Double, rows: Option[Long],
                                      legs: Map[String, Double])

  /** Time one execution of `fn(spark, dir)`, the one timing rule Bench
    * and ScaleBench share. A FAILED run's wall is NaN, never its
    * elapsed-to-failure time: a query that starts throwing must not make
    * a total faster or a growth ratio smaller. Legs left by an earlier
    * run are drained first so they cannot blame this one; persisted
    * state is cleared after the run, failed or not. */
  private[graft] def timedRun(spark: SparkSession, dir: String, name: String,
                              fn: (SparkSession, String) => DataFrame): Run = {
    graft.ops.Legs.drain()
    val t0 = System.nanoTime()
    // toRdd.count() executes the FULL physical plan (a plain .count()
    // lets the optimizer drop final sorts and projections)
    val (wall, rows) =
      try {
        val n = fn(spark, dir).queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, Some(n))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (Double.NaN, None)
      }
    clearPersisted(spark)
    Run(wall, rows, graft.ops.Legs.drain())
  }

  /** The middle successful run by wall (the lower middle on an even
    * count), if any run succeeded. */
  private[graft] def middle[A](runs: Seq[A])(wall: A => Double): Option[A] = {
    val ok = runs.filterNot(r => wall(r).isNaN).sortBy(wall)
    ok.lift((ok.length - 1) / 2)
  }

  /** JVM/codegen warm-up: one untimed scan+agg so the first timed query
    * doesn't book classloading + codegen compiler start-up (~6 s in r01). */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().queryExecution.toRdd.count()
      ()
    } catch { case _: Throwable => () }

  /** Machine-state probe walls, published as session diagnostics. A
    * FAILED probe gives a NaN wall instead of its elapsed-to-failure
    * time, and the first failure is kept for `calib_error`. */
  private[graft] final class Probes(spark: SparkSession) {
    var error: Option[String] = None
    def time(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      val dt =
        try { body; (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          error = error.orElse(Some(
            s"$label: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(160)))
          System.err.println(s"[bench] CALIBRATION PROBE FAILED ($label): $e")
          Double.NaN
        }
      clearPersisted(spark)
      dt
    }
  }

  /** Free any cached/persisted intermediates a query left behind (the
    * dedup family persists its shingle table) so a repeat measures the
    * same work as the first run and many executions don't accumulate
    * storage memory. Then quiesce: with 100+ queries in one JVM, GC debt
    * from query N lands in query N+1's wall time and reads as a phantom
    * regression (r5 adjudicated 8 such). An explicit GC + short settle
    * makes each measurement start from the same heap. */
  private[graft] def clearPersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
    Thread.sleep(50)
  }

  /** The fixed SCAN probe: scan + hash-agg + sort over lineitem, the
    * suite's dominant cost shape. Its wall is a machine-state
    * diagnostic (`calib_sec`). */
  private[graft] def scanProbe(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(org.apache.spark.sql.functions.sum("l_quantity"),
           org.apache.spark.sql.functions.avg("l_extendedprice"),
           org.apache.spark.sql.functions.count("*"))
      .orderBy("l_returnflag", "l_linestatus")
      .queryExecution.toRdd.count()
    ()
  }

  /** NaN-safe median that averages the middle pair on even counts (an
    * upper-middle pick biases 2-sample medians high — r14 ADVICE). NaN
    * and infinite entries (failed runs) are dropped, not sorted to an
    * end; NaN when nothing remains. */
  private[graft] def med(ws: Seq[Double]): Double = {
    val ok = ws.filterNot(d => d.isNaN || d.isInfinite).sorted
    if (ok.isEmpty) Double.NaN
    else if (ok.length % 2 == 1) ok(ok.length / 2)
    else (ok(ok.length / 2 - 1) + ok(ok.length / 2)) / 2.0
  }

  /** A JSON number rounded half-up to `digits` places; `null` for NaN or
    * an infinity. */
  private[graft] def jnum(v: Double, digits: Int = 3): String =
    if (v.isNaN || v.isInfinite) "null"
    else BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON string literal, escaping quote, backslash and ALL control
    * chars (r15 ADVICE: Spark exception messages often carry newlines,
    * so quote-and-backslash-only escaping emitted invalid artifacts on
    * exactly the fail-loudly path that exists to be machine-readable). */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, appName = "graft-bench")

    warmUp(spark, sfDir)

    // MEDIAN-of-3 per query (r13 — the r12 verdict's headline item):
    // best-of-3 tracked the machine's fast tail, so two runs of ONE tree
    // could disagree by ~15% on the total — more than any claimed
    // round-over-round effect, making bench deltas unfalsifiable. The
    // per-query median discards the one-off stall AND the one-off lucky
    // run; the probes adopted the same statistic in r12 and reproduce
    // across independent runs. Each run also drains any per-leg wall
    // times the lifecycle queries recorded (graft.ops.Legs); the
    // published legs are the middle successful run's (same statistic as
    // the total, so legs + lazy-serve remainder stay internally
    // consistent).
    //
    // The three repeats run as INTERLEAVED WHOLE-SUITE PASSES, not
    // back-to-back: a transient machine stall (page-cache eviction,
    // background compaction, a neighboring process) spans seconds, so
    // back-to-back repeats of one query all land inside it and the
    // median keeps the stall — measured as the ±14% per-query wobble
    // between two consecutive back-to-back-median runs of one tree.
    // With passes, the same stall hits each query in at most ONE pass,
    // and its other two runs vote it down. Per-query lifecycle
    // semantics are order-free (each query stages its own state and
    // clearPersisted() runs after every execution), and pass 1 doubles
    // as the global warm-up the per-query cold run used to absorb.
    //
    // Machine-state probes, published as SESSION DIAGNOSTICS only: raw
    // totals are comparable only WITHIN a session (the same tree measured
    // 14% apart across sessions), and no fixed probe-normalized statistic
    // held across sessions (CALIB_r16: ±20%). Two fixed probes run at the
    // start and end of every pass, so a reader can see the machine state
    // a total was measured in:
    //  - SCAN probe ([[scanProbe]]) → `calib_sec`;
    //  - SHUFFLE probe: a two-sided repartition sort-merge self-join of
    //    lineitem on l_orderkey + aggregation → `calib_shuffle_sec`.
    // A FAILED probe publishes `calib_error` and a null wall instead of
    // its elapsed-to-failure time.
    val probes = new Probes(spark)
    def calibScanOnce(): Double = probes.time("scan")(scanProbe(spark, sfDir))
    def calibShuffleOnce(): Double = probes.time("shuffle") {
      import org.apache.spark.sql.functions._
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val r = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      // both sides repartitioned + merge-hinted: the probe must pay two
      // exchanges, two sorts, and a fan-out join even if stats would
      // broadcast one side — that is the shape being probed
      l.repartition(64, col("l_orderkey")).hint("merge")
        .join(r.repartition(64, col("l_orderkey")), "l_orderkey")
        .groupBy(pmod(col("l_partkey"), lit(97)).as("g"))
        .agg(sum(col("l_quantity") * col("l_suppkey")), count("*"))
        .orderBy(col("g"))
        .queryExecution.toRdd.count()
      ()
    }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    // TWO probe walls per pass (start + end, 6 walls each probe): 3-wall
    // probe medians moved opposite to the suite at near-idle states
    // (short-wall sampling noise), so the sample is doubled at a cost of
    // ~5 s per run
    val calibWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibShufWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = Vector.fill(3) {
      calibWalls += calibScanOnce()
      calibShufWalls += calibShuffleOnce()
      val pass = qs.map { case (name, fn) => timedRun(spark, sfDir, name, fn) }
      calibWalls += calibScanOnce()
      calibShufWalls += calibShuffleOnce()
      pass
    }
    val calib = med(calibWalls.toSeq)
    val calibShuf = med(calibShufWalls.toSeq)
    // per query: the median over SUCCESSFUL runs (NaN when none
    // succeeded, published as null) and the legs of the middle
    // successful run
    val runs = qs.zipWithIndex.map { case ((name, _), i) =>
      val all = passes.map(_(i))
      val legs = middle(all)(_.wall).fold(Map.empty[String, Double])(_.legs)
      (name, med(all.map(_.wall)), legs, all.exists(_.wall.isNaN))
    }
    val failed = runs.collect { case (n, _, _, true) => n }
    // serve_overhead legs (the per-call lock/DDL/sweep segment of the
    // bucketed serve path) are recorded by EVERY query that serves a
    // layout; publishing them under the bare layout key would collide
    // across queries. Keep them for the bucketed attach cells — the
    // attribution target (r13 VERDICT item 3) — prefixed by the query,
    // and drop the rest (their per-cell split lives in SCALE's legs).
    val legs: Map[String, Double] = runs.flatMap { case (qname, _, ls, _) =>
      ls.flatMap { case (k, v) =>
        if (!k.endsWith(".serve_overhead")) Some(k -> v)
        else if (qname.contains("_bucketed")) Some(s"$qname.$k" -> v)
        else None
      }
    }.toMap
    // The driver captures only the LAST ~2 KB of stdout; a name-keyed map
    // over 160+ queries can NEVER fit (names alone ≈ 3.3 KB — r07 and r08
    // both recorded "parsed": null). So the printed line is SHORT — total
    // + query count + a pointer to the committed file, with the file's md5
    // tying the two together — and the full-precision per-query map lives
    // only in BENCH.json.
    val total = runs.map(_._2).filterNot(_.isNaN).sum
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val calibErrJson = probes.error.fold("")(e => s""""calib_error":${jstr(e)},""")
    val calibJson = s""""calib_sec":${jnum(calib)},"calib_walls":[${
      calibWalls.map(jnum(_)).mkString(",")
    }],"calib_shuffle_sec":${jnum(calibShuf)},"calib_shuffle_walls":[${
      calibShufWalls.map(jnum(_)).mkString(",")
    }],$calibErrJson"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec",$calibJson"queries":${
      runs.map { case (k, v, _, _) =>
        jstr(k) + ":" + (if (v.isNaN) "null" else v.toString)
      }.mkString("{", ",", "}")
    },"failed":${failed.map(jstr).mkString("[", ",", "]")},"legs":${
      legs.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
        .mkString("{", ",", "}")
    },"sf":"$sfDir"}"""
    val bytes = (full + "\n").getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), bytes)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    // the lifecycle per-leg walls ride the SHORT line too: ~11 keys,
    // well inside the driver's stdout capture, and the round ledger
    // then carries them without dereferencing the committed file
    val legsShort = legs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + jnum(v, 2) }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${jnum(total)},"unit":"sec",""" +
      s""""n_queries":${runs.size},"n_failed":${failed.size},""" +
      s"""$calibJson"file":"$outFile","md5":"$md5",""" +
      s""""legs":$legsShort,"sf":"$sfDir"}"""
    spark.stop()
    // The FULL line (identical bytes to BENCH.json, same md5) is printed
    // FIRST, and the short line stays the process's FINAL line. The
    // "queries" map cannot live on the parsed line itself: the driver
    // keeps the last ~2 KB of stdout and parses the FINAL line as JSON
    // (build.sbt comment), while the 184 query names alone are ~3.4 KB.
    println(full)
    // print LAST, after spark.stop(), so no executor-shutdown log lands
    // between the JSON and the end of this JVM's output
    println(json)
    // a failed query fails the process, after both lines are out
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
