package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One unit of work in a workload's closed loop. `build` calls into the
  * operator layer (eager driver work such as an index upsert happens
  * here) and returns the frames to drain; the harness drains each with
  * `collect()`, so the timed op is what a user of the library waits for. */
final case class Op(name: String, kind: String, build: () => Seq[DataFrame])

/** What one execution of an op produced: its timings, its output digest
  * (order-insensitive; see [[Digest]]) and the rows themselves, kept only
  * until the verification pass writes them out. */
final case class OpRun(id: Int, op: Op, t0: Long, tBuilt: Long, t1: Long,
                       error: Option[String], digest: String,
                       outputs: Seq[(org.apache.spark.sql.types.StructType, Array[Row])]) {
  def ok: Boolean = error.isEmpty
  def seconds: Double = (t1 - t0) / 1e9
}

/** Settings and directories of one benchmark run. Every path lives under
  * the run's work directory, which run.py wipes before each run. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     dataDir: String, workDir: String) {
  def path(rel: String): String = s"$workDir/$rel"
}

/** Benchmark driver, one workload per JVM: set up, warm up, run the timed
  * closed loop (one client, the next op starts when the previous one
  * ends), then verify outputs outside the timed region and write
  * `result.json` for run.py. */
object Main {

  val Cores = 4

  /** splitmix64 finalizer: nearby seeds give unrelated random streams
    * (java.util.Random's first draws are correlated for nearby seeds). */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"))
    val spark = session(ctx)
    val wl = Workloads(ctx.workload, spark, ctx)
    try Json.write(new File(ctx.path("result.json")), run(spark, wl, ctx))
    finally spark.stop()
  }

  def session(ctx: Ctx): SparkSession = {
    val s = graft.GraftSession.common(SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.local.dir", ctx.path("spark-local")))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(spark: SparkSession, wl: Workload, ctx: Ctx): Map[String, Any] = {
    val rnd = new scala.util.Random(Main.mix(ctx.seed))
    val tStart = System.nanoTime()
    wl.prepare()
    log(f"prepare ${(System.nanoTime() - tStart) / 1e9}%.2f s")
    // RDDs persisted by set-up (local checkpoints) outlive every op
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val tracer = new Tracer(spark)
    var nextId = 0
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val legsByRun = mutable.Map.empty[Int, Map[String, Double]]

    def execute(op: Op, traced: Boolean): OpRun = {
      nextId += 1
      val id = nextId
      graft.ops.Legs.drain()
      if (traced) { wl.beforeOp(op); tracer.beginOp(id) }
      val t0 = System.nanoTime()
      var tBuilt = t0
      val res = try {
        val frames = op.build()
        tBuilt = System.nanoTime()
        if (traced) tracer.built()
        Right(frames.map(df => (df.schema, df.collect())))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      if (traced) { tracer.endOp(id, op, t0, tBuilt, t1); wl.afterOp(op) }
      legsByRun(id) = graft.ops.Legs.drain()
      // free what the op persisted, so every execution does the same work
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs
        .foreach { case (rid, rdd) => if (!keep(rid)) rdd.unpersist(false) }
      res match {
        case Right(outs) =>
          OpRun(id, op, t0, tBuilt, t1, None, Digest.of(outs), outs)
        case Left(err) =>
          failures += op.name -> err.take(300)
          log(s"op ${op.name} FAILED: $err")
          OpRun(id, op, t0, tBuilt, t1, Some(err), "", Nil)
      }
    }

    def runPasses(n: Int, traced: Boolean, next: => Seq[Op] = wl.pass(rnd)): Seq[(Double, Seq[OpRun])] =
      (0 until n).map { _ =>
        val p0 = System.nanoTime()
        val runs = next.map(op => execute(op, traced))
        ((System.nanoTime() - p0) / 1e9, runs)
      }

    val warm = runPasses(1, traced = false, wl.warmupPass(rnd))
    warm.foreach { case (w, rs) =>
      log(f"warm-up pass ${w}%.2f s: " + rs.map(r => f"${r.op.name} ${r.seconds}%.2f").mkString(", "))
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // two passes at least: the corpus's passes alternate between its two indexes
    val passes = math.max(2, math.round(ctx.seconds / wl.nominalPassS).toInt)
    val compiles0 = Codegen.snapshot()
    val gc0 = Jvm.gcSeconds()
    Jvm.resetHeapPeaks()
    // traced runs time half of the passes untraced first, so the run
    // publishes its own tracing overhead
    val plainPasses = if (ctx.trace) math.max(1, passes / 2) else passes
    val t0 = System.nanoTime()
    val plain = runPasses(plainPasses, traced = false)
    val tPlain = System.nanoTime()
    val traced =
      if (ctx.trace) {
        tracer.attach()
        try runPasses(math.max(1, passes - plainPasses), traced = true)
        finally tracer.detach()
      } else Nil
    val t1 = System.nanoTime()
    val compiles = Codegen.snapshot().minus(compiles0)
    val gcS = Jvm.gcSeconds() - gc0
    val heapPeakMb = Jvm.heapPeakMb()
    val timed = plain ++ traced
    val runs = timed.flatMap(_._2)
    val okRuns = runs.filter(_.ok)
    val wallS = (tPlain - t0) / 1e9
    log(f"timed: ${timed.size} passes, ${(t1 - t0) / 1e9}%.2f s: " +
      runs.map(r => f"${r.op.name} ${r.seconds}%.2f").mkString(", "))

    // ---- verification: outside the timed region
    val checks = mutable.LinkedHashMap.empty[String, Any]
    warm.flatMap(_._2).filterNot(_.ok).foreach(r => checks(s"warm-up:${r.op.name}") = r.error.get)
    // every execution of an op whose answer is fixed must give one digest
    (warm.flatMap(_._2) ++ runs).filter(r => r.ok && r.op.kind != "serve")
      .groupBy(_.op.name).foreach { case (name, rs) =>
        val ds = rs.map(_.digest).distinct
        if (ds.size != 1) checks(s"stable:$name") = s"digests differ across executions: ${ds.mkString(",")}"
      }
    val firstRuns = (warm.flatMap(_._2) ++ runs).filter(_.ok).groupBy(_.op.name)
      .map { case (n, rs) => n -> rs.head }
    val digests = firstRuns.filter { case (_, r) => r.op.kind != "serve" && r.outputs.nonEmpty }
      .map { case (n, r) => n -> r.digest }
    // results of ops that have a DuckDB oracle go to parquet for run.py
    val oracle = wl.oracleSql
    firstRuns.foreach { case (name, r) =>
      oracle.get(name).foreach { _ =>
        r.outputs.headOption.foreach { case (schema, rows) =>
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(ctx.path(s"results/$name"))
        }
      }
    }
    checks ++= wl.verify(runs ++ warm.flatMap(_._2))
    val allDigests = digests ++ wl.extraDigests

    // ---- metrics
    val plainRuns = plain.flatMap(_._2).filter(_.ok)
    val lat = plainRuns.map(_.seconds).sorted
    val e2e = mutable.LinkedHashMap[String, Any](
      "wall_s" -> wallS,
      "ops_per_s" -> plainRuns.size / wallS,
      "latency_p50_s" -> Stats.pct(lat, 50),
      "peak_rss_mb" -> Jvm.vmHwmMb())
    val extra = mutable.LinkedHashMap[String, Any](
      "latency_tail_s" -> Stats.tail(lat).map(_._2),
      "latency_tail_pct" -> Stats.tail(lat).map(_._1),
      "latency_samples" -> lat.size,
      "timed_passes" -> timed.size,
      "warmup_pass_s" -> warm.map(_._1),
      "timed_pass_s" -> plain.map(_._1),
      "codegen_compiles_timed" -> compiles.count,
      "fail_ratio" -> (if (runs.isEmpty) 0.0 else (runs.size - okRuns.size).toDouble / runs.size))
    extra ++= wl.extraMetrics(plain.flatMap(_._2), wallS)

    val perLayer =
      if (ctx.trace) {
        val tr = traced.flatMap(_._2)
        val tracedWall = (t1 - tPlain) / 1e9
        val layer = tracer.perLayer(tr, traced.size, tracedWall, Cores, legsByRun.toMap)
        layer("codegen.compiles") = compiles.count.toDouble / timed.size
        layer("codegen.compile_s") = compiles.seconds / timed.size
        layer("jvm.gc_s") = gcS / timed.size
        layer("jvm.heap_peak_mb") = heapPeakMb
        // passes may differ in content (the corpus alternates its index
        // rounds), so the overhead compares executions of the same op
        val plainBy = plain.flatMap(_._2).filter(_.ok).groupBy(_.op.name)
        val diffs = tr.filter(_.ok).groupBy(_.op.name).collect { case (n, rs) if plainBy.contains(n) =>
          rs.map(_.seconds).sum / rs.size - plainBy(n).map(_.seconds).sum / plainBy(n).size
        }
        layer("trace.overhead_s") = if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
        layer ++= wl.layerMetrics(tr, traced.size)
        tracer.writeSpans(new File(ctx.path("trace_spans.jsonl")))
        layer.toMap
      } else Map.empty[String, Double]

    Map(
      "setup_jvm_s" -> setupS,
      "attempted" -> runs.size,
      "failed" -> (runs.size - okRuns.size),
      "failures" -> failures.map { case (n, e) => Map("op" -> n, "error" -> e) },
      "end_to_end" -> e2e,
      "extra" -> extra,
      "per_layer" -> perLayer,
      "checks" -> checks,
      "digests" -> allDigests,
      "oracle_sql" -> (oracle.filter { case (n, _) => firstRuns.contains(n) } ++ wl.extraOracle),
      "provenance" -> (Map[String, Any](
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> s"local[$Cores]",
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "seed" -> ctx.seed,
        "spark_version" -> spark.version) ++ wl.provenance))
  }
}

/** Order-insensitive digest of an op's outputs: each row is rendered
  * canonically (doubles rounded to 9 significant digits, which absorbs
  * summation-order noise in non-oracle aggregates), hashed, and the
  * hashes summed; column names and row count are part of the digest. */
object Digest {
  private val mc = new java.math.MathContext(9)

  def canon(v: Any): String = v match {
    case null => "<null>"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def of(outs: Seq[(org.apache.spark.sql.types.StructType, Array[Row])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    outs.foreach { case (schema, rows) =>
      var sum = 0L
      rows.foreach { r =>
        val h = md.digest(canon(r).getBytes("UTF-8"))
        sum += java.nio.ByteBuffer.wrap(h).getLong
      }
      md.update(s"${schema.fieldNames.mkString(",")}|${rows.length}|$sum;".getBytes("UTF-8"))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

object Stats {
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (sorted.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 50)

  /** Highest whole percentile above the median with at least ten samples
    * beyond it; None with fewer than 20 samples, where none qualifies. */
  def tail(sorted: Seq[Double]): Option[(Int, Double)] = {
    val p = math.floor(100.0 * (1 - 10.0 / sorted.size)).toInt
    if (p <= 50) None else Some((p, pct(sorted, p)))
  }
}

object Codegen {
  final case class Snap(count: Long, seconds: Double) {
    def minus(o: Snap): Snap = Snap(count - o.count, seconds - o.seconds)
  }

  /** Whole-stage/expression codegen compilations so far. The compile-time
    * histogram keeps every sample below its reservoir size, and the timed
    * region compiles (close to) nothing once warm. */
  def snapshot(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum / 1e3)
  }
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
  }
}
