package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that encodes how a graft
  * session should be configured, locally and on a cluster.
  *
  * `local(cpus)` is the test/bench shape (what Verify/Bench/specs use).
  * `production(builder)` layers the settings that matter at 100 TB onto a
  * caller-supplied builder (master/deploy config stays with the caller):
  *
  *  - AQE on, with coalescing and skew-join splitting: runtime re-planning
  *    replaces hand-tuned shuffle.partitions per query — the initial
  *    number only needs to be "enough", AQE coalesces down.
  *  - `spark.sql.files.maxPartitionBytes` at 256 MB: scan tasks sized so
  *    a 100 TB input makes ~400k tasks, not 4M, without starving
  *    parallelism on mid-size tables.
  *  - Runtime bloom-filter join pruning on (Spark's own; the explicit
  *    `j_bloom_prune` operator exists for when the plan must be
  *    deterministic).
  *  - UTC session timezone: date_trunc/strftime results must not depend
  *    on where the driver runs.
  *  - nanosAsLong for INT64-nanos parquet timestamps (this corpus's
  *    events table; harmless otherwise).
  *  - GraftExtensions: all graft_* expressions and the top-k rewrite rule
  *    arrive via SparkSessionExtensions, so spark.sql and every session
  *    user see them without per-module register() calls.
  */
object GraftSession {

  val ExtensionsClass = "graft.functions.GraftExtensions"

  /** Shared settings every graft session needs regardless of scale. */
  def common(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", ExtensionsClass)
    // The JVM-global generated-class cache defaults to 100 entries — a
    // session cycling through this library's operator surface (183 bench
    // queries alone, several codegen stages each) evicts and RECOMPILES
    // continuously: measured +0.2 s median per query (+45 s over the
    // bench suite) when queries revisit after ~180 other plans. Any
    // long-lived curation/serving session has the same many-plan shape,
    // and cached classes are small; 10k entries makes compilation
    // once-per-plan-shape again. (Static conf: applies at the first
    // session build in the JVM.)
    .config("spark.sql.codegen.cache.maxEntries", "10000")

  /** Local shape: parallelism = cores, no UI, shuffle partitions = cores
    * (the 200 default is pure overhead in one JVM). */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    started(common(localBuilder(cpus, appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)))

  /** The [[production]] posture on a local master with no UI: the
    * session VerifyProduction and production-posture season cells run. */
  def localProduction(cpus: Int, appName: String): SparkSession =
    started(production(localBuilder(cpus, appName)))

  private def localBuilder(cpus: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.ui.enabled", "false")

  private def started(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster shape: the caller supplies master/deploy settings; this adds
    * the scale posture. Partition targets assume ~128 MB–1 GB of input
    * per task and executors with 4–8 GB per core — the spill-safe band. */
  def production(b: SparkSession.Builder): SparkSession.Builder = common(b)
    // CBO + histograms: with routine ANALYZE TABLE, filtered-dim joins
    // broadcast on true selectivity instead of raw file size (CboSpec
    // demonstrates the plan flip)
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.statistics.histogram.enabled", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.shuffle.partitions", "2000")
}
