package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = run(args, production = false)

  private[graft] def run(args: Array[String], production: Boolean): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast
    // single-query iteration (the driver passes two args → full run)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark =
      if (production) GraftSession.localProduction(cpus.toInt, "graft-verify-production")
      else GraftSession.local(cpus.toInt, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Queries are independent (plan building + a write to a per-query
    // directory) and Spark job submission is thread-safe, so run them on
    // a small worker pool: most sf0.01 queries are scheduler-bound, not
    // CPU-bound, and overlapping them hides each other's planning and
    // driver-side stages (graft_* functions are injected once at session
    // build by GraftExtensions, so there is no registration race).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.add(name)
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // Release point for caches persisted inside query builders (the dedup
    // family persists shared scans it references twice; the lazy result
    // can't unpersist them itself without defeating the share).
    Bench.clearPersisted(spark)
    // every control char is escaped: a tab or CR in the SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a failed query fails the process, after oracle_sql.json is written
    if (!failed.isEmpty) {
      val names = failed.toArray(Array.empty[String]).sorted
      System.err.println(
        s"[verify] ${names.length} queries failed: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}

/** [[Verify]] under the 100-TB posture ([[GraftSession.production]]:
  * CBO + histogram stats, AQE with skew-join splitting, 2000 shuffle
  * partitions, runtime bloom pruning, parquet aggregate pushdown) —
  * insurance that the production config changes PLANS, never ANSWERS.
  * Same args as Verify; compare its output dir with the same oracle
  * checker. */
object VerifyProduction {
  def main(args: Array[String]): Unit = Verify.run(args, production = true)
}
