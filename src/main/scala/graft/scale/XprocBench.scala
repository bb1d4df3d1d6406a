package graft.scale

import graft.Bench.jnum
import org.apache.spark.sql.functions._

/** Cross-process evidence harness for the SHARED bucketed dedup layout
  * (r12 VERDICT "Next round" item 2). The r12 claim — one process pays
  * the corpus-sized bucketed write, every other process re-registers
  * pure DDL over the same files — was backed by an in-suite simulation
  * (catalog drop + registration wipe in ONE JVM). This main makes the
  * evidence direct: one invocation = one real JVM = one role;
  * `tools/run_xproc.sh` sequences the JVMs and assembles
  * `XPROC_r{N}.json`.
  *
  * Roles (arg 0) against the corpus dir (arg 1), JSON line to stdout
  * and to the file in arg 2:
  *  - `stage`    — stage a lang-partitioned documents corpus from
  *                 `SPARK_GRAFT_SF_DIR` into the corpus dir
  *  - `serve`    — run the DEFAULT `d_ngram_jaccard` entry (which serves
  *                 the shared bucketed layout with reuse=true): report
  *                 this JVM's per-entry build count, the first-pass wall
  *                 (build-if-needed + DDL + query), a SECOND-pass serve
  *                 wall (the in-regime probe's statistic — no build, no
  *                 first-registration DDL), row count, an
  *                 order-insensitive result hash, and the layout
  *                 generation id served
  *  - `takedown` — `Store.deleteKeys` one victim doc from the corpus
  *                 (prints the victim id for the assembler)
  *
  * The assembled artifact proves: process A builds (builds=1), process B
  * serves A's generation with ZERO builds at a serve-pass wall, two
  * processes racing one cold build serialize on the cross-process file
  * lock (exactly one build total, identical hashes and generation), and
  * a takedown forces exactly one rebuild in a later process with the
  * victim unreachable. */
object XprocBench {
  def main(args: Array[String]): Unit = {
    val role = args(0)
    val corpus = args(1)
    val outFile = if (args.length > 2) Some(args(2)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, appName = s"graft-xproc-$role")
    val pid = ProcessHandle.current().pid()

    def query() = graft.dedup.Dedup.ngramJaccard(spark, corpus)

    val json: String = role match {
      case "stage" =>
        val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        graft.Tables.documents(spark, sf)
          .write.partitionBy("lang").parquet(s"$corpus/documents.parquet")
        s"""{"role":"stage","pid":$pid,"src":"$sf"}"""

      case "takedown" =>
        val victim = graft.Tables.documents(spark, corpus)
          .filter(col("doc_id") >= 5).select("doc_id").head().getLong(0)
        val n = graft.sources.Store.deleteKeys(spark,
          s"$corpus/documents.parquet", "doc_id", Seq(victim), Seq("lang"))
        s"""{"role":"takedown","pid":$pid,"victim":$victim,"deleted":$n}"""

      case "serve" =>
        val w0 = System.nanoTime()
        val rows = query().queryExecution.toRdd.count()
        val firstSec = (System.nanoTime() - w0) / 1e9
        val builds = graft.dedup.Dedup.bucketedBuildsFor(corpus, "d4b")
        // second pass = the serve statistic: layout present, catalog
        // registered, so this wall is pair-gen + attach + score only
        graft.Bench.clearPersisted(spark)
        val w1 = System.nanoTime()
        query().queryExecution.toRdd.count()
        val serveSec = (System.nanoTime() - w1) / 1e9
        // order-insensitive content hash: bit_xor of per-row xxhash64 —
        // commutative, so two processes' results compare without a sort
        val hash = query()
          .select(xxhash64(concat_ws("|", col("doc_a"), col("doc_b"),
            col("jaccard_bp"), col("is_dup"))).as("h"))
          .agg(expr("bit_xor(h)")).head().getLong(0)
        val genFile = new java.io.File(
          graft.dedup.Dedup.layoutEntry(corpus, "d4b"), "_gen")
        val gen = new String(
          java.nio.file.Files.readAllBytes(genFile.toPath), "UTF-8").trim
        // post-takedown check: when the assembler passes the victim id,
        // report how many served pairs still touch it (must be 0)
        val victimPairs = sys.env.get("SPARK_GRAFT_XPROC_VICTIM")
          .map(_.toLong).map(v =>
            query().filter(col("doc_a") === v || col("doc_b") === v).count())
        s"""{"role":"serve","pid":$pid,"builds":$builds,""" +
          s""""first_sec":${jnum(firstSec)},"serve_sec":${jnum(serveSec)},""" +
          s""""rows":$rows,"hash":"$hash","gen":"$gen"""" +
          victimPairs.map(v => s""","victim_pairs":$v""").getOrElse("") + "}"

      case other => sys.error(s"unknown role: $other")
    }
    spark.stop()
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (json + "\n").getBytes("UTF-8")); ()
    }
    println(json)
  }
}
