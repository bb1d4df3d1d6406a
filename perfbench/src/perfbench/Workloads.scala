package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload: its set-up, the ops of one pass (in seed order),
  * and its output checks. A pass is the workload's unit of work; the
  * timed region runs whole passes, so every run times the same multiset
  * of ops and only their order (and batching) depends on the seed. */
trait Workload {
  /** Typical warm pass wall on a 4-core host; sets how many passes fill
    * the requested run length. */
  def nominalPassS: Double
  def prepare(): Unit = ()
  def pass(rnd: scala.util.Random): Seq[Op]
  /** The ops of the single warm-up pass that ends set-up. */
  def warmupPass(rnd: scala.util.Random): Seq[Op]
  def oracleSql: Map[String, String] = Map.empty
  /** Named checks, "ok" or a failure message. */
  def verify(runs: Seq[OpRun]): Map[String, Any] = Map.empty
  def extraMetrics(timed: Seq[OpRun], wallS: Double): Map[String, Any] = Map.empty
  def beforeOp(op: Op): Unit = ()
  def afterOp(op: Op): Unit = ()
  /** Workload-specific per-layer metrics of the traced passes; every
    * workload reports every name (zero where the layer does no work). */
  def layerMetrics(traced: Seq[OpRun], passes: Int): Map[String, Double] = Map.empty
  def provenance: Map[String, Any]
  /** Digests of outputs that are not single-op results (checked against
    * the pinned digests by run.py). */
  def extraDigests: Map[String, String] = Map.empty
  /** Oracle SQL for result sets that `verify` writes under results/. */
  def extraOracle: Map[String, String] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, ctx: Ctx): Workload = name match {
    case "corpus_x5" => new Corpus(spark, ctx)
    case "season_eppa" => new Season(spark, ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Lifecycle legs (graft.ops.Legs) published by traced runs. */
  val Legs: Seq[String] = Seq("layout_d4b.build", "layout_d4b.serve_overhead")

  val StoreZero: Map[String, Double] = Seq("store.build_s", "store.upsert_s", "store.serve_s",
    "store.bytes_written_mb", "store.write_amp", "store.files", "store.space_mb").map(_ -> 0.0).toMap
  val NflZero: Map[String, Double] = Seq("nfl.kernel_frame_ms", "nfl.kernel_cells_per_s",
    "nfl.epa_tables_s", "nfl.write_s").map(_ -> 0.0).toMap

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Files under `dir` with their sizes and modification times. */
  def listing(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists) Map.empty
    else if (dir.isFile) Map(dir.getPath -> (dir.length, dir.lastModified))
    else Option(dir.listFiles).toSeq.flatten.flatMap(f => listing(f)).toMap
}

/** A ×5 corpus built with graft.scale.ScaleData from the sf0.01
  * documents and embeddings. A pass runs the kernel read cells plus one
  * index lifecycle round, alternating between the n-gram and the IVF
  * index: upsert the next seed-chosen ingest batch (the write), then serve
  * the index (the read). Two consecutive passes cover both indexes. */
final class Corpus(spark: SparkSession, ctx: Ctx) extends Workload {
  val Copies = 5
  val Batches = 2
  val cells: Seq[String] = Seq("d_minhash_lsh_fast", "d_ngram_jaccard", "d_embedding_dup")
  private val fns = graft.SparkEntry.queries
  private val corpusDir = ctx.path("corpus")
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var round = 0
  private var buildS = 0.0
  private val upsertWrites = mutable.ArrayBuffer.empty[(Long, Long)] // (bytes written, batch bytes)
  private var before: Map[String, (Long, Long)] = Map.empty
  private var lastUpsert: (Index, Int) = _

  /** One persisted index under lifecycle: the held-out tenth of its
    * table (`key % 10 == 0`) arrives in seed-chosen batches. */
  private abstract class Index(val name: String, key: String, val oracle: String) {
    val dir: String = ctx.path(s"store/$name")
    val ingested = mutable.Set.empty[Int]
    var servedFull = false
    def table: DataFrame
    def build(rows: DataFrame): Unit
    def fold(rows: DataFrame): Unit
    def serve(): DataFrame
    /** Input bytes of one row: key plus payload. */
    def rowBytes: Column
    private def held = col(key) % 10 === 0
    private var batches: Seq[DataFrame] = Nil
    /** Materialise the ingest batches once, so that every upsert runs the
      * same plan (and generated code) whichever batch it folds in. */
    def split(): Unit = batches = (0 until Batches).map(b => table.filter(held &&
      pmod(xxhash64(col(key), lit(ctx.seed)), lit(Batches.toLong)) === b).localCheckpoint())
    def seed(): Unit = build(table.filter(!held))
    def upsert(b: Int): Unit = { fold(batches(b)); ingested += b }
    def batchBytes(b: Int): Long = batches(b).agg(sum(rowBytes)).first().getLong(0)
  }

  private val ngram = new Index("ngram", "doc_id", graft.dedup.Dedup.ngramJaccardSql) {
    def table = docs.select("doc_id", "text")
    def build(rows: DataFrame) = graft.dedup.NgramIndex.buildFrom(rows, dir)
    def fold(rows: DataFrame) = graft.dedup.NgramIndex.upsert(rows, dir)
    def serve() = graft.dedup.NgramIndex.ngramJaccardIndexed(spark, dir)
    def rowBytes = length(col("text")) + 8
  }

  private val ivf = new Index("ivf", "vec_id", graft.similarity.Ann.ivfTopKSql) {
    private val seedDir = ctx.path("corpus-seed")
    def table = vecs
    // the public build reads a corpus directory, so the seed set gets one
    def build(rows: DataFrame) = {
      rows.write.mode("overwrite").parquet(s"$seedDir/embeddings.parquet")
      graft.similarity.Ann.ivfIndexBuild(spark, seedDir, dir)
    }
    def fold(rows: DataFrame) = graft.similarity.Ann.ivfIndexUpsert(rows, dir)
    def serve() = graft.similarity.Ann.ivfTopKIndexed(spark, corpusDir, dir)
    def rowBytes = lit(8 + 4 * 64 + 4)
  }
  private val indexes = Seq(ngram, ivf)

  def nominalPassS = 5.0

  override def prepare(): Unit = {
    graft.scale.ScaleData.documents(spark, ctx.dataDir, Copies)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    graft.scale.ScaleData.embeddings(spark, ctx.dataDir, Copies)
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
    docs = graft.Tables.documents(spark, corpusDir)
    vecs = graft.Tables.embeddings(spark, corpusDir)
    indexes.foreach(_.split())
    buildS = indexes.map(ix => Workloads.timeS(ix.seed())._2).sum
  }

  /** The next index round: an upsert, then a serve. */
  private def lifecycle(): Seq[Op] = {
    val ix = indexes(round % indexes.size)
    val b = (round / indexes.size) % Batches
    round += 1
    Seq(Op(s"${ix.name}_upsert", "upsert", () => { lastUpsert = (ix, b); ix.upsert(b); Nil }),
      Op(s"${ix.name}_serve", "serve", () => { ix.servedFull = ix.ingested.size == Batches; Seq(ix.serve()) }))
  }

  def pass(rnd: scala.util.Random): Seq[Op] =
    rnd.shuffle(cells.map(c => Seq(Op(c, "cell", () => Seq(fns(c)(spark, corpusDir))))) :+ lifecycle()).flatten

  /** Warm-up runs the cells once and a round of each index. */
  override def warmupPass(rnd: scala.util.Random): Seq[Op] = pass(rnd) ++ lifecycle()

  override def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => cells.contains(k) }

  private val finalServe = mutable.Map.empty[String, String]

  /** The lifecycle check: each index's last serve, once every batch is
    * folded in, must equal a serve from a full rebuild, which equals the
    * inline form its DuckDB oracle gates over the whole corpus. */
  override def verify(runs: Seq[OpRun]): Map[String, Any] = {
    indexes.foreach { ix =>
      val last = runs.filter(r => r.ok && r.op.name == s"${ix.name}_serve").sortBy(_.id).lastOption
      val (schema, rows) =
        if (last.isDefined && ix.servedFull) last.get.outputs.head
        else {
          (0 until Batches).filterNot(ix.ingested.contains).foreach(ix.upsert)
          val df = ix.serve()
          (df.schema, df.collect())
        }
      finalServe(s"${ix.name}_serve_final") = Digest.of(Seq((schema, rows)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(ctx.path(s"results/${ix.name}_serve_final"))
    }
    Map.empty
  }

  override def extraOracle: Map[String, String] =
    indexes.map(ix => s"${ix.name}_serve_final" -> ix.oracle).toMap

  override def extraDigests: Map[String, String] = finalServe.toMap

  override def extraMetrics(timed: Seq[OpRun], wallS: Double): Map[String, Any] = {
    def p50(kind: String) = Stats.median(timed.filter(r => r.ok && r.op.kind == kind).map(_.seconds))
    Map("upsert_p50_s" -> p50("upsert"), "serve_p50_s" -> p50("serve"))
  }

  private def snapshot() = indexes.map(ix => Workloads.listing(new File(ix.dir))).reduce(_ ++ _)

  override def beforeOp(op: Op): Unit = if (op.kind == "upsert") before = snapshot()

  override def afterOp(op: Op): Unit = if (op.kind == "upsert") {
    val written = snapshot().collect { case (p, (len, mt)) if !before.get(p).contains((len, mt)) => len }.sum
    upsertWrites += written -> lastUpsert._1.batchBytes(lastUpsert._2)
  }

  override def layerMetrics(traced: Seq[OpRun], passes: Int): Map[String, Double] = {
    def mean(kind: String) = {
      val xs = traced.filter(r => r.ok && r.op.kind == kind).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val files = snapshot()
    val written = upsertWrites.map(_._1).sum.toDouble
    Workloads.NflZero ++ Map(
      "store.build_s" -> buildS,
      "store.upsert_s" -> mean("upsert"),
      "store.serve_s" -> mean("serve"),
      "store.bytes_written_mb" -> written / 1048576.0 / math.max(1, upsertWrites.size),
      "store.write_amp" -> written / math.max(1L, upsertWrites.map(_._2).sum),
      "store.files" -> files.size.toDouble,
      "store.space_mb" -> files.values.map(_._1).sum / 1048576.0)
  }

  def provenance: Map[String, Any] = Map(
    "data" -> s"ScaleData x$Copies of the sf0.01 documents and embeddings tables",
    "cells" -> cells.size,
    "ingest_batches" -> Batches,
    "cache_state" -> "cold at set-up (cache root wiped); index seed built in set-up; layout cache seeded by warm-up")
}

/** The paper's job: SeasonBench.replicate → Normalize → SeasonJob.run
  * (EPA tables through the fixture EP GBDT, frame kernel with the xyac
  * scorer, four output tables). A timed op runs the job over one
  * replicated copy of the four toy plays, 48 in-window frames, so every op
  * does the same work and the seed changes only the key offset and the
  * copy order. Warm-up runs the job over a single play. */
final class Season(spark: SparkSession, ctx: Ctx) extends Workload {
  val Copies = 2
  val FramesPerPlay = 12
  // seed-derived key offset: the answers must not depend on it
  private val offset = 1000L * (1 + math.abs(ctx.seed % 997))
  private var tracking, games, plays, preState: DataFrame = _
  private var copyKeys: Seq[Seq[(Long, Long)]] = Nil
  private var cursor = 0
  private var order: Seq[Seq[(Long, Long)]] = Nil
  private val done = mutable.ArrayBuffer.empty[(Seq[(Long, Long)], String, Long)] // plays, out dir, frames
  private val xyac = graft.nfl.XyacModel.loadReferenceIfPresent()

  def nominalPassS = 14.0

  override def prepare(): Unit = {
    val (t, g, p, s) = graft.nfl.SeasonBench.replicate(spark, Copies)
    def shift(df: DataFrame) = df.withColumn("gameId", col("gameId") + offset).localCheckpoint()
    tracking = shift(t); games = shift(g); plays = shift(p); preState = shift(s)
    val keys = preState.select("gameId", "playId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // replicate shifts copy c's game ids by 10 * c
    copyKeys = keys.groupBy(k => (k._1 - offset) / 10).toSeq.sortBy(_._1).map(_._2.sorted)
  }

  /** The rows of `df` that belong to the plays `ks`. A semi-join against a
    * key table, not a filter on literals: every op then runs the same
    * plans, so the generated code compiled in warm-up serves every timed op. */
  private def forPlays(df: DataFrame, ks: Seq[(Long, Long)], cols: Seq[String] = Seq("gameId", "playId")) =
    df.join(spark.createDataFrame(ks).toDF("gameId", "playId").select(cols.map(col): _*), cols, "left_semi")

  private def normalized(ks: Seq[(Long, Long)]) =
    graft.nfl.Normalize(forPlays(tracking, ks), forPlays(games, ks, Seq("gameId")), forPlays(plays, ks))

  private def seasonOp(ks: Seq[(Long, Long)]): Op = {
    cursor += 1
    val out = ctx.path(s"season-out/op$cursor")
    Op("season_run", "run", () => {
      done += ((ks, out, graft.nfl.SeasonJob.run(normalized(ks), forPlays(preState, ks), out, xyacModel = xyac)))
      Nil
    })
  }

  override def warmupPass(rnd: scala.util.Random): Seq[Op] = Seq(seasonOp(Seq(rnd.shuffle(copyKeys.flatten).head)))

  def pass(rnd: scala.util.Random): Seq[Op] = {
    if (order.isEmpty) order = rnd.shuffle(copyKeys)
    val ks = order.head
    order = order.tail
    Seq(seasonOp(ks))
  }

  private def baseKey(k: (Long, Long)) = s"${k._1 - offset}-${k._2}"

  private var playDigests: Map[String, String] = Map.empty

  override def verify(runs: Seq[OpRun]): Map[String, Any] = {
    val wrongFrames = done.filter(d => d._3 != FramesPerPlay * d._1.size)
    val perPlay = done.flatMap { case (ks, out, _) =>
      val passes = spark.read.parquet(s"$out/passes")
      ks.map { k =>
        val df = passes.filter(col("gameId") === k._1 && col("playId") === k._2).drop("gameId", "playId")
        baseKey(k) -> Digest.of(Seq((df.schema, df.collect())))
      }
    }
    playDigests = perPlay.groupBy(_._1).map { case (bk, ds) =>
      val dg = ds.map(_._2).distinct
      s"season_play:$bk" -> (if (dg.size == 1) dg.head else dg.mkString("|"))
    }
    Map("season:frames" ->
      (if (wrongFrames.isEmpty) "ok"
       else s"ops with frames != $FramesPerPlay per play: ${wrongFrames.map(d => (d._1.size, d._3))}"))
  }

  override def extraDigests: Map[String, String] = playDigests

  override def extraMetrics(timed: Seq[OpRun], wallS: Double): Map[String, Any] =
    Map("frames_per_s" -> timed.count(_.ok) * FramesPerPlay * copyKeys.head.size / wallS)

  /** Kernel, EPA-table and output-write times, each measured by calling
    * the layer's public function on one play outside the timed passes. */
  override def layerMetrics(traced: Seq[OpRun], passes: Int): Map[String, Double] = {
    val spk = spark
    import spk.implicits._
    val k = copyKeys.head.head
    val norm = normalized(Seq(k))
    val (tables, epaS) = Workloads.timeS(graft.nfl.SeasonJob.epaTables(forPlays(preState, Seq(k))))
    val inputs = graft.nfl.EppaJob.frameInputs(norm).collect().sortBy(_.frameId)
    val kernel = new graft.nfl.FrameEppa.Kernel(graft.nfl.FrameEppa.Params(),
      graft.nfl.FrameEppa.Priors.synthetic(),
      xyac.map(graft.nfl.XyacModel.kernelScorer).getOrElse((_: Array[Double]) => 5.0),
      xyac.map(graft.nfl.XyacModel.kernelBatchScorer).orNull)
    val (comp, inc) = tables(k)
    kernel.compute(inputs.head, comp, inc)
    val frameMs = inputs.take(4).map(in => Workloads.timeS(kernel.compute(in, comp, inc))._2 * 1e3)
    val ms = Stats.median(frameMs.toSeq)
    val out = graft.nfl.EppaJob.run(spark.createDataset(inputs.toSeq), tables).cache()
    out.count()
    val (_, writeS) = Workloads.timeS(graft.nfl.EppaJob.writeOutputs(out, ctx.path("season-out/trace-write")))
    out.unpersist()
    val cells = graft.nfl.FrameEppa.F.toDouble * graft.nfl.FrameEppa.NT
    Workloads.StoreZero ++ Map(
      "nfl.kernel_frame_ms" -> ms,
      "nfl.kernel_cells_per_s" -> cells / (ms / 1e3),
      "nfl.epa_tables_s" -> epaS,
      "nfl.write_s" -> writeS)
  }

  def provenance: Map[String, Any] = Map(
    "copies" -> Copies,
    "plays" -> copyKeys.map(_.size).sum,
    "frames_per_op" -> FramesPerPlay * copyKeys.head.size,
    "xyac" -> (if (xyac.isDefined) "real" else "stub"),
    "ep_model" -> "EpModel.fixtureScorer (fixture GBDT)",
    "cache_state" -> "no persisted index; per-op output directories")
}
