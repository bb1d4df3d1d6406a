package graft.nfl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.GbdtScorer

/** The reference's batch driver re-expressed as one composed Spark
  * pipeline (`analysis/comb_model_big_run_cpu.py`: loop weeks → loop
  * plays → skip-if-exists dir check → play_eppa → per-play pickles +
  * errors.txt). Here: play pre-state → EPA tables (EpModel GBDT through
  * the EpaModel state machine) → frame inputs → kernel with the real
  * xyac model → four partitioned output tables, with S9 resume as an
  * anti-join on already-written (gameId, playId) keys instead of
  * filesystem probing.
  *
  * Scale notes: the per-play EPA tables (120 doubles + 1 each) collect
  * to the driver and broadcast — a full season (~17k plays) is ~17 MB,
  * the same artifact the reference holds in memory per process. Frames
  * spread over the kernel tasks in contiguous, count-balanced runs
  * (EppaJob.run); failed plays surface as empty output rather than an
  * errors.txt (Spark retries tasks; a play with no QB or no throw simply
  * yields no frames — same skip semantics as the reference's try/except).
  */
object SeasonJob {

  /** preState columns: gameId, playId, down_x (1-4), yardline_100,
    * ydstogo — the pbp-joined fields `getEPAModel` reads
    * (`play_eppa_cpu.py:137-141`). */
  def epaTables(preState: DataFrame,
                epScorer: DataFrame => DataFrame = EpModel.fixtureScorer)
      : Map[(Long, Long), (Array[Double], Double)] = {
    EpaModel.epaTable(preState, epScorer)
      .select("gameId", "playId", "play_endpoint_x", "xepa_comp", "xepa_inc")
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rows) =>
        val comp = new Array[Double](120)
        rows.foreach { r =>
          val i = math.rint(r.getDouble(2) - 0.5).toInt
          if (i >= 0 && i < 120) comp(i) = r.getDouble(3)
        }
        k -> (comp, rows.head.getDouble(4))
      }
  }

  /** Full pipeline over one (or many) weeks of normalized tracking.
    * Returns the number of frames computed (0 = everything already
    * done or nothing in window). */
  def run(norm: DataFrame, preState: DataFrame, outDir: String,
          epScorer: DataFrame => DataFrame = EpModel.fixtureScorer,
          xyacModel: Option[GbdtScorer.Model] = XyacModel.loadReferenceIfPresent(),
          priors: FrameEppa.Priors = FrameEppa.Priors.synthetic(),
          params: FrameEppa.Params = FrameEppa.Params(),
          resume: Boolean = true): Long = {
    val spark = norm.sparkSession
    import spark.implicits._

    val tables = epaTables(preState, epScorer)
    val inputs0 = EppaJob.frameInputs(norm)
    val inputs =
      if (resume)
        graft.sources.Store.skipExisting(
          inputs0.toDF(), s"$outDir/passes", Seq("gameId", "playId"))
          .as[FrameEppa.FrameInput]
      else inputs0

    val xyac = xyacModel.map(XyacModel.kernelScorer)
      .getOrElse((_: Array[Double]) => 5.0)
    val xyacBatch = xyacModel.map(XyacModel.kernelBatchScorer).orNull
    val out = EppaJob.run(inputs, tables, params, priors, xyac, xyacBatch)
      .cache()
    val n = out.count()
    if (n > 0) EppaJob.writeOutputs(out, outDir)
    out.unpersist()
    n
  }
}
