package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.nfl.FrameEppa

/** The frame-EPPA kernel hosted on a live tracking feed (SURVEY §2.11's
  * "design the kernel to be reusable from flatMapGroupsWithState").
  *
  * Keyed by (gameId, playId); state buffers the in-flight frames of one
  * play. A frame is considered complete — in-order delivery within a key,
  * the property a per-play partitioned Kafka topic gives — once a row of
  * a LATER frame arrives; each completed in-window frame (snap+14 ..
  * throw, as in EppaJob) runs the kernel in-task and emits its
  * PassSummary immediately. Play state is dropped when the pass arrives
  * or on processing-time timeout, so state is bounded by plays in flight
  * × frames not yet emitted.
  *
  * Divergence from batch, by construction: the true-pass backtest fields
  * stay NaN — they need the pass_arrived event, which is in the future at
  * emission time (the batch job fills them; parity on all other fields is
  * asserted in EppaStreamSpec).
  */
object EppaStream {

  /** One normalized tracking row — the subset of Normalize's output the
    * kernel consumes (same fields EppaJob.frameInputs selects). */
  final case class TrackRow(gameId: Long, playId: Long, frameId: Int,
      event: String, nflId: Long, displayName: String,
      teamPos: String, position: String,
      x: Double, y: Double, vX: Double, vY: Double, aX: Double, aY: Double)

  final case class PlayState(snapFrame: Int, throwFrame: Int,
                             maxSeenFrame: Int, done: Boolean,
                             buffered: Map[Int, Seq[TrackRow]])

  val MinFramesAfterSnap: Int = graft.nfl.EppaJob.MinFramesAfterSnap
  val MaxFramesAfterSnap: Int = graft.nfl.EppaJob.MaxFramesAfterSnap

  /** Build the kernel input for one complete frame (mirrors
    * EppaJob.frameInputs' per-group assembly; no true-pass indices). */
  private def toFrameInput(g: Long, p: Long, frameId: Int, snap: Int,
                           rows: Seq[TrackRow]): Option[FrameEppa.FrameInput] = {
    val qb = rows.find(_.position == "QB")
    if (qb.isEmpty) None
    else {
      val players = rows.iterator
        .filter(r => r.nflId != 0L && r.position != "QB")
        .toSeq.groupBy(_.nflId).map(_._2.head).toSeq
        .sortBy(_.nflId)
        .map(r => FrameEppa.Player(r.nflId, r.displayName, r.teamPos == "OFF",
          r.x, r.y, r.vX, r.vY, r.aX, r.aY))
        .toArray
      Some(FrameEppa.FrameInput(g, p, frameId, frameId - snap,
        qb.get.x, qb.get.y, players))
    }
  }

  /** Streaming kernel: tracking rows → per-frame PassSummary, emitted as
    * soon as each frame completes. `epaTables` and `priors` ride the
    * closure (Spark broadcasts the serialized function to tasks). */
  def passSummaries(rows: Dataset[TrackRow],
                    epaTables: Map[(Long, Long), (Array[Double], Double)],
                    params: FrameEppa.Params = FrameEppa.Params(),
                    priors: FrameEppa.Priors = FrameEppa.Priors.synthetic(),
                    xyacScore: Array[Double] => Double = _ => 5.0,
                    stateTimeout: Option[String] = None)
      : Dataset[FrameEppa.PassSummary] = {
    val spark = rows.sparkSession
    import spark.implicits._
    frameOutputs(rows, epaTables, params, priors, xyacScore, stateTimeout)
      .map(_.pass)
  }

  /** Full streaming kernel output — the batch job's four tables' worth of
    * rows (pass summary, per-player stats, field surface, proj) per
    * completed frame; split downstream into the four tables with
    * `select("pass.*")` / `explode(col("players"))` / etc., as
    * EppaJob.writeOutputs does. */
  def frameOutputs(rows: Dataset[TrackRow],
                   epaTables: Map[(Long, Long), (Array[Double], Double)],
                   params: FrameEppa.Params = FrameEppa.Params(),
                   priors: FrameEppa.Priors = FrameEppa.Priors.synthetic(),
                   xyacScore: Array[Double] => Double = _ => 5.0,
                   stateTimeout: Option[String] = None)
      : Dataset[FrameEppa.FrameOutput] = {
    val spark = rows.sparkSession
    import spark.implicits._

    // ProcessingTimeTimeout only when asked for: with a timeout armed,
    // the default ASAP trigger runs CONTINUOUS empty micro-batches just to
    // check timers — production deployments pair the timeout with an
    // explicit Trigger.ProcessingTime interval; tests and bounded replays
    // rely on pass_arrived-driven cleanup instead
    val timeoutConf = if (stateTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    rows.groupByKey(r => (r.gameId, r.playId))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: (Long, Long), it: Iterator[TrackRow],
         state: GroupState[PlayState]) =>
          val (g, p) = key
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else epaTables.get(key) match {
            case None =>
              // no EPA table for this play: never buffer (reference skips
              // error plays — S9)
              Iterator.empty
            case Some((epaComp, epaInc)) =>
              var st = state.getOption.getOrElse(
                PlayState(-1, Int.MaxValue, -1, done = false, Map.empty))
              val newRows = it.toArray
              if (st.done) Iterator.empty
              else {
                newRows.foreach { r =>
                  if (r.event == "ball_snap" &&
                    (st.snapFrame < 0 || r.frameId < st.snapFrame))
                    st = st.copy(snapFrame = r.frameId)
                  // pass_shovel counts as the throw too (play_eppa_cpu.py:101)
                  if ((r.event == "pass_forward" || r.event == "pass_shovel") &&
                    r.frameId < st.throwFrame)
                    st = st.copy(throwFrame = r.frameId)
                  if (r.event == "pass_arrived") st = st.copy(done = true)
                  if (r.frameId > st.maxSeenFrame)
                    st = st.copy(maxSeenFrame = r.frameId)
                  // buffer only frames that could still be in-window: we
                  // can't know the window before the snap event arrives,
                  // but anything below an already-known snap+min is dead
                  if (st.snapFrame < 0 ||
                    (r.frameId >= st.snapFrame + MinFramesAfterSnap &&
                      r.frameId <= st.snapFrame + MaxFramesAfterSnap))
                    st = st.copy(buffered = st.buffered.updated(r.frameId,
                      st.buffered.getOrElse(r.frameId, Vector.empty) :+ r))
                }
                // complete = strictly before the newest seen frame (in-order
                // delivery); on pass_arrived everything buffered is final
                val completeBelow =
                  if (st.done) Int.MaxValue else st.maxSeenFrame
                val ready = st.buffered.keys.filter { f =>
                  f < completeBelow && st.snapFrame >= 0 &&
                    f - st.snapFrame >= MinFramesAfterSnap &&
                    f - st.snapFrame <= MaxFramesAfterSnap &&
                    f <= st.throwFrame
                }.toSeq.sorted
                val kernel = if (ready.nonEmpty)
                  new FrameEppa.Kernel(params, priors, xyacScore) else null
                val out = ready.flatMap { f =>
                  toFrameInput(g, p, f, st.snapFrame, st.buffered(f))
                    .map(in => kernel.compute(in, epaComp, epaInc))
                }
                // drop emitted frames AND anything a late-arriving snap
                // event proves out-of-window (buffered while snap unknown)
                val dead = if (st.snapFrame >= 0)
                  st.buffered.keys.filter(f =>
                    f - st.snapFrame < MinFramesAfterSnap ||
                      f - st.snapFrame > MaxFramesAfterSnap).toSeq
                else Seq.empty
                st = st.copy(buffered = st.buffered -- ready -- dead)
                if (st.done) state.remove()
                else {
                  state.update(st)
                  stateTimeout.foreach(state.setTimeoutDuration)
                }
                out.iterator
              }
          }
      }
  }
}
