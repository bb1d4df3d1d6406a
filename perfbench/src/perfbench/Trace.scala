package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for traced runs. Spans are recorded from the
  * benchmark side only: op boundaries by the harness, planning phases
  * from each executed query's `QueryPlanningTracker`, and Spark job,
  * stage and task spans from a benchmark-owned `SparkListener`. Jobs are
  * tied to their op through two local properties set on the benchmark
  * thread (`perfbench.op`, `perfbench.phase`); stages and tasks follow
  * their job. Everything is written out once, after the timed region. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  // epoch-ms clock for harness timestamps, aligned with Spark's event times
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val ops = mutable.ArrayBuffer.empty[OpSpan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpProp))).map(_.toInt).getOrElse(-1)
      val phase = p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("")
      jobs.add(JobRec(e.jobId, op, phase, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.taskId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
        m.shuffleReadMetrics.fetchWaitTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, s) => phases.add(PhaseRec(name, s.startTimeMs, s.endTimeMs)) }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drainBus()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  private def drainBus(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def beginOp(id: Int): Unit = {
    sc.setLocalProperty(OpProp, id.toString)
    sc.setLocalProperty(PhaseProp, "build")
  }

  /** Called by the harness between build and drain. */
  def built(): Unit = sc.setLocalProperty(PhaseProp, "exec")

  def endOp(id: Int, op: Op, t0: Long, tBuilt: Long, t1: Long): Unit = {
    sc.setLocalProperty(OpProp, null)
    sc.setLocalProperty(PhaseProp, null)
    ops += OpSpan(id, op.name, ms(t0), ms(tBuilt), ms(t1))
  }

  private def ms(nanos: Long): Double = epochOffsetMs + nanos / 1e6

  private def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Per-pass layer metrics over the traced ops. Times are seconds per
    * pass, counts are per pass (exact for a deterministic plan set). */
  def perLayer(traced: Seq[OpRun], passes: Int, wallS: Double, cores: Int,
               legs: Map[Int, Map[String, Double]]): mutable.LinkedHashMap[String, Double] = {
    val ids = traced.map(_.id).toSet
    val span = ops.filter(o => ids(o.id)).map(o => o.id -> o).toMap
    val js = jobs.asScala.filter(j => ids(j.op)).toSeq
    val jobOf = js.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val executed = stages.asScala.filter(s => jobOf.contains(s.stageId)).toSeq
    val executedIds = executed.map(_.stageId).toSet
    val ts = tasks.asScala.filter(t => jobOf.contains(t.stageId)).toSeq
    val skipped = js.flatMap(_.stageIds).distinct.count(s => !executedIds(s))
    def end(j: JobRec): Double = Option(jobEnds.get(j.jobId)).map(_.toDouble).getOrElse(j.start.toDouble)
    val gap = span.values.map { o =>
      val iv = js.filter(_.op == o.id).map(j => (math.max(j.start.toDouble, o.t0), math.min(end(j), o.t1)))
        .filter { case (s, e) => e > s }
      (o.t1 - o.t0 - union(iv)) / 1e3
    }.sum
    val ph = phases.asScala.toSeq.distinct
    def phaseS(name: String): Double = ph.filter(p => p.name == name &&
      span.values.exists(o => p.start >= o.t0 - 1 && p.end <= o.t1 + 1)).map(p => p.end - p.start).sum / 1e3
    val n = passes.toDouble
    val runS = ts.map(_.runMs).sum / 1e3
    val out = mutable.LinkedHashMap[String, Double](
      "plans.analyze_s" -> phaseS("analysis") / n,
      "plans.optimize_s" -> phaseS("optimization") / n,
      "plans.physical_s" -> phaseS("planning") / n,
      "ops.build_s" -> traced.map(r => (r.tBuilt - r.t0) / 1e9).sum / n,
      "ops.eager_jobs" -> js.count(_.phase == "build") / n,
      "sched.jobs" -> js.size / n,
      "sched.jobs_per_op" -> js.size.toDouble / math.max(1, traced.size),
      "sched.stages" -> executed.size / n,
      "sched.stages_skipped" -> skipped / n,
      "sched.tasks" -> ts.size / n,
      "sched.driver_gap_s" -> gap / n,
      "task.run_s" -> runS / n,
      "task.cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "task.gc_s" -> ts.map(_.gcMs).sum / 1e3 / n,
      "task.busy_ratio" -> runS / (wallS * cores),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0 / n,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0 / n,
      "shuffle.records" -> ts.map(_.shuffleRecords).sum / n,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / 1048576.0 / n,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3 / n)
    val legSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    Workloads.Legs.foreach(l => legSums(l) = 0.0)
    traced.foreach(r => legs.getOrElse(r.id, Map.empty).foreach { case (k, v) => legSums(k) += v })
    legSums.foreach { case (k, v) => out(s"legs.$k") = v / n }
    out
  }

  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    def span(id: String, parent: String, op: Int, name: String, s: Double, e: Double): Unit =
      w.println(f"""{"id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},"op":$op,"name":"$name","start_ms":$s%.3f,"end_ms":$e%.3f}""")
    try {
      val opIds = ops.map(_.id).toSet
      ops.foreach { o =>
        span(s"op-${o.id}", null, o.id, s"op:${o.name}", o.t0, o.t1)
        span(s"build-${o.id}", s"op-${o.id}", o.id, "ops.build", o.t0, o.tBuilt)
        span(s"exec-${o.id}", s"op-${o.id}", o.id, "exec", o.tBuilt, o.t1)
        phases.asScala.toSeq.distinct
          .filter(p => p.start >= o.t0 - 1 && p.end <= o.t1 + 1).zipWithIndex.foreach { case (p, i) =>
            span(s"plan-${o.id}-$i", s"op-${o.id}", o.id, s"plans.${p.name}", p.start, p.end)
          }
      }
      val js = jobs.asScala.filter(j => opIds(j.op)).toSeq
      val jobOf = js.flatMap(j => j.stageIds.map(_ -> j)).toMap
      js.foreach { j =>
        val e = Option(jobEnds.get(j.jobId)).map(_.toDouble).getOrElse(j.start.toDouble)
        span(s"job-${j.jobId}", s"op-${j.op}", j.op, s"sched.job.${j.phase}", j.start, e)
      }
      stages.asScala.filter(s => jobOf.contains(s.stageId)).foreach { s =>
        val j = jobOf(s.stageId)
        span(s"stage-${s.stageId}-${s.attempt}", s"job-${j.jobId}", j.op, "sched.stage",
          s.submit, s.complete)
      }
      tasks.asScala.filter(t => jobOf.contains(t.stageId)).foreach { t =>
        val j = jobOf(t.stageId)
        span(s"task-${t.taskId}", s"stage-${t.stageId}-0", j.op, "task", t.launch, t.finish)
      }
    } finally w.close()
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"

  final case class JobRec(jobId: Int, op: Int, phase: String, start: Long, stageIds: Seq[Int])
  final case class StageRec(stageId: Int, attempt: Int, submit: Long, complete: Long)
  final case class TaskRec(stageId: Int, taskId: Long, launch: Long, finish: Long, runMs: Long,
                           cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                           shuffleRecords: Long, spill: Long, fetchWaitMs: Long)
  final case class PhaseRec(name: String, start: Long, end: Long)
  final case class OpSpan(id: Int, name: String, t0: Double, tBuilt: Double, t1: Double)
}
