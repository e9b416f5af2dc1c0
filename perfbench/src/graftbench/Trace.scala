package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One call into the engine's public API (epoch-ms bounds for matching
  * listener events, nanoTime for the wall time itself). `userBytes` is the
  * user data a write carried; `parseUs` the query-parse time of a read
  * (negative when not measured).
  */
final case class Call(kind: String, isWrite: Boolean, timed: Boolean,
                      startMs: Long, endMs: Long, wallMs: Double,
                      userBytes: Long = 0L, parseUs: Double = -1.0)

/** Per-layer split of engine calls, observed from outside the engine: a
  * SparkListener (jobs, stages, tasks) and a QueryExecutionListener
  * (Catalyst phases, files written). The client is one thread, so every
  * event falls inside exactly one call's interval; events between calls
  * belong to the benchmark itself and are ignored.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobStarts = scala.collection.concurrent.TrieMap[Int, (Long, Seq[Int])]()
  private val jobs = ArrayBuffer[Job]()
  private val stages = scala.collection.concurrent.TrieMap[Int, Stage]()
  private val phases = ArrayBuffer[Phase]()
  private val files = ArrayBuffer[(Long, Long)]() // (event time, files written)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts(e.jobId) = (e.time, e.stageIds)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, st) =>
        jobs.synchronized(jobs += Job(t0, e.time, st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, p) => Phase(n, p.startTimeMs, p.endTimeMs) }
      val nf = numFiles(qe.executedPlan)
      phases.synchronized(phases ++= ps)
      // attributed to the call that planned the write, not to the moment
      // the (asynchronous) event arrives
      val at = ps.map(_.start).filter(_ > 0).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      if (nf > 0) files.synchronized(files += ((at, nf)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def numFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children
    }
    own + kids.map(numFiles).sum
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every posted event has been delivered to the listeners. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Layer split of one call. Job and phase spans are clipped to the call;
    * driver time is the part of the call covered by neither.
    */
  def split(c: Call): Split = {
    def in(t: Long) = t >= c.startMs && t <= c.endMs
    def clip(a: Long, b: Long) = (math.max(a, c.startMs), math.min(b, c.endMs))
    val js = jobs.synchronized(jobs.filter(j => in(j.start)).toList)
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val ps = phases.synchronized(phases.filter(p => in(p.start)).toList)
    def phaseMs(name: String) =
      ps.filter(_.name == name).map(p => (p.end - p.start).toDouble).sum
    val jobSpans = js.map(j => clip(j.start, j.end))
    val stageSpans = st.filter(_.start > 0).map(s => clip(s.start, s.end))
    val phaseSpans = ps.filter(_.name != "parsing").map(p => clip(p.start, p.end))
    val jobMs = Trace.unionMs(jobSpans)
    Split(
      jobs = js.size,
      jobMs = jobMs,
      schedGapMs = math.max(0.0, jobMs - Trace.unionMs(stageSpans)),
      analysisMs = phaseMs("analysis"),
      optimizerMs = phaseMs("optimization"),
      planningMs = phaseMs("planning"),
      driverMs = math.max(0.0, c.wallMs - Trace.unionMs(jobSpans ++ phaseSpans)),
      tasks = st.map(_.tasks.toLong).sum,
      cpuMs = st.map(_.cpuNs).sum / 1e6,
      shuffleBytes = st.map(_.shuffleBytes).sum,
      bytesWritten = st.map(_.bytesWritten).sum,
      filesWritten = files.synchronized(files.filter(f => in(f._1)).map(_._2).sum))
  }
}

object Trace {
  final case class Job(start: Long, end: Long, stages: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long, tasks: Int, cpuNs: Long,
                         shuffleBytes: Long, bytesWritten: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Split(jobs: Int, jobMs: Double, schedGapMs: Double, analysisMs: Double,
                         optimizerMs: Double, planningMs: Double, driverMs: Double,
                         tasks: Long, cpuMs: Double, shuffleBytes: Long, bytesWritten: Long,
                         filesWritten: Long)

  /** Total length of the union of [start, end] spans, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
