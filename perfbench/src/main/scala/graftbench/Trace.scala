package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are epoch milliseconds with sub-millisecond
  * fraction; `parent` is 0 for a root span, `op` the operation it belongs
  * to (0 outside any operation).
  */
final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: Long) {
  def duration: Double = end - start
}

object SpanMath {

  /** Length of the union of intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children clipped to the parent, overlaps counted
    * once).
    */
  def selfTime(span: Span, all: Seq[Span]): Double = {
    val covered = all.collect {
      case c if c.parent == span.id => (math.max(c.start, span.start), math.min(c.end, span.end))
    }
    span.duration - unionLength(covered)
  }

  /** The innermost span of `candidates` whose interval holds `t`. */
  def innermost(candidates: Seq[Span], t: Double): Option[Span] =
    candidates.filter(s => s.start <= t && t <= s.end).minByOption(_.duration)
}

/** Wall clock with sub-millisecond resolution on the epoch-ms scale that
  * Spark's listener events use.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder for the benchmark's own calls into each layer.
  * Disabled, it only runs the body. Spans are kept until the run ends.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var op = 0L

  def newId(): Long = synchronized { nextId += 1; nextId - 1 }

  def span[A](name: String)(body: => A): A = record(name, root = false)(body)

  /** A root span for one operation; spans opened inside carry its id. */
  def operation[A](name: String)(body: => A): A = record(name, root = true)(body)

  private def record[A](name: String, root: Boolean)(body: => A): A =
    if (!enabled) body
    else {
      val open = synchronized {
        val id = newId()
        if (root) op = id
        val s = Span(id, name, Clock.nowMs(), Double.NaN, if (root) 0L else stack.headOption.fold(0L)(_.id), op)
        stack = s :: stack
        s
      }
      try body
      finally synchronized {
        stack = stack.tail
        buf += open.copy(end = Clock.nowMs())
        if (root) op = 0L
      }
    }

  def spans: Seq[Span] = synchronized(buf.toList)
  def operations: Seq[Span] = spans.filter(s => s.parent == 0L && s.op == s.id)
}

final case class TaskRec(
    stageId: Int, launch: Double, runMs: Long, cpuNs: Long, gcMs: Long,
    deserializeMs: Long, shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
    spill: Long, inputBytes: Long, outputBytes: Long)
final case class JobRec(jobId: Int, start: Double, end: Double, execId: Option[Long], stageIds: Seq[Int])
final case class StageRec(stageId: Int, attempt: Int, start: Double, end: Double)
final case class ExecRec(execId: Long, start: Double, end: Double)
final case class PhaseRec(start: Double, analysisMs: Double, optimizationMs: Double, planningMs: Double)
final case class BatchRec(start: Double, triggerMs: Long, addBatchMs: Long, walCommitMs: Long, planningMs: Long)

/** Records what Spark reports through its public listener interfaces:
  * tasks, jobs, stages and SQL executions (`SparkListener`), Catalyst phase
  * times (`QueryExecutionListener`, see [[PhaseListener]]) and micro-batch
  * progress (`StreamingQueryListener` events). graft runs its streams and
  * some queries in child sessions (`SparkSession.newSession`), whose
  * session-scoped listener managers a listener registered on the
  * benchmark's session would not see; both are therefore taken from the
  * SparkContext's bus and the session-wide listener configuration. Events
  * arrive on Spark's listener threads; everything is kept in memory and
  * attributed to operations afterwards by time.
  */
final class LayerListener extends SparkListener {
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val execs = ArrayBuffer.empty[ExecRec]
  val phases = ArrayBuffer.empty[PhaseRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, JobRec]
  private val execStarts = scala.collection.mutable.Map.empty[Long, Double]
  @volatile private var markersSeen = Set.empty[String]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith(LayerListener.MarkerPrefix)) match {
      case Some(marker) => markersSeen += marker
      case None => jobStarts(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, exec, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), s.toDouble, c.toDouble)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execStarts(s.executionId) = s.time.toDouble }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStarts.remove(s.executionId).foreach(st => execs += ExecRec(s.executionId, st, s.time.toDouble))
    }
    // StreamingQueryListener events travel on the same bus, whichever
    // session's StreamingQueryManager ran the query
    case p: StreamingQueryListener.QueryProgressEvent => recordBatch(p.progress)
    case _ => ()
  }

  def recordPhases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).fold(0.0)(_.durationMs.toDouble)
    if (p.nonEmpty) synchronized {
      phases += PhaseRec(p.values.map(_.startTimeMs).min.toDouble,
        ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  private def recordBatch(p: StreamingQueryProgress): Unit = {
    def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      batches += BatchRec(start, d("triggerExecution"), d("addBatch"), d("walCommit"), d("queryPlanning"))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    PhaseListener.sink = this
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    PhaseListener.sink = null
  }

  private var markerSeq = 0

  /** Waits until the listener has seen every event posted before now: runs
    * a marker job and waits for its start event, which Spark delivers after
    * all earlier events of the same queue.
    */
  def drain(spark: SparkSession): Unit = {
    markerSeq += 1
    val tag = s"${LayerListener.MarkerPrefix}$markerSeq"
    val sc = spark.sparkContext
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 10000
    while (!markersSeen(tag) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // streaming progress travels on its own queue
    Thread.sleep(50)
  }

  /** Spans for jobs, stages, SQL executions and micro-batches, parented by
    * execution id (jobs), job (stages) or by time under the benchmark's own
    * spans (executions, micro-batches and jobs run outside SQL).
    */
  def spans(tracer: Tracer, own: Seq[Span]): Seq[Span] = synchronized {
    def under(t: Double) = SpanMath.innermost(own, t)
    val execSpans = execs.toSeq.map { e =>
      val p = under(e.start)
      e.execId -> Span(tracer.newId(), s"sql.execution.${e.execId}", e.start, e.end,
        p.fold(0L)(_.id), p.fold(0L)(_.op))
    }.toMap
    val jobSpans = jobs.toSeq.map { j =>
      val p = j.execId.flatMap(execSpans.get).orElse(under(j.start))
      j -> Span(tracer.newId(), s"spark.job.${j.jobId}", j.start, j.end, p.fold(0L)(_.id), p.fold(0L)(_.op))
    }
    val stageSpans = stages.toSeq.flatMap { s =>
      jobSpans.find(_._1.stageIds.contains(s.stageId)).map { case (_, js) =>
        Span(tracer.newId(), s"spark.stage.${s.stageId}.${s.attempt}", s.start, s.end, js.id, js.op)
      }
    }
    val batchSpans = batches.toSeq.map { b =>
      val p = under(b.start)
      Span(tracer.newId(), "streaming.batch", b.start, b.start + b.triggerMs, p.fold(0L)(_.id), p.fold(0L)(_.op))
    }
    execSpans.values.toSeq ++ jobSpans.map(_._2) ++ stageSpans ++ batchSpans
  }
}

/** Installed in every session, child sessions included, through
  * `spark.sql.queryExecutionListeners` (traced runs only); forwards Catalyst
  * phase times to the [[LayerListener]] of the pass being traced, if any.
  */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(PhaseListener.sink).foreach(_.recordPhases(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(PhaseListener.sink).foreach(_.recordPhases(qe))
}

object PhaseListener {
  @volatile var sink: LayerListener = null
}

object LayerListener {
  val MarkerPrefix = "graftbench-drain-"
}
