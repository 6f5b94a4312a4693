package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one operation
  * share `op`; `parent` is the span that was open when this one began. */
final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark reported for one traced operation: jobs, stages, tasks and
  * their metrics (SparkListener), Catalyst planning phases per action
  * (QueryExecutionListener) and micro-batches (StreamingQueryListener). */
final class OpCounters {
  var jobs = 0
  var streamingJobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** job wall minus the longest task of each of its stages */
  var waitMs = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var physicalMs = 0L
  var planNodes = 0
  var batches = 0
  var batchMs = 0L
}

/** Spans and Spark counters for the traced run. Listeners are attached
  * only while a traced operation runs, so untraced operations in the same
  * JVM pay nothing; the difference between the two is the tracing
  * overhead. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var curOp = -1
  private var nextOp = 0
  private var cur: OpCounters = null

  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int], Boolean)]
  private val stageMaxTask = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val streaming = Option(e.properties)
        .exists(_.getProperty("sql.streaming.queryId") != null)
      jobStart(e.jobId) = (e.time, e.stageIds, streaming)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, stageIds, streaming) =>
        if (cur != null) {
          cur.jobs += 1
          if (streaming) cur.streamingJobs += 1
          val longest = stageIds.flatMap(stageMaxTask.remove).sum
          cur.waitMs += math.max(0L, e.time - t0 - longest)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (cur != null) cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageMaxTask(e.stageId) = math.max(stageMaxTask.getOrElse(e.stageId, 0L), e.taskInfo.duration)
      val m = e.taskMetrics
      if (cur != null && m != null) {
        cur.tasks += 1
        cur.taskMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.inputBytes += m.inputMetrics.bytesRead
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      if (cur != null) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        cur.analysisMs += ms("analysis")
        cur.optimizationMs += ms("optimization")
        cur.physicalMs += ms("planning")
        cur.planNodes = math.max(cur.planNodes, Tracer.nodes(qe))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      if (cur != null && e.progress.numInputRows > 0) {
        cur.batches += 1
        cur.batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      }
    }
  }

  /** Run `body` as one traced operation; returns its result and counters. */
  def op[T](name: String)(body: => T): (T, OpCounters) = {
    BusAccess.drain(spark.sparkContext)
    val c = new OpCounters
    synchronized { cur = c; jobStart.clear(); stageMaxTask.clear() }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    curOp = nextOp
    nextOp += 1
    try {
      val r = span(name)(body)
      BusAccess.drain(spark.sparkContext)
      (r, c)
    } finally {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
      synchronized { cur = null }
      curOp = -1
    }
  }

  def active: Boolean = curOp >= 0

  /** Jobs and input bytes the current traced operation has caused so far. */
  def sample(): (Int, Long) = {
    BusAccess.drain(spark.sparkContext)
    synchronized { if (cur == null) (0, 0L) else (cur.jobs, cur.inputBytes) }
  }

  /** Time `body` as a span; a no-op outside a traced operation. */
  def span[T](name: String)(body: => T): T =
    if (curOp < 0) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, curOp, name, parent, System.nanoTime(), 0L)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Self time per span name: each span's duration minus the part of it
    * covered by its children (children of one span do not overlap). */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }
}

object Tracer {
  def nodes(qe: QueryExecution): Int =
    try qe.optimizedPlan.collect { case p => p }.size
    catch { case scala.util.control.NonFatal(_) => 0 }
}
