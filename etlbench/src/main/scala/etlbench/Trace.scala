package etlbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: name, start/end (ns, System.nanoTime), the span that
  * caused it, and the op it belongs to (-1 outside ops). */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** Per-op counters observed from outside the engine. */
final class OpStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L; var taskGcMs = 0L
  var planNs = 0L; var terminalSorts = 0L
  /** The op's wall time, and the part of it with no task running. */
  var wallMs = 0L; var gapMs = 0L
  var persistedPeak = 0L
  /** [launch, finish) wall-clock ms of every task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** StreamingQueryProgress durations, summed over the op's micro-batches. */
  val stream = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamRows = 0L
}

/** The traced run's recorder: spans in memory, Spark observed through a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener.
  * Nothing is recorded or registered until [[enable]]. */
final class Trace {
  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile var op: Int = -1
  val opStats = mutable.Map.empty[Int, OpStats]
  private def cur: OpStats = opStats.getOrElseUpdate(op, new OpStats)

  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, System.nanoTime(), 0L, parent, op)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per span name: duration minus the part its children cover
    * (children of one span never overlap — the benchmark is single-threaded). */
  def selfTimes: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9 }
  }

  def enable(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { cur.jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        cur.stages += 1; cur.tasks += e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val s = cur
        s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          s.taskNs += m.executorRunTime * 1000000L
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.taskGcMs += m.jvmGCTime
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = synchronized {
        val s = cur
        s.planNs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
        if (Trace.endsInGlobalSort(qe.executedPlan)) s.terminalSorts += 1
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
        val s = cur
        e.progress.durationMs.asScala.foreach { case (k, v) => s.stream(k) += v.longValue }
        s.streamRows += e.progress.numInputRows
      }
    })
  }

  /** Block-manager bytes currently held by persisted RDDs (Materialize). */
  def samplePersisted(spark: SparkSession): Unit = if (on) {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val s = cur
    s.persistedPeak = math.max(s.persistedPeak, b)
  }
}

object Trace {
  /** Whether the executed plan's root, below the write node and any
    * projection / codegen wrappers, is a global sort. */
  def endsInGlobalSort(plan: SparkPlan): Boolean = {
    def walk(p: SparkPlan): Boolean = p match {
      case s: SortExec => s.global
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        val n = other.nodeName
        val passThrough = other.children.size == 1 && (n.contains("Project") ||
          n.contains("WholeStageCodegen") || n.contains("InputAdapter") ||
          n.contains("ColumnarToRow") || n.contains("Write") || n.contains("Overwrite") ||
          n.contains("AppendData") || n.contains("DeserializeToObject") ||
          n.contains("SerializeFromObject") || n.contains("MapElements") ||
          n.contains("AQEShuffleRead"))
        passThrough && walk(other.children.head)
    }
    walk(plan)
  }

  /** Wall time of [t0, t1] (ms) not covered by any task interval. */
  def gapMs(t0: Long, t1: Long, tasks: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = t0
    tasks.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }

  // ---- JVM counters (JMX)
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionCount)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}
