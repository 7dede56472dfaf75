package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark's own counters, read from outside the program.
  *
  * Lives in an `org.apache.spark.sql` sub-package only to reach two
  * internals: the executed plan carried by the SQL-execution-end event
  * and the listener bus drain. Every job carries the thread-local
  * properties set here, so tasks, jobs and executed plans are
  * attributed to the span (or the untraced timed phase) that started
  * them, even with several client threads.
  */
object Probe {
  private val SpanKey = "perfbench.span"
  private val ShapeKey = "perfbench.shape"

  /** Counters of one span; span 0 collects work outside any traced span. */
  final class Counters {
    var jobs, tasks, failedTasks, runMs, schedDelayMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, outputBytes = 0L
    var firstJobNs = Long.MaxValue
    var scanFiles, scanBytes, scanRows = 0L
    var lshCandidates, lshVerified = 0L

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "run_ms" -> runMs, "sched_delay_ms" -> schedDelayMs, "gc_ms" -> gcMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead, "spill" -> spill,
      "output_bytes" -> outputBytes,
      "first_job_ns" -> (if (firstJobNs == Long.MaxValue) -1L else firstJobNs),
      "scan_files" -> scanFiles, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
      "lsh_candidates" -> lshCandidates, "lsh_verified" -> lshVerified)
  }

  final case class Span(id: Long, parent: Long, name: String, tag: String,
                        startNs: Long, endNs: Long)
  final case class JobSpan(jobId: Int, span: Long, startNs: Long, endNs: Long)

  /** Exact plan-shape counts, summed over the executions of one shape tag. */
  final class Shapes { var exchanges, sortAggregates, fallbackExprs = 0L }

  @volatile var tracing = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]
  private val jobSpans = new ConcurrentLinkedQueue[JobSpan]
  private val execSpan = new ConcurrentHashMap[Long, java.lang.Long]
  private val execShape = new ConcurrentHashMap[Long, String]
  private val shapes = new ConcurrentHashMap[String, Shapes]
  // wall-clock ms of listener events → the nanoTime axis spans use
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNs(ms: Long): Long = ms * 1000000L - offsetNs

  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Count the plan shapes of the queries this thread runs in `body`
    * under `tag` (when `on`; otherwise not at all).
    */
  def shaped[T](tag: String, on: Boolean)(body: => T): T = {
    val prev = sc.getLocalProperty(ShapeKey)
    sc.setLocalProperty(ShapeKey, if (on) tag else null)
    try body finally sc.setLocalProperty(ShapeKey, prev)
  }

  def shapeMap: Map[String, Map[String, Long]] = {
    drain()
    shapes.asScala.map { case (tag, s) => tag -> Map("exchanges" -> s.exchanges,
      "sort_aggregates" -> s.sortAggregates, "codegen_fallback_exprs" -> s.fallbackExprs)
    }.toMap
  }

  /** Record a span around `body` when tracing; a plain call otherwise. */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, tag, t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  def spanList: Seq[Span] = spans.asScala.toSeq
  def jobSpanList: Seq[JobSpan] = jobSpans.asScala.toSeq
  def counterMap: Map[Long, Counters] = counters.asScala.toMap

  /** Forget the spans and counters recorded so far (between run phases). */
  def reset(): Unit = {
    drain()
    spans.clear(); jobSpans.clear(); counters.clear()
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case other =>
      f(other)
      other.children.foreach(walk(_)(f))
      other.subqueries.foreach(walk(_)(f))
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** First node at or under `p` (pre-order) that counts its output rows. */
  private def firstRows(p: SparkPlan): Long = {
    var found = -1L
    walk(p) { n => if (found < 0 && n.metrics.contains("numOutputRows")) found = metric(n, "numOutputRows") }
    math.max(found, 0L)
  }

  private def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit = {
    val qe = e.qe
    if (qe == null) return
    val span = Option(execSpan.get(e.executionId)).map(_.longValue)
    val plan = qe.executedPlan
    Option(execShape.get(e.executionId)).foreach { tag =>
      val sh = shapes.computeIfAbsent(tag, _ => new Shapes)
      walk(plan) { n =>
        n match {
          case _: ShuffleExchangeLike => sh.exchanges += 1
          case _: SortAggregateExec => sh.sortAggregates += 1
          case _ =>
        }
        sh.fallbackExprs += n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
      }
    }
    span.foreach { s =>
      val c = countersOf(s)
      walk(plan) { n =>
        if (n.nodeName.contains("Scan")) {
          c.scanFiles += metric(n, "numFiles")
          c.scanBytes += metric(n, "filesSize")
          c.scanRows += metric(n, "numOutputRows")
        }
        // the Jaccard verify step of the minhash operators: a filter, or
        // a join condition once the optimizer pushes the filter into it
        n match {
          case f: FilterExec if hasJaccard(f.condition) =>
            c.lshVerified += metric(f, "numOutputRows")
            c.lshCandidates += f.children.map(firstRows).sum
          case j: BaseJoinExec if j.condition.exists(hasJaccard) =>
            c.lshVerified += metric(j, "numOutputRows")
            c.lshCandidates += j.children.filter(containsJoin).map(firstRows).sum
          case _ =>
        }
      }
    }
  }

  private def hasJaccard(e: Expression): Boolean =
    e.exists(_.getClass.getSimpleName == "JaccardTextExpr")

  private def containsJoin(p: SparkPlan): Boolean = {
    var found = false
    walk(p) { n => if (n.isInstanceOf[BaseJoinExec]) found = true }
    found
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      exec.foreach { x =>
        execSpan.putIfAbsent(x, span)
        props.flatMap(p => Option(p.getProperty(ShapeKey))).foreach(t => execShape.putIfAbsent(x, t))
      }
      e.stageIds.foreach(s => stageSpan.put(s, span))
      // only a job started inside a traced span becomes a job span
      if (span != 0L) jobStart.put(e.jobId, (span, toNs(e.time)))
      val c = countersOf(span)
      c.jobs += 1
      c.firstJobNs = math.min(c.firstJobNs, toNs(e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, start) =>
        jobSpans.add(JobSpan(e.jobId, span, start, toNs(e.time)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L))
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => onExecutionEnd(end)
      case _ =>
    }
  }
}
