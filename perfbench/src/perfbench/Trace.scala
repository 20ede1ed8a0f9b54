package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `layer` is a graft module (scd, catalog, plans,
  * streaming, pipeline, dedup) or `op` for the benchmark's own op spans;
  * `op` is the id of the enclosing op span (its own id for an op).
  */
final class Span(val id: Long, val parent: Long, val op: Long,
    val layer: String, var name: String, val start: Long) {
  @volatile var end: Long = -1L
  @volatile var complete: Boolean = true
  def seconds: Double = (end - start) / 1e9
}

/** Work Spark did on behalf of one span (filled from listener events). */
final class Work {
  var jobs, tasks, failedTasks, actions = 0L
  var runMs, gcMs, shuffleBytes, spillBytes, scanRows = 0L
  var planningNs = 0L
}

/** Tracing seen by the workloads. The untraced run uses [[Trace.Off]],
  * whose `span` is a plain call.
  */
trait Trace {
  def span[T](layer: String, name: String)(body: => T): T
  def op[T](kind: String)(body: => T): T = span("op", kind)(body)
  def enabled: Boolean = false
  /** Called after an op's timing is taken. */
  def settle(): Unit = ()
}

object Trace {
  object Off extends Trace {
    def span[T](layer: String, name: String)(body: => T): T = body
  }

  /** Local property carrying the current span id onto Spark jobs. */
  val Prop = "perfbench.span"
}

/** In-memory span recorder plus the Spark listeners that attribute jobs,
  * tasks and SQL actions to spans. Jobs carry the span id through
  * `SparkContext.setLocalProperty`; an SQL action (one SQL execution) is
  * attributed through the `spark.sql.execution.id` its jobs carry. Spans
  * on a streaming query's thread are opened with [[openOn]] / [[close]].
  */
final class SparkTrace(spark: SparkSession) extends Trace {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil

  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  /** (execution id, planning ns, scan rows) per finished SQL action. */
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** (addBatch ms, triggerExecution ms) per streaming progress event. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  var drainTimeouts = 0

  override def enabled: Boolean = true

  private def workOf(span: Long): Work =
    work.computeIfAbsent(span, _ => new Work)

  private def newSpan(layer: String, name: String, parent: Option[Span]): Span =
    synchronized {
      val id = ids.incrementAndGet()
      val s = new Span(id, parent.map(_.id).getOrElse(0L),
        if (layer == "op") id else parent.map(_.op).getOrElse(0L),
        layer, name, System.nanoTime())
      spans += s
      s
    }

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = newSpan(layer, name, stack.headOption)
    stack = s :: stack
    sc.setLocalProperty(Trace.Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Trace.Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Drain the listener bus after the latest op. */
  override def settle(): Unit = drain(spans.reverseIterator.find(_.layer == "op"))

  /** Open a span on the calling thread (a streaming query's thread) as a
    * child of the caller thread's innermost span `parent`.
    */
  def openOn(layer: String, name: String, parent: Span): Span = {
    val s = newSpan(layer, name, Some(parent))
    sc.setLocalProperty(Trace.Prop, s.id.toString)
    s
  }
  def close(s: Span): Unit = s.end = System.nanoTime()
  def current: Span = stack.head

  /** Wait until the listener events so far are delivered. A timeout is
    * logged and marks `op` incomplete instead of failing the run.
    */
  private def drain(op: Option[Span]): Unit =
    try org.apache.spark.graft.ListenerBridge.drain(sc, 20000L)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        drainTimeouts += 1
        op.foreach(_.complete = false)
        System.err.println(s"[perfbench] listener drain timed out after " +
          s"${op.map(o => s"op ${o.name}#${o.id}").getOrElse("the run")}: ${e.getMessage}")
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(Trace.Prop))).map(_.toLong).foreach { s =>
        workOf(s).synchronized { workOf(s).jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, s))
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.putIfAbsent(x.toLong, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val w = workOf(s)
        w.synchronized {
          w.tasks += 1
          if (e.reason != Success) w.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            w.runMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    /** One SQL action: its planning phases and rows its file scans read. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(SqlBridge.qe(end)).foreach { qe =>
          val planning = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
          val rows = try scanRows(qe.executedPlan) catch { case NonFatal(_) => 0L }
          actions.add((end.executionId, planning * 1000000L, rows))
        }
      case _ =>
    }
  }

  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case f: FileSourceScanExec =>
      f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch"))
        progress.add((d.get("addBatch").longValue, d.get("triggerExecution").longValue))
    }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Detach the listeners and fold SQL actions into their spans. */
  def finish(): Unit = {
    drain(None)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    actions.asScala.foreach { case (exec, planNs, rows) =>
      val s = Option(execSpan.get(exec)).getOrElse(0L)
      val w = workOf(s)
      w.actions += 1; w.planningNs += planNs; w.scanRows += rows
    }
  }

  def workFor(spanId: Long): Work = Option(work.get(spanId)).getOrElse(new Work)

  /** Work summed over every span of each op, keyed by op span id. */
  def workByOp: Map[Long, Work] = {
    val opOf = spans.map(s => s.id -> s.op).toMap
    val out = scala.collection.mutable.Map.empty[Long, Work]
    work.asScala.foreach { case (sid, w) =>
      opOf.get(sid).foreach { op =>
        val t = out.getOrElseUpdate(op, new Work)
        t.jobs += w.jobs; t.tasks += w.tasks; t.failedTasks += w.failedTasks
        t.actions += w.actions; t.runMs += w.runMs; t.gcMs += w.gcMs
        t.shuffleBytes += w.shuffleBytes; t.spillBytes += w.spillBytes
        t.scanRows += w.scanRows; t.planningNs += w.planningNs
      }
    }
    out.toMap
  }

  /** Self time (a span's duration minus its children's) per layer and
    * root span: key (root span id, layer).
    */
  def selfSeconds: Map[(Long, String), Double] = {
    val done = spans.filter(_.end >= 0)
    val byId = done.map(s => s.id -> s).toMap
    def root(s: Span): Long = byId.get(s.parent).map(root).getOrElse(s.id)
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    done.groupBy(s => (root(s), s.layer)).map { case (k, ss) =>
      k -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  /** All spans as JSON lines, written when the run ends. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = workFor(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""complete":${s.complete},"jobs":${w.jobs},"tasks":${w.tasks},""" +
        s""""actions":${w.actions},"run_ms":${w.runMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
