package e2ebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts one span accumulates from the listeners. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var jsonScans = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    scanBytes += o.scanBytes; scanRows += o.scanRows
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    jsonScans += o.jsonScans
  }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call into the program, plus Spark job/task and
  * Catalyst counts attributed to the innermost enclosing span. Spans and
  * counts stay in memory until [[finish]].
  *
  * Jobs carry the open span's id as a local property, so job, stage and
  * task events are attributed exactly. Query-execution callbacks arrive
  * on the listener bus without the submitting thread's properties; they
  * are attributed to the innermost span whose wall-clock interval holds
  * the execution's analysis start.
  *
  * Recording is off between [[setEnabled]] calls, and so is the listeners'
  * work: jobs outside a span carry no span id, and a query execution that
  * did not start inside a traced pass is dropped before its plan is read,
  * so an untraced pass costs what it costs in an untraced run.
  */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val SpanKey = "e2ebench.span"
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var enabled = false
  // Wall-clock intervals of the traced passes; the open one ends at Long.MaxValue.
  @volatile private var windows = List.empty[(Long, Long)]

  private val stageSpan = scala.collection.concurrent.TrieMap[Int, Int]()
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Counts)]()

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      prop.foreach { s =>
        val id = s.toInt
        e.stageIds.foreach(st => stageSpan.put(st, id))
        val c = countsOf(id)
        c.synchronized(c.jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      for (id <- stageSpan.get(e.stageId) if e.taskMetrics != null) {
        val m = e.taskMetrics
        val c = countsOf(id)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    if (windows.exists { case (from, to) => from <= start && start <= to }) {
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val c = new Counts
      c.analysisMs = ms("analysis")
      c.optimizationMs = ms("optimization")
      c.planningMs = ms("planning")
      Tracer.fileScans(qe.executedPlan).foreach { scan =>
        def metric(n: String): Long = scan.metrics.get(n).map(_.value).getOrElse(0L)
        c.scanBytes += metric("filesSize")
        c.scanRows += metric("numOutputRows")
        if (scan.relation.fileFormat.getClass.getSimpleName.startsWith("Json")) c.jsonScans += 1
      }
      execs.add((start, c))
    }
  }

  sc.addSparkListener(jobListener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)

  /** Turn span recording on or off between passes (the untraced passes of
    * a traced run give the tracing overhead). */
  override def setEnabled(on: Boolean): Unit = {
    val now = System.currentTimeMillis()
    if (on && !enabled) windows = (now, Long.MaxValue) :: windows
    else if (!on && enabled) windows = (windows.head._1, now) :: windows.tail
    enabled = on
  }

  override def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Detach the listeners once queued events are delivered, then return
    * every span with its own counts and self time. */
  def finish(): Seq[(Span, Counts, Double)] = {
    // The listener bus is asynchronous: wait until no new event arrives.
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(200)
      val now = counts.values.asScala.map(c => c.synchronized(c.tasks)).sum + execs.size
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
    sc.removeSparkListener(jobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .unregister(qeListener)
    execs.asScala.foreach { case (start, c) =>
      val holder = spans.filter(s => s.startMs <= start && start <= s.endMs)
      if (holder.nonEmpty) countsOf(holder.maxBy(_.id).id).add(c)
    }
    val childSeconds = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.toSeq.map { s =>
      (s, countsOf(s.id), s.seconds - childSeconds.getOrElse(s.id, 0.0))
    }
  }
}

/** A tracer that records nothing: `span` just runs its body. */
class Tracer {
  def setEnabled(on: Boolean): Unit = ()
  def span[T](name: String)(body: => T): T = body
}

object Tracer {
  val Off = new Tracer

  /** File scans in an executed plan, inside adaptive stages and
    * subqueries too. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }) ++ p.subqueries.flatMap(walk)
    walk(plan)
  }
}
