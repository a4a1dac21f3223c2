package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: a call into graft made by the benchmark. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long)

/** Executor-side counts attributed to one span (through the Spark local
  * property the span sets, which child threads inherit). */
final class SpanCounts {
  var jobs, stages, tasks, retries = 0L
  var cpuNs, gcMs, shuffleWrite, spill, taskMs, waitMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around the benchmark's calls into graft, plus the SparkListener
  * counts at the same boundaries. Disabled, `span` only runs its body;
  * executor CPU is counted either way because `cpu_s_per_op` needs it. */
final class Tracer(spark: SparkSession, listen: Boolean = true) {
  private val sc = spark.sparkContext
  /** spans are stamped in epoch ns so they compare with listener times */
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochOffset
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span, op)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  val cpuNs = new AtomicLong(0)

  private val counts = mutable.HashMap.empty[Long, SpanCounts]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  /** per traced action: (analysis, optimization, planning) ms */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** per docstore BatchScan in a traced action: (path, rows out, splits) */
  private val rawScans = new ConcurrentLinkedQueue[(String, Long, Int)]()
  /** the same with the docs and bytes of the scanned collection */
  val scans = new ConcurrentLinkedQueue[(Long, Int, Long, Long)]()
  /** files each traced docstore-sink write added */
  val writeFiles = new ConcurrentLinkedQueue[Int]()
  val lastError = new AtomicReference[Throwable]()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(0L)

  private def c(span: Long): SpanCounts = counts.getOrElseUpdate(span, new SpanCounts)

  if (listen) sc.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      if (enabled) Tracer.this.synchronized {
        val s = c(stageSpan.getOrElse(t.stageId, 0L))
        s.tasks += 1
        val info = t.taskInfo
        if (!info.successful || info.attemptNumber > 0) s.retries += 1
        s.taskMs += info.finishTime - info.launchTime
        stageSubmit.get(t.stageId).foreach(sub => s.waitMs += math.max(0L, info.launchTime - sub))
        val m = t.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = if (enabled) Tracer.this.synchronized {
      val span = spanOf(j.properties)
      jobStart(j.jobId) = (span, j.time)
      c(span).jobs += 1
      j.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = if (enabled) Tracer.this.synchronized {
      jobStart.remove(j.jobId).foreach { case (span, t0) =>
        c(span).jobIntervals += ((t0 * 1000000L, j.time * 1000000L))
      }
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = if (enabled) Tracer.this.synchronized {
      val span = stageSpan.getOrElseUpdate(s.stageInfo.stageId, spanOf(s.properties))
      stageSubmit(s.stageInfo.stageId) = s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      c(span).stages += 1
    }
  })

  if (listen) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) try {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        phases.add((ms("analysis"), ms("optimization"), ms("planning")))
        Tracer.docstoreScans(qe).foreach(rawScans.add)
      } catch { case e: Throwable => lastError.set(e) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Run `body` as a span named `name`; `op` > 0 starts a new op. */
  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentOp) = current.get()
      val id = ids.incrementAndGet()
      val opId = if (op > 0) op else parentOp
      val prev = sc.getLocalProperty(Tracer.Key)
      current.set((id, opId))
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, name, parent, opId, t0, now()))
        current.set((parent, parentOp))
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** Size up the collections scanned so far; call it before a scanned
    * collection is deleted. */
  def resolveScans(): Unit = {
    drain()
    var s = rawScans.poll()
    while (s != null) {
      val (docs, bytes) = Layers.collection(s._1)
      scans.add((s._2, s._3, docs, bytes))
      s = rawScans.poll()
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def countsFor(span: Long): Option[SpanCounts] = synchronized(counts.get(span))

  /** Wait until the listener bus has delivered every event posted so far,
    * so counts read after an op belong to it. `waitUntilEmpty` is
    * private[spark], which compiles to a public JVM method. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch { case _: NoSuchMethodException =>
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(10000L))
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val Key = "perfbench.span"

  /** Docstore scans in an executed plan: (collection path, rows the scan
    * emitted, input splits). */
  def docstoreScans(qe: QueryExecution): Seq[(String, Long, Int)] =
    collectWithSubqueries(qe.executedPlan) {
      case b: BatchScanExec if b.table.name.startsWith("docstore(") =>
        val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        (b.table.name.stripPrefix("docstore(").stripSuffix(")"), rows,
          b.inputPartitions.size)
    }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var hi = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= hi) { total += e - s; hi = e }
      else if (e > hi) { total += e - hi; hi = e }
    }
    total
  }
}
