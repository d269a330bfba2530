package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Bridge

/** Spark work attributed to one span. Written only by the listener-bus
  * thread; read after [[Tracer.drain]]. */
final class Work {
  var jobs, stages, tasks, exchanges = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var taskRunMs, taskCpuMs, gcMs, peakExecMemoryBytes = 0L
  var recordsWritten, bytesWritten = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; exchanges += o.exchanges
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs
    gcMs += o.gcMs; peakExecMemoryBytes = math.max(peakExecMemoryBytes, o.peakExecMemoryBytes)
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "exchanges" -> exchanges,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs,
    "gc_ms" -> gcMs, "peak_exec_memory_bytes" -> peakExecMemoryBytes,
    "records_written" -> recordsWritten, "bytes_written" -> bytesWritten)
}

/** One timed call into a layer. `phase` is the benchmark phase the span
  * started in (setup, warmup, measure, check); only `measure` spans feed
  * the metrics. */
final case class Span(id: Long, name: String, parent: Long, workload: String,
                      phase: String, start: Long, var end: Long = 0L)

/** Spans around the benchmark's calls into the program, plus — when
  * `traced` — the Spark work each span caused.
  *
  * Spans are always recorded (a timestamp pair in memory). Work counters
  * come from a [[SparkListener]] registered only in traced runs, so an
  * untraced run adds no listener and no Spark job. Jobs are attributed to
  * the span open on the submitting thread through a local property, and
  * an SQL execution's plan to the span of its jobs. */
final class Tracer(spark: SparkSession, workload: String, val traced: Boolean) {
  import Tracer.SpanKey

  private val nextId = new AtomicLong(0L)
  private val open = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var phase: String = "setup"

  private val work = new ConcurrentHashMap[Long, Work]()
  private def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  def span[T](name: String)(body: => T): T = {
    val parent = open.get
    val s = Span(nextId.incrementAndGet(), name, if (parent == null) 0L else parent.id,
      workload, phase, System.nanoTime())
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    open.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      open.set(parent)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  private object Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val execSpan = new ConcurrentHashMap[Long, Long]()

    private def spanOf(props: java.util.Properties): Long =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, s))
      workOf(s).jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.taskRunMs += m.executorRunTime
        w.taskCpuMs += m.executorCpuTime / 1000000L
        w.gcMs += m.jvmGCTime
        w.peakExecMemoryBytes = math.max(w.peakExecMemoryBytes, m.peakExecutionMemory)
        w.recordsWritten += m.outputMetrics.recordsWritten
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val n = Bridge.exchanges(end)
        if (n > 0) workOf(execSpan.getOrDefault(end.executionId, 0L)).exchanges += n
      case _ =>
    }
  }

  if (traced) spark.sparkContext.addSparkListener(Listener)

  /** Waits until every listener event posted so far was delivered. */
  def drain(): Unit = Bridge.drainListenerBus(spark.sparkContext)

  def measured: Seq[Span] = spans.asScala.filter(_.phase == "measure").toSeq

  /** Work of the given spans and all their descendants. */
  def workUnder(roots: Seq[Span]): Work = {
    val children = spans.asScala.groupBy(_.parent)
    val total = new Work
    def visit(s: Span): Unit = {
      Option(work.get(s.id)).foreach(total.add)
      children.getOrElse(s.id, Nil).foreach(visit)
    }
    roots.foreach(visit)
    total
  }

  def workOfSpan(s: Span): Work = Option(work.get(s.id)).getOrElse(new Work)

  /** Every span with its own (not its children's) work, for the trace file. */
  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.start).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> s.workload,
      "phase" -> s.phase, "start_ns" -> s.start, "end_ns" -> s.end,
      "work" -> (if (traced) workOfSpan(s).toMap else Map.empty))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Peak heap in use right after a collection, over the `measure` phase:
  * the sum of every heap pool's post-GC usage, from GC notifications. */
final class HeapPeak(tracer: Tracer) extends NotificationListener {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (tracer.phase == "measure" &&
        n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
