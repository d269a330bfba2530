package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one run shares: the session, the tracer, the run's arguments, the
  * operation counts and the record written for `run.py`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Int) {
  val out = mutable.Map.empty[String, Any]
  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val setup = mutable.Map.empty[String, Any]

  /** One counted operation (a micro-batch or a query). A
    * throw counts as a failed operation and does not end the run. */
  def op(body: => Unit): Unit = {
    synchronized { attempted += 1 }
    try body catch { case NonFatal(e) => fail(e) }
  }

  def fail(e: Throwable): Unit = synchronized {
    errors += s"${e.getClass.getName}: ${e.getMessage}".take(500)
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def sleepUntil(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t) { Thread.sleep(math.max(1L, (t - now) / 1000000L)); now = System.nanoTime() }
  }

  /** Seconds of each repetition of the workload's set-up step. */
  def setupRepeats(seconds: Seq[Double]): Unit = setup("repeats_s") = seconds

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private var jitAtMeasure = 0L

  /** Ends the warm-up that began at `warmupStartNs` and starts the
    * measured phase. */
  def startMeasure(warmupStartNs: Long): Unit = {
    setup("warmup_s") = (System.nanoTime() - warmupStartNs) / 1e9
    jitAtMeasure = jitMs
    tracer.phase = "measure"
  }

  /** Ends the measured phase. The closing full collection makes sure the
    * heap peak has at least one post-GC sample from the phase. */
  def endMeasure(): Unit = {
    System.gc()
    tracer.phase = "check"
    out("jit_ms_measured") = jitMs - jitAtMeasure
  }

  def record(sessionS: Double): Map[String, Any] = synchronized {
    out.toMap ++ Map(
      "setup" -> (setup.toMap + ("session_s" -> sessionS)),
      "attempted" -> attempted,
      "errors" -> errors.toSeq)
  }
}

/** One benchmark run in one JVM: `--workload <cdc_live|curate>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  * Writes the run record (JSON) to `--out`; `run.py` turns it into metrics
  * and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      // a curate pass generates ~560 classes; at the default 100 entries
      // every pass evicts and recompiles them, so the JIT never settles
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark, workload, traced)
    val heap = new HeapPeak(tracer)
    val ctx = new Ctx(spark, tracer, work, opts("seed").toLong, opts("seconds").toInt)
    workload match {
      case "cdc_live" => Cdc.live(ctx)
      case "curate" => Curate.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.drain()
    ctx.out("heap_peak_mb") = heap.peakMb
    // JVM-wide JIT and GC totals, to tell a slow machine from a slow JVM
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    ctx.out("jvm") = Map(
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum, "gc_count" -> gcs.map(_.getCollectionCount).sum)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traced) {
      ctx.out("layers") = Layers.metrics(tracer) ++ CodecProbe.metrics(ctx.seed)
      json.writeValue(new java.io.File(s"$work/trace.json"), tracer.spanRecords)
    }
    json.writeValue(new java.io.File(opts("out")), ctx.record(sessionS))
    spark.stop()
  }
}

/** Per-layer numbers the spans and their Spark work give. */
object Layers {
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)

  private def ms(s: Span): Double = (s.end - s.start) / 1e6

  def metrics(tracer: Tracer): Map[String, Any] = {
    val measured = tracer.measured
    val byName = measured.groupBy(_.name)
    def named(n: String): Seq[Span] = byName.getOrElse(n, Nil)
    val total = tracer.workUnder(measured.filter(_.parent == 0L))
    val spark = total.toMap.collect {
      case (k, v) if k != "records_written" && k != "bytes_written" => s"spark.$k" -> v
    }
    val consumed = tracer.workUnder(named("pipeline.consume"))
    val merged = tracer.workUnder(named("cdc.merge"))
    val curate = Curate.Queries.flatMap { q =>
      val ss = named(s"curate.$q")
      val w = tracer.workUnder(ss)
      val n = math.max(ss.size, 1).toDouble
      Seq(s"curate.$q.s" -> p50(ss.map(ms)) / 1000.0,
        s"curate.$q.jobs" -> w.jobs / n,
        s"curate.$q.exchanges" -> w.exchanges / n,
        s"curate.$q.shuffle_bytes" -> (w.shuffleWriteBytes + w.shuffleReadBytes) / n)
    }
    spark ++ curate ++ Map(
      "pipeline.consume_ms_per_batch" -> p50(named("pipeline.consume").map(ms)),
      "pipeline.dead_letters_written" -> consumed.recordsWritten,
      "cdc.merge_ms_per_batch_p50" -> p50(named("cdc.merge").map(ms)),
      "cdc.rows_written" -> merged.recordsWritten)
  }
}
