package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.functions.encode_payload
import graft.schema.SchemaRegistry
import graft.streaming.{Pipeline, StreamingCdc}

/** The CDC path under test, as a consumer runs it: producer-side envelope
  * and key (`Pipeline.produce`), consumer-side decode with the dead-letter
  * split (`Pipeline.consumeWithDeadLetters`), dead letters kept for replay,
  * and the merge into the versioned snapshot (`StreamingCdc.processBatch`). */
final class CdcPath(ctx: Ctx, dir: String) {
  import CdcPath._

  private val spark = ctx.spark
  val registry = new SchemaRegistry
  val entry: SchemaRegistry#SchemaEntry = registry.registerSchema("perfbench", "account", SchemaJson)
  val stateDir = s"$dir/state"
  val deadDir = s"$dir/dead_letters"

  /** Writes the seed snapshot as version 0; returns the seconds it took. */
  def seed(rows: Seq[Change]): Double = {
    FileUtils.deleteQuietly(new java.io.File(stateDir))
    val df = spark.createDataFrame(rows)
      .select(col("id"), col("seq"), lit("u").as("op"), col("name"), col("amount"))
    ctx.timed(StreamingCdc.processBatch(df, 0L, stateDir, "id", Seq("seq"), "op", PayloadCols))
  }

  /** Change rows → transport rows (topic, key, value). Clean rows go
    * through `Pipeline.produce`, one call per message type; planted rows
    * get their class's defect: bytes that are no envelope, an envelope
    * whose payload is no Avro record, or a valid payload under a schema
    * id the registry does not know. */
  def transport(changes: DataFrame): DataFrame = {
    val payload = struct(col("id"), col("seq"), col("name"), col("amount"))
    val clean = changes.filter(col("plant") === 0)
    def produced(op: String, messageType: String): DataFrame =
      Pipeline.produce(clean.filter(col("op") === op), payload, messageType, entry,
        col("ts"), registry)
    val planted = changes.filter(col("plant") =!= 0).select(
      lit(entry.topicName).as("topic"),
      Pipeline.keyFor(payload, entry).as("key"),
      when(col("plant") === 1, lit(Array[Byte](-1, -1, -1)))
        .when(col("plant") === 2, Pipeline.envelopeForBytes(lit(Array[Byte](-1)),
          "update", entry.schemaId, col("ts")))
        .otherwise(Pipeline.envelopeForBytes(encode_payload(payload, entry.schemaJson),
          "update", UnknownSchemaId, col("ts")))
        .as("value"))
    produced("c", "create").unionByName(produced("u", "update"))
      .unionByName(produced("d", "delete")).unionByName(planted)
  }

  /** One micro-batch: consume with the dead-letter split, append the dead
    * letters (which materializes the split's shared decode pass), then
    * merge the decoded changes into snapshot `version`. */
  def applyBatch(batch: DataFrame, version: Long): Unit = {
    val good = ctx.tracer.span("pipeline.consume") {
      val (g, dead) = Pipeline.consumeWithDeadLetters(batch, registry, entry.schemaId)
      dead.select(col("schema_id"), col("raw_envelope")).write.mode("append").parquet(deadDir)
      g
    }
    ctx.tracer.span("cdc.merge") {
      val changes = good.select(col("payload.id").as("id"), col("payload.seq").as("seq"),
        when(col("message_type") === "delete", "d").otherwise("u").as("op"),
        col("payload.name").as("name"), col("payload.amount").as("amount"))
      StreamingCdc.processBatch(changes, version, stateDir, "id", Seq("seq"), "op", PayloadCols)
    }
  }

  /** Writes the expected and the actual final state, and what the
    * benchmark needs to check the dead letters, for `run.py` to compare. */
  def recordChecks(gen: ChangeGen): Unit = {
    import spark.implicits._
    val expected = gen.model.toSeq.map { case (k, s) => (k, s.seq, s.name, s.amount) }
      .toDF("id", "seq", "name", "amount")
    expected.write.mode("overwrite").parquet(s"$dir/expected_state")
    StreamingCdc.currentState(spark, stateDir, StateSchema)
      .write.mode("overwrite").parquet(s"$dir/actual_state")
    ctx.out("checks") = Map(
      "expected_state" -> s"$dir/expected_state",
      "actual_state" -> s"$dir/actual_state",
      "state_dir" -> stateDir,
      "dead_dir" -> deadDir,
      "schema_id" -> entry.schemaId,
      "planted" -> Map("transport" -> gen.planted(1), "payload" -> gen.planted(2),
        "unknown_schema" -> gen.planted(3)),
      "messages" -> gen.emitted)
  }
}

object CdcPath {
  val SchemaJson: String =
    """{"type":"record","name":"account","namespace":"perfbench","fields":[
         {"name":"id","type":"long","pkey":1},
         {"name":"seq","type":"long"},
         {"name":"name","type":"string"},
         {"name":"amount","type":"double"}]}"""
  val PayloadCols = Seq("seq", "name", "amount")
  val StateSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("seq", LongType),
    StructField("name", StringType), StructField("amount", DoubleType)))
  /** A schema id no registry in this benchmark ever assigns. */
  val UnknownSchemaId = 9999
}

/** Per-batch records from `StreamingQueryProgress`, plus the instant the
  * benchmark's `foreachBatch` body returned for each batch. */
final class BatchLog(tracer: Tracer) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val committed = new ConcurrentHashMap[Long, (Long, String)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    // a memory source's offset is a number; the first batch has none
    def off(s: String): Long = Option(s).flatMap(_.trim.toLongOption).getOrElse(-1L)
    progress.add(Map(
      "batch_id" -> p.batchId,
      "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(-1L),
      "end_offset" -> src.map(s => off(s.endOffset)).getOrElse(-1L),
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** `body` as the `foreachBatch` function: runs it and stamps the return. */
  def stamp(batchId: Long)(body: => Unit): Unit = {
    val phase = tracer.phase
    body
    committed.put(batchId, (System.nanoTime(), phase))
  }

  /** Batches with a commit stamp, joined with their progress record. */
  def records(): Seq[Map[String, Any]] = {
    val byId = progress.asScala.map(p => p("batch_id").asInstanceOf[Long] -> p).toMap
    committed.asScala.toSeq.sortBy(_._1).flatMap { case (id, (t, phase)) =>
      byId.get(id).map(_ ++ Map("commit_ns" -> t, "phase" -> phase))
    }
  }
}

object Cdc {

  /** Open loop: one generator thread feeds a `MemoryStream` on a fixed
    * schedule — `Rate` rows/s in ticks of `TickMs` — against a `Keys`-key
    * snapshot; a 100 ms trigger runs the consume → dead-letter → merge
    * body per micro-batch. Freshness is taken by `run.py` from the tick
    * due times and the batch commit stamps, never by collecting rows. */
  def live(ctx: Ctx): Unit = {
    val Keys = 20000
    val Rate = 5000
    val TickMs = 100
    val WarmupS = 12.0
    val spark = ctx.spark
    val gen = new ChangeGen(ctx.seed, Keys)
    val path = new CdcPath(ctx, s"${ctx.work}/cdc")
    val seedRows = gen.seedRows()
    ctx.setupRepeats((1 to 3).map(_ => path.seed(seedRows)))

    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Change]
    val log = new BatchLog(ctx.tracer)
    spark.streams.addListener(log)
    val query = path.transport(input.toDF()).writeStream
      .trigger(Trigger.ProcessingTime(100L))
      .option("checkpointLocation", s"${ctx.work}/cdc/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a MemoryStream batch is a union of one local relation per
        // addData call, several partitions each; a Kafka topic gives a
        // batch one partition per topic partition — read it as four
        log.stamp(batchId) {
          ctx.op(ctx.tracer.span("stream.batch")(path.applyBatch(batch.coalesce(4), batchId + 1)))
        }
      }
      .start()

    val tickNs = TickMs * 1000000L
    val t0 = System.nanoTime() + 100000000L
    val w0 = t0 + (WarmupS * 1e9).toLong
    val w1 = w0 + ctx.seconds * 1000000000L
    val ticks = new java.util.ArrayList[Seq[Long]]()
    @volatile var running = true
    val generator = new Thread(() => {
      var i = 0L
      while (running) {
        val due = t0 + i * tickNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val n = ((i + 1) * Rate * TickMs / 1000 - i * Rate * TickMs / 1000).toInt
        val ts = System.currentTimeMillis() / 1000
        val rows = Seq.fill(n)(gen.next(ts))
        val offset = input.addData(rows).json().trim.toLong
        ticks.add(Seq(offset, due, System.nanoTime() - due, n.toLong))
        i += 1
      }
    }, "perfbench-generator")
    generator.start()

    val setupStart = System.nanoTime()
    ctx.tracer.phase = "warmup"
    ctx.sleepUntil(w0)
    ctx.startMeasure(setupStart)
    ctx.sleepUntil(w1)
    running = false
    generator.join()
    query.processAllAvailable()
    ctx.endMeasure()
    query.stop()
    ctx.tracer.drain()
    spark.streams.removeListener(log)
    query.exception.foreach(ctx.fail)

    ctx.out("live") = Map(
      "rate" -> Rate, "keys" -> Keys, "tick_ms" -> TickMs,
      "window_ns" -> Seq(w0, w1),
      "ticks" -> ticks.asScala.toSeq,
      "batches" -> log.records())
    path.recordChecks(gen)
  }
}
