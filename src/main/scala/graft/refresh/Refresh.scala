package graft.refresh

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Full-refresh subsystem: registry-tracked bootstrap scans of upstream
  * tables republished as `refresh` messages (reference:
  * tools/copy_table_to_blackhole_table.py, tools/refresh_manager.py,
  * helpers/priority_refresh_queue.py).
  *
  * The reference's MySQL-specific machinery (BLACKHOLE clone tables, LOCK
  * TABLES, binlog republication) collapses in Spark to a partitioned JDBC
  * read → envelope map → sink; what remains essential is the control
  * plane: keyset pagination bounds, priority scheduling, throughput caps,
  * and the pause/resume state machine.
  */
object RefreshStatus extends Enumeration {
  val NotStarted, InProgress, Paused, Success, Failed = Value

  /** Reference wire strings (models/refresh.py:73-79 RefreshStatus enum). */
  def wire(v: Value): String = v match {
    case NotStarted => "NOT_STARTED"
    case InProgress => "IN_PROGRESS"
    case Paused => "PAUSED"
    case Success => "SUCCESS"
    case Failed => "FAILED"
  }

  def fromWire(s: String): Value = values.find(wire(_) == s).getOrElse(
    throw new IllegalArgumentException(s"unknown refresh status: $s"))
}

final case class RefreshJob(
    refreshId: Int,
    namespaceName: String,
    sourceName: String,
    status: RefreshStatus.Value,
    offset: Long, // resume position (last processed pk)
    batchSize: Int,
    priority: Int, // 25/50/75/100
    filterCondition: Option[String],
    avgRowsPerSecondCap: Option[Int],
    createdAt: Long,
    updatedAt: Long = 0L)

/** Priority queue semantics (reference: priority_refresh_queue.py:68-116):
  * one active job per source; ordering is priority DESC, then PAUSED
  * before NOT_STARTED (resume beats start), then created_at ASC. */
object PriorityRefreshQueue {

  private def statusRank(s: RefreshStatus.Value): Int = s match {
    case RefreshStatus.Paused => 0
    case RefreshStatus.NotStarted => 1
    case other => 2 // terminal/active states are not queueable
  }

  val ordering: Ordering[RefreshJob] = Ordering.by { j: RefreshJob =>
    (-j.priority, statusRank(j.status), j.createdAt, j.refreshId)
  }

  /** Next job per source, queue-ordered across sources. */
  def schedule(jobs: Seq[RefreshJob]): Seq[RefreshJob] =
    jobs
      .filter(j => j.status == RefreshStatus.Paused || j.status == RefreshStatus.NotStarted)
      .groupBy(j => (j.namespaceName, j.sourceName))
      .map { case (_, js) => js.min(ordering) }
      .toSeq
      .sorted(ordering)

  /** The same scheduling as a distributed query (for a catalog-backed job
    * table): rank within source, keep the head, order globally. */
  def scheduleDF(jobs: DataFrame): DataFrame = {
    val statusRankCol = when(col("status") === "PAUSED", 0)
      .when(col("status") === "NOT_STARTED", 1).otherwise(2)
    val pending = jobs.filter(col("status").isin("PAUSED", "NOT_STARTED"))
    TopK.cut(pending, 1, Seq(col("namespace_name"), col("source_name")),
        Seq(col("priority").desc, statusRankCol.asc, col("created_at").asc,
          col("refresh_id").asc), "rn")
      .drop("rn")
      // refresh_id tiebreaker like the Scala `ordering`: without it two
      // cross-source heads tied on (priority, status, created_at) sorted
      // in partition order, so a limit(slots) consumer could start a
      // different job than schedule() on identical catalog state
      .orderBy(col("priority").desc, statusRankCol.asc, col("created_at").asc,
        col("refresh_id").asc)
  }
}

/** Throughput cap allocation (reference: refresh_manager.py:331-365,
  * 443-449): each running job gets its own cap (default 50 rows/s) but the
  * fleet never exceeds the total budget (default 1000 rows/s); when
  * oversubscribed, caps scale down proportionally, with every job kept
  * alive at ≥ 1 row/s. The 1-row/s floors can push the proportional sum
  * past the budget, so the excess is trimmed from the largest allocations
  * (deterministically, by size then id) — the budget holds whenever it
  * can, i.e. whenever the fleet is no larger than the budget itself. */
object ThroughputAllocator {
  val DefaultPerJobCap = 50
  val DefaultTotalCap = 1000

  def allocate(jobs: Seq[RefreshJob],
               totalCap: Int = DefaultTotalCap): Map[Int, Int] = {
    val requested = jobs.map(j => j.refreshId -> j.avgRowsPerSecondCap.getOrElse(DefaultPerJobCap))
    val sum = requested.map(_._2).sum
    if (sum <= totalCap) requested.toMap
    else {
      val scale = totalCap.toDouble / sum
      val scaled = scala.collection.mutable.LinkedHashMap(
        requested.map { case (id, cap) => id -> math.max(1, (cap * scale).toInt) }: _*)
      var excess = scaled.values.sum - totalCap
      if (excess > 0) {
        val order = scaled.toSeq.sortBy { case (id, c) => (-c, id) }.map(_._1)
        val it = order.iterator
        while (excess > 0 && it.hasNext) {
          val id = it.next()
          val cut = math.min(scaled(id) - 1, excess)
          scaled(id) -= cut
          excess -= cut
        }
      }
      scaled.toMap
    }
  }
}

/** Keyset-paginated scan planning (reference:
  * copy_table_to_blackhole_table.py:399-439, 462-492): never OFFSET —
  * ranges of the primary key, so each batch is an index range scan. On a
  * cluster this becomes `spark.read.jdbc(url, table, predicates)` with one
  * predicate per partition; the same predicates filter a DataFrame here.
  */
object RefreshScan {

  /** Contiguous half-open pk ranges covering (minPk, maxPk]. */
  def keysetRanges(minPk: Long, maxPk: Long, batchSize: Long): Seq[(Long, Long)] = {
    require(batchSize > 0)
    // overflow-safe step: lo + batchSize can wrap past Long.MaxValue
    // when maxPk is a sentinel max / unsigned-bigint bound — the
    // unguarded iterate never terminated (takeWhile stayed true on the
    // wrapped negative) and the wrapped hi emitted negative predicates
    Iterator.iterate(minPk) { lo =>
      val next = lo + batchSize
      if (next < lo) maxPk else next // wrapped -> terminate
    }.takeWhile(_ < maxPk)
      .map { lo =>
        val hi = lo + batchSize
        (lo, if (hi < lo) maxPk else math.min(hi, maxPk))
      }
      .toSeq
  }

  /** JDBC-style predicate strings for the ranges (usable directly as the
    * `predicates` argument of `spark.read.jdbc`). */
  def keysetPredicates(pkCol: String, minPk: Long, maxPk: Long, batchSize: Long,
                       where: Option[String] = None): Array[String] =
    keysetRanges(minPk, maxPk, batchSize).map { case (lo, hi) =>
      val range = s"$pkCol > $lo AND $pkCol <= $hi"
      where.map(w => s"$range AND ($w)").getOrElse(range)
    }.toArray

  /** One batch of a refresh scan as a DataFrame filter (local/test path —
    * same predicate the JDBC partition would push down). */
  def scanBatch(table: DataFrame, pkCol: String, lo: Long, hi: Long,
                where: Option[Column] = None): DataFrame = {
    val ranged = table.filter(col(pkCol) > lo && col(pkCol) <= hi)
    where.map(ranged.filter).getOrElse(ranged).orderBy(col(pkCol))
  }
}
