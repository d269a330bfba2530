package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TopK

/** Relational operator pack — the batch query surface of the engine.
  *
  * Each query models one operator family from SURVEY.md §2 on the driver
  * test tables, paired with an ANSI-SQL oracle (DuckDB) in [[oracles]].
  * Column aliases are identical on both sides (the driver sorts columns by
  * name before hashing).
  *
  * Scale notes (100 TB discipline):
  *  - aggregations rely on partial (map-side) aggregation — no row explosion
  *    crosses the shuffle except the grouped partials;
  *  - dimension joins (nation/region/customer at TPC-H ratios) are
  *    broadcast — no shuffle of the fact table for them;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once and
  *    AQE handles skew;
  *  - every scan projects only needed columns so parquet reads stay narrow.
  */
object Relational {

  /** A2-style fold + TPC-H Q1 pricing summary (SURVEY §2.3 A1/A2).
    * Money/quantity totals are summed in exact integer micro-units
    * (floor(x·10^6) longs): per-row the double arithmetic is IEEE-identical
    * on any engine, and the long sum is aggregation-order-independent —
    * round(sum(double)) is not, and is exactly the class of divergence
    * that hash-failed three queries in round 1. avg derives from the
    * exact sum by integer division.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1995-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(Micros.micros($"l_quantity")).as("sum_qty_micros"),
        sum(Micros.micros($"l_extendedprice")).as("sum_base_price_micros"),
        sum(Micros.micros($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("sum_disc_price_micros"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty_micros", expr("sum_qty_micros div count_order"))
      .select($"l_returnflag", $"l_linestatus", $"sum_qty_micros",
        $"sum_base_price_micros", $"sum_disc_price_micros",
        $"avg_qty_micros", $"count_order")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Parquet scan with projection + predicate pushdown (SURVEY §2.1 S1/S8):
    * keyset-paginated slice, mirroring the refresh runner's
    * `WHERE pk > min AND pk <= max` batches
    * (reference: tools/copy_table_to_blackhole_table.py:399-412).
    */
  def qKeysetScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderkey" > 1000L && $"o_orderkey" <= 2000L)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** Star-schema join: revenue per region/nation. Dimensions are broadcast
    * (SURVEY §2.4 J1 — registry-dimension joins must never shuffle the
    * fact side).
    */
  def qRegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_regionkey", $"n_name")
    val reg = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      // exact integer micros: long sums are aggregation-order-independent
      .agg(sum(Micros.micros($"l_extendedprice" * (lit(1.0) - $"l_discount")))
             .as("revenue_micros"),
           count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  /** Semi join — customers that have at least one urgent order
    * (SURVEY §2.4: EXISTS-shaped registry membership checks).
    */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    Tables.customer(spark, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Anti join — topic-set difference shape (SURVEY §2.5 O6:
    * `consumer.py:274-286` new-vs-known topic sets): customers with no
    * urgent order.
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    Tables.customer(spark, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Bloom-pruned semi join (SURVEY §2.4 — the 100 TB form of the
    * registry membership check): lineitem rows supplied by a two-nation
    * supplier subset. The bloom sketch of the ~8%-selective supplier
    * keys filters the fact side inside its scan stage, so only
    * candidates shuffle into the exact semi join that kills the
    * sketch's false positives — output is bit-identical to the plain
    * EXISTS, which is the oracle.
    */
  def qBloomSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probe = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_suppkey")
    val build = Tables.supplier(spark, dir)
      .filter($"s_nationkey".isin(3, 7)).select($"s_suppkey")
    graft.operators.JoinPrune.bloomSemiJoin(
        probe, build, "l_suppkey", "s_suppkey", expectedNumItems = 10000L)
      .select($"l_orderkey", $"l_linenumber", $"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Bucketed co-located fact-fact join (SURVEY §2.4 / §4 — the
    * pay-the-shuffle-once layout): lineitem and orders each written as
    * 16-bucket tables on the order key, then joined with NO exchange on
    * either side (PlanSpec-asserted) and aggregated to revenue per
    * priority. The only shuffle in the whole query is the 5-group
    * aggregation. Result is layout-invariant, so the oracle is the plain
    * parquet join.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Bucketing.writeBucketed(
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
      "bkt_lineitem", "l_orderkey", nBuckets = 16)
    graft.operators.Bucketing.writeBucketed(
      Tables.orders(spark, dir).select($"o_orderkey", $"o_orderpriority"),
      "bkt_orders", "o_orderkey", nBuckets = 16)
    graft.operators.Bucketing
      .colocatedJoin(spark, "bkt_lineitem", "bkt_orders",
        "l_orderkey", "o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        sum(Micros.micros($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("revenue_micros"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  /** Z-order curve values (SURVEY §4 layout — multi-column data
    * skipping): the Morton interleave of (user_id, event_id) the
    * [[graft.operators.Layout.zorderRange]] re-layout sorts by. Pure
    * integer shift/mask ladder, replayed exactly by the oracle; the
    * clustering property it buys is spec-asserted in FunctionsSpec.
    */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id",
        graft.operators.Layout.zValue2($"user_id", $"event_id").as("zval"))
      .orderBy($"event_id")
  }

  /** CDC snapshot merge (SURVEY §3.3 — the consuming half of the CDC
    * contract): customer is the snapshot; each order plays an update
    * ('u', new name + balance from the order) or a delete ('d' when
    * urgent) keyed on the customer, sequenced by (o_orderdate,
    * o_orderkey). Latest change per key wins; untouched customers pass
    * through. Oracle replays the rank-1 cut and the full-outer apply.
    */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snapshot = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name",
        Micros.micros($"c_acctbal").as("acctbal_micros"))
    val changes = Tables.orders(spark, dir).select(
      $"o_custkey".as("c_custkey"),
      when($"o_orderpriority" === "1-URGENT", "d").otherwise("u").as("op"),
      concat(lit("upd-"), $"o_orderkey").as("c_name"),
      Micros.micros($"o_totalprice").as("acctbal_micros"),
      $"o_orderdate", $"o_orderkey")
    graft.refresh.CdcMerge.applyCdc(snapshot, changes, "c_custkey",
        seqCols = Seq("o_orderdate", "o_orderkey"), opCol = "op",
        payloadCols = Seq("c_name", "acctbal_micros"))
      .orderBy($"c_custkey")
  }

  /** Per-group distinct cardinality (SURVEY §2.3 A-family; LLM-ops:
    * corpus cardinality stats). Exact regime oracle-gated; the HLL
    * sketch variant ([[graft.operators.Frequency.distinctCountsSketch]])
    * is the 100 TB path — fixed-size mergeable state per group — and is
    * spec-bounded + shard-merge-pinned in FunctionsSpec.
    */
  def qDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Frequency
      .distinctCounts(Tables.events(spark, dir), "event_type", "user_id")
      .orderBy($"event_type")
  }

  /** Fixed-window counts — the monitoring aggregation (SURVEY §2.3 A1,
    * reference client.py:217-221: window = floor(ts/600)*600 aligned to
    * epoch, one row per (window, topic-analog)).
    */
  def qMonitorWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(
        (floor(unix_timestamp($"ts") / 600L) * 600L).cast("long").as("window_start"),
        $"event_type")
      .agg(count(lit(1)).as("message_count"),
           // exact integer micro-units: double sums are aggregation-order-
           // dependent, so they drift across engines/parallelism; longs don't
           sum(Micros.micros($"value")).as("total_value_micros"))
      .orderBy($"window_start", $"event_type")
  }

  /** Monitor counts with catch-up flush (SURVEY §2.3 A1, client.py:316-324):
    * zero-count rows for quiet windows between a topic's first and last
    * activity. */
  def qMonitorCatchup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val messages = Tables.events(spark, dir)
      .select($"event_type".as("topic"), $"ts")
    graft.streaming.MonitorStream
      .monitorCountsWithCatchup(messages, "mon", "consumer")
      .orderBy($"topic", $"start_timestamp")
  }

  /** Offset-commit fold (SURVEY §2.3 A2: per topic-partition
    * max(offset)+1, base_consumer.py:578-611). event_type ~ topic,
    * event_id ~ offset.
    */
  def qMaxOffsetFold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg((max($"event_id") + 1L).as("commit_offset"),
           count(lit(1)).as("n_messages"))
      .orderBy($"event_type")
  }

  /** MIN/MAX primary-key bounds for keyset pagination (SURVEY §2.3 A4,
    * copy_table_to_blackhole_table.py:414-439).
    */
  def qPkBounds(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .agg(min(col("o_orderkey")).as("min_pk"),
           max(col("o_orderkey")).as("max_pk"),
           count(lit(1)).as("n_rows"))
  }

  /** Registrar last-seen fold (SURVEY §2.3 A7: max last-used timestamp per
    * schema_id; user_id plays schema_id).
    */
  def qLastSeen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(max($"ts").as("last_seen_ts"), count(lit(1)).as("n_uses"))
      .orderBy($"user_id")
  }

  /** Priority-queue ordering (SURVEY §2.5 O1/O2,
    * priority_refresh_queue.py:68-98): rank within each source by
    * priority DESC then created_at ASC, keep the head. Implemented as a
    * single window pass — at scale this is one shuffle on the partition
    * key, no driver-side sort.
    */
  def qPriorityHead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NULLS LAST explicitly: a scheduler head pick must never let an
    // UNKNOWN priority/date outrank a known one, and Spark's ASC default
    // is nulls FIRST (a corrupt row with a null date won its customer's
    // head slot — SQL replays with nulls-last defaults disagreed, and
    // the picked head drove a different job on identical state)
    TopK.cut(Tables.orders(spark, dir), 1, Seq($"o_custkey"),
        Seq($"o_orderpriority".asc_nulls_last, $"o_orderdate".asc_nulls_last,
          $"o_orderkey".asc_nulls_last), "rn")
      .select($"o_custkey", $"o_orderkey", $"o_orderpriority", $"o_orderdate")
      .orderBy($"o_custkey")
  }

  /** Top-k with deterministic tiebreak (SURVEY §2.5 O3/O5: tailer
    * `--message-limit`, newest-topic selection).
    */
  def qTopRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      // exact integer micros: long sums are aggregation-order-independent
      .agg(sum(Micros.micros($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("revenue_micros"))
      .orderBy($"revenue_micros".desc, $"o_custkey".asc)
      .limit(10)
  }

  /** Latest-event-per-user (SURVEY §2.5 O3: top-1 by updated_at —
    * tailer.py:347-351) — window head, not a self-join.
    */
  def qLatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TopK.cut(Tables.events(spark, dir), 1, Seq($"user_id"),
        Seq($"ts".desc, $"event_id".desc), "rn")
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .orderBy($"user_id")
  }

  /** Set difference (SURVEY §2.5 O6): users who clicked but never
    * purchased. `except` on projected key columns only.
    */
  def qSetDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"ts" < lit("2024-01-02 00:00:00").cast("timestamp"))
    val clickers = ev.filter($"event_type" === "click").select($"user_id").distinct()
    val buyers = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
    clickers.except(buyers).orderBy($"user_id")
  }

  /** Dedup on a compound key (SURVEY §2.5 O7: commit-offset dedup —
    * dropDuplicates = SELECT DISTINCT; at scale a single hash shuffle).
    */
  def qDistinctPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"event_type")
      .distinct()
      .orderBy($"user_id", $"event_type")
  }

  /** Update-message field diff (SURVEY §2.2 P8, message.py:780-798):
    * previous vs current payload via lag() over the per-user stream;
    * has_changed = value != previous value.
    */
  def qFieldDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, dir)
      // a NULL-timestamp event has no position in a per-user time
      // sequence — drop it (engines even disagree where an ASC null
      // sorts: Spark first, SQL replays last, so left in it silently
      // shifted EVERY diff in its user's chain by one on one engine)
      .filter($"ts".isNotNull)
      .withColumn("prev_value", lag($"value", 1).over(w))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_value".isNotNull)
      .select(
        $"user_id", $"event_id",
        $"prev_value", $"value",
        ($"value" =!= $"prev_value").as("value_changed"),
        ($"event_type" =!= $"prev_type").as("type_changed"))
      .orderBy($"user_id", $"event_id")
  }

  /** Tailer projection + time formatting + range filter (SURVEY §2.2
    * P11/P12, tools/tailer.py:411-458): ISO-8601 formatting, timestamp
    * bounds, deterministic limit.
    */
  def qTailerProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"ts" >= lit("2024-01-02 00:00:00").cast("timestamp") &&
              $"ts" < lit("2024-01-03 00:00:00").cast("timestamp"))
      .select(
        $"event_id",
        $"event_type",
        date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss").as("iso_time"),
        $"user_id")
      .orderBy($"event_id")
      .limit(500)
  }

  /** Scalar-function pack (SURVEY §2.6 F2/F3/F7/F8): hex/md5, base64,
    * namespace-style split, regex extraction over the props JSON-ish
    * string, case/coalesce.
    */
  def qScalarPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"event_id" < 200L)
      .select(
        $"event_id",
        md5(concat($"event_type", lit(":"), $"user_id".cast("string"))).as("row_md5"),
        upper($"event_type").as("type_upper"),
        substring($"event_type", 1, 3).as("type_prefix"),
        regexp_extract($"props", "\\\"k\\\": (\\d+)", 1).cast("long").as("prop_k"),
        base64($"event_type".cast("binary")).as("type_b64"),
        when($"value" > 10.0, lit("high")).otherwise(lit("low")).as("value_band"))
      .orderBy($"event_id")
  }

  /** Binlog text scan (SURVEY §2.1 S9, tools/binlog_analyzer.py:33-98):
    * synthesize a deterministic `mysqlbinlog --verbose` transcript from
    * the events table (SET TIMESTAMP + row-event header + `###` statement
    * lines; every 4th event omits its header so the carry-forward
    * semantics are exercised), then parse it back with
    * [[graft.tools.BinlogAnalyzer]]. The oracle regenerates the expected
    * rows from the same events directly. */
  def qBinlogScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one row per event_id before transcript synthesis: line numbers are
    // derived from event_id (3i..3i+2), so two corpus rows claiming the
    // same id would collide on line_no and make the parser's
    // SET-TIMESTAMP carry-forward order — and thus which statement gets
    // which timestamp — undefined (hostile-events duplicate-id class).
    // Deterministic winner: smallest (ts, user_id), mirrored in the oracle.
    val ev = TopK.cut(
        Tables.events(spark, dir).filter($"event_id" < 300)
          .select($"event_id", $"ts", $"user_id"),
        1, Seq($"event_id"), Seq($"ts".asc_nulls_last, $"user_id".asc_nulls_last), "__rn")
      .drop("__rn")
    val kind = $"event_id" % 3
    val verb = when(kind === 0, "INSERT INTO").when(kind === 1, "UPDATE")
      .otherwise("DELETE FROM")
    val rowsKind = when(kind === 0, "Write_rows").when(kind === 1, "Update_rows")
      .otherwise("Delete_rows")
    // one scan, not a 3-way union (which would read events three times):
    // each event expands to its 2-3 transcript lines via a conditional
    // array explode — headerless events contribute a null element that the
    // filter drops before exploding
    val headerLine = when($"event_id" % 4 =!= 0,
      concat(lit("#"), date_format($"ts", "yyMMdd HH:mm:ss"),
        lit(" server id 1  end_log_pos 120 CRC32 0x1f2e3d4c  "), rowsKind,
        lit(": table id 77 flags: STMT_END_F")))
    val lineStructs = filter(
      array(
        struct(($"event_id" * 3).as("line_no"),
          concat(lit("SET TIMESTAMP="), unix_timestamp($"ts"), lit("/*!*/;")).as("line")),
        struct(($"event_id" * 3 + 1).as("line_no"), headerLine.as("line")),
        struct(($"event_id" * 3 + 2).as("line_no"),
          concat(lit("### "), verb, lit(" yelp.tbl_"), $"user_id" % 5).as("line"))),
      s => s.getField("line").isNotNull)
    graft.tools.BinlogAnalyzer
      .parse(
        ev.select(lit("mysql-bin.000405").as("file"), explode(lineStructs).as("l"))
          .select($"file", $"l.line_no".as("line_no"), $"l.line".as("line")),
        "file", "line_no", "line")
      .orderBy($"line_no")
  }

  /** Display scrub on PII-flagged rows (SURVEY §2.2 P10,
    * message.py:557-563): every leaf value of a flagged payload renders as
    * its type name, unflagged rows pass through — the tailer-safety rule
    * for PII topics, checked value-for-value by the oracle. */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val payload = struct($"user_id", $"event_type")
    val scrubbedStruct = graft.functions.Scrub.scrubbed(payload, schema)
    val isPii = $"user_id" % 3 === 0
    Tables.events(spark, dir)
      .filter($"event_id" < 500)
      .select(
        $"event_id",
        isPii.as("is_pii"),
        when(isPii, scrubbedStruct.getField("user_id"))
          .otherwise($"user_id".cast("string")).as("user_disp"),
        when(isPii, scrubbedStruct.getField("event_type"))
          .otherwise($"event_type").as("event_type_disp"))
      .orderBy($"event_id")
  }

  /** Salted skew join: lineitem ⋈ part on l_partkey with the join key
    * sharded across 8 salts hashed off l_orderkey ([[graft.operators
    * .JoinPrune.saltedJoin]] — the manual leveling you reach for when a
    * hot part owns a reducer-killing share of the fact table and AQE
    * has no statistics yet). Salting must be invisible: the oracle is
    * the PLAIN join aggregated per brand, exact integer micros. */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_extendedprice", $"l_discount")
    val pt = Tables.part(spark, dir).select($"p_partkey".as("l_partkey"), $"p_brand")
    graft.operators.JoinPrune.saltedJoin(li, pt, Seq("l_partkey"),
        saltOn = "l_orderkey", nSalts = 8)
      .groupBy($"p_brand")
      .agg(sum(Micros.micros($"l_extendedprice" * (lit(1.0) - $"l_discount")))
             .as("revenue_micros"),
           count(lit(1)).as("n_items"))
      .orderBy($"p_brand")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_salted_join" -> (qSaltedJoin _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q_binlog_scan" -> (qBinlogScan _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_keyset_scan" -> (qKeysetScan _),
    "q_region_revenue" -> (qRegionRevenue _),
    "q_semi_join" -> (qSemiJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_bloom_semi" -> (qBloomSemi _),
    "q_distinct_users" -> (qDistinctUsers _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_zorder" -> (qZorder _),
    "q_monitor_windows" -> (qMonitorWindows _),
    "q_monitor_catchup" -> (qMonitorCatchup _),
    "q_max_offset_fold" -> (qMaxOffsetFold _),
    "q_pk_bounds" -> (qPkBounds _),
    "q_last_seen" -> (qLastSeen _),
    "q_priority_head" -> (qPriorityHead _),
    "q_top_revenue" -> (qTopRevenue _),
    "q_latest_per_user" -> (qLatestPerUser _),
    "q_set_diff" -> (qSetDiff _),
    "q_distinct_pairs" -> (qDistinctPairs _),
    "q_field_diff" -> (qFieldDiff _),
    "q_tailer_projection" -> (qTailerProjection _),
    "q_scalar_pack" -> (qScalarPack _)
  )

  val oracles: Map[String, String] = Map(
    "q_salted_join" ->
      s"""SELECT p.p_brand,
                CAST(sum(${Micros.sql("l.l_extendedprice * (1.0 - l.l_discount)")}) AS BIGINT)
                  AS revenue_micros,
                count(*) AS n_items
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY p.p_brand ORDER BY p.p_brand""",
    "q_pii_scrub" ->
      """SELECT event_id,
                user_id % 3 = 0 AS is_pii,
                CASE WHEN user_id % 3 = 0 THEN 'long'
                     ELSE CAST(user_id AS VARCHAR) END AS user_disp,
                CASE WHEN user_id % 3 = 0 THEN 'string'
                     ELSE event_type END AS event_type_disp
         FROM events WHERE event_id < 500 ORDER BY event_id""",
    "q_binlog_scan" ->
      """WITH ev AS (
           SELECT event_id, user_id, hts FROM (
             SELECT event_id, user_id,
                    CAST(floor(epoch(ts)) AS BIGINT) AS hts,
                    row_number() OVER (PARTITION BY event_id
                                       ORDER BY ts ASC NULLS LAST,
                                                user_id ASC NULLS LAST) AS dup_rn
             FROM events WHERE event_id < 300)
           WHERE dup_rn = 1),
         carried AS (
           SELECT event_id, user_id,
                  last_value(CASE WHEN event_id % 4 <> 0 THEN hts END IGNORE NULLS)
                    OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS cts
           FROM ev)
         SELECT 'mysql-bin.000405' AS file,
                event_id * 3 + 2 AS line_no,
                cts AS timestamp,
                CASE event_id % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
                     ELSE 'delete' END AS statement_type,
                'yelp.tbl_' || (user_id % 5) AS table_name
         FROM carried ORDER BY line_no""",
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         CAST(sum(${Micros.sql("l_quantity")}) AS BIGINT)
           AS sum_qty_micros,
         CAST(sum(${Micros.sql("l_extendedprice")}) AS BIGINT)
           AS sum_base_price_micros,
         CAST(sum(${Micros.sql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
           AS sum_disc_price_micros,
         CAST(CAST(sum(${Micros.sql("l_quantity")}) AS BIGINT)
              // count(*) AS BIGINT) AS avg_qty_micros,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1995-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_keyset_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey > 1000 AND o_orderkey <= 2000
         ORDER BY o_orderkey""",
    "q_region_revenue" ->
      s"""SELECT r_name, n_name,
         CAST(sum(${Micros.sql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
           AS revenue_micros,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
         WHERE EXISTS (SELECT 1 FROM supplier
                       WHERE s_suppkey = l_suppkey AND s_nationkey IN (3, 7))
         ORDER BY l_orderkey, l_linenumber""",
    "q_distinct_users" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS n_distinct,
                count(*) AS n_rows
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_zorder" ->
      """WITH e AS (SELECT event_id, user_id & 65535 AS x, event_id & 65535 AS y
                    FROM events),
         a AS (SELECT event_id, (x | (x << 8)) & 16711935 AS x,
                      (y | (y << 8)) & 16711935 AS y FROM e),
         b AS (SELECT event_id, (x | (x << 4)) & 252645135 AS x,
                      (y | (y << 4)) & 252645135 AS y FROM a),
         c AS (SELECT event_id, (x | (x << 2)) & 858993459 AS x,
                      (y | (y << 2)) & 858993459 AS y FROM b),
         d AS (SELECT event_id, (x | (x << 1)) & 1431655765 AS x,
                      (y | (y << 1)) & 1431655765 AS y FROM c)
         SELECT event_id, x | (y << 1) AS zval FROM d ORDER BY event_id""",
    "q_cdc_apply" ->
      s"""WITH snap AS (
           SELECT c_custkey, c_name,
                  ${Micros.sql("c_acctbal")} AS acctbal_micros
           FROM customer),
         ch AS (
           SELECT o_custkey AS k,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 'd' ELSE 'u' END AS op,
                  'upd-' || o_orderkey AS c_name,
                  ${Micros.sql("o_totalprice")} AS acctbal_micros,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
         lat AS (SELECT * FROM ch WHERE rn = 1)
         SELECT coalesce(s.c_custkey, l.k) AS c_custkey,
                CASE WHEN l.op = 'u' THEN l.c_name ELSE s.c_name END AS c_name,
                CASE WHEN l.op = 'u' THEN l.acctbal_micros
                     ELSE s.acctbal_micros END AS acctbal_micros
         FROM snap s FULL OUTER JOIN lat l ON s.c_custkey = l.k
         WHERE l.op IS NULL OR l.op <> 'd'
         ORDER BY c_custkey""",
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority,
                CAST(sum(${Micros.sql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_micros,
                count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_monitor_windows" ->
      s"""SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
         event_type,
         count(*) AS message_count,
         CAST(sum(${Micros.sql("value")}) AS BIGINT)
           AS total_value_micros
         FROM events
         GROUP BY 1, 2
         ORDER BY window_start, event_type""",
    "q_monitor_catchup" ->
      """WITH counts AS (
           SELECT event_type AS topic,
                  CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS start_timestamp,
                  count(*) AS observed
           FROM events GROUP BY 1, 2),
         ranges AS (
           SELECT topic,
                  unnest(generate_series(min(start_timestamp), max(start_timestamp), 600))
                    AS start_timestamp
           FROM counts GROUP BY topic)
         SELECT r.topic,
                'mon' AS client_name,
                'consumer' AS client_type,
                CAST(coalesce(c.observed, 0) AS INTEGER) AS message_count,
                CAST(r.start_timestamp AS INTEGER) AS start_timestamp
         FROM ranges r
         -- IS NOT DISTINCT FROM: a NULL topic (an unparseable message's
         -- stand-in) is a legitimate monitored group — plain equality
         -- never matched it, so its own OBSERVED window read count 0
         LEFT JOIN counts c ON r.topic IS NOT DISTINCT FROM c.topic
                           AND r.start_timestamp = c.start_timestamp
         ORDER BY r.topic, r.start_timestamp""",
    "q_max_offset_fold" ->
      """SELECT event_type, max(event_id) + 1 AS commit_offset, count(*) AS n_messages
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_pk_bounds" ->
      """SELECT min(o_orderkey) AS min_pk, max(o_orderkey) AS max_pk, count(*) AS n_rows
         FROM orders""",
    "q_last_seen" ->
      """SELECT user_id, max(ts) AS last_seen_ts, count(*) AS n_uses
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_priority_head" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate FROM (
           SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderpriority ASC, o_orderdate ASC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey""",
    "q_top_revenue" ->
      s"""SELECT o_custkey,
         CAST(sum(${Micros.sql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
           AS revenue_micros
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_custkey
         ORDER BY revenue_micros DESC, o_custkey ASC
         LIMIT 10""",
    "q_latest_per_user" ->
      """SELECT user_id, event_id, event_type, ts FROM (
           SELECT user_id, event_id, event_type, ts,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "q_set_diff" ->
      """SELECT DISTINCT user_id FROM events
         WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-02 00:00:00'
         EXCEPT
         SELECT DISTINCT user_id FROM events
         WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02 00:00:00'
         ORDER BY user_id""",
    "q_distinct_pairs" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q_field_diff" ->
      """SELECT user_id, event_id, prev_value, value,
                value <> prev_value AS value_changed,
                event_type <> prev_type AS type_changed
         FROM (
           SELECT user_id, event_id, value, event_type, ts,
                  lag(value) OVER w AS prev_value,
                  lag(event_type) OVER w AS prev_type
           FROM events
           WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) t
         WHERE prev_value IS NOT NULL
         ORDER BY user_id, event_id""",
    "q_tailer_projection" ->
      """SELECT event_id, event_type,
                strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_time,
                user_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
           AND ts < TIMESTAMP '2024-01-03 00:00:00'
         ORDER BY event_id
         LIMIT 500""",
    "q_scalar_pack" ->
      """SELECT event_id,
                md5(event_type || ':' || CAST(user_id AS VARCHAR)) AS row_md5,
                upper(event_type) AS type_upper,
                substr(event_type, 1, 3) AS type_prefix,
                CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS prop_k,
                base64(CAST(event_type AS BLOB)) AS type_b64,
                CASE WHEN value > 10.0 THEN 'high' ELSE 'low' END AS value_band
         FROM events
         WHERE event_id < 200
         ORDER BY event_id"""
  )
}
