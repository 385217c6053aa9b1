package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational core operators (SURVEY.md §2 rows 1–14).
  *
  * Design notes for 100 TB scale:
  *  - every query is a declarative DataFrame plan: filters/projections
  *    reach the parquet scan (PushedFilters/ReadSchema), aggregations
  *    get map-side partial aggregation, small dimension tables are
  *    broadcast explicitly;
  *  - floating-point aggregates go through DECIMAL so results are
  *    order-independent (a parallel double sum is not) — the same trick
  *    the DuckDB oracle uses, so results match bit-for-bit;
  *  - no collect(), no UDFs: everything stays inside whole-stage
  *    codegen.
  */
object Relational {

  /** Exact, order-independent sum of a double column: sum as
    * DECIMAL(25,4), surface as double. On a 1000-executor cluster the
    * combine order of partial sums is nondeterministic; decimal makes
    * the result (and the oracle compare) stable.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(25,4)")).cast("double")

  /** Order-independent mean built from the decimal sum. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  // ---------------------------------------------------------------
  // q01: scan → filter → groupBy agg (TPC-H Q1 shape).
  // Mirrors the reference's market-stats style per-segment price
  // aggregation (regex_analyzer.py:968-1000) on the lineitem table.
  // ---------------------------------------------------------------
  def q01(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       GROUP BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------
  // q02: predicate + projection pushdown. The scan must read only 6
  // of 11 lineitem columns and push all three filters (verified via
  // explain in RelationalSpec).
  // ---------------------------------------------------------------
  def q02(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_discount") > lit(0.05) && col("l_quantity") < lit(25.0))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS net_price
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05 AND l_quantity < 25.0"""

  // ---------------------------------------------------------------
  // q03: fact ⋈ broadcast dims → agg. nation (25 rows) and customer
  // (small vs orders) are broadcast — zero shuffle for the join, one
  // shuffle for the final groupBy.
  // ---------------------------------------------------------------
  def q03(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val n = Tables.nation(s, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
  }

  val q03Sql: String =
    """SELECT n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY n_name"""

  // ---------------------------------------------------------------
  // q04: join + agg + global top-N. Spark turns orderBy+limit into
  // TakeOrderedAndProject (no full sort of the agg output).
  // ---------------------------------------------------------------
  def q04(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey").asc)
      .limit(10)
  }

  val q04Sql: String =
    """SELECT c_custkey, c_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total_spent,
       count(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_custkey, c_name
       ORDER BY total_spent DESC, c_custkey LIMIT 10"""

  // ---------------------------------------------------------------
  // q05: window rank per group (top-3 customers by balance per
  // segment). Single shuffle on the partition key.
  // ---------------------------------------------------------------
  def q05(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  val q05Sql: String =
    """SELECT * FROM (
       SELECT c_mktsegment, c_custkey, c_acctbal,
              row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey) AS rn
       FROM customer) t WHERE rn <= 3"""

  // ---------------------------------------------------------------
  // q06: anti join — customers that never ordered (the reference's
  // "seller without sales history" signal, poller.py:695). Broadcast
  // the distinct key set when it is small; at scale Spark picks
  // shuffle-hash anti via AQE.
  // ---------------------------------------------------------------
  def q06(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"), lit("no_urgent").as("bucket"))
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"), lit("has_urgent").as("bucket"))
    anti.union(semi)
  }

  val q06Sql: String =
    """SELECT c_custkey, c_acctbal, 'no_urgent' AS bucket FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
       UNION ALL
       SELECT c_custkey, c_acctbal, 'has_urgent' AS bucket FROM customer
       WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"""

  // ---------------------------------------------------------------
  // q07: distinct + union (dimension value inventory).
  // ---------------------------------------------------------------
  def q07(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir).select(col("c_mktsegment").as("val"))
    val b = Tables.orders(s, dir).select(col("o_orderpriority").as("val"))
    a.union(b).distinct()
  }

  val q07Sql: String =
    """SELECT DISTINCT val FROM (
       SELECT c_mktsegment AS val FROM customer
       UNION ALL SELECT o_orderpriority AS val FROM orders) t"""

  // ---------------------------------------------------------------
  // q08: date histogram (Kibana's main timeline viz:
  // kibana/dashboard_export.ndjson date_histogram agg). Month
  // buckets surface as strings for engine-portable output.
  // ---------------------------------------------------------------
  def q08(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
  }

  val q08Sql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total
       FROM orders GROUP BY 1"""

  // ---------------------------------------------------------------
  // q09: running aggregation over event time per user. The running
  // value goes through DECIMAL so the cumulative sum is exact and
  // engine-independent.
  // ---------------------------------------------------------------
  def q09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("running_value", sum(col("value").cast("decimal(25,4)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("running_value"))
  }

  val q09Sql: String =
    """SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(25,4))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
       FROM events"""

  // ---------------------------------------------------------------
  // q10: gap-based sessionization (30-min inactivity gap), the batch
  // analog of the streaming stateful sessionizer. lag + cumulative
  // flag is the standard single-shuffle formulation.
  // ---------------------------------------------------------------
  def q10(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > lit(1800000000L), 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val q10Sql: String =
    """WITH g AS (
       SELECT user_id,
              CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_session
       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
       FROM g GROUP BY user_id"""

  // ---------------------------------------------------------------
  // q11: exact median per group, computed explicitly from the two
  // middle order statistics — identical double arithmetic in any
  // engine (native median/percentile implementations interpolate
  // with engine-specific FP orderings).
  // ---------------------------------------------------------------
  /** Exact median via value-counts + cumulative-range selection
    * (shared Fraud.groupMedianFromCounts — the combiner-friendly
    * groupBy carries the weight; the window runs over distinct values
    * only. A raw row_number window would sort all rows in as many
    * tasks as there are groups — 3 here — while this shape survives a
    * 100× scale-up). One value-counts shuffle feeds both the median
    * and the group sizes. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("_c")).transform(graft.CacheRegistry.register)
    val med = Fraud.groupMedianFromCounts(counts, Seq("l_returnflag"),
      "l_extendedprice", "median_price")
    val n = counts.groupBy(col("l_returnflag")).agg(sum(col("_c")).as("n"))
    med.join(n, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("median_price"), col("n"))
  }

  val q11Sql: String =
    """WITH r AS (
       SELECT l_returnflag, l_extendedprice,
              row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
              count(*) OVER (PARTITION BY l_returnflag) AS cnt
       FROM lineitem)
       SELECT l_returnflag,
              sum(l_extendedprice) / count(*) AS median_price,
              max(cnt) AS n
       FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
       GROUP BY l_returnflag"""

  // ---------------------------------------------------------------
  // q12: pivot via conditional aggregation (event counts per user
  // bucket by type) — the portable formulation of groupBy().pivot().
  // ---------------------------------------------------------------
  def q12(s: SparkSession, dir: String): DataFrame = {
    def n(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("bucket"))
      .agg(n("click"), n("view"), n("purchase"), n("signup"), n("error"))
  }

  val q12Sql: String =
    """SELECT user_id % 10 AS bucket,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
       FROM events GROUP BY 1"""

  // ---------------------------------------------------------------
  // q13: JSON field extraction from the events props column (the
  // reference ingests semi-structured API JSON; bulk_ingest.py).
  // ---------------------------------------------------------------
  def q13(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
  }

  val q13Sql: String =
    """SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
       FROM events GROUP BY event_type"""

  // ---------------------------------------------------------------
  // q14: rollup (grouping sets) — subtotal + grand-total rows, the
  // shape behind multi-level dashboard summaries.
  // ---------------------------------------------------------------
  def q14(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
  }

  val q14Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  // ---------------------------------------------------------------
  // q15: as-of join — each event aligned to the most recent state
  // change (latest order, deduped per day) of the same user at or
  // before the event time. Formulated as union + running
  // last-non-null over one (user, time)-ordered window: a SINGLE
  // shuffle on the key, no range join and no per-event probe — the
  // shape that survives 100 TB (a range-condition join would
  // quadratically explode on hot keys). Oracle = DuckDB's native
  // ASOF LEFT JOIN.
  // ---------------------------------------------------------------
  def q15(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    // deterministic state-change times inside the event window:
    // day offset = o_orderkey % 30 from 2024-01-01; dedupe ties per
    // (user, day) by max order key
    val states = Tables.orders(s, dir)
      .withColumn("sts", expr(
        "timestampadd(DAY, CAST(o_orderkey % 30 AS INT), TIMESTAMP '2024-01-01')"))
      .groupBy(col("o_custkey").as("user_id"), col("sts"))
      .agg(max(col("o_orderkey")).as("state_id"))
    val tagged = e.select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("kind"), lit(null).cast("long").as("state_id"))
      .unionByName(states.select(col("user_id"), col("sts").as("ts"),
        lit(null).cast("long").as("event_id"), lit(0).as("kind"), col("state_id")))
    // kind 0 < 1 puts a state at exactly the event time BEFORE the
    // event — inclusive (<=) as-of semantics, matching ASOF JOIN
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_state", last(col("state_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("asof_state"))
  }

  val q15Sql: String =
    """WITH states AS (
       SELECT o_custkey AS user_id,
              TIMESTAMP '2024-01-01' + to_days(CAST(o_orderkey % 30 AS INT)) AS sts,
              max(o_orderkey) AS state_id
       FROM orders GROUP BY 1, 2)
       SELECT e.event_id, e.user_id, s.state_id AS asof_state
       FROM events e ASOF LEFT JOIN states s
         ON e.user_id = s.user_id AND e.ts >= s.sts"""

  // ---------------------------------------------------------------
  // q16: interval (range) join — count/sum events falling inside each
  // state's 3-day activity window. Scale shape: the range condition
  // is turned into an equi-join on (user, day-bucket) by exploding
  // each window into its covered day bins (bounded fan-out = window
  // length), then the exact range filter runs on candidates only — no
  // BroadcastNestedLoop/cross product, shuffle is hash(user, day).
  // Oracle = DuckDB's native inequality join.
  // ---------------------------------------------------------------
  def q16(s: SparkSession, dir: String): DataFrame = {
    val WindowDays = 3
    val states = Tables.orders(s, dir)
      .withColumn("sts", expr(
        "timestampadd(DAY, CAST(o_orderkey % 30 AS INT), TIMESTAMP '2024-01-01')"))
      .groupBy(col("o_custkey").as("user_id"), col("sts"))
      .agg(max(col("o_orderkey")).as("state_id"))
    val binned = states.select(col("user_id"), col("sts"), col("state_id"),
      explode(sequence(lit(0), lit(WindowDays - 1))).as("d"))
      .withColumn("day", datediff(to_date(col("sts")), lit("2024-01-01").cast("date")) + col("d"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("day", datediff(to_date(col("ts")), lit("2024-01-01").cast("date")))
    e.join(binned, Seq("user_id", "day"))
      .filter(col("ts") >= col("sts") &&
        col("ts") < expr(s"timestampadd(DAY, $WindowDays, sts)"))
      .groupBy(col("state_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
  }

  val q16Sql: String =
    """WITH states AS (
       SELECT o_custkey AS user_id,
              TIMESTAMP '2024-01-01' + to_days(CAST(o_orderkey % 30 AS INT)) AS sts,
              max(o_orderkey) AS state_id
       FROM orders GROUP BY 1, 2)
       SELECT s.state_id, count(*) AS n_events,
              CAST(sum(CAST(e.value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
       FROM events e JOIN states s
         ON e.user_id = s.user_id
        AND e.ts >= s.sts AND e.ts < s.sts + INTERVAL 3 DAY
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // q17: salted equi-join under pathological key skew. l_returnflag
  // has only 3 values, so a plain shuffle join puts ~1/3 of a 100 TB
  // fact table on ONE reducer each — the exact hot-key case
  // Skew.saltedJoin exists for. The oracle is the PLAIN join: salting
  // must be invisible in the results, bit for bit (the scatter column
  // never changes which rows match, only where they meet).
  // ---------------------------------------------------------------
  def q17(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val dim = li.select(col("l_returnflag")).distinct()
      .withColumn("flag_label", concat(lit("FLAG_"), col("l_returnflag")))
    Skew.saltedJoin(li.select(col("l_returnflag"), col("l_quantity")),
        dim, Seq("l_returnflag"), salt = 8)
      .groupBy(col("flag_label"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
  }

  val q17Sql: String =
    """WITH dim AS (
       SELECT DISTINCT l_returnflag, 'FLAG_' || l_returnflag AS flag_label
       FROM lineitem)
       SELECT flag_label, count(*) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS total_qty
       FROM lineitem JOIN dim USING (l_returnflag)
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // q18: funnel analysis — strictly-ordered step conversion
  // (view → click → purchase per user), the sequence-analytics shape
  // none of the set-oriented aggregations above express: each step's
  // anchor is the EARLIEST qualifying event AFTER the previous step's
  // anchor, so a click before any view doesn't count. Three
  // conditional-min aggregations, each a combiner-friendly per-user
  // groupBy; the step frames shrink monotonically and broadcast into
  // the next step's filter. Time-to-convert stays in exact integer
  // microseconds (unix_micros / epoch_us — engine-portable; a
  // seconds-granularity extract would truncate differently).
  // ---------------------------------------------------------------
  def q18(s: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(s, dir))

  // q30: the conversion-window variant — each step must land within
  // `maxGapUs` of the PREVIOUS step's anchor (the product-analytics
  // "conversion window": a purchase a month after the click isn't
  // attributable to it). Anchoring stays q18's greedy first-touch —
  // t1 is the user's first view, t2 the first in-window click, t3
  // the first in-window purchase — the standard trade (a later view
  // could open a window an earlier one misses; greedy is what every
  // funnel product ships and what the oracle can replay exactly).
  val FunnelMaxGapUs: Long = 7L * 86400L * 1000000L

  def q30(s: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(s, dir), Some(FunnelMaxGapUs))

  /** The funnel over any (user_id, event_type, ts) frame; with
    * `maxGapUs` each step must follow the previous within the gap. */
  def funnel(events: DataFrame,
      maxGapUs: Option[Long] = None): DataFrame = {
    def inWindow(prev: Column): Column = maxGapUs match {
      case None => col("ts") > prev
      case Some(g) => col("ts") > prev &&
        unix_micros(col("ts")) - unix_micros(prev) <= g
    }
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      .transform(graft.CacheRegistry.register)
    val c = e.filter(col("event_type") === "click")
      .join(broadcast(v), "user_id").filter(inWindow(col("t1")))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
      .transform(graft.CacheRegistry.register)
    val p = e.filter(col("event_type") === "purchase")
      .join(broadcast(c.select(col("user_id"), col("t2"))), "user_id")
      .filter(inWindow(col("t2")))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      .join(broadcast(c), "user_id")
      .transform(graft.CacheRegistry.register)
    val nv = v.agg(count(lit(1)).as("users_view"))
    val nc = c.agg(count(lit(1)).as("users_click"))
    val np = p.agg(count(lit(1)).as("users_purchase"),
      sum(unix_micros(col("t3")) - unix_micros(col("t1")))
        .cast("bigint").as("total_convert_us"))
    nv.crossJoin(nc).crossJoin(np)
      .select(col("users_view"), col("users_click"), col("users_purchase"),
        round(col("users_click").cast("double") / col("users_view"), 6)
          .as("view_to_click"),
        round(col("users_purchase").cast("double") / col("users_click"), 6)
          .as("click_to_purchase"),
        col("total_convert_us"))
  }

  val q18Sql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1
             FROM events e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2, min(c.t1) AS t1
             FROM events e JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
       nv AS (SELECT count(*) AS users_view FROM v),
       nc AS (SELECT count(*) AS users_click FROM c),
       np AS (SELECT count(*) AS users_purchase,
                CAST(sum(epoch_us(t3) - epoch_us(t1)) AS BIGINT) AS total_convert_us
              FROM p)
       SELECT users_view, users_click, users_purchase,
         round(CAST(users_click AS DOUBLE)/users_view, 6) AS view_to_click,
         round(CAST(users_purchase AS DOUBLE)/users_click, 6) AS click_to_purchase,
         total_convert_us
       FROM nv CROSS JOIN nc CROSS JOIN np"""

  /** q18's CTEs with the conversion-window predicate on both step
    * joins — otherwise token-for-token identical. */
  val q30Sql: String =
    s"""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1
             FROM events e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t1
               AND epoch_us(e.ts) - epoch_us(v.t1) <= $FunnelMaxGapUs
             GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2, min(c.t1) AS t1
             FROM events e JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t2
               AND epoch_us(e.ts) - epoch_us(c.t2) <= $FunnelMaxGapUs
             GROUP BY 1),
       nv AS (SELECT count(*) AS users_view FROM v),
       nc AS (SELECT count(*) AS users_click FROM c),
       np AS (SELECT count(*) AS users_purchase,
                CAST(sum(epoch_us(t3) - epoch_us(t1)) AS BIGINT) AS total_convert_us
              FROM p)
       SELECT users_view, users_click, users_purchase,
         round(CAST(users_click AS DOUBLE)/users_view, 6) AS view_to_click,
         round(CAST(users_purchase AS DOUBLE)/users_click, 6) AS click_to_purchase,
         total_convert_us
       FROM nv CROSS JOIN nc CROSS JOIN np"""

  // ---------------------------------------------------------------
  // q19: cohort retention — the companion sequence-analytics mart to
  // q18: users grouped by signup week (week of FIRST signup event),
  // activity bucketed into week offsets from the cohort week,
  // retention = active/cohort-size per cell. Pre-signup activity is
  // excluded (it would read as a negative offset). Week offsets are
  // computed as exact integer arithmetic on week-aligned UTC
  // timestamps (both operands date_trunc'd, so the division by
  // 604800000000 us is exact) — engine-portable, no calendar
  // functions whose week conventions could differ.
  // ---------------------------------------------------------------
  private val WeekUs = 7L * 24 * 3600 * 1000000L

  def q19(s: SparkSession, dir: String): DataFrame =
    retention(Tables.events(s, dir))

  /** Weekly retention matrix over any (user_id, event_type, ts)
    * frame. */
  def retention(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val s0 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
      .transform(graft.CacheRegistry.register)
    val act = e.join(broadcast(s0), "user_id")
      .filter(col("ts") >= col("cohort"))
      .select(col("user_id"), col("cohort"),
        ((unix_micros(date_trunc("week", col("ts"))) -
          unix_micros(col("cohort"))) / lit(WeekUs)).cast("long").as("week_n"))
      .distinct()
    val cohorts = s0.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    act.groupBy(col("cohort"), col("week_n"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(cohorts), "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("week_n"), col("active_users"), col("cohort_users"),
        round(col("active_users").cast("double") / col("cohort_users"), 6)
          .as("retention"))
  }

  val q19Sql: String =
    """WITH s AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
              FROM events WHERE event_type = 'signup' GROUP BY 1),
       a AS (SELECT DISTINCT e.user_id, s.cohort,
               CAST((epoch_us(date_trunc('week', e.ts)) - epoch_us(s.cohort))
                    / 604800000000 AS BIGINT) AS week_n
             FROM events e JOIN s ON e.user_id = s.user_id
             WHERE e.ts >= s.cohort),
       c AS (SELECT cohort, count(*) AS cohort_users FROM s GROUP BY 1),
       r AS (SELECT cohort, week_n, count(*) AS active_users FROM a GROUP BY 1, 2)
       SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_week, week_n,
         CAST(active_users AS BIGINT) AS active_users,
         CAST(cohort_users AS BIGINT) AS cohort_users,
         round(CAST(active_users AS DOUBLE)/cohort_users, 6) AS retention
       FROM r JOIN c ON r.cohort = c.cohort"""

  // ---------------------------------------------------------------
  // q20: co-purchase mining — frequent item PAIRS with lift (the
  // market-basket association primitive; support-thresholded pairs +
  // lift = P(a,b)/(P(a)P(b)) is the Apriori k=2 pass, which in
  // practice carries most of the recommendation signal). Pair
  // generation is a self-join on the ORDER key, so the blow-up is
  // bounded by basket size squared per order (baskets are small by
  // nature — TPC-H ≤ 7 lines). The lift arithmetic needs per-item
  // counts only for items that SURVIVE the support threshold, so the
  // catalog-sized itemCnt frame is semi-join-pruned down to pair
  // members BEFORE any broadcast: the support-filtered pair frame is
  // small by construction, so the pruned count frame is ≤ 2·|pairs|
  // rows no matter how large the catalog — broadcasting the full
  // itemCnt would OOM at a 10^8-item catalog. Integer counts
  // end-to-end; lift is the one double, rounded.
  //
  // ADAPTIVE (r15): the prune costs one extra probe join, a fixed
  // ~0.7 s at sf0.1 (isolated 3.3-3.8 s pruned vs ~2.8 s direct) —
  // big-scale insurance a small catalog shouldn't pay. So the prune
  // engages only above CatalogPruneThreshold items, decided from the
  // part table's parquet row count (a metadata-cheap count: the scan
  // materializes zero columns; catalog size upper-bounds |itemCnt|).
  // 1M items ≈ 2×16 MB of broadcast state — comfortably inside a
  // 100 TB driver's broadcast budget; beyond that the pruned frame
  // (≤ 2·|pairs| rows at ANY catalog size) is the only safe
  // broadcast. Both paths produce identical rows (spec-pinned).
  // ---------------------------------------------------------------

  val MinSupport = 3
  val CatalogPruneThreshold = 1000000L

  def q20(s: SparkSession, dir: String): DataFrame =
    q20Adaptive(s, dir, CatalogPruneThreshold)

  def q20Adaptive(s: SparkSession, dir: String, pruneAbove: Long): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .repartition(col("ok"))
      .transform(graft.CacheRegistry.register)
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= MinSupport)
      .transform(graft.CacheRegistry.register) // consumed 3× below
    val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    // catalog size from parquet metadata only (no columns read): one
    // footer-cheap Spark job per call, so the prune decision always
    // reflects the catalog as it is read now
    val catalogItems = Tables.part(s, dir).count()
    // semi-prune: distinct pair members (small) broadcast INTO the
    // catalog-scale count frame; only the surviving counts broadcast.
    // Below the threshold the full itemCnt is broadcast-safe as-is
    // and the probe join would be pure overhead.
    val prunedCnt = if (catalogItems > pruneAbove) {
      val pairParts = pairs.select(col("pa").as("pk"))
        .union(pairs.select(col("pb").as("pk"))).distinct()
      itemCnt.join(broadcast(pairParts), "pk")
    } else itemCnt
    val total = li.agg(count_distinct(col("ok")).as("n_tx"))
    pairs
      .join(broadcast(prunedCnt.select(col("pk").as("pa"), col("cnt").as("ca"))), "pa")
      .join(broadcast(prunedCnt.select(col("pk").as("pb"), col("cnt").as("cb"))), "pb")
      .crossJoin(broadcast(total))
      .select(col("pa"), col("pb"), col("n_orders"),
        round(col("n_orders").cast("double") * col("n_tx") /
          (col("ca") * col("cb")), 6).as("lift"))
  }

  val q20Sql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       p AS (SELECT a.ok, a.pk AS pa, b.pk AS pb
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       c AS (SELECT pa, pb, count(*) AS n_orders FROM p
             GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
       ic AS (SELECT pk, count(*) AS cnt FROM li GROUP BY 1),
       t AS (SELECT count(DISTINCT ok) AS n_tx FROM li)
       SELECT pa, pb, CAST(n_orders AS BIGINT) AS n_orders,
         round(CAST(n_orders AS DOUBLE) * n_tx / (ia.cnt * ib.cnt), 6) AS lift
       FROM c JOIN ic ia ON c.pa = ia.pk JOIN ic ib ON c.pb = ib.pk
       CROSS JOIN t"""

  // ---------------------------------------------------------------
  // q21: explicit GROUPING SETS — the multi-grain report q14's
  // cube/rollup can't express: exactly three grains in ONE pass
  // (status, priority, grand total — NOT the status×priority cross
  // that cube would add), disambiguated by grouping flags so a NULL
  // group value and a rolled-up grain stay distinct. One expand +
  // one shuffle; money summed through DECIMAL (q01 rule).
  // ---------------------------------------------------------------
  def q21(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))

  val q21Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

  // ---------------------------------------------------------------
  // q22: time-RANGE sliding window — the trailing-interval frame q09
  // (rows-based running total) can't express: per order, the count
  // and spend of the SAME customer over the preceding 7 days of
  // EVENT TIME, duplicate dates included as peers. RANGE frames are
  // the window surface AQE can't rewrite away and the one a velocity
  // / trailing-exposure report actually needs (a rows-frame is wrong
  // the moment a customer places two orders on one day). Frame
  // bounds ride on epoch seconds in both engines; money through
  // DECIMAL (q01 rule).
  // ---------------------------------------------------------------
  /** Trailing 7-day RANGE frame over any orders-shaped frame. */
  def slidingWindow(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-6L * 86400, 0)
    orders
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        count(lit(1)).over(w).as("n_7d"),
        sum(col("o_totalprice").cast("decimal(25,4)")).over(w)
          .cast("double").as("spend_7d"))
  }

  def q22(s: SparkSession, dir: String): DataFrame =
    slidingWindow(Tables.orders(s, dir))

  val q22Sql: String =
    """SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS day,
       count(*) OVER w AS n_7d,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE) AS spend_7d
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)"""

  // ---------------------------------------------------------------
  // q23: INTERSECT / EXCEPT — the set-operator surface q07's
  // distinct-union doesn't cover, with their bag-semantics subtlety
  // pinned: both are DISTINCT set ops (Spark intersect/except ==
  // SQL INTERSECT/EXCEPT). Customers active in BOTH halves of the
  // order history vs only the first half, labeled and unioned so one
  // face exercises both operators. Each set op is one shuffle on the
  // key; Spark plans them as left-semi/left-anti over distincts.
  // ---------------------------------------------------------------
  def q23(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cut = lit("1997-01-01").cast("timestamp")
    val early = o.filter(col("o_orderdate") < cut).select(col("o_custkey"))
    val late = o.filter(col("o_orderdate") >= cut).select(col("o_custkey"))
    early.intersect(late)
      .select(col("o_custkey"), lit("both_halves").as("cohort"))
      .union(early.except(late)
        .select(col("o_custkey"), lit("early_only").as("cohort")))
  }

  val q23Sql: String =
    """WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
       late AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
       SELECT o_custkey, 'both_halves' AS cohort FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
       UNION ALL
       SELECT o_custkey, 'early_only' AS cohort FROM (SELECT * FROM early EXCEPT SELECT * FROM late)"""

  // ---------------------------------------------------------------
  // q24: equi-depth decile profile — ntile, the remaining stock
  // window function family (q05 row_number, q09 running, q22 RANGE):
  // each priority class's order totals cut into 10 equal-count
  // buckets with per-bucket count/min/max/sum — the equi-DEPTH
  // histogram (f18's fixed ranges are equi-WIDTH), i.e. the quantile
  // banding a pricing dashboard reads. Total tie-break (price, key)
  // makes bucket membership deterministic in both engines.
  // ---------------------------------------------------------------
  def q24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        dsum(col("o_totalprice")).as("total"))
  }

  val q24Sql: String =
    """WITH d AS (SELECT o_orderpriority, o_totalprice,
                CAST(ntile(10) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
              FROM orders)
       SELECT o_orderpriority, decile, count(*) AS n,
         min(o_totalprice) AS lo, max(o_totalprice) AS hi,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total
       FROM d GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // q25: UNPIVOT — the inverse of q12's pivot and the remaining
  // reshape primitive: lineitem's three charge measures melted to
  // (measure, value) rows, then aggregated per measure. Spark plans
  // Dataset.unpivot as a single Expand (one pass, no union of
  // scans — the q21 machinery reused for reshaping); the oracle
  // replays with UNION ALL, pinning the same row multiplication.
  // ---------------------------------------------------------------
  def q25(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))

  val q25Sql: String =
    """WITH m AS (
       SELECT l_returnflag, 'l_extendedprice' AS measure, l_extendedprice AS value FROM lineitem
       UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
       UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
       SELECT l_returnflag, measure, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total
       FROM m GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // q26: full-outer reconciliation — the audit join q06's semi/anti
  // pair can't express in one pass: customers' account balances vs
  // their aggregated order spend, with a three-way match status
  // (both / customer_only / orders_only). FULL OUTER keeps BOTH
  // unmatched sides — the shape every ledger/migration reconciliation
  // report takes. One aggregation + one full-outer shuffle join.
  // ---------------------------------------------------------------
  def q26(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_acctbal"))
    val o = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("spend"),
        count(lit(1)).as("n_orders"))
      .filter(col("spend") > 600000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_acctbal"), col("spend"), col("n_orders"),
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("c_custkey").isNotNull, "customer_only")
          .otherwise("orders_only").as("status"))
  }

  val q26Sql: String =
    """WITH c AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0),
       o AS (SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS spend,
               count(*) AS n_orders
             FROM orders GROUP BY 1 HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) > 600000.0)
       SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal, spend, n_orders,
         CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
              WHEN c_custkey IS NOT NULL THEN 'customer_only'
              ELSE 'orders_only' END AS status
       FROM c FULL OUTER JOIN o ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------
  // q29: audience-overlap matrix — pairwise set intersections between
  // event-type audiences. The sketch family counts audiences (f27
  // HLL) but nothing INTERSECTS them; overlap is the standard
  // segmentation/attribution question ("how much of `purchase` is
  // inside `click`?") and HLLs famously can't intersect — inclusion-
  // exclusion on merged sketches explodes the relative error, so the
  // exact set algebra is its own operator.
  //
  // Scale: one distinct over (type, user) — a single combiner-
  // friendly shuffle; the user-keyed self-join fans out at most T²
  // rows per user for T event types (T is small and fixed — the fan
  // is bounded by the TYPE cardinality squared, not the data), and
  // the (type_a, type_b) aggregate collapses it map-side to ≤ T²
  // groups. The T-row size frame broadcasts twice. Pairs sharing no
  // user are absent by inner-join semantics (no zero rows).
  // ---------------------------------------------------------------
  def q29(s: SparkSession, dir: String): DataFrame =
    audienceOverlap(Tables.events(s, dir))

  /** Pairwise (type_a < type_b) audience overlaps of an (event_type,
    * user_id) frame: (type_a, type_b, n_a, n_b, n_common, jaccard). */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val aud = events
      .select(col("event_type"), col("user_id")).distinct()
      .transform(graft.CacheRegistry.register) // (type, user), used 3×
    val sizes = aud.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    aud.select(col("event_type").as("type_a"), col("user_id"))
      .join(aud.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  val q29Sql: String =
    """WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
       sizes AS (SELECT event_type, count(*) AS n FROM aud GROUP BY 1),
       inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_common
                 FROM aud a JOIN aud b
                   ON a.user_id = b.user_id AND a.event_type < b.event_type
                 GROUP BY 1, 2)
       SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
         round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
           AS jaccard
       FROM inter JOIN sizes sa ON type_a = sa.event_type
       JOIN sizes sb ON type_b = sb.event_type"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_funnel_window" -> (q30 _),
    "q29_audience_overlap" -> (q29 _),
    "q25_unpivot" -> (q25 _),
    "q26_reconcile" -> (q26 _),
    "q24_ntile_deciles" -> (q24 _),
    "q23_set_ops" -> (q23 _),
    "q22_sliding_window" -> (q22 _),
    "q21_grouping_sets" -> (q21 _),
    "q18_funnel" -> (q18 _),
    "q19_retention" -> (q19 _),
    "q20_copurchase" -> (q20 _),
    "q15_asof_join" -> (q15 _),
    "q16_interval_join" -> (q16 _),
    "q17_skew_salted_join" -> (q17 _),
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_join_agg" -> (q03 _),
    "q04_top_n" -> (q04 _),
    "q05_window_rank" -> (q05 _),
    "q06_semi_anti" -> (q06 _),
    "q07_distinct_union" -> (q07 _),
    "q08_date_histogram" -> (q08 _),
    "q09_running_window" -> (q09 _),
    "q10_sessionize" -> (q10 _),
    "q11_percentiles" -> (q11 _),
    "q12_pivot" -> (q12 _),
    "q13_json_extract" -> (q13 _),
    "q14_cube_rollup" -> (q14 _))

  val oracles: Map[String, String] = Map(
    "q30_funnel_window" -> q30Sql,
    "q29_audience_overlap" -> q29Sql,
    "q25_unpivot" -> q25Sql,
    "q26_reconcile" -> q26Sql,
    "q24_ntile_deciles" -> q24Sql,
    "q23_set_ops" -> q23Sql,
    "q22_sliding_window" -> q22Sql,
    "q21_grouping_sets" -> q21Sql,
    "q18_funnel" -> q18Sql,
    "q19_retention" -> q19Sql,
    "q20_copurchase" -> q20Sql,
    "q15_asof_join" -> q15Sql,
    "q16_interval_join" -> q16Sql,
    "q17_skew_salted_join" -> q17Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_agg" -> q03Sql,
    "q04_top_n" -> q04Sql,
    "q05_window_rank" -> q05Sql,
    "q06_semi_anti" -> q06Sql,
    "q07_distinct_union" -> q07Sql,
    "q08_date_histogram" -> q08Sql,
    "q09_running_window" -> q09Sql,
    "q10_sessionize" -> q10Sql,
    "q11_percentiles" -> q11Sql,
    "q12_pivot" -> q12Sql,
    "q13_json_extract" -> q13Sql,
    "q14_cube_rollup" -> q14Sql)
}
