package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import Exact._

/** Relational operator surface: scans, filters, joins (broadcast / semi /
  * anti / range / as-of), aggregations (hash, distinct, rollup / cube /
  * grouping sets), window functions (ranking / analytic / frames), sorts,
  * limits, set operations, scalar function library, and batch restatements
  * of the event-time operators.
  *
  * The reference pipeline (`/root/reference`, see SURVEY.md §2.9) contains
  * none of these — they are the north-star analytic surface this engine
  * exposes on top of Spark's Catalyst operators. Each entry is deliberately
  * declarative DataFrame code: filters sit directly on the parquet scans
  * (predicate pushdown), projections are minimal (column pruning), small
  * dimensions are broadcast explicitly, and no query collects to the driver.
  *
  * Scale notes (100 TB thinking):
  *  - every join keys on the natural equi-key so Spark can pick
  *    broadcast/SMJ via AQE; dimension tables are hinted `broadcast()`;
  *  - window queries partition by high-cardinality keys (supplier,
  *    customer, user) — no global windows anywhere;
  *  - the as-of join is the linear union+window formulation, not the
  *    quadratic join+filter one (that one only appears in the DuckDB oracle
  *    where input is small).
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q01
    // Full-scan hash aggregation with exact-decimal sums (TPC-H Q1 shape).
    QueryDef(
      "q01_pricing_summary",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
        l.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))
              .cast(DoubleType).as("sum_disc_price"),
            sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount")))
              * (one + rate(col("l_tax")))).cast(DoubleType).as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---------------------------------------------------------------- q02
    // Selective scan: predicate + projection must reach the parquet reader
    // (PushedFilters / 4-column ReadSchema in the formatted plan).
    QueryDef(
      "q02_filter_pushdown",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
            && col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber""")),

    // ---------------------------------------------------------------- q03
    // 3-way join + aggregation + top-k (TPC-H Q3 shape). Customer dimension
    // is broadcast; lineitem-orders is the shuffle join on the fact key.
    QueryDef(
      "q03_topk_revenue",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        // customer scales with SF — no broadcast hint; AQE picks
        // broadcast-vs-shuffle from runtime stats (tiny at low SF,
        // shuffle join at 100 TB where a forced broadcast would OOM).
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_odate"),
            col("o_orderpriority"))
          .agg(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_odate, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10""")),

    // ---------------------------------------------------------------- q04
    // Left-semi join (EXISTS): orders having any heavy lineitem.
    QueryDef(
      "q04_priority_exists",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1997)
        val l = t(s, dir, "lineitem")
          .filter(col("l_quantity") > 45).select("l_orderkey")
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE year(o_orderdate) = 1997
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q05
    // Left-anti join (NOT EXISTS): customers that never ordered.
    QueryDef(
      "q05_customers_no_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---------------------------------------------------------------- q06
    // Tight-range scan aggregation (TPC-H Q6 shape) — single-row result.
    QueryDef(
      "q06_forecast_revenue",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .agg(
            sum(dec2(col("l_extendedprice")) * rate(col("l_discount")))
              .cast(DoubleType).as("revenue"),
            count(lit(1)).as("n_items")),
      Some("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")),

    // ---------------------------------------------------------------- q07
    // 6-table star join (TPC-H Q5 shape): all dimensions broadcast, the
    // only shuffle joins are on the fact keys.
    QueryDef(
      "q07_region_nation_revenue",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        // customer/supplier scale with SF → no forced broadcast (AQE
        // decides); nation/region are fixed-size → explicit broadcast.
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup,
            l("l_suppkey") === sup("s_suppkey")
              && c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""")),

    // ---------------------------------------------------------------- q08
    // Ranking window: top-3 orders per customer (row_number, deterministic
    // tiebreak on the key).
    QueryDef(
      "q08_window_topn_per_customer",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("""
        SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) q
        WHERE rn <= 3
        ORDER BY o_custkey, rn""")),

    // ---------------------------------------------------------------- q09
    // Frame window: per-supplier running total (ROWS UNBOUNDED PRECEDING),
    // exact-decimal accumulation.
    QueryDef(
      "q09_window_running_total",
      (s, dir) => {
        // (l_orderkey, l_linenumber) is NOT unique in the driver's
        // fixtures (~20% of rows sit in duplicate groups that differ in
        // quantity/price), so a ROWS running sum needs the full
        // value tiebreak or the intra-tie order — and the running total
        // at the first of the pair — is engine-dependent (caught live
        // at sf0.1: one row differed by exactly the duplicate's
        // quantity). (ok, ln, qty, price) is verified unique.
        val w = Window.partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "lineitem")
          .withColumn("running_qty", sum(dec2(col("l_quantity"))).over(w).cast(DoubleType))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                    OVER (PARTITION BY l_suppkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                   l_quantity, l_extendedprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        FROM lineitem
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ---------------------------------------------------------------- q10
    // Analytic window: lag() inter-event gap per user, exact µs integers.
    QueryDef(
      "q10_window_lag_gap",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, dir)
          .withColumn("prev_us", lag("ts_us", 1).over(w))
          .withColumn("gap_us", col("ts_us") - col("prev_us"))
          .select("user_id", "event_id", "ts_us", "gap_us")
          .orderBy("user_id", "ts_us", "event_id")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                   FROM events)
        SELECT user_id, event_id, ts_us,
               ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS gap_us
        FROM e
        ORDER BY user_id, ts_us, event_id""")),

    // ---------------------------------------------------------------- q11
    // Global sort + limit (top-k by value, deterministic tiebreaks).
    QueryDef(
      "q11_sort_limit",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
          // l_quantity completes the tiebreak: duplicate (ok, ln) pairs
          // exist in the fixtures and the limit boundary must not let
          // two engines pick different members of a tie
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"), col("l_quantity"))
          .limit(20),
      Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_quantity
        LIMIT 20""")),

    // ---------------------------------------------------------------- q12
    // Set operations: UNION / INTERSECT / EXCEPT over nation keys.
    QueryDef(
      "q12_set_ops",
      (s, dir) => {
        val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
        cn.union(sn).distinct().withColumn("op", lit("union"))
          .unionByName(cn.intersect(sn).withColumn("op", lit("intersect")))
          .unionByName(cn.except(sn).withColumn("op", lit("except")))
          .select("op", "nationkey")
          .orderBy("op", "nationkey")
      },
      Some("""
        WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
             sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        SELECT 'union' AS op, nationkey FROM (SELECT * FROM cn UNION SELECT * FROM sn)
        UNION ALL
        SELECT 'intersect' AS op, nationkey FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
        UNION ALL
        SELECT 'except' AS op, nationkey FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
        ORDER BY op, nationkey""")),

    // ---------------------------------------------------------------- q13
    QueryDef(
      "q13_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---------------------------------------------------------------- q14
    QueryDef(
      "q14_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // ---------------------------------------------------------------- q15
    QueryDef(
      "q15_grouping_sets",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
        s.sql("""
          SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
          FROM graft_lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---------------------------------------------------------------- q16
    // Scalar string/date function library.
    QueryDef(
      "q16_string_date_fns",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            upper(col("o_orderstatus")).as("u_status"),
            lower(col("o_orderpriority")).as("l_pri"),
            substring(col("o_orderpriority"), 1, 1).as("pri_code"),
            length(col("o_orderpriority")).as("pri_len"),
            concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            dayofmonth(col("o_orderdate")).as("dom"),
            col("o_orderdate").cast("date").as("odate"))
          .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               upper(o_orderstatus) AS u_status,
               lower(o_orderpriority) AS l_pri,
               substring(o_orderpriority, 1, 1) AS pri_code,
               length(o_orderpriority) AS pri_len,
               concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(day(o_orderdate) AS INTEGER) AS dom,
               CAST(o_orderdate AS DATE) AS odate
        FROM orders
        ORDER BY o_orderkey""")),

    // ---------------------------------------------------------------- q17
    // Scalar math functions (only IEEE-exact ops: abs/floor/ceil/sqrt/mod).
    QueryDef(
      "q17_math_fns",
      (s, dir) =>
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            abs(col("c_acctbal")).as("abs_bal"),
            floor(col("c_acctbal")).as("floor_bal"),
            ceil(col("c_acctbal")).as("ceil_bal"),
            sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
            (col("c_custkey") % 7).as("mod7"),
            greatest(col("c_acctbal"), lit(0.0)).as("pos_bal"),
            least(col("c_acctbal"), lit(0.0)).as("neg_bal"))
          .orderBy("c_custkey"),
      Some("""
        SELECT c_custkey,
               abs(c_acctbal) AS abs_bal,
               CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
               CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
               sqrt(abs(c_acctbal)) AS sqrt_bal,
               c_custkey % 7 AS mod7,
               greatest(c_acctbal, 0.0) AS pos_bal,
               least(c_acctbal, 0.0) AS neg_bal
        FROM customer
        ORDER BY c_custkey""")),

    // ---------------------------------------------------------------- q18
    // JSON extraction + aggregation over the events props column.
    QueryDef(
      "q18_json_fns",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---------------------------------------------------------------- q19
    // Event-time tumbling window (batch restatement; the streaming twin is
    // s01_stream_tumbling_window).
    QueryDef(
      "q19_event_tumbling_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts_t"), "1 hour"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("window.start")).as("ws_us"),
            col("n_events"), col("sum_value"))
          .orderBy("ws_us"),
      Some(tumblingWindowOracle)),

    // ---------------------------------------------------------------- q20
    // Batch sessionization: 10-minute inactivity gap, pure integer µs math.
    QueryDef(
      "q20_sessionization",
      (s, dir) => {
        val gapUs = 600L * 1000000L
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val cum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("new_sess",
            when(lag("ts_us", 1).over(w).isNull
              || col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("session_id", sum("new_sess").over(cum))
          .groupBy("user_id", "session_id")
          .agg(
            count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"),
            max("ts_us").as("end_us"),
            dsum(col("value")).as("sum_value"))
          .orderBy("user_id", "session_id")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, value,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                   FROM events),
        g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                              OR ts_us - lag(ts_us) OVER w > 600000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sg AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM g)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM sg
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // ---------------------------------------------------------------- q21
    // Multi-column exact distinct aggregation.
    QueryDef(
      "q21_distinct_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(col("l_partkey")).as("n_part"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey)  AS n_supp,
               COUNT(DISTINCT l_partkey)  AS n_part,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q22
    // rank() with real ties (price-only ordering) — deterministic because
    // equal ranks are whole groups; output tiebreak on partkey.
    QueryDef(
      "q22_rank_parts",
      (s, dir) => {
        val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
        t(s, dir, "part")
          .withColumn("rnk", rank().over(w))
          .filter(col("rnk") <= 2)
          .select("p_brand", "rnk", "p_partkey", "p_retailprice")
          .orderBy("p_brand", "rnk", "p_partkey")
      },
      Some("""
        SELECT p_brand, rnk, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk
          FROM part) q
        WHERE rnk <= 2
        ORDER BY p_brand, rnk, p_partkey""")),

    // ---------------------------------------------------------------- q23
    // Range-predicate join: lineitems shipped within 30 days of the order
    // date (equi-key + range residual — stays a hash join on l_orderkey).
    QueryDef(
      "q23_range_join",
      (s, dir) => {
        val spanUs = 30L * 86400L * 1000000L
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        // parquet ms-timestamps surface as TIMESTAMP_NTZ; session TZ is UTC so
        // the cast to TIMESTAMP is an exact reinterpretation.
        val shipUs = unix_micros(col("l_shipdate").cast("timestamp"))
        val orderUs = unix_micros(col("o_orderdate").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey")
            && shipUs >= orderUs && shipUs - orderUs <= spanUs)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_fast_items"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_fast_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         AND epoch_us(l_shipdate) >= epoch_us(o_orderdate)
         AND epoch_us(l_shipdate) - epoch_us(o_orderdate) <= 2592000000000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q24
    // As-of join: each purchase matched to the user's most recent view at
    // or before it. Implemented linearly (union + last() over an ordered
    // window) — the scalable formulation; the oracle uses the quadratic
    // join+qualify form, fine at oracle scale.
    QueryDef(
      "q24_asof_join",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("view_event_id",
            last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
          .withColumn("view_ts_us",
            last(when(col("event_type") === "view", col("ts_us")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us", "view_event_id", "view_ts_us")
          .orderBy("event_id")
      },
      Some("""
        WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events WHERE event_type = 'purchase'),
             v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events WHERE event_type = 'view')
        SELECT event_id, user_id, ts_us, view_event_id, view_ts_us FROM (
          SELECT p.event_id, p.user_id, p.us AS ts_us,
                 v.event_id AS view_event_id, v.us AS view_ts_us,
                 row_number() OVER (PARTITION BY p.event_id
                                    ORDER BY v.us DESC NULLS LAST, v.event_id DESC) AS rn
          FROM p LEFT JOIN v ON p.user_id = v.user_id
                            AND (v.us < p.us OR (v.us = p.us AND v.event_id < p.event_id))) q
        WHERE rn = 1
        ORDER BY event_id""")),

    // ---------------------------------------------------------------- q88
    // Recursive CTE (Spark 4's WITH RECURSIVE → UnionLoop): each
    // customer's orders form a date-ordered chain; the recursion walks
    // successor edges from every chain head, depth+1 per step. The
    // oracle verifies the recursion against its CLOSED FORM — depth of
    // the k-th order is k — so a recursion that drops, duplicates, or
    // re-visits rows cannot hash-match. Recursion depth = max orders
    // per customer (bounded per key, ~25 here, independent of corpus
    // size). The edge and root tables are PERSISTED before the loop:
    // UnionLoop re-evaluates every non-recursive input each iteration,
    // so an inline edges CTE would re-run the row_number window + self
    // join ~25 times (measured 17.9 s → the cached form each iteration
    // only joins the frontier against an InMemoryRelation) — the same
    // materialize-the-invariant discipline as q50's loop.
    QueryDef(
      "q88_recursive_order_chain",
      (caller, dir) => {
        // a sibling session carries the recursion limit and the temp
        // views below: the returned frame executes after this function
        // returns, so neither may be set on (or leak into) the caller's
        val s = graft.GraftSession.sibling(caller)
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val seq = Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).as("rn"))
        val cached = seq
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = cached.select(col("o_custkey"), col("o_orderkey").as("prev_ok"),
          col("rn"))
        val b = cached.select(col("o_custkey").as("ck2"), col("o_orderkey").as("ok"),
          col("rn").as("rn2"))
        // NOTE (r14): measured alternatives to the per-iteration
        // BroadcastHashJoin of this cached edge table — pre-partitioning
        // by prev_ok + SHUFFLE_HASH(e) (8.5 s) and SHUFFLE_HASH(c)
        // (7.0 s) — are both ~2× SLOWER than re-broadcasting the cached
        // edges each iteration (4.5-5 s): per-iteration exchanges plus
        // 32-task scheduling beat the ~0.1 s broadcast rebuild at this
        // frontier size. Kept the broadcast form.
        //
        // 2-HOP recursion step (r15, VERDICT r14 item 6): with the join
        // strategy adjudicated optimal, the remaining cost is the
        // ITERATION COUNT itself — UnionLoop pays a full driver round
        // (frontier materialization + broadcast rebuild + job) per
        // iteration, ~25 of them here, and more cores buy nothing
        // (scaling ratio 0.92 at 8→32). The recursion now walks the
        // COMPOSED 2-hop successor table: seeds are positions 1 AND 2
        // (the depth-2 seed is roots ⋈ 1-hop edges, one batch join),
        // each step advances +2, odd depths descend from seed 1 and
        // even depths from seed 2, and every order still appears at
        // EXACTLY its chain position because customer chains are linear
        // (one successor per parity). Iterations halve (≈13 for the
        // same max depth); the emitted (ok, depth) multiset — and the
        // oracle — are unchanged. e2 is |e|-sized or smaller (chains
        // drop their last edge per parity), so storage does not grow.
        val e1 =
          a.join(b, col("o_custkey") === col("ck2") && col("rn2") === col("rn") + 1)
            .select("prev_ok", "ok")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        e1.join(e1.select(col("prev_ok").as("mid"), col("ok").as("ok2")),
            col("ok") === col("mid"))
          .select(col("prev_ok"), col("ok2").as("ok"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .createOrReplaceTempView("graft_rec_edges2")
        val roots1 = cached.filter(col("rn") === 1)
          .select(col("o_orderkey").as("ok"), lit(1).as("depth"))
        val seeds2 = roots1.select(col("ok").as("prev_ok"))
          .join(e1, "prev_ok")
          .select(col("ok"), lit(2).as("depth"))
        // seeds persist like the edges: UnionLoop re-evaluates every
        // non-recursive input each iteration (the q50 lesson above)
        roots1.unionByName(seeds2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .createOrReplaceTempView("graft_rec_seeds")
        // Spark's cteRecursionRowLimit guard (default 1e6) is a
        // per-job knob, not a plan property: the chain's cumulative
        // output is EXACTLY |orders| (each order appears at one
        // depth), so size it to the input with headroom — at sf1 the
        // default guard fired at 1.5 M orders (the r14 sf1 gate's
        // first catch); a production backfill sets it the same way.
        val nOrders = cached.count() // bounded: row count of the persisted invariant (driver scalar)
        s.conf.set("spark.sql.cteRecursionRowLimit",
          math.max(1000000L, 2L * nOrders).toString)
        s.sql("""
          WITH RECURSIVE
          chain(ok, depth) AS (
            SELECT ok, depth FROM graft_rec_seeds
            UNION ALL
            SELECT e.ok, c.depth + 2
            FROM chain c JOIN graft_rec_edges2 e ON e.prev_ok = c.ok)
          SELECT depth, COUNT(*) AS n_orders, SUM(ok) AS keys_checksum
          FROM chain
          GROUP BY depth
          ORDER BY depth""")
      },
      Some("""
        WITH seq AS (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
        SELECT CAST(rn AS INT) AS depth, COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS keys_checksum
        FROM seq
        GROUP BY rn
        ORDER BY depth"""))
  ,

    // --------------------------------------------------------------- q150
    // Analytic-function breadth: percent_rank / cume_dist / ntile /
    // nth_value in one keyed pass — the remaining stock window
    // functions the q08-q10/q22 family doesn't exercise. The full
    // (value, event_id) ordering is unique, so rank-based functions
    // are tie-free and deterministic; percent_rank and cume_dist are
    // each ONE IEEE division of two exact integers (no sum ordering —
    // bit-identical across engines); nth_value's default running frame
    // is the same in both. Output thins to a deterministic 1-in-199
    // event sample AFTER the windows compute (the windows must see
    // every row). One event_type exchange carries all four functions.
    QueryDef(
      "q150_analytic_functions",
      (s, dir) => {
        val w = EventAnalytics.byCents
        EventAnalytics.eventCents(s, dir)
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("second_lowest", nth_value(col("vc"), 2).over(w))
          .filter(col("event_id") % 199 === 0)
          .select("event_type", "event_id", "vc", "pr", "cd",
            "quartile", "second_lowest")
          .orderBy("event_type", "event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        r AS (
          SELECT event_type, event_id, vc,
                 percent_rank() OVER w AS pr,
                 cume_dist() OVER w AS cd,
                 CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                 nth_value(vc, 2) OVER (PARTITION BY event_type
                   ORDER BY vc, event_id
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS second_lowest
          FROM e
          WINDOW w AS (PARTITION BY event_type ORDER BY vc, event_id))
        SELECT event_type, event_id, vc, pr, cd, quartile, second_lowest
        FROM r
        WHERE event_id % 199 = 0
        ORDER BY event_type, event_id"""))
  ,

    // --------------------------------------------------------------- q153
    // LATERAL correlated subquery (Spark 4 SQL surface): each nation's
    // top-2 customers by balance via a correlated per-row subquery —
    // the SQL spelling analysts port from Postgres/DuckDB, planned by
    // Catalyst as DecorrelateInnerQuery → ranked window (the same
    // physical shape as q08's window top-k, NOT one subquery execution
    // per outer row). Exercises the sql() entry path and the
    // decorrelation rule; balances in integer cents via the DECIMAL
    // discipline, full-key deterministic ordering inside the lateral.
    QueryDef(
      "q153_lateral_topk",
      (s, dir) => {
        t(s, dir, "nation").createOrReplaceTempView("graft_nation")
        t(s, dir, "customer").createOrReplaceTempView("graft_customer")
        s.sql("""
          SELECT n.n_name AS nation, top.c_custkey,
                 top.bal_cents
          FROM graft_nation n,
          LATERAL (
            SELECT c_custkey,
                   cast(cast(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                     AS bal_cents
            FROM graft_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY bal_cents DESC, c_custkey
            LIMIT 2
          ) AS top
          ORDER BY nation, bal_cents DESC, c_custkey""")
      },
      Some("""
        SELECT n.n_name AS nation, top.c_custkey, top.bal_cents
        FROM nation n,
        LATERAL (
          SELECT c_custkey,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS bal_cents
          FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY bal_cents DESC, c_custkey
          LIMIT 2
        ) AS top
        ORDER BY nation, bal_cents DESC, c_custkey"""))
  ,

    // --------------------------------------------------------------- q154
    // ABC / Pareto classification — the merchandising contribution
    // analysis: parts classed A (first 80% of cumulative revenue),
    // B (next 15%), C (tail) by exact cumulative revenue share.
    // Revenue reduces per part FIRST (map-side combined); the global
    // running sum over (rev desc, part) then DECOMPOSES q130/q139
    // style — parts land in ~33 revenue bands, per-band totals
    // broadcast as prefix offsets via a bounded theta self-join, and
    // the within-band prefix rides a band-KEYED window. No
    // single-partition window at the part grain (parts scale with the
    // corpus). The oracle states the contract with the plain global
    // window. Output is the per-class rollup.
    QueryDef(
      "q154_abc_classification",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rev =
          t(s, dir, "lineitem")
            .groupBy(col("l_partkey").as("part"))
            .agg(expr(
              "sum(cast(cast(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))")
              .as("rev"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = rev.agg(sum("rev").as("tot"), max("rev").as("mx"))
        // ~33 ordered revenue bands; width from the broadcast max so the
        // band id is a pure narrow map (band 0 holds the richest parts)
        val banded = rev.join(broadcast(stats), lit(true))
          .withColumn("band", expr("(mx - rev) div (mx div 32 + 1)"))
        val bandTot = banded.groupBy("band").agg(sum("rev").as("band_rev"))
        val offsets = bandTot.as("a")
          .join(bandTot.as("b"), col("b.band") < col("a.band"), "left")
          .groupBy(col("a.band").as("band"))
          .agg(coalesce(sum(col("b.band_rev")), lit(0L)).as("offset"))
        val w = Window.partitionBy("band")
          .orderBy(col("rev").desc, col("part"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        banded
          .withColumn("cumb", sum("rev").over(w))
          .join(broadcast(offsets), "band")
          .withColumn("cum", col("cumb") + col("offset"))
          .withColumn("cls",
            when(expr("(cum - rev) * 100 < tot * 80"), "A")
              .when(expr("(cum - rev) * 100 < tot * 95"), "B")
              .otherwise("C"))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_rev"),
            max("cum").as("cum_end"))
          .orderBy("cls")
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey AS part,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                               AS BIGINT)) AS BIGINT) AS rev
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM rev),
        c AS (
          SELECT part, rev,
                 SUM(rev) OVER (ORDER BY rev DESC, part
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM rev),
        k AS (
          SELECT part, rev, cum,
                 CASE WHEN (cum - rev) * 100 < (SELECT tot FROM t) * 80
                        THEN 'A'
                      WHEN (cum - rev) * 100 < (SELECT tot FROM t) * 95
                        THEN 'B'
                      ELSE 'C' END AS cls
          FROM c)
        SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev) AS BIGINT) AS class_rev,
               CAST(MAX(cum) AS BIGINT) AS cum_end
        FROM k GROUP BY cls
        ORDER BY cls"""))
  ,

    // --------------------------------------------------------------- q156
    // Datetime-function breadth over event time: the calendar surface
    // q16 doesn't reach — quarter, ISO week, day-of-year, last-day-of-
    // month, month arithmetic (add_months clamps to month end in both
    // engines), and day truncation — each chosen for exact DuckDB
    // parity (no locale/week-start ambiguity: weekofyear is ISO in
    // both; dayofweek is NOT emitted because the engines number days
    // differently). Narrow map over a deterministic 1-in-97 sample;
    // every output is an integer or epoch value.
    QueryDef(
      "q156_datetime_breadth",
      (s, dir) => {
        Tables.events(s, dir)
          .filter(col("event_id") % 97 === 0)
          .select(col("event_id"),
            col("ts_us"),
            year(col("ts_t")).cast("long").as("y"),
            quarter(col("ts_t")).cast("long").as("q"),
            month(col("ts_t")).cast("long").as("m"),
            dayofmonth(col("ts_t")).cast("long").as("dom"),
            dayofyear(col("ts_t")).cast("long").as("doy"),
            hour(col("ts_t")).cast("long").as("h"),
            weekofyear(col("ts_t")).cast("long").as("iso_week"),
            expr("unix_micros(cast(last_day(ts_t) as timestamp))")
              .as("last_day_us"),
            expr("unix_micros(cast(add_months(cast(ts_t as date), 3) as timestamp))")
              .as("plus3m_us"),
            expr("unix_micros(date_trunc('DAY', ts_t))").as("day_us"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, CAST(ts AS TIMESTAMP) AS t,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE event_id % 97 = 0)
        SELECT event_id, ts_us,
               CAST(EXTRACT(year FROM t) AS BIGINT) AS y,
               CAST(EXTRACT(quarter FROM t) AS BIGINT) AS q,
               CAST(EXTRACT(month FROM t) AS BIGINT) AS m,
               CAST(EXTRACT(day FROM t) AS BIGINT) AS dom,
               CAST(EXTRACT(doy FROM t) AS BIGINT) AS doy,
               CAST(EXTRACT(hour FROM t) AS BIGINT) AS h,
               CAST(EXTRACT(week FROM t) AS BIGINT) AS iso_week,
               epoch_us(CAST(last_day(CAST(t AS DATE)) AS TIMESTAMP))
                 AS last_day_us,
               epoch_us(CAST(CAST(t AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP))
                 AS plus3m_us,
               epoch_us(date_trunc('day', t)) AS day_us
        FROM e
        ORDER BY event_id"""))
  ,

    // --------------------------------------------------------------- q159
    // Array-function breadth over tokenized documents: position /
    // containment / slicing / reversal / sorting — each paired with its
    // exact DuckDB list twin (one chosen divergence papered explicitly:
    // list_position yields NULL where array_position yields 0, stated
    // with COALESCE). Array-valued intermediates leave the query as
    // join-digests because the gate's comparator can't hash nested
    // cells. Narrow map over a deterministic sample.
    QueryDef(
      "q159_array_breadth",
      (s, dir) => {
        Tables(s, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
          .withColumn("ws", split(col("text"), " "))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("n"),
            size(array_distinct(col("ws"))).cast("long").as("nd"),
            expr("array_position(ws, 'the')").as("pos_the"),
            array_contains(col("ws"), "data").as("has_data"),
            concat_ws(" ", slice(col("ws"), 1, 3)).as("first3"),
            sha2(concat_ws(" ", reverse(col("ws"))), 256).as("rev_digest"),
            sha2(concat_ws(" ", array_sort(col("ws"))), 256).as("sorted_digest"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n,
               CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
               CAST(COALESCE(list_position(ws, 'the'), 0) AS BIGINT)
                 AS pos_the,
               list_contains(ws, 'data') AS has_data,
               array_to_string(ws[1:3], ' ') AS first3,
               sha256(array_to_string(list_reverse(ws), ' ')) AS rev_digest,
               sha256(array_to_string(list_sort(ws), ' ')) AS sorted_digest
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE doc_id % 7 = 0)
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q160
    // String-function breadth: translate / levenshtein / padding /
    // search position / codepoint / reversal — the remaining scalar
    // string surface q16 doesn't reach, each paired with an exact
    // DuckDB twin (instr and strpos agree on 1-based-or-0; ascii is
    // the first CODEPOINT in both). Narrow map over a deterministic
    // sample; Levenshtein runs on the bounded first/last tokens, not
    // whole documents.
    QueryDef(
      "q160_string_breadth",
      (s, dir) => {
        Tables(s, dir, "documents")
          .filter(col("doc_id") % 11 === 0)
          .withColumn("ws", split(col("text"), " "))
          .withColumn("w1", col("ws").getItem(0))
          .withColumn("wn", element_at(col("ws"), -1))
          .select(col("doc_id"),
            translate(col("w1"), "aeiou", "AEIOU").as("w1_tr"),
            levenshtein(col("w1"), col("wn")).cast("long").as("lev"),
            lpad(col("doc_id").cast("string"), 8, "0").as("id_pad"),
            instr(col("text"), "the").cast("long").as("pos_the"),
            ascii(col("w1")).cast("long").as("cp1"),
            reverse(col("w1")).as("w1_rev"),
            length(col("text")).cast("long").as("len"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               translate(w1, 'aeiou', 'AEIOU') AS w1_tr,
               CAST(levenshtein(w1, wn) AS BIGINT) AS lev,
               lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_pad,
               CAST(instr(text, 'the') AS BIGINT) AS pos_the,
               CAST(ascii(w1) AS BIGINT) AS cp1,
               reverse(w1) AS w1_rev,
               CAST(length(text) AS BIGINT) AS len
        FROM (SELECT doc_id, text, ws[1] AS w1, wn
              FROM (SELECT doc_id, text, string_split(text, ' ') AS ws,
                           string_split(text, ' ')[-1] AS wn
                    FROM documents WHERE doc_id % 11 = 0))
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q161
    // Last-to-ship supplier analysis — TPC-H Q21's question ("which
    // supplier keeps multi-supplier orders waiting?") restated for this
    // fixture's columns as pure two-level aggregation instead of
    // correlated EXISTS chains: per (order, supplier) the latest ship
    // date reduces map-side first; per order the max, the supplier
    // count, and the count of suppliers TIED at the max derive from
    // that slim table; the laggard is the unique supplier at the max of
    // a ≥2-supplier order. Top-10 by blocked-order count. Both
    // shuffles are keyed and partial-aggregated; no self-join of
    // lineitem against lineitem.
    QueryDef(
      "q161_laggard_supplier",
      (s, dir) => {
        val perOS = t(s, dir, "lineitem")
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max("l_shipdate").as("s_max"))
        val perO = perOS.groupBy("l_orderkey")
          .agg(max("s_max").as("o_max"),
            count(lit(1)).as("n_supp"))
        val tied = perOS.join(perO, "l_orderkey")
          .filter(col("s_max") === col("o_max"))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_at_max"))
        perOS.join(perO, "l_orderkey").join(tied, "l_orderkey")
          .filter(col("n_supp") >= 2 && col("n_at_max") === 1
            && col("s_max") === col("o_max"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_blocked_orders"))
          .orderBy(col("n_blocked_orders").desc, col("l_suppkey"))
          .limit(10)
      },
      Some("""
        WITH pos AS (
          SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
          FROM lineitem GROUP BY 1, 2),
        po AS (
          SELECT l_orderkey, MAX(s_max) AS o_max,
                 CAST(COUNT(*) AS BIGINT) AS n_supp
          FROM pos GROUP BY 1),
        tied AS (
          SELECT pos.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_at_max
          FROM pos JOIN po USING (l_orderkey)
          WHERE pos.s_max = po.o_max
          GROUP BY 1)
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_blocked_orders
        FROM pos JOIN po USING (l_orderkey) JOIN tied USING (l_orderkey)
        WHERE n_supp >= 2 AND n_at_max = 1 AND s_max = o_max
        GROUP BY l_suppkey
        ORDER BY n_blocked_orders DESC, l_suppkey
        LIMIT 10"""))
  ,

    // --------------------------------------------------------------- q162
    // Shipping-delay distribution per order priority: exact median and
    // p90 delay (days from order date to line ship date) plus the
    // late share (> 60 days) — the SLA report. Order date joins in by
    // key (broadcast decided by the planner), delays are integer day
    // diffs, and both order statistics use the cumulative-count
    // crossing (q148's discipline): the rank window and the rollup
    // ride ONE priority partitioning; ties on the day value make the
    // crossing order-invariant.
    QueryDef(
      "q162_priority_ship_delay",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority").as("prio"),
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
              .as("delay"))
        // Crossing over per-(prio, delay) COUNTS, not rows (r15): the
        // former per-row cumulative window partitioned the whole 6M-row
        // join output into FIVE priority partitions — a five-task global
        // sort, the q316 single-partition shape one notch up. Delay is a
        // bounded day grid (shipdate = orderdate + 1..95 by fixture
        // rule), so a map-side-combined count aggregate shrinks the
        // window input to ≤ |grid| rows per priority; a row at delay v
        // satisfies `cum·k ≥ n·m` iff the cumulative count THROUGH v
        // does (the last row at v carries exactly that cumulative), so
        // the median/p90 crossings are value-identical. Totals derive
        // from the same count frame (one join pass instead of two).
        val byDelay = d.groupBy("prio", "delay")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("prio").orderBy("delay")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow) // ≤ day-grid rows per priority
        val tot = byDelay.groupBy("prio").agg(
          sum("cnt").as("n"),
          sum(when(col("delay") > 60, col("cnt")).otherwise(0L)).as("n_late"))
        byDelay.withColumn("cum", sum("cnt").over(w))
          .join(broadcast(tot), "prio")
          .groupBy("prio")
          .agg(
            min(when(col("cum") * 2 >= col("n"), col("delay"))).as("median_days"),
            min(when(col("cum") * 10 >= col("n") * 9, col("delay"))).as("p90_days"),
            max("n").as("n_lines"),
            expr("max(n_late) * 1000 div max(n)").as("late_permille"))
          .orderBy("prio")
      },
      Some("""
        WITH d AS (
          SELECT o_orderpriority AS prio,
                 CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS BIGINT) AS delay
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        tot AS (
          SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN delay > 60 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late
          FROM d GROUP BY 1),
        c AS (
          SELECT prio, delay,
                 COUNT(*) OVER (PARTITION BY prio ORDER BY delay
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
        SELECT c.prio AS prio,
               CAST(MIN(CASE WHEN cum * 2 >= n THEN delay END) AS BIGINT)
                 AS median_days,
               CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN delay END) AS BIGINT)
                 AS p90_days,
               CAST(MAX(n) AS BIGINT) AS n_lines,
               MAX(n_late) * 1000 // MAX(n) AS late_permille
        FROM c JOIN tot USING (prio)
        GROUP BY c.prio
        ORDER BY prio""")),

    // --------------------------------------------------------------- q169
    // Null-semantics breadth — three-valued logic is where engines
    // silently disagree, so pin it: NULLIF manufactures nulls from the
    // flag columns, then COUNT(*) vs COUNT(col), null-safe equality
    // (Spark `<=>` ↔ DuckDB IS NOT DISTINCT FROM — true when BOTH
    // sides are null, the case plain `=` loses), COALESCE fallback
    // chains as the grouping key, and IFNULL defaults. One keyed
    // aggregate over the bounded flag domain; every count is integer.
    QueryDef(
      "q169_null_semantics",
      (s, dir) => {
        t(s, dir, "lineitem")
          .withColumn("a", expr("nullif(l_returnflag, 'N')"))
          .withColumn("b", expr("nullif(l_linestatus, 'O')"))
          .groupBy(expr("coalesce(a, b, '-')").as("grp"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("a")).as("n_a"),
            count(col("b")).as("n_b"),
            sum(when(expr("a <=> b"), 1L).otherwise(0L)).as("n_null_safe_eq"),
            sum(when(expr("a = b"), 1L).otherwise(0L)).as("n_plain_eq"),
            min(expr("ifnull(a, 'z')")).as("min_a_defaulted"))
          .orderBy("grp")
      },
      Some("""
        WITH x AS (
          SELECT NULLIF(l_returnflag, 'N') AS a,
                 NULLIF(l_linestatus, 'O') AS b
          FROM lineitem)
        SELECT COALESCE(a, b, '-') AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(a) AS BIGINT) AS n_a,
               CAST(COUNT(b) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq,
               CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_plain_eq,
               MIN(IFNULL(a, 'z')) AS min_a_defaulted
        FROM x GROUP BY 1
        ORDER BY grp""")),

    // --------------------------------------------------------------- q172
    // Collation-aware grouping — Spark 4's collated string type: part
    // types arrive in mixed case (upper-cased on even part keys, the
    // generator's case otherwise) and group under UTF8_LCASE collation,
    // so both case variants of a type land in ONE group without any
    // expression rewriting at the grouping site. The oracle lowers
    // explicitly — for this ASCII domain the two are provably the same
    // partition of rows, which is exactly what the gate checks. Output
    // re-lowers the representative (the retained case under a collated
    // group-by is engine-internal) so the result is deterministic.
    QueryDef(
      "q172_collation_group",
      (s, dir) => {
        t(s, dir, "part")
          .withColumn("ptype_mixed",
            // fixture p_type is uppercase; lower-casing half the rows
            // manufactures the mixed-case arrivals the collation merges
            when(col("p_partkey") % 2 === 0, lower(col("p_type")))
              .otherwise(col("p_type")))
          .groupBy(expr("collate(ptype_mixed, 'UTF8_LCASE')").as("ptype_ci"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p_size").cast("long")).as("sum_size"),
            countDistinct(col("ptype_mixed")).as("n_case_variants"))
          .select(expr("cast(lower(ptype_ci) AS STRING)").as("ptype"),
            col("n_parts"), col("sum_size"), col("n_case_variants"))
          .orderBy("ptype")
      },
      Some("""
        WITH x AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN LOWER(p_type)
                      ELSE p_type END AS ptype_mixed,
                 p_size
          FROM part)
        SELECT LOWER(ptype_mixed) AS ptype,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(p_size) AS BIGINT) AS sum_size,
               CAST(COUNT(DISTINCT ptype_mixed) AS BIGINT) AS n_case_variants
        FROM x GROUP BY 1
        ORDER BY ptype""")),

    // --------------------------------------------------------------- q177
    // Grouping metadata — the part of CUBE output q14 doesn't surface:
    // grouping() flags and grouping_id() disambiguate "the value IS
    // null" from "this row aggregates over that column", which any
    // report layer consuming a cube needs. Bit layout is pinned
    // cross-engine (first cube column = high bit in both Spark's
    // grouping_id() and DuckDB's GROUPING(a, b)). One cube over the
    // bounded flag domain; counts and cents exact.
    QueryDef(
      "q177_grouping_metadata",
      (s, dir) => {
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          // grouping()/grouping_id() are only legal inside the cube's agg
          .agg(grouping("l_returnflag").cast("long").as("g_rf"),
            grouping("l_linestatus").cast("long").as("g_ls"),
            expr("cast(grouping_id() AS BIGINT)").as("gid"),
            count(lit(1)).as("n"),
            sum(expr("cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .as("qc"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("g_rf"), col("g_ls"), col("gid"), col("n"), col("qc"))
          .orderBy("gid", "rf", "ls")
      },
      Some("""
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qc
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls""")),

    // --------------------------------------------------------------- q197
    // NEAREST as-of join — q24 matches each purchase to the latest view
    // BEFORE it; this completes the as-of family with the bidirectional
    // variant (nearest purchase to each click in EITHER direction,
    // ties to the earlier side), the alignment step for sensor/quote
    // data where the closest reading matters, not the preceding one.
    // Scale shape — the two-pointer trick, not a join: both directions
    // are keyed window scans over ONE user_id exchange (backward =
    // last purchase over preceding rows, forward = first purchase over
    // following rows, both IGNORE NULLS), so no per-click candidate
    // set ever materializes. Deterministic total order (ts_us,
    // event_id) everywhere; distance math is exact integer micros.
    QueryDef(
      "q197_nearest_asof",
      (s, dir) => {
        val wb = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wf = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(1, Window.unboundedFollowing)
        val isP = col("event_type") === "purchase"
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("event_type"))
          .withColumn("prev_pid",
            last(when(isP, col("event_id")), ignoreNulls = true).over(wb))
          .withColumn("prev_pts",
            last(when(isP, col("ts_us")), ignoreNulls = true).over(wb))
          .withColumn("next_pid",
            first(when(isP, col("event_id")), ignoreNulls = true).over(wf))
          .withColumn("next_pts",
            first(when(isP, col("ts_us")), ignoreNulls = true).over(wf))
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts_us"), col("prev_pid"), col("next_pid"),
            expr("""CASE
              WHEN prev_pts IS NULL AND next_pts IS NULL THEN NULL
              WHEN prev_pts IS NULL THEN next_pid
              WHEN next_pts IS NULL THEN prev_pid
              WHEN ts_us - prev_pts <= next_pts - ts_us THEN prev_pid
              ELSE next_pid END""").as("nearest_pid"),
            expr("""CASE
              WHEN prev_pts IS NULL AND next_pts IS NULL THEN NULL
              WHEN prev_pts IS NULL THEN next_pts - ts_us
              WHEN next_pts IS NULL THEN ts_us - prev_pts
              ELSE least(ts_us - prev_pts, next_pts - ts_us)
              END""").as("dist_us"))
          .orderBy("click_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events),
        x AS (
          SELECT user_id, event_id, event_type, ts_us,
                 last_value(CASE WHEN event_type = 'purchase'
                                 THEN event_id END IGNORE NULLS)
                   OVER wb AS prev_pid,
                 last_value(CASE WHEN event_type = 'purchase'
                                 THEN ts_us END IGNORE NULLS)
                   OVER wb AS prev_pts,
                 first_value(CASE WHEN event_type = 'purchase'
                                  THEN event_id END IGNORE NULLS)
                   OVER wf AS next_pid,
                 first_value(CASE WHEN event_type = 'purchase'
                                  THEN ts_us END IGNORE NULLS)
                   OVER wf AS next_pts
          FROM e
          WINDOW
            wb AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        SELECT event_id AS click_id, user_id, ts_us, prev_pid, next_pid,
               CASE
                 WHEN prev_pts IS NULL AND next_pts IS NULL THEN NULL
                 WHEN prev_pts IS NULL THEN next_pid
                 WHEN next_pts IS NULL THEN prev_pid
                 WHEN ts_us - prev_pts <= next_pts - ts_us THEN prev_pid
                 ELSE next_pid END AS nearest_pid,
               CASE
                 WHEN prev_pts IS NULL AND next_pts IS NULL THEN NULL
                 WHEN prev_pts IS NULL THEN next_pts - ts_us
                 WHEN next_pts IS NULL THEN ts_us - prev_pts
                 ELSE LEAST(ts_us - prev_pts, next_pts - ts_us)
                 END AS dist_us
        FROM x
        WHERE event_type = 'click'
        ORDER BY click_id""")),

    // --------------------------------------------------------------- q209
    // SQL pipe syntax (Spark 4's |> operators) — the linear query form
    // arriving from GoogleSQL: FROM … |> WHERE … |> EXTEND … |>
    // AGGREGATE … |> ORDER BY, each stage reading the previous one's
    // output top-to-bottom. Same Catalyst plan as the nested SELECT
    // (the pipe form is sugar), pinned here against the plain-SQL
    // oracle so the surface is covered, not assumed.
    QueryDef(
      "q209_sql_pipe_syntax",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("graft_pipe_li")
        s.sql("""
          FROM graft_pipe_li
          |> WHERE l_quantity > 30
          |> EXTEND cast(cast(l_extendedprice AS DECIMAL(12,2)) * 100
                      AS BIGINT) AS cents
          |> AGGREGATE count(*) AS n_lines, sum(cents) AS total_cents
             GROUP BY l_returnflag
          |> ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_quantity > 30
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // --------------------------------------------------------------- q210
    // Named parameterized SQL + lateral column aliases — the injection-
    // safe query surface (spark.sql(text, args)) a serving layer uses,
    // composed with Spark 3.4+ lateral aliases (big_ppm reads the
    // n_big/n aliases defined in the SAME select list — no subquery
    // nesting for derived metrics). The oracle inlines the parameter
    // values as literals, so binding is verified to be value-identical.
    QueryDef(
      "q210_parameterized_sql",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("graft_param_orders")
        s.sql(
          """
          SELECT o_orderstatus,
                 count_if(o_totalprice > :hi) AS n_big,
                 count(*) AS n,
                 n_big * 1000000 div n AS big_ppm
          FROM graft_param_orders
          WHERE o_totalprice > :floor
          GROUP BY o_orderstatus
          ORDER BY o_orderstatus""",
          Map("hi" -> 150000.0, "floor" -> 50000.0))
      },
      Some("""
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 150000.0) AS BIGINT) AS n_big,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(count_if(o_totalprice > 150000.0) * 1000000 // COUNT(*)
                 AS BIGINT) AS big_ppm
        FROM orders
        WHERE o_totalprice > 50000.0
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // --------------------------------------------------------------- q212
    // SQL templating surface — IDENTIFIER(:param) binds a TABLE NAME
    // from a parameter (the injection-safe way a multi-tenant layer
    // routes one query text across per-tenant tables; string
    // concatenation is the anti-pattern this replaces), composed with
    // GROUP BY ALL / ORDER BY ALL (group/order keys inferred from the
    // select list — the de-duplication-prone boilerplate eliminated).
    // The oracle states the resolved query directly.
    QueryDef(
      "q212_sql_templating",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("graft_tmpl_li")
        s.sql(
          """
          SELECT l_returnflag, l_linestatus,
                 count(*) AS n,
                 cast(sum(cast(cast(l_quantity AS DECIMAL(12,2)) * 100
                   AS BIGINT)) AS BIGINT) AS qty_cents
          FROM IDENTIFIER(:tbl)
          WHERE l_discount > :min_disc
          GROUP BY ALL
          ORDER BY ALL""",
          Map("tbl" -> "graft_tmpl_li", "min_disc" -> 0.05))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem
        WHERE l_discount > 0.05
        GROUP BY ALL
        ORDER BY ALL""")),

    // --------------------------------------------------------------- q217
    // Schema-alignment breadth — the two null-semantics corners a
    // multi-source ingest hits first: unionByName with
    // allowMissingColumns = true aligns two differently-shaped
    // projections by NAME (absent columns fill with null — positional
    // union would silently transpose values), and explode_outer keeps
    // a row for documents whose token-pair array is EMPTY (plain
    // explode drops them, losing the "empty doc" signal). The rollup
    // counts both: per source, rows from each input shape, null-filled
    // cells, and empty-array survivors.
    QueryDef(
      "q217_schema_alignment",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("source"),
            col("n_chars").as("chars"))
        val b = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"),
            col("lang"))
        val unioned = a.unionByName(b, allowMissingColumns = true)
        val pairs = docs
          .select(col("doc_id"), col("source"),
            expr("""filter(transform(split(text, ' '),
                      t -> CASE WHEN length(t) >= 12 THEN t END),
                    t -> t IS NOT NULL)""").as("long_toks"))
          .select(col("doc_id"), col("source"),
            explode_outer(col("long_toks")).as("tok"))
        val u = unioned.groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            expr("count_if(chars IS NULL)").as("null_chars"),
            expr("count_if(lang IS NULL)").as("null_lang"))
        val p = pairs.groupBy("source")
          .agg(expr("count_if(tok IS NULL)").as("empty_docs"),
            expr("count_if(tok IS NOT NULL)").as("long_tok_rows"))
        u.join(p, "source").orderBy("source")
      },
      Some("""
        WITH a AS (
          SELECT doc_id, source, n_chars AS chars, NULL AS lang
          FROM documents WHERE doc_id % 2 = 0),
        b AS (
          SELECT doc_id, source, NULL AS chars, lang
          FROM documents WHERE doc_id % 2 = 1),
        unioned AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        u AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(count_if(chars IS NULL) AS BIGINT) AS null_chars,
                 CAST(count_if(lang IS NULL) AS BIGINT) AS null_lang
          FROM unioned GROUP BY source),
        toks AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '),
                   t -> length(t) >= 12) AS long_toks
          FROM documents),
        pairs AS (
          SELECT doc_id, source, unnest(
            CASE WHEN len(long_toks) = 0 THEN [NULL] ELSE long_toks END)
            AS tok
          FROM toks),
        p AS (
          SELECT source,
                 CAST(count_if(tok IS NULL) AS BIGINT) AS empty_docs,
                 CAST(count_if(tok IS NOT NULL) AS BIGINT) AS long_tok_rows
          FROM pairs GROUP BY source)
        SELECT u.source, n_rows, null_chars, null_lang,
               empty_docs, long_tok_rows
        FROM u JOIN p ON u.source = p.source
        ORDER BY u.source""")),

    // --------------------------------------------------------------- q218
    // Error-safe arithmetic (the try_* family) — the difference between
    // a 100 TB job that completes with nulls to audit and one that dies
    // at hour nine on a single bad row: try_divide (÷0 → null instead
    // of error/Inf), try_add at BIGINT max (overflow → null instead of
    // ANSI abort), and try_to_number against a malformed string. The
    // oracle states the SAME total semantics with explicit CASE guards,
    // since DuckDB's raw operators error where Spark's try_* null out —
    // which is precisely the contract worth pinning.
    QueryDef(
      "q218_try_arithmetic",
      (s, dir) => {
        // spread (r14, guide §2.5): the single-row-group scan serializes
        // the per-row try_to_number/try_divide evaluation on one core
        graft.Tables.spread(Tables.events(s, dir), col("event_id"))
          .select(col("event_type"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          .select(col("event_type"),
            expr("try_divide(vc, event_id % 5)").as("per_slot"),
            expr("try_add(9223372036854775807L, vc)").as("overflowed"),
            expr("""try_to_number(
                      CASE WHEN event_id % 3 = 0 THEN 'oops'
                           ELSE cast(vc AS STRING) END, '999999999')""")
              .as("parsed"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            expr("count_if(per_slot IS NULL)").as("div_by_zero"),
            expr("count_if(overflowed IS NULL)").as("overflows"),
            expr("count_if(parsed IS NULL)").as("bad_parses"),
            expr("cast(sum(parsed) AS BIGINT)").as("parsed_sum"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        t AS (
          SELECT event_type,
                 CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS div0,
                 CASE WHEN vc > 0 THEN 1 ELSE 0 END AS ovf,
                 CASE WHEN event_id % 3 = 0 THEN NULL ELSE vc END AS parsed
          FROM e)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(div0) AS BIGINT) AS div_by_zero,
               CAST(SUM(ovf) AS BIGINT) AS overflows,
               CAST(count_if(parsed IS NULL) AS BIGINT) AS bad_parses,
               CAST(SUM(parsed) AS BIGINT) AS parsed_sum
        FROM t GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q219
    // Multi-aggregate pivot — q48 pivots one measure; real reports
    // pivot several at once (count AND exact cents per pivoted status),
    // and Spark suffixes each pivot value with each aggregate alias
    // (F_n, F_cents, O_n, …). The pivot value list is EXPLICIT — at
    // 100 TB an unlisted pivot runs a distinct scan just to discover
    // headers, and a late-arriving surprise value silently widens the
    // schema; listing the domain pins both. One keyed aggregate,
    // map-side combined; the oracle states the same table as
    // conditional aggregates.
    QueryDef(
      "q219_multi_agg_pivot",
      (s, dir) => {
        Tables(s, dir, "orders")
          .select(expr("year(o_orderdate)").cast("long").as("yr"),
            col("o_orderstatus"),
            expr("cast(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("cents"))
          .groupBy("yr")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .orderBy("yr")
      },
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS F_n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 END) AS BIGINT) AS F_cents,
               CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS O_n,
               CAST(SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 END) AS BIGINT) AS O_cents,
               CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS P_n,
               CAST(SUM(CASE WHEN o_orderstatus = 'P'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 END) AS BIGINT) AS P_cents
        FROM orders
        GROUP BY yr
        ORDER BY yr""")),

    // --------------------------------------------------------------- q222
    // The NOT IN null trap — the classic three-valued-logic footgun,
    // pinned as behavior: `key NOT IN (subquery)` yields UNKNOWN for
    // every row the moment the subquery produces a single NULL (so the
    // filter returns ZERO rows), while the intended NOT EXISTS
    // anti-join semantics returns the real complement. The probe
    // subquery is customer keys with one injected NULL; the report
    // carries all three counts side by side — not_in against the
    // clean list, not_in against the null-poisoned list (0), and
    // not_exists against the poisoned list (unaffected) — so a
    // migration can't silently ship the wrong operator. Plans are
    // anti-joins either way (NullAware for NOT IN); counts only.
    QueryDef(
      "q222_not_in_null_trap",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.createOrReplaceTempView("graft_nin_orders")
        Tables(s, dir, "customer").createOrReplaceTempView("graft_nin_cust")
        s.sql("""
          WITH probe AS (
            SELECT c_custkey AS k FROM graft_nin_cust WHERE c_custkey % 3 = 0),
          poisoned AS (
            SELECT k FROM probe UNION ALL SELECT CAST(NULL AS BIGINT)),
          a AS (SELECT count(*) AS n_not_in_clean FROM graft_nin_orders
                WHERE o_custkey NOT IN (SELECT k FROM probe)),
          b AS (SELECT count(*) AS n_not_in_poisoned FROM graft_nin_orders
                WHERE o_custkey NOT IN (SELECT k FROM poisoned)),
          c AS (SELECT count(*) AS n_not_exists FROM graft_nin_orders o
                WHERE NOT EXISTS (SELECT 1 FROM poisoned p
                                  WHERE p.k = o.o_custkey))
          SELECT n_not_in_clean, n_not_in_poisoned, n_not_exists
          FROM a, b, c""")
      },
      Some("""
        WITH probe AS (
          SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
        poisoned AS (
          SELECT k FROM probe UNION ALL SELECT CAST(NULL AS BIGINT)),
        a AS (SELECT COUNT(*) AS n_not_in_clean FROM orders
              WHERE o_custkey NOT IN (SELECT k FROM probe)),
        b AS (SELECT COUNT(*) AS n_not_in_poisoned FROM orders
              WHERE o_custkey NOT IN (SELECT k FROM poisoned)),
        c AS (SELECT COUNT(*) AS n_not_exists FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM poisoned p
                                WHERE p.k = o.o_custkey))
        SELECT n_not_in_clean, n_not_in_poisoned, n_not_exists
        FROM a, b, c"""))
  ,

    // --------------------------------------------------------------- q251
    // TPC-H Q17's optimizer shape — the CORRELATED SCALAR AGGREGATE:
    // lineitems whose quantity falls below 20% of their part's average,
    // written as correlated subqueries so Catalyst must DECORRELATE
    // them into aggregate-joins (a per-outer-row subquery execution is
    // the classic 1000× blowup; no-nested-loop plan-asserted in
    // ScaleSpec). The 20%-of-average predicate stays integer-exact by
    // clearing the division: qc·5·cnt < Σqc ⟺ qc < 0.2·avg — no float
    // average ever computed, so both engines agree bit-for-bit.
    QueryDef(
      "q251_small_quantity_revenue",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("g251_lineitem")
        s.sql("""
          WITH l AS (
            SELECT l_partkey,
                   cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc,
                   cast(cast(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
            FROM g251_lineitem)
          SELECT count(*) AS n_small,
                 cast(sum(pc) AS BIGINT) AS revenue_cents
          FROM l l1
          WHERE l1.qc * 5 * (SELECT count(*) FROM l l2
                             WHERE l2.l_partkey = l1.l_partkey)
                < (SELECT sum(qc) AS sq FROM l l3
                   WHERE l3.l_partkey = l1.l_partkey)""")
      },
      Some("""
        WITH l AS (
          SELECT l_partkey,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
          FROM lineitem)
        SELECT COUNT(*) AS n_small,
               CAST(SUM(pc) AS BIGINT) AS revenue_cents
        FROM l l1
        WHERE l1.qc * 5 * (SELECT COUNT(*) FROM l l2
                           WHERE l2.l_partkey = l1.l_partkey)
              < (SELECT SUM(qc) AS sq FROM l l3
                 WHERE l3.l_partkey = l1.l_partkey)"""))
  ,

    // --------------------------------------------------------------- q252
    // TPC-H Q21's optimizer shape — EXISTS + NOT EXISTS against the
    // same table: suppliers who were the SOLE late shipper in
    // multi-supplier orders (late = shipped > 90 days after the order
    // date, synthesized from the fixture's dates; Q21's
    // receipt-vs-commit predicate restated on available columns). The
    // two correlated existentials decorrelate to one left-semi and one
    // left-anti join on the order key — the canonical hard
    // decorrelation pair. Date math is exact epoch-microsecond
    // integers in both engines.
    QueryDef(
      "q252_sole_late_supplier",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("g252_lineitem")
        Tables(s, dir, "orders").createOrReplaceTempView("g252_orders")
        s.sql("""
          WITH li AS (
            SELECT l_orderkey, l_suppkey,
                   (unix_micros(cast(l_shipdate AS timestamp))
                    > unix_micros(cast(o_orderdate AS timestamp))
                      + 7776000000000L) AS is_late
            FROM g252_lineitem JOIN g252_orders ON l_orderkey = o_orderkey)
          SELECT l_suppkey AS suppkey,
                 count(DISTINCT l_orderkey) AS n_blocking_orders
          FROM li s1
          WHERE s1.is_late
            AND EXISTS (SELECT 1 FROM li l2
                        WHERE l2.l_orderkey = s1.l_orderkey
                          AND l2.l_suppkey <> s1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM li l3
                            WHERE l3.l_orderkey = s1.l_orderkey
                              AND l3.l_suppkey <> s1.l_suppkey
                              AND l3.is_late)
          GROUP BY l_suppkey
          ORDER BY n_blocking_orders DESC, suppkey
          LIMIT 20""")
      },
      Some("""
        WITH li AS (
          SELECT l_orderkey, l_suppkey,
                 (epoch_us(CAST(l_shipdate AS TIMESTAMP))
                  > epoch_us(CAST(o_orderdate AS TIMESTAMP))
                    + 7776000000000) AS is_late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        SELECT l_suppkey AS suppkey,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_blocking_orders
        FROM li s1
        WHERE s1.is_late
          AND EXISTS (SELECT 1 FROM li l2
                      WHERE l2.l_orderkey = s1.l_orderkey
                        AND l2.l_suppkey <> s1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM li l3
                          WHERE l3.l_orderkey = s1.l_orderkey
                            AND l3.l_suppkey <> s1.l_suppkey
                            AND l3.is_late)
        GROUP BY l_suppkey
        ORDER BY n_blocking_orders DESC, suppkey
        LIMIT 20"""))
  ,

    // --------------------------------------------------------------- q253
    // Join-strategy equivalence — the physical-plan contract stated as
    // a query: the same orders⋈customer join forced through all three
    // shuffle strategies (MERGE → SortMergeJoin, SHUFFLE_HASH →
    // ShuffledHashJoin, BROADCAST → BroadcastHashJoin via Spark's join
    // hints) must produce the identical row count and exact integer
    // checksum — strategy choice is an EXECUTION decision, never a
    // semantics one, which is precisely what lets AQE re-plan joins at
    // runtime on a 100 TB cluster without a correctness review. The
    // three hinted branches union into one audit frame; ScaleSpec
    // asserts each hint was actually honored in the physical plan.
    QueryDef(
      "q253_join_strategy_equivalence",
      (s, dir) => {
        val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
        val c = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
        def branch(strategy: String, hinted: org.apache.spark.sql.DataFrame) =
          o.join(hinted, col("o_custkey") === col("c_custkey"))
            .agg(count(lit(1)).as("n_rows"),
              sum(expr("o_orderkey * (c_nationkey + 1)")).as("checksum"))
            .select(lit(strategy).as("strategy"), col("n_rows"), col("checksum"))
        branch("broadcast", c.hint("broadcast"))
          .unionByName(branch("merge", c.hint("merge")))
          .unionByName(branch("shuffle_hash", c.hint("shuffle_hash")))
          .orderBy("strategy")
      },
      Some("""
        WITH j AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(o_orderkey * (c_nationkey + 1)) AS BIGINT) AS checksum
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT s.strategy, j.n_rows, j.checksum
        FROM (SELECT 'broadcast' AS strategy
              UNION ALL SELECT 'merge'
              UNION ALL SELECT 'shuffle_hash') s
        CROSS JOIN j
        ORDER BY s.strategy"""))
  )

  /** q19's oracle, shared verbatim by s01 and s11. */
  private[graft] def tumblingWindowOracle: String = """
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
        ORDER BY ws_us"""
}
