package graft.operators

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Profiling and temporal-window operators: rolling time-range
  * aggregates, value histograms, and table statistics — the
  * "ANALYZE"-tier surface a 100 TB warehouse runs continuously.
  */
object Profiling {

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q69
    // Rolling 1-hour window per user: a RANGE frame over exact integer
    // event-time (ts_us), not a row frame — peers at the same timestamp
    // land in the same frame, so the result is order-independent. The
    // sum accumulates in decimal (exact) and surfaces as double.
    // Scale: one window shuffle keyed by user_id; frames are evaluated
    // with a sliding accumulator per partition, never recomputed per row.
    QueryDef(
      "q69_rolling_time_window",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(-3600000000L, 0L)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
          // both window expressions in ONE projection so Catalyst plans a
          // single Window node (chained withColumns planned two passes)
          .select(col("event_id"),
            count(lit(1)).over(w).as("n_in_hour"),
            sum(Exact.dec2(col("value"))).over(w).cast("double").as("sum_in_hour"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
               COUNT(*) OVER w AS n_in_hour,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_in_hour
        FROM (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // ---------------------------------------------------------------- q70
    // Equi-width value histogram per event type: bucket index is
    // floor(value / 100) clamped to [0, 9] — identical IEEE division and
    // floor in both engines, then pure integer grouping. One hash
    // aggregate with map-side partials; bucket cardinality is fixed, so
    // the shuffle carries at most types × 10 rows per partition.
    QueryDef(
      "q70_value_histogram",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"),
            least(floor(col("value") / 100), lit(9)).cast("int").as("bucket"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bucket"),
      Some("""
        SELECT event_type,
               CAST(LEAST(FLOOR(value / 100), 9) AS INT) AS bucket,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type, bucket
        ORDER BY event_type, bucket""")),

    // ---------------------------------------------------------------- q71
    // Table profile (ANALYZE-style column statistics) over orders: row
    // count, null counts, distinct counts, and min/max per column — the
    // stats that feed CBO join ordering and broadcast decisions. One
    // pass, one aggregate; min/max over doubles are exact value picks
    // (no accumulation), timestamps surface as epoch micros.
    QueryDef(
      "q71_profile_stats",
      (s, dir) =>
        Tables(s, dir, "orders")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_cust"),
            countDistinct(col("o_custkey")).as("n_distinct_cust"),
            countDistinct(col("o_orderstatus")).as("n_distinct_status"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
            // cast to TIMESTAMP is identity and matches the oracle's
            // epoch_us(CAST(... AS TIMESTAMP))
            unix_micros(min(col("o_orderdate")).cast("timestamp")).as("min_date_us"),
            unix_micros(max(col("o_orderdate")).cast("timestamp")).as("max_date_us")),
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null_cust,
               COUNT(DISTINCT o_custkey) AS n_distinct_cust,
               COUNT(DISTINCT o_orderstatus) AS n_distinct_status,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               epoch_us(CAST(MIN(o_orderdate) AS TIMESTAMP)) AS min_date_us,
               epoch_us(CAST(MAX(o_orderdate) AS TIMESTAMP)) AS max_date_us
        FROM orders""")),

    // ---------------------------------------------------------------- q75
    // Hopping (sliding) event-time windows: 1-hour windows every 30
    // minutes — each event lands in exactly size/hop = 2 windows. Spark's
    // native window(ts, size, hop) generator handles the fan-out inside
    // codegen; the oracle replicates by unnesting each event's two
    // candidate window starts. Complements s01/q19 (tumbling): hopping
    // windows are the standard shape for overlapping-trend dashboards.
    QueryDef(
      "q75_hopping_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts_t"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            Exact.dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("window.start")).as("ws_us"),
            col("n_events"), col("sum_value"))
          .orderBy("ws_us"),
      Some(hoppingWindowOracle)),

    // ---------------------------------------------------------------- q94
    // Time-spine gap filling — resampling for dashboards/features: the
    // complete hourly spine per event_type is GENERATED (bounds from a
    // one-row min/max aggregate cross-joined in, so the plan stays fully
    // lazy — no driver scalars), the actual hourly aggregates left-join
    // onto it, and missing hours surface as explicit zeros. Without the
    // spine, downstream rolling averages silently skip empty hours. The
    // spine is (types × hours) — metadata-sized next to the fact scan —
    // and the join is a keyed equi-join the fact side partial-aggregates
    // into first.
    QueryDef(
      "q94_time_spine_gapfill",
      (s, dir) => {
        val hourUs = expr("(ts_us div 3600000000) * 3600000000")
        val ev = Tables.events(s, dir)
        val hourly = ev.select(col("event_type"), hourUs.as("hour_us"), col("value"))
          .groupBy("event_type", "hour_us")
          .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sv"))
        val bounds = ev.agg(
          min(hourUs).as("mn"), max(hourUs).as("mx"))
        val spine = ev.select("event_type").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(mn, mx, 3600000000)")).as("hour_us"))
        spine.join(hourly, Seq("event_type", "hour_us"), "left_outer")
          .select(col("event_type"), col("hour_us"),
            coalesce(col("n"), lit(0L)).as("n_events"),
            coalesce(col("sv"), lit(0.0d)).as("sum_value"))
          .orderBy("event_type", "hour_us")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000 AS hour_us,
                 value
          FROM events),
        hourly AS (
          SELECT event_type, hour_us, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
          FROM e GROUP BY event_type, hour_us),
        b AS (SELECT MIN(hour_us) AS mn, MAX(hour_us) AS mx FROM e),
        spine AS (
          SELECT t.event_type, CAST(h.h AS BIGINT) AS hour_us
          FROM (SELECT DISTINCT event_type FROM e) t
          CROSS JOIN (SELECT UNNEST(range(
            (SELECT mn FROM b), (SELECT mx FROM b) + 1, 3600000000)) AS h) h)
        SELECT s.event_type, s.hour_us,
               COALESCE(n, 0) AS n_events,
               COALESCE(sv, 0.0) AS sum_value
        FROM spine s LEFT JOIN hourly USING (event_type, hour_us)
        ORDER BY event_type, hour_us""")),

    // --------------------------------------------------------------- q100
    // k-anonymity audit — the privacy gate a training-data release runs:
    // customers grouped by their quasi-identifier tuple (nation, market
    // segment); any group with fewer than k=5 members re-identifies its
    // members. Per-segment report: groups, risky groups, and how many
    // ROWS are exposed — the number a release decision needs. One keyed
    // aggregate + one rollup over the (tiny) group frame; the customer
    // table never moves twice. At 100 TB the quasi-identifier aggregate
    // is a map-side-combined groupBy on low-cardinality keys.
    QueryDef(
      "q100_k_anonymity_audit",
      (s, dir) => {
        val k = 5
        val groups = Tables(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n"))
        groups.groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_groups"),
            sum(when(col("n") < k, 1L).otherwise(0L)).as("n_risky_groups"),
            sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_exposed_rows"))
          .orderBy("c_mktsegment")
      },
      Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
          FROM customer GROUP BY 1, 2)
        SELECT c_mktsegment,
               COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
               CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_exposed_rows
        FROM g
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // --------------------------------------------------------------- q101
    // Exact winsorization (p1/p99 outlier clipping) — the numeric
    // normalization a feature/curation pipeline applies before training.
    // Bounds are EXACT order statistics (the value at rank ceil(n/100)
    // from each end, event_id tie-break), not approximations, so the
    // oracle is hash-exact. Per type: one keyed rank window over exact
    // cents, a 5-row bounds frame broadcast back, then one keyed
    // aggregate — two exchanges total on the same key at any scale.
    QueryDef(
      "q101_winsorized_values",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
        val w = Window.partitionBy("event_type").orderBy(col("vc"), col("event_id"))
        val ranked = ev
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        val bounds = ranked.groupBy("event_type").agg(
          min(when(col("rn") === expr("(n + 99) div 100"), col("vc"))).as("lo"),
          min(when(col("rn") === expr("n + 1 - (n + 99) div 100"), col("vc"))).as("hi"))
        ev.join(broadcast(bounds), "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("vc") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
            sum(when(col("vc") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
            sum(least(greatest(col("vc"), col("lo")), col("hi"))).as("sum_winsorized_cents"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vc, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e),
        b AS (
          SELECT event_type,
                 MIN(CASE WHEN rn = (n + 99) // 100 THEN vc END) AS lo,
                 MIN(CASE WHEN rn = n + 1 - (n + 99) // 100 THEN vc END) AS hi
          FROM r GROUP BY event_type)
        SELECT e.event_type,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN vc < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
               CAST(SUM(CASE WHEN vc > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
               CAST(SUM(LEAST(GREATEST(vc, lo), hi)) AS BIGINT) AS sum_winsorized_cents
        FROM e JOIN b USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type"""))
  ,

    // --------------------------------------------------------------- q110
    // Per-label embedding centroid drift: the model-monitoring twin of
    // q87's composition drift — a reference snapshot (even vec_ids) and
    // a current snapshot (odd vec_ids) each collapse to per-label
    // centroids, and the report is each label's squared L2 centroid
    // shift plus both population counts. An embedding distribution that
    // moves between snapshots invalidates downstream ANN indexes and
    // classifier calibration; this is the alarm.
    // Determinism: centroids are exact-decimal means cast to double
    // (the q29/q64 Lloyd discipline — order-independent, so distributed
    // partials are safe); the drift fold runs over LABEL-cardinality
    // rows only (bounded at every SF), where the interpreted
    // aggregate(zip_with) lambda is metadata-sized, matching DuckDB's
    // in-order list_sum fold bit-for-bit.
    // Scale: two narrow passes + (label, dim) partial aggregates —
    // the shuffle carries one decimal per (label, dim, partition);
    // nothing broadcasts, no window, and the join is label-keyed over
    // bounded cardinality.
    QueryDef(
      "q110_centroid_drift",
      (s, dir) => {
        val base = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"))
        def centroids(df: org.apache.spark.sql.DataFrame, suffix: String) = df
          .select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          // bround first: Spark's double→decimal cast is HALF_UP, DuckDB's
          // HALF_EVEN, and float32-sourced values hit exact ties (the
          // Similarity.lloyd comment has the full story)
          .agg((sum(bround(col("v"), 12).cast("decimal(27,12)")).cast("double")
            / count(lit(1))).as("m"), count(lit(1)).as("n"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
            .as(s"ce_$suffix"), max("n").as(s"n_$suffix"))
        val ref = centroids(base.filter(col("vec_id") % 2 === 0), "ref")
        val cur = centroids(base.filter(col("vec_id") % 2 === 1), "cur")
        ref.join(cur, "label")
          .select(col("label"), col("n_ref"), col("n_cur"),
            expr("""aggregate(zip_with(ce_ref, ce_cur, (x, y) -> (x - y) * (x - y)),
                      0d, (acc, v) -> acc + v)""").as("drift_sq"))
          .orderBy("label")
      },
      Some("""
        WITH base AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) e
          FROM embeddings),
        mref AS (
          SELECT label, dim,
                 CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m,
                 COUNT(*) AS n
          FROM (SELECT label, unnest(e) AS v, generate_subscripts(e, 1) AS dim
                FROM base WHERE vec_id % 2 = 0) z
          GROUP BY label, dim),
        cref AS (SELECT label, list(m ORDER BY dim) AS ce, MAX(n) AS n
                 FROM mref GROUP BY label),
        mcur AS (
          SELECT label, dim,
                 CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m,
                 COUNT(*) AS n
          FROM (SELECT label, unnest(e) AS v, generate_subscripts(e, 1) AS dim
                FROM base WHERE vec_id % 2 = 1) z
          GROUP BY label, dim),
        ccur AS (SELECT label, list(m ORDER BY dim) AS ce, MAX(n) AS n
                 FROM mcur GROUP BY label)
        SELECT r.label,
               CAST(r.n AS BIGINT) AS n_ref,
               CAST(c.n AS BIGINT) AS n_cur,
               list_sum(list_transform(list_zip(r.ce, c.ce),
                 x -> (x[1] - x[2]) * (x[1] - x[2]))) AS drift_sq
        FROM cref r JOIN ccur c ON r.label = c.label
        ORDER BY r.label"""))
  ,

    // --------------------------------------------------------------- q117
    // MAD robust outliers — the third leg of the robust-stats tier
    // (q101 winsorizes on exact percentiles, s16 z-scores on mean/
    // variance): median absolute deviation is immune to the very
    // outliers it hunts, which mean/variance are not. Both medians
    // (value, then absolute deviation) are EXACT lower-median order
    // statistics via q101's rank trick; the flag is |x − med| > 5·MAD
    // in pure integer cents (the 1.4826 normal-consistency constant is
    // a float, so the threshold is stated directly in MAD units).
    // Scale: both rank windows and the final aggregate share ONE
    // event_type hash partitioning — Catalyst plans a single exchange,
    // the second window just re-sorts in place.
    QueryDef(
      "q117_mad_outliers",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
        val tw = Window.partitionBy("event_type")
        // exact lower median = the rank-(n+1)/2 order statistic
        def lowerMedian(valueCol: String) =
          min(when(col("rn") === expr("(n + 1) div 2"), col(valueCol)))
        val ranked = ev
          .withColumn("rn", row_number().over(
            tw.orderBy(col("vc"), col("event_id"))))
          .withColumn("n", count(lit(1)).over(tw))
        val med = ranked.groupBy("event_type")
          .agg(lowerMedian("vc").as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("d", abs(col("vc") - col("med")))
        val rankedDev = dev
          .withColumn("rn", row_number().over(
            tw.orderBy(col("d"), col("event_id"))))
          .withColumn("n", count(lit(1)).over(tw))
        val mad = rankedDev.groupBy("event_type")
          .agg(lowerMedian("d").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            max("med").as("median_cents"), max("mad").as("mad_cents"),
            sum(when(col("d") > col("mad") * 5, 1L).otherwise(0L)).as("n_outliers"),
            sum(when(col("d") > col("mad") * 5, col("event_id"))).as("outlier_checksum"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY vc, event_id) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM e),
        med AS (SELECT event_type,
                       MIN(CASE WHEN rn = (n + 1) // 2 THEN vc END) AS med
                FROM r1 GROUP BY event_type),
        d AS (SELECT e.event_type, e.event_id, e.vc, ABS(e.vc - m.med) AS dd,
                     m.med
              FROM e JOIN med m USING (event_type)),
        r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY dd, event_id) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM d),
        mad AS (SELECT event_type,
                       MIN(CASE WHEN rn = (n + 1) // 2 THEN dd END) AS mad
                FROM r2 GROUP BY event_type)
        SELECT d.event_type,
               COUNT(*) AS n_rows,
               CAST(MAX(d.med) AS BIGINT) AS median_cents,
               CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
               CAST(SUM(CASE WHEN d.dd > mad.mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers,
               CAST(SUM(CASE WHEN d.dd > mad.mad * 5 THEN d.event_id END) AS BIGINT)
                 AS outlier_checksum
        FROM d JOIN mad USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type""")),

    // --------------------------------------------------------------- q118
    // LOCF forward fill (last observation carried forward) — q94 fills
    // gaps with explicit ZEROS; a sensor/metric pipeline wants the last
    // KNOWN value instead. The hourly spine left-join marks missing
    // hours null, then one `last(value, ignoreNulls)` running window
    // per type carries the prior reading forward; hours before the
    // first reading stay null (there is nothing to carry — stated
    // identically in both engines). Sums carried as integer cents so
    // the filled series is hash-exact. One keyed window over the spine
    // (bounded: types × hours), partial-aggregated hourly input.
    QueryDef(
      "q118_locf_fill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourUs = expr("(ts_us div 3600000000) * 3600000000")
        val ev = Tables.events(s, dir)
        val hourly = ev
          .select(col("event_type"), hourUs.as("hour_us"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          .groupBy("event_type", "hour_us")
          .agg(sum("vc").as("sum_cents"))
        val bounds = ev.agg(min(hourUs).as("mn"), max(hourUs).as("mx"))
        val spine = ev.select("event_type").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(mn, mx, 3600000000)")).as("hour_us"))
        val w = Window.partitionBy("event_type").orderBy("hour_us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(hourly, Seq("event_type", "hour_us"), "left_outer")
          .withColumn("observed", col("sum_cents").isNotNull)
          .withColumn("filled_cents", last(col("sum_cents"), ignoreNulls = true).over(w))
          .select("event_type", "hour_us", "observed", "filled_cents")
          .orderBy("event_type", "hour_us")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000
                   AS hour_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        hourly AS (
          SELECT event_type, hour_us, CAST(SUM(vc) AS BIGINT) AS sum_cents
          FROM e GROUP BY event_type, hour_us),
        b AS (SELECT MIN(hour_us) AS mn, MAX(hour_us) AS mx FROM e),
        spine AS (
          SELECT t.event_type, CAST(h.h AS BIGINT) AS hour_us
          FROM (SELECT DISTINCT event_type FROM e) t
          CROSS JOIN (SELECT UNNEST(range(
            (SELECT mn FROM b), (SELECT mx FROM b) + 1, 3600000000)) AS h) h)
        SELECT s.event_type, s.hour_us,
               sum_cents IS NOT NULL AS observed,
               last_value(sum_cents IGNORE NULLS) OVER (
                 PARTITION BY s.event_type ORDER BY s.hour_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS filled_cents
        FROM spine s LEFT JOIN hourly USING (event_type, hour_us)
        ORDER BY event_type, hour_us"""))
  ,

    // --------------------------------------------------------------- q119
    // Spearman rank correlation, exactly — quantity vs extended price
    // per return flag. Pearson needs sqrt (floats, parity risk);
    // Spearman over ranks stays in INTEGERS end to end: ties take the
    // average rank, carried doubled (min_rank + max_rank of the tie
    // block, always an integer), the statistic is the d² shortcut
    // 1 − 6·Σd²/(n(n²−1)) stated in parts-per-million with the 4×
    // scaling of doubled ranks folded into the constant (1.5e6), and
    // the product runs in decimal(38,0) (n³-sized — past int64 at
    // sf ≥ 1). Defined METRIC: the d²-shortcut over average ranks
    // (textbook tie correction would adjust the denominator; both
    // engines state the identical formula, which is the contract).
    // Scale: every window — both rank orders and both tie blocks
    // (RANGE 0..0 peer frames) — rides ONE l_returnflag hash
    // partitioning; no joins, one final aggregate.
    QueryDef(
      "q119_spearman_correlation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = Window.partitionBy("grp")
        def rank2(vCol: String, rnCol: String): org.apache.spark.sql.Column = {
          val tie = g.orderBy(col(vCol)).rangeBetween(0, 0)
          min(col(rnCol)).over(tie) + max(col(rnCol)).over(tie)
        }
        // window order matters for SORT COUNT (r14): the tie-frame
        // window over (xc) is satisfied by the (xc, k1, k2) sort that
        // rnx already established — orderingSatisfies is prefix-based —
        // so computing r2x immediately after rnx elides its sort. The
        // former rnx→rny→r2x→r2y order forced FOUR full sorts of the
        // lineitem exchange; this order pays two.
        val ranked = Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("grp"),
            col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
            expr("cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)").as("xc"),
            expr("cast(cast(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("yc"))
          .withColumn("rnx", row_number().over(g.orderBy("xc", "k1", "k2")).cast("long"))
          .withColumn("r2x", rank2("xc", "rnx"))
          .withColumn("rny", row_number().over(g.orderBy("yc", "k1", "k2")).cast("long"))
          .withColumn("r2y", rank2("yc", "rny"))
        ranked.groupBy("grp")
          .agg(count(lit(1)).as("n"),
            sum(expr("(r2x - r2y) * (r2x - r2y)")).as("d2sum"))
          .select(col("grp"), col("n"),
            expr("""cast(1000000 - (CAST(d2sum AS DECIMAL(38,0)) * 1500000)
                         div (n * (n * n - 1)) AS BIGINT)""").as("rho_ppm"))
          .orderBy("grp")
      },
      Some("""
        WITH e AS (
          SELECT l_returnflag AS grp, l_orderkey AS k1, l_linenumber AS k2,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
          FROM lineitem),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY grp ORDER BY xc, k1, k2) AS rnx,
            row_number() OVER (PARTITION BY grp ORDER BY yc, k1, k2) AS rny
          FROM e),
        r2 AS (
          SELECT grp,
            MIN(rnx) OVER wx + MAX(rnx) OVER wx AS r2x,
            MIN(rny) OVER wy + MAX(rny) OVER wy AS r2y
          FROM r
          WINDOW wx AS (PARTITION BY grp ORDER BY xc
                        RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING),
                 wy AS (PARTITION BY grp ORDER BY yc
                        RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING))
        SELECT grp, COUNT(*) AS n,
               -- HUGEINT, not DECIMAL: DuckDB's decimal // rounds the
               -- quotient at the result scale before flooring (observed
               -- +1 at sf0.01); int128 division is exact like Spark's
               -- decimal divideToIntegralValue
               CAST(1000000 - (CAST(SUM((r2x - r2y) * (r2x - r2y))
                                    AS HUGEINT) * 1500000)
                    // (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) AS BIGINT)
                 AS rho_ppm
        FROM r2
        GROUP BY grp
        ORDER BY grp"""))
  ,

    // --------------------------------------------------------------- q122
    // Equi-DEPTH histogram — q70's equi-width twin and the statistic
    // CBO engines actually store (equal-count buckets adapt to the
    // distribution; equal-width buckets starve in the tails). Bucket
    // assignment is pure integer rank arithmetic — (rn−1)·k div n —
    // on q101's rank machinery; the report is each bucket's population
    // and [lo, hi] value bounds. One rank window + one aggregate on
    // the same event_type exchange.
    QueryDef(
      "q122_equidepth_histogram",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tw = Window.partitionBy("event_type")
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          .withColumn("rn", row_number().over(
            tw.orderBy(col("vc"), col("event_id"))).cast("long"))
          .withColumn("n", count(lit(1)).over(tw))
          .withColumn("bucket", expr("(rn - 1) * 8 div n"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("vc").as("lo_cents"), max("vc").as("hi_cents"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
                      ORDER BY vc, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM e)
        SELECT event_type, (rn - 1) * 8 // n AS bucket,
               COUNT(*) AS n_rows,
               CAST(MIN(vc) AS BIGINT) AS lo_cents,
               CAST(MAX(vc) AS BIGINT) AS hi_cents
        FROM r
        GROUP BY event_type, bucket
        ORDER BY event_type, bucket""")),

    // --------------------------------------------------------------- q123
    // Exact least-squares trend slope per event type — value (cents)
    // regressed on event-time (hours), the drift detector behind
    // "is this metric creeping up?". The closed form
    // (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) runs entirely in integers: hours
    // are CENTERED per group (x′ = x − min x, one window min on the
    // same exchange) to keep magnitudes sane, sums are plain longs,
    // and the two n²-scale products go through decimal(38,0) /
    // HUGEINT with exact integral division (the q119 discipline).
    // Slope surfaces as micro-cents per hour (ppm).
    QueryDef(
      "q123_trend_slope",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tw = Window.partitionBy("event_type")
        Tables.events(s, dir)
          .select(col("event_type"),
            expr("ts_us div 3600000000").as("xh"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("yc"))
          .withColumn("x", col("xh") - min("xh").over(tw))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum("yc").as("sy"),
            sum(expr("x * yc")).as("sxy"), sum(expr("x * x")).as("sxx"))
          .select(col("event_type"), col("n"),
            expr("""cast((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                         * 1000000
                         div (CAST(n AS DECIMAL(38,0)) * sxx
                              - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
              .as("slope_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS xh,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
          FROM events),
        c AS (
          SELECT event_type,
                 xh - MIN(xh) OVER (PARTITION BY event_type) AS x, yc
          FROM e),
        a AS (
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(yc) AS HUGEINT) AS sy,
                 CAST(SUM(x * yc) AS HUGEINT) AS sxy,
                 CAST(SUM(x * x) AS HUGEINT) AS sxx
          FROM c GROUP BY event_type)
        SELECT event_type, n,
               CAST(((n * sxy - sx * sy) * 1000000)
                    // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
        FROM a
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q148
    // Exact WEIGHTED median per group — extended price weighted by
    // quantity per return flag: the order statistic where half the
    // total WEIGHT sits at or below the value (a plain median treats a
    // 1-unit and a 50-unit line item alike; inventory/pricing wants the
    // quantity-weighted cut). Pure integer arithmetic in cents: one
    // keyed cumulative-weight window (ascending value, ties broken by
    // the line key but the crossing value is tie-order-invariant), a
    // broadcast 3-row total join, then the first value whose doubled
    // cumulative weight reaches the total. Scale shape: the window and
    // the final min-aggregate ride the same grp partitioning; the only
    // other movement is the slim totals broadcast.
    QueryDef(
      "q148_weighted_median",
      (s, dir) => {
        val base = Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("grp"),
            col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
            expr("cast(cast(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("vc"),
            expr("cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("wt"))
        // NOTE (r15): the q162 count-grid rewrite (crossing over
        // per-(grp, vc) weight sums instead of rows) was measured HERE
        // and rejected: extendedprice cents are ~99% distinct per flag
        // (198k of 200k values at sf0.1, DuckDB-counted), so the
        // pre-aggregation shrinks nothing and its extra exchange+agg
        // measured flat-to-slower (iso warm-min 1.94 → 2.05 s). The
        // 3-partition window stays the known bounded-partition-count
        // scale limit of an exact weighted median over a continuous
        // value domain; the scalable formulation at 100 TB is a fixed
        // value GRID (the q127 histogram family), which changes the
        // statistic and therefore the oracle.
        val w = Window.partitionBy("grp").orderBy("vc", "k1", "k2")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("grp"))
          .agg(expr("sum(cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))")
            .as("totw"))
        base.withColumn("cumw", sum("wt").over(w))
          .join(broadcast(tot), "grp")
          .filter(col("cumw") * 2 >= col("totw"))
          .groupBy("grp")
          .agg(min("vc").as("wmedian_cents"), max("totw").as("total_weight"))
          .orderBy("grp")
      },
      Some("""
        WITH e AS (
          SELECT l_returnflag AS grp, l_orderkey AS k1, l_linenumber AS k2,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS vc,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS wt
          FROM lineitem),
        c AS (
          SELECT grp, vc, wt,
                 SUM(wt) OVER (PARTITION BY grp ORDER BY vc, k1, k2
                               ROWS UNBOUNDED PRECEDING) AS cumw
          FROM e),
        t AS (SELECT grp, CAST(SUM(wt) AS BIGINT) AS totw FROM e GROUP BY grp)
        SELECT c.grp AS grp,
               CAST(MIN(vc) AS BIGINT) AS wmedian_cents,
               CAST(MAX(totw) AS BIGINT) AS total_weight
        FROM c JOIN t ON c.grp = t.grp
        WHERE cumw * 2 >= totw
        GROUP BY c.grp
        ORDER BY grp"""))
  ,

    // --------------------------------------------------------------- q155
    // Classifier evaluation metrics — the eval half of a training-data
    // pipeline: per-class true/false positives and negatives, precision
    // and recall in ppm, plus micro accuracy, over a DETERMINISTIC
    // pseudo-model (every 10th event's predicted label shifts to the
    // next event type in lexical order — both engines derive the same
    // predictions from the fixture, so the confusion matrix is data,
    // not randomness). Shape: one (label, prediction) count aggregate
    // (bounded types²), then per-class rollups on the tiny matrix —
    // the metrics stage costs one map-side-combined shuffle no matter
    // the corpus size.
    QueryDef(
      "q155_classification_metrics",
      (s, dir) => {
        val cm = annotatorConfusion(s, dir, 10, "label", "pred")
        val tp = cm.filter(col("label") === col("pred"))
          .select(col("label").as("cls"), col("n").as("tp"))
        val byLabel = cm.groupBy(col("label").as("cls"))
          .agg(sum("n").as("n_actual"))
        val byPred = cm.groupBy(col("pred").as("cls"))
          .agg(sum("n").as("n_predicted"))
        byLabel.join(byPred, "cls").join(tp, "cls")
          .select(col("cls"), col("tp"), col("n_actual"), col("n_predicted"),
            expr("tp * 1000000 div n_predicted").as("precision_ppm"),
            expr("tp * 1000000 div n_actual").as("recall_ppm"))
          .orderBy("cls")
      },
      Some("""
        WITH p AS (
          SELECT event_type AS label,
                 CASE WHEN event_id % 10 = 0 THEN
                   CASE event_type
                     WHEN 'click' THEN 'error'
                     WHEN 'error' THEN 'purchase'
                     WHEN 'purchase' THEN 'signup'
                     WHEN 'signup' THEN 'view'
                     WHEN 'view' THEN 'click' END
                 ELSE event_type END AS pred
          FROM events),
        cm AS (SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
               FROM p GROUP BY 1, 2),
        tp AS (SELECT label AS cls, n AS tp FROM cm WHERE label = pred),
        a AS (SELECT label AS cls, CAST(SUM(n) AS BIGINT) AS n_actual
              FROM cm GROUP BY 1),
        pr AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS n_predicted
               FROM cm GROUP BY 1)
        SELECT cls, tp, n_actual, n_predicted,
               tp * 1000000 // n_predicted AS precision_ppm,
               tp * 1000000 // n_actual AS recall_ppm
        FROM a JOIN pr USING (cls) JOIN tp USING (cls)
        ORDER BY cls""")),

    // --------------------------------------------------------------- q176
    // Single-pass audit via the Observation API — at 100 TB the naive
    // "report + audit" pattern scans the fact table twice; `observe`
    // attaches commutative audit aggregates (row count, exact cents
    // total, min/max) to the SAME scan that feeds the per-flag report,
    // so the audit is free. The collected rollup is bounded (3 return
    // flags) and the observed metrics arrive on the driver with the
    // action (observe is a plan no-op — the audit adds no scan or
    // shuffle). The result carries both the report and its audit
    // columns; SqlBreadthSpec asserts they reconcile exactly and the
    // oracle recomputes both relationally.
    QueryDef(
      "q176_observed_metrics",
      (s, dir) => {
        import s.implicits._
        val obs = new org.apache.spark.sql.Observation(
          "g176_" + java.util.UUID.randomUUID().toString.take(8))
        val main = Tables(s, dir, "lineitem")
          .filter(col("l_quantity") > 0)
          .select(col("l_returnflag"),
            expr("cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("qc"))
          .observe(obs, count(lit(1)).as("n_rows"), sum("qc").as("total_qc"),
            min("qc").as("min_qc"), max("qc").as("max_qc"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_lines"), sum("qc").as("sum_qc"))
        val rollup = main.collect() // bounded: 3 return flags
        val m = obs.get
        val audit = Seq((m("n_rows").asInstanceOf[Long],
            m("total_qc").asInstanceOf[Long],
            m("min_qc").asInstanceOf[Long],
            m("max_qc").asInstanceOf[Long]))
          .toDF("audit_n_rows", "audit_total_qc", "audit_min_qc", "audit_max_qc")
        s.createDataFrame(java.util.Arrays.asList(rollup: _*), main.schema)
          .crossJoin(broadcast(audit))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH src AS (
          SELECT l_returnflag,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc
          FROM lineitem WHERE l_quantity > 0),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS audit_n_rows,
                 CAST(SUM(qc) AS BIGINT) AS audit_total_qc,
                 MIN(qc) AS audit_min_qc, MAX(qc) AS audit_max_qc
          FROM src)
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(qc) AS BIGINT) AS sum_qc,
               audit_n_rows, audit_total_qc, audit_min_qc, audit_max_qc
        FROM src, a
        GROUP BY l_returnflag, audit_n_rows, audit_total_qc,
                 audit_min_qc, audit_max_qc
        ORDER BY l_returnflag"""))
  ,

    // --------------------------------------------------------------- q187
    // Declarative data-quality constraint suite (the Deequ pattern) —
    // a contract of five named checks over `orders`, all measured in
    // ONE aggregate pass and emitted as a long (constraint, metric,
    // passed) result table: completeness of the FK column, key
    // uniqueness, domain conformity of the status code, a positive
    // price range check, and the priority-code shape check (pinned
    // with substring + set membership, not regex, so both engines
    // apply the byte-identical predicate). Metrics are exact ppm.
    // Scale shape: a single map-side-combining aggregate over the
    // table computes every metric at once — five checks cost one scan,
    // the way a 100 TB contract run must (the distinct count for
    // uniqueness is the only part with reduce-side state, keyed by
    // o_orderkey). stack() pivots the one metrics row into the
    // result contract.
    QueryDef(
      "q187_quality_constraints",
      (s, dir) => {
        Tables(s, dir, "orders")
          .agg(count(lit(1)).as("n"),
            count(col("o_custkey")).as("nn_cust"),
            countDistinct(col("o_orderkey")).as("d_ok"),
            expr("count_if(o_orderstatus IN ('F', 'O', 'P'))").as("c_status"),
            expr("count_if(o_totalprice > 0)").as("c_price"),
            expr("""count_if(substring(o_orderpriority, 1, 1)
                              IN ('1', '2', '3', '4', '5')
                            AND substring(o_orderpriority, 2, 1) = '-')""")
              .as("c_prio"))
          .select(expr("""stack(5,
              'completeness(o_custkey)',        nn_cust * 1000000 div n,
              'uniqueness(o_orderkey)',         d_ok * 1000000 div n,
              'domain(o_orderstatus)',          c_status * 1000000 div n,
              'range(o_totalprice > 0)',        c_price * 1000000 div n,
              'pattern(o_orderpriority)',       c_prio * 1000000 div n)
            AS (check_name, metric_ppm)"""))
          .withColumn("passed", col("metric_ppm") === 1000000L)
          .orderBy("check_name")
      },
      Some("""
        WITH m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(o_custkey) AS BIGINT) AS nn_cust,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_ok,
                 CAST(count_if(o_orderstatus IN ('F', 'O', 'P'))
                   AS BIGINT) AS c_status,
                 CAST(count_if(o_totalprice > 0) AS BIGINT) AS c_price,
                 CAST(count_if(substring(o_orderpriority, 1, 1)
                                 IN ('1', '2', '3', '4', '5')
                               AND substring(o_orderpriority, 2, 1) = '-')
                   AS BIGINT) AS c_prio
          FROM orders),
        u AS (
          SELECT 'completeness(o_custkey)' AS check_name,
                 nn_cust * 1000000 // n AS metric_ppm FROM m
          UNION ALL
          SELECT 'uniqueness(o_orderkey)', d_ok * 1000000 // n FROM m
          UNION ALL
          SELECT 'domain(o_orderstatus)', c_status * 1000000 // n FROM m
          UNION ALL
          SELECT 'range(o_totalprice > 0)', c_price * 1000000 // n FROM m
          UNION ALL
          SELECT 'pattern(o_orderpriority)', c_prio * 1000000 // n FROM m)
        SELECT check_name, CAST(metric_ppm AS BIGINT) AS metric_ppm,
               metric_ppm = 1000000 AS passed
        FROM u
        ORDER BY check_name""")),

    // --------------------------------------------------------------- q198
    // l-diversity audit — q100's k-anonymity sibling: a quasi-identifier
    // group can be large (k-anonymous) yet still leak if everyone in it
    // shares the same SENSITIVE value, so each (nationkey, mktsegment)
    // group is scored by how many distinct account-balance bands its
    // members span, and groups under l = 3 bands are flagged with their
    // exposed row counts. Two keyed aggregates, both partial-combining
    // map-side; the group table is bounded by the quasi-identifier
    // domain, so the rollup is metadata-sized at any customer count.
    QueryDef(
      "q198_l_diversity",
      (s, dir) => {
        val groups = Tables(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            expr("cast(floor(c_acctbal / 1000) AS BIGINT)").as("band"))
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("band")).as("diversity"))
        groups.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_groups"),
            expr("count_if(diversity < 3)").as("n_low_diversity"),
            sum(when(col("diversity") < 3, col("n")).otherwise(0L))
              .as("n_exposed_rows"),
            min("diversity").as("min_diversity"))
          .orderBy("c_mktsegment")
      },
      Some("""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                 COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                   AS diversity
          FROM customer GROUP BY 1, 2)
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(count_if(diversity < 3) AS BIGINT) AS n_low_diversity,
               CAST(SUM(CASE WHEN diversity < 3 THEN n ELSE 0 END) AS BIGINT)
                 AS n_exposed_rows,
               CAST(MIN(diversity) AS BIGINT) AS min_diversity
        FROM g GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // --------------------------------------------------------------- q208
    // Whole-schema referential integrity — every foreign-key edge of
    // the star schema checked in one report: child rows whose key finds
    // no parent, per edge. Each edge is a LEFT ANTI join (the parent
    // side reduces to its distinct key column first, so what
    // broadcasts/shuffles is keys, never rows), and the per-edge
    // verdict is a one-row aggregate — seven bounded rows union into
    // the report. At 100 TB each anti join is exactly the shape the
    // optimizer handles best: equi-key, null-safe, slim build side;
    // checking the whole schema costs one pass per fact table.
    QueryDef(
      "q208_referential_integrity",
      (s, dir) => {
        def edge(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
            parent: org.apache.spark.sql.DataFrame, pk: String) = {
          val orphans = child.select(col(ck))
            .join(parent.select(col(pk)).distinct(),
              col(ck) === col(pk), "left_anti")
          orphans.agg(count(lit(1)).as("n_orphans"))
            .select(lit(name).as("fk_edge"), col("n_orphans"))
        }
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val su = Tables(s, dir, "supplier")
        val n = Tables(s, dir, "nation")
        Seq(
          edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
          edge("lineitem.l_partkey->part", li, "l_partkey",
            Tables(s, dir, "part"), "p_partkey"),
          edge("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
          edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
          edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
          edge("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey"),
          edge("nation.n_regionkey->region", n, "n_regionkey",
            Tables(s, dir, "region"), "r_regionkey"))
          .reduce(_ unionAll _)
          .withColumn("intact", col("n_orphans") === 0L)
          .orderBy("fk_edge")
      },
      Some("""
        WITH e AS (
          SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM orders o
                                    WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM part p
                                    WHERE p.p_partkey = l.l_partkey))
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                    WHERE s.s_suppkey = l.l_suppkey))
          UNION ALL
          SELECT 'orders.o_custkey->customer',
                 (SELECT COUNT(*) FROM orders o
                  WHERE NOT EXISTS (SELECT 1 FROM customer c
                                    WHERE c.c_custkey = o.o_custkey))
          UNION ALL
          SELECT 'customer.c_nationkey->nation',
                 (SELECT COUNT(*) FROM customer c
                  WHERE NOT EXISTS (SELECT 1 FROM nation n
                                    WHERE n.n_nationkey = c.c_nationkey))
          UNION ALL
          SELECT 'supplier.s_nationkey->nation',
                 (SELECT COUNT(*) FROM supplier s
                  WHERE NOT EXISTS (SELECT 1 FROM nation n
                                    WHERE n.n_nationkey = s.s_nationkey))
          UNION ALL
          SELECT 'nation.n_regionkey->region',
                 (SELECT COUNT(*) FROM nation n
                  WHERE NOT EXISTS (SELECT 1 FROM region r
                                    WHERE r.r_regionkey = n.n_regionkey)))
        SELECT fk_edge, CAST(n_orphans AS BIGINT) AS n_orphans,
               n_orphans = 0 AS intact
        FROM e
        ORDER BY fk_edge"""))
  ,

    // --------------------------------------------------------------- q247
    // Column-statistics DRIFT between snapshots — the data-quality
    // monitor that catches "the upstream feed changed shape" before a
    // model does: the fixture's first 15 days are the BEFORE snapshot,
    // the rest AFTER, and per pinned metric (row count, distinct users,
    // distinct types, value min/max/sum in cents) the relative change
    // lands as abs-delta ppm of the before value (operands kept
    // non-negative — Spark div and DuckDB // agree only there) with a
    // direction tag and a >10% drift verdict. ONE conditional aggregate
    // computes both snapshots in a single pass (no second scan); the
    // metric unpivot is a bounded literal explode.
    QueryDef(
      "q247_stats_drift",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"),
            expr("ts_us div 86400000000").as("day"))
        val cut = ev.agg((min("day") + 15L).as("cut"))
        val wide = ev.crossJoin(broadcast(cut))
          .withColumn("is_b", col("day") < col("cut"))
          .agg(
            expr("count_if(is_b)").as("b_rows"),
            expr("count_if(NOT is_b)").as("a_rows"),
            expr("count(DISTINCT CASE WHEN is_b THEN user_id END)").as("b_users"),
            expr("count(DISTINCT CASE WHEN NOT is_b THEN user_id END)").as("a_users"),
            expr("count(DISTINCT CASE WHEN is_b THEN event_type END)").as("b_types"),
            expr("count(DISTINCT CASE WHEN NOT is_b THEN event_type END)").as("a_types"),
            expr("min(CASE WHEN is_b THEN vc END)").as("b_min"),
            expr("min(CASE WHEN NOT is_b THEN vc END)").as("a_min"),
            expr("max(CASE WHEN is_b THEN vc END)").as("b_max"),
            expr("max(CASE WHEN NOT is_b THEN vc END)").as("a_max"),
            expr("sum(CASE WHEN is_b THEN vc ELSE 0 END)").as("b_sum"),
            expr("sum(CASE WHEN NOT is_b THEN vc ELSE 0 END)").as("a_sum"))
        wide.select(explode(expr("""array(
            struct('n_rows' AS metric, b_rows AS before, a_rows AS after),
            struct('n_users' AS metric, b_users AS before, a_users AS after),
            struct('n_types' AS metric, b_types AS before, a_types AS after),
            struct('min_cents' AS metric, b_min AS before, a_min AS after),
            struct('max_cents' AS metric, b_max AS before, a_max AS after),
            struct('sum_cents' AS metric, b_sum AS before, a_sum AS after))""")).as("m"))
          .select(col("m.metric").as("metric"),
            col("m.before").as("before"), col("m.after").as("after"))
          .withColumn("delta_ppm",
            expr("abs(after - before) * 1000000 div nullif(before, 0)"))
          .withColumn("direction", expr(
            """CASE WHEN after > before THEN 'up'
                    WHEN after < before THEN 'down' ELSE 'flat' END"""))
          .withColumn("drifted", col("delta_ppm") > 100000L)
          .orderBy("metric")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events),
        cut AS (SELECT MIN(day) + 15 AS cut FROM ev),
        wide AS (
          SELECT
            CAST(count_if(day < cut) AS BIGINT) AS b_rows,
            CAST(count_if(day >= cut) AS BIGINT) AS a_rows,
            CAST(COUNT(DISTINCT CASE WHEN day < cut THEN user_id END)
              AS BIGINT) AS b_users,
            CAST(COUNT(DISTINCT CASE WHEN day >= cut THEN user_id END)
              AS BIGINT) AS a_users,
            CAST(COUNT(DISTINCT CASE WHEN day < cut THEN event_type END)
              AS BIGINT) AS b_types,
            CAST(COUNT(DISTINCT CASE WHEN day >= cut THEN event_type END)
              AS BIGINT) AS a_types,
            MIN(CASE WHEN day < cut THEN vc END) AS b_min,
            MIN(CASE WHEN day >= cut THEN vc END) AS a_min,
            MAX(CASE WHEN day < cut THEN vc END) AS b_max,
            MAX(CASE WHEN day >= cut THEN vc END) AS a_max,
            CAST(SUM(CASE WHEN day < cut THEN vc ELSE 0 END) AS BIGINT) AS b_sum,
            CAST(SUM(CASE WHEN day >= cut THEN vc ELSE 0 END) AS BIGINT) AS a_sum
          FROM ev CROSS JOIN cut),
        longf AS (
          SELECT 'n_rows' AS metric, b_rows AS before, a_rows AS after FROM wide
          UNION ALL SELECT 'n_users', b_users, a_users FROM wide
          UNION ALL SELECT 'n_types', b_types, a_types FROM wide
          UNION ALL SELECT 'min_cents', b_min, a_min FROM wide
          UNION ALL SELECT 'max_cents', b_max, a_max FROM wide
          UNION ALL SELECT 'sum_cents', b_sum, a_sum FROM wide)
        SELECT metric, before, after,
               abs(after - before) * 1000000 // nullif(before, 0) AS delta_ppm,
               CASE WHEN after > before THEN 'up'
                    WHEN after < before THEN 'down' ELSE 'flat' END AS direction,
               abs(after - before) * 1000000 // nullif(before, 0) > 100000
                 AS drifted
        FROM longf
        ORDER BY metric"""))
  ,

    // --------------------------------------------------------------- q248
    // Expectation-suite evaluation — Great-Expectations-style data
    // contracts as DATA: five pinned rules (range bound, domain
    // membership, key positivity, non-null, a business floor) evaluate
    // in ONE pass as conditional counts, and each reports checked /
    // violations / ppm / a GRADED pass|warn|fail status (0 → pass,
    // ≤1% → warn, else fail). Complements q187's Deequ-style metric
    // suite: q187 MEASURES check metrics, this GRADES thresholds the
    // way a deploy gate consumes them — and s35 is its streaming twin,
    // the same rules applied at ingest with zero state. One scan + one
    // bounded unpivot regardless of rule count.
    QueryDef(
      "q248_quality_expectations",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("value"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
        val wide = ev.agg(
          count(lit(1)).as("n"),
          expr("count_if(vc < 1 OR vc > 45000)").as("v1"),
          expr("""count_if(event_type NOT IN
                   ('view','click','purchase','error','signup'))""").as("v2"),
          expr("count_if(user_id < 1)").as("v3"),
          expr("count_if(value IS NULL)").as("v4"),
          expr("count_if(event_type = 'purchase' AND vc < 500)").as("v5"))
        qualityReport(wide)
      },
      Some(qualityOracle))
  ,

    // --------------------------------------------------------------- q255
    // Hashed-ngram LINEAR quality classifier INFERENCE (VERDICT r7
    // item 4) — the fastText-style learned gate every curation stack
    // runs next to its rule gate (q248): a weight table keyed by HASHED
    // char-3grams (4096 buckets, md5-derived so the oracle hashes
    // identically) is broadcast, and each document's score is an integer
    // dot product in ppm — sum of its gram-bucket weights over its gram
    // count. Weights here are distilled in-query from a deterministic
    // seed rule (lexical diversity: 2·|distinct words| ≥ |words| — the
    // smoothed per-bucket P(good) in ppm), standing in for the offline-
    // trained vector a production run ships; the inference path is the
    // NATIVE codegen scorer graft_classifier_score (VERDICT r13
    // item 3, shared with s39/s49): the vocabulary-sized weight table
    // is collected ONCE (≤ 4096 rows — the merges-table discipline)
    // and folds into a dense long[4096] inside the expression, so each
    // doc is scored in one narrow per-row projection — no gram
    // explode, no join, no per-doc aggregate. Plan-asserted in
    // ScaleSpec. Keep/drop thresholds at the gram-occurrence prior
    // (single-row broadcast), and the per-source rollup carries the
    // confusion matrix vs the seed label, so the gate's agreement with
    // its teacher is part of the audited output.
    // 100 TB: nothing doc-grained ever shuffles — scoring is a
    // stateless map and the only exchange is the per-source rollup;
    // the model artifact is O(buckets), shipped with the plan exactly
    // like the broadcast vector a production scorer loads.
    QueryDef(
      "q255_hashed_ngram_classifier",
      (s, dir) => {
        // weights come from the session-shared registry: trained once
        // from the shared gram frame, consumed by q255/q262/q264/q268/
        // s39 (the PairGraph discipline — see ClassifierArtifacts)
        val scored = classifierScored(Tables(s, dir, "documents"),
          ClassifierArtifacts.weightMap(s, dir))
        // threshold = the GRAM-OCCURRENCE prior, the same measure the
        // weights live in (a doc-level prior sits systematically above
        // almost every score because low-diversity docs are longer and
        // contribute more gram mass — measured: it keeps nothing)
        val prior = ClassifierArtifacts.prior(s, dir)
        classifierReport(scored.crossJoin(broadcast(prior))
          .withColumn("keep", col("score_ppm") >= col("thr_ppm")))
      },
      Some(classifierOracle))
  ,

    // --------------------------------------------------------------- q258
    // Cohen's KAPPA inter-annotator agreement — the label-quality audit
    // next to q155's classifier metrics: where q155 scores a model
    // against truth, kappa scores two ANNOTATORS against each other
    // with agreement-by-chance subtracted — the number a labeling
    // campaign reports before trusting its labels. Two deterministic
    // pseudo-annotators over events (annotator B disagrees on every 7th
    // event, shifting to the next type in lexical order — both engines
    // derive identical labels from the fixture), so the confusion
    // matrix is data, not randomness. All integer: po and pe in ppm
    // from exact marginal products (pe's n²-bounded Σ n_a·n_b ×10⁶
    // fits int64 up to ~3·10⁶ events; DECIMAL(38) beyond — stated),
    // kappa in ppm via
    // one truncating division pinned in both engines. Shape: ONE
    // bounded types² confusion aggregate; marginals, diagonal and the
    // kappa scalar all derive from the tiny matrix — single-row
    // broadcasts, no second corpus pass.
    QueryDef(
      "q258_cohens_kappa",
      (s, dir) => {
        val cm = annotatorConfusion(s, dir, 7, "a", "b")
        val perClass = annotatorMarginals(cm)
        val scalars = perClass.agg(
            sum("n_a").as("n"), sum("n_agree").as("agree"),
            sum(col("n_a") * col("n_b")).as("pe_num"))
          .select(expr("agree * 1000000 div n").as("po_ppm"),
            expr("pe_num * 1000000 div (n * n)").as("pe_ppm"))
          .select(col("po_ppm"), col("pe_ppm"),
            expr("(po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)")
              .as("kappa_ppm"))
        perClass.crossJoin(broadcast(scalars))
          .select(col("cls"), col("n_a"), col("n_b"), col("n_agree"),
            col("po_ppm"), col("pe_ppm"), col("kappa_ppm"))
          .orderBy("cls")
      },
      Some("""
        WITH p AS (
          SELECT event_type AS a,
                 CASE WHEN event_id % 7 = 0 THEN
                   CASE event_type
                     WHEN 'click' THEN 'error'
                     WHEN 'error' THEN 'purchase'
                     WHEN 'purchase' THEN 'signup'
                     WHEN 'signup' THEN 'view'
                     WHEN 'view' THEN 'click' END
                 ELSE event_type END AS b
          FROM events),
        cm AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY a, b),
        ma AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS n_a
               FROM cm GROUP BY a),
        mb AS (SELECT b AS cls, CAST(SUM(n) AS BIGINT) AS n_b
               FROM cm GROUP BY b),
        dg AS (SELECT a AS cls, n AS n_agree FROM cm WHERE a = b),
        pc AS (
          SELECT cls, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
                 COALESCE(n_agree, 0) AS n_agree
          FROM ma FULL JOIN mb USING (cls) LEFT JOIN dg USING (cls)),
        sc AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS n,
                 CAST(SUM(n_agree) AS BIGINT) AS agree,
                 CAST(SUM(n_a * n_b) AS BIGINT) AS pe_num
          FROM pc),
        kk AS (
          SELECT po_ppm, pe_ppm,
                 (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
                   AS kappa_ppm
          FROM (SELECT agree * 1000000 // n AS po_ppm,
                       pe_num * 1000000 // (n * n) AS pe_ppm
                FROM sc))
        SELECT cls, n_a, n_b, n_agree,
               (SELECT po_ppm FROM kk) AS po_ppm,
               (SELECT pe_ppm FROM kk) AS pe_ppm,
               (SELECT kappa_ppm FROM kk) AS kappa_ppm
        FROM pc
        ORDER BY cls"""))
  ,

    // --------------------------------------------------------------- q259
    // Token-overlap F1 evaluation — the SQuAD-style answer scorer run
    // at corpus scale: per sample, MULTISET token overlap between a
    // prediction and its gold text (Σ min(count_pred, count_gold) per
    // token — an equi-join on (doc_id, token), never a cross join),
    // precision/recall/F1 in exact ppm, rolled up per source as both
    // MICRO (from pooled counts) and MACRO (mean of per-doc F1) — the
    // two numbers every eval harness reports and mixes up. Predictions
    // are a deterministic corruption of gold (every 5th doc loses its
    // last word, every 7th its first) so both engines derive identical
    // pairs. F1 composed as 2·p·r div (p+r) entirely in ppm integers.
    QueryDef(
      "q259_token_f1_eval",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text").as("gold"),
            when(col("doc_id") % 5 === 0,
                regexp_replace(col("text"), " \\S+$", ""))
              .otherwise(col("text")).as("p0"))
          .select(col("doc_id"), col("source"), col("gold"),
            when(col("doc_id") % 7 === 0,
                regexp_replace(col("p0"), "^\\S+ ", ""))
              .otherwise(col("p0")).as("pred"))
        def counts(c: String, out: String): DataFrame = d
          .select(col("doc_id"), col("source"),
            explode(split(col(c), " ")).as("tok"))
          .groupBy("doc_id", "source", "tok")
          .agg(count(lit(1)).as(out))
        val g = counts("gold", "cg")
        val p = counts("pred", "cp")
        val overlap = g.join(p, Seq("doc_id", "source", "tok"))
          .groupBy("doc_id", "source")
          .agg(sum(least(col("cg"), col("cp"))).as("ov"))
        val perDoc = d
          .select(col("doc_id"), col("source"),
            size(split(col("gold"), " ")).cast("long").as("ng"),
            size(split(col("pred"), " ")).cast("long").as("np"))
          .join(overlap, Seq("doc_id", "source"), "left")
          .withColumn("ov", coalesce(col("ov"), lit(0L)))
          .withColumn("p_ppm", expr("ov * 1000000 div np"))
          .withColumn("r_ppm", expr("ov * 1000000 div ng"))
          .withColumn("f1_ppm",
            expr("2 * p_ppm * r_ppm div nullif(p_ppm + r_ppm, 0)"))
          .persist(MEMORY_AND_DISK)
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("ov").as("ov"), sum("np").as("np"), sum("ng").as("ng"),
            sum("f1_ppm").as("f1_sum"))
          .select(col("source"), col("n_docs"),
            expr("ov * 1000000 div np").as("micro_p_ppm"),
            expr("ov * 1000000 div ng").as("micro_r_ppm"),
            expr("""2 * (ov * 1000000 div np) * (ov * 1000000 div ng)
                    div nullif(ov * 1000000 div np + ov * 1000000 div ng, 0)""")
              .as("micro_f1_ppm"),
            expr("f1_sum div n_docs").as("macro_f1_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH d AS MATERIALIZED (
          SELECT doc_id, source, text AS gold,
                 CASE WHEN doc_id % 7 = 0 THEN regexp_replace(p0, '^\S+ ', '')
                      ELSE p0 END AS pred
          FROM (SELECT doc_id, source, text,
                       CASE WHEN doc_id % 5 = 0
                            THEN regexp_replace(text, ' \S+$', '')
                            ELSE text END AS p0
                FROM documents)),
        g AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS cg
              FROM (SELECT doc_id, source,
                           unnest(string_split(gold, ' ')) AS tok FROM d)
              GROUP BY doc_id, source, tok),
        p AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS cp
              FROM (SELECT doc_id, source,
                           unnest(string_split(pred, ' ')) AS tok FROM d)
              GROUP BY doc_id, source, tok),
        ov AS (SELECT doc_id, source,
                      CAST(SUM(LEAST(cg, cp)) AS BIGINT) AS ov
               FROM g JOIN p USING (doc_id, source, tok)
               GROUP BY doc_id, source),
        pd AS (
          SELECT d.doc_id, d.source,
                 CAST(len(string_split(gold, ' ')) AS BIGINT) AS ng,
                 CAST(len(string_split(pred, ' ')) AS BIGINT) AS np,
                 COALESCE(ov.ov, 0) AS ov
          FROM d LEFT JOIN ov ON ov.doc_id = d.doc_id),
        pf AS (
          SELECT doc_id, source, ng, np, ov,
                 ov * 1000000 // np AS p_ppm,
                 ov * 1000000 // ng AS r_ppm
          FROM pd),
        pf2 AS (
          SELECT *, 2 * p_ppm * r_ppm // NULLIF(p_ppm + r_ppm, 0) AS f1_ppm
          FROM pf)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ov) AS BIGINT) * 1000000 // CAST(SUM(np) AS BIGINT)
                 AS micro_p_ppm,
               CAST(SUM(ov) AS BIGINT) * 1000000 // CAST(SUM(ng) AS BIGINT)
                 AS micro_r_ppm,
               2 * (CAST(SUM(ov) AS BIGINT) * 1000000
                     // CAST(SUM(np) AS BIGINT))
                 * (CAST(SUM(ov) AS BIGINT) * 1000000
                     // CAST(SUM(ng) AS BIGINT))
                 // NULLIF((CAST(SUM(ov) AS BIGINT) * 1000000
                     // CAST(SUM(np) AS BIGINT))
                   + (CAST(SUM(ov) AS BIGINT) * 1000000
                     // CAST(SUM(ng) AS BIGINT)), 0) AS micro_f1_ppm,
               CAST(SUM(f1_ppm) AS BIGINT) // COUNT(*) AS macro_f1_ppm
        FROM pf2
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q262
    // Batch PERCEPTRON TRAINING over hashed n-gram features — the
    // trainer half of q255's learned gate (q255 ships a weight table;
    // this is where one comes from). Synchronized (batch) perceptron,
    // the order-independent variant that parallelizes exactly: epoch t
    // scores every doc with w_{t-1} (integer dot product over the
    // per-doc bucket counts), the misclassified set (y·score ≤ 0)
    // contributes y·count to each touched bucket, and
    // w_t = w_{t-1} + Σ updates — a plain sum, so the result is
    // bit-identical under any partitioning (the sequential perceptron's
    // row-order dependence is exactly what does NOT survive a cluster).
    // 3 epochs unrolled; per epoch the report row carries the training
    // curve (miss count, err ppm) and the weight-vector audit
    // (nonzero buckets, |w| mass, position-weighted checksum) so a
    // single drifted weight fails the hash. Shape: the (doc, bucket)
    // count table persists once; each epoch is one BROADCAST join
    // against the ≤4096-row weight table + two keyed aggregates; the
    // driver never sees a weight. Epoch 1 starts from w=0, so every
    // doc misses — stated, part of the contract.
    QueryDef(
      "q262_perceptron_training",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val c =
          ClassifierArtifacts.grams(s, dir)
            .groupBy("doc_id", "good", "b")
            .agg(count(lit(1)).as("cnt"))
            .withColumn("y", when(col("good"), 1L).otherwise(-1L))
            .persist(MEMORY_AND_DISK)
        // one-row aggregate, referenced by all three epoch reports: the
        // checkpoint stops the final drain re-running the countDistinct
        // scan of `c` once per epoch (r14; same lineage discipline as
        // the weight checkpoints below)
        val totals = c.agg(countDistinct("doc_id").as("n_docs")).localCheckpoint(true)
        var w: Option[DataFrame] = None
        val reports = (1 to 3).map { epoch =>
          val joined = w match {
            case None => c.withColumn("wv", lit(0L))
            case Some(wt) => c.join(broadcast(wt), Seq("b"), "left")
              .withColumn("wv", coalesce(col("w"), lit(0L)))
          }
          // doc_id-only (≤ n_docs rows). Checkpointed because it feeds
          // BOTH the delta semi-join (inside this epoch's weight
          // checkpoint) and the report's n_miss count — un-materialized,
          // the epoch's whole score-join subtree re-ran for each (r14:
          // the recompute was ~40% of the slot)
          val missIds = joined.groupBy("doc_id", "y")
            .agg(sum(col("wv") * col("cnt")).as("sc"))
            .filter(col("y") * col("sc") <= 0)
            .select("doc_id")
            .localCheckpoint(true)
          val delta = c.join(missIds, Seq("doc_id"), "left_semi")
            .groupBy("b").agg(sum(col("y") * col("cnt")).as("d"))
          val wNext = w match {
            case None => delta.select(col("b"), col("d").as("w"))
            case Some(wt) => wt.join(delta, Seq("b"), "full_outer")
              .select(col("b"),
                (coalesce(col("w"), lit(0L)) + coalesce(col("d"), lit(0L)))
                  .as("w"))
          }
          // eager localCheckpoint, not persist: each epoch references the
          // prior weight table TWICE (score join + weight merge), so a
          // persisted chain doubles the LOGICAL plan per epoch and every
          // action re-analyzes it against all live cache entries (the
          // q316/q297 lesson, r10). The ≤4096-row table checkpoints to a
          // leaf for pennies.
          val wP = wNext.localCheckpoint(true)
          w = Some(wP)
          missIds.agg(count(lit(1)).as("n_miss"))
            .crossJoin(wP.agg(
              sum(when(col("w") =!= 0L, 1L).otherwise(0L)).as("w_nonzero"),
              sum(abs(col("w"))).as("w_abs_sum"),
              sum(col("w") * (col("b") + 1)).as("w_checksum")))
            .crossJoin(totals)
            .select(lit(epoch).as("epoch"), col("n_miss"), col("n_docs"),
              expr("n_miss * 1000000 div n_docs").as("err_ppm"),
              col("w_nonzero"), col("w_abs_sum"), col("w_checksum"))
        }
        reports.reduce(_ unionByName _).orderBy("epoch")
      },
      Some("""
        WITH g AS MATERIALIZED (
          SELECT doc_id,
                 2 * len(list_distinct(string_split(text, ' ')))
                   >= len(string_split(text, ' ')) AS good,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b
          FROM (SELECT doc_id, text,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        c AS MATERIALIZED (
          SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CASE WHEN good THEN 1 ELSE -1 END AS y
          FROM g GROUP BY doc_id, good, b),
        tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM c),
        m1 AS (SELECT DISTINCT doc_id FROM c),
        w1 AS MATERIALIZED (
          SELECT b, CAST(SUM(y * cnt) AS BIGINT) AS w FROM c GROUP BY b),
        s2 AS (SELECT c.doc_id, MAX(c.y) AS y,
                      CAST(SUM(COALESCE(w1.w, 0) * c.cnt) AS BIGINT) AS sc
               FROM c LEFT JOIN w1 USING (b) GROUP BY c.doc_id),
        m2 AS MATERIALIZED (SELECT doc_id FROM s2 WHERE y * sc <= 0),
        d2 AS (SELECT b, CAST(SUM(c.y * c.cnt) AS BIGINT) AS d
               FROM c JOIN m2 USING (doc_id) GROUP BY b),
        w2 AS MATERIALIZED (
          SELECT COALESCE(w1.b, d2.b) AS b,
                 COALESCE(w1.w, 0) + COALESCE(d2.d, 0) AS w
          FROM w1 FULL JOIN d2 ON w1.b = d2.b),
        s3 AS (SELECT c.doc_id, MAX(c.y) AS y,
                      CAST(SUM(COALESCE(w2.w, 0) * c.cnt) AS BIGINT) AS sc
               FROM c LEFT JOIN w2 USING (b) GROUP BY c.doc_id),
        m3 AS MATERIALIZED (SELECT doc_id FROM s3 WHERE y * sc <= 0),
        d3 AS (SELECT b, CAST(SUM(c.y * c.cnt) AS BIGINT) AS d
               FROM c JOIN m3 USING (doc_id) GROUP BY b),
        w3 AS MATERIALIZED (
          SELECT COALESCE(w2.b, d3.b) AS b,
                 COALESCE(w2.w, 0) + COALESCE(d3.d, 0) AS w
          FROM w2 FULL JOIN d3 ON w2.b = d3.b),
        rep AS (
          SELECT 1 AS epoch,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM m1) AS n_miss,
                 (SELECT CAST(count_if(w <> 0) AS BIGINT) FROM w1)
                   AS w_nonzero,
                 (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w1) AS w_abs_sum,
                 (SELECT CAST(SUM(w * (b + 1)) AS BIGINT) FROM w1)
                   AS w_checksum
          UNION ALL
          SELECT 2,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM m2),
                 (SELECT CAST(count_if(w <> 0) AS BIGINT) FROM w2),
                 (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w2),
                 (SELECT CAST(SUM(w * (b + 1)) AS BIGINT) FROM w2)
          UNION ALL
          SELECT 3,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM m3),
                 (SELECT CAST(count_if(w <> 0) AS BIGINT) FROM w3),
                 (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w3),
                 (SELECT CAST(SUM(w * (b + 1)) AS BIGINT) FROM w3))
        SELECT epoch, n_miss, n_docs,
               n_miss * 1000000 // n_docs AS err_ppm,
               w_nonzero, w_abs_sum, w_checksum
        FROM rep CROSS JOIN tot
        ORDER BY epoch"""))
  ,

    // --------------------------------------------------------------- q268
    // Classifier CALIBRATION audit (reliability diagram) — the check a
    // learned gate (q255/q262) must pass before its scores gate data:
    // bucket every document into per-source score DECILES and compare
    // each decile's observed good-rate against its mean score. A
    // well-calibrated scorer's good-rate rises monotonically with the
    // decile (spec-asserted top-vs-bottom); a flat diagram means the
    // score carries no signal at that granularity. Deciles are per
    // SOURCE — a keyed row_number + keyed count sharing ONE exchange on
    // the source key, decile = (rn−1)·10 div n — never a corpus-wide
    // unkeyed window (the q242/q260 lesson applied to calibration).
    // All integer: good-rate and mean score in ppm, truncating division
    // pinned in both engines.
    QueryDef(
      "q268_score_calibration",
      (s, dir) => {
        val scored = classifierDocScores(s, dir)
        val bySrc = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
        scored
          .withColumn("rn", row_number().over(
            bySrc.orderBy(col("score_ppm"), col("doc_id"))).cast("long"))
          .withColumn("n", count(lit(1)).over(bySrc))
          .withColumn("decile", expr("(rn - 1) * 10 div n"))
          .groupBy("source", "decile")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
            sum("score_ppm").as("ssum"))
          .select(col("source"), col("decile"), col("n_docs"),
            expr("n_good * 1000000 div n_docs").as("good_ppm"),
            expr("ssum div n_docs").as("mean_score_ppm"))
          .orderBy("source", "decile")
      },
      Some("""
        WITH g AS MATERIALIZED (
          SELECT doc_id, source,
                 2 * len(list_distinct(string_split(text, ' ')))
                   >= len(string_split(text, ' ')) AS good,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b
          FROM (SELECT doc_id, source, text,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        wt AS MATERIALIZED (
          SELECT b,
                 (CAST(count_if(good) AS BIGINT) + 1) * 1000000
                   // (CAST(COUNT(*) AS BIGINT) + 2) AS w
          FROM g GROUP BY b),
        sc AS (
          SELECT doc_id, source, good,
                 CAST(SUM(w) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                   AS score_ppm
          FROM g JOIN wt USING (b)
          GROUP BY doc_id, source, good),
        rk AS (
          SELECT source, good, score_ppm,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY score_ppm, doc_id) AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM sc),
        dec AS (
          SELECT source, good, score_ppm, (rn - 1) * 10 // n AS decile
          FROM rk)
        SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(good) AS BIGINT) * 1000000 // COUNT(*)
                 AS good_ppm,
               CAST(SUM(score_ppm) AS BIGINT) // COUNT(*) AS mean_score_ppm
        FROM dec
        GROUP BY source, decile
        ORDER BY source, decile"""))
  ,

    // --------------------------------------------------------------- q270
    // Two-sample KOLMOGOROV–SMIRNOV drift statistic between each
    // train/val/test split and the full corpus, over the document
    // length distribution — the distribution-LEVEL check q247's scalar
    // stats can't express (two splits can share mean and count yet
    // differ in shape). Splits by CONTENT HASH (q74's device: md5 %
    // 10 → 0–7 train, 8 val, 9 test); lengths bucket at width 16, so
    // the support is bounded (~tens of buckets at any corpus size) and
    // the CDFs are exact integer prefix sums over that bounded grid —
    // the cumulative windows run per split on the bucket grid, never
    // over documents. D_ppm = max |cdf_split − cdf_all| in exact ppm
    // rides each split's rows. A well-built hash split's D should be
    // small; a skewed split fails loudly.
    QueryDef(
      "q270_ks_split_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val d = Tables(s, dir, "documents")
          .select(
            expr("size(split(text, ' ')) div 16").as("bucket"),
            expr("""CASE WHEN cast(conv(substr(md5(text), 1, 15), 16, 10)
                     AS BIGINT) % 10 <= 7 THEN 'train'
                    WHEN cast(conv(substr(md5(text), 1, 15), 16, 10)
                     AS BIGINT) % 10 = 8 THEN 'val'
                    ELSE 'test' END""").as("split"))
          .persist(MEMORY_AND_DISK)
        val sb = d.groupBy("split", "bucket").agg(count(lit(1)).as("n"))
        val ab = d.groupBy("bucket").agg(count(lit(1)).as("na"))
        val st = d.groupBy("split").agg(count(lit(1)).as("ns"))
        val at = d.agg(count(lit(1)).as("nall"))
        // complete grid: every split × every observed bucket (bounded)
        val filled = st.select("split")
          .crossJoin(ab)
          .join(sb, Seq("split", "bucket"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
        val wc = Window.partitionBy("split").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = filled
          .withColumn("cum_s", sum("n").over(wc))
          .withColumn("cum_a", sum("na").over(wc))
          .join(st, "split").crossJoin(broadcast(at))
          .withColumn("cdf_s_ppm", expr("cum_s * 1000000 div ns"))
          .withColumn("cdf_a_ppm", expr("cum_a * 1000000 div nall"))
          .withColumn("diff_ppm", abs(col("cdf_s_ppm") - col("cdf_a_ppm")))
        cum.join(cum.groupBy("split").agg(max("diff_ppm").as("d_ppm")),
            "split")
          .select("split", "bucket", "n", "cdf_s_ppm", "cdf_a_ppm",
            "diff_ppm", "d_ppm")
          .orderBy("split", "bucket")
      },
      Some("""
        WITH d AS MATERIALIZED (
          SELECT len(string_split(text, ' ')) // 16 AS bucket,
                 CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15))
                        AS BIGINT) % 10 <= 7 THEN 'train'
                      WHEN CAST(concat('0x', substr(md5(text), 1, 15))
                        AS BIGINT) % 10 = 8 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents),
        sb AS (SELECT split, bucket, CAST(COUNT(*) AS BIGINT) AS n
               FROM d GROUP BY split, bucket),
        ab AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS na
               FROM d GROUP BY bucket),
        st AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS ns
               FROM d GROUP BY split),
        at AS (SELECT CAST(COUNT(*) AS BIGINT) AS nall FROM d),
        filled AS (
          SELECT st.split, ab.bucket, ab.na, COALESCE(sb.n, 0) AS n
          FROM st CROSS JOIN ab
          LEFT JOIN sb ON sb.split = st.split AND sb.bucket = ab.bucket),
        cum AS (
          SELECT split, bucket, n,
                 CAST(SUM(n) OVER (PARTITION BY split ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s,
                 CAST(SUM(na) OVER (PARTITION BY split ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a
          FROM filled),
        ppm AS (
          SELECT cum.split, bucket, n,
                 cum_s * 1000000 // ns AS cdf_s_ppm,
                 cum_a * 1000000 // nall AS cdf_a_ppm,
                 ABS(cum_s * 1000000 // ns - cum_a * 1000000 // nall)
                   AS diff_ppm
          FROM cum JOIN st ON st.split = cum.split CROSS JOIN at),
        dm AS (SELECT split, MAX(diff_ppm) AS d_ppm
               FROM ppm GROUP BY split)
        SELECT ppm.split, bucket, n, cdf_s_ppm, cdf_a_ppm, diff_ppm, d_ppm
        FROM ppm JOIN dm ON dm.split = ppm.split
        ORDER BY ppm.split, bucket"""))
  ,

    // --------------------------------------------------------------- q275
    // Quality-gate FUNNEL — the per-stage attrition report every
    // curation pipeline publishes next to its gates (q77/q248 decide
    // keep/drop; this op shows WHERE the corpus dies): four gates
    // applied in a fixed order — token-count bounds, mean word length,
    // type-token ratio, digit fraction — and for each (source, stage)
    // the population in, survivors out, marginal removals, and
    // pass_ppm. The marginal attribution is order-dependent BY DESIGN
    // (a doc failing two gates charges the first), which is exactly
    // what a pipeline owner needs to see before reordering or
    // loosening a gate. All integer signals over non-empty-filtered
    // words; docs with no words or no characters are out of population
    // (both divisions would be undefined — stated, filtered in both
    // engines). Shape: ONE narrow pass computes four codegen'd flag
    // columns, one keyed aggregate builds the wide counts, the
    // 4-stage long table is source-count-bounded arithmetic.
    QueryDef(
      "q275_filter_funnel",
      (s, dir) => funnelReport(
        funnelFlags(Tables(s, dir, "documents"))),
      Some(funnelOracle))
  ,

    // --------------------------------------------------------------- q280
    // KRIPPENDORFF'S ALPHA (nominal, two coders, no missing values) —
    // the second standard inter-annotator statistic next to q258's
    // kappa, and the one a labeling methodology reviewer asks for:
    // where kappa chance-corrects with the PRODUCT of per-coder
    // marginals, alpha pools both coders' labels into one value
    // distribution and chance-corrects against pairable disagreement,
    //   alpha = 1 − (Do/De),  Do = (n−agree)/n,
    //   De = (N² − Σ_c n_c²) / (N(N−1)),  N = 2n, n_c pooled counts —
    // so the two statistics genuinely diverge when coders have skewed,
    // unequal marginals. Same deterministic dual-annotator fixture as
    // q258 (B shifts every 7th label to the next type), so the gate
    // compares real arithmetic, not randomness. Exactness: alpha_ppm
    // is computed in ONE truncating division from integer terms —
    // (n−agree)·N·(N−1)·10⁶ reaches ~10²³ at sf0.1, past int64, so
    // both engines route through DECIMAL(38)/HUGEINT (the q236
    // discipline); do_ppm/de_ppm are reported as separately-rounded
    // informational terms, never composed. Shape: one types²-bounded
    // confusion aggregate; everything after is arithmetic on a
    // broadcast-sized matrix — no second corpus pass.
    QueryDef(
      "q280_krippendorff_alpha",
      (s, dir) => {
        val cm = annotatorConfusion(s, dir, 7, "a", "b")
        val perClass = annotatorMarginals(cm)
          .withColumn("n_pooled", col("n_a") + col("n_b"))
        val scalars = perClass.agg(
            sum("n_a").as("n"), sum("n_agree").as("agree"),
            sum(col("n_pooled") * col("n_pooled")).as("sumsq"))
          .select(col("n"), col("agree"), col("sumsq"),
            expr("(n - agree) * 1000000 div n").as("do_ppm"),
            expr("(4 * n * n - sumsq) * 1000000 div (2 * n * (2 * n - 1))")
              .as("de_ppm"),
            expr("""1000000 - (CAST(n - agree AS DECIMAL(38,0))
                  * CAST(2 * n AS DECIMAL(38,0))
                  * CAST(2 * n - 1 AS DECIMAL(38,0)) * 1000000)
                div (CAST(n AS DECIMAL(38,0))
                  * (CAST(2 * n AS DECIMAL(38,0)) * CAST(2 * n AS DECIMAL(38,0))
                     - CAST(sumsq AS DECIMAL(38,0))))""").as("alpha_ppm"))
        perClass.crossJoin(broadcast(
            scalars.select("do_ppm", "de_ppm", "alpha_ppm")))
          .select(col("cls"), col("n_a"), col("n_b"), col("n_pooled"),
            col("n_agree"), col("do_ppm"), col("de_ppm"), col("alpha_ppm"))
          .orderBy("cls")
      },
      Some("""
        WITH p AS (
          SELECT event_type AS a,
                 CASE WHEN event_id % 7 = 0 THEN
                   CASE event_type
                     WHEN 'click' THEN 'error'
                     WHEN 'error' THEN 'purchase'
                     WHEN 'purchase' THEN 'signup'
                     WHEN 'signup' THEN 'view'
                     WHEN 'view' THEN 'click' END
                 ELSE event_type END AS b
          FROM events),
        cm AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY a, b),
        ma AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS n_a
               FROM cm GROUP BY a),
        mb AS (SELECT b AS cls, CAST(SUM(n) AS BIGINT) AS n_b
               FROM cm GROUP BY b),
        dg AS (SELECT a AS cls, n AS n_agree FROM cm WHERE a = b),
        pc AS (
          SELECT cls, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
                 COALESCE(n_a, 0) + COALESCE(n_b, 0) AS n_pooled,
                 COALESCE(n_agree, 0) AS n_agree
          FROM ma FULL JOIN mb USING (cls) LEFT JOIN dg USING (cls)),
        sc AS (
          SELECT CAST(SUM(n_a) AS BIGINT) AS n,
                 CAST(SUM(n_agree) AS BIGINT) AS agree,
                 CAST(SUM(n_pooled * n_pooled) AS BIGINT) AS sumsq
          FROM pc),
        kk AS (
          SELECT (n - agree) * 1000000 // n AS do_ppm,
                 (4 * n * n - sumsq) * 1000000 // (2 * n * (2 * n - 1))
                   AS de_ppm,
                 CAST(1000000 - (CAST(n - agree AS HUGEINT)
                       * CAST(2 * n AS HUGEINT)
                       * CAST(2 * n - 1 AS HUGEINT) * 1000000)
                     // (CAST(n AS HUGEINT)
                       * (CAST(2 * n AS HUGEINT) * CAST(2 * n AS HUGEINT)
                          - CAST(sumsq AS HUGEINT)))
                   AS BIGINT) AS alpha_ppm
          FROM sc)
        SELECT cls, n_a, n_b, n_pooled, n_agree,
               (SELECT do_ppm FROM kk) AS do_ppm,
               (SELECT de_ppm FROM kk) AS de_ppm,
               (SELECT alpha_ppm FROM kk) AS alpha_ppm
        FROM pc
        ORDER BY cls"""))
  ,

    // --------------------------------------------------------------- q282
    // INT8 symmetric quantization audit for embeddings — the
    // compression step every vector index ships (q190's PQ is the
    // coarse 4-bit tier; this is the standard per-vector scalar-quant
    // tier ANN engines default to): each vector quantizes to q_i =
    // round(x_i·127 / max|x|) and the audit prices what that costs —
    // per label: saturated elements, max / mean absolute reconstruction
    // error, and total relative error in ppm of the absolute mass. The
    // number an index owner reads before flipping int8 on.
    // Exactness: floats enter as exact 9-dp decimals (bround-then-cast,
    // the q110 HALF_UP/HALF_EVEN parity device) and everything after is
    // int64: per-vector max by a vec_id-keyed window, quantize as
    // (2·|x|·127 + mx) div (2·mx) — round-half-away via truncating div
    // on NON-NEGATIVE operands (div ↔ // agree only there — stated),
    // sign carried separately and irrelevant to |error|; err127 =
    // ||x|·127 − q·mx| measures error ×127 with NO second division.
    // Zero vectors are filtered in both engines (scale undefined);
    // the two error-mass SUMs accumulate in DECIMAL(38) on the Spark
    // side to match DuckDB's native HUGEINT SUM (ADVICE r9: int64
    // accumulation wrapped silently past ~sf1 — the guard is now a
    // cast, not a comment), and the rel-ppm division already routes
    // through DECIMAL(38)/HUGEINT. Shape: one
    // narrow explode, one keyed window, one keyed rollup — the
    // (vec_id, dim) frame never joins anything wider than itself.
    QueryDef(
      "q282_int8_quantization_audit",
      (s, dir) => {
        val elems = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            explode(expr("transform(embedding, x -> cast(x AS DOUBLE))"))
              .as("v"))
          .select(col("vec_id"), col("label"),
            expr("CAST(CAST(bround(v, 9) AS DECIMAL(20,9)) * 1000000000" +
              " AS BIGINT)").as("xi"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
        val q = elems
          .withColumn("axi", abs(col("xi")))
          .withColumn("mx", max(col("axi")).over(w))
          .filter(col("mx") > 0L)
          .withColumn("aq", expr("(2 * axi * 127 + mx) div (2 * mx)"))
          .withColumn("err127", abs(col("axi") * 127 - col("aq") * col("mx")))
        q.groupBy("label")
          .agg(countDistinct("vec_id").as("n_vecs"),
            count(lit(1)).as("n_elems"),
            sum(when(col("aq") === 127L, 1L).otherwise(0L)).as("n_saturated"),
            max("err127").as("max_err127"),
            sum(col("err127").cast("decimal(38,0)")).as("sum_err127"),
            sum((col("axi") * 127).cast("decimal(38,0)")).as("sum_abs127"))
          .select(col("label"), col("n_vecs"), col("n_elems"),
            col("n_saturated"), col("max_err127"),
            expr("sum_err127 div n_elems").as("mean_err127"),
            expr("sum_err127 * 1000000 div sum_abs127").as("rel_err_ppm"))
          .orderBy("label")
      },
      Some("""
        WITH elems AS (
          SELECT vec_id, label,
                 CAST(CAST(v AS DECIMAL(20,9)) * 1000000000 AS BIGINT) AS xi
          FROM (SELECT vec_id, label,
                       unnest(list_transform(embedding,
                         x -> CAST(x AS DOUBLE))) AS v
                FROM embeddings) z),
        mx AS (SELECT vec_id, MAX(abs(xi)) AS mx FROM elems GROUP BY vec_id),
        q AS (
          SELECT e.vec_id, e.label, abs(e.xi) AS axi, m.mx,
                 (2 * abs(e.xi) * 127 + m.mx) // (2 * m.mx) AS aq
          FROM elems e JOIN mx m USING (vec_id)
          WHERE m.mx > 0),
        q2 AS (SELECT *, abs(axi * 127 - aq * mx) AS err127 FROM q)
        SELECT label,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_elems,
               CAST(count_if(aq = 127) AS BIGINT) AS n_saturated,
               CAST(MAX(err127) AS BIGINT) AS max_err127,
               CAST(SUM(err127) // COUNT(*) AS BIGINT) AS mean_err127,
               CAST(CAST(SUM(err127) AS HUGEINT) * 1000000
                 // CAST(SUM(axi * 127) AS HUGEINT) AS BIGINT) AS rel_err_ppm
        FROM q2
        GROUP BY label
        ORDER BY label"""))
  ,

    // --------------------------------------------------------------- q283
    // Quality-gate INTERACTION matrix — the redundancy audit next to
    // q275's funnel: the funnel charges each dropped doc to its FIRST
    // failing gate, which by construction hides whether two gates
    // reject the same population. This op reports, for each of the 6
    // unordered gate pairs, both marginal failure counts, the joint
    // failure count, and the failure-set Jaccard in ppm — a pair with
    // high Jaccard means one gate is (nearly) subsumed and can be
    // dropped or reordered; near-zero means the gates carry
    // independent signal. Same shared funnelFlags projection as
    // q275/s43, so the three reports describe the same gates by
    // construction. Shape: ONE narrow flag pass + ONE aggregate
    // computing all 4 marginals and 6 joints as conditional sums; the
    // 6-row matrix is literal-driven arithmetic on that single row.
    QueryDef(
      "q283_gate_interaction_matrix",
      (s, dir) => {
        val gates = Seq(1, 2, 3, 4)
        val names = Map(1 -> "g1_token_bounds", 2 -> "g2_mean_word_len",
          3 -> "g3_ttr", 4 -> "g4_digit_fraction")
        val marg = gates.map(i =>
          sum(when(!col(s"f$i"), 1L).otherwise(0L)).as(s"a$i"))
        val joint = for (i <- gates; j <- gates if i < j) yield
          sum(when(!col(s"f$i") && !col(s"f$j"), 1L).otherwise(0L))
            .as(s"b$i$j")
        val wide = funnelFlags(Tables(s, dir, "documents"))
          .agg((marg ++ joint).head, (marg ++ joint).tail: _*)
        (for (i <- gates; j <- gates if i < j) yield
          wide.select(lit(names(i)).as("gate_a"), lit(names(j)).as("gate_b"),
            col(s"a$i").as("n_fail_a"), col(s"a$j").as("n_fail_b"),
            col(s"b$i$j").as("n_fail_both")))
          .reduce(_ unionByName _)
          .withColumn("jaccard_ppm", expr(
            "n_fail_both * 1000000 div nullif(n_fail_a + n_fail_b - n_fail_both, 0)"))
          .orderBy("gate_a", "gate_b")
      },
      Some("""
        WITH d AS MATERIALIZED (
          SELECT source,
                 CAST(len(wl) AS BIGINT) AS nw,
                 CAST(len(list_distinct(wl)) AS BIGINT) AS nd,
                 CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                   AS BIGINT) AS digits
          FROM (SELECT source, text,
                       list_filter(string_split(text, ' '),
                         w -> w <> '') AS wl
                FROM documents)
          WHERE len(wl) > 0 AND length(replace(text, ' ', '')) > 0),
        f AS (
          SELECT (nw BETWEEN 10 AND 5000) AS f1,
                 (chars * 1000 // nw BETWEEN 2000 AND 12000) AS f2,
                 (nd * 1000000 // nw >= 300000) AS f3,
                 (digits * 1000000 // chars <= 200000) AS f4
          FROM d),
        w AS (
          SELECT CAST(count_if(NOT f1) AS BIGINT) AS a1,
                 CAST(count_if(NOT f2) AS BIGINT) AS a2,
                 CAST(count_if(NOT f3) AS BIGINT) AS a3,
                 CAST(count_if(NOT f4) AS BIGINT) AS a4,
                 CAST(count_if(NOT f1 AND NOT f2) AS BIGINT) AS b12,
                 CAST(count_if(NOT f1 AND NOT f3) AS BIGINT) AS b13,
                 CAST(count_if(NOT f1 AND NOT f4) AS BIGINT) AS b14,
                 CAST(count_if(NOT f2 AND NOT f3) AS BIGINT) AS b23,
                 CAST(count_if(NOT f2 AND NOT f4) AS BIGINT) AS b24,
                 CAST(count_if(NOT f3 AND NOT f4) AS BIGINT) AS b34
          FROM f),
        m AS (
          SELECT 'g1_token_bounds' AS gate_a, 'g2_mean_word_len' AS gate_b,
                 a1 AS n_fail_a, a2 AS n_fail_b, b12 AS n_fail_both FROM w
          UNION ALL SELECT 'g1_token_bounds', 'g3_ttr', a1, a3, b13 FROM w
          UNION ALL SELECT 'g1_token_bounds', 'g4_digit_fraction', a1, a4,
                 b14 FROM w
          UNION ALL SELECT 'g2_mean_word_len', 'g3_ttr', a2, a3, b23 FROM w
          UNION ALL SELECT 'g2_mean_word_len', 'g4_digit_fraction', a2, a4,
                 b24 FROM w
          UNION ALL SELECT 'g3_ttr', 'g4_digit_fraction', a3, a4, b34 FROM w)
        SELECT gate_a, gate_b, n_fail_a, n_fail_b, n_fail_both,
               n_fail_both * 1000000
                 // nullif(n_fail_a + n_fail_b - n_fail_both, 0)
                 AS jaccard_ppm
        FROM m
        ORDER BY gate_a, gate_b"""))
  ,

    // --------------------------------------------------------------- q287
    // LABEL-NOISE audit (confident-learning-lite, Northcutt et al.) —
    // the step a labeling pipeline runs between q258/q280's agreement
    // statistics (which score annotators against each other) and
    // q262's training (which trusts the labels): find the datapoints
    // whose LABEL the learned model confidently contradicts. Scores
    // come from the session-shared classifier artifacts (one gram
    // build per run); the decision pivot is the midpoint of the two
    // CLASS-CONDITIONAL mean scores (the natural boundary — q255's
    // gram-occurrence prior sits above nearly every score and would
    // flag everything), and a ±10000 ppm dead zone makes a flag
    // "confident": a good-labeled doc scoring below boundary−margin,
    // or a bad-labeled doc above boundary+margin, is a label-noise
    // suspect. Per-source suspect counts + noise_ppm — the relabel
    // worklist size. Shape: the per-doc scores are one broadcast join
    // + keyed aggregate over the shared gram frame; the boundary is a
    // single-row broadcast; the rollup is one keyed aggregate.
    QueryDef(
      "q287_label_noise_audit",
      (s, dir) => {
        val scored = classifierDocScores(s, dir)
        val bd = scored.agg(
          expr("(sum(CASE WHEN good THEN score_ppm ELSE 0 END)" +
            " div count_if(good)" +
            " + sum(CASE WHEN NOT good THEN score_ppm ELSE 0 END)" +
            " div count_if(NOT good)) div 2").as("boundary"))
        scored.crossJoin(broadcast(bd))
          .withColumn("sus_good",
            col("good") && col("score_ppm") < col("boundary") - 10000L)
          .withColumn("sus_bad",
            !col("good") && col("score_ppm") > col("boundary") + 10000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
            sum(when(col("sus_good"), 1L).otherwise(0L)).as("n_suspect_good"),
            sum(when(col("sus_bad"), 1L).otherwise(0L)).as("n_suspect_bad"))
          .withColumn("noise_ppm", expr(
            "(n_suspect_good + n_suspect_bad) * 1000000 div n_docs"))
          .orderBy("source")
      },
      Some(s"""
        WITH $classifierScoreCtes,
        bd AS (
          SELECT (CAST(SUM(CASE WHEN good THEN score_ppm ELSE 0 END)
                    AS BIGINT) // count_if(good)
                  + CAST(SUM(CASE WHEN NOT good THEN score_ppm ELSE 0 END)
                    AS BIGINT) // count_if(NOT good)) // 2 AS boundary
          FROM sc),
        fl AS (
          SELECT source, good,
                 good AND score_ppm < (SELECT boundary FROM bd) - 10000
                   AS sus_good,
                 NOT good AND score_ppm > (SELECT boundary FROM bd) + 10000
                   AS sus_bad
          FROM sc)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(good) AS BIGINT) AS n_good,
               CAST(count_if(sus_good) AS BIGINT) AS n_suspect_good,
               CAST(count_if(sus_bad) AS BIGINT) AS n_suspect_bad,
               (CAST(count_if(sus_good) AS BIGINT)
                 + CAST(count_if(sus_bad) AS BIGINT)) * 1000000
                 // COUNT(*) AS noise_ppm
        FROM fl
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q292
    // SAMPLING-ERROR audit — the justification a 100 TB profiler needs
    // before running its dashboards on a 1/16 hash sample instead of
    // the corpus: compute each statistic BOTH ways (full vs
    // deterministic content-hash sample, scaled where extrapolation
    // applies) and report the exact error in ppm. The punchline the
    // fixture demonstrates: COUNT-like statistics (docs, tokens)
    // extrapolate within tight error, RATIO statistics (mean length)
    // transfer directly — but VOCABULARY does not scale linearly
    // (Heaps' law, q291), so its ×16 extrapolation is badly wrong and
    // the audit says by exactly how much. Sample membership is the
    // seed-free graft_polyhash content coin (q74/q128's device), so
    // the "sample" is reproducible on any cluster. Shape: one doc-level
    // and one token-level aggregate, each computing full and sample
    // branches as conditional sums in the SAME pass — the corpus is
    // read once, never twice.
    QueryDef(
      "q292_sampling_error_audit",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("text"),
            (call_function("graft_polyhash", col("text")) % 16 === 0)
              .as("samp"),
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("nw"))
        val docAgg = d.agg(
          count(lit(1)).as("n_full"),
          sum(when(col("samp"), 1L).otherwise(0L)).as("n_samp"),
          sum("nw").as("t_full"),
          sum(when(col("samp"), col("nw")).otherwise(0L)).as("t_samp"))
        val wtok = d.select(col("samp"),
          explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val vocAgg = wtok.agg(
          countDistinct("word").as("v_full"),
          countDistinct(when(col("samp"), col("word"))).as("v_samp"))
        docAgg.crossJoin(vocAgg)
          .selectExpr(
            """stack(4,
               'n_docs',           n_full,                   n_samp * 16,
               'tokens',           t_full,                   t_samp * 16,
               'mean_tokens_milli', t_full * 1000 div n_full,
                                   t_samp * 1000 div n_samp,
               'vocab',            v_full,                   v_samp * 16)
               AS (stat, full_value, sample_est)""")
          .withColumn("err_ppm",
            expr("abs(full_value - sample_est) * 1000000 div full_value"))
          .orderBy("stat")
      },
      Some("""
        WITH d AS MATERIALIZED (
          SELECT text,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) % 16 = 0 AS samp,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nw
          FROM documents),
        da AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
                 CAST(count_if(samp) AS BIGINT) AS n_samp,
                 CAST(SUM(nw) AS BIGINT) AS t_full,
                 CAST(SUM(CASE WHEN samp THEN nw ELSE 0 END) AS BIGINT)
                   AS t_samp
          FROM d),
        wt AS (
          SELECT samp, w AS word
          FROM (SELECT samp, unnest(string_split(text, ' ')) AS w FROM d) z
          WHERE w <> ''),
        va AS (
          SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v_full,
                 CAST(COUNT(DISTINCT CASE WHEN samp THEN word END) AS BIGINT)
                   AS v_samp
          FROM wt),
        st AS (
          SELECT 'n_docs' AS stat, n_full AS full_value,
                 n_samp * 16 AS sample_est FROM da
          UNION ALL SELECT 'tokens', t_full, t_samp * 16 FROM da
          UNION ALL SELECT 'mean_tokens_milli', t_full * 1000 // n_full,
                 t_samp * 1000 // n_samp FROM da
          UNION ALL SELECT 'vocab', v_full, v_samp * 16 FROM va)
        SELECT stat, full_value, sample_est,
               abs(full_value - sample_est) * 1000000 // full_value
                 AS err_ppm
        FROM st
        ORDER BY stat"""))
  ,

    // --------------------------------------------------------------- q295
    // Unbiased pass@k estimation (the Codex-paper estimator) — the
    // metric every code/agent eval reports: given a task attempted n
    // times with c successes, pass@k = 1 − C(n−c,k)/C(n,k), computed
    // here in its numerically-stable product form 1 − Π_{i<k}
    // (n−c−i)/(n−i). Exactness discipline: the product is a SEQUENTIAL
    // truncating integer fold in ppm (acc·(n−c−i) div (n−i), acc₀ =
    // 10⁶) — identical step order in both engines (Spark `aggregate`
    // HOF over sequence(0,k−1) ↔ DuckDB list_reduce with the init
    // prepended), so no float ever appears and overflow is impossible
    // at ANY n (acc stays ≤ 10⁶ — unlike the binomial form, whose
    // factorials blow past DECIMAL(38) around n≈35). Tasks = users,
    // attempts = their events, success = a purchase; tasks need n ≥ 10
    // so pass@10's denominators stay positive (stated; dropped tasks
    // counted nowhere). Report: per success-rate decile, mean pass@1/
    // 5/10 ppm vs the empirical base rate — the curve an eval harness
    // reads to size its sampling budget. Shape: one map-side-combinable
    // keyed aggregate per user, then arithmetic on a ≤10-row frame;
    // nothing corpus-wide ever sorts or windows.
    QueryDef(
      "q295_pass_at_k",
      (s, dir) => {
        val tasks = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("c"))
          .filter(col("n") >= 10L)
        val passK = (k: Int) => expr(
          s"""1000000 - aggregate(sequence(0L, ${k - 1}L), 1000000L,
              (acc, i) -> acc * greatest(n - c - i, 0L) div (n - i))""")
        tasks
          .select(expr("c * 10 div n").as("decile"), col("n"), col("c"),
            passK(1).as("p1"), passK(5).as("p5"), passK(10).as("p10"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_tasks"),
            expr("sum(c) * 1000000 div sum(n)").as("base_rate_ppm"),
            expr("sum(p1) div count(1)").as("pass1_ppm"),
            expr("sum(p5) div count(1)").as("pass5_ppm"),
            expr("sum(p10) div count(1)").as("pass10_ppm"))
          .orderBy("decile")
      },
      Some("""
        WITH t AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(count_if(event_type = 'purchase') AS BIGINT) AS c
          FROM events
          GROUP BY user_id
          HAVING COUNT(*) >= 10),
        p AS (
          SELECT c * 10 // n AS decile, n, c,
                 1000000 - list_reduce(
                   list_prepend(CAST(1000000 AS BIGINT), range(0, 1)),
                   (acc, i) -> acc * greatest(n - c - i, 0) // (n - i))
                   AS p1,
                 1000000 - list_reduce(
                   list_prepend(CAST(1000000 AS BIGINT), range(0, 5)),
                   (acc, i) -> acc * greatest(n - c - i, 0) // (n - i))
                   AS p5,
                 1000000 - list_reduce(
                   list_prepend(CAST(1000000 AS BIGINT), range(0, 10)),
                   (acc, i) -> acc * greatest(n - c - i, 0) // (n - i))
                   AS p10
          FROM t)
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_tasks,
               CAST(SUM(c) AS BIGINT) * 1000000 // CAST(SUM(n) AS BIGINT)
                 AS base_rate_ppm,
               CAST(SUM(p1) AS BIGINT) // COUNT(*) AS pass1_ppm,
               CAST(SUM(p5) AS BIGINT) // COUNT(*) AS pass5_ppm,
               CAST(SUM(p10) AS BIGINT) // COUNT(*) AS pass10_ppm
        FROM p
        GROUP BY decile
        ORDER BY decile"""))
  ,

    // --------------------------------------------------------------- q307
    // Dataset cartography (Swayamdipta et al. 2020) — the training-
    // dynamics map that splits a corpus into easy-to-learn / hard-to-
    // learn / ambiguous BEFORE anyone spends GPU time on it: track
    // each example's margin across training checkpoints and read the
    // regions off (all-positive = easy, all-non-positive = hard, sign
    // flips = ambiguous — the region where label noise and genuinely
    // informative examples live). Checkpoints here are q262's three
    // synchronized-perceptron epochs recomputed over the SESSION-
    // SHARED gram frame (ClassifierArtifacts — no rebuild); margins
    // y·score are exact integers, so the map needs no confidence
    // threshold tuning. Variability is the RANGE max−min (exact,
    // stated — stddev would float), and the only divisions are
    // non-negative (counts, ranges); signed margin sums are reported
    // raw, never divided. Shape: per-epoch scoring is one broadcast
    // join against a ≤ 4096-row weight table + keyed aggregates — the
    // q262 plan, three times, nothing corpus-wide unkeyed.
    QueryDef(
      "q307_dataset_cartography",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val c =
          ClassifierArtifacts.grams(s, dir)
            .groupBy("doc_id", "source", "good", "b")
            .agg(count(lit(1)).as("cnt"))
            .withColumn("y", when(col("good"), 1L).otherwise(-1L))
            .persist(MEMORY_AND_DISK)
        def score(wt: Option[DataFrame]): DataFrame = {
          val j = wt match {
            case None => c.withColumn("wv", lit(0L))
            case Some(w) => c.join(broadcast(w), Seq("b"), "left")
              .withColumn("wv", coalesce(col("w"), lit(0L)))
          }
          j.groupBy("doc_id", "source")
            .agg(max("y").as("y"), sum(col("wv") * col("cnt")).as("sc"))
        }
        def nextW(wt: Option[DataFrame], miss: DataFrame): DataFrame = {
          val delta = c.join(miss, Seq("doc_id"), "left_semi")
            .groupBy("b").agg(sum(col("y") * col("cnt")).as("d"))
          wt match {
            case None => delta.select(col("b"), col("d").as("w"))
            case Some(w) => w.join(delta, Seq("b"), "full_outer")
              .select(col("b"),
                (coalesce(col("w"), lit(0L)) + coalesce(col("d"), lit(0L)))
                  .as("w"))
          }
        }
        var w: Option[DataFrame] = None
        // each epoch's DOC-SIZED score frame is checkpointed once and
        // feeds BOTH that epoch's miss set and the margins report (r14):
        // un-materialized, score(w_e) ran twice — once under the next
        // epoch's weight checkpoint and again in the final margins join
        // (3 redundant scans of the cached gram-count frame per run)
        var sNow = score(w).localCheckpoint(true)
        val margins = (1 to 3).map { _ =>
          val miss = sNow.filter(col("y") * col("sc") <= 0).select("doc_id")
          // eager localCheckpoint per epoch — the q262 lineage-cut
          // discipline (each epoch reads the prior weights twice)
          w = Some(nextW(w, miss).localCheckpoint(true))
          sNow = score(w).localCheckpoint(true)
          sNow.select(col("doc_id"), col("source"),
            (col("y") * col("sc")).as("m"))
        }
        val m = margins(0).select(col("doc_id"), col("source"),
            col("m").as("m1"))
          .join(margins(1).select(col("doc_id"), col("m").as("m2")),
            "doc_id")
          .join(margins(2).select(col("doc_id"), col("m").as("m3")),
            "doc_id")
        m.select(col("source"),
            when(col("m1") > 0 && col("m2") > 0 && col("m3") > 0, 1L)
              .otherwise(0L).as("easy"),
            when(col("m1") <= 0 && col("m2") <= 0 && col("m3") <= 0, 1L)
              .otherwise(0L).as("hard"),
            expr("greatest(m1, m2, m3) - least(m1, m2, m3)").as("rng"),
            (col("m1") + col("m2") + col("m3")).as("msum"))
          .withColumn("ambiguous",
            lit(1L) - col("easy") - col("hard"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("easy").as("easy"), sum("hard").as("hard"),
            sum("ambiguous").as("ambiguous"),
            sum("rng").as("rng_sum"), sum("msum").as("margin_sum"))
          .select(col("source"), col("n_docs"), col("easy"), col("hard"),
            col("ambiguous"),
            expr("easy * 1000000 div n_docs").as("easy_ppm"),
            expr("ambiguous * 1000000 div n_docs").as("ambiguous_ppm"),
            expr("rng_sum div n_docs").as("mean_range"),
            col("margin_sum"))
          .orderBy("source")
      },
      Some(s"""
        $cartographyCtes
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(m1 > 0 AND m2 > 0 AND m3 > 0) AS BIGINT)
                 AS easy,
               CAST(count_if(m1 <= 0 AND m2 <= 0 AND m3 <= 0) AS BIGINT)
                 AS hard,
               CAST(COUNT(*) - count_if(m1 > 0 AND m2 > 0 AND m3 > 0)
                    - count_if(m1 <= 0 AND m2 <= 0 AND m3 <= 0) AS BIGINT)
                 AS ambiguous,
               CAST(count_if(m1 > 0 AND m2 > 0 AND m3 > 0) * 1000000
                    // COUNT(*) AS BIGINT) AS easy_ppm,
               CAST((COUNT(*) - count_if(m1 > 0 AND m2 > 0 AND m3 > 0)
                     - count_if(m1 <= 0 AND m2 <= 0 AND m3 <= 0)) * 1000000
                    // COUNT(*) AS BIGINT) AS ambiguous_ppm,
               CAST(SUM(greatest(m1, m2, m3) - least(m1, m2, m3))
                    // COUNT(*) AS BIGINT) AS mean_range,
               CAST(SUM(m1 + m2 + m3) AS BIGINT) AS margin_sum
        FROM mm
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q308
    // Split-conformal prediction audit — the distribution-free
    // calibration wrapper (Vovk; Angelopoulos & Bates) a production
    // classifier gets AFTER q268's reliability diagram says its raw
    // scores drift: hold out a calibration split, read class
    // thresholds off its order statistics, and prediction sets inherit
    // the ≥ 1−α marginal-coverage guarantee with no model assumptions.
    // All integer: scores are the session-shared classifier's ppm dot
    // products, the calibration split is an md5(doc_id) % 4 coin
    // (content-free, de-striped from the source key), the rank r =
    // ⌊α(n+1)⌋ at α = 0.1 (floored at 1 — n ≥ 9 throughout this
    // fixture, stated), and each class threshold is an exact order
    // statistic read from the SCORE-GRID CDF (scores are ppm-quantized
    // so the grid is bounded by construction — the q270 device; the
    // cumulative window runs over grid values, never docs). Class
    // "good" enters a doc's set iff score ≥ its r-th-smallest
    // calibration-good score; "bad" iff score ≤ the r-th-largest
    // calibration-bad score. Report: thresholds, per-class eval
    // coverage (the ≥ 900000 ppm promise, spec-asserted with slack),
    // and mean prediction-set size — the efficiency the guarantee is
    // traded against.
    QueryDef(
      "q308_split_conformal",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val scored =
          ClassifierArtifacts.grams(s, dir)
            .join(broadcast(ClassifierArtifacts.weights(s, dir)), "b")
            .groupBy("doc_id", "source", "good")
            .agg(expr("sum(w) div count(1)").as("sc"))
            .withColumn("cal", expr(
              """cast(conv(substr(md5(cast(doc_id AS string)), 1, 15),
                           16, 10) AS BIGINT) % 4 = 0"""))
            .persist(MEMORY_AND_DISK)
        val wGrid = Window.orderBy("sc") // ≤ ppm-grid rows by construction
        val wGridD = Window.orderBy(col("sc").desc)
        val calG = scored.filter(col("cal") && col("good"))
        val calB = scored.filter(col("cal") && !col("good"))
        val rg = calG.agg(count(lit(1)).as("ng"))
          .select(col("ng"),
            expr("greatest(100000 * (ng + 1) div 1000000, 1L)").as("rg"))
        val rb = calB.agg(count(lit(1)).as("nb"))
          .select(col("nb"),
            expr("greatest(100000 * (nb + 1) div 1000000, 1L)").as("rb"))
        val tg = calG.groupBy("sc").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wGrid))
          .crossJoin(broadcast(rg))
          .filter(col("cum") >= col("rg"))
          .agg(min("sc").as("thr_good_ppm"))
        val tb = calB.groupBy("sc").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wGridD))
          .crossJoin(broadcast(rb))
          .filter(col("cum") >= col("rb"))
          .agg(max("sc").as("thr_bad_ppm"))
        val evals = scored.filter(!col("cal"))
          .crossJoin(broadcast(tg)).crossJoin(broadcast(tb))
          .crossJoin(broadcast(rg)).crossJoin(broadcast(rb))
          .select(col("good"),
            (col("sc") >= col("thr_good_ppm")).as("in_g"),
            (col("sc") <= col("thr_bad_ppm")).as("in_b"),
            col("ng"), col("rg"), col("nb"), col("rb"),
            col("thr_good_ppm"), col("thr_bad_ppm"))
          .groupBy("ng", "rg", "nb", "rb", "thr_good_ppm", "thr_bad_ppm")
        conformalCoverage(evals, col("ng").as("n_cal_good"),
          col("rg").as("r_good"), col("nb").as("n_cal_bad"),
          col("rb").as("r_bad"), col("thr_good_ppm"), col("thr_bad_ppm"))
      },
      Some(conformalOracle))
  ,

    // --------------------------------------------------------------- q317
    // Isotonic calibration (pool-adjacent-violators) — the calibration
    // MAP to go with q268's diagnosis and q308's set-valued guarantee:
    // fit the best monotone non-decreasing rate curve over the score
    // axis, the recalibration function production scorers actually
    // deploy (Zadrozny & Elkan). PAV's sequential pooling is replaced
    // by its exact CLOSED FORM, iso_i = max_{j≤i} min_{k≥i} avg(g/n
    // over bins j..k) — computable as pure join/aggregate algebra
    // because the score axis is a FIXED-WIDTH ppm grid (no per-doc
    // window anywhere): interval rates come
    // from grid prefix sums with ONE truncating division each, then a
    // bounded (i, j, k) join takes the min-then-max (grid ≤ 501 bins
    // at width 2000 ppm, so even the worst-case triple stage is a
    // data-independent constant). Weighted by bin
    // population, denominators always positive (every bin row holds
    // ≥ 1 doc). Output per bin: population, raw vs isotonic rate, and
    // whether PAV adjusted it; monotonicity of the fitted curve is
    // spec-asserted.
    QueryDef(
      "q317_isotonic_calibration",
      (s, dir) => {
        val scored = ClassifierArtifacts.grams(s, dir)
          .join(broadcast(ClassifierArtifacts.weights(s, dir)), "b")
          .groupBy("doc_id", "good")
          .agg(expr("sum(w) div count(1)").as("score_ppm"))
        val bins = scored
          .select(expr("score_ppm div 2000").as("bin"), col("good"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            sum(when(col("good"), 1L).otherwise(0L)).as("g"))
        val wUp = org.apache.spark.sql.expressions.Window
          .orderBy("bin") // ≤ 501 grid rows by construction
        val pre = bins
          .withColumn("cn", sum("n").over(wUp))
          .withColumn("cg", sum("g").over(wUp))
        val jside = pre.select(col("bin").as("j"),
          (col("cn") - col("n")).as("cnj"), (col("cg") - col("g")).as("cgj"))
        val kside = pre.select(col("bin").as("k"),
          col("cn").as("cnk"), col("cg").as("cgk"))
        val ivals = jside.join(kside, col("j") <= col("k"))
          .select(col("j"), col("k"),
            expr("(cgk - cgj) * 1000000 div (cnk - cnj)").as("a"))
        val iso = bins.select(col("bin").as("i"))
          .join(ivals, col("j") <= col("i") && col("k") >= col("i"))
          .groupBy("i", "j").agg(min("a").as("mn"))
          .groupBy("i").agg(max("mn").as("iso_rate_ppm"))
        bins.join(iso, col("bin") === col("i"))
          .select(col("bin"), col("n").as("n_docs"),
            expr("g * 1000000 div n").as("raw_rate_ppm"),
            col("iso_rate_ppm"),
            (expr("g * 1000000 div n") =!= col("iso_rate_ppm"))
              .as("pav_adjusted"))
          .orderBy("bin")
      },
      Some(s"""
        WITH $classifierScoreCtes,
        sd AS (
          SELECT doc_id, good, score_ppm FROM sc),
        bins AS (
          SELECT score_ppm // 2000 AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(count_if(good) AS BIGINT) AS g
          FROM sd GROUP BY 1),
        pre AS (
          SELECT bin, n, g,
                 CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                 CAST(SUM(g) OVER (ORDER BY bin) AS BIGINT) AS cg
          FROM bins),
        ivals AS (
          SELECT j.bin AS j, k.bin AS k,
                 (k.cg - (j.cg - j.g)) * 1000000
                   // (k.cn - (j.cn - j.n)) AS a
          FROM pre j JOIN pre k ON j.bin <= k.bin),
        mins AS (
          SELECT b.bin AS i, iv.j, CAST(MIN(iv.a) AS BIGINT) AS mn
          FROM bins b JOIN ivals iv ON iv.j <= b.bin AND iv.k >= b.bin
          GROUP BY b.bin, iv.j),
        iso AS (
          SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_rate_ppm
          FROM mins GROUP BY i)
        SELECT bin, n AS n_docs,
               CAST(g * 1000000 // n AS BIGINT) AS raw_rate_ppm,
               iso_rate_ppm,
               g * 1000000 // n <> iso_rate_ppm AS pav_adjusted
        FROM bins JOIN iso ON bins.bin = iso.i
        ORDER BY bin"""))
  ,

    // --------------------------------------------------------------- q309
    // Decision-stump split search — one CART iteration, the
    // interpretable baseline (and boosting weak learner) a gate
    // designer runs BEFORE reaching for q262's perceptron: over four
    // integer document features, find each feature's best binary split
    // against the seed label by exact Gini gain. The candidate grid IS
    // the feature quantization (stated widths — the histogram-split
    // device every distributed GBDT uses: XGBoost/LightGBM bin first,
    // split on bins), so split search is cumulative arithmetic over a
    // bounded per-feature grid, never a per-doc sort. Gini terms route
    // through DECIMAL(38) ↔ HUGEINT (counts² × 10⁶ headroom) with one
    // truncating division per term in identical order; gain = parent −
    // weighted-child can go a ppm negative under truncation (reported
    // signed, never divided). Output: per feature its best threshold,
    // left population, parent/split impurity, gain, and the
    // cross-feature rank — the stump a one-rule gate would deploy.
    QueryDef(
      "q309_decision_stump",
      (s, dir) => {
        val f = Tables(s, dir, "documents")
          .selectExpr(
            """2 * size(array_distinct(filter(split(text, ' '),
                 w -> w <> '')))
               >= size(filter(split(text, ' '), w -> w <> '')) AS good""",
            "size(filter(split(text, ' '), w -> w <> '')) AS n_toks",
            """size(array_distinct(filter(split(text, ' '),
                 w -> w <> ''))) AS n_types""",
            """size(array_distinct(filter(split(text, ' '),
                 w -> w <> ''))) * 1000000
               div size(filter(split(text, ' '), w -> w <> ''))
               AS ttr_ppm""",
            """length(replace(text, ' ', '')) * 1000
               div size(filter(split(text, ' '), w -> w <> ''))
               AS mwl_milli""")
          .selectExpr("good",
            """stack(4,
                 'mwl',   (mwl_milli div 250) * 250,
                 'toks',  (n_toks div 8) * 8,
                 'ttr',   (ttr_ppm div 50000) * 50000,
                 'types', (n_types div 8) * 8) AS (feat, v)""")
        val grid = f.groupBy("feat", "v")
          .agg(count(lit(1)).as("n"),
            sum(when(col("good"), 1L).otherwise(0L)).as("g"))
        val wCum = Window.partitionBy("feat").orderBy("v")
        val wTot = Window.partitionBy("feat")
        def gini(gc: String, nc: String): String =
          s"""cast(1000000 - (CAST($gc AS DECIMAL(38,0)) * $gc
                              + CAST($nc - $gc AS DECIMAL(38,0))
                                * ($nc - $gc)) * 1000000
                             div (CAST($nc AS DECIMAL(38,0)) * $nc)
                   AS BIGINT)"""
        val splits = grid
          .withColumn("cn", sum("n").over(wCum))
          .withColumn("cg", sum("g").over(wCum))
          .withColumn("nt", sum("n").over(wTot))
          .withColumn("gt", sum("g").over(wTot))
          .filter(col("cn") > 0L && col("cn") < col("nt"))
          .withColumn("gini_parent_ppm", expr(gini("gt", "nt")))
          .withColumn("gl", expr(gini("cg", "cn")))
          .withColumn("gr", expr(gini("(gt - cg)", "(nt - cn)")))
          .withColumn("gini_split_ppm", expr(
            """cast((CAST(cn AS DECIMAL(38,0)) * gl
                     + CAST(nt - cn AS DECIMAL(38,0)) * gr) div nt
                 AS BIGINT)"""))
          .withColumn("gain_ppm",
            col("gini_parent_ppm") - col("gini_split_ppm"))
        splits
          .withColumn("rk", row_number().over(
            Window.partitionBy("feat")
              .orderBy(col("gain_ppm").desc, col("v"))).cast("long"))
          .filter(col("rk") === 1L)
          .withColumn("stump_rank", row_number().over(
            Window.orderBy(col("gain_ppm").desc, col("feat"))).cast("long")) // ≤ features rows (one split per feat)
          .select(col("feat"), col("v").as("thr"), col("cn").as("n_left"),
            col("nt").as("n_total"), col("gini_parent_ppm"),
            col("gini_split_ppm"), col("gain_ppm"), col("stump_rank"))
          .orderBy("feat")
      },
      Some("""
        WITH f AS (
          SELECT 2 * len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> '')))
                 >= len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS good,
                 len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS n_toks,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS n_types,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) * 1000000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS ttr_ppm,
                 length(replace(text, ' ', '')) * 1000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS mwl_milli
          FROM documents),
        lg AS (
          SELECT good, feat, v FROM (
            SELECT good, unnest([
              {'feat': 'mwl',   'v': (mwl_milli // 250) * 250},
              {'feat': 'toks',  'v': (n_toks // 8) * 8},
              {'feat': 'ttr',   'v': (ttr_ppm // 50000) * 50000},
              {'feat': 'types', 'v': (n_types // 8) * 8}],
              recursive := true)
            FROM f)),
        grid AS (
          SELECT feat, v, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(count_if(good) AS BIGINT) AS g
          FROM lg GROUP BY feat, v),
        cum AS (
          SELECT feat, v, n, g,
                 CAST(SUM(n) OVER (PARTITION BY feat ORDER BY v)
                   AS BIGINT) AS cn,
                 CAST(SUM(g) OVER (PARTITION BY feat ORDER BY v)
                   AS BIGINT) AS cg,
                 CAST(SUM(n) OVER (PARTITION BY feat) AS BIGINT) AS nt,
                 CAST(SUM(g) OVER (PARTITION BY feat) AS BIGINT) AS gt
          FROM grid),
        sp AS (
          SELECT feat, v, cn, nt,
                 CAST(1000000 - (CAST(gt AS HUGEINT) * gt
                                 + CAST(nt - gt AS HUGEINT) * (nt - gt))
                                * 1000000
                                // (CAST(nt AS HUGEINT) * nt) AS BIGINT)
                   AS gini_parent_ppm,
                 CAST(1000000 - (CAST(cg AS HUGEINT) * cg
                                 + CAST(cn - cg AS HUGEINT) * (cn - cg))
                                * 1000000
                                // (CAST(cn AS HUGEINT) * cn) AS BIGINT)
                   AS gl,
                 CAST(1000000 - (CAST(gt - cg AS HUGEINT) * (gt - cg)
                                 + CAST((nt - cn) - (gt - cg) AS HUGEINT)
                                   * ((nt - cn) - (gt - cg)))
                                * 1000000
                                // (CAST(nt - cn AS HUGEINT) * (nt - cn))
                   AS BIGINT) AS gr
          FROM cum WHERE cn > 0 AND cn < nt),
        gn AS (
          SELECT feat, v, cn, nt, gini_parent_ppm,
                 CAST((CAST(cn AS HUGEINT) * gl
                       + CAST(nt - cn AS HUGEINT) * gr) // nt AS BIGINT)
                   AS gini_split_ppm
          FROM sp),
        best AS (
          SELECT *, gini_parent_ppm - gini_split_ppm AS gain_ppm,
                 row_number() OVER (PARTITION BY feat
                   ORDER BY gini_parent_ppm - gini_split_ppm DESC, v) AS rk
          FROM gn)
        SELECT feat, v AS thr, cn AS n_left, nt AS n_total,
               gini_parent_ppm, gini_split_ppm, gain_ppm,
               CAST(row_number() OVER (ORDER BY gain_ppm DESC, feat)
                 AS BIGINT) AS stump_rank
        FROM best WHERE rk = 1
        ORDER BY feat"""))
  ,

    // --------------------------------------------------------------- q300
    // Theil–Sen robust trend fit — the median-of-pairwise-slopes
    // estimator (29.3% breakdown point) run where q123's OLS is the
    // fragile choice: fitting how a source's lexical diversity (mean
    // doc TTR, ppm) trends with its size in tokens, a fit a single
    // outlier domain would drag. All arithmetic is
    // exact: slopes are sign·(|Δy|·10⁶ div Δx) with both operands
    // non-negative (pairs oriented x1 < x2, equal-x pairs excluded —
    // stated), and the median is the LOWER median (element (n+1) div 2
    // of the (slope, pair) order), so no averaging float ever appears.
    // The intercept is the lower median of y·10⁶ − slope·x over the
    // points. 100 TB shape: the corpus compresses to one point per
    // source via one keyed aggregate; the all-pairs stage and
    // both median windows touch ≤ sources² rows — bounded by
    // construction, the one place a nested-loop pair join is right.
    QueryDef(
      "q300_theil_sen_fit",
      (s, dir) => {
        val pts = Tables(s, dir, "documents")
          .select(col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))").as("nt"),
            expr("""size(array_distinct(filter(split(text, ' '),
                      w -> w <> ''))) * 1000000
                    div size(filter(split(text, ' '), w -> w <> ''))""")
              .as("ttr_ppm"))
          .groupBy("source")
          .agg(sum("nt").as("x"),
            expr("sum(ttr_ppm) div count(1)").as("y"))
          // eager checkpoint: the pair self-join reads this ≤ sources-row
          // frame twice and the intercept stage a third time — without
          // the cut each consumer re-derives the corpus aggregate and the
          // operator pays three corpus passes (the q319 lesson, r10)
          .localCheckpoint(true)
        val p2 = pts.select(col("source").as("s2"), col("x").as("x2"),
          col("y").as("y2"))
        val wAll = Window.partitionBy() // ≤ sources² rows by construction
        val slope = pts.join(p2, col("x") < col("x2"))
          .select(col("source"), col("s2"),
            expr("""CASE WHEN y2 >= y THEN 1L ELSE -1L END
                    * (abs(y2 - y) * 1000000 div (x2 - x))""").as("sl"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("sl"), col("source"), col("s2"))).cast("long")) // ≤ sources² pair rows
          .withColumn("np", count(lit(1)).over(wAll).cast("long"))
          .filter(col("rk") === expr("(np + 1) div 2"))
          .select(col("sl").as("slope_micro"), col("np").as("n_pairs"))
        // LEFT join on TRUE, not crossJoin (ADVICE r10, via q322): on a
        // degenerate single-source corpus the pair set — and so `slope` —
        // is empty; a cross join would emit zero rows while the oracle's
        // scalar subqueries yield one row with NULL slope. Identical to
        // the cross join whenever slope has its usual single row.
        pts.join(broadcast(slope), lit(true), "left_outer")
          .select(col("source"), col("slope_micro"), col("n_pairs"),
            // ADVICE r9: slope_micro·x can exceed int64 when two sources
            // have near-equal token totals (slope_micro ≈ 1e12/Δx) —
            // DECIMAL(38,0) ↔ HUGEINT keeps the median ORDER exact at
            // all magnitudes; the emitted value lands on BIGINT
            expr("""CAST(y AS DECIMAL(38,0)) * 1000000
                    - CAST(slope_micro AS DECIMAL(38,0)) * x""").as("b"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("b"), col("source"))).cast("long")) // ≤ sources² pair rows
          .withColumn("npt", count(lit(1)).over(wAll).cast("long"))
          .filter(col("rk") === expr("(npt + 1) div 2"))
          .select(col("npt").as("n_points"), col("n_pairs"),
            col("slope_micro"),
            expr("CAST(b AS BIGINT)").as("intercept_micro"))
      },
      Some("""
        WITH tt AS (
          SELECT source,
                 len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS nt,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) * 1000000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS ttr_ppm
          FROM documents),
        pts AS (
          SELECT source, CAST(SUM(nt) AS BIGINT) AS x,
                 CAST(SUM(ttr_ppm) AS BIGINT) // COUNT(*) AS y
          FROM tt GROUP BY source),
        pairs AS (
          SELECT a.source AS s1, b.source AS s2,
                 (CASE WHEN b.y >= a.y THEN 1 ELSE -1 END)
                 * (abs(b.y - a.y) * 1000000 // (b.x - a.x)) AS sl
          FROM pts a JOIN pts b ON a.x < b.x),
        sl AS (
          SELECT sl AS slope_micro,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs,
                 CAST(row_number() OVER (ORDER BY sl, s1, s2) AS BIGINT)
                   AS rk
          FROM pairs),
        slm AS (SELECT slope_micro, n_pairs FROM sl
                WHERE rk = (n_pairs + 1) // 2),
        ic AS (
          SELECT source, slope_micro, n_pairs,
                 CAST(y AS HUGEINT) * 1000000
                   - CAST(slope_micro AS HUGEINT) * x AS b,
                 CAST(COUNT(*) OVER () AS BIGINT) AS npt,
                 CAST(row_number() OVER
                   (ORDER BY CAST(y AS HUGEINT) * 1000000
                     - CAST(slope_micro AS HUGEINT) * x, source)
                   AS BIGINT) AS rk
          FROM pts CROSS JOIN slm)
        SELECT npt AS n_points, n_pairs,
               CAST(slope_micro AS BIGINT) AS slope_micro,
               CAST(b AS BIGINT) AS intercept_micro
        FROM ic WHERE rk = (npt + 1) // 2"""))
  ,

    // --------------------------------------------------------------- q301
    // Leave-one-out source ablation — the cheapest honest answer to
    // "what does each domain contribute?": for every source, what the
    // corpus loses if it is dropped, computed EXACTLY from sufficient
    // statistics rather than by re-running the pipeline N times.
    // Two contributions per source: vocabulary (types whose ONLY
    // source it is — the coverage that vanishes outright, priced in
    // ppm of the global type count) and quality (the corpus mean-TTR
    // shift, (S−s)/(C−c) − S/C, exact truncating ppm arithmetic with
    // non-negative operands). 100 TB shape: two keyed aggregates
    // (source×type, doc) plus two broadcast one-row globals — the LOO
    // algebra means N ablations cost ONE corpus pass, which is the
    // entire point of the operator at scale.
    QueryDef(
      "q301_source_ablation",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val st = docs.select(col("source"),
            explode(expr(
              "array_distinct(filter(split(text, ' '), w -> w <> ''))"))
              .as("tok"))
          .distinct()
        val nsrc = st.groupBy("tok").agg(count(lit(1)).as("n_src"))
        val uniq = st.join(nsrc, "tok").filter(col("n_src") === 1L)
          .groupBy("source").agg(count(lit(1)).as("uq"))
        val vtot = nsrc.agg(count(lit(1)).as("v"))
        val ttr = docs.select(col("source"),
          expr("""size(array_distinct(filter(split(text, ' '),
                    w -> w <> ''))) * 1000000
                  div size(filter(split(text, ' '), w -> w <> ''))""")
            .as("ttr_ppm"))
        val bySrc = ttr.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ttr_ppm").as("s_sum"))
        val glob = ttr.agg(count(lit(1)).as("c_all"),
          sum("ttr_ppm").as("s_all"))
        bySrc.join(uniq, Seq("source"), "left")
          .crossJoin(broadcast(glob)).crossJoin(broadcast(vtot))
          .select(col("source"), col("n_docs"),
            coalesce(col("uq"), lit(0L)).as("unique_types"),
            expr("coalesce(uq, 0L) * 1000000 div v").as("vocab_loss_ppm"),
            expr("s_sum div n_docs").as("mean_ttr_ppm"),
            expr("""(s_all - s_sum) div (c_all - n_docs)
                    - s_all div c_all""").as("loo_ttr_delta_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH st AS (
          SELECT DISTINCT source, tok
          FROM (SELECT source,
                       unnest(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> ''))) AS tok
                FROM documents)),
        ns AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_src
               FROM st GROUP BY tok),
        uq AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS uq
               FROM st JOIN ns USING (tok) WHERE n_src = 1
               GROUP BY source),
        vt AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ns),
        tt AS (SELECT source,
                      len(list_distinct(list_filter(
                        string_split(text, ' '), w -> w <> ''))) * 1000000
                        // len(list_filter(string_split(text, ' '),
                             w -> w <> '')) AS ttr_ppm
               FROM documents),
        bs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(ttr_ppm) AS BIGINT) AS s_sum
               FROM tt GROUP BY source),
        gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_all,
                      CAST(SUM(ttr_ppm) AS BIGINT) AS s_all FROM tt)
        SELECT bs.source AS source, n_docs,
               CAST(COALESCE(uq, 0) AS BIGINT) AS unique_types,
               CAST(COALESCE(uq, 0) * 1000000 // v AS BIGINT)
                 AS vocab_loss_ppm,
               CAST(s_sum // n_docs AS BIGINT) AS mean_ttr_ppm,
               CAST((s_all - s_sum) // (c_all - n_docs) - s_all // c_all
                 AS BIGINT) AS loo_ttr_delta_ppm
        FROM bs LEFT JOIN uq ON bs.source = uq.source
        CROSS JOIN gl CROSS JOIN vt
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q303
    // Majority-vote (self-consistency) estimation — q295's sibling for
    // the OTHER sampling-time compute recipe: instead of pass@k
    // (any-of-k), estimate maj@k, the probability that the majority of
    // k samples drawn WITHOUT replacement from a task's n attempts
    // (c successes) are correct — exact hypergeometric tail
    // Σ_{i>k/2} C(c,i)·C(n−c,k−i) / C(n,k). Binomials are falling-
    // factorial products routed through DECIMAL(38) ↔ HUGEINT (a
    // leftmost 38-digit unit forces wide arithmetic BEFORE any
    // overflow; any c < k hits a zero factor so no guard is needed),
    // numerators sum exactly and divide ONCE, so no partial-term
    // rounding exists to disagree on. Cohort = q295's n ≥ 10 users
    // (stated), reported per success-rate decile — the maj@k-vs-
    // pass@k curve an eval harness reads to pick its aggregation
    // rule. Shape: one map-side-combinable keyed aggregate, then
    // arithmetic on a ≤ 10-row frame.
    QueryDef(
      "q303_majority_vote",
      (s, dir) => {
        def binom(x: String, k: Int): String = {
          val prod = (0 until k).map(i => s"($x - ${i}L)").mkString(" * ")
          val fact = (1 to k).product
          s"(CAST(1 AS DECIMAL(38,0)) * $prod div ${fact}L)"
        }
        val maj3 = s"""cast((${binom("c", 2)} * (n - c) + ${binom("c", 3)})
                        * 1000000 div ${binom("n", 3)} AS BIGINT)"""
        val maj5 = s"""cast((${binom("c", 3)} * ${binom("n - c", 2)}
                             + ${binom("c", 4)} * (n - c)
                             + ${binom("c", 5)})
                        * 1000000 div ${binom("n", 5)} AS BIGINT)"""
        Tables.events(s, dir)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("c"))
          .filter(col("n") >= 10L)
          .select(expr("c * 10 div n").as("decile"),
            col("n"), col("c"),
            expr(maj3).as("m3"), expr(maj5).as("m5"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_tasks"),
            expr("sum(c) * 1000000 div sum(n)").as("base_rate_ppm"),
            expr("sum(m3) div count(1)").as("maj3_ppm"),
            expr("sum(m5) div count(1)").as("maj5_ppm"))
          .orderBy("decile")
      },
      Some("""
        WITH t AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(count_if(event_type = 'purchase') AS BIGINT) AS c
          FROM events
          GROUP BY user_id
          HAVING COUNT(*) >= 10),
        p AS (
          SELECT c * 10 // n AS decile, n, c,
                 CAST((CAST(1 AS HUGEINT) * c * (c-1) // 2 * (n - c)
                       + CAST(1 AS HUGEINT) * c * (c-1) * (c-2) // 6)
                      * 1000000
                      // (CAST(1 AS HUGEINT) * n * (n-1) * (n-2) // 6)
                   AS BIGINT) AS m3,
                 CAST((CAST(1 AS HUGEINT) * c * (c-1) * (c-2) // 6
                         * (CAST(1 AS HUGEINT) * (n-c) * (n-c-1) // 2)
                       + CAST(1 AS HUGEINT) * c * (c-1) * (c-2) * (c-3)
                         // 24 * (n - c)
                       + CAST(1 AS HUGEINT) * c * (c-1) * (c-2) * (c-3)
                         * (c-4) // 120)
                      * 1000000
                      // (CAST(1 AS HUGEINT) * n * (n-1) * (n-2) * (n-3)
                         * (n-4) // 120)
                   AS BIGINT) AS m5
          FROM t)
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_tasks,
               CAST(SUM(c) AS BIGINT) * 1000000 // CAST(SUM(n) AS BIGINT)
                 AS base_rate_ppm,
               CAST(SUM(m3) AS BIGINT) // COUNT(*) AS maj3_ppm,
               CAST(SUM(m5) AS BIGINT) // COUNT(*) AS maj5_ppm
        FROM p
        GROUP BY decile
        ORDER BY decile"""))
  ,

    // --------------------------------------------------------------- q327
    // k-anonymity / l-diversity audit — the governance sibling of
    // q323's PII gate: before a customer extract ships as training or
    // eval data, measure RE-IDENTIFICATION risk. Quasi-identifier =
    // (mktsegment, 1000-unit balance band — floor over the exact
    // double, identical in both engines); sensitive attribute =
    // nationkey. k = equivalence-class size (rows sharing a QI tuple
    // are indistinguishable; k < 5 is linkable), l = distinct sensitive
    // values inside the class (l < 3 leaks the nation even without
    // linking). Per-segment report: classes, min k, rows at k < 5 and
    // their ppm, min l, rows at l < 3 and their ppm. 100 TB shape: ONE
    // keyed aggregate over the QI tuple (count + count-distinct in the
    // same pass), then a ≤ segments × bands rollup — the table is
    // touched once.
    QueryDef(
      "q327_k_anonymity_audit",
      (s, dir) => {
        // band operand shifted non-negative BEFORE the integer divide:
        // Spark div truncates toward zero while DuckDB // floors, so a
        // negative balance (min −999.99) would band differently; +1000
        // keeps both engines on the same floor
        val cls = Tables(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 1000")
              .as("band"),
            col("c_nationkey").cast("long").as("nat"))
          .groupBy("seg", "band")
          .agg(count(lit(1)).as("k"), countDistinct("nat").as("l"))
        cls.groupBy("seg")
          .agg(sum("k").as("n_rows"),
            count(lit(1)).as("n_classes"),
            min("k").as("min_k"),
            sum(when(col("k") < 5, col("k")).otherwise(0L))
              .as("rows_k_lt5"),
            expr("""sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
                    div sum(k)""").as("k_risk_ppm"),
            min("l").as("min_l"),
            sum(when(col("l") < 3, col("k")).otherwise(0L))
              .as("rows_l_lt3"),
            expr("""sum(CASE WHEN l < 3 THEN k ELSE 0 END) * 1000000
                    div sum(k)""").as("l_risk_ppm"))
          .orderBy("seg")
      },
      Some("""
        WITH cls AS (
          SELECT c_mktsegment AS seg,
                 (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1000 AS band,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS l
          FROM customer
          GROUP BY seg, band)
        SELECT seg, CAST(SUM(k) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
                 AS rows_k_lt5,
               CAST(CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
                 * 1000000 // CAST(SUM(k) AS BIGINT) AS BIGINT)
                 AS k_risk_ppm,
               CAST(MIN(l) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT)
                 AS rows_l_lt3,
               CAST(CAST(SUM(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT)
                 * 1000000 // CAST(SUM(k) AS BIGINT) AS BIGINT)
                 AS l_risk_ppm
        FROM cls
        GROUP BY seg
        ORDER BY seg"""))
  ,

    // --------------------------------------------------------------- q343
    // Reliability-weighted label aggregation — one exact M-step of the
    // Dawid–Skene family on top of q303's plain majority and q280's
    // agreement coefficient: five synthetic annotators relabel every
    // document (annotator a flips the doc's true lang with probability
    // 10 + 15·a percent via the md5-coin, the wrong label drawn
    // cyclically from the 5-lang alphabet), round 1 takes the plain
    // per-doc majority (deterministic min(struct(−votes, label))
    // argmax), each annotator's RELIABILITY is their ppm agreement
    // with that majority, and round 2 re-votes with reliability
    // weights — integer sums of ppm weights, argmax again. The report
    // is one row per annotator (reliability, truth accuracy) with the
    // corpus-level round-1 vs round-2 accuracy repeated alongside
    // (the q331 group-constant convention) — the lift the weighting
    // buys. 100 TB shape: a ×5 stateless explode, per-(doc, label)
    // keyed aggregates, two ≤ 5-row argmax reductions per doc, a
    // 5-row reliability broadcast joined back; no window anywhere.
    QueryDef(
      "q343_weighted_vote_aggregation",
      (s, dir) => {
        val langs = "array('de', 'en', 'es', 'fr', 'zh')"
        val ann = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
          .withColumn("a", explode(expr("sequence(0, 4)")))
          .withColumn("c1", expr(
            """CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_a',
                  CAST(a AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100"""))
          .withColumn("c2", expr(
            """CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_a',
                  CAST(a AS STRING))), 16, 15), 16, 10) AS BIGINT) % 4"""))
          .withColumn("lbl", expr(
            // nullif(...,0): Spark's array_position returns 0 for a lang
            // absent from the alphabet (a valid cyclic label!) while
            // DuckDB's list_position returns NULL — align on NULL so a
            // sixth language can never diverge silently (ADVICE r11)
            s"""CASE WHEN c1 < 10 + 15 * a
                THEN element_at($langs,
                  CAST((nullif(array_position($langs, lang), 0) - 1 + 1
                        + c2) % 5 AS INT) + 1)
                ELSE lang END"""))
          .select("doc_id", "lang", "a", "lbl")
        weightedVoteReport(ann)
      },
      Some("""
        WITH langs AS (SELECT ['de', 'en', 'es', 'fr', 'zh'] AS ls),
        ann AS (
          SELECT doc_id, lang, t.a,
                 CASE WHEN CAST(concat('0x', substr(md5(
                        CAST(doc_id AS VARCHAR) || '_a' || t.a), 1, 15))
                        AS BIGINT) % 100 < 10 + 15 * t.a
                      THEN ls[CAST((list_position(ls, lang) - 1 + 1 +
                        CAST(concat('0x', substr(md5(
                          CAST(doc_id AS VARCHAR) || '_a' || t.a), 16, 15))
                          AS BIGINT) % 4) % 5 AS INT) + 1]
                      ELSE lang END AS lbl
          FROM documents, langs, UNNEST(range(0, 5)) AS t(a)),
        r1 AS (
          SELECT doc_id, lbl AS maj1 FROM (
            SELECT doc_id, lbl,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY COUNT(*) DESC, lbl) AS rn
            FROM ann GROUP BY doc_id, lbl) x WHERE rn = 1),
        rel AS (
          SELECT a, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(count_if(lbl = maj1) AS BIGINT) AS agree_r1,
                 CAST(count_if(lbl = lang) AS BIGINT) AS correct,
                 CAST(CAST(count_if(lbl = maj1) AS BIGINT) * 1000000
                   // COUNT(*) AS BIGINT) AS reliability_ppm,
                 CAST(CAST(count_if(lbl = lang) AS BIGINT) * 1000000
                   // COUNT(*) AS BIGINT) AS correct_ppm
          FROM ann JOIN r1 USING (doc_id) GROUP BY a),
        r2 AS (
          SELECT doc_id, lang AS truth, lbl AS maj2 FROM (
            SELECT n.doc_id, n.lang, n.lbl,
                   row_number() OVER (PARTITION BY n.doc_id
                     ORDER BY SUM(w.reliability_ppm) DESC, n.lbl) AS rn
            FROM ann n JOIN rel w ON n.a = w.a
            GROUP BY n.doc_id, n.lang, n.lbl) x WHERE rn = 1),
        acc AS (
          SELECT CAST(count_if(r1.maj1 = r2.truth) AS BIGINT) * 1000000
                   // COUNT(*) AS r1_acc_ppm,
                 CAST(count_if(r2.maj2 = r2.truth) AS BIGINT) * 1000000
                   // COUNT(*) AS r2_acc_ppm
          FROM r1 JOIN r2 USING (doc_id))
        SELECT a, n_docs, agree_r1, reliability_ppm, correct, correct_ppm,
               CAST(r1_acc_ppm AS BIGINT) AS r1_acc_ppm,
               CAST(r2_acc_ppm AS BIGINT) AS r2_acc_ppm
        FROM rel, acc
        ORDER BY a"""))
  )

  /** q275/s43 shared: the four gate flags over (source, text) — a pure
    * stateless per-row projection (which is what lets s43 stream it). */
  /** q343 shared rollup half over any (doc_id, lang, a, lbl)
    * annotation frame with annotators a = 0..4 — factored so the
    * one-step Dawid–Skene fixpoint spec can drive it with the
    * exhaustive annotator-pattern space (every 3^5 label assignment
    * per truth) and compare against a plain-Scala simulator. Round-1
    * plain majority → per-annotator reliability → round-2
    * reliability-weighted re-vote → corpus accuracy lift; both argmax
    * reductions tie-break by (−votes, lbl) so the pick is
    * deterministic under any tie. */
  private[graft] def weightedVoteReport(ann: DataFrame): DataFrame = {
    // three consumers (round-1 majority, reliabilities, round-2
    // weighted vote) read the ×5 annotation frame — columnar
    // persist so the corpus explode is paid once (the q83 lesson)
    val annP = ann.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r1 = annP.groupBy("doc_id", "lbl")
      .agg(count(lit(1)).as("v"))
      .withColumn("pick", struct((-col("v")).as("nv"), col("lbl")))
      .groupBy("doc_id").agg(min("pick").as("m"))
      .select(col("doc_id").as("d1"), col("m.lbl").as("maj1"))
    val rel = annP.join(r1, col("doc_id") === col("d1"))
      .groupBy("a")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("lbl") === col("maj1")).cast("long")).as("agree_r1"),
        sum((col("lbl") === col("lang")).cast("long")).as("correct"))
      .withColumn("reliability_ppm",
        expr("agree_r1 * 1000000 div n_docs"))
      .withColumn("correct_ppm", expr("correct * 1000000 div n_docs"))
    val r2 = annP.join(broadcast(rel.select(col("a").as("ra"),
        col("reliability_ppm").as("w"))), col("a") === col("ra"))
      .groupBy("doc_id", "lang", "lbl")
      .agg(sum("w").as("ws"))
      .withColumn("pick", struct((-col("ws")).as("nw"), col("lbl")))
      .groupBy("doc_id", "lang").agg(min("pick").as("m"))
      .select(col("doc_id").as("d2"), col("lang").as("truth"),
        col("m.lbl").as("maj2"))
    val acc = r1.join(r2, col("d1") === col("d2"))
      .agg(count(lit(1)).as("nd"),
        sum((col("maj1") === col("truth")).cast("long")).as("ok1"),
        sum((col("maj2") === col("truth")).cast("long")).as("ok2"))
      .select(expr("ok1 * 1000000 div nd").as("r1_acc_ppm"),
        expr("ok2 * 1000000 div nd").as("r2_acc_ppm"))
    rel.crossJoin(broadcast(acc))
      .select("a", "n_docs", "agree_r1", "reliability_ppm", "correct",
        "correct_ppm", "r1_acc_ppm", "r2_acc_ppm")
      .orderBy("a")
  }

  /** q308/s49 shared: the coverage report over eval rows (good, in_g,
    * in_b) — `audit` columns (the r/n and threshold scalars) first. */
  private[graft] def conformalCoverage(evals: RelationalGroupedDataset,
      audit: org.apache.spark.sql.Column*): DataFrame =
    evals.agg(count(lit(1)).as("n_eval"),
        sum(when(col("good"), 1L).otherwise(0L)).as("n_eval_good"),
        sum(when(col("good") && col("in_g"), 1L).otherwise(0L))
          .as("cov_g"),
        sum(when(!col("good") && col("in_b"), 1L).otherwise(0L))
          .as("cov_b"),
        sum(expr("""CASE WHEN in_g THEN 1L ELSE 0L END
                    + CASE WHEN in_b THEN 1L ELSE 0L END"""))
          .as("set_sum"))
      .select(audit ++ Seq(col("n_eval"),
        expr("cov_g * 1000000 div n_eval_good").as("cov_good_ppm"),
        expr("cov_b * 1000000 div (n_eval - n_eval_good)")
          .as("cov_bad_ppm"),
        expr("set_sum * 1000 div n_eval").as("avg_set_milli")): _*)

  /** q308's oracle, shared VERBATIM by s49 (the streamed prediction
    * sets must reproduce the batch conformal report exactly). */
  private[graft] def conformalOracle: String = s"""
        WITH $classifierScoreCtes,
        sp AS (
          SELECT doc_id, good, score_ppm AS sc,
                 CAST(concat('0x',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 4 = 0 AS cal
          FROM sc),
        rg AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng,
                      greatest(100000 * (COUNT(*) + 1) // 1000000, 1) AS rg
               FROM sp WHERE cal AND good),
        rb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                      greatest(100000 * (COUNT(*) + 1) // 1000000, 1) AS rb
               FROM sp WHERE cal AND NOT good),
        tg AS (
          SELECT CAST(MIN(sc) AS BIGINT) AS thr_good_ppm
          FROM (SELECT sc, SUM(c) OVER (ORDER BY sc) AS cum
                FROM (SELECT sc, COUNT(*) AS c FROM sp
                      WHERE cal AND good GROUP BY sc))
          WHERE cum >= (SELECT rg FROM rg)),
        tb AS (
          SELECT CAST(MAX(sc) AS BIGINT) AS thr_bad_ppm
          FROM (SELECT sc, SUM(c) OVER (ORDER BY sc DESC) AS cum
                FROM (SELECT sc, COUNT(*) AS c FROM sp
                      WHERE cal AND NOT good GROUP BY sc))
          WHERE cum >= (SELECT rb FROM rb)),
        ev AS (
          SELECT good, sc >= (SELECT thr_good_ppm FROM tg) AS in_g,
                 sc <= (SELECT thr_bad_ppm FROM tb) AS in_b
          FROM sp WHERE NOT cal)
        SELECT (SELECT ng FROM rg) AS n_cal_good,
               (SELECT rg FROM rg) AS r_good,
               (SELECT nb FROM rb) AS n_cal_bad,
               (SELECT rb FROM rb) AS r_bad,
               (SELECT thr_good_ppm FROM tg) AS thr_good_ppm,
               (SELECT thr_bad_ppm FROM tb) AS thr_bad_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(count_if(good AND in_g) AS BIGINT) * 1000000
                 // CAST(count_if(good) AS BIGINT) AS cov_good_ppm,
               CAST(count_if(NOT good AND in_b) AS BIGINT) * 1000000
                 // CAST(count_if(NOT good) AS BIGINT) AS cov_bad_ppm,
               CAST((count_if(in_g) + count_if(in_b)) * 1000
                 // COUNT(*) AS BIGINT) AS avg_set_milli
        FROM ev"""

  /** q307's oracle CTE chain ending in `mm(doc_id, source, m1, m2,
    * m3)` — the three per-epoch perceptron margins, mirroring q262's
    * weight recursion (same g/c/w1/w2/w3 algebra) with the margin
    * read-off after each epoch's update. */
  private def cartographyCtes: String = """
        WITH g AS MATERIALIZED (
          SELECT doc_id, source,
                 2 * len(list_distinct(string_split(text, ' ')))
                   >= len(string_split(text, ' ')) AS good,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b
          FROM (SELECT doc_id, source, text,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        c AS MATERIALIZED (
          SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CASE WHEN good THEN 1 ELSE -1 END AS y
          FROM g GROUP BY doc_id, source, good, b),
        w1 AS MATERIALIZED (
          SELECT b, CAST(SUM(y * cnt) AS BIGINT) AS w FROM c GROUP BY b),
        s1 AS MATERIALIZED (
          SELECT c.doc_id, c.source, MAX(c.y) AS y,
                 CAST(SUM(COALESCE(w1.w, 0) * c.cnt) AS BIGINT) AS sc
          FROM c LEFT JOIN w1 USING (b) GROUP BY c.doc_id, c.source),
        miss2 AS MATERIALIZED (SELECT doc_id FROM s1 WHERE y * sc <= 0),
        d2 AS (SELECT b, CAST(SUM(c.y * c.cnt) AS BIGINT) AS d
               FROM c JOIN miss2 USING (doc_id) GROUP BY b),
        w2 AS MATERIALIZED (
          SELECT COALESCE(w1.b, d2.b) AS b,
                 COALESCE(w1.w, 0) + COALESCE(d2.d, 0) AS w
          FROM w1 FULL JOIN d2 ON w1.b = d2.b),
        s2 AS MATERIALIZED (
          SELECT c.doc_id, c.source, MAX(c.y) AS y,
                 CAST(SUM(COALESCE(w2.w, 0) * c.cnt) AS BIGINT) AS sc
          FROM c LEFT JOIN w2 USING (b) GROUP BY c.doc_id, c.source),
        miss3 AS MATERIALIZED (SELECT doc_id FROM s2 WHERE y * sc <= 0),
        d3 AS (SELECT b, CAST(SUM(c.y * c.cnt) AS BIGINT) AS d
               FROM c JOIN miss3 USING (doc_id) GROUP BY b),
        w3 AS MATERIALIZED (
          SELECT COALESCE(w2.b, d3.b) AS b,
                 COALESCE(w2.w, 0) + COALESCE(d3.d, 0) AS w
          FROM w2 FULL JOIN d3 ON w2.b = d3.b),
        s3 AS MATERIALIZED (
          SELECT c.doc_id, c.source, MAX(c.y) AS y,
                 CAST(SUM(COALESCE(w3.w, 0) * c.cnt) AS BIGINT) AS sc
          FROM c LEFT JOIN w3 USING (b) GROUP BY c.doc_id, c.source),
        mm AS (
          SELECT s1.doc_id, s1.source,
                 s1.y * s1.sc AS m1, s2.y * s2.sc AS m2, s3.y * s3.sc AS m3
          FROM s1 JOIN s2 USING (doc_id) JOIN s3 USING (doc_id))"""

  private[graft] def funnelFlags(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        expr("filter(split(text, ' '), w -> w <> '')").as("wl"),
        expr("length(replace(text, ' ', ''))").cast("long").as("chars"),
        expr("length(regexp_replace(text, '[^0-9]', ''))")
          .cast("long").as("digits"))
      .select(col("source"), size(col("wl")).cast("long").as("nw"),
        size(array_distinct(col("wl"))).cast("long").as("nd"),
        col("chars"), col("digits"))
      .filter(col("nw") > 0L && col("chars") > 0L)
      .select(col("source"),
        col("nw").between(10L, 5000L).as("f1"),
        expr("chars * 1000 div nw between 2000 and 12000").as("f2"),
        expr("nd * 1000000 div nw >= 300000").as("f3"),
        expr("digits * 1000000 div chars <= 200000").as("f4"))

  /** q275/s43 shared: wide survivor counts → the 4-stage long report. */
  private[graft] def funnelReport(flagged: DataFrame): DataFrame = {
    val wide = flagged.groupBy("source").agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L))
        .as("n3"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
        .otherwise(0L)).as("n4"))
    Seq((1, "g1_token_bounds", "n0", "n1"),
        (2, "g2_mean_word_len", "n1", "n2"),
        (3, "g3_ttr", "n2", "n3"),
        (4, "g4_digit_fraction", "n3", "n4"))
      .map { case (i, g, in, out) =>
        wide.select(col("source"), lit(i).as("stage"), lit(g).as("gate"),
          col(in).as("n_in"), col(out).as("n_out"))
      }
      .reduce(_ unionByName _)
      .withColumn("removed", col("n_in") - col("n_out"))
      .withColumn("pass_ppm",
        expr("n_out * 1000000 div nullif(n_in, 0)"))
      .orderBy("source", "stage")
  }

  /** q275's funnel oracle, shared VERBATIM by s43. */
  private[graft] def funnelOracle: String = """
        WITH d AS MATERIALIZED (
          SELECT source,
                 CAST(len(wl) AS BIGINT) AS nw,
                 CAST(len(list_distinct(wl)) AS BIGINT) AS nd,
                 CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                   AS BIGINT) AS digits
          FROM (SELECT source, text,
                       list_filter(string_split(text, ' '),
                         w -> w <> '') AS wl
                FROM documents)
          WHERE len(wl) > 0 AND length(replace(text, ' ', '')) > 0),
        f AS (
          SELECT source,
                 (nw BETWEEN 10 AND 5000) AS f1,
                 (chars * 1000 // nw BETWEEN 2000 AND 12000) AS f2,
                 (nd * 1000000 // nw >= 300000) AS f3,
                 (digits * 1000000 // chars <= 200000) AS f4
          FROM d),
        wide AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n0,
                 CAST(count_if(f1) AS BIGINT) AS n1,
                 CAST(count_if(f1 AND f2) AS BIGINT) AS n2,
                 CAST(count_if(f1 AND f2 AND f3) AS BIGINT) AS n3,
                 CAST(count_if(f1 AND f2 AND f3 AND f4) AS BIGINT) AS n4
          FROM f GROUP BY source),
        longf AS (
          SELECT source, 1 AS stage, 'g1_token_bounds' AS gate,
                 n0 AS n_in, n1 AS n_out FROM wide
          UNION ALL SELECT source, 2, 'g2_mean_word_len', n1, n2 FROM wide
          UNION ALL SELECT source, 3, 'g3_ttr', n2, n3 FROM wide
          UNION ALL SELECT source, 4, 'g4_digit_fraction', n3, n4 FROM wide)
        SELECT source, stage, gate, n_in, n_out,
               n_in - n_out AS removed,
               n_out * 1000000 // nullif(n_in, 0) AS pass_ppm
        FROM longf
        ORDER BY source, stage"""

  /** q155/q258/q280 shared: the persisted confusion matrix (`first`,
    * `second`, n) of two deterministic pseudo-annotators over events —
    * `first` is the event type, `second` shifts every `modulus`-th event
    * to the next type in lexical order, so the matrix is data, not
    * randomness, and both engines derive identical labels. */
  private[graft] def annotatorConfusion(s: SparkSession, dir: String,
      modulus: Int, first: String, second: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val nextOf = types.zip(types.tail :+ types.head).toMap
    val shiftExpr = types.map { t =>
      s"WHEN event_type = '$t' THEN '${nextOf(t)}'"
    }.mkString("CASE ", " ", " END")
    Tables.events(s, dir)
      .select(col("event_type").as(first),
        expr(s"CASE WHEN event_id % $modulus = 0 THEN $shiftExpr " +
          "ELSE event_type END").as(second))
      .groupBy(first, second).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** q258/q280 shared: per-class marginals (cls, n_a, n_b, n_agree) of
    * an (a, b, n) confusion matrix. FULL OUTER on cls (ADVICE r8): an
    * inner join would silently drop a class appearing under only ONE
    * annotator — fixture-safe today (all 5 types appear both sides) but
    * wrong by construction; marginals must be complete. */
  private[graft] def annotatorMarginals(cm: DataFrame): DataFrame = {
    val byA = cm.groupBy(col("a").as("cls")).agg(sum("n").as("n_a"))
    val byB = cm.groupBy(col("b").as("cls")).agg(sum("n").as("n_b"))
    val diag = cm.filter(col("a") === col("b"))
      .select(col("a").as("cls"), col("n").as("n_agree"))
    byA.join(byB, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left")
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
      .withColumn("n_agree", coalesce(col("n_agree"), lit(0L)))
  }

  /** q248/s35 shared: the per-rule expectation report from the
    * single-row violation counts (n, v1..v5). */
  private[graft] def qualityReport(wide: DataFrame): DataFrame =
    wide.select(explode(expr("""array(
        struct('r1_value_in_1c_450' AS rule, v1 AS n_violations),
        struct('r2_type_in_domain' AS rule, v2 AS n_violations),
        struct('r3_user_id_positive' AS rule, v3 AS n_violations),
        struct('r4_value_not_null' AS rule, v4 AS n_violations),
        struct('r5_purchase_floor_5' AS rule, v5 AS n_violations))""")).as("r"), col("n"))
      .select(col("r.rule").as("rule"), col("n").as("n_checked"),
        col("r.n_violations").as("n_violations"))
      .withColumn("violation_ppm",
        expr("n_violations * 1000000 div n_checked"))
      .withColumn("status", expr(
        """CASE WHEN n_violations = 0 THEN 'pass'
                WHEN n_violations * 100 <= n_checked THEN 'warn'
                ELSE 'fail' END"""))
      .orderBy("rule")

  /** q255/s39 shared: the lexical-diversity seed label
    * (2·|distinct words| ≥ |words|). */
  private[graft] def classifierGoodExpr: org.apache.spark.sql.Column =
    (size(array_distinct(split(col("text"), " "))) * 2 >=
      size(split(col("text"), " "))).as("good")

  /** q268/q287 shared: per-doc integer scores (doc_id, source, good,
    * score_ppm) — the mean bucket weight of each doc's gram occurrences
    * in the session-shared gram frame. */
  private def classifierDocScores(s: SparkSession, dir: String): DataFrame =
    ClassifierArtifacts.grams(s, dir)
      .join(broadcast(ClassifierArtifacts.weights(s, dir)), "b")
      .groupBy("doc_id", "source", "good")
      .agg(expr("sum(w) div count(1)").as("score_ppm"))

  /** q255/s39 shared: per-doc integer scores (doc_id, source, good,
    * score_ppm) of the gram-bearing docs of `docs` (doc_id, source, text)
    * under the bucket weights `wtMap`. Unseen buckets are impossible on
    * the training corpus; production ships the neutral 500000 prior for
    * them — the scorer's default slot. */
  private[graft] def classifierScored(docs: DataFrame,
      wtMap: Map[Long, Long]): DataFrame =
    docs.select(col("doc_id"), col("source"), classifierGoodExpr,
        call_function("graft_char_ngrams", col("text"), lit(3)).as("gr"))
      .filter(size(col("gr")) > 0) // score only gram-bearing docs
      .select(col("doc_id"), col("source"), col("good"),
        call_function("graft_classifier_score", col("gr"),
          typedLit(wtMap), lit(500000L)).as("wsum"),
        size(col("gr")).cast("long").as("ng"))
      .select(col("doc_id"), col("source"), col("good"),
        expr("wsum div ng").as("score_ppm"))

  /** q255/s39 shared: the per-source confusion report over scored docs
    * carrying a boolean `keep` gate. */
  private[graft] def classifierReport(kept: DataFrame): DataFrame =
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("keep") && col("good"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("good"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("good"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("good"), 1L).otherwise(0L)).as("tn"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(tp + tn) * 1000000 div n_docs").as("agreement_ppm"))
      .orderBy("source")

  /** q255/s39 shared: the gram-occurrence frame (doc_id, source, good, b)
    * — md5-hashed char-3gram buckets with the per-doc seed label. */
  private[graft] def classifierGrams(s: SparkSession, dir: String): DataFrame = {
    // spread before the explode: the single-row-group fixture scan is one
    // task, and this explode was the whole build's cost when serialized
    // (13.2 s single-task vs 0.6 s spread at sf0.1 — r14, guide §2.5).
    //
    // Fused gram→bucket kernel (r15, VERDICT r14 item 4): the r14 build
    // exploded ~30M gram STRINGS, ran a distinct SHUFFLE to md5 only the
    // bounded distinct-gram set, and broadcast-joined the gram→bucket
    // dim back over the occurrence stream. graft_char_gram_buckets
    // computes the same md5 bucket inside whole-stage codegen with a
    // per-task distinct-gram memo — one md5 per distinct gram per task,
    // one zero-copy probe per occurrence, NO string materialization, NO
    // distinct shuffle, NO join. Bucket VALUES are bit-identical (parity
    // pinned by CharGramBucketsSpec against the SQL md5 chain), so every
    // consumer and oracle is unchanged; only the build plan is.
    graft.Tables.spread(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("source"), classifierGoodExpr,
        explode(call_function("graft_char_gram_buckets",
          col("text"), lit(3), lit(4096))).as("b"))
  }

  /** q255/s39 shared: smoothed per-bucket P(good) weights in ppm. */
  private[graft] def classifierWeights(grams: DataFrame): DataFrame =
    grams.groupBy("b")
      .agg(count(lit(1)).as("n"),
        sum(when(col("good"), 1L).otherwise(0L)).as("cg"))
      .select(col("b"), expr("(cg + 1) * 1000000 div (n + 2)").as("w"))

  /** q255/s39 shared: the gram-occurrence prior threshold (single row). */
  private[graft] def classifierPrior(grams: DataFrame): DataFrame =
    grams.agg(count(lit(1)).as("n_all"),
        sum(when(col("good"), 1L).otherwise(0L)).as("n_good"))
      .select(expr("n_good * 1000000 div n_all").as("thr_ppm"))

  /** q255's per-source report oracle, shared VERBATIM by s39. */
  /** The g/wt/sc/pr CTE chain both classifier oracles share: per-doc
    * integer scores from md5-bucketed char-3grams + smoothed weights +
    * the gram-occurrence prior (q255's exact algebra). */
  private[graft] def classifierScoreCtes: String = """g AS MATERIALIZED (
          SELECT doc_id, source,
                 2 * len(list_distinct(string_split(text, ' ')))
                   >= len(string_split(text, ' ')) AS good,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b
          FROM (SELECT doc_id, source, text,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        wt AS MATERIALIZED (
          SELECT b,
                 (CAST(count_if(good) AS BIGINT) + 1) * 1000000
                   // (CAST(COUNT(*) AS BIGINT) + 2) AS w
          FROM g GROUP BY b),
        sc AS (
          SELECT doc_id, source, good,
                 CAST(SUM(w) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                   AS score_ppm
          FROM g JOIN wt USING (b)
          GROUP BY doc_id, source, good),
        pr AS (
          SELECT CAST(count_if(good) AS BIGINT) * 1000000
                 // CAST(COUNT(*) AS BIGINT) AS thr_ppm
          FROM g)"""

  private[graft] def classifierOracle: String = s"""
        WITH $classifierScoreCtes,
        k AS (SELECT source, good, score_ppm >= (SELECT thr_ppm FROM pr) AS keep
              FROM sc)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(keep) AS BIGINT) AS n_keep,
               CAST(count_if(keep) AS BIGINT) * 1000000 // COUNT(*) AS keep_ppm,
               CAST(count_if(keep AND good) AS BIGINT) AS tp,
               CAST(count_if(keep AND NOT good) AS BIGINT) AS fp,
               CAST(count_if(NOT keep AND good) AS BIGINT) AS fn,
               CAST(count_if(NOT keep AND NOT good) AS BIGINT) AS tn,
               (CAST(count_if(keep AND good) AS BIGINT)
                 + CAST(count_if(NOT keep AND NOT good) AS BIGINT)) * 1000000
                 // COUNT(*) AS agreement_ppm
        FROM k
        GROUP BY source
        ORDER BY source"""

  /** q75's oracle, shared verbatim by s09. */
  private[graft] def hoppingWindowOracle: String = """
        WITH e AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        w AS (
          SELECT us, value,
                 UNNEST([(us // 1800000000) * 1800000000,
                         (us // 1800000000) * 1800000000 - 1800000000]) AS ws
          FROM e)
        SELECT ws AS ws_us, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM w
        WHERE us >= ws AND us < ws + 3600000000
        GROUP BY ws
        ORDER BY ws_us"""

  /** q248's oracle, shared verbatim by s35. */
  private[graft] def qualityOracle: String = """
        WITH ev AS (
          SELECT user_id, event_type, value,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        wide AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(count_if(vc < 1 OR vc > 45000) AS BIGINT) AS v1,
                 CAST(count_if(event_type NOT IN
                   ('view','click','purchase','error','signup')) AS BIGINT) AS v2,
                 CAST(count_if(user_id < 1) AS BIGINT) AS v3,
                 CAST(count_if(value IS NULL) AS BIGINT) AS v4,
                 CAST(count_if(event_type = 'purchase' AND vc < 500)
                   AS BIGINT) AS v5
          FROM ev),
        longf AS (
          SELECT 'r1_value_in_1c_450' AS rule, n AS n_checked,
                 v1 AS n_violations FROM wide
          UNION ALL SELECT 'r2_type_in_domain', n, v2 FROM wide
          UNION ALL SELECT 'r3_user_id_positive', n, v3 FROM wide
          UNION ALL SELECT 'r4_value_not_null', n, v4 FROM wide
          UNION ALL SELECT 'r5_purchase_floor_5', n, v5 FROM wide)
        SELECT rule, n_checked, n_violations,
               n_violations * 1000000 // n_checked AS violation_ppm,
               CASE WHEN n_violations = 0 THEN 'pass'
                    WHEN n_violations * 100 <= n_checked THEN 'warn'
                    ELSE 'fail' END AS status
        FROM longf
        ORDER BY rule"""
}
