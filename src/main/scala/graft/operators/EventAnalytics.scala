package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-analytics operators over the `events` fixture: funnel
  * conversion and cohort retention — the two queries every event
  * warehouse serves daily, absent from the reference (which only moves
  * events) and from the relational §2 families (which aggregate but
  * don't sequence).
  *
  * Both are pure integer event-time arithmetic (epoch micros / day
  * indexes), so the DuckDB oracle hash-matches without tolerance.
  *
  * 100 TB scale design: everything keys on user_id — the funnel's
  * three chained stage windows ride ONE user exchange (plan-asserted),
  * retention's aggregates reduce map-side before moving (distinct
  * activity days collapse per partition first), transitions take one
  * lead() window on the same key. Bounded-cardinality share windows
  * only; no broadcasts of SF-scaling sides, no driver loops.
  */
object EventAnalytics {

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  val all: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q108
    // Funnel conversion view → click → purchase within one hour of the
    // first view: per user, t1 = first view, t2 = first click AFTER t1,
    // t3 = first purchase AFTER t2; a stage counts when it lands within
    // t1 + 1h. The stage sequence ("first X after the first Y" — what a
    // plain GROUP BY cannot see) is three CHAINED window minimums over
    // the SAME user_id partitioning: each Window node reads the prior
    // one's column, and because the partitioning never changes Catalyst
    // plans exactly ONE user exchange for the whole funnel (a staged
    // aggregate-and-join formulation planned six; plan-asserted in
    // ScaleSpec). The per-user rollup then rides the same partitioning,
    // and only the single-row funnel report leaves the executors.
    QueryDef(
      "q108_funnel_analysis",
      (s, dir) => {
        funnelStages(s, dir).groupBy("user_id")
          .agg(first("t1").as("t1"), first("t2").as("t2"), first("t3").as("t3"))
          .filter(col("t1").isNotNull)
          .agg(
            count(lit(1)).as("n_view"),
            sum(when(col("t2") <= col("t1") + HourUs, 1L).otherwise(0L)).as("n_click_1h"),
            sum(when(col("t2") <= col("t1") + HourUs
              && col("t3") <= col("t1") + HourUs, 1L).otherwise(0L)).as("n_purchase_1h"))
          .withColumn("click_permille", expr("n_click_1h * 1000 div n_view"))
          .withColumn("purchase_permille", expr("n_purchase_1h * 1000 div n_view"))
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
          FROM events),
        v AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT ev.user_id, v.t1, MIN(ts_us) AS t2
              FROM ev JOIN v ON ev.user_id = v.user_id
              WHERE event_type = 'click' AND ts_us > v.t1
              GROUP BY ev.user_id, v.t1),
        p AS (SELECT ev.user_id, c.t1, c.t2, MIN(ts_us) AS t3
              FROM ev JOIN c ON ev.user_id = c.user_id
              WHERE event_type = 'purchase' AND ts_us > c.t2
              GROUP BY ev.user_id, c.t1, c.t2)
        SELECT COUNT(*) AS n_view,
               CAST(SUM(CASE WHEN c.t2 <= v.t1 + $HourUs
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_click_1h,
               CAST(SUM(CASE WHEN c.t2 <= v.t1 + $HourUs
                              AND p.t3 <= v.t1 + $HourUs
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_1h,
               CAST(SUM(CASE WHEN c.t2 <= v.t1 + $HourUs
                             THEN 1 ELSE 0 END) AS BIGINT) * 1000
                 // COUNT(*) AS click_permille,
               CAST(SUM(CASE WHEN c.t2 <= v.t1 + $HourUs
                              AND p.t3 <= v.t1 + $HourUs
                             THEN 1 ELSE 0 END) AS BIGINT) * 1000
                 // COUNT(*) AS purchase_permille
        FROM v
        LEFT JOIN c ON v.user_id = c.user_id
        LEFT JOIN p ON v.user_id = p.user_id""")),

    // --------------------------------------------------------------- q109
    // Cohort retention: users are cohorted by their first-activity day
    // (integer day index of the min event time) and counted back on
    // each later day they return — the (cohort_day, offset_days) →
    // distinct-users triangle. Day indexes are exact integer division
    // of epoch micros; the distinct (user, day) activity set collapses
    // map-side before the cohort join, so the join and final aggregate
    // move one row per user-day, not per event.
    QueryDef(
      "q109_cohort_retention",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
        val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
        val activity = ev.distinct()
        retentionReport(activity.join(cohort, "user_id"))
      },
      Some(retentionOracle))
  ,

    // --------------------------------------------------------------- q115
    // Co-occurrence mining ("frequently bought together"): part pairs
    // appearing in the same order, counted across all orders, top-20 by
    // support. The pair generator is a SELF-JOIN ON THE ORDER KEY with
    // p_a < p_b — fan-out is quadratic per order but orders hold ≤7
    // line items at every SF (TPC-H invariant), so the explosion is a
    // bounded constant per key, never corpus²: the q26 bucket-join
    // argument, with the order as the bucket. Distinct parts per order
    // first (array_distinct semantics via the DISTINCT projection), so
    // a part twice in one order doesn't inflate support. Top-k lands in
    // TakeOrderedAndProject (partial per partition, k rows to the
    // driver-side merge).
    QueryDef(
      "q115_part_pair_support",
      (s, dir) => {
        // session-shared CoPurchase pair mining (r14): the UNthresholded
        // support frame IS this query's aggregate, renamed
        CoPurchase.pairSup(s, dir)
          .select(col("u").as("p_a"), col("v").as("p_b"),
            col("sup").as("support"))
          .orderBy(col("support").desc, col("p_a"), col("p_b"))
          .limit(20)
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        SELECT a.pk AS p_a, b.pk AS p_b, COUNT(*) AS support
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY p_a, p_b
        ORDER BY support DESC, p_a, p_b
        LIMIT 20""")),

    // --------------------------------------------------------------- q116
    // Event-transition matrix (first-order Markov counts): for each
    // user's time-ordered event sequence, count (event_type → next
    // event_type) transitions plus per-source totals and an integer
    // per-mille transition share — the sequence-mining signal behind
    // "what do users do after an error?". One lead() window over the
    // user exchange (the q108 partitioning), then a map-side-combined
    // pair aggregate; transition cardinality is types² = bounded.
    QueryDef(
      "q116_event_transitions",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
        pairs.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("from_total",
            sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
          .withColumn("share_permille", expr("n * 1000 div from_total"))
          .orderBy("from_type", "to_type")
      },
      Some(transitionsOracle))
  ,

    // --------------------------------------------------------------- q131
    // Sequence pattern matching — SQL's MATCH_RECOGNIZE, which Spark
    // does not ship, emulated with the row-pattern trick: encode each
    // user's time-ordered event types as a one-char-per-event string
    // (one keyed aggregate — the batch twin of s18's one-string state),
    // then evaluate row patterns as plain regexes over it in codegen.
    // Adjacency, repetition bounds ('e{3}'), and gaps ('sv.*p') all
    // come free from the regex engine — the things q108's fixed
    // three-stage funnel cannot express. Four patterns of varying
    // selectivity, each with an exact matched-user checksum.
    // 100 TB shape: the sequence build keys on user_id and each string
    // is bounded by that user's own activity; a production run caps the
    // tail (q80's WindowGroupLimit discipline) before aggregating. The
    // pattern fan-out is a Generate over the aggregated per-user frame
    // (4 rows per user), never over raw events.
    QueryDef(
      "q131_sequence_pattern",
      (s, dir) => {
        val code = expr("""CASE event_type WHEN 'view' THEN 'v'
          WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
          WHEN 'signup' THEN 's' ELSE 'e' END""")
        val seq = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"), code.as("ch"))
          .groupBy("user_id")
          .agg(expr("""concat_ws('',
              transform(array_sort(collect_list(struct(ts_us, event_id, ch))),
                x -> x.ch))""").as("sq"))
        // patterns come from the SHARED registry s21's live CEP walker
        // uses, so the batch and streaming twins cannot drift
        val pats = graft.streaming.StreamingQueries.cepPatterns
        val stackArgs = pats.map { case (n, re) =>
          s"'$n', sq rlike '${re.pattern.pattern}'" }.mkString(", ")
        seq.select(col("user_id"),
            expr(s"stack(${pats.size}, $stackArgs)")
            .as(Seq("pattern", "hit")))
          .groupBy("pattern")
          .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_users"),
            sum(when(col("hit"), col("user_id"))).as("user_id_sum"))
          .orderBy("pattern")
      },
      Some("""
        WITH seq AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'view' THEN 'v'
                     WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                     WHEN 'signup' THEN 's' ELSE 'e' END, ''
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS sq
          FROM events GROUP BY user_id),
        hits AS (
          SELECT 'error_burst' AS pattern, user_id,
                 regexp_matches(sq, 'e{3}') AS hit FROM seq
          UNION ALL SELECT 'funnel_adjacent', user_id,
                 regexp_matches(sq, 'vcp') FROM seq
          UNION ALL SELECT 'repeat_purchase', user_id,
                 regexp_matches(sq, 'pp') FROM seq
          UNION ALL SELECT 'signup_to_purchase', user_id,
                 regexp_matches(sq, 'sv.*p') FROM seq)
        SELECT pattern,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_users,
               CAST(SUM(CASE WHEN hit THEN user_id END) AS BIGINT)
                 AS user_id_sum
        FROM hits
        GROUP BY pattern
        ORDER BY pattern"""))
  ,

    // --------------------------------------------------------------- q133
    // Experiment (A/B) lift analysis — the readout every product
    // warehouse serves after q108's funnels: users who were EXPOSED
    // (have a first view) split into two arms by a deterministic
    // integer LCG on user_id (the q105 formula — seed-free and
    // engine-reproducible, the assignment a real experiment system
    // derives from a hash of user × experiment), conversion = a
    // purchase strictly within 24 hours AFTER the user's first view
    // (outcome follows exposure inside an attribution window, not mere
    // co-occurrence — an unbounded window converts everyone in this
    // fixture and reads out nothing). Rates and lift are integer basis
    // points, so the single audit row hash-matches exactly.
    // 100 TB shape: exposure is one keyed aggregate; conversion is a
    // keyed equi-join of the purchase stream against the (small)
    // exposed-user frame; then one global single-row rollup.
    QueryDef(
      "q133_ab_lift",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_us")).as("first_view"))
        val conv = ev.filter(col("event_type") === "purchase")
          .join(fv, "user_id")
          .filter(col("ts_us") > col("first_view") &&
            col("ts_us") <= col("first_view") + expr("24L * 3600000000"))
          .select("user_id").distinct()
          .withColumn("c", lit(true))
        val u = fv.join(conv, Seq("user_id"), "left")
          .withColumn("arm",
            expr("((1103515245 * user_id + 12345) div 1024) % 2"))
          .withColumn("conv", coalesce(col("c"), lit(false)))
        u.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === 0 && col("conv"), 1L).otherwise(0L))
              .as("conv_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("arm") === 1 && col("conv"), 1L).otherwise(0L))
              .as("conv_b"))
          .select(col("n_a"), col("conv_a"),
            expr("conv_a * 10000 div n_a").as("cr_a_bp"),
            col("n_b"), col("conv_b"),
            expr("conv_b * 10000 div n_b").as("cr_b_bp"),
            expr("conv_b * 10000 div n_b - conv_a * 10000 div n_a")
              .as("lift_bp"))
      },
      Some("""
        WITH fv AS (
          SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_view
          FROM events WHERE event_type = 'view'
          GROUP BY user_id),
        conv AS (
          SELECT DISTINCT e.user_id
          FROM events e JOIN fv ON e.user_id = fv.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > first_view
            AND epoch_us(CAST(e.ts AS TIMESTAMP))
                  <= first_view + 24 * 3600000000),
        exposed AS (
          SELECT ((1103515245 * fv.user_id + 12345) // 1024) % 2 AS arm,
                 (conv.user_id IS NOT NULL) AS conv
          FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id),
        a AS (
          SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END)
                   AS BIGINT) AS conv_a,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(SUM(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END)
                   AS BIGINT) AS conv_b
          FROM exposed)
        SELECT n_a, conv_a, conv_a * 10000 // n_a AS cr_a_bp,
               n_b, conv_b, conv_b * 10000 // n_b AS cr_b_bp,
               conv_b * 10000 // n_b - conv_a * 10000 // n_a AS lift_bp
        FROM a"""))
  ,

    // --------------------------------------------------------------- q134
    // Path mining — the top navigation paths behind q116's single-step
    // transition matrix: every consecutive THREE-event path in every
    // user's time-ordered sequence, counted corpus-wide, top-20. Reuses
    // q131's one-char encoding (one keyed aggregate builds each user's
    // sequence), then a narrow generator slides the 3-wide window over
    // the string — per-user fan-out is (events − 2), so total work is
    // linear in events, and path cardinality is bounded (types³) so the
    // count aggregate is tiny. Guarded for users with < 3 events
    // (Spark's sequence() runs DESCENDING when stop < start — an empty
    // guard, not a clamp, is required).
    QueryDef(
      "q134_path_mining",
      (s, dir) => {
        val code = expr("""CASE event_type WHEN 'view' THEN 'v'
          WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
          WHEN 'signup' THEN 's' ELSE 'e' END""")
        Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"), code.as("ch"))
          .groupBy("user_id")
          .agg(expr("""concat_ws('',
              transform(array_sort(collect_list(struct(ts_us, event_id, ch))),
                x -> x.ch))""").as("sq"))
          .select(explode(expr("""CASE WHEN length(sq) >= 3
              THEN transform(sequence(1, length(sq) - 2),
                     i -> substring(sq, i, 3))
              ELSE array() END""")).as("path"))
          .groupBy("path")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""
        WITH seq AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'view' THEN 'v'
                     WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                     WHEN 'signup' THEN 's' ELSE 'e' END, ''
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS sq
          FROM events GROUP BY user_id),
        paths AS (
          SELECT UNNEST(list_transform(range(1, length(sq) - 1),
                   i -> sq[i : i + 2])) AS path
          FROM seq)
        SELECT path, COUNT(*) AS n
        FROM paths
        GROUP BY path
        ORDER BY n DESC, path
        LIMIT 20"""))
  ,

    // --------------------------------------------------------------- q135
    // Engagement stickiness (DAU/WAU/MAU): the rolling-distinct metric
    // product dashboards live on. Rolling COUNT(DISTINCT) does not
    // decompose into a window sum, so the scale-honest formulation
    // EXPLODES each (user, day) activity row into the ≤ 7 / ≤ 30 target
    // days it supports — constant fan-out per activity row, then plain
    // keyed distinct aggregates; no self-join of activity against
    // activity, no unkeyed window. Days are integer epoch-day indexes;
    // stickiness is integer per-mille DAU/MAU.
    QueryDef(
      "q135_stickiness",
      (s, dir) => {
        val act = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dau = act.groupBy("day").agg(countDistinct("user_id").as("dau"))
        def rolling(span: Int, name: String) = act
          .select(col("user_id"),
            explode(expr(s"sequence(day, day + ${span - 1})")).as("day"))
          .groupBy("day").agg(countDistinct("user_id").as(name))
        dau.join(rolling(7, "wau"), "day").join(rolling(30, "mau"), "day")
          .select(col("day"), col("dau"), col("wau"), col("mau"),
            expr("dau * 1000 div mau").as("stickiness_permille"))
          .orderBy("day")
      },
      Some("""
        WITH act AS (
          SELECT DISTINCT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events),
        dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
                FROM act GROUP BY day),
        wau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS wau FROM (
                  SELECT user_id, UNNEST(range(day, day + 7)) AS d
                  FROM act) t GROUP BY d),
        mau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS mau FROM (
                  SELECT user_id, UNNEST(range(day, day + 30)) AS d
                  FROM act) t GROUP BY d)
        SELECT dau.day AS day, dau, wau, mau,
               dau * 1000 // mau AS stickiness_permille
        FROM dau JOIN wau ON dau.day = wau.day
        JOIN mau ON dau.day = mau.day
        ORDER BY day"""))
  ,

    // --------------------------------------------------------------- q142
    // CUSUM changepoint detection per event_type: the day where the
    // cumulative deviation of daily volume from the series mean peaks —
    // the standard level-shift detector a pipeline-health monitor runs
    // over ingest counters. Exact integer arithmetic throughout: the
    // per-day deviation is (c_i * D - N) — the mean-centered residual
    // scaled by D days, so no fractions ever appear — and the CUSUM is
    // its keyed prefix sum. 100 TB: one keyed daily aggregate (map-side
    // combined), one slim per-type total (broadcast back), and windows
    // partitioned by event_type over ~O(days) rows per key; the raw
    // event volume is reduced before anything is sequenced.
    QueryDef(
      "q142_cusum_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr(s"ts_us div $DayUs").as("day"))
          .agg(count(lit(1)).as("c"))
        val totals = daily.groupBy("event_type")
          .agg(sum("c").as("n_tot"), count(lit(1)).as("n_days"))
        val cusum = daily.join(broadcast(totals), "event_type")
          .withColumn("dev", col("c") * col("n_days") - col("n_tot"))
          .withColumn("cusum",
            sum("dev").over(Window.partitionBy("event_type").orderBy("day")))
        cusum
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type")
              .orderBy(abs(col("cusum")).desc, col("day"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day").as("change_day"),
            col("cusum").as("peak_cusum"))
          .orderBy("event_type")
      },
      Some(s"""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // $DayUs AS day,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, SUM(c) AS n_tot, COUNT(*) AS n_days
          FROM daily GROUP BY 1),
        cs AS (
          SELECT d.event_type, d.day,
                 SUM(d.c * t.n_days - t.n_tot)
                   OVER (PARTITION BY d.event_type ORDER BY d.day) AS cusum
          FROM daily d JOIN tot t USING (event_type)),
        r AS (
          SELECT event_type, day, cusum,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY ABS(cusum) DESC, day) AS rn
          FROM cs)
        SELECT event_type, day AS change_day,
               CAST(cusum AS BIGINT) AS peak_cusum
        FROM r WHERE rn = 1
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q144
    // Association-lift matrix between event_type and hour-of-day:
    // observed/expected cell ratio in basis points — the dependence
    // screen behind "does behavior differ by hour" dashboards, exact
    // where a chi-square statistic would be float-order-dependent.
    // lift_bp = o * T * 10000 div (row_total * col_total) is pure
    // bigint arithmetic (o*T*1e4 <= ~1e16 at sf1, well inside int64).
    // 100 TB: one keyed (type, hour) count reduces everything map-side;
    // the two marginals derive from the 120-row cell table itself —
    // nothing re-scans events, and both joins broadcast slim sides.
    QueryDef(
      "q144_hour_type_lift",
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr(s"(ts_us div $HourUs) % 24").as("hour"))
          .agg(count(lit(1)).as("o"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rowT = cells.groupBy("event_type").agg(sum("o").as("r_tot"))
        val colT = cells.groupBy("hour").agg(sum("o").as("c_tot"))
        val tot = cells.agg(sum("o").as("t_tot"))
        cells
          .join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "hour")
          .join(broadcast(tot), lit(true))
          .select(col("event_type"), col("hour"), col("o"),
            expr("o * t_tot * 10000 div (r_tot * c_tot)").as("lift_bp"))
          .orderBy("event_type", "hour")
      },
      Some(s"""
        WITH cells AS (
          SELECT event_type,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // $HourUs) % 24 AS hour,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        rt AS (SELECT event_type, SUM(o) AS r_tot FROM cells GROUP BY 1),
        ct AS (SELECT hour, SUM(o) AS c_tot FROM cells GROUP BY 1),
        t AS (SELECT SUM(o) AS t_tot FROM cells)
        SELECT c.event_type, c.hour, c.o,
               CAST(c.o * t.t_tot * 10000
                    // (rt.r_tot * ct.c_tot) AS BIGINT) AS lift_bp
        FROM cells c
        JOIN rt USING (event_type) JOIN ct USING (hour) CROSS JOIN t
        ORDER BY c.event_type, c.hour"""))
  ,

    // --------------------------------------------------------------- q146
    // Time-weighted average value (TWAP) per event_type: each reading
    // holds until the next reading of its type, so the average weights
    // every value by its holding interval — the market-data/metrics
    // standard where a plain AVG over-counts bursts. Exact arithmetic end to
    // end: values in integer cents, intervals in integer microseconds,
    // the Σ(v·Δt) accumulator in decimal(38,0) (cents × µs × corpus
    // outgrows int64 past sf0.1), and the final ratio via decimal
    // `div` ↔ DuckDB HUGEINT `//` (both truncate; all values
    // non-negative — q119's established pairing). Scale: one lead()
    // window and the aggregate ride the SAME event_type partitioning;
    // nothing else moves.
    QueryDef(
      "q146_time_weighted_avg",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
        twapReport(Tables.events(s, dir)
          .select(col("event_type"), col("ts_us"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          .withColumn("dt", lead("ts_us", 1).over(w) - col("ts_us"))
          .filter(col("dt").isNotNull))
      },
      Some(twapOracle))
  ,

    // --------------------------------------------------------------- q147
    // Gini coefficient of the value distribution per event_type — the
    // inequality screen ("do a few events carry all the value?") a
    // monetization dashboard runs, exactly. The rank formulation
    // G = (2·Σ(i·x_i) − (n+1)·Σx_i) / (n·Σx_i) over ascending-sorted
    // values is pure integer arithmetic in cents: the rank window and
    // both aggregates ride ONE event_type exchange, the Σ(i·x_i)
    // accumulator runs in decimal(38,0) (rank × cents × corpus is past
    // int64 at sf ≥ 1), and the ratio surfaces in parts-per-million
    // via decimal div ↔ HUGEINT // (q119/q146's pairing; numerator
    // non-negative for sorted non-negative values). Ties break on
    // event_id identically in both engines, and the rank formula is
    // tie-order-invariant anyway (equal values swap ranks freely).
    QueryDef(
      "q147_gini_by_type",
      (s, dir) => {
        eventCents(s, dir)
          .withColumn("i", row_number().over(byCents).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("vc").as("sum_cents"),
            sum(expr("cast(i AS DECIMAL(38,0)) * vc")).as("six"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            expr("""cast((2 * six - (n + 1) * cast(sum_cents AS DECIMAL(38,0)))
                         * 1000000 div (n * cast(sum_cents AS DECIMAL(38,0)))
                    AS BIGINT)""").as("gini_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        r AS (
          SELECT event_type, vc,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY vc, event_id) AS BIGINT) AS i
          FROM e)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vc) AS BIGINT) AS sum_cents,
               CAST((2 * SUM(CAST(i AS HUGEINT) * vc)
                     - (COUNT(*) + 1) * CAST(SUM(vc) AS HUGEINT)) * 1000000
                    // (COUNT(*) * CAST(SUM(vc) AS HUGEINT)) AS BIGINT)
                 AS gini_ppm
        FROM r GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q151
    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands pattern a retention team runs for badge/streak
    // features: distinct activity days per user, then day − row_number
    // is CONSTANT within a consecutive run (each next day advances both
    // by one), so grouping on that anchor yields one row per island.
    // Report the longest streak and how many distinct streaks per user,
    // thinned to users with streaks ≥ 3 days. All integer day indexes;
    // both keyed shuffles (user-day dedup, island rollup) reduce
    // map-side, and the row_number window rides the same user key.
    QueryDef(
      "q151_longest_streak",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables.events(s, dir)
          .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val islands = days
          .withColumn("anchor", col("day") - row_number().over(w))
          .groupBy("user_id", "anchor")
          .agg(count(lit(1)).as("len"), min("day").as("start_day"))
        islands.groupBy("user_id")
          .agg(max("len").as("longest_streak"),
            count(lit(1)).as("n_streaks"),
            min("start_day").as("first_day"))
          .filter(col("longest_streak") >= 3)
          .orderBy("user_id")
      },
      Some(streakOracle))
  ,

    // --------------------------------------------------------------- q152
    // Peak concurrency per event_type — the interval-overlap sweep:
    // each event opens a 30-minute presence interval; the +1/−1
    // boundary stream sorted by time with a running sum gives the
    // concurrency curve, whose max is the capacity-planning number.
    // Boundary ordering puts −1 BEFORE +1 at the same instant
    // (half-open [start, end) intervals — an interval ending exactly
    // when another starts does not overlap it), then event_id makes
    // the order total so the running sum is engine-deterministic. One
    // keyed window over the 2N boundary rows; the fan-out is a
    // constant ×2, never a join.
    QueryDef(
      "q152_max_concurrency",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val halfHourUs = 1800000000L
        val ev = Tables.events(s, dir)
        val bounds = ev
          .select(col("event_type"), col("ts_us").as("t"),
            lit(1L).as("delta"), col("event_id"))
          .unionByName(ev.select(col("event_type"),
            (col("ts_us") + halfHourUs).as("t"),
            lit(-1L).as("delta"), col("event_id")))
        val w = Window.partitionBy("event_type")
          .orderBy(col("t"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bounds
          .withColumn("conc", sum("delta").over(w))
          .groupBy("event_type")
          .agg(max("conc").as("peak_concurrency"),
            count(lit(1)).as("n_boundaries"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 event_id
          FROM events),
        b AS (
          SELECT event_type, ts_us AS t, CAST(1 AS BIGINT) AS delta,
                 event_id FROM e
          UNION ALL
          SELECT event_type, ts_us + 1800000000, CAST(-1 AS BIGINT),
                 event_id FROM e),
        c AS (
          SELECT event_type,
                 CAST(SUM(delta) OVER (PARTITION BY event_type
                                       ORDER BY t, delta, event_id
                                       ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS conc
          FROM b)
        SELECT event_type,
               CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
               CAST(COUNT(*) AS BIGINT) AS n_boundaries
        FROM c GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q178
    // Multi-touch attribution — the marketing-analytics question q108's
    // funnel doesn't answer: when a purchase lands, which PRECEDING
    // touches (views/clicks within 24 h) get the credit? Linear model:
    // each of a purchase's n touches earns 10⁶ div n ppm (both engines
    // truncate identically, so the per-type credit sums are exact).
    // The touch↔purchase pairing is a user-keyed interval join (the
    // batch twin of s04's stream-stream join) — fan-out is bounded per
    // user by the 24-hour window, never corpus²; the per-purchase touch
    // count rides a purchase-keyed window on the SAME join output.
    QueryDef(
      "q178_multitouch_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val paired = touchPairs(s, dir)
        val withN = paired.withColumn("n_touches",
          count(lit(1)).over(Window.partitionBy("p_id")))
        withN
          .withColumn("credit_ppm", expr("1000000 div n_touches"))
          .groupBy("touch")
          .agg(count(lit(1)).as("n_touches"),
            countDistinct("p_id").as("n_purchases"),
            sum("credit_ppm").as("credit_ppm"))
          .orderBy("touch")
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        pair AS (
          SELECT t.event_type AS touch, p.event_id AS p_id
          FROM e p JOIN e t
            ON p.event_type = 'purchase'
           AND t.event_type IN ('view', 'click')
           AND p.user_id = t.user_id
           AND t.us < p.us AND t.us >= p.us - ${HourUs * 24}),
        n AS (
          SELECT touch, p_id,
                 COUNT(*) OVER (PARTITION BY p_id) AS n_touches
          FROM pair)
        SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
               CAST(SUM(1000000 // n_touches) AS BIGINT) AS credit_ppm
        FROM n GROUP BY touch
        ORDER BY touch""")),

    // --------------------------------------------------------------- q179
    // Position-based (U-shaped) attribution — q178's linear model
    // over-credits long middle stretches; the U-shape gives the
    // discovery touch and the closing touch 40% each and splits the
    // remaining 20% across the middles (a 2-touch path splits 50/50, a
    // 1-touch path takes it all). Positions come from one
    // purchase-keyed rank window over the SAME interval-join output as
    // q178 — ties break on event_id so both engines class identically;
    // all credits are exact ppm with truncating division.
    QueryDef(
      "q179_ushape_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("p_id")
        val paired = touchPairs(s, dir)
          .withColumn("rn", row_number().over(
            w.orderBy(col("t_us"), col("t_id"))))
          .withColumn("n", count(lit(1)).over(w))
        paired
          .withColumn("position", expr("""
            CASE WHEN n = 1 THEN 'only'
                 WHEN rn = 1 THEN 'first'
                 WHEN rn = n THEN 'last'
                 ELSE 'middle' END"""))
          .withColumn("credit_ppm", expr("""
            CASE WHEN n = 1 THEN 1000000
                 WHEN rn = 1 OR rn = n THEN
                   CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                 ELSE 200000 div (n - 2) END"""))
          .groupBy("touch", "position")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit_ppm").as("credit_ppm"))
          .orderBy("touch", "position")
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        pair AS (
          SELECT t.event_type AS touch, p.event_id AS p_id,
                 t.event_id AS t_id, t.us AS t_us
          FROM e p JOIN e t
            ON p.event_type = 'purchase'
           AND t.event_type IN ('view', 'click')
           AND p.user_id = t.user_id
           AND t.us < p.us AND t.us >= p.us - ${HourUs * 24}),
        r AS (
          SELECT touch,
                 row_number() OVER (PARTITION BY p_id
                                    ORDER BY t_us, t_id) AS rn,
                 COUNT(*) OVER (PARTITION BY p_id) AS n
          FROM pair),
        c AS (
          SELECT touch,
                 CASE WHEN n = 1 THEN 'only'
                      WHEN rn = 1 THEN 'first'
                      WHEN rn = n THEN 'last'
                      ELSE 'middle' END AS position,
                 CASE WHEN n = 1 THEN 1000000
                      WHEN rn = 1 OR rn = n THEN
                        CASE WHEN n = 2 THEN 500000 ELSE 400000 END
                      ELSE 200000 // (n - 2) END AS credit
          FROM r)
        SELECT touch, position, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit) AS BIGINT) AS credit_ppm
        FROM c GROUP BY touch, position
        ORDER BY touch, position""")),

    // --------------------------------------------------------------- q188
    // Bot detection via inter-event timing regularity — humans arrive
    // with bursty gaps, schedulers arrive on a metronome, so the
    // squared coefficient of variation of each user's inter-event gaps
    // separates them without any content signal. Exact arithmetic by
    // clearing denominators: with n gaps, S = Σg and Q = Σg² (µs),
    // cv² = var/mean² = (n·Q − S²)/S², surfaced as exact ppm through
    // DECIMAL(38)/HUGEINT accumulators (Q is ~10²² at day-scale gaps,
    // past BIGINT); n·Q ≥ S² by Cauchy–Schwarz so truncating div//
    // agree. A user is flagged 'metronomic' under cv² < 0.01 (ppm
    // < 10000) with ≥ 20 gaps. Scale shape: the lag and the rollup
    // ride ONE user_id exchange; per-user state is four numbers.
    QueryDef(
      "q188_bot_detection",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"))
          .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum(expr("cast(gap AS DECIMAL(38,0))")).as("s"),
            sum(expr("cast(gap AS DECIMAL(38,0)) * gap")).as("q"))
          .filter(col("n_gaps") >= 20)
          .select(col("user_id"), col("n_gaps"),
            col("s").cast("long").as("sum_gap_us"),
            // nullif: all-zero gaps (coincident timestamps) zero S — both
            // engines yield NULL instead of a DuckDB div-by-zero abort
            expr("cast((n_gaps * q - s * s) * 1000000 div nullif(s * s, 0) AS BIGINT)")
              .as("cv2_ppm"))
          .withColumn("verdict",
            expr("CASE WHEN cv2_ppm < 10000 THEN 'metronomic' ELSE 'organic' END"))
          .orderBy("user_id")
      },
      Some("""
        WITH g AS (
          SELECT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                     OVER (PARTITION BY user_id
                           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                   AS gap
          FROM events),
        a AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(gap) AS HUGEINT) AS s,
                 CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q
          FROM g WHERE gap IS NOT NULL
          GROUP BY user_id
          HAVING COUNT(*) >= 20)
        SELECT user_id, n_gaps, CAST(s AS BIGINT) AS sum_gap_us,
               CAST((n_gaps * q - s * s) * 1000000 // nullif(s * s, 0) AS BIGINT)
                 AS cv2_ppm,
               CASE WHEN (n_gaps * q - s * s) * 1000000 // nullif(s * s, 0)
                         < 10000
                    THEN 'metronomic' ELSE 'organic' END AS verdict
        FROM a
        ORDER BY user_id""")),

    // --------------------------------------------------------------- q200
    // Capped running balance — the secondary-sort recurrence pattern:
    // each user's credit balance earns on purchases, spends on errors,
    // and is FLOORED AT ZERO, i.e. b_t = max(0, b_{t-1} + d_t) — a
    // stateful per-row recurrence that plain window functions cannot
    // express in general (cap above AND below has no closed form).
    // The distributed shape is the classic one Spark offers for such
    // scans: hash-repartition on the key, sortWithinPartitions on
    // (key, time, id), then ONE mapPartitions pass carrying the
    // per-user state — each user's rows are contiguous and sorted
    // inside their partition, so the scan is sequential, deterministic,
    // and shuffles the data exactly once. The floor-at-zero special
    // case DOES have a closed form by the reflection identity
    // b_t = S_t − min(0, min_{k≤t} S_k), which is exactly what the
    // window-only oracle computes — the identity cross-checks the
    // imperative scan row for row.
    QueryDef(
      "q200_capped_running_balance",
      (s, dir) => {
        import s.implicits._
        val deltas = Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "error"))
          .select(col("user_id"), col("ts_us"), col("event_id"),
            expr("""CASE WHEN event_type = 'purchase'
                         THEN cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                         ELSE -cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    END""").as("delta"))
        deltas
          .repartition(32, col("user_id"))
          .sortWithinPartitions("user_id", "ts_us", "event_id")
          .as[(Long, Long, Long, Long)]
          .mapPartitions { it =>
            var curUser = Long.MinValue
            var bal = 0L
            it.map { case (u, ts, id, d) =>
              if (u != curUser) { curUser = u; bal = 0L }
              bal = math.max(0L, bal + d)
              (u, id, ts, d, bal)
            }
          }
          .toDF("user_id", "event_id", "ts_us", "delta", "balance")
          .orderBy("user_id", "ts_us", "event_id")
      },
      Some("""
        WITH d AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                      ELSE -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                 END AS delta
          FROM events WHERE event_type IN ('purchase', 'error')),
        c AS (
          SELECT user_id, event_id, ts_us, delta,
                 SUM(delta) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS s
          FROM d),
        m AS (
          SELECT user_id, event_id, ts_us, delta, s,
                 MIN(s) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS min_s
          FROM c)
        SELECT user_id, event_id, ts_us, delta,
               CAST(s - LEAST(0, min_s) AS BIGINT) AS balance
        FROM m
        ORDER BY user_id, ts_us, event_id""")),

    // --------------------------------------------------------------- q202
    // RFM segmentation — recency / frequency / monetary quintile codes
    // per user, the classic lifecycle-marketing rollup. The scale trap
    // here is the obvious formulation: ntile(5) over ALL users is an
    // unkeyed window that sorts the whole user table through one task.
    // Instead the quintile BOUNDARIES are four exact percentile_disc
    // scalars per dimension (a sort-based aggregate, distributed), the
    // bounded 1-row threshold frame broadcasts back, and each user's
    // codes come from comparisons — a narrow map. Scores use the
    // percentile_disc definition (smallest value with cume_dist ≥ p),
    // so score s means "value ≤ the s/5 quantile"; ties share a score
    // (unlike ntile, which splits ties by row — that arbitrariness is
    // exactly why boundaries beat ntile for a DETERMINISTIC contract).
    // Output is the bounded 125-cell segment rollup.
    QueryDef(
      "q202_rfm_scores",
      (s, dir) => {
        val rfm = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(max("ts_us").as("r"),
            count(lit(1)).as("f"),
            sum(expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .as("m"))
        val th = rfm.agg(
          expr("percentile_disc(0.2) within group (order by r)").as("r1"),
          expr("percentile_disc(0.4) within group (order by r)").as("r2"),
          expr("percentile_disc(0.6) within group (order by r)").as("r3"),
          expr("percentile_disc(0.8) within group (order by r)").as("r4"),
          expr("percentile_disc(0.2) within group (order by f)").as("f1"),
          expr("percentile_disc(0.4) within group (order by f)").as("f2"),
          expr("percentile_disc(0.6) within group (order by f)").as("f3"),
          expr("percentile_disc(0.8) within group (order by f)").as("f4"),
          expr("percentile_disc(0.2) within group (order by m)").as("m1"),
          expr("percentile_disc(0.4) within group (order by m)").as("m2"),
          expr("percentile_disc(0.6) within group (order by m)").as("m3"),
          expr("percentile_disc(0.8) within group (order by m)").as("m4"))
        def score(c: String, t: String) = expr(
          s"""CASE WHEN $c <= ${t}1 THEN 1 WHEN $c <= ${t}2 THEN 2
                   WHEN $c <= ${t}3 THEN 3 WHEN $c <= ${t}4 THEN 4
                   ELSE 5 END""")
        rfm.crossJoin(broadcast(th))
          .select(score("r", "r").cast("long").as("r_score"),
            score("f", "f").cast("long").as("f_score"),
            score("m", "m").cast("long").as("m_score"),
            col("user_id"), col("m"))
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_users"),
            sum("m").as("segment_cents"),
            sum("user_id").as("uid_checksum"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some("""
        WITH rfm AS (
          SELECT user_id,
                 MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS r,
                 CAST(COUNT(*) AS BIGINT) AS f,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                   AS BIGINT) AS m
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        ranked AS (
          SELECT *, cume_dist() OVER (ORDER BY r) AS cr,
                    cume_dist() OVER (ORDER BY f) AS cf,
                    cume_dist() OVER (ORDER BY m) AS cm
          FROM rfm),
        th AS (
          SELECT MIN(CASE WHEN cr >= 0.2 THEN r END) AS r1,
                 MIN(CASE WHEN cr >= 0.4 THEN r END) AS r2,
                 MIN(CASE WHEN cr >= 0.6 THEN r END) AS r3,
                 MIN(CASE WHEN cr >= 0.8 THEN r END) AS r4,
                 MIN(CASE WHEN cf >= 0.2 THEN f END) AS f1,
                 MIN(CASE WHEN cf >= 0.4 THEN f END) AS f2,
                 MIN(CASE WHEN cf >= 0.6 THEN f END) AS f3,
                 MIN(CASE WHEN cf >= 0.8 THEN f END) AS f4,
                 MIN(CASE WHEN cm >= 0.2 THEN m END) AS m1,
                 MIN(CASE WHEN cm >= 0.4 THEN m END) AS m2,
                 MIN(CASE WHEN cm >= 0.6 THEN m END) AS m3,
                 MIN(CASE WHEN cm >= 0.8 THEN m END) AS m4
          FROM ranked),
        scored AS (
          SELECT CASE WHEN r <= r1 THEN 1 WHEN r <= r2 THEN 2
                      WHEN r <= r3 THEN 3 WHEN r <= r4 THEN 4
                      ELSE 5 END AS r_score,
                 CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2
                      WHEN f <= f3 THEN 3 WHEN f <= f4 THEN 4
                      ELSE 5 END AS f_score,
                 CASE WHEN m <= m1 THEN 1 WHEN m <= m2 THEN 2
                      WHEN m <= m3 THEN 3 WHEN m <= m4 THEN 4
                      ELSE 5 END AS m_score,
                 user_id, m
          FROM rfm CROSS JOIN th)
        SELECT CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(m) AS BIGINT) AS segment_cents,
               CAST(SUM(user_id) AS BIGINT) AS uid_checksum
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score""")),

    // --------------------------------------------------------------- q204
    // A-priori frequent triples — one level up from q115's pair mining,
    // and the step where the A-priori PRUNE matters: candidate triples
    // are generated ONLY by joining frequent pairs sharing their first
    // item ((a,b)+(a,c), b<c — every frequent triple's two a-prefixed
    // sub-pairs are frequent by downward closure, so nothing is
    // missed), then verified with one membership join per remaining
    // item against the order-items table. The candidate frame is
    // |frequent_pairs|-bounded — the itemset lattice is never
    // enumerated — and per-order fan-out stays the bounded ≤7-items
    // constant of q115's argument. Support threshold 2 at every stage.
    QueryDef(
      "q204_apriori_triples",
      (s, dir) => {
        // session-shared CoPurchase artifacts (r14, see q129): the item
        // table feeds the three verify joins, the pair frame the prune
        val items = CoPurchase.items(s, dir) // (ok, pk)
        val pairs = CoPurchase.pairSup(s, dir)
          .filter(col("sup") >= 2).select("u", "v")
        val cand = pairs.as("p1")
          .join(pairs.as("p2"),
            col("p1.u") === col("p2.u") && col("p1.v") < col("p2.v"))
          .select(col("p1.u").as("x"), col("p1.v").as("y"), col("p2.v").as("z"))
        cand
          .join(items.select(col("ok").as("o1"), col("pk").as("k1")),
            col("x") === col("k1"))
          .join(items.select(col("ok").as("o2"), col("pk").as("k2")),
            col("o1") === col("o2") && col("y") === col("k2"))
          .join(items.select(col("ok").as("o3"), col("pk").as("k3")),
            col("o2") === col("o3") && col("z") === col("k3"))
          .groupBy("x", "y", "z")
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .orderBy(col("support").desc, col("x"), col("y"), col("z"))
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pairs AS (
          SELECT a.pk AS u, b.pk AS v
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        cand AS (
          SELECT p1.u AS x, p1.v AS y, p2.v AS z
          FROM pairs p1 JOIN pairs p2
            ON p1.u = p2.u AND p1.v < p2.v),
        verified AS (
          SELECT c.x, c.y, c.z, COUNT(*) AS support
          FROM cand c
          JOIN items i1 ON c.x = i1.pk
          JOIN items i2 ON i1.ok = i2.ok AND c.y = i2.pk
          JOIN items i3 ON i2.ok = i3.ok AND c.z = i3.pk
          GROUP BY c.x, c.y, c.z
          HAVING COUNT(*) >= 2)
        SELECT x, y, z, CAST(support AS BIGINT) AS support
        FROM verified
        ORDER BY support DESC, x, y, z""")),

    // --------------------------------------------------------------- q205
    // FIFO lot allocation — the classic "hard SQL" matching problem
    // (inventory costing, tax-lot accounting): each consumption draws
    // from the oldest unconsumed purchase lots, which relationally is
    // an INTERVAL OVERLAP on cumulative quantity lines: lot i covers
    // [S_{i−1}, S_i) of cumulative supply, consumption j covers
    // [D_{j−1}, D_j) of cumulative demand, and j draws
    // min(S_i, D_j) − max(S_{i−1}, D_{j−1}) cents from every lot whose
    // interval overlaps — no loop, no recursion. Here purchases fund a
    // user's credit line and error-events consume it. Scale shape: both
    // cumulative lines are keyed windows on user_id; the overlap join
    // is an equi-join on user_id with the range predicate as a
    // post-join filter, so fan-out is bounded by each user's own
    // lots × consumptions, never cross-user. All integer cents.
    QueryDef(
      "q205_fifo_allocation",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        def line(t: String) = Tables.events(s, dir)
          .filter(col("event_type") === t)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("amt"))
          .withColumn("hi", sum("amt").over(w))
          .withColumn("lo", col("hi") - col("amt"))
        val lots = line("purchase")
          .select(col("user_id").as("lu"), col("event_id").as("lot_id"),
            col("lo").as("llo"), col("hi").as("lhi"))
        val cons = line("error")
          .select(col("user_id").as("cu"), col("event_id").as("cons_id"),
            col("lo").as("clo"), col("hi").as("chi"))
        cons.join(lots, col("cu") === col("lu")
            && col("llo") < col("chi") && col("clo") < col("lhi"))
          .select(col("cu").as("user_id"), col("cons_id"), col("lot_id"),
            (least(col("lhi"), col("chi"))
              - greatest(col("llo"), col("clo"))).as("drawn_cents"))
          .orderBy("user_id", "cons_id", "lot_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS amt
          FROM events),
        lots AS (
          SELECT user_id AS lu, event_id AS lot_id,
                 SUM(amt) OVER w - amt AS llo, SUM(amt) OVER w AS lhi
          FROM e WHERE event_type = 'purchase'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING)),
        cons AS (
          SELECT user_id AS cu, event_id AS cons_id,
                 SUM(amt) OVER w - amt AS clo, SUM(amt) OVER w AS chi
          FROM e WHERE event_type = 'error'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING))
        SELECT cu AS user_id, cons_id, lot_id,
               CAST(LEAST(lhi, chi) - GREATEST(llo, clo) AS BIGINT)
                 AS drawn_cents
        FROM cons JOIN lots
          ON cu = lu AND llo < chi AND clo < lhi
        ORDER BY user_id, cons_id, lot_id""")),

    // --------------------------------------------------------------- q220
    // Decile lift table (gains chart) — the artifact a targeting model
    // ships with: users scored by click count (the propensity proxy),
    // outcome = made a purchase; deciles come from nine exact
    // percentile_disc boundaries broadcast back (the q202 discipline —
    // never a global ntile), so heavy score ties share a decile
    // deterministically and bins are honestly uneven. Per decile:
    // users, responders, response ppm, and lift vs the base rate as
    // (resp_d·N) ·10⁶ div (n_d·R) — exact integers end to end. The
    // bounded 10-row frame tolerates its one ordered window.
    QueryDef(
      "q220_decile_lift",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(expr("count_if(event_type = 'click')").as("score"),
            expr("count_if(event_type = 'purchase') > 0").as("responded"))
        val thCols = (1 to 9).map(i =>
          expr(s"percentile_disc(0.${i}) within group (order by score)")
            .as(s"t$i"))
        val th = users.agg(thCols.head, thCols.tail: _*)
        val dec = (1 to 9).foldRight("10") { (i, acc) =>
          s"CASE WHEN score <= t$i THEN $i ELSE $acc END"
        }
        val binned = users.crossJoin(broadcast(th))
          .select(expr(dec).cast("long").as("decile"),
            col("responded"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_users"),
            expr("count_if(responded)").as("n_resp"))
        val tot = binned.agg(sum("n_users").as("nn"), sum("n_resp").as("rr"))
        binned.crossJoin(broadcast(tot))
          .select(col("decile"), col("n_users"), col("n_resp"),
            expr("n_resp * 1000000 div n_users").as("resp_ppm"),
            expr("n_resp * nn * 1000000 div (n_users * rr)").as("lift_ppm"))
          .orderBy("decile")
      },
      Some("""
        WITH users AS (
          SELECT user_id,
                 CAST(count_if(event_type = 'click') AS BIGINT) AS score,
                 count_if(event_type = 'purchase') > 0 AS responded
          FROM events GROUP BY user_id),
        r AS (SELECT *, cume_dist() OVER (ORDER BY score) AS cd FROM users),
        th AS (
          SELECT MIN(CASE WHEN cd >= 0.1 THEN score END) AS t1,
                 MIN(CASE WHEN cd >= 0.2 THEN score END) AS t2,
                 MIN(CASE WHEN cd >= 0.3 THEN score END) AS t3,
                 MIN(CASE WHEN cd >= 0.4 THEN score END) AS t4,
                 MIN(CASE WHEN cd >= 0.5 THEN score END) AS t5,
                 MIN(CASE WHEN cd >= 0.6 THEN score END) AS t6,
                 MIN(CASE WHEN cd >= 0.7 THEN score END) AS t7,
                 MIN(CASE WHEN cd >= 0.8 THEN score END) AS t8,
                 MIN(CASE WHEN cd >= 0.9 THEN score END) AS t9
          FROM r),
        binned AS (
          SELECT CASE WHEN score <= t1 THEN 1 WHEN score <= t2 THEN 2
                      WHEN score <= t3 THEN 3 WHEN score <= t4 THEN 4
                      WHEN score <= t5 THEN 5 WHEN score <= t6 THEN 6
                      WHEN score <= t7 THEN 7 WHEN score <= t8 THEN 8
                      WHEN score <= t9 THEN 9 ELSE 10 END AS decile,
                 responded
          FROM users CROSS JOIN th),
        agg AS (
          SELECT CAST(decile AS BIGINT) AS decile,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(count_if(responded) AS BIGINT) AS n_resp
          FROM binned GROUP BY decile),
        tot AS (SELECT SUM(n_users) AS nn, SUM(n_resp) AS rr FROM agg)
        SELECT decile, n_users, n_resp,
               CAST(n_resp * 1000000 // n_users AS BIGINT) AS resp_ppm,
               CAST(n_resp * nn * 1000000 // (n_users * rr) AS BIGINT)
                 AS lift_ppm
        FROM agg CROSS JOIN tot
        ORDER BY decile""")),

    // --------------------------------------------------------------- q223
    // Accumulating-snapshot fact table — the Kimball pattern for
    // processes with milestones: ONE wide row per user carrying the
    // first-view / first-click-after-view / first-purchase-after-click
    // timestamps plus the inter-milestone durations, nulls where the
    // journey stalled. q108 aggregates this pipeline into a funnel
    // report; this materializes the underlying snapshot table a
    // warehouse actually stores and updates. Same single-exchange
    // chained-window shape as q108 (three stage minimums over one
    // user_id partitioning), then one row per user via the grouped
    // first() — the wide work never leaves the user key.
    QueryDef(
      "q223_accumulating_snapshot",
      (s, dir) => {
        funnelStages(s, dir)
          .groupBy("user_id")
          .agg(first("t1").as("first_view_us"),
            first("t2").as("first_click_us"),
            first("t3").as("first_purchase_us"))
          .withColumn("view_to_click_us",
            col("first_click_us") - col("first_view_us"))
          .withColumn("click_to_purchase_us",
            col("first_purchase_us") - col("first_click_us"))
          .withColumn("stage", expr("""
            CASE WHEN first_purchase_us IS NOT NULL THEN 'purchased'
                 WHEN first_click_us IS NOT NULL THEN 'clicked'
                 WHEN first_view_us IS NOT NULL THEN 'viewed'
                 ELSE 'never_viewed' END"""))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
          FROM events),
        v AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT ev.user_id, MIN(ts_us) AS t2
              FROM ev JOIN v ON ev.user_id = v.user_id
              WHERE event_type = 'click' AND ts_us > v.t1
              GROUP BY ev.user_id),
        p AS (SELECT ev.user_id, MIN(ts_us) AS t3
              FROM ev JOIN c ON ev.user_id = c.user_id
              WHERE event_type = 'purchase' AND ts_us > c.t2
              GROUP BY ev.user_id),
        base AS (SELECT DISTINCT user_id FROM ev)
        SELECT base.user_id,
               v.t1 AS first_view_us, c.t2 AS first_click_us,
               p.t3 AS first_purchase_us,
               c.t2 - v.t1 AS view_to_click_us,
               p.t3 - c.t2 AS click_to_purchase_us,
               CASE WHEN p.t3 IS NOT NULL THEN 'purchased'
                    WHEN c.t2 IS NOT NULL THEN 'clicked'
                    WHEN v.t1 IS NOT NULL THEN 'viewed'
                    ELSE 'never_viewed' END AS stage
        FROM base
        LEFT JOIN v ON base.user_id = v.user_id
        LEFT JOIN c ON base.user_id = c.user_id
        LEFT JOIN p ON base.user_id = p.user_id
        ORDER BY base.user_id""")),

    // --------------------------------------------------------------- q224
    // Markov next-event prediction eval — the simplest sequential model
    // given an honest out-of-time test: transition counts learned from
    // the first 24 days (per-user lead() over one user_id exchange)
    // collapse to a per-state argmax predictor (most frequent
    // successor, ties to the alphabetically first — the bounded
    // types×types matrix), which is then scored on the LAST 6 days'
    // transitions it never saw. Per from-state: evaluated transitions,
    // hits, and accuracy ppm. The train/test day cutoff rides in as a
    // broadcast scalar; the predictor is a broadcast map join — the
    // eval stream never shuffles against the model.
    QueryDef(
      "q224_markov_eval",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("event_type"),
            expr("ts_us div 86400000000").as("day"))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .withColumn("next_day", lead("day", 1).over(w))
          .filter(col("next_type").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cut = ev.agg((min("day") + 24L).as("cut"))
        val tagged = ev.crossJoin(broadcast(cut))
        val wPick = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("n").desc, col("next_type"))
        val model = tagged.filter(col("next_day") < col("cut"))
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("event_type"), col("next_type").as("predicted"))
        tagged.filter(col("day") >= col("cut"))
          .join(broadcast(model), Seq("event_type"))
          .groupBy("event_type", "predicted")
          .agg(count(lit(1)).as("n_eval"),
            expr("count_if(next_type = predicted)").as("n_hit"))
          .withColumn("accuracy_ppm", expr("n_hit * 1000000 div n_eval"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events),
        seq AS (
          SELECT *,
                 lead(event_type) OVER w AS next_type,
                 lead(day) OVER w AS next_day
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        t AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
        cut AS (SELECT MIN(day) + 24 AS cut FROM t),
        model AS (
          SELECT event_type, next_type AS predicted FROM (
            SELECT event_type, next_type, COUNT(*) AS n,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY COUNT(*) DESC, next_type) AS rk
            FROM t CROSS JOIN cut
            WHERE next_day < cut
            GROUP BY event_type, next_type) x
          WHERE rk = 1)
        SELECT t.event_type, m.predicted,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(count_if(t.next_type = m.predicted) AS BIGINT) AS n_hit,
               CAST(count_if(t.next_type = m.predicted) * 1000000
                    // COUNT(*) AS BIGINT) AS accuracy_ppm
        FROM t CROSS JOIN cut
        JOIN model m ON t.event_type = m.event_type
        WHERE t.day >= cut
        GROUP BY t.event_type, m.predicted
        ORDER BY t.event_type""")),

    // --------------------------------------------------------------- q225
    // "Also bought" recommendation table — q115's co-purchase pairs
    // served per item and ranked by exact LIFT (pair_orders · N ÷
    // sup_x·sup_y in ppm), not raw support, so a partner that merely
    // appears everywhere doesn't dominate every item's list. Pairs
    // symmetrize (u→v and v→u both serve), each item keeps its top-3
    // by (lift, partner-id) — WindowGroupLimit prunes map-side before
    // the rank shuffle. The order count rides in as a broadcast scalar;
    // item supports broadcast-join onto the bounded pair table. All
    // integer: DECIMAL(38) carries pair·N·10⁶.
    QueryDef(
      "q225_also_bought",
      (s, dir) => {
        // session-shared CoPurchase artifacts (r14, see q129)
        val items = CoPurchase.items(s, dir) // (ok, pk)
        val sup = items.groupBy("pk").agg(count(lit(1)).as("sup"))
        val nOrders = items.select("ok").distinct().agg(count(lit(1)).as("n_ord"))
        val pairs = CoPurchase.pairSup(s, dir)
          .select(col("u"), col("v"), col("sup").as("pn"))
          .filter(col("pn") >= 2)
        val sym = pairs.select(col("u").as("item"), col("v").as("partner"), col("pn"))
          .unionAll(pairs.select(col("v").as("item"), col("u").as("partner"), col("pn")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("item").orderBy(col("lift_ppm").desc, col("partner"))
        sym
          .join(sup.select(col("pk").as("item"), col("sup").as("sup_i")), "item")
          .join(sup.select(col("pk").as("partner"), col("sup").as("sup_p")),
            "partner")
          .crossJoin(broadcast(nOrders))
          .withColumn("lift_ppm", expr(
            "cast(cast(pn AS DECIMAL(38,0)) * n_ord * 1000000 div (cast(sup_i AS DECIMAL(38,0)) * sup_p) AS BIGINT)"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("item"), col("rk").cast("long").as("rk"),
            col("partner"), col("pn"), col("lift_ppm"))
          .orderBy("item", "rk")
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        sup AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS sup
                FROM items GROUP BY pk),
        no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_ord FROM items),
        pairs AS (
          SELECT a.pk AS u, b.pk AS v, CAST(COUNT(*) AS BIGINT) AS pn
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        sym AS (
          SELECT u AS item, v AS partner, pn FROM pairs
          UNION ALL SELECT v, u, pn FROM pairs),
        scored AS (
          SELECT sym.item, sym.partner, sym.pn,
                 CAST(CAST(sym.pn AS HUGEINT) * no.n_ord * 1000000
                      // (CAST(si.sup AS HUGEINT) * sp.sup) AS BIGINT)
                   AS lift_ppm
          FROM sym
          JOIN sup si ON si.pk = sym.item
          JOIN sup sp ON sp.pk = sym.partner
          CROSS JOIN no)
        SELECT item, rk, partner, pn, lift_ppm FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY item
                      ORDER BY lift_ppm DESC, partner) AS BIGINT) AS rk
          FROM scored) z
        WHERE rk <= 3
        ORDER BY item, rk""")),

    // --------------------------------------------------------------- q229
    // Session-length distribution — the product metric sessions exist
    // to feed: q20's 10-minute-gap sessions reduce to their durations
    // and event counts, then per-duration-band (0, ≤1 min, ≤10 min,
    // longer) counts plus exact discrete percentiles (p50/p90/p99 of
    // duration in seconds) from sort-based aggregates — no global
    // window anywhere. The sessionization windows ride one user_id
    // exchange; the summary is a bounded two-row-stage rollup.
    QueryDef(
      "q229_session_length_dist",
      (s, dir) => {
        val gapUs = 600L * 1000000L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        val cum = w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
        val sess = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("new_sess",
            when(lag("ts_us", 1).over(w).isNull
              || col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1L)
              .otherwise(0L))
          .withColumn("sid", sum("new_sess").over(cum))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"),
            ((max("ts_us") - min("ts_us")) / 1000000L).cast("long")
              .as("dur_s"))
        sess.agg(count(lit(1)).as("n_sessions"),
            expr("count_if(dur_s = 0)").as("single_event"),
            expr("count_if(dur_s > 0 AND dur_s <= 60)").as("under_1m"),
            expr("count_if(dur_s > 60 AND dur_s <= 600)").as("under_10m"),
            expr("count_if(dur_s > 600)").as("over_10m"),
            expr("cast(percentile_disc(0.5) within group (order by dur_s) AS BIGINT)")
              .as("p50_s"),
            expr("cast(percentile_disc(0.9) within group (order by dur_s) AS BIGINT)")
              .as("p90_s"),
            expr("cast(percentile_disc(0.99) within group (order by dur_s) AS BIGINT)")
              .as("p99_s"))
      },
      Some("""
        WITH e AS (SELECT user_id, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                   FROM events),
        g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                              OR ts_us - lag(ts_us) OVER w > 600000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us, event_id)),
        sg AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
        sess AS (
          SELECT user_id, sid,
                 (MAX(ts_us) - MIN(ts_us)) // 1000000 AS dur_s
          FROM sg GROUP BY user_id, sid),
        r AS (SELECT dur_s,
                     cume_dist() OVER (ORDER BY dur_s) AS cd
              FROM sess)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(count_if(dur_s = 0) AS BIGINT) AS single_event,
               CAST(count_if(dur_s > 0 AND dur_s <= 60) AS BIGINT)
                 AS under_1m,
               CAST(count_if(dur_s > 60 AND dur_s <= 600) AS BIGINT)
                 AS under_10m,
               CAST(count_if(dur_s > 600) AS BIGINT) AS over_10m,
               CAST((SELECT MIN(dur_s) FROM r WHERE cd >= 0.5) AS BIGINT)
                 AS p50_s,
               CAST((SELECT MIN(dur_s) FROM r WHERE cd >= 0.9) AS BIGINT)
                 AS p90_s,
               CAST((SELECT MIN(dur_s) FROM r WHERE cd >= 0.99) AS BIGINT)
                 AS p99_s
        FROM sess""")),

    // --------------------------------------------------------------- q230
    // Repeat-purchase dynamics — the commerce loyalty readout: per
    // user, gaps between successive purchases (one lag over the
    // purchase stream, user-keyed); rolled up to the repeat rate (users
    // with ≥ 2 purchases), the exact median inter-purchase gap in
    // hours, and the one-and-done count. All integers; the purchase
    // stream reduces per user before anything global, and the global
    // percentile is a sort-based aggregate over the bounded gap set.
    QueryDef(
      "q230_repeat_purchase",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        val gaps = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("gap_h",
            ((col("ts_us") - lag("ts_us", 1).over(w)) / 3600000000L)
              .cast("long"))
        val perUser = gaps.groupBy("user_id")
          .agg(count(lit(1)).as("n_purch"))
        perUser.agg(count(lit(1)).as("n_buyers"),
            expr("count_if(n_purch >= 2)").as("repeat_buyers"),
            expr("count_if(n_purch = 1)").as("one_and_done"),
            expr("cast(count_if(n_purch >= 2) * 1000000 div count(1) AS BIGINT)")
              .as("repeat_ppm"))
          .crossJoin(broadcast(gaps.filter(col("gap_h").isNotNull)
            .agg(expr("cast(percentile_disc(0.5) within group (order by gap_h) AS BIGINT)")
              .as("median_gap_h"),
              count(lit(1)).as("n_gaps"))))
      },
      Some("""
        WITH p AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE event_type = 'purchase'),
        g AS (
          SELECT user_id,
                 (ts_us - lag(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id)) // 3600000000 AS gap_h
          FROM p),
        pu AS (SELECT user_id, COUNT(*) AS n_purch FROM p GROUP BY user_id),
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_buyers,
                 CAST(count_if(n_purch >= 2) AS BIGINT) AS repeat_buyers,
                 CAST(count_if(n_purch = 1) AS BIGINT) AS one_and_done,
                 CAST(count_if(n_purch >= 2) * 1000000 // COUNT(*) AS BIGINT)
                   AS repeat_ppm
          FROM pu),
        r AS (SELECT gap_h, cume_dist() OVER (ORDER BY gap_h) AS cd
              FROM g WHERE gap_h IS NOT NULL),
        med AS (
          SELECT CAST((SELECT MIN(gap_h) FROM r WHERE cd >= 0.5) AS BIGINT)
                   AS median_gap_h,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps
          FROM r)
        SELECT * FROM base CROSS JOIN med"""))
  ,

    // --------------------------------------------------------------- q239
    // Peak concurrency per day — the interval-stabbing sweep behind
    // "how many sessions were open at once?": each event opens a
    // half-open 30-minute session [ts, ts+30m); the +1/−1 delta sweep
    // nets per distinct instant, the GLOBAL running sum is the live
    // concurrency at each instant, and each day reports its maximum
    // plus the first instant achieving it. The global running sum is
    // the classic global-window trap — here it rides the established
    // two-pass range-partitioned prefix-sum (`Statistics.prefixSums`:
    // per-partition cumsum under a pid-keyed window + a broadcast
    // 32-row offset table; the only unkeyed window is bounded at the
    // partition count). Net-per-instant makes tie order moot, so the
    // sweep is deterministic without a secondary sort. Carry-over is
    // exact: the running sum at a day's first instant already includes
    // every session still open from prior days.
    QueryDef(
      "q239_peak_concurrency",
      (s, dir) => {
        val ev = graft.Tables.events(s, dir)
        val deltas = ev.select(col("ts_us").as("t"), lit(1L).as("d"))
          .unionByName(ev.select((col("ts_us") + 1800000000L).as("t"),
            lit(-1L).as("d")))
          .groupBy("t").agg(sum("d").as("d"))
        val cum = Statistics.prefixSums(deltas, "t", Seq("d"))
        val byDay = cum
          .select(expr("t div 86400000000").as("day"), col("t"),
            col("cum_d").as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pk = byDay.groupBy("day").agg(max("c").as("peak_concurrency"))
        byDay.join(pk, "day")
          .filter(col("c") === col("peak_concurrency"))
          .groupBy("day", "peak_concurrency")
          .agg(min("t").as("first_peak_t_us"))
          .orderBy("day")
      },
      Some("""
        WITH st AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, 1 AS d FROM events
          UNION ALL
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000, -1 FROM events),
        inst AS (SELECT t, CAST(SUM(d) AS BIGINT) AS d FROM st GROUP BY t),
        cum AS (SELECT t, SUM(d) OVER (ORDER BY t) AS c FROM inst),
        byday AS (SELECT t // 86400000000 AS day, t, c FROM cum),
        pk AS (SELECT day, MAX(c) AS peak FROM byday GROUP BY day)
        SELECT p.day, CAST(p.peak AS BIGINT) AS peak_concurrency,
               CAST(MIN(d.t) AS BIGINT) AS first_peak_t_us
        FROM pk p JOIN byday d ON d.day = p.day AND d.c = p.peak
        GROUP BY p.day, p.peak
        ORDER BY p.day"""))
  ,

    // --------------------------------------------------------------- q249
    // Time-in-state (dwell) per event type — the engagement metric
    // behind "how long do users sit on each step?": each event holds
    // its state until the user's NEXT event, and the interval is
    // attributed to the CURRENT type (q146's TWAP weights value this
    // way; here the time itself is the metric). Last events per user
    // have no successor and drop — stated, the open-interval censoring
    // convention. One lead() on the user exchange, one bounded
    // per-type rollup; mean via truncating integer division.
    QueryDef(
      "q249_dwell_time",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type"))
          .withColumn("dwell_us", lead("ts_us", 1).over(w) - col("ts_us"))
          .filter(col("dwell_us").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_intervals"),
            sum("dwell_us").as("total_dwell_us"),
            expr("sum(dwell_us) div count(1)").as("mean_dwell_us"),
            max("dwell_us").as("max_dwell_us"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events),
        d AS (
          SELECT event_type,
                 lead(ts_us) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) - ts_us
                   AS dwell_us
          FROM e)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
               CAST(SUM(dwell_us) AS BIGINT) // COUNT(*) AS mean_dwell_us,
               CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us
        FROM d
        WHERE dwell_us IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q305
    // Off-policy evaluation via inverse-propensity scoring (Horvitz–
    // Thompson / IPS, plus the self-normalized SNIPS variant) — the
    // counterfactual question every recommender/bandit log answers
    // offline: "what would THIS policy have earned on the logged
    // traffic?". Segments = user_id % 5 (stated), arms = event types,
    // reward = value in exact cents. Behavior propensities are the
    // empirical arm shares per segment in ppm; the target policy is
    // the deterministic greedy rule (highest mean-reward arm per
    // segment, arm-name tiebreak — estimated from the same log, the
    // replay-audit convention, stated). Each logged event contributes
    // r·10⁶ div p_ppm when the policy matches the logged arm — exact
    // per-event truncating integer, identical order in both engines.
    // Invariant worth reading off the report: with EMPIRICAL
    // propensities over the very log being replayed, IPS algebraically
    // collapses to the chosen arm's direct mean (up to per-event
    // truncation dust) and SNIPS equals it exactly (constant weight
    // within a segment cancels) — so direct/ips/snips agreeing is the
    // estimator's correctness witness, and they diverge only when the
    // propensity model and the log disagree, which is what IPS is FOR.
    // 100 TB shape: one keyed grid aggregate (segments × arms), the
    // bounded policy table broadcasts back, one conditional-sum pass.
    QueryDef(
      "q305_ips_policy_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(expr("user_id % 5").as("seg"), col("event_type").as("arm"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("r"))
        val grid = ev.groupBy("seg", "arm")
          .agg(count(lit(1)).as("n_a"), sum("r").as("r_a"))
        val segTot = grid.groupBy("seg").agg(sum("n_a").as("n_seg"))
        val policy = grid.join(segTot, "seg")
          .withColumn("rk", row_number().over(
            Window.partitionBy("seg")
              .orderBy(expr("r_a div n_a").desc, col("arm"))).cast("long"))
          .filter(col("rk") === 1L)
          .select(col("seg"), col("arm").as("pi_arm"), col("n_seg"),
            expr("n_a * 1000000 div n_seg").as("p_pi_ppm"),
            expr("r_a div n_a").as("direct_mean_cents"))
        ev.join(broadcast(policy), "seg")
          .groupBy("seg")
          .agg(max("n_seg").as("n_events"),
            max("pi_arm").as("pi_arm"),
            max("p_pi_ppm").as("p_pi_ppm"),
            max("direct_mean_cents").as("direct_mean_cents"),
            sum(when(col("arm") === col("pi_arm"),
              expr("r * 1000000 div p_pi_ppm")).otherwise(0L))
              .as("ips_num"),
            sum(when(col("arm") === col("pi_arm"),
              expr("r * (1000000 div p_pi_ppm)")).otherwise(0L))
              .as("sn_num"),
            sum(when(col("arm") === col("pi_arm"),
              expr("1000000 div p_pi_ppm")).otherwise(0L)).as("sn_den"))
          .select(col("seg"), col("n_events"), col("pi_arm"),
            col("p_pi_ppm"), col("direct_mean_cents"),
            expr("ips_num div n_events").as("ips_cents"),
            expr("sn_num div sn_den").as("snips_cents"))
          .orderBy("seg")
      },
      Some("""
        WITH ev AS (
          SELECT user_id % 5 AS seg, event_type AS arm,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS r
          FROM events),
        grid AS (
          SELECT seg, arm, CAST(COUNT(*) AS BIGINT) AS n_a,
                 CAST(SUM(r) AS BIGINT) AS r_a
          FROM ev GROUP BY seg, arm),
        st AS (SELECT seg, CAST(SUM(n_a) AS BIGINT) AS n_seg
               FROM grid GROUP BY seg),
        pol AS (
          SELECT seg, arm AS pi_arm, n_seg,
                 n_a * 1000000 // n_seg AS p_pi_ppm,
                 r_a // n_a AS direct_mean_cents
          FROM (SELECT g.*, st.n_seg,
                       row_number() OVER (PARTITION BY g.seg
                         ORDER BY g.r_a // g.n_a DESC, g.arm) AS rk
                FROM grid g JOIN st USING (seg))
          WHERE rk = 1),
        j AS (
          SELECT ev.seg, ev.arm, ev.r, p.pi_arm, p.n_seg, p.p_pi_ppm,
                 p.direct_mean_cents
          FROM ev JOIN pol p ON ev.seg = p.seg)
        SELECT seg,
               CAST(MAX(n_seg) AS BIGINT) AS n_events,
               MAX(pi_arm) AS pi_arm,
               CAST(MAX(p_pi_ppm) AS BIGINT) AS p_pi_ppm,
               CAST(MAX(direct_mean_cents) AS BIGINT) AS direct_mean_cents,
               CAST(SUM(CASE WHEN arm = pi_arm
                             THEN r * 1000000 // p_pi_ppm ELSE 0 END)
                    AS BIGINT)
                 // CAST(MAX(n_seg) AS BIGINT) AS ips_cents,
               CAST(SUM(CASE WHEN arm = pi_arm
                             THEN r * (1000000 // p_pi_ppm) ELSE 0 END)
                    AS BIGINT)
                 // CAST(SUM(CASE WHEN arm = pi_arm
                               THEN 1000000 // p_pi_ppm ELSE 0 END)
                      AS BIGINT) AS snips_cents
        FROM j
        GROUP BY seg
        ORDER BY seg"""))
  ,

    // --------------------------------------------------------------- q311
    // Kaplan–Meier churn survival — the right-censoring-aware answer
    // to "how long do users stay?" that a naive mean-lifetime query
    // gets wrong (users still active at the window edge are CENSORED,
    // not churned — dropping or counting them both bias the estimate).
    // Lifetime = last−first activity day; a user whose last activity
    // falls within 7 days of the window edge is censored (stated).
    // The product-limit estimator S(t) = Π_{u≤t} (1 − d_u/n_u) is a
    // SEQUENTIAL product, kept exact by folding ppm factors in
    // lifetime order with one truncating div 10⁶ per step — identical
    // fold order in both engines (sorted-list aggregate ↔ list(...
    // ORDER BY) + list_reduce). 100 TB shape: the corpus reduces to
    // one (lifetime, deaths, censored) row per day via two keyed
    // aggregates; the at-risk cumulative, the factor lists, and every
    // fold run on the CALENDAR-BOUNDED day grid (≤ observation-window
    // days by construction), never over users.
    QueryDef(
      "q311_kaplan_meier",
      (s, dir) => {
        val lt = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
          .groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
        val horizon = lt.agg(max("d1").as("dmax"))
        val lives = lt.crossJoin(broadcast(horizon))
          .select((col("d1") - col("d0")).as("t"),
            when(col("d1") <= col("dmax") - 7L, 1L).otherwise(0L).as("ev"))
        val grid = lives.groupBy("t")
          .agg(count(lit(1)).as("n_end"),
            sum("ev").as("d"),
            (count(lit(1)) - sum("ev")).as("c"))
        val wRisk = org.apache.spark.sql.expressions.Window
          .orderBy(col("t").desc) // ≤ day-grid rows by construction
        val g2 = grid
          .withColumn("n_risk", sum("n_end").over(wRisk))
          .withColumn("hazard_ppm", expr("d * 1000000 div n_risk"))
          .withColumn("factor", expr("1000000 - d * 1000000 div n_risk"))
        val facts = g2.select(col("t").as("u"), col("factor").as("f"))
        g2.join(facts, expr("u <= t"))
          .groupBy("t", "n_risk", "d", "c", "hazard_ppm")
          .agg(expr(
            """aggregate(
                 transform(sort_array(collect_list(struct(u, f))),
                   x -> x.f),
                 1000000L, (acc, f) -> acc * f div 1000000L)""")
            .as("surv_ppm"))
          .select(col("t"), col("n_risk"), col("d").as("d_events"),
            col("c").as("censored"), col("hazard_ppm"), col("surv_ppm"))
          .orderBy("t")
      },
      Some("""
        WITH lt AS (
          SELECT user_id,
                 CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                   AS BIGINT) AS d0,
                 CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                   AS BIGINT) AS d1
          FROM events GROUP BY user_id),
        hz AS (SELECT MAX(d1) AS dmax FROM lt),
        lives AS (
          SELECT d1 - d0 AS t,
                 CASE WHEN d1 <= (SELECT dmax FROM hz) - 7
                      THEN 1 ELSE 0 END AS ev
          FROM lt),
        grid AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS n_end,
                 CAST(SUM(ev) AS BIGINT) AS d,
                 CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
          FROM lives GROUP BY t),
        g2 AS (
          SELECT t, d, c,
                 CAST(SUM(n_end) OVER (ORDER BY t DESC) AS BIGINT)
                   AS n_risk
          FROM grid),
        g3 AS (
          SELECT t, n_risk, d, c,
                 d * 1000000 // n_risk AS hazard_ppm,
                 1000000 - d * 1000000 // n_risk AS factor
          FROM g2)
        SELECT a.t AS t, a.n_risk AS n_risk, a.d AS d_events,
               a.c AS censored, a.hazard_ppm AS hazard_ppm,
               CAST(list_reduce(
                 list_prepend(CAST(1000000 AS BIGINT),
                   list(b.factor ORDER BY b.t)),
                 (acc, f) -> acc * f // 1000000) AS BIGINT) AS surv_ppm
        FROM g3 a JOIN g3 b ON b.t <= a.t
        GROUP BY a.t, a.n_risk, a.d, a.c, a.hazard_ppm
        ORDER BY a.t"""))
  )

  /** q116's oracle, shared verbatim by s18. */
  private[graft] def transitionsOracle: String = """
        WITH e AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 event_id, event_type
          FROM events),
        p AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS to_type
          FROM e),
        t AS (SELECT from_type, to_type, COUNT(*) AS n
              FROM p WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type)
        SELECT from_type, to_type, n,
               CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
               n * 1000 // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                 AS share_permille
        FROM t
        ORDER BY from_type, to_type"""

  /** q178/q179 shared: each purchase (p_user, p_id, p_us) paired with
    * its user's view/click touches (t_user, touch, t_id, t_us) in the
    * 24 hours before it — a user-keyed interval join, the batch twin of
    * s04's stream-stream join. */
  private def touchPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts_us").as("p_us"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("event_type").as("touch"),
        col("event_id").as("t_id"), col("ts_us").as("t_us"))
    purchases.join(touches,
      col("p_user") === col("t_user")
        && col("t_us") < col("p_us")
        && col("t_us") >= col("p_us") - HourUs * 24)
  }

  /** q108/q223 shared: every event with its user's funnel stage times —
    * t1 = first view, t2 = first click after t1, t3 = first purchase
    * after t2 — as three CHAINED window minimums over one user_id
    * partitioning, so Catalyst plans exactly ONE user exchange. */
  private def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click"
          && col("ts_us") > col("t1"), col("ts_us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase"
          && col("ts_us") > col("t2"), col("ts_us"))).over(w))
  }

  /** q109/s19 shared: distinct users per (cohort_day, offset_days) over
    * cohort-tagged activity (user_id, day, cohort_day). */
  private[graft] def retentionReport(tagged: DataFrame): DataFrame =
    tagged
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "offset_days")

  /** q146/s23 shared: the per-type time-weighted average over value
    * intervals (event_type, vc, dt) — each value weighted by the time
    * until the type's next event. */
  private[graft] def twapReport(intervals: DataFrame): DataFrame =
    intervals.groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(expr("cast(vc AS DECIMAL(38,0)) * dt")).as("swv"),
        sum(expr("cast(dt AS DECIMAL(38,0))")).as("sw"))
      .select(col("event_type"), col("n_intervals"),
        expr("cast(swv div sw AS BIGINT)").as("twap_cents"))
      .orderBy("event_type")

  /** q147/q150 shared: (event_type, event_id, vc) — every event with its
    * value in integer cents. */
  private[operators] def eventCents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))

  /** q147/q150 shared: each type's ascending value order, ties broken
    * on event_id. */
  private[operators] def byCents =
    org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("vc", "event_id")

  /** q146's oracle, shared verbatim by s23. */
  private[graft] def twapOracle: String = """
        WITH e AS (
          SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        iv AS (
          SELECT event_type, vc,
                 lead(ts_us) OVER (PARTITION BY event_type
                                   ORDER BY ts_us, event_id) - ts_us AS dt
          FROM e)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(CAST(vc AS HUGEINT) * dt)
                    // CAST(SUM(dt) AS HUGEINT) AS BIGINT) AS twap_cents
        FROM iv WHERE dt IS NOT NULL
        GROUP BY event_type ORDER BY event_type"""

  /** q109's oracle, shared verbatim by s19. */
  private[graft] def retentionOracle: String = s"""
        WITH ev AS (
          SELECT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) // $DayUs AS day
          FROM events),
        cohort AS (SELECT user_id, MIN(day) AS cohort_day
                   FROM ev GROUP BY user_id),
        activity AS (SELECT DISTINCT user_id, day FROM ev)
        SELECT c.cohort_day,
               a.day - c.cohort_day AS offset_days,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM activity a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY c.cohort_day, offset_days
        ORDER BY cohort_day, offset_days"""

  /** q151's oracle, shared verbatim by s25. */
  private[graft] def streakOracle: String = s"""
        WITH d AS (
          SELECT DISTINCT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) // $DayUs AS day
          FROM events),
        i AS (
          SELECT user_id, day,
                 day - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day) AS anchor
          FROM d),
        runs AS (
          SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len,
                 MIN(day) AS start_day
          FROM i GROUP BY user_id, anchor)
        SELECT user_id,
               CAST(MAX(len) AS BIGINT) AS longest_streak,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MIN(start_day) AS BIGINT) AS first_day
        FROM runs GROUP BY user_id
        HAVING MAX(len) >= 3
        ORDER BY user_id"""
}
