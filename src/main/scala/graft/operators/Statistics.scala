package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical-analysis operators over the `events` / `documents`
  * fixtures: map-typed column manipulation, chi-square independence,
  * Simpson diversity, and a distributed two-sample Kolmogorov–Smirnov
  * statistic. The reference moves events without analyzing them
  * (SURVEY §2.9); these are the distribution-level health checks a
  * data-quality team runs over an event warehouse or training corpus.
  *
  * Exactness: every statistic is computed in integer / decimal
  * arithmetic and surfaced as parts-per-million BIGINTs (the q147
  * discipline) — chi-square, diversity, and KS are all rational in the
  * counts, so no engine ever touches a float and the DuckDB oracle
  * hash-matches bit-for-bit. Spark decimal `div` pairs with DuckDB
  * HUGEINT `//` (both truncate toward zero on non-negative operands).
  *
  * 100 TB scale design: every input reduces map-side on a keyed
  * aggregate before anything wide runs; contingency/diversity tables
  * are bounded-cardinality (types × buckets, sources × langs) so the
  * post-aggregate joins broadcast. The KS cumulative counts use a
  * range-partitioned two-pass prefix sum (per-partition cumsum + a
  * 32-row offset table) instead of a global-ORDER window, so no stage
  * ever serializes the distinct-value stream through one task.
  */
object Statistics {

  private val HourUs = 3600000000L

  /** Exact value-cents column (events.value is a 2-decimal double). */
  private def cents = expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")

  /** q166/q171 shared: the view-vs-purchase value ECDF — per distinct
    * value cents vc the deltas (d1 views, d2 purchases), their inclusive
    * prefix sums (cum_d1, cum_d2) and the single-row totals (n1, n2),
    * crossed on as a broadcast (q58/q71 discipline). */
  private def viewPurchaseEcdf(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(cents.as("vc"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("g1"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("g2"))
    val cell = base.groupBy("vc").agg(sum("g1").as("d1"), sum("g2").as("d2"))
    val tot = base.agg(sum("g1").as("n1"), sum("g2").as("n2"))
    prefixSums(cell, "vc", Seq("d1", "d2")).crossJoin(broadcast(tot))
  }

  /** Distributed INCLUSIVE prefix sums of `deltaCols` (Long) over
    * ascending `orderCol` — the scale-safe replacement for a
    * global-ORDER running-sum window: range-partition by the order
    * column, cumsum inside each partition under a pid-KEYED window,
    * then broadcast a `partitions`-row per-partition offset table back
    * on top (the only unkeyed window, bounded at the partition count).
    * Adds one `cum_<c>` column per delta column; row set and existing
    * columns pass through unchanged. `localCheckpoint` pins the pid
    * assignment so the offset table and the intra-partition pass see
    * the SAME partitioning (and the range sampling runs once).
    * Property-pinned against a straight-Scala scan in PropertySpec. */
  private[graft] def prefixSums(df: DataFrame, orderCol: String,
      deltaCols: Seq[String], partitions: Int = 32): DataFrame = {
    val ranged = df.repartitionByRange(partitions, col(orderCol))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val wIntra = Window.partitionBy("pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = deltaCols.foldLeft(ranged)((d, c) =>
      d.withColumn(s"cum_$c", sum(col(c)).over(wIntra)))
    val wOff = Window.orderBy("pid") // ≤ shuffle-partition-count rows
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = ranged.groupBy("pid")
      .agg(sum(deltaCols.head).as(s"t_${deltaCols.head}"),
        deltaCols.tail.map(c => sum(c).as(s"t_$c")): _*)
    val off = deltaCols.foldLeft(totals)((d, c) =>
        d.withColumn(s"o_$c", coalesce(sum(col(s"t_$c")).over(wOff), lit(0L))))
      .select(col("pid") +: deltaCols.map(c => col(s"o_$c")): _*)
    deltaCols.foldLeft(intra.join(broadcast(off), "pid"))((d, c) =>
        d.withColumn(s"cum_$c", col(s"cum_$c") + col(s"o_$c"))
          .drop(s"o_$c"))
      .drop("pid")
  }

  val all: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q163
    // Map-typed column breadth — per event type, the hourly profile is
    // carried as a MAP<hour, …> column and manipulated with the map
    // higher-order functions end-to-end: map_from_entries builds
    // hour→count and hour→cents maps from sorted entry arrays,
    // map_zip_with aligns the two maps into per-hour (count, avg_cents)
    // structs, map_filter drops hours below a support threshold, and
    // explode lands the map back on rows. The exactly-equivalent
    // relational query is the oracle, so the whole map round-trip is
    // hash-gated. Maps stay bounded (≤24 keys per type) — the wide work
    // is the one keyed (type, hour) aggregate that reduces map-side.
    QueryDef(
      "q163_map_functions",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .select(col("event_type"),
            expr(s"(ts_us div $HourUs) % 24").as("hour"), cents.as("vc"))
          .groupBy("event_type", "hour")
          .agg(count(lit(1)).as("cnt"), sum("vc").as("cents"))
        hourly.groupBy("event_type")
          .agg(
            map_from_entries(array_sort(
              collect_list(struct(col("hour"), col("cnt"))))).as("cnt_map"),
            map_from_entries(array_sort(
              collect_list(struct(col("hour"), col("cents"))))).as("cents_map"))
          .select(col("event_type"),
            explode(expr(
              """map_filter(
                   map_zip_with(cnt_map, cents_map,
                     (k, c, v) -> struct(c AS cnt, v div c AS avg_cents)),
                   (k, s) -> s.cnt >= 5)""")).as(Seq("hour", "st")))
          .select(col("event_type"), col("hour"),
            col("st.cnt").as("cnt"), col("st.avg_cents").as("avg_cents"))
          .orderBy("event_type", "hour")
      },
      Some(s"""
        WITH h AS (
          SELECT event_type,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // $HourUs) % 24 AS hour,
                 COUNT(*) AS cnt,
                 SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
          FROM events GROUP BY 1, 2)
        SELECT event_type, hour, CAST(cnt AS BIGINT) AS cnt,
               CAST(cents // cnt AS BIGINT) AS avg_cents
        FROM h WHERE cnt >= 5
        ORDER BY event_type, hour""")),

    // --------------------------------------------------------------- q164
    // Chi-square independence, event_type × 6-hour day-part — "does
    // traffic mix shift across the day", the drift test run before
    // trusting a sampled corpus. Observed counts come from ONE keyed
    // aggregate; row totals, column totals, and N are slim re-aggregates
    // of that table (bounded: types × 4 cells), so all three joins
    // broadcast. Per-cell term in exact ppm:
    //   (O·N − RT·CT)² · 10⁶ div (N·RT·CT)
    // summed per event_type (both engines floor each cell before the
    // sum, so the order-insensitive integer sum matches exactly).
    // Decimal(38) holds (O·N)²·10⁶ up to N ≈ 3·10⁹ rows; a full 100 TB
    // run rescales counts to per-million shares first.
    QueryDef(
      "q164_chi_square",
      (s, dir) => {
        val cell = Tables.events(s, dir)
          .select(col("event_type"),
            expr(s"(ts_us div $HourUs) % 24 div 6").as("daypart"))
          .groupBy("event_type", "daypart")
          .agg(count(lit(1)).as("o"))
        val rt = cell.groupBy("event_type").agg(sum("o").as("rt"))
        val ct = cell.groupBy("daypart").agg(sum("o").as("ct"))
        val n = cell.agg(sum("o").as("n"))
        cell.join(broadcast(rt), "event_type")
          .join(broadcast(ct), "daypart")
          .crossJoin(broadcast(n))
          .withColumn("d",
            expr("cast(o AS DECIMAL(38,0)) * n - cast(rt AS DECIMAL(38,0)) * ct"))
          .withColumn("term_ppm",
            expr("""cast(d * d * 1000000
                         div (cast(n AS DECIMAL(38,0)) * rt * ct) AS BIGINT)"""))
          .groupBy("event_type")
          .agg(first("rt").as("n_type"), sum("term_ppm").as("chi2_term_ppm"))
          .orderBy("event_type")
      },
      Some(s"""
        WITH cell AS (
          SELECT event_type,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // $HourUs) % 24 // 6 AS daypart,
                 COUNT(*) AS o
          FROM events GROUP BY 1, 2),
        rt AS (SELECT event_type, SUM(o) AS rt FROM cell GROUP BY 1),
        ct AS (SELECT daypart, SUM(o) AS ct FROM cell GROUP BY 1),
        n AS (SELECT SUM(o) AS n FROM cell),
        t AS (
          SELECT cell.event_type, rt.rt AS rt,
                 (CAST(o AS HUGEINT) * n.n - CAST(rt.rt AS HUGEINT) * ct.ct) AS d,
                 CAST(n.n AS HUGEINT) * rt.rt * ct.ct AS denom
          FROM cell JOIN rt USING (event_type) JOIN ct USING (daypart), n)
        SELECT event_type, CAST(MIN(rt) AS BIGINT) AS n_type,
               CAST(SUM(d * d * 1000000 // denom) AS BIGINT) AS chi2_term_ppm
        FROM t GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q165
    // Simpson diversity of the language mix per document source — the
    // exact-rational twin of Shannon entropy (whose log2 is not
    // bit-reproducible across engines): the probability two draws
    // without replacement differ in language,
    //   1 − Σ cᵢ(cᵢ−1) / (N(N−1)),   in ppm.
    // A monoculture source scores 0; a perfectly mixed one approaches
    // 10⁶. One keyed (source, lang) count that reduces map-side, then a
    // bounded per-source rollup — nothing wide ever carries text.
    QueryDef(
      "q165_simpson_diversity",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum("c").as("n_docs"), count(lit(1)).as("n_langs"),
            sum(expr("c * (c - 1)")).as("same_pairs"))
          .filter(col("n_docs") > 1)
          .select(col("source"), col("n_docs"), col("n_langs"),
            expr("1000000 - same_pairs * 1000000 div (n_docs * (n_docs - 1))")
              .as("simpson_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH c AS (
          SELECT source, lang, COUNT(*) AS c
          FROM documents GROUP BY 1, 2),
        r AS (
          SELECT source, SUM(c) AS n_docs, COUNT(*) AS n_langs,
                 SUM(c * (c - 1)) AS same_pairs
          FROM c GROUP BY source)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_langs AS BIGINT) AS n_langs,
               CAST(1000000 - same_pairs * 1000000
                    // (n_docs * (n_docs - 1)) AS BIGINT) AS simpson_ppm
        FROM r WHERE n_docs > 1
        ORDER BY source""")),

    // --------------------------------------------------------------- q166
    // Two-sample Kolmogorov–Smirnov statistic, view vs purchase value
    // distributions — "did the distribution shift" with zero
    // distributional assumptions. D = max over x of |F₁(x) − F₂(x)| is
    // rational in the counts: with per-distinct-value deltas d₁,d₂ and
    // cumulative counts c₁,c₂, D·n₁·n₂ = max |c₁·n₂ − c₂·n₁| — all
    // integers. The cumulative step is the scale-critical part: a
    // global ORDER BY window would serialize every distinct value
    // through one task, so instead the deltas are range-partitioned by
    // value, each partition cumsums locally under a pid-KEYED window,
    // and a 32-row per-partition offset table (the only unkeyed window,
    // bounded at the partition count) broadcasts back on top — the q78
    // keyed-prefix-sum discipline applied to ECDFs.
    QueryDef(
      "q166_ks_test",
      (s, dir) => {
        viewPurchaseEcdf(s, dir)
          .select(col("n1"), col("n2"),
            abs(col("cum_d1") * col("n2")
              - col("cum_d2") * col("n1")).as("dnum"))
          .groupBy("n1", "n2").agg(max("dnum").as("d_num_max"))
          .select(col("n1"), col("n2"), col("d_num_max"),
            expr("d_num_max * 1000000 div (n1 * n2)").as("ks_ppm"))
      },
      Some("""
        WITH v AS (
          SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g1,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2
          FROM events WHERE event_type IN ('view', 'purchase')),
        cell AS (SELECT vc, SUM(g1) AS d1, SUM(g2) AS d2 FROM v GROUP BY vc),
        cum AS (
          SELECT SUM(d1) OVER (ORDER BY vc) AS c1,
                 SUM(d2) OVER (ORDER BY vc) AS c2
          FROM cell),
        tot AS (SELECT SUM(g1) AS n1, SUM(g2) AS n2 FROM v)
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num_max,
               CAST(MAX(ABS(c1 * n2 - c2 * n1)) * 1000000
                    // (n1 * n2) AS BIGINT) AS ks_ppm
        FROM cum, tot GROUP BY n1, n2""")),

    // --------------------------------------------------------------- q167
    // Total-variation distance between the first and second half of the
    // observation window — the distribution-drift number a corpus
    // monitor alarms on, exact where PSI/KL (which need logs) are not:
    //   TVD = ½ Σᵢ |c₁ᵢ/n₁ − c₂ᵢ/n₂|
    //       = Σᵢ |c₁ᵢ·n₂ − c₂ᵢ·n₁| div (2·n₁·n₂)   — rational in counts.
    // The midpoint comes from one (min,max) aggregate broadcast back; the
    // bucketed counts are ONE keyed aggregate ($50-wide value buckets,
    // bounded cardinality), so the final rollup is a single slim pass.
    QueryDef(
      "q167_tvd_drift",
      (s, dir) => {
        val ts = Tables.events(s, dir).select(col("ts_us"), cents.as("vc"))
        val mid = ts.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid_us"))
        val cell = ts.crossJoin(broadcast(mid)) // single-row scalar (q58/q71)
          .select(expr("vc div 5000").as("bucket"),
            when(col("ts_us") <= col("mid_us"), 1L).otherwise(0L).as("g1"),
            when(col("ts_us") > col("mid_us"), 1L).otherwise(0L).as("g2"))
          .groupBy("bucket").agg(sum("g1").as("c1"), sum("g2").as("c2"))
        val tot = cell.agg(sum("c1").as("n1"), sum("c2").as("n2"))
        cell.crossJoin(broadcast(tot))
          .groupBy("n1", "n2")
          .agg(sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("num"))
          .select(col("n1"), col("n2"),
            expr("num * 1000000 div (2 * n1 * n2)").as("tvd_ppm"))
      },
      Some("""
        WITH e AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        m AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM e),
        cell AS (
          SELECT vc // 5000 AS bucket,
                 SUM(CASE WHEN ts_us <= mid_us THEN 1 ELSE 0 END) AS c1,
                 SUM(CASE WHEN ts_us > mid_us THEN 1 ELSE 0 END) AS c2
          FROM e, m GROUP BY 1),
        tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM cell)
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(SUM(ABS(c1 * n2 - c2 * n1)) * 1000000
                    // (2 * n1 * n2) AS BIGINT) AS tvd_ppm
        FROM cell, tot GROUP BY n1, n2""")),

    // --------------------------------------------------------------- q168
    // Benford first-digit audit of order totals — the classic anomaly
    // screen over financial-looking columns. The expected shares are the
    // nine log₁₀(1+1/d) constants PINNED as integer ppm literals in BOTH
    // engines (they sum to exactly 10⁶), so no engine evaluates a log and
    // the comparison stays bit-exact. One keyed digit count (9 groups,
    // map-side reduced), then a broadcast join against the 9-row
    // constant table.
    QueryDef(
      "q168_benford_audit",
      (s, dir) => {
        import s.implicits._
        val benford = Seq(
          (1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L),
          (5L, 79181L), (6L, 66947L), (7L, 57992L), (8L, 51153L),
          (9L, 45757L)).toDF("digit", "benford_ppm")
        val d = Tables(s, dir, "orders")
          .select(expr(
            """cast(substring(cast(cast(cast(o_totalprice AS DECIMAL(12,2)) * 100
                 AS BIGINT) AS STRING), 1, 1) AS BIGINT)""").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("c"))
        val tot = d.agg(sum("c").as("n"))
        d.crossJoin(broadcast(tot))
          .join(broadcast(benford), "digit")
          .select(col("digit"), col("c").as("n_orders"),
            expr("c * 1000000 div n").as("obs_ppm"), col("benford_ppm"),
            expr("abs(c * 1000000 div n - benford_ppm)").as("dev_ppm"))
          .orderBy("digit")
      },
      Some("""
        WITH b(digit, benford_ppm) AS (VALUES
          (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
          (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        d AS (
          SELECT CAST(SUBSTRING(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                     * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                 COUNT(*) AS c
          FROM orders GROUP BY 1),
        t AS (SELECT SUM(c) AS n FROM d)
        SELECT digit, CAST(c AS BIGINT) AS n_orders,
               CAST(c * 1000000 // n AS BIGINT) AS obs_ppm,
               CAST(benford_ppm AS BIGINT) AS benford_ppm,
               CAST(ABS(c * 1000000 // n - benford_ppm) AS BIGINT) AS dev_ppm
        FROM d JOIN b USING (digit), t
        ORDER BY digit""")),

    // --------------------------------------------------------------- q171
    // Mann–Whitney U (rank-sum), view vs purchase values — the
    // nonparametric "is one sample stochastically larger" companion to
    // q166's KS, exact through tie-averaged ranks by carrying DOUBLED
    // ranks (a tie-average is a half-integer; ×2 keeps everything in
    // BIGINT): with per-distinct-value deltas d₁,d₂, combined ties
    // d = d₁+d₂ and exclusive below-count b,
    //   2·R₁ = Σ d₁·(2b + d + 1),   2·U₁ = 2·R₁ − n₁(n₁+1),
    // and the effect size (AUC = U₁/n₁n₂) lands in exact ppm. The
    // below-counts ride the same range-partitioned two-pass prefix sum
    // as q166 — per-pid keyed cumsums plus a 32-row offset table, never
    // a global-order window.
    QueryDef(
      "q171_mann_whitney",
      (s, dir) => {
        // exclusive below-count from the inclusive prefix sums:
        //   b = (cum_d1 − d1) + (cum_d2 − d2)
        viewPurchaseEcdf(s, dir)
          .groupBy("n1", "n2")
          .agg(sum(expr(
            "d1 * (2 * (cum_d1 + cum_d2 - d1 - d2) + d1 + d2 + 1)"))
            .as("r1_x2"))
          .select(col("n1"), col("n2"),
            expr("r1_x2 - n1 * (n1 + 1)").as("u1_x2"),
            expr("(r1_x2 - n1 * (n1 + 1)) * 1000000 div (2 * n1 * n2)")
              .as("auc_ppm"))
      },
      Some("""
        WITH v AS (
          SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g1,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2
          FROM events WHERE event_type IN ('view', 'purchase')),
        cell AS (SELECT vc, SUM(g1) AS d1, SUM(g2) AS d2 FROM v GROUP BY vc),
        cum AS (
          SELECT vc, d1, d2,
                 COALESCE(SUM(d1 + d2) OVER (ORDER BY vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
          FROM cell),
        r AS (SELECT SUM(d1 * (2 * b + d1 + d2 + 1)) AS r1_x2 FROM cum),
        tot AS (SELECT SUM(g1) AS n1, SUM(g2) AS n2 FROM v)
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST((r1_x2 - n1 * (n1 + 1)) * 1000000
                    // (2 * n1 * n2) AS BIGINT) AS auc_ppm
        FROM r, tot""")),

    // --------------------------------------------------------------- q173
    // Lag-1 autocorrelation of the daily volume series per event type —
    // "is today's traffic predicted by yesterday's", the signal a
    // capacity planner reads before trusting a forecast. Exact by
    // clearing the mean's denominator: with daily counts x_t, N days
    // and S = Σx, the centered products scale by N²:
    //   num = Σ (N·xₜ − S)(N·xₜ₊₁ − S),  den = Σ (N·xₜ − S)²,
    // and |num| ≤ den (Cauchy–Schwarz), so the PERSISTENCE score
    // (1+ρ)/2 = (num + den) / (2·den) is non-negative — truncating
    // div/ // agree. Accumulators in decimal(38,0) ↔ HUGEINT. The lead
    // and both aggregates ride one event_type exchange; the daily
    // series is the only thing that moves.
    QueryDef(
      "q173_autocorrelation",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("x_next", lead("x", 1).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), sum("x").as("s"),
            sum(expr("cast(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("cast(x AS DECIMAL(38,0)) * x_next")).as("sxy"),
            sum(when(col("x_next").isNotNull, col("x"))).as("sx_head"),
            sum(when(col("x_next").isNotNull, col("x_next"))).as("sx_tail"),
            sum(when(col("x_next").isNotNull, lit(1L))).as("n_pairs"))
          .select(col("event_type"), col("n_days"), col("s").as("n_events"),
            // num = N²·Σxy − N·S·(Σx_head + Σx_tail) + pairs·S²
            // den = N²·Σx² − 2·N·S·S + N·S² = N²·Σx² − N·S²
            expr("""cast(((cast(n_days AS DECIMAL(38,0)) * n_days * sxy
                            - n_days * s * (sx_head + sx_tail)
                            + n_pairs * cast(s AS DECIMAL(38,0)) * s)
                          + (cast(n_days AS DECIMAL(38,0)) * n_days * sxx
                            - n_days * cast(s AS DECIMAL(38,0)) * s)) * 1000000
                         div (2 * (cast(n_days AS DECIMAL(38,0)) * n_days * sxx
                                   - n_days * cast(s AS DECIMAL(38,0)) * s))
                    AS BIGINT)""").as("persistence_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        l AS (
          SELECT event_type, x,
                 lead(x) OVER (PARTITION BY event_type ORDER BY day) AS x_next
          FROM daily),
        a AS (
          SELECT event_type,
                 CAST(COUNT(*) AS HUGEINT) AS n_days,
                 CAST(SUM(x) AS HUGEINT) AS s,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(x AS HUGEINT) * x_next) AS HUGEINT) AS sxy,
                 CAST(SUM(CASE WHEN x_next IS NOT NULL THEN x END)
                   AS HUGEINT) AS sx_head,
                 CAST(SUM(CASE WHEN x_next IS NOT NULL THEN x_next END)
                   AS HUGEINT) AS sx_tail,
                 CAST(SUM(CASE WHEN x_next IS NOT NULL THEN 1 END)
                   AS HUGEINT) AS n_pairs
          FROM l GROUP BY 1)
        SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
               CAST(s AS BIGINT) AS n_events,
               CAST(((n_days * n_days * sxy
                       - n_days * s * (sx_head + sx_tail)
                       + n_pairs * s * s)
                     + (n_days * n_days * sxx - n_days * s * s)) * 1000000
                    // (2 * (n_days * n_days * sxx - n_days * s * s))
                 AS BIGINT) AS persistence_ppm
        FROM a
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q174
    // Wald–Wolfowitz runs test per event type — "does the daily series
    // wander (trend/regimes) or flip like noise": the daily counts
    // binarize against their LOWER MEDIAN (the ⌈N/2⌉-th smallest —
    // exact, no interpolation), the observed run count is 1 + the
    // number of sign changes (one lag over the day order), and the
    // expected run count under randomness, 1 + 2·n₀·n₁/(n₀+n₁), lands
    // in exact ppm. Three keyed windows (rank, the median pick, the
    // lag) all ride one event_type exchange over the bounded daily
    // table — the raw events reduce to ~30 rows per type map-side
    // before any window runs.
    QueryDef(
      "q174_runs_test",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
        val wRank = Window.partitionBy("event_type")
          .orderBy(col("x"), col("day"))
        val wTot = Window.partitionBy("event_type")
        val wDay = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("rk", row_number().over(wRank))
          .withColumn("n", count(lit(1)).over(wTot))
          // lower median value broadcast within the type partition
          .withColumn("med",
            max(when(col("rk") === expr("(n + 1) div 2"), col("x"))).over(wTot))
          .withColumn("above", (col("x") > col("med")).cast("long"))
          .withColumn("prev", lag("above", 1).over(wDay))
          .groupBy("event_type")
          .agg(sum("above").as("n_above"),
            sum(lit(1L) - col("above")).as("n_below"),
            (sum(when(col("prev").isNotNull
              && col("prev") =!= col("above"), 1L).otherwise(0L)) + 1L)
              .as("runs"))
          .select(col("event_type"), col("n_above"), col("n_below"), col("runs"),
            expr("""1000000 + 2 * n_above * n_below * 1000000
                    div (n_above + n_below)""").as("expected_runs_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        r AS (
          SELECT event_type, day, x,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY x, day) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM daily),
        m AS (
          SELECT event_type, x AS med FROM r WHERE rk = (n + 1) // 2),
        b AS (
          SELECT r.event_type, r.day,
                 CASE WHEN r.x > m.med THEN 1 ELSE 0 END AS above
          FROM r JOIN m ON r.event_type = m.event_type),
        l AS (
          SELECT event_type, above,
                 lag(above) OVER (PARTITION BY event_type
                                  ORDER BY day) AS prev
          FROM b)
        SELECT event_type,
               CAST(SUM(above) AS BIGINT) AS n_above,
               CAST(SUM(1 - above) AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> above
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs,
               CAST(1000000 + 2 * SUM(above) * SUM(1 - above) * 1000000
                    // (SUM(above) + SUM(1 - above)) AS BIGINT)
                 AS expected_runs_ppm
        FROM l GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q182
    // Aggregate-function breadth — the long tail of SQL aggregates a
    // warehouse migration trips over: deterministic mode (ties resolve
    // to the LOWEST value — `mode(vc, true)`), exact median surfaced as
    // 2·median (the midpoint of two BIGINTs times two is again a
    // BIGINT, so no float ever reaches the gate), discrete 25th
    // percentile (smallest value with cume_dist ≥ 0.25 — pinned by
    // that definition in the oracle rather than trusting two engines'
    // quantile_disc to agree), count_if, bool_and/bool_or, and the
    // bitwise aggregate trio over user_id. One keyed aggregate, one
    // exchange; every function partial-aggregates map-side except the
    // sort-based percentiles, whose per-group state is bounded by the
    // distinct-cents cardinality.
    QueryDef(
      "q182_agg_breadth",
      (s, dir) => {
        Tables.events(s, dir)
          .select(col("event_type"), col("user_id"), cents.as("vc"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            expr("mode(vc, true)").as("mode_cents"),
            expr("cast(median(vc) * 2 AS BIGINT)").as("median_x2"),
            expr("cast(percentile_disc(0.25) within group (order by vc) AS BIGINT)")
              .as("p25_cents"),
            expr("count_if(vc > 50000)").as("n_hi"),
            expr("bool_and(vc >= 0)").as("all_nonneg"),
            expr("bool_or(vc > 99000)").as("any_big"),
            expr("bit_and(user_id)").as("uid_and"),
            expr("bit_or(user_id)").as("uid_or"),
            expr("bit_xor(user_id)").as("uid_xor"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, user_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        base AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(2 * median(vc) AS BIGINT) AS median_x2,
                 CAST(count_if(vc > 50000) AS BIGINT) AS n_hi,
                 bool_and(vc >= 0) AS all_nonneg,
                 bool_or(vc > 99000) AS any_big,
                 CAST(bit_and(user_id) AS BIGINT) AS uid_and,
                 CAST(bit_or(user_id) AS BIGINT) AS uid_or,
                 CAST(bit_xor(user_id) AS BIGINT) AS uid_xor
          FROM e GROUP BY event_type),
        freq AS (
          SELECT event_type, vc, COUNT(*) AS c,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY COUNT(*) DESC, vc ASC) AS rk
          FROM e GROUP BY event_type, vc),
        md AS (SELECT event_type, vc AS mode_cents FROM freq WHERE rk = 1),
        rnk AS (
          SELECT event_type, vc,
                 cume_dist() OVER (PARTITION BY event_type ORDER BY vc) AS cd
          FROM e),
        p25 AS (
          SELECT event_type, CAST(MIN(vc) AS BIGINT) AS p25_cents
          FROM rnk WHERE cd >= 0.25 GROUP BY event_type)
        SELECT b.event_type, n, mode_cents, median_x2, p25_cents, n_hi,
               all_nonneg, any_big, uid_and, uid_or, uid_xor
        FROM base b
        JOIN md USING (event_type)
        JOIN p25 USING (event_type)
        ORDER BY b.event_type""")),

    // --------------------------------------------------------------- q183
    // Mann–Kendall trend test per event type — the standard
    // monotonic-trend detector for daily operational series (is volume
    // drifting up, down, or stable). S = Σ_{i<j} sign(x_j − x_i) over
    // the day-ordered daily counts; the tie-corrected variance is kept
    // as VAR·18 = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) so everything
    // stays integer, and the 5% two-sided normal test |S| > 1.96·√Var
    // is decided by the equivalent square comparison
    // 180000·S² > 38416·(VAR·18) — no sqrt, no float, same verdict.
    // Scale shape: the raw events reduce to one bounded daily row per
    // (type, day) map-side; the pairwise join runs over that daily
    // table only, whose length is calendar days — it does NOT grow
    // with data volume, so the O(days²) pair stage is a constant-sized
    // tail on a 100 TB scan.
    QueryDef(
      "q183_mann_kendall",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = daily.select(col("event_type"), col("day"), col("x"))
        val b = daily.select(col("event_type").as("et2"),
          col("day").as("day2"), col("x").as("x2"))
        val sStat = a.join(b,
            col("event_type") === col("et2") && col("day") < col("day2"))
          .groupBy("event_type")
          .agg(sum(expr("cast(sign(x2 - x) AS BIGINT)")).as("s_stat"))
        val ties = daily.groupBy("event_type", "x")
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_levels"),
            sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
            sum("t").as("n_days"))
        sStat.join(ties, "event_type")
          .select(col("event_type"), col("n_days"), col("s_stat"),
            expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term")
              .as("var18"))
          .withColumn("trend", expr("""
            CASE WHEN 180000 * s_stat * s_stat > 38416 * var18
                 THEN CASE WHEN s_stat > 0 THEN 'increasing'
                           ELSE 'decreasing' END
                 ELSE 'no_trend' END"""))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        s AS (
          SELECT a.event_type,
                 CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1 ELSE 0 END)
                   AS BIGINT) AS s_stat
          FROM daily a
          JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY a.event_type),
        t AS (
          SELECT event_type, x, COUNT(*) AS t FROM daily GROUP BY 1, 2),
        v AS (
          SELECT event_type,
                 CAST(SUM(t) AS BIGINT) AS n_days,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
          FROM t GROUP BY event_type)
        SELECT s.event_type, v.n_days, s.s_stat,
               CAST(v.n_days * (v.n_days - 1) * (2 * v.n_days + 5)
                    - v.tie_term AS BIGINT) AS var18,
               CASE WHEN 180000 * s.s_stat * s.s_stat >
                         38416 * (v.n_days * (v.n_days - 1) * (2 * v.n_days + 5)
                                  - v.tie_term)
                    THEN CASE WHEN s.s_stat > 0 THEN 'increasing'
                              ELSE 'decreasing' END
                    ELSE 'no_trend' END AS trend
        FROM s JOIN v ON s.event_type = v.event_type
        ORDER BY s.event_type""")),

    // --------------------------------------------------------------- q184
    // EWMA volume anomaly scoring in exact dyadic arithmetic — the
    // capacity-alarm primitive: each day's count is compared to an
    // exponentially weighted average of the 20 PRIOR days with decay
    // α = 1/2. Scaling the weights to integers (lag i gets 2^(20−i))
    // makes the forecast a ratio of two BIGINTs: forecast_num =
    // Σ x_{t−i}·2^(20−i), weight_sum = Σ 2^(20−i) over the lags that
    // exist, so the deviation ratio x·weight_sum·10⁶ ÷ forecast_num is
    // exact ppm in both engines — no float decay powers, no drift.
    // Days with a calendar gap simply contribute no weight (the ratio
    // denominators track the lags actually present). Scale shape: the
    // daily rollup is the only pass over raw data; the 20-lag
    // band-join fans the bounded daily table out ≤20× map-side.
    QueryDef(
      "q184_ewma_anomaly",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prior = daily.select(col("event_type").as("et2"),
          col("day").as("pday"), col("x").as("px"))
        daily.join(prior,
            col("event_type") === col("et2")
              && col("pday") >= col("day") - 20 && col("pday") <= col("day") - 1)
          .groupBy("event_type", "day", "x")
          .agg(sum(expr("px * shiftleft(1L, cast(20 - (day - pday) AS INT))"))
              .as("forecast_num"),
            sum(expr("shiftleft(1L, cast(20 - (day - pday) AS INT))"))
              .as("weight_sum"))
          .select(col("event_type"), col("day"), col("x"),
            col("forecast_num"), col("weight_sum"),
            // DECIMAL(38) not BIGINT: x·wsum·10⁶ passes 2⁶³ once a type
            // sees ~4.4M events/day — dormant at test SFs, fatal at 100 TB
            expr("""cast(cast(x AS DECIMAL(38,0)) * weight_sum * 1000000
                         div forecast_num AS BIGINT)""").as("ratio_ppm"))
          .withColumn("status", expr("""
            CASE WHEN ratio_ppm > 2000000 THEN 'spike'
                 WHEN ratio_ppm < 500000 THEN 'dip'
                 ELSE 'normal' END"""))
          .orderBy("event_type", "day")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        j AS (
          SELECT d.event_type, d.day, d.x,
                 CAST(SUM(p.x * (1::BIGINT << CAST(20 - (d.day - p.day) AS INT)))
                   AS BIGINT) AS forecast_num,
                 CAST(SUM(1::BIGINT << CAST(20 - (d.day - p.day) AS INT))
                   AS BIGINT) AS weight_sum
          FROM daily d
          JOIN daily p ON p.event_type = d.event_type
                      AND p.day BETWEEN d.day - 20 AND d.day - 1
          GROUP BY d.event_type, d.day, d.x)
        SELECT event_type, day, x, forecast_num, weight_sum,
               CAST(CAST(x AS HUGEINT) * weight_sum * 1000000
                    // forecast_num AS BIGINT) AS ratio_ppm,
               CASE WHEN CAST(x AS HUGEINT) * weight_sum * 1000000
                         // forecast_num > 2000000
                    THEN 'spike'
                    WHEN CAST(x AS HUGEINT) * weight_sum * 1000000
                         // forecast_num < 500000
                    THEN 'dip'
                    ELSE 'normal' END AS status
        FROM j
        ORDER BY event_type, day""")),

    // --------------------------------------------------------------- q199
    // Deterministic global sequence numbers — the distributed
    // zipWithIndex: every event gets a dense 1..N rank in total
    // (ts_us, event_id) order WITHOUT a global-ORDER window (which
    // serializes N rows through one task) and WITHOUT
    // monotonically_increasing_id (which is neither dense nor
    // order-stable). Same two-pass shape as `prefixSums`, widened to a
    // composite order: range-partition on BOTH order columns (ties
    // split across partitions still rank correctly — the intra row_number
    // uses the full key), row_number inside each pid, then add the
    // 32-row broadcast per-partition offset table. localCheckpoint pins
    // the pid assignment so both passes see one partitioning. Every
    // 199th id is emitted as the audit sample; the rank of those rows
    // still depends on EVERY row, so a drop or reorder anywhere moves
    // some sampled seq.
    QueryDef(
      "q199_global_sequence",
      (s, dir) => {
        val ranged = Tables.events(s, dir)
          .select(col("event_id"), col("ts_us"))
          .repartitionByRange(32, col("ts_us"), col("event_id"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint()
        val wIntra = Window.partitionBy("pid").orderBy("ts_us", "event_id")
        val intra = ranged
          .withColumn("local_seq", row_number().over(wIntra).cast("long"))
        val wOff = Window.orderBy("pid") // ≤ shuffle-partition-count rows
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = ranged.groupBy("pid").agg(count(lit(1)).as("c"))
          .withColumn("o", coalesce(sum("c").over(wOff), lit(0L)))
          .select("pid", "o")
        intra.join(broadcast(off), "pid")
          .select(col("event_id"), col("ts_us"),
            (col("o") + col("local_seq")).as("seq"))
          .filter(col("event_id") % 199 === 0)
          .orderBy("seq")
      },
      Some("""
        WITH r AS (
          SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 row_number() OVER (ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                    event_id) AS seq
          FROM events)
        SELECT event_id, ts_us, CAST(seq AS BIGINT) AS seq
        FROM r WHERE event_id % 199 = 0
        ORDER BY seq""")),

    // --------------------------------------------------------------- q201
    // Two-proportion significance test — the statistical backbone of an
    // A/B readout (q133 reports lift; this decides whether a lift is
    // real): for every user-cohort pair (cohorts by user_id mod 4, the
    // deterministic assignment), the pooled two-proportion z-test on
    // click→purchase conversion is decided ENTIRELY in integers via the
    // cross-multiplied square comparison
    //   10000·(k₁n₂ − k₂n₁)²·N  >  38416·n₁n₂·K·(N−K)
    // (z² > 1.96², N = n₁+n₂, K = k₁+k₂) — no division, no sqrt, no
    // float; DECIMAL(38)/HUGEINT accumulators carry the ~10²⁹ products.
    // Scale shape: conversions reduce per cohort map-side to a 4-row
    // frame; the pairwise stage is a broadcast theta-join over that
    // bounded frame.
    QueryDef(
      "q201_proportion_test",
      (s, dir) => {
        val conv = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(expr("user_id % 4").as("cohort"))
          .agg(expr("count_if(event_type = 'click')").as("n"),
            expr("count_if(event_type = 'purchase')").as("k"))
        conv.as("a").join(broadcast(conv.as("b")),
            col("a.cohort") < col("b.cohort"))
          .select(col("a.cohort").as("c1"), col("b.cohort").as("c2"),
            col("a.n").as("n1"), col("a.k").as("k1"),
            col("b.n").as("n2"), col("b.k").as("k2"))
          .withColumn("rate1_ppm", expr("k1 * 1000000 div n1"))
          .withColumn("rate2_ppm", expr("k2 * 1000000 div n2"))
          .withColumn("significant", expr(
            """10000 * cast(k1 * cast(n2 AS DECIMAL(38,0)) - k2 * n1 AS DECIMAL(38,0))
                     * (k1 * cast(n2 AS DECIMAL(38,0)) - k2 * n1) * (n1 + n2)
               > 38416 * cast(n1 AS DECIMAL(38,0)) * n2 * (k1 + k2)
                       * (n1 + n2 - k1 - k2)"""))
          .orderBy("c1", "c2")
      },
      Some("""
        WITH conv AS (
          SELECT user_id % 4 AS cohort,
                 CAST(count_if(event_type = 'click') AS BIGINT) AS n,
                 CAST(count_if(event_type = 'purchase') AS BIGINT) AS k
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1)
        SELECT a.cohort AS c1, b.cohort AS c2,
               a.n AS n1, a.k AS k1, b.n AS n2, b.k AS k2,
               CAST(a.k * 1000000 // a.n AS BIGINT) AS rate1_ppm,
               CAST(b.k * 1000000 // b.n AS BIGINT) AS rate2_ppm,
               10000 * (a.k * CAST(b.n AS HUGEINT) - b.k * a.n)
                     * (a.k * CAST(b.n AS HUGEINT) - b.k * a.n) * (a.n + b.n)
                 > 38416 * CAST(a.n AS HUGEINT) * b.n * (a.k + b.k)
                         * (a.n + b.n - a.k - b.k) AS significant
        FROM conv a JOIN conv b ON a.cohort < b.cohort
        ORDER BY c1, c2""")),

    // --------------------------------------------------------------- q221
    // CUPED variance-reduction audit — the experimentation-platform
    // step that decides whether pre-period covariates are worth wiring
    // into an A/B readout: using each user's FIRST-15-days spend as the
    // covariate x for their LAST-15-days metric y, CUPED's achievable
    // variance reduction is exactly ρ², and ρ² is RATIONAL in the
    // sums — ppm = (n·Σxy − ΣxΣy)²·10⁶ div ((n·Σx² − (Σx)²)·(n·Σy² −
    // (Σy)²)) with every product carried in DECIMAL(38)/HUGEINT (the
    // cross terms reach ~10³² at fixture scale). No float covariance
    // ever computed, so the engines agree bit-for-bit. One user-keyed
    // rollup per period riding a single exchange; the per-cohort
    // moment aggregation partial-combines map-side.
    QueryDef(
      "q221_cuped_audit",
      (s, dir) => {
        val spine = Tables.events(s, dir)
          .select(col("user_id"), cents.as("vc"),
            expr("ts_us div 86400000000").as("day"))
        val cut = spine.agg((min("day") + 15L).as("cut"))
        val per = spine.crossJoin(broadcast(cut))
          .groupBy("user_id")
          // whole DOLLARS, not cents: the squared-covariance cross terms
          // reach ~10^36 in cents at sf0.1 — one SF step from silently
          // nulling Spark's DECIMAL(38) while DuckDB's HUGEINT errors;
          // the ratio is scale-invariant and trunc-div agrees engine-wise
          .agg(expr("""sum(CASE WHEN day < cut THEN vc ELSE 0 END) div 100""")
              .as("x"),
            expr("""sum(CASE WHEN day >= cut THEN vc ELSE 0 END) div 100""")
              .as("y"))
          .withColumn("cohort", expr("user_id % 2"))
        per.groupBy("cohort")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("cast(y AS DECIMAL(38,0))")).as("sy"),
            sum(expr("cast(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("cast(y AS DECIMAL(38,0)) * y")).as("syy"),
            sum(expr("cast(x AS DECIMAL(38,0)) * y")).as("sxy"))
          .select(col("cohort"), col("n"),
            col("sx").cast("long").as("pre_dollars"),
            col("sy").cast("long").as("post_dollars"),
            // nullif: an all-equal covariate cohort zeroes a variance term;
            // both engines must yield NULL, not a DuckDB div-by-zero abort
            expr("""cast((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                         div nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
                    AS BIGINT)""").as("var_reduction_ppm"))
          .orderBy("cohort")
      },
      Some("""
        WITH spine AS (
          SELECT user_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events),
        cut AS (SELECT MIN(day) + 15 AS cut FROM spine),
        per AS (
          SELECT user_id, user_id % 2 AS cohort,
                 CAST(SUM(CASE WHEN day < cut THEN vc ELSE 0 END) // 100
                   AS HUGEINT) AS x,
                 CAST(SUM(CASE WHEN day >= cut THEN vc ELSE 0 END) // 100
                   AS HUGEINT) AS y
          FROM spine CROSS JOIN cut
          GROUP BY user_id),
        m AS (
          SELECT cohort, CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy,
                 SUM(x * y) AS sxy
          FROM per GROUP BY cohort)
        SELECT CAST(cohort AS BIGINT) AS cohort, CAST(n AS BIGINT) AS n,
               CAST(sx AS BIGINT) AS pre_dollars,
               CAST(sy AS BIGINT) AS post_dollars,
               CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                    // nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0)
                 AS BIGINT) AS var_reduction_ppm
        FROM m
        ORDER BY cohort""")),

    // --------------------------------------------------------------- q227
    // Same-weekday seasonal anomaly — q184's EWMA flags drift against
    // the recent past; this flags against the SEASONAL baseline (a
    // quiet Sunday is normal, a quiet Tuesday is an incident): each
    // (type, day)'s volume is scored against the mean of all days
    // sharing its weekday (day-index mod 7 — baseline includes the day
    // itself, the simple population form, stated as such), with the
    // deviation ratio x·cnt·10⁶ div sum exact in integers. Two keyed
    // aggregates riding the (type, dow) key; the bounded baseline
    // table broadcasts back.
    QueryDef(
      "q227_weekday_anomaly",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("dow", expr("day % 7"))
        val base = daily.groupBy("event_type", "dow")
          .agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
        daily.join(broadcast(base), Seq("event_type", "dow"))
          .select(col("event_type"), col("day"), col("dow"), col("x"),
            // DECIMAL(38) numerator: x·cnt·10⁶ wraps BIGINT silently at
            // large scale in non-ANSI Spark while DuckDB errors (q184's
            // 'dormant at test SFs, fatal at 100 TB' class)
            expr("cast(cast(x AS DECIMAL(38,0)) * cnt * 1000000 div sx AS BIGINT)")
              .as("ratio_ppm"))
          .withColumn("verdict", expr("""
            CASE WHEN ratio_ppm > 1500000 THEN 'high'
                 WHEN ratio_ppm < 500000 THEN 'low'
                 ELSE 'normal' END"""))
          .orderBy("event_type", "day")
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        d AS (SELECT *, day % 7 AS dow FROM daily),
        base AS (
          SELECT event_type, dow, CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM d GROUP BY 1, 2)
        SELECT d.event_type, d.day, d.dow, d.x,
               CAST(CAST(d.x AS HUGEINT) * base.cnt * 1000000 // base.sx
                 AS BIGINT) AS ratio_ppm,
               CASE WHEN CAST(d.x AS HUGEINT) * base.cnt * 1000000 // base.sx
                         > 1500000
                    THEN 'high'
                    WHEN CAST(d.x AS HUGEINT) * base.cnt * 1000000 // base.sx
                         < 500000
                    THEN 'low'
                    ELSE 'normal' END AS verdict
        FROM d JOIN base
          ON d.event_type = base.event_type AND d.dow = base.dow
        ORDER BY d.event_type, d.day"""))
  ,

    // --------------------------------------------------------------- q310
    // Deterministic hash-bootstrap confidence intervals — the
    // uncertainty band a profiling dashboard needs around every
    // per-source point estimate, made ENGINE-REPRODUCIBLE: instead of
    // RNG resampling (which no two engines or reruns agree on), each
    // (doc, replica) pair draws its multiplicity from the md5 content
    // coin — w = digest % 3 ∈ {0,1,2}, mean 1 (a bounded stand-in for
    // the Poisson(1) bootstrap weight; variance 2/3 vs 1, so bands run
    // ~18% narrow — stated, the price of determinism). B = 16
    // replicas of the per-source mean-TTR estimate; the CI is the
    // exact [2nd smallest, 2nd largest] order-statistic pair (~87.5%
    // nominal central coverage at B = 16, stated). 100 TB shape: the
    // replica explode is a CONSTANT ×16 narrow fan-out feeding one
    // keyed aggregate — the one-pass Poisson-bootstrap plan, no
    // per-replica corpus scans; the order-statistic windows run on the
    // 16-row-per-source replica frame.
    QueryDef(
      "q310_hash_bootstrap_ci",
      (s, dir) => {
        val t = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("""size(array_distinct(filter(split(text, ' '),
                      w -> w <> ''))) * 1000000
                    div size(filter(split(text, ' '), w -> w <> ''))""")
              .as("ttr_ppm"))
        val est = t.groupBy("source")
          .agg(expr("sum(ttr_ppm) div count(1)").as("est_ppm"))
        val reps = t.select(col("doc_id"), col("source"), col("ttr_ppm"),
            explode(expr("sequence(1, 16)")).as("r"))
          .withColumn("w", expr(
            """cast(conv(substr(md5(concat(cast(doc_id AS string), ':',
                 cast(r AS string))), 1, 15), 16, 10) AS BIGINT) % 3"""))
          .groupBy("source", "r")
          .agg(expr("sum(w * ttr_ppm) div nullif(sum(w), 0)").as("bt"))
        // ADVICE r9: a replica with sum(w)=0 yields NULL bt (prob 3^-n
        // per replica) — Spark's ascending sort puts NULLs FIRST while
        // DuckDB's default is NULLS LAST, so the rank-2/rank-15 CI
        // endpoints would diverge for very small sources. Pin NULLS
        // LAST on BOTH sides so the engines pick identical order
        // statistics at every corpus size.
        val wSrc = Window.partitionBy("source")
          .orderBy(col("bt").asc_nulls_last, col("r"))
        val ranked = reps
          .withColumn("rk", row_number().over(wSrc).cast("long"))
        ranked.filter(col("rk") === 2L)
          .select(col("source"), col("bt").as("boot_lo_ppm"))
          .join(ranked.filter(col("rk") === 15L)
            .select(col("source"), col("bt").as("boot_hi_ppm")), "source")
          .join(est, "source")
          .select(col("source"), col("est_ppm"),
            col("boot_lo_ppm"), col("boot_hi_ppm"),
            expr("(boot_hi_ppm - boot_lo_ppm) div 2").as("half_width_ppm"),
            lit(16L).as("n_replicas"))
          .orderBy("source")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) * 1000000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS ttr_ppm
          FROM documents),
        est AS (
          SELECT source,
                 CAST(SUM(ttr_ppm) AS BIGINT) // COUNT(*) AS est_ppm
          FROM t GROUP BY source),
        reps AS (
          SELECT source, r,
                 CAST(SUM(w * ttr_ppm) AS BIGINT)
                   // nullif(CAST(SUM(w) AS BIGINT), 0) AS bt
          FROM (SELECT doc_id, source, ttr_ppm,
                       unnest(range(1, 17)) AS r
                FROM t) x,
               LATERAL (SELECT CAST(concat('0x',
                   substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
                     CAST(r AS VARCHAR))), 1, 15)) AS BIGINT) % 3 AS w) h
          GROUP BY source, r),
        rk AS (
          SELECT source, r, bt,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY bt NULLS LAST, r) AS BIGINT) AS rk
          FROM reps)
        SELECT lo.source AS source, est.est_ppm,
               lo.bt AS boot_lo_ppm, hi.bt AS boot_hi_ppm,
               CAST((hi.bt - lo.bt) // 2 AS BIGINT) AS half_width_ppm,
               CAST(16 AS BIGINT) AS n_replicas
        FROM (SELECT source, bt FROM rk WHERE rk = 2) lo
        JOIN (SELECT source, bt FROM rk WHERE rk = 15) hi USING (source)
        JOIN est USING (source)
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q314
    // Adjusted Rand index — the chance-corrected clustering-agreement
    // statistic (Hubert–Arabie): does an UNSUPERVISED partition of the
    // embedding space recover the ground-truth labels? Clusters come
    // from the axis-aligned 3-bit sign signature (SimHash on raw axes
    // — floats are only COMPARED to zero, never folded into
    // arithmetic, so determinism survives); ARI is pure pair-counting
    // algebra over the bounded clusters × labels contingency grid:
    // ARI = 2(I·C − ΣA·ΣB) / (C(ΣA+ΣB) − 2·ΣA·ΣB) with I = ΣC(n_ij,2),
    // C = C(n,2) — every C(x,2) exact (consecutive product, even),
    // the n⁴-scale cross terms routed through DECIMAL(38) ↔ HUGEINT,
    // the one signed quantity split into sign·(|num| div den) so both
    // engines truncate identically, and the unadjusted Rand index
    // reported beside it (its numerator is a pair count, never
    // negative). Shape: one keyed cell aggregate compresses the
    // corpus; all index algebra runs on the ≤ 8 × labels grid.
    QueryDef(
      "q314_adjusted_rand",
      (s, dir) => {
        val cells = Tables(s, dir, "embeddings")
          .select(col("label").cast("long").as("lbl"),
            expr("""CASE WHEN element_at(embedding, 1) > 0 THEN 4L
                         ELSE 0L END
                    + CASE WHEN element_at(embedding, 2) > 0 THEN 2L
                           ELSE 0L END
                    + CASE WHEN element_at(embedding, 3) > 0 THEN 1L
                           ELSE 0L END""").as("cl"))
          .groupBy("cl", "lbl").agg(count(lit(1)).as("nij"))
        val stats = cells.agg(sum("nij").as("n"),
          countDistinct("cl").as("n_clusters"),
          countDistinct("lbl").as("n_labels"),
          sum(expr("nij * (nij - 1) div 2")).as("idx"))
        val sa = cells.groupBy("cl").agg(sum("nij").as("a"))
          .agg(sum(expr("a * (a - 1) div 2")).as("sa"))
        val sb = cells.groupBy("lbl").agg(sum("nij").as("b"))
          .agg(sum(expr("b * (b - 1) div 2")).as("sb"))
        stats.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
          .withColumn("c2", expr("n * (n - 1) div 2"))
          .withColumn("num2", expr(
            """2 * (CAST(idx AS DECIMAL(38,0)) * c2
                    - CAST(sa AS DECIMAL(38,0)) * sb)"""))
          .withColumn("den2", expr(
            """CAST(c2 AS DECIMAL(38,0)) * (sa + sb)
               - 2 * CAST(sa AS DECIMAL(38,0)) * sb"""))
          .select(col("n"), col("n_clusters"), col("n_labels"),
            col("c2").as("pairs_total"), col("idx").as("pairs_same"),
            col("sa").as("sum_a"), col("sb").as("sum_b"),
            expr("""cast((CAST(c2 AS DECIMAL(38,0)) + 2 * idx - sa - sb)
                      * 1000000 div c2 AS BIGINT)""").as("ri_ppm"),
            expr("""CASE WHEN num2 >= 0 THEN 1L ELSE -1L END
                    * cast(abs(num2) * 1000000 div nullif(den2, 0)
                           AS BIGINT)""").as("ari_ppm"))
      },
      Some("""
        WITH cells AS (
          SELECT (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                  + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                  + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS cl,
                 CAST(label AS BIGINT) AS lbl,
                 CAST(COUNT(*) AS BIGINT) AS nij
          FROM embeddings GROUP BY 1, 2),
        st AS (
          SELECT CAST(SUM(nij) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT cl) AS BIGINT) AS n_clusters,
                 CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_labels,
                 CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS idx
          FROM cells),
        sa AS (
          SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS sa
          FROM (SELECT CAST(SUM(nij) AS BIGINT) AS a
                FROM cells GROUP BY cl)),
        sb AS (
          SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS sb
          FROM (SELECT CAST(SUM(nij) AS BIGINT) AS b
                FROM cells GROUP BY lbl)),
        fin AS (
          SELECT n, n_clusters, n_labels, idx, sa, sb,
                 n * (n - 1) // 2 AS c2,
                 2 * (CAST(idx AS HUGEINT) * (n * (n - 1) // 2)
                      - CAST(sa AS HUGEINT) * sb) AS num2,
                 CAST(n * (n - 1) // 2 AS HUGEINT) * (sa + sb)
                   - 2 * CAST(sa AS HUGEINT) * sb AS den2
          FROM st CROSS JOIN sa CROSS JOIN sb)
        SELECT n, n_clusters, n_labels,
               CAST(c2 AS BIGINT) AS pairs_total,
               idx AS pairs_same, sa AS sum_a, sb AS sum_b,
               CAST((CAST(c2 AS HUGEINT) + 2 * idx - sa - sb) * 1000000
                 // c2 AS BIGINT) AS ri_ppm,
               (CASE WHEN num2 >= 0 THEN 1 ELSE -1 END)
                 * CAST(abs(num2) * 1000000 // nullif(den2, 0) AS BIGINT)
                 AS ari_ppm
        FROM fin"""))
  )
}
