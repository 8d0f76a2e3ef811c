package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Change-data-capture primitives: snapshot diff and SCD1 merge/upsert —
  * the operators an incremental 100 TB pipeline runs between full loads.
  * Vanilla Spark has no MERGE INTO (that's a table-format feature), so
  * both are expressed as single full-outer equi-joins on the key: one
  * shuffle each, AQE-skew-handled, no driver-side row movement.
  */
object Cdc {

  /** Classify `newDf` against `oldDf` by `key`: one output row per key
    * with change_type ∈ insert | delete | update | unchanged. Presence is
    * tracked with marker booleans (not null-ness of data columns), so
    * legitimately-null values classify correctly; value comparison is
    * null-safe (<=>). */
  def diff(oldDf: DataFrame, newDf: DataFrame,
      key: Seq[String], compare: Seq[String]): DataFrame = {
    val o = oldDf.select(
      key.map(col) ++ compare.map(c => col(c).as(s"old_$c"))
        :+ lit(true).as("old_present"): _*)
    val n = newDf.select(
      key.map(col) ++ compare.map(c => col(c).as(s"new_$c"))
        :+ lit(true).as("new_present"): _*)
    // key-only tables (no compare columns) can only insert/delete
    val changed = compare
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, key, "full_outer")
      .withColumn("change_type",
        when(col("old_present").isNull, "insert")
          .when(col("new_present").isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
  }

  /** SCD1 upsert: source rows win on key collision, target rows survive
    * otherwise, source-only keys insert. Presence markers (not value
    * null-ness) select the side, so null source values overwrite. */
  def upsert(target: DataFrame, source: DataFrame, key: Seq[String]): DataFrame = {
    val others = target.columns.filterNot(key.contains).toSeq
    require(source.columns.sorted.sameElements(target.columns.sorted),
      s"upsert schemas differ: target=${target.columns.mkString(",")} " +
        s"source=${source.columns.mkString(",")}")
    val s2 = source.select(
      key.map(col) ++ others.map(c => col(c).as(s"src_$c"))
        :+ lit(true).as("src_present"): _*)
    target.join(s2, key, "full_outer")
      .select(key.map(col) ++ others.map(c =>
        when(col("src_present"), col(s"src_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** The fixture "new snapshot" for q59: drop keys ≡0 (mod 10) (deletes),
    * bump price 10% on keys ≡0 (mod 7) (updates); the "old snapshot"
    * drops keys ≡3 (mod 10), so those appear as inserts. All arithmetic
    * is exact decimal so both engines derive identical doubles. */
  private def snapshots(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val orders = Tables(s, dir, "orders")
    val old = orders.filter(col("o_orderkey") % 10 =!= 3)
    val neu = orders.filter(col("o_orderkey") % 10 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0,
          (Exact.dec2(col("o_totalprice"))
            * lit(java.math.BigDecimal.valueOf(110, 2))).cast("double"))
          .otherwise(col("o_totalprice")))
    (old, neu)
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q59
    // Snapshot CDC diff: classify the new orders snapshot against the old
    // one and roll up counts + exact value totals per change type. One
    // full-outer shuffle join on the key — the plan you'd run at 100 TB
    // (both sides hash-partition by o_orderkey; no broadcast since both
    // snapshots scale with the fact table).
    QueryDef(
      "q59_cdc_snapshot_diff",
      (s, dir) => {
        val (old, neu) = snapshots(s, dir)
        diff(old, neu, Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
          .groupBy("change_type")
          .agg(
            count(lit(1)).as("n"),
            // DECIMAL(14,4), not (12,2): bumped prices are exact
            // 4-decimal values whose doubles round back identically at
            // 4dp in both engines — a 2dp recast would tie-break
            // differently (Spark half-up via shortest-repr, DuckDB
            // round-binary)
            sum(coalesce(col("new_o_totalprice"), col("old_o_totalprice"))
              .cast("decimal(14,4)")).cast("double").as("total_value"))
          .orderBy("change_type")
      },
      Some("""
        WITH old AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
          WHERE o_orderkey % 10 <> 3),
        neu AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0
                      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderstatus
          FROM orders WHERE o_orderkey % 10 <> 0),
        d AS (
          SELECT COALESCE(old.o_orderkey, neu.o_orderkey) AS k,
                 CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                      WHEN neu.o_orderkey IS NULL THEN 'delete'
                      WHEN old.o_totalprice IS DISTINCT FROM neu.o_totalprice
                           OR old.o_orderstatus IS DISTINCT FROM neu.o_orderstatus
                        THEN 'update'
                      ELSE 'unchanged' END AS change_type,
                 COALESCE(neu.o_totalprice, old.o_totalprice) AS v
          FROM old FULL OUTER JOIN neu USING (o_orderkey))
        SELECT change_type, COUNT(*) AS n,
               CAST(SUM(CAST(v AS DECIMAL(14,4))) AS DOUBLE) AS total_value
        FROM d
        GROUP BY change_type
        ORDER BY change_type""")),

    // ---------------------------------------------------------------- q60
    // SCD1 merge/upsert: apply a change set (keys ≡0 mod 5: status→'X',
    // price +5% exact) onto the pre-1996 order snapshot and aggregate the
    // merged table. Source rows not in the target insert; collisions take
    // the source row. Same single-shuffle full-outer shape as q59.
    QueryDef(
      "q60_merge_upsert",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val target = orders.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        val source = orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("o_totalprice",
            (Exact.dec2(col("o_totalprice"))
              * lit(java.math.BigDecimal.valueOf(105, 2))).cast("double"))
        upsert(target, source, Seq("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            // 4dp for the same reason as q59: bumped prices carry 4
            // exact decimals through their double representation
            sum(col("o_totalprice").cast("decimal(14,4)"))
              .cast("double").as("total_value"))
          .orderBy("o_orderstatus")
      },
      Some("""
        WITH target AS (
          SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        source AS (
          SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)
                   AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 5 = 0),
        merged AS (
          SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                      ELSE t.o_orderstatus END AS o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                      ELSE t.o_totalprice END AS o_totalprice
          FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey)
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS DOUBLE) AS total_value
        FROM merged
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ---------------------------------------------------------------- q89
    // Replica divergence detection by range checksum — the merkle-style
    // anti-entropy primitive replicated stores repair with: both replicas
    // aggregate (count, integer row-signature sum) per key range, and
    // only diverging ranges are reported — so the repair transfer is
    // O(diverged ranges), never a row-by-row table compare. Replica B
    // is manufactured drift: a lost row and a corrupted quantity every
    // 5,000 line numbers. At 100 TB each side is one keyed partial
    // aggregate over its own scan (map-side combine; the bucket key is
    // orderkey div 1000, so ranges align with ingest order), and the
    // compare join carries two small rows per bucket.
    QueryDef(
      "q89_replica_range_checksum",
      (s, dir) => {
        def rangeSig(df: DataFrame): DataFrame = df
          .withColumn("bucket", expr("l_orderkey div 1000"))
          // signature bounded by the prime so a bucket's SUM stays far
          // from int64 even at 1e6+ rows per range — DuckDB sums into
          // HUGEINT while Spark wraps, so an unbounded signature would
          // diverge silently at extreme scale. The quantity term goes
          // through DECIMAL(12,2) BEFORE the ×100 bigint cast: on raw
          // doubles Spark truncates while DuckDB rounds (0.29*100 →
          // 28.999… → 28 vs 29), so a non-integral quantity would make
          // the two engines disagree about an undiverged range
          .withColumn("row_sig", expr(
            "(l_orderkey * 1000003 + l_linenumber * 7919 + cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) % 1000000007"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum("row_sig").as("checksum"))
        val a = rangeSig(Tables(s, dir, "lineitem"))
        val b = rangeSig(Tables(s, dir, "lineitem")
          .filter(expr("(l_orderkey * 10 + l_linenumber) % 5000 != 17"))
          .withColumn("l_quantity",
            when(expr("(l_orderkey * 10 + l_linenumber) % 5000 = 23"),
              col("l_quantity") + 1).otherwise(col("l_quantity"))))
        a.select(col("bucket"), col("n").as("n_a"), col("checksum").as("sum_a"))
          .join(b.select(col("bucket"), col("n").as("n_b"), col("checksum").as("sum_b")),
            Seq("bucket"), "full_outer")
          .filter(!(col("n_a") <=> col("n_b")) || !(col("sum_a") <=> col("sum_b")))
          .orderBy("bucket")
      },
      Some("""
        WITH a AS (
          SELECT l_orderkey // 1000 AS bucket, COUNT(*) AS n,
                 CAST(SUM((l_orderkey * 1000003 + l_linenumber * 7919
                           + CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) % 1000000007)
                   AS BIGINT) AS checksum
          FROM lineitem GROUP BY 1),
        b AS (
          SELECT l_orderkey // 1000 AS bucket, COUNT(*) AS n,
                 CAST(SUM((l_orderkey * 1000003 + l_linenumber * 7919
                           + CAST(CAST((CASE WHEN (l_orderkey * 10 + l_linenumber) % 5000 = 23
                                             THEN l_quantity + 1 ELSE l_quantity END)
                                   AS DECIMAL(12,2)) * 100 AS BIGINT))
                          % 1000000007)
                   AS BIGINT) AS checksum
          FROM lineitem
          WHERE (l_orderkey * 10 + l_linenumber) % 5000 <> 17
          GROUP BY 1)
        SELECT COALESCE(a.bucket, b.bucket) AS bucket,
               a.n AS n_a, a.checksum AS sum_a,
               b.n AS n_b, b.checksum AS sum_b
        FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
        WHERE a.n IS DISTINCT FROM b.n
           OR a.checksum IS DISTINCT FROM b.checksum
        ORDER BY bucket""")),

    // ---------------------------------------------------------------- q90
    // Deletion propagation (right-to-be-forgotten): a deletion list of
    // customer keys must cascade through every table that references
    // them; the report is per-table total/deleted/retained counts — the
    // audit artifact a compliance run files BEFORE rewriting anything.
    // Each table is one left join against the deletion list plus one
    // aggregate; the list joins by key (no broadcast hint — it scales
    // with the customer base, the planner's threshold decides).
    QueryDef(
      "q90_deletion_propagation",
      (s, dir) => {
        val del = Tables(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"), lit(true).as("del"))
        def stats(table: String, df: DataFrame, keyCol: String): DataFrame =
          df.join(del, col(keyCol) === col("k"), "left_outer")
            .agg(count(lit(1)).as("rows_total"),
              sum(when(col("del"), 1L).otherwise(0L)).as("rows_deleted"))
            .select(lit(table).as("table_name"), col("rows_total"),
              col("rows_deleted"),
              (col("rows_total") - col("rows_deleted")).as("rows_retained"))
        stats("customer", Tables(s, dir, "customer"), "c_custkey")
          .unionByName(stats("events", Tables(s, dir, "events"), "user_id"))
          .unionByName(stats("orders", Tables(s, dir, "orders"), "o_custkey"))
          .orderBy("table_name")
      },
      Some("""
        WITH del AS (
          SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        c AS (
          SELECT 'customer' AS table_name, COUNT(*) AS rows_total,
                 CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_deleted
          FROM customer LEFT JOIN del ON c_custkey = k),
        e AS (
          SELECT 'events' AS table_name, COUNT(*) AS rows_total,
                 CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_deleted
          FROM events LEFT JOIN del ON user_id = k),
        o AS (
          SELECT 'orders' AS table_name, COUNT(*) AS rows_total,
                 CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_deleted
          FROM orders LEFT JOIN del ON o_custkey = k)
        SELECT table_name, rows_total, rows_deleted,
               rows_total - rows_deleted AS rows_retained
        FROM (SELECT * FROM c UNION ALL SELECT * FROM e UNION ALL SELECT * FROM o)
        ORDER BY table_name""")),

    // ---------------------------------------------------------------- q92
    // Incremental aggregate maintenance — the materialized-view delta
    // update: a standing per-type aggregate (built from the "already
    // ingested" 80% of events) is merged with the aggregate of the
    // arriving 20% delta via one full-outer join and exact-decimal
    // partial-sum algebra — and the oracle is the FULL RECOMPUTE over
    // everything, so the merge algebra is proven equivalent. At 100 TB
    // this is the difference between touching the delta and re-scanning
    // the world; decimal partials are associative-exact, so merged
    // doubles are bit-identical to recomputed ones.
    QueryDef(
      "q92_incremental_agg_maintenance",
      (s, dir) => {
        def aggOf(df: DataFrame): DataFrame = df
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(Exact.dec2(col("value"))).as("sv"))
        val events = Tables(s, dir, "events")
        val standing = aggOf(events.filter(col("event_id") % 10 < 8))
          .select(col("event_type"), col("n").as("n_a"), col("sv").as("sv_a"))
        val delta = aggOf(events.filter(col("event_id") % 10 >= 8))
          .select(col("event_type"), col("n").as("n_b"), col("sv").as("sv_b"))
        standing.join(delta, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_events"),
            (coalesce(col("sv_a"), lit(java.math.BigDecimal.ZERO).cast("decimal(22,2)"))
              + coalesce(col("sv_b"), lit(java.math.BigDecimal.ZERO).cast("decimal(22,2)")))
              .cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some(ScaleTechniques.saltedAggOracle)),

    // ---------------------------------------------------------------- q93
    // Data-quality constraint audit — the dbt-test/Deequ tier: FK
    // orphan detection, duplicate-key detection, and null checks over a
    // snapshot with MANUFACTURED corruption (every 100th order's
    // custkey pointed at nothing, every 1000th order duplicated), so
    // the audit must find exactly the planted violations. Each check is
    // one anti-join or keyed aggregate; the report is fixed-cardinality.
    QueryDef(
      "q93_constraint_audit",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val corrupted = orders
          // orphan keys are NEGATED (not offset): customer keys are
          // positive at every SF, so -(k+1) can never collide with a real
          // customer — an additive offset would silently stop planting
          // orphans once the customer table passes the offset (SF ≳ 67)
          .withColumn("o_custkey",
            when(col("o_orderkey") % 100 === 7, -(col("o_custkey") + 1L))
              .otherwise(col("o_custkey")))
          .unionByName(orders.filter(col("o_orderkey") % 1000 === 13))
        val cust = Tables(s, dir, "customer").select(col("c_custkey"))
        val orphans = corrupted
          .join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("fk_orphan_custkey").as("check_name"), col("n_violations"))
        val dups = corrupted.groupBy("o_orderkey")
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("duplicate_orderkey").as("check_name"), col("n_violations"))
        val nulls = corrupted.filter(col("o_orderstatus").isNull)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("null_orderstatus").as("check_name"), col("n_violations"))
        orphans.unionByName(dups).unionByName(nulls)
          .orderBy("check_name")
      },
      Some("""
        WITH corrupted AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 100 = 7 THEN -(o_custkey + 1)
                      ELSE o_custkey END AS o_custkey,
                 o_orderstatus
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus
          FROM orders WHERE o_orderkey % 1000 = 13),
        orphans AS (
          SELECT 'fk_orphan_custkey' AS check_name, COUNT(*) AS n_violations
          FROM corrupted c
          WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.o_custkey)),
        dups AS (
          SELECT 'duplicate_orderkey' AS check_name, COUNT(*) AS n_violations
          FROM (SELECT o_orderkey FROM corrupted
                GROUP BY o_orderkey HAVING COUNT(*) > 1)),
        nulls AS (
          SELECT 'null_orderstatus' AS check_name, COUNT(*) AS n_violations
          FROM corrupted WHERE o_orderstatus IS NULL)
        SELECT check_name, n_violations
        FROM (SELECT * FROM orphans UNION ALL SELECT * FROM dups
              UNION ALL SELECT * FROM nulls)
        ORDER BY check_name"""))
  ,

    // --------------------------------------------------------------- q113
    // SCD2 temporal dimension join — the "attribute as of fact time"
    // question q60's SCD1 upsert (which overwrites history) cannot
    // answer. A two-version customer dimension is synthesized
    // deterministically: every 3rd customer changes market segment on
    // 1998-01-01 (version rows carry [valid_from, valid_to) ranges),
    // and each order joins the version VALID AT ITS ORDER DATE. With
    // non-overlapping version ranges the as-of pick needs no window:
    // the custkey equi-join carries the range predicate and matches
    // exactly one version per order — at 100 TB that is one keyed
    // shuffle with the interval filter applied join-side, the cheapest
    // correct shape (q24's window-based as-of is for the unbounded-
    // versions case).
    // Revenue per as-of segment is the report a mis-joined dimension
    // silently corrupts; sums are exact decimals.
    QueryDef(
      "q113_scd2_asof_join",
      (s, dir) => {
        val split = "TIMESTAMP '1998-01-01 00:00:00'"
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val v1 = cust.select(col("c_custkey"), col("c_mktsegment").as("segment"),
          expr("TIMESTAMP '1900-01-01 00:00:00'").as("valid_from"),
          expr(s"""CASE WHEN c_custkey % 3 = 0 THEN $split
                        ELSE TIMESTAMP '9999-01-01 00:00:00' END""").as("valid_to"))
        val v2 = cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            concat(lit("V2-"), col("c_mktsegment")).as("segment"),
            expr(s"$split").as("valid_from"),
            expr("TIMESTAMP '9999-01-01 00:00:00'").as("valid_to"))
        val dim = v1.unionByName(v2)
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("od"),
            col("o_totalprice"))
          .join(dim, col("o_custkey") === col("c_custkey")
            && col("od") >= col("valid_from") && col("od") < col("valid_to"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("segment")
      },
      Some("""
        WITH dim AS (
          SELECT c_custkey, c_mktsegment AS segment,
                 TIMESTAMP '1900-01-01' AS valid_from,
                 CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1998-01-01'
                      ELSE TIMESTAMP '9999-01-01' END AS valid_to
          FROM customer
          UNION ALL
          SELECT c_custkey, 'V2-' || c_mktsegment,
                 TIMESTAMP '1998-01-01', TIMESTAMP '9999-01-01'
          FROM customer WHERE c_custkey % 3 = 0)
        SELECT segment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        JOIN dim ON o_custkey = c_custkey
          AND CAST(o_orderdate AS TIMESTAMP) >= valid_from
          AND CAST(o_orderdate AS TIMESTAMP) < valid_to
        GROUP BY segment
        ORDER BY segment"""))
  ,

    // --------------------------------------------------------------- q132
    // Incremental JOIN maintenance — the join half of the delta algebra
    // (q92 proves the aggregate half): a materialized orders⋈customer
    // view is PERSISTED once over the standing 90%/95% of both sides,
    // and when deltas arrive on BOTH sides the refresh computes only
    //   ΔA⋈B_old  ∪  A_old⋈ΔB  ∪  ΔA⋈ΔB
    // and unions the stored view — the standing data is re-SCANNED but
    // never re-JOINED, and every delta term joins against a delta
    // (broadcast-sized at any scale where deltas are small). The terms
    // partition the full join exactly (orderkey splits A, custkey
    // splits B), and the oracle is the FULL recompute, so a missing or
    // double-counted term cannot hash-match. Output is the per-nation
    // rollup with an exact orderkey checksum.
    QueryDef(
      "q132_incremental_join_maintenance",
      (s, dir) => {
        def joined(a: DataFrame, b: DataFrame): DataFrame = a
          .join(b, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey"),
            expr("cast(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("cents"))
        val orders = Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
        val aOld = orders.filter(col("o_orderkey") % 10 < 9)
        val aNew = orders.filter(col("o_orderkey") % 10 === 9)
        val bOld = cust.filter(col("c_custkey") % 20 =!= 7)
        val bNew = cust.filter(col("c_custkey") % 20 === 7)
        val staged = Staging.ensure("mjoin_standing", dir,
            s"$dir/orders.parquet") { out =>
          joined(aOld, bOld)
            .write.mode("overwrite").parquet(out.resolve("view").toString)
          ""
        }
        val standing = s.read.parquet(staged.resolve("view").toString)
        standing
          .unionByName(joined(aNew, bOld))
          .unionByName(joined(aOld, broadcast(bNew)))
          .unionByName(joined(aNew, broadcast(bNew)))
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum("cents").as("revenue_cents"),
            sum("o_orderkey").as("orderkey_sum"))
          .orderBy("nationkey")
      },
      Some("""
        SELECT c_nationkey AS nationkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                 AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_sum
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY nationkey
        ORDER BY nationkey"""))
  ,

    // --------------------------------------------------------------- q138
    // Time travel — the lakehouse "AS OF" read (Delta/Iceberg's
    // VERSION AS OF), from plain parquet: three immutable version
    // snapshots are staged once (v0 = the base, each successor = q60's
    // delta-wins upsert applying inserts AND balance updates), and the
    // query reads EVERY version back concurrently, auditing count /
    // balance / key checksums per version. Snapshots never mutate —
    // writing v2 cannot disturb a v0 reader — which is exactly the
    // contract s10's streaming CDC relies on ("the table IS the
    // state"); here it is surfaced as a user-facing read API. The
    // oracle replays the same upsert algebra from the raw fixture, so
    // a version that leaked a later update (or lost an insert) cannot
    // hash-match.
    QueryDef(
      "q138_time_travel",
      (s, dir) => {
        def cents(c: org.apache.spark.sql.Column) =
          expr(s"cast(cast(${c.toString} AS DECIMAL(12,2)) * 100 AS BIGINT)")
        def upsert(cur: DataFrame, delta: DataFrame): DataFrame =
          delta.unionByName(cur.join(delta.select("c_custkey"),
            Seq("c_custkey"), "left_anti"))
        val staged = Staging.ensure("timetravel", dir,
            s"$dir/customer.parquet") { out =>
          val base = Tables(s, dir, "customer")
            .select(col("c_custkey"), cents(col("c_acctbal")).as("bal"))
          val v0 = base.filter(col("c_custkey") % 3 === 0)
          v0.write.parquet(out.resolve("v0").toString)
          val r0 = s.read.parquet(out.resolve("v0").toString)
          val d1 = base.filter(col("c_custkey") % 3 === 1)
            .unionByName(r0.filter(col("c_custkey") % 5 === 0)
              .select(col("c_custkey"), (col("bal") + 111).as("bal")))
          upsert(r0, d1).write.parquet(out.resolve("v1").toString)
          val r1 = s.read.parquet(out.resolve("v1").toString)
          val d2 = base.filter(col("c_custkey") % 3 === 2)
            .unionByName(r1.filter(col("c_custkey") % 7 === 0)
              .select(col("c_custkey"), (col("bal") + 222).as("bal")))
          upsert(r1, d2).write.parquet(out.resolve("v2").toString)
          ""
        }
        (0 to 2).map { k =>
          s.read.parquet(staged.resolve(s"v$k").toString)
            .agg(lit(k.toLong).as("version"),
              count(lit(1)).as("n_rows"),
              sum("bal").as("balance_cents"),
              sum("c_custkey").as("key_sum"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""
        WITH base AS (
          SELECT c_custkey,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS bal
          FROM customer),
        v0 AS (SELECT * FROM base WHERE c_custkey % 3 = 0),
        d1 AS (
          SELECT * FROM base WHERE c_custkey % 3 = 1
          UNION ALL
          SELECT c_custkey, bal + 111 FROM v0 WHERE c_custkey % 5 = 0),
        v1 AS (
          SELECT * FROM d1
          UNION ALL
          SELECT * FROM v0
          WHERE c_custkey NOT IN (SELECT c_custkey FROM d1)),
        d2 AS (
          SELECT * FROM base WHERE c_custkey % 3 = 2
          UNION ALL
          SELECT c_custkey, bal + 222 FROM v1 WHERE c_custkey % 7 = 0),
        v2 AS (
          SELECT * FROM d2
          UNION ALL
          SELECT * FROM v1
          WHERE c_custkey NOT IN (SELECT c_custkey FROM d2))
        SELECT 0 AS version, COUNT(*) AS n_rows,
               CAST(SUM(bal) AS BIGINT) AS balance_cents,
               CAST(SUM(c_custkey) AS BIGINT) AS key_sum FROM v0
        UNION ALL
        SELECT 1, COUNT(*), CAST(SUM(bal) AS BIGINT),
               CAST(SUM(c_custkey) AS BIGINT) FROM v1
        UNION ALL
        SELECT 2, COUNT(*), CAST(SUM(bal) AS BIGINT),
               CAST(SUM(c_custkey) AS BIGINT) FROM v2
        ORDER BY version""")),

    // --------------------------------------------------------------- q215
    // Incremental sessionization — merging a late event batch into a
    // stored session table WITHOUT re-sessionizing the world: the last
    // 6 days of events arrive as the delta, and only the users present
    // in the delta are re-derived (their full event history re-runs the
    // q20 windows); everyone else's stored sessions pass through via an
    // anti join untouched. The result must equal full-corpus
    // sessionization exactly — passthrough is safe because an
    // unaffected user's event set is unchanged, and that equality IS
    // the oracle. 100 TB shape: recompute scope is bounded by the
    // delta's user keys (a day's actives ≪ all-time users); the stored
    // table feeds only the slim anti join — unaffected history is
    // never re-shuffled. The day cutoff rides in as a broadcast scalar
    // aggregate (the q58 discipline — nothing driver-side).
    QueryDef(
      "q215_incremental_sessions",
      (s, dir) => {
        val gapUs = 600L * 1000000L
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def sessionize(df: DataFrame): DataFrame = df
          .withColumn("new_sess",
            when(lag("ts_us", 1).over(w).isNull
              || col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_sess").over(cum))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            expr("ts_us div 86400000000").as("day"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cutoff = ev.agg((min("day") + 24L).as("cut"))
        val tagged = ev.crossJoin(broadcast(cutoff))
        val stored = sessionize(tagged.filter(col("day") < col("cut"))
          .select("user_id", "event_id", "ts_us"))
        val affected = tagged.filter(col("day") >= col("cut"))
          .select("user_id").distinct()
        val untouched = stored.join(affected, Seq("user_id"), "left_anti")
        val redone = sessionize(
          ev.join(affected, Seq("user_id"), "left_semi")
            .select("user_id", "event_id", "ts_us"))
        untouched.unionAll(redone)
          .orderBy("user_id", "session_id")
      },
      Some(sessionsOracle))
  )

  /** q215's oracle, shared verbatim by s02, s12. */
  private[graft] def sessionsOracle: String = """
        WITH e AS (SELECT user_id, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                   FROM events),
        g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                              OR ts_us - lag(ts_us) OVER w > 600000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us, event_id)),
        sg AS (SELECT *, CAST(SUM(new_sess)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM g)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        FROM sg
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""
}
