package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import Exact._

/** Scale-technique operators: the shuffle-shaping patterns the builder
  * brief calls out (salting for skew, bucketing for co-located joins,
  * sketches for approximate aggregation), each expressed so the DuckDB
  * oracle can verify the RESULT while the technique shapes the PLAN.
  */
object ScaleTechniques {

  /** q207's ring anchors, computed HERE in plain Scala and inlined as
    * literals into BOTH engines' queries — the ring layout is a shared
    * constant, not an engine computation that could drift. MD5, not the
    * 31-ary rolling hash: anchor names differ only in their suffix, and
    * a polynomial fold maps near-identical strings to near-identical
    * positions (measured: all 144 vnode anchors landed in two tight
    * clusters, degenerating the ring) — position hashing needs
    * avalanche, which the user-side content coin does not. */
  private def shardAnchor(name: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))
    val x = java.nio.ByteBuffer.wrap(d).getLong(0)
    java.lang.Math.floorMod(x, 1000000007L)
  }

  val all: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q207
    // Consistent-hash sharding audit — the rebalance-cost argument made
    // with exact numbers: users map to shards by ring successor over
    // anchor points (one anchor per shard, positions = polyhash of the
    // shard name, inlined as literals in both engines), and the audit
    // compares the 8-shard and 9-shard assignments user by user. The
    // ring's contract is that adding a shard moves only the users whose
    // successor BECAME the new anchor (≈1/9 of them); naive mod-k
    // hashing moves ≈8/9 — both fractions are reported in exact ppm
    // from the same pass. Scale shape: assignment is one narrow codegen
    // map (17 anchor comparisons against a literal array); the audit
    // rollup is a bounded keyed aggregate.
    QueryDef(
      "q207_consistent_sharding",
      (s, dir) => {
        // 16 virtual nodes per shard (the variance-control production
        // rings actually use); each anchor encodes (position, shard) as
        // pos*32 + shard — order-preserving in position, so the ring
        // successor is a plain min over encoded values and the owning
        // shard decodes with % 32
        def anchors(shards: Int): Seq[Long] =
          for (i <- 0 until shards; j <- 0 until 16)
            yield shardAnchor(s"shard-$i#$j") * 32 + i
        def ring(enc: Seq[Long]) = {
          val lits = enc.sorted.mkString("array(", "L, ", "L)")
          s"""coalesce(array_min(filter($lits, a -> a div 32 >= h)),
                       array_min($lits)) % 32"""
        }
        val a8 = anchors(8)
        val a9 = anchors(9)
        Tables(s, dir, "events")
          .select(col("user_id")).distinct()
          // 'user-<id>#graft': ≥11 chars, so the 31-ary fold wraps the
          // 1e9+7 modulus and spreads over the whole ring (a bare short
          // id hashes to < 31^len — every user would share one successor)
          .withColumn("h", call_function("graft_polyhash",
            concat(lit("user-"), col("user_id").cast("string"), lit("#graft"))))
          .select(col("user_id"),
            expr(ring(a8)).as("ring8"), expr(ring(a9)).as("ring9"),
            expr("user_id % 8").as("mod8"), expr("user_id % 9").as("mod9"))
          .agg(count(lit(1)).as("n_users"),
            expr("count_if(ring8 != ring9)").as("ring_moved"),
            expr("count_if(mod8 != mod9)").as("mod_moved"))
          .select(col("n_users"), col("ring_moved"), col("mod_moved"),
            expr("ring_moved * 1000000 div n_users").as("ring_moved_ppm"),
            expr("mod_moved * 1000000 div n_users").as("mod_moved_ppm"))
      },
      Some {
        def anchors(shards: Int): Seq[Long] =
          for (i <- 0 until shards; j <- 0 until 16)
            yield shardAnchor(s"shard-$i#$j") * 32 + i
        def ring(enc: Seq[Long]) = {
          val lits = enc.sorted.mkString("[", ", ", "]")
          s"""COALESCE(list_min(list_filter($lits, a -> a // 32 >= h)),
                       list_min($lits)) % 32"""
        }
        val a8 = anchors(8)
        val a9 = anchors(9)
        s"""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        hs AS (
          SELECT user_id,
                 'user-' || CAST(user_id AS VARCHAR) || '#graft' AS str
          FROM u),
        h AS (
          SELECT user_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(str) + 1),
                       i -> CAST(unicode(str[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS h
          FROM hs),
        a AS (
          SELECT user_id,
                 ${ring(a8)} AS ring8, ${ring(a9)} AS ring9,
                 user_id % 8 AS mod8, user_id % 9 AS mod9
          FROM h)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(count_if(ring8 != ring9) AS BIGINT) AS ring_moved,
               CAST(count_if(mod8 != mod9) AS BIGINT) AS mod_moved,
               CAST(count_if(ring8 != ring9) * 1000000 // COUNT(*) AS BIGINT)
                 AS ring_moved_ppm,
               CAST(count_if(mod8 != mod9) * 1000000 // COUNT(*) AS BIGINT)
                 AS mod_moved_ppm
        FROM a"""
      }),


    // ---------------------------------------------------------------- q44
    // Salted two-phase aggregation: `events` has only a handful of
    // event_type values — at 100 TB a plain groupBy sends each type's
    // entire volume to ONE reducer (classic skew). Salting fans each hot
    // key across 16 partial groups (map-side combine still applies), and
    // the tiny second phase merges 16 exact partials per key. Decimal
    // partial sums are associative-exact, so the result is bit-identical
    // to the unsalted plan and to the oracle.
    QueryDef(
      "q44_salted_skew_agg",
      (s, dir) => {
        val partial = Tables.events(s, dir)
          .withColumn("salt", pmod(hash(col("event_id")), lit(16)))
          .groupBy("event_type", "salt")
          .agg(
            count(lit(1)).as("n_part"),
            sum(dec2(col("value"))).as("sum_part")) // exact decimal partial
        partial.groupBy("event_type")
          .agg(
            sum("n_part").as("n_events"),
            sum("sum_part").cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some(saltedAggOracle)),

    // ---------------------------------------------------------------- q45
    // Bucketed co-located join: orders and lineitem written once as
    // 8-bucket tables on the join key — the join then reads co-located
    // buckets and NEEDS NO EXCHANGE on either side (asserted in
    // ScaleSpec). This is the ingest-once/join-many layout for recurring
    // fact-fact joins at scale.
    QueryDef(
      "q45_bucketed_join",
      (s, dir) => {
        val sf = java.nio.file.Paths.get(dir).getFileName.toString.replace('.', '_')
        val ot = s"graft_orders_b_$sf"; val lt = s"graft_lineitem_b_$sf"
        if (!s.catalog.tableExists(ot)) {
          // the in-memory catalog forgets tables between sessions but the
          // warehouse directory persists — clear leftovers so saveAsTable
          // doesn't refuse the location
          val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath
          for (t <- Seq(ot, lt)) {
            val p = java.nio.file.Paths.get(wh, t)
            if (java.nio.file.Files.exists(p)) {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
                .foreach(java.nio.file.Files.deleteIfExists(_))
            }
          }
          Tables(s, dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable(ot)
          Tables(s, dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable(lt)
        }
        val o = s.table(ot); val l = s.table(lt)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            sum(dec2(col("l_extendedprice")) * (one - rate(col("l_discount"))))
              .cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q48
    // Pivot: order totals fanned to one column per status (explicit value
    // list — a scale rule: implicit pivot values force an extra distinct
    // pass over the data).
    QueryDef(
      "q48_pivot",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(dec2(col("o_totalprice"))).cast("double"))
          .withColumnsRenamed(Map("F" -> "f_total", "O" -> "o_total", "P" -> "p_total"))
          .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS f_total,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS o_total,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS p_total
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---------------------------------------------------------------- q49
    // Unpivot (melt): per-nation customer/supplier counts as (nation,
    // role, n) long form via the unpivot operator.
    QueryDef(
      "q49_unpivot",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("customers"))
        val sup = Tables(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("suppliers"))
        c.join(sup, Seq("nationkey"), "full_outer")
          .na.fill(0L, Seq("customers", "suppliers"))
          .unpivot(Array(col("nationkey")),
            Array(col("customers"), col("suppliers")), "role", "n")
          .orderBy("nationkey", "role")
      },
      Some("""
        WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS customers
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS suppliers
                   FROM supplier GROUP BY 1),
             j AS (SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
                          COALESCE(customers, 0) AS customers,
                          COALESCE(suppliers, 0) AS suppliers
                   FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey)
        SELECT nationkey, role, n FROM (
          SELECT nationkey, 'customers' AS role, customers AS n FROM j
          UNION ALL
          SELECT nationkey, 'suppliers' AS role, suppliers AS n FROM j)
        ORDER BY nationkey, role""")),

    // ---------------------------------------------------------------- q46
    // HLL++ approximate distinct next to the exact count. The sketch is
    // deterministic for fixed data, but its VALUE is engine-specific, so
    // the oracle checks the exact count plus the 5%-accuracy CONTRACT
    // (within_5pct must be true — DuckDB side asserts the literal).
    QueryDef(
      "q46_approx_distinct",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_exact"),
            approx_count_distinct(col("l_partkey"), 0.05).as("n_approx"))
          .select(
            col("l_returnflag"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.05)
              .as("within_5pct"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_exact,
               TRUE AS within_5pct
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""))
,

    // ---------------------------------------------------------------- q53
    // Approximate quantiles (percentile sketch) next to the exact values —
    // the other workhorse sketch of 100 TB OLAP. Like q46, the sketch
    // VALUE is engine-specific (merge order varies), so the oracle checks
    // the exact per-group quantiles plus the accuracy CONTRACT — stated in
    // RANK space, which is what a GK-style sketch actually guarantees:
    // each approximation must lie between the exact (p−0.01) and (p+0.01)
    // quantiles. At scale the sketch partial-aggregates map-side and
    // merges per group; the exact percentile exists only for the contract.
    // Output is one ROW per (group, quantile) — scalar columns only: the
    // correctness harness hash-sorts cell values and array-typed cells
    // are unhashable on the comparator side (r03 failure mode).
    QueryDef(
      "q53_approx_quantiles",
      (s, dir) => {
        val d = Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(
            percentile_approx(col("value"),
              array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("approx"),
            expr("percentile(value, array(0.5, 0.95, 0.99))").as("exact"),
            expr("percentile(value, array(0.49, 0.94, 0.98))").as("lo"),
            expr("percentile(value, array(0.51, 0.96, 1.0))").as("hi"))
        d.select(
            col("event_type"),
            posexplode(arrays_zip(
              // exact quantiles are deterministic decimals of the fixture;
              // round to cents so double formatting matches the oracle
              expr("transform(exact, x -> CAST(round(x * 100) AS BIGINT))")
                .as("ec"),
              expr("""transform(sequence(1, 3), i ->
                        element_at(approx, i) >= element_at(lo, i)
                        AND element_at(approx, i) <= element_at(hi, i))""")
                .as("ok"))))
          .select(
            col("event_type"),
            (col("pos") + 1).cast("long").as("qi"),
            col("col.ec").as("exact_cents"),
            col("col.ok").as("within_rank_window"))
          .orderBy("event_type", "qi")
      },
      Some("""
        WITH q AS (
          SELECT event_type,
                 [CAST(round(quantile_cont(value, 0.5)  * 100) AS BIGINT),
                  CAST(round(quantile_cont(value, 0.95) * 100) AS BIGINT),
                  CAST(round(quantile_cont(value, 0.99) * 100) AS BIGINT)] AS ec
          FROM events GROUP BY event_type)
        SELECT event_type, CAST(i AS BIGINT) AS qi,
               ec[i] AS exact_cents, TRUE AS within_rank_window
        FROM q, (SELECT UNNEST([1, 2, 3]) AS i) idx
        ORDER BY event_type, qi""")),

    // ---------------------------------------------------------------- q55
    // Dynamic partition pruning: `events` staged hive-partitioned by
    // event_type, joined to a tiny filtered dimension on the partition
    // column. Spark broadcasts the dim and injects its keys as a RUNTIME
    // partition filter on the fact scan — at 100 TB the scan reads 2 of C
    // partitions instead of the whole table, without any literal filter
    // in the query text. ScaleSpec asserts `dynamicpruning` in the plan.
    QueryDef(
      "q55_dynamic_partition_pruning",
      (s, dir) => {
        import s.implicits._
        val staged = Staging.ensure("part_events", dir, s"$dir/events.parquet") { d =>
          Tables.events(s, dir)
            .select(col("event_id"), col("value"), col("event_type"))
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(d.resolve("fact").toString)
          // the dim must be a real datasource: a literal local relation
          // gets its filter constant-folded away (ConvertToLocalRelation),
          // and DPP requires a live selective predicate on the build side
          Seq(("click", 10L), ("view", 20L), ("purchase", 99L),
              ("signup", 99L), ("error", 99L))
            .toDF("event_type", "weight")
            .coalesce(1)
            .write.mode("overwrite").parquet(d.resolve("dim").toString)
          ""
        }
        val fact = s.read.parquet(staged.resolve("fact").toString)
        // the SELECTIVE dim filter is what DPP turns into a runtime
        // partition filter on the fact scan
        val dim = s.read.parquet(staged.resolve("dim").toString)
          .filter(col("weight") <= 20)
        fact.join(dim, "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(dec2(col("value"))).cast("double").as("sum_value"),
            first(col("weight")).as("weight"))
          .orderBy("event_type")
      },
      Some("""
        WITH dim0(event_type, weight) AS (VALUES ('click', 10), ('view', 20),
               ('purchase', 99), ('signup', 99), ('error', 99)),
        dim AS (SELECT * FROM dim0 WHERE weight <= 20)
        SELECT e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               CAST(MIN(d.weight) AS BIGINT) AS weight
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type""")),

    // ---------------------------------------------------------------- q82
    // Range-clustered layout for data skipping: `events` rewritten once
    // with repartitionByRange(ts) + sortWithinPartitions(ts), so every
    // parquet file owns a DISJOINT time range and its row-group min/max
    // stats answer time filters without decoding (ScaleSpec asserts the
    // disjointness). A time-range query over the clustered copy then
    // reads ~1/10th of the files instead of scanning everything — the
    // sort-once/skip-forever layout for time-series at 100 TB. The
    // cutoff literal is computed ONCE at staging time (a column-pruned
    // min/max aggregate) and cached in the marker file, so later
    // constructions stay fully lazy (the q58 discipline) while the
    // filter still reaches the scan as a literal pushdown.
    QueryDef(
      "q82_range_clustered_scan",
      (s, dir) => {
        val staged = Staging.ensure("range_clustered", dir, s"$dir/events.parquet") { d =>
          // Tables.events already derives the canonical ts_us = ts div 1000
          Tables.events(s, dir)
            .select("event_id", "ts_us", "event_type", "value")
            .repartitionByRange(8, col("ts_us"))
            .sortWithinPartitions("ts_us")
            .write.mode("overwrite").parquet(d.resolve("fact").toString)
          val Array(mn, mx) = Tables.events(s, dir)
            .agg(min(col("ts_us")), max(col("ts_us")))
            .head().toSeq.map(_.asInstanceOf[Long]).toArray
          (mn + (mx - mn) / 10L).toString // cached in the marker
        }
        val cutoff = Staging.markerContent(staged).toLong
        s.read.parquet(staged.resolve("fact").toString)
          .filter(col("ts_us") <= cutoff)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(dec2(col("value"))).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        WITH b AS (
          SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS mn,
                 MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS mx
          FROM events)
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events, b
        WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= mn + (mx - mn) // 10
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---------------------------------------------------------------- q99
    // Z-ORDER (Morton) clustered layout — q82's range clustering extended
    // to TWO dimensions: both ts_us and the exact-cents value are
    // normalized to 16-bit ranks, bit-interleaved into a Morton code
    // (pure shift/and/or — whole-stage codegen), and the table rewritten
    // range-partitioned + sorted on z. Every file then covers a small
    // rectangle in (time, value) space, so a query filtering BOTH
    // dimensions skips files on both — the layout Delta/Iceberg OPTIMIZE
    // ZORDER buys, built from Spark primitives. ScaleSpec asserts the
    // two-dim skipping; the oracle states the box aggregate over the
    // original table (layout must be answer-invisible).
    QueryDef(
      "q99_zorder_clustered_scan",
      (s, dir) => {
        val staged = Staging.ensure("zorder_clustered", dir, s"$dir/events.parquet") { d =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("ts_us"), col("event_type"),
              expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          val b = ev.agg(min("ts_us"), max("ts_us"), min("vc"), max("vc")).head()
          val (mnT, mxT, mnV, mxV) =
            (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
          // 16->32-bit Morton spread via the classic magic masks
          def spread(x0: org.apache.spark.sql.Column) = {
            var x = x0
            x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
            x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
            x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
            x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
            x
          }
          // divide-first ranks: (x - mn) * 65535 would overflow Long once
          // the span exceeds ~2^63/65535 (≈4.5 years of microseconds) and
          // silently scramble the z codes; a step of ceil-ish span/65535
          // keeps ranks in [0, 65535] with pure Long arithmetic at any span
          val stepT = (mxT - mnT) / 65535L + 1
          val stepV = (mxV - mnV) / 65535L + 1
          val t16 = expr(s"(ts_us - $mnT) div $stepT")
          val v16 = expr(s"(vc - $mnV) div $stepV")
          ev.withColumn("z", shiftleft(spread(t16), 1).bitwiseOR(spread(v16)))
            .repartitionByRange(16, col("z"))
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite").parquet(d.resolve("fact").toString)
          s"$mnT $mxT $mnV $mxV" // bounds cached for the serve-time box
        }
        val Array(mnT, mxT, mnV, mxV) =
          Staging.markerContent(staged).split(" ").map(_.toLong)
        // the middle-quarter box in BOTH dimensions
        val (tsLo, tsHi) = (mnT + (mxT - mnT) * 3 / 8, mnT + (mxT - mnT) * 5 / 8)
        val (vLo, vHi) = (mnV + (mxV - mnV) * 3 / 8, mnV + (mxV - mnV) * 5 / 8)
        s.read.parquet(staged.resolve("fact").toString)
          .filter(col("ts_us") >= tsLo && col("ts_us") <= tsHi
            && col("vc") >= vLo && col("vc") <= vHi)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        b AS (SELECT MIN(ts_us) mnT, MAX(ts_us) mxT, MIN(vc) mnV, MAX(vc) mxV FROM e)
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(vc) AS BIGINT) AS sum_cents
        FROM e, b
        WHERE ts_us >= mnT + (mxT - mnT) * 3 // 8
          AND ts_us <= mnT + (mxT - mnT) * 5 // 8
          AND vc >= mnV + (mxV - mnV) * 3 // 8
          AND vc <= mnV + (mxV - mnV) * 5 // 8
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q111
    // Mergeable-sketch rollup — the pre-aggregation discipline that makes
    // distinct counts affordable at 100 TB: per (event_type, day) HLL
    // sketches (DataSketches hll_sketch_agg) are built ONCE and PERSISTED
    // to parquet (binary column), and every later rollup — here per-type
    // totals across all days — is hll_union_agg over the stored sketches,
    // never a re-scan of raw events. This is what q46's one-shot
    // approx_count_distinct cannot do: its HLL dies with the query, while
    // a stored sketch answers "distinct users this month/quarter/year"
    // from kilobytes per day. Merge is associative, so daily builds
    // partial-aggregate map-side and the union moves sketch bytes only.
    // Oracle: sketch VALUES are engine-specific, so the gate checks the
    // exact distinct plus the q46-style accuracy contract (lgK=14 keeps
    // the relative error well inside 5% at every SF).
    QueryDef(
      "q111_sketch_rollup",
      (s, dir) => {
        val staged = Staging.ensure("hll_daily", dir, s"$dir/events.parquet") { out =>
          Tables.events(s, dir)
            .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
              col("user_id"))
            .groupBy("event_type", "day")
            .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
              count(lit(1)).as("n_events"))
            .write.mode("overwrite").parquet(out.resolve("daily").toString)
          ""
        }
        val rolled = s.read.parquet(staged.resolve("daily").toString)
          .groupBy("event_type")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_approx"),
            count(lit(1)).as("n_days"))
        val exact = Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        rolled.join(exact, "event_type")
          .select(col("event_type"), col("n_days"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact"))
              <= greatest(lit(2.0), col("n_exact") * 0.05)).as("within_bound"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
               COUNT(DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                 AS n_days,
               COUNT(DISTINCT user_id) AS n_exact,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q120
    // AQE skew-join — the RUNTIME half of skew handling (q44 salts at
    // plan time; AQE re-plans at run time from actual shuffle sizes,
    // which is what saves the day when the hot key isn't known in
    // advance). A deliberately skewed fact (half of all rows on key 0)
    // sort-merge-joins a uniform dimension; AQE detects the oversized
    // partition and splits it across tasks (plan-asserted: the executed
    // join carries skew=true).
    // Conf scoping: skew thresholds are tuned WAY down so the
    // demonstration triggers at fixture scale — on a SIBLING session
    // (GraftSession.sibling), which shares the SparkContext but owns its
    // SQLConf, so the tuning never leaks into other queries' plans. AQE
    // is set explicitly: it is what this query demonstrates, so its
    // PLANS.json entry is the bare adaptive leaf and ScaleSpec's
    // skew=true assertion guards the executed plan instead.
    // Broadcast is disabled to force the SMJ (a dimension this small
    // would broadcast and dissolve the skew for free — ALSO a valid
    // production answer; the point here is the path for when the dim
    // side is too big to broadcast).
    QueryDef(
      "q120_aqe_skew_join",
      (s, dir) => {
        val s2 = graft.GraftSession.sibling(s,
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          // force past the cost check and keep split partitions visible
          // (coalescing would re-merge them at fixture scale)
          "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
        val fact = graft.Tables(s2, dir, "events")
          .select(col("event_id"), col("event_type"),
            expr("CASE WHEN event_id % 10 < 9 THEN CAST(0 AS BIGINT) " +
              "ELSE event_id % 100 END").as("k"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          // several mappers must feed the join shuffle: AQE splits a
          // skewed reduce partition along MAPPER ranges, so a
          // single-split parquet scan is physically unsplittable
          .repartition(8)
        val dim = s2.range(0, 100)
          .select(col("id").as("k"), expr("id * 7 % 13").as("wt"))
        fact.join(dim, "k")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("vc * wt")).as("weighted_cents"))
          .orderBy("event_type")
      },
      Some("""
        WITH f AS (
          SELECT event_type,
                 CASE WHEN event_id % 10 < 9 THEN 0
                      ELSE event_id % 100 END AS k,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        dim AS (SELECT CAST(r.r AS BIGINT) AS k, (r.r * 7) % 13 AS wt
                FROM (SELECT UNNEST(range(0, 100)) AS r) r)
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(vc * wt) AS BIGINT) AS weighted_cents
        FROM f JOIN dim USING (k)
        GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q121
    // Binned interval join — the equi-join acceleration for PURE range
    // predicates (IP-range lookups, genomic intervals), where q23's
    // equi+range shape doesn't apply because there is NO equality key:
    // the naive theta join plans a nested-loop product (every fact row
    // against every range). Instead each range explodes into the
    // fixed-width bins it overlaps, facts compute their bin with one
    // integer division, the join is an EQUI-join on bin, and an exact
    // containment filter removes bin-boundary false candidates.
    // Plan-asserted: no nested-loop/cartesian product survives. Ranges
    // overlap, so a value can match multiple ranges — the bin fan-out
    // is ceil(width/binW)+1 per range, a bounded constant, never
    // |fact|×|ranges|.
    QueryDef(
      "q121_binned_range_join",
      (s, dir) => {
        val binW = 1000L
        val binned = valueRanges(s).select(col("range_id"), col("lo"), col("hi"),
          explode(expr(s"sequence(lo div $binW, (hi - 1) div $binW)")).as("bin"))
        val fact = eventCents(s, dir).withColumn("bin", expr(s"vc div $binW"))
        rangeCounts(fact.join(binned, "bin")
          .filter(col("vc") >= col("lo") && col("vc") < col("hi")))
      },
      // the oracle states the CONTAINMENT contract directly as the
      // theta join — binning must be answer-invisible
      Some(rangeJoinOracle))
  ,

    // --------------------------------------------------------------- q124
    // The OPTIMIZER-extension face of q121 (brief option (c)): the query
    // is written the NAIVE way — `fact JOIN ranges ON vc >= lo AND
    // vc < hi`, which Spark plans as a nested-loop product — and
    // graft.plans.RangeJoinRule (a Rule[LogicalPlan] that
    // GraftExtensions puts in every session) rewrites it into the
    // binned equi-join automatically under the configured bin width.
    // Same semantics, same oracle as q121's hand-written form; the
    // no-nested-loop plan shape is asserted in ScaleSpec, and
    // RangeJoinRuleSpec pins bit-equality against the un-rewritten
    // plan plus the rule's scope guards.
    QueryDef(
      "q124_range_join_rule",
      (s, dir) => {
        // conf-isolated sibling session (the q120 discipline): the bin
        // width, which arms the rule, stays scoped to this query even
        // though the rewrite itself is answer-invisible by construction
        val s2 = graft.GraftSession.sibling(s,
          graft.plans.RangeJoinRule.BinWidthKey -> "1000")
        rangeCounts(eventCents(s2, dir)
          .join(valueRanges(s2), col("vc") >= col("lo") && col("vc") < col("hi")))
      },
      Some(rangeJoinOracle))
  ,

    // --------------------------------------------------------------- q127
    // Mergeable quantile-histogram rollup — q111's persisted-sketch
    // lifecycle applied to PERCENTILES. Each (event_type, day) persists
    // a fixed-bin value histogram (bin = integer cents div 1000, one
    // count per occupied bin — kilobytes per day); serving any horizon
    // merges the stored histograms by summing counts (associative and
    // commutative, so distributed partial aggregation is safe and a
    // month/quarter/year percentile never re-scans raw events). The
    // percentile read-off is the histogram lower bound: the first bin
    // whose running count reaches ceil(q% of total) — pure integer
    // arithmetic end to end, so unlike q111's accuracy contract this
    // sketch is EXACTLY reproducible and the oracle hash-matches it
    // (DuckDB states the same binning straight from raw events — legal
    // precisely because the merge is lossless over the binned domain).
    // The keyed cumulative window runs over at most #bins rows per type.
    QueryDef(
      "q127_quantile_sketch_rollup",
      (s, dir) => {
        val staged = Staging.ensure("qhist_daily", dir, s"$dir/events.parquet") { out =>
          Tables.events(s, dir)
            .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
              expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
                .as("bin"))
            .groupBy("event_type", "day", "bin")
            .agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").parquet(out.resolve("daily").toString)
          ""
        }
        quantileReadoff(s.read.parquet(staged.resolve("daily").toString))
      },
      Some(quantileHistOracle))
  ,

    // --------------------------------------------------------------- q130
    // 2-D skyline (Pareto frontier): the parts no other part beats on
    // BOTH price (lower-better) and size (higher-better) — dominance
    // with at least one strict inequality, so exact (price, size) ties
    // all survive. The textbook answer is a running max over the
    // global price order — a single-partition window at scale. Here the
    // prefix-scan is DISTRIBUTED the way a cluster does it: collapse to
    // one row per price (keyed aggregate), bucket prices coarsely,
    // compute each bucket's max once, derive per-bucket OFFSETS (max
    // over all strictly-lower buckets) with a broadcast theta self-join
    // over the bounded bucket frame, and run the within-bucket prefix
    // max as a BUCKET-KEYED window. greatest(offset, within-bucket
    // prefix) is exactly the global prefix max — no unkeyed window
    // anywhere, every stage partition-parallel. The survivor join back
    // to rows is an equi-join on (price, size).
    QueryDef(
      "q130_skyline",
      (s, dir) => {
        val p = Tables(s, dir, "part")
          .select(col("p_partkey"),
            expr("cast(cast(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("price"),
            col("p_size").cast("long").as("size"))
        val g = p.groupBy("price").agg(max("size").as("gmax"))
          .withColumn("bucket", expr("price div 1000"))
        val bmax = g.groupBy("bucket").agg(max("gmax").as("bmax"))
        val off = bmax.as("x")
          .join(broadcast(bmax.as("y")), col("y.bucket") < col("x.bucket"),
            "left")
          .groupBy(col("x.bucket").as("bucket"))
          .agg(max(col("y.bmax")).as("omax"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("price")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val sky = g.join(broadcast(off), "bucket")
          .withColumn("runmax", max("gmax").over(w))
          .withColumn("pm",
            greatest(coalesce(col("omax"), lit(-1L)),
              coalesce(col("runmax"), lit(-1L))))
          .filter(col("gmax") > col("pm"))
          .select(col("price").as("sky_price"), col("gmax"))
        p.join(sky, p("price") === col("sky_price") && p("size") === col("gmax"))
          .select(col("p_partkey"), col("price").as("price_cents"), col("size"))
          .orderBy("price_cents", "p_partkey")
      },
      // the oracle states the frontier with the single global window the
      // engine refuses to plan — same semantics, DuckDB is one node
      Some("""
        WITH p AS (
          SELECT p_partkey,
                 CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS price,
                 CAST(p_size AS BIGINT) AS size
          FROM part),
        g AS (SELECT price, MAX(size) AS gmax FROM p GROUP BY price),
        sky AS (
          SELECT price, gmax FROM (
            SELECT price, gmax,
                   MAX(gmax) OVER (ORDER BY price
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM g) t
          WHERE pm IS NULL OR gmax > pm)
        SELECT p.p_partkey, p.price AS price_cents, p.size
        FROM p JOIN sky ON p.price = sky.price AND p.size = sky.gmax
        ORDER BY price_cents, p_partkey"""))
  ,

    // --------------------------------------------------------------- q137
    // Sketch-based audience overlap — the question q111's union-only
    // rollup cannot answer: |users(A) ∩ users(B)| for event-type pairs,
    // estimated by inclusion-exclusion over HLL sketches
    // (est_A + est_B − est_A∪B) — three sketch reads, zero joins of raw
    // users. One pass builds a kilobyte sketch per type; every pairwise
    // overlap then costs O(sketch merge), which is how an ads/analytics
    // stack prices audience intersections across hundreds of segments
    // without N² distinct-count joins. Intersection differences
    // amplify the individual ±0.8% (lgK=14) errors, so the q46-style
    // contract is checked against the EXACT overlap (a semi-joined
    // distinct count) per pair.
    QueryDef(
      "q137_audience_overlap",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("event_type", "user_id")
        val sk = ev.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
            countDistinct("user_id").as("n"))
        val pairs = s.createDataFrame(Seq(
          ("view", "purchase"), ("view", "signup"), ("click", "error")))
          .toDF("type_a", "type_b")
        val est = pairs
          .join(broadcast(sk.select(col("event_type").as("type_a"),
            col("sk").as("sk_a"), col("n").as("n_a"))), Seq("type_a"))
          .join(broadcast(sk.select(col("event_type").as("type_b"),
            col("sk").as("sk_b"), col("n").as("n_b"))), Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            (expr("hll_sketch_estimate(sk_a)")
              + expr("hll_sketch_estimate(sk_b)")
              - expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
              .as("est_overlap"))
        val act = ev.distinct()
        val exact = pairs
          .join(act.select(col("event_type").as("type_a"), col("user_id")),
            Seq("type_a"))
          .join(act.select(col("event_type").as("type_b"), col("user_id")),
            Seq("type_b", "user_id"))
          .groupBy("type_a", "type_b")
          .agg(countDistinct("user_id").as("n_exact_overlap"))
        est.join(exact, Seq("type_a", "type_b"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_exact_overlap"),
            (abs(col("est_overlap") - col("n_exact_overlap"))
              <= greatest(lit(3.0), col("n_exact_overlap") * 0.05))
              .as("within_bound"))
          .orderBy("type_a", "type_b")
      },
      Some("""
        WITH act AS (SELECT DISTINCT event_type, user_id FROM events),
        n AS (SELECT event_type, COUNT(*) AS n FROM act GROUP BY event_type),
        pairs AS (
          SELECT 'view' AS type_a, 'purchase' AS type_b
          UNION ALL SELECT 'view', 'signup'
          UNION ALL SELECT 'click', 'error'),
        ov AS (
          SELECT p.type_a, p.type_b, COUNT(*) AS n_exact_overlap
          FROM pairs p
          JOIN act a ON a.event_type = p.type_a
          JOIN act b ON b.event_type = p.type_b AND b.user_id = a.user_id
          GROUP BY p.type_a, p.type_b)
        SELECT ov.type_a AS type_a, ov.type_b AS type_b,
               na.n AS n_a, nb.n AS n_b,
               n_exact_overlap, TRUE AS within_bound
        FROM ov
        JOIN n na ON na.event_type = ov.type_a
        JOIN n nb ON nb.event_type = ov.type_b
        ORDER BY ov.type_a, ov.type_b"""))
  ,

    // --------------------------------------------------------------- q140
    // Exact φ-heavy hitters at shuffle cost O(candidates), not
    // O(distinct keys) — the two-pass Misra-Gries pattern. Pass 1 runs
    // a size-127 Misra-Gries summary PER PARTITION (mapPartitions,
    // constant memory) and ships only its ≤127 surviving keys; the
    // pigeonhole argument makes the union of partition summaries a
    // SUPERSET of every φ=1/100-heavy key (a key with global count
    // > N/100 has local count > n_p/100 ≥ n_p/128 in at least one
    // partition, and a size-127 summary keeps every key locally above
    // n_p/128 — superset property spec-asserted in ScaleSpec over the
    // exposed mgCandidates helper). Pass 2 recounts ONLY the candidates
    // exactly (broadcast semi join, map-side-combined groupBy) and
    // keeps keys above the 1% share. At 100 TB a plain groupBy-count
    // ships one partial per DISTINCT key per partition — billions for
    // user-id-like domains — while this plan moves ≤127 longs per
    // partition plus O(candidates) exact partials. The key stream is
    // skew-manufactured as in q120: half the events collapse onto 7
    // hot keys, the rest stay unique, so exactly those 7 are heavy.
    QueryDef(
      "q140_heavy_hitters",
      (s, dir) => {
        val keyExpr =
          "CASE WHEN event_id % 4 < 2 THEN event_id % 7 ELSE event_id + 1000000 END"
        val keys = Tables(s, dir, "events")
          .select(expr(keyExpr).cast("long").as("k"))
        val candidates = mgCandidates(s, keys, 127)
        val total = Tables(s, dir, "events").agg(count(lit(1)).as("n_total"))
        keys.join(broadcast(candidates), "k")
          .groupBy("k").agg(count(lit(1)).as("cnt"))
          .join(broadcast(total), lit(true))
          .filter(col("cnt") * 100 > col("n_total"))
          .select(col("k"), col("cnt"),
            expr("cnt * 1000 div n_total").as("share_permille"))
          .orderBy("k")
      },
      Some("""
        WITH kk AS (
          SELECT CASE WHEN event_id % 4 < 2 THEN event_id % 7
                      ELSE event_id + 1000000 END AS k
          FROM events),
        tot AS (SELECT COUNT(*) AS n_total FROM kk),
        c AS (SELECT k, COUNT(*) AS cnt FROM kk GROUP BY k)
        SELECT k, cnt, cnt * 1000 // n_total AS share_permille
        FROM c, tot
        WHERE cnt * 100 > n_total
        ORDER BY k"""))
  ,

    // --------------------------------------------------------------- q149
    // Join-key skew diagnostic — the audit run BEFORE choosing between
    // q44's salting and q120's AQE path: per prospective join key
    // (customer key over orders), the distribution report that decides
    // the strategy — distinct keys, rows, max single-key share in
    // ppm, the top-1% keys' share, and a log2 frequency histogram
    // (how many keys occur 1x, 2-3x, 4-7x, …). Everything derives
    // from ONE keyed count aggregate; the rollups on top touch
    // O(distinct keys) rows, and the histogram is a bounded second
    // aggregate. At 100 TB this is the metadata pass that costs one
    // map-side-combined shuffle and prevents a blown join.
    QueryDef(
      "q149_skew_diagnostic",
      (s, dir) => {
        val freq =
          Tables(s, dir, "orders")
            .groupBy(col("o_custkey").as("k"))
            .agg(count(lit(1)).as("c"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hist = freq
          // floor(log2(c)) stated INTEGER-exactly as length(bin(c))-1:
          // float log2 rounds below the integer at powers of two in
          // some libm builds, which would shift a histogram bucket
          .withColumn("bucket", expr("cast(length(bin(c)) - 1 AS BIGINT)"))
          .groupBy("bucket").agg(count(lit(1)).as("n_keys"),
            sum("c").as("n_rows"))
        val tot = freq.agg(
          count(lit(1)).as("n_distinct"), sum("c").as("n_total"),
          max("c").as("max_c"))
        hist.join(broadcast(tot), lit(true))
          .select(col("bucket"), col("n_keys"), col("n_rows"),
            col("n_distinct"), col("n_total"),
            expr("max_c * 1000000 div n_total").as("max_key_ppm"),
            expr("n_rows * 1000 div n_total").as("bucket_permille"))
          .orderBy("bucket")
      },
      Some("""
        WITH f AS (
          SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
        t AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(SUM(c) AS BIGINT) AS n_total,
                 CAST(MAX(c) AS BIGINT) AS max_c
          FROM f),
        h AS (
          SELECT CAST(LENGTH(BIN(c)) - 1 AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(c) AS BIGINT) AS n_rows
          FROM f GROUP BY 1)
        SELECT bucket, n_keys, n_rows, n_distinct, n_total,
               max_c * 1000000 // n_total AS max_key_ppm,
               n_rows * 1000 // n_total AS bucket_permille
        FROM h CROSS JOIN t
        ORDER BY bucket""")),

    // --------------------------------------------------------------- q170
    // Exact mergeable distinct via bitmaps — the scale answer to
    // "distinct users per type, any horizon" that HLL (q46/q111) only
    // approximates: per (type, day, bucket) the user ids collapse into
    // RoaringBitmap-style chunks (bitmap_construct_agg over 32k-wide
    // buckets), and those per-day pre-aggregates OR-merge
    // (bitmap_or_agg) into EXACT month-level distincts — no re-scan of
    // the raw events, no approximation. The same pre-aggregate also
    // answers Σ per-day distincts (the engagement denominator), so one
    // materialization serves both. Everything shuffles bitmap bytes
    // keyed by (type, bucket) — user ids cross the wire once, as bits.
    QueryDef(
      "q170_bitmap_distinct",
      (s, dir) => {
        val perDay = Tables.events(s, dir)
          .select(col("event_type"),
            expr("ts_us div 86400000000").as("day"), col("user_id"))
          .groupBy(col("event_type"), col("day"),
            expr("bitmap_bucket_number(user_id)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
            .as("bm"))
        val monthly = perDay
          .groupBy("event_type", "bucket")
          .agg(expr("bitmap_or_agg(bm)").as("bmm"))
          .groupBy("event_type")
          .agg(sum(expr("bitmap_count(bmm)")).as("n_users"))
        val userDays = perDay
          .select(col("event_type"), col("day"),
            expr("bitmap_count(bm)").as("c"))
          .groupBy("event_type").agg(sum("c").as("user_days"))
        monthly.join(userDays, "event_type")
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 user_id
          FROM events),
        m AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_users
              FROM e GROUP BY 1),
        d AS (SELECT event_type, day, COUNT(DISTINCT user_id) AS c
              FROM e GROUP BY 1, 2),
        ud AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS user_days
               FROM d GROUP BY 1)
        SELECT event_type, CAST(n_users AS BIGINT) AS n_users, user_days
        FROM m JOIN ud USING (event_type)
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q180
    // Exact distinct-count CUBE from ONE bitmap pre-aggregate — the
    // composition that makes q170's bitmaps pay for themselves: the
    // per-(type, day, bucket) bitmaps OR-merge along each grouping of
    // CUBE(type, day) — per type, per day, and grand total — so four
    // distinct-count reports cost one pass over the raw events plus
    // three slim re-merges of kilobyte bitmaps. COUNT(DISTINCT) under
    // CUBE is exactly what engines can't partial-aggregate from counts
    // alone; bitmaps restore map-side mergeability with EXACT results
    // (HLL's mergeability, none of its error). Week keys keep the
    // grouping domain bounded.
    QueryDef(
      "q180_bitmap_distinct_cube",
      (s, dir) => {
        val pre = Tables.events(s, dir)
          .select(col("event_type"),
            expr("ts_us div 604800000000").as("week"), col("user_id"))
          .groupBy(col("event_type"), col("week"),
            expr("bitmap_bucket_number(user_id)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
            .as("bm"))
          .persist() // one raw-events pass feeds all 4 groupings
        def mergeBy(keys: Seq[String], label: Seq[org.apache.spark.sql.Column]) =
          pre.groupBy((keys :+ "bucket").map(col): _*)
            .agg(expr("bitmap_or_agg(bm)").as("bmm"))
            .groupBy(keys.map(col): _*)
            .agg(sum(expr("bitmap_count(bmm)")).as("n_users"))
            .select(label :+ col("n_users"): _*)
        val all = lit("ALL")
        val frames = Seq(
          mergeBy(Seq("event_type", "week"),
            Seq(col("event_type"), col("week").cast("string").as("week"))),
          mergeBy(Seq("event_type"), Seq(col("event_type"), all.as("week"))),
          mergeBy(Seq("week"),
            Seq(all.as("event_type"), col("week").cast("string").as("week"))),
          mergeBy(Seq(), Seq(all.as("event_type"), all.as("week"))))
        frames.reduce(_ unionByName _).orderBy("event_type", "week")
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week,
                 user_id
          FROM events)
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(week AS VARCHAR), 'ALL') AS week,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM e
        GROUP BY CUBE (event_type, week)
        ORDER BY event_type, week"""))
  ,

    // --------------------------------------------------------------- q237
    // KMV (k-minimum-values) distinct sketch — the third mergeable
    // distinct estimator next to HLL (q111/q137) and exact bitmaps
    // (q170): keep the k smallest hash values per group; the k-th
    // smallest h_k estimates distinct = (k−1)·2⁶⁰ div h_k. The hash is
    // md5-derived (q27's discipline — NOT xxhash64, precisely so the
    // oracle folds the identical 60-bit integers), the estimate is
    // integer-exact through DECIMAL(38)/HUGEINT ((k−1)·2⁶⁰ ≈ 1.7e19
    // overflows BIGINT), and a group with < k distinct values reports
    // exactly (the standard KMV small-cardinality path). Scale shape:
    // the rank ≤ k filter plans as WindowGroupLimit, so every task
    // keeps only its local k minima per group map-side — sketch-sized
    // state, one exchange; the audit joins the exact count to report
    // err_ppm, which a production rollup would drop.
    QueryDef(
      "q237_kmv_distinct_sketch",
      (s, dir) => {
        val k = 16
        val d = Tables.events(s, dir)
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("hv", expr(
            "cast(conv(substr(md5(cast(user_id AS string)), 1, 15), 16, 10) AS BIGINT)"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("hv", "user_id")
        val ranked = d.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        val kth = ranked.filter(col("rk") === k)
          .select(col("event_type"), col("hv").as("kth_hash"))
        d.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
          .join(kth, Seq("event_type"), "left")
          .withColumn("n_est", expr(
            s"""CASE WHEN kth_hash IS NULL THEN n_exact
                     ELSE cast(cast(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976
                          div kth_hash AS BIGINT) END"""))
          .select(col("event_type"), col("n_exact"),
            coalesce(col("kth_hash"), lit(0L)).as("kth_hash"), col("n_est"),
            expr("""cast(abs(cast(n_est AS DECIMAL(38,0)) - n_exact) * 1000000
                         div n_exact AS BIGINT)""").as("err_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (
          SELECT DISTINCT event_type, user_id FROM events),
        h AS (
          SELECT event_type, user_id,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS hv
          FROM d),
        ranked AS (
          SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY hv, user_id) AS rk
          FROM h),
        kth AS (SELECT event_type, hv AS kth_hash FROM ranked WHERE rk = 16),
        ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
               FROM d GROUP BY event_type),
        est AS (
          SELECT ex.event_type, n_exact,
                 COALESCE(kth_hash, 0) AS kth_hash,
                 CASE WHEN kth_hash IS NULL THEN n_exact
                      ELSE CAST(CAST(15 AS HUGEINT) * 1152921504606846976
                           // kth_hash AS BIGINT) END AS n_est
          FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type)
        SELECT event_type, n_exact, CAST(kth_hash AS BIGINT) AS kth_hash,
               n_est,
               CAST(abs(CAST(n_est AS HUGEINT) - n_exact) * 1000000
                 // n_exact AS BIGINT) AS err_ppm
        FROM est
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q285
    // COUNT-MIN sketch point queries — the classic mergeable frequency
    // sketch (Cormode & Muthukrishnan 2005) next to the suite's HLL
    // (q46), KMV (q237), quantile (q53/q127), bloom (q98) and
    // Misra-Gries (q140) tiers: d=4 hash rows × w=256 buckets of pure
    // counts, built in ONE narrow pass (tokens fan out ×4 — map-side
    // partial counts mean the shuffle carries ≤ d·w rows per
    // partition, never tokens) and queryable/mergeable by bucket-wise
    // addition — exactly the per-shard summary a 100 TB corpus merges
    // across file groups. Estimate = min over the 4 rows; CMS NEVER
    // undercounts, so the audit joins the top-20 exact heavy hitters
    // against their estimates and reports the overcount and its ppm —
    // the number that tells an owner whether w=256 suffices at their
    // skew. Hashes are md5-derived (the q255 bucket recipe) so both
    // engines index identical cells; everything is integer.
    QueryDef(
      "q285_countmin_sketch",
      (s, dir) => {
        // spread (r14, guide §2.5): the one-task scan otherwise
        // serializes the token explode AND the 4-row crossJoin + md5
        // sketch pass built on this cached frame
        val tok = cmsTokens(graft.Tables.spread(
            Tables(s, dir, "documents").select("doc_id", "text"),
            col("doc_id")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rws = cmsRows(s)
        val sketch = tok.crossJoin(rws)
          .select(col("r"), expr(cmsBucket).as("b"))
          .groupBy("r", "b").agg(count(lit(1)).as("c"))
        cmsEstimates(tok, rws, sketch)
      },
      Some(countminOracle))
  )

  /** q285/s46 shared: the non-empty space-split tokens (word) of
    * `docs` (text). */
  private[graft] def cmsTokens(docs: org.apache.spark.sql.DataFrame) =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")

  /** q285/s46 shared: the sketch's 4 hash rows (r). */
  private[graft] def cmsRows(s: org.apache.spark.sql.SparkSession) =
    s.range(0, 4).select(col("id").cast("int").as("r"))

  /** q285/s46 shared: a (r, word) pair's bucket in the 256-wide row. */
  private[graft] val cmsBucket: String =
    "cast(conv(substr(md5(concat('r', cast(r AS STRING), ':', " +
      "word)), 1, 15), 16, 10) AS BIGINT) % 256"

  /** q285/s46 shared: the point estimates (min over the 4 rows of the
    * `sketch` (r, b, c) cells) of the 20 most frequent `tokens`, against
    * their exact counts. */
  private[graft] def cmsEstimates(tokens: org.apache.spark.sql.DataFrame,
      rws: org.apache.spark.sql.DataFrame,
      sketch: org.apache.spark.sql.DataFrame) =
    tokens.groupBy("word").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("word")).limit(20)
      .crossJoin(rws)
      .withColumn("b", expr(cmsBucket))
      .join(sketch, Seq("r", "b"))
      .groupBy("word")
      .agg(max("n_exact").as("n_exact"), min("c").as("n_est"))
      .select(col("word"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"),
        expr("(n_est - n_exact) * 1000000 div n_exact").as("over_ppm"))
      .orderBy(col("n_exact").desc, col("word"))

  /** q285's oracle, shared VERBATIM by s46 (the stream-built sketch
    * must serve identical point estimates). */
  private[graft] def countminOracle: String = """
        WITH tok AS MATERIALIZED (
          SELECT w AS word
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
          WHERE w <> ''),
        exact AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS n_exact
          FROM tok GROUP BY word),
        top AS (
          SELECT * FROM exact ORDER BY n_exact DESC, word LIMIT 20),
        rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        sk AS MATERIALIZED (
          SELECT r,
                 CAST(concat('0x', substr(md5(concat('r',
                   CAST(r AS VARCHAR), ':', word)), 1, 15))
                   AS BIGINT) % 256 AS b,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM tok CROSS JOIN rws
          GROUP BY 1, 2),
        pr AS (
          SELECT t.word, t.n_exact, MIN(sk.c) AS n_est
          FROM top t
          CROSS JOIN rws
          JOIN sk ON sk.r = rws.r
                 AND sk.b = CAST(concat('0x', substr(md5(concat('r',
                   CAST(rws.r AS VARCHAR), ':', t.word)), 1, 15))
                   AS BIGINT) % 256
          GROUP BY t.word, t.n_exact)
        SELECT word, n_exact,
               CAST(n_est AS BIGINT) AS n_est,
               CAST(n_est - n_exact AS BIGINT) AS overcount,
               CAST((n_est - n_exact) * 1000000 // n_exact AS BIGINT)
                 AS over_ppm
        FROM pr
        ORDER BY n_exact DESC, word"""

  /** q140's pass-1: per-partition Misra-Gries summaries of size `m`,
    * unioned and deduped. Guarantee (spec-asserted): the result contains
    * every key whose GLOBAL count exceeds N/(m+1) — per partition, MG
    * keeps any key locally above n_p/(m+1), and a globally-heavy key is
    * locally heavy somewhere by pigeonhole. Constant memory per task,
    * ≤ m rows shipped per partition. */
  private[graft] def mgCandidates(
      s: org.apache.spark.sql.SparkSession,
      keys: org.apache.spark.sql.DataFrame,
      m: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    keys.select(col("k").cast("long")).as[Long].mapPartitions { it =>
      var counts = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { k =>
        if (counts.contains(k)) counts(k) += 1L
        else if (counts.size < m) counts(k) = 1L
        else {
          // MG decrement step: all counters down one, zeros evicted,
          // the unseen key not admitted.
          val next = scala.collection.mutable.LongMap.empty[Long]
          counts.foreach { case (kk, v) => if (v > 1L) next(kk) = v - 1L }
          counts = next
        }
      }
      counts.keysIterator
    }.toDF("k").distinct()
  }

  /** q121/q124 shared: 40 overlapping value ranges (range_id, lo, hi)
    * in cents, 1500 wide at a 1100 stride. */
  private def valueRanges(s: org.apache.spark.sql.SparkSession) =
    s.range(0, 40)
      .select(col("id").as("range_id"),
        (col("id") * 1100 + 37).as("lo"), (col("id") * 1100 + 1537).as("hi"))

  /** q121/q124 shared: every event's value in integer cents (vc). */
  private def eventCents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "events")
      .select(expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))

  /** q121/q124 shared: events and value sum per range over the
    * containment-joined (range_id, vc) rows. */
  private def rangeCounts(joined: org.apache.spark.sql.DataFrame) =
    joined.groupBy("range_id")
      .agg(count(lit(1)).as("n_in_range"), sum("vc").as("sum_cents"))
      .orderBy("range_id")

  /** q127/s20 shared: merge the (event_type, day, bin, cnt) daily
    * histograms and read off each type's p50/p95 bin floors — the first
    * bin whose running count reaches q% of the total. */
  private[graft] def quantileReadoff(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val merged = daily.groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
    val tot = merged.groupBy("event_type").agg(sum("cnt").as("total_n"))
    val days = daily.groupBy("event_type")
      .agg(countDistinct("day").as("n_days"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = merged.withColumn("run", sum("cnt").over(w))
      .join(tot, "event_type")
    def pick(q: Int) = cum
      .filter(col("run") * 100 >= col("total_n") * q)
      .groupBy("event_type").agg(min("bin").as(s"b$q"))
    tot.join(days, "event_type")
      .join(pick(50), "event_type").join(pick(95), "event_type")
      .select(col("event_type"), col("n_days"), col("total_n"),
        (col("b50") * 1000).as("p50_floor_cents"),
        (col("b95") * 1000).as("p95_floor_cents"))
      .orderBy("event_type")
  }

  /** q127's oracle, shared verbatim by s20. */
  private[graft] def quantileHistOracle: String = """
        WITH binned AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000
                   AS bin
          FROM events),
        merged AS (
          SELECT event_type, bin, COUNT(*) AS cnt
          FROM binned GROUP BY event_type, bin),
        tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total_n
                FROM merged GROUP BY event_type),
        days AS (SELECT event_type, COUNT(DISTINCT day) AS n_days
                 FROM binned GROUP BY event_type),
        cum AS (
          SELECT m.event_type, m.bin, t.total_n,
                 SUM(m.cnt) OVER (PARTITION BY m.event_type ORDER BY m.bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM merged m JOIN tot t ON m.event_type = t.event_type),
        p50 AS (SELECT event_type, MIN(bin) AS b50 FROM cum
                WHERE run * 100 >= total_n * 50 GROUP BY event_type),
        p95 AS (SELECT event_type, MIN(bin) AS b95 FROM cum
                WHERE run * 100 >= total_n * 95 GROUP BY event_type)
        SELECT t.event_type AS event_type, d.n_days, t.total_n,
               CAST(b50 * 1000 AS BIGINT) AS p50_floor_cents,
               CAST(b95 * 1000 AS BIGINT) AS p95_floor_cents
        FROM tot t
        JOIN days d ON t.event_type = d.event_type
        JOIN p50 ON t.event_type = p50.event_type
        JOIN p95 ON t.event_type = p95.event_type
        ORDER BY t.event_type"""

  /** q121's oracle, shared verbatim by q124. */
  private[graft] def rangeJoinOracle: String = """
        WITH f AS (
          SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        ranges AS (
          SELECT CAST(r.r AS BIGINT) AS range_id,
                 r.r * 1100 + 37 AS lo, r.r * 1100 + 1537 AS hi
          FROM (SELECT UNNEST(range(0, 40)) AS r) r)
        SELECT range_id, COUNT(*) AS n_in_range,
               CAST(SUM(vc) AS BIGINT) AS sum_cents
        FROM f JOIN ranges ON vc >= lo AND vc < hi
        GROUP BY range_id
        ORDER BY range_id"""

  /** q44's oracle, shared verbatim by q92. */
  private[graft] def saltedAggOracle: String = """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""
}
