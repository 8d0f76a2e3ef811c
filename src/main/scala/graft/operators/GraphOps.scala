package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over the relational fixture — the family a
  * warehouse reaches for when "who links to whom" questions (supplier
  * dependency, dedup clusters, influence ranking) outgrow one join.
  * Complements q50 (connected components over the near-dup pair graph)
  * and q88 (recursive chain traversal) with a weighted POWER-ITERATION
  * ranking: the shape (edges join ranks → partial-agg inflow → rebuild
  * ranks, k times) is PageRank's, and it is exactly the loop GraphX /
  * Pregel run — expressed in DataFrames so Catalyst handles partial
  * aggregation and AQE each iteration.
  *
  * 100 TB scale design: the edge list is the big side and stays put —
  * each iteration shuffles only (node, rank) pairs (metadata-sized
  * relative to edges) into the edge join, and the inflow aggregate
  * map-side-combines per dst before moving. Rank arithmetic is integer
  * parts-per-billion, so partial aggregation is order-independent and
  * bit-stable (no float accumulation drift across cluster layouts).
  * Lineage grows linearly in iterations; past ~10 rounds a production
  * loop checkpoints like q50 does (localCheckpoint every 5).
  */
object GraphOps {

  private val Damp = 85 // ×/100 — 0.85 damping, kept integer
  private val Scale = 1000000000L // ranks in parts-per-billion

  /** One DuckDB power-iteration CTE pair (inflow + next rank), kept
    * adjacent to the Spark loop below so the two stay in lock-step. */
  private def duckIter(n: Int): String = s"""
        inf$n AS (
          SELECT dst, SUM((r * w) // ow) AS inflow
          FROM e JOIN r${n - 1} ON r${n - 1}.node = e.src
          GROUP BY dst),
        r$n AS (
          SELECT node,
                 (150000000 // (SELECT c FROM nn))
                   + ($Damp * COALESCE(inflow, 0)) // 100 AS r
          FROM (SELECT n_nationkey AS node FROM nation) nodes
          LEFT JOIN inf$n ON nodes.node = inf$n.dst)"""

  val all: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q106
    // Nation trade-flow PageRank: edges are supplier-nation →
    // customer-nation weighted by lineitem count (who ships to whom),
    // ranks start uniform and run 5 damped power iterations. Per
    // iteration each edge forwards rank[src]·w/out_w (integer div in
    // ppb) and every node is rebuilt as base + 0.85·inflow. Dangling
    // nodes (no out-edges) drop their mass — the standard simplified
    // formulation, stated identically in the oracle.
    QueryDef(
      "q106_nation_pagerank",
      (s, dir) => {
        val nations = Tables(s, dir, "nation").select(col("n_nationkey").as("node"))
        // nation is a metadata-sized dimension (25 rows at every SF);
        // the count is a scalar driver aggregate, same discipline as
        // q58's corpus-size scalar
        val nNodes = nations.count()
        val base = 150000000L / nNodes // (1-d)/N in ppb, integer
        val edges = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
          .join(Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          // supplier SCALES with SF — no broadcast hint (the s05 lesson);
          // AQE picks broadcast when the projection is actually small
          .join(Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          .agg(count(lit(1)).as("w"))
        val outW = edges.groupBy("src").agg(sum("w").as("ow"))
        // the weighted edge list is the loop's big side: build once,
        // cache once, release after the final action
        val e = TrackedCaches.track(edges.join(outW, "src").persist())
        var rank = nations.select(col("node"), lit(Scale / nNodes).as("r"))
        for (_ <- 1 to 5) {
          val inflow = e.join(rank, col("src") === col("node"))
            .select(col("dst"), expr("(r * w) div ow").as("c"))
            .groupBy("dst").agg(sum("c").as("inflow"))
          rank = nations.join(inflow, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(base) + expr(s"($Damp * coalesce(inflow, 0L)) div 100")).as("r"))
        }
        rank.select(col("node").as("n_nationkey"), col("r").as("rank_ppb"))
          .orderBy(col("rank_ppb").desc, col("n_nationkey"))
      },
      Some(s"""
        WITH edges AS (
          SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY src, dst),
        ow AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
        e AS (SELECT edges.src, dst, w, ow.ow FROM edges JOIN ow USING (src)),
        nn AS (SELECT COUNT(*) AS c FROM nation),
        r0 AS (SELECT n_nationkey AS node,
                      $Scale // (SELECT c FROM nn) AS r FROM nation),
        ${(1 to 5).map(duckIter).mkString(",")}
        SELECT node AS n_nationkey, CAST(r AS BIGINT) AS rank_ppb
        FROM r5
        ORDER BY rank_ppb DESC, n_nationkey"""))
  ,

    // --------------------------------------------------------------- q129
    // Triangle counting over the co-purchase graph — the classic
    // distributed-graph benchmark, and the clustering-coefficient
    // numerator behind "do these products form communities?". Nodes are
    // parts; edges are part pairs co-ordered with support ≥ 2 (q115's
    // pair stream, thresholded). The count uses the ORIENTED
    // node-iterator algorithm: every edge points lower→higher part id,
    // wedges come from one equi-join of the edge list with itself on
    // the middle node, and a second equi-join closes them — each
    // triangle (a<b<c) is found exactly once, no division by 6, and
    // wedge fan-out is bounded by FORWARD degree (≤ total degree, the
    // reason oriented counting survives hub nodes). Output is the
    // single audit row: edges, wedges, triangles, and an exact id-sum
    // checksum over the closed triangles.
    // 100 TB shape: both joins are equi-joins on node ids (shuffle
    // carries (a,b,c) id triples, never adjacency lists); the edge list
    // is cached once and reused by all three consumers; the three
    // scalar aggregates broadcast-cross into one row (the q58/q71
    // single-row discipline).
    QueryDef(
      "q129_triangle_count",
      (s, dir) => {
        // pair mining comes from the session-shared CoPurchase artifact
        // (r14): same distinct + self-join + keyed count, built once per
        // session instead of once per consumer query
        val e = TrackedCaches.track(CoPurchase.pairSup(s, dir)
          .filter(col("sup") >= 2).select("u", "v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val wed = e.select(col("u").as("wa"), col("v").as("wb"))
          .join(e.select(col("u").as("wb2"), col("v").as("wc")),
            col("wb") === col("wb2"))
          .select("wa", "wb", "wc")
        val tri = wed.join(e,
          wed("wa") === e("u") && wed("wc") === e("v"))
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(wed.agg(count(lit(1)).as("n_wedges")))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles"),
            sum(col("wa") + col("wb") + col("wc")).as("tri_id_sum")))
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pairs AS (
          SELECT a.pk AS u, b.pk AS v, COUNT(*) AS sup
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY u, v),
        e AS (SELECT u, v FROM pairs WHERE sup >= 2),
        wed AS (
          SELECT e1.u AS wa, e1.v AS wb, e2.v AS wc
          FROM e e1 JOIN e e2 ON e1.v = e2.u),
        tri AS (
          SELECT wa, wb, wc FROM wed JOIN e ON wed.wa = e.u AND wed.wc = e.v)
        SELECT (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM wed) AS n_wedges,
               (SELECT COUNT(*) FROM tri) AS n_triangles,
               (SELECT CAST(SUM(wa + wb + wc) AS BIGINT) FROM tri)
                 AS tri_id_sum""")),

    // --------------------------------------------------------------- q189
    // Local clustering coefficient per part — how tightly each part's
    // co-purchase neighborhood closes on itself (2·tri(v) / deg(v)·
    // (deg(v)−1) in exact ppm): the community-structure signal that
    // separates hub parts (bridging many baskets, low closure) from
    // clique parts (bought in tight bundles). Reuses q129's oriented
    // triangle enumeration (u<v<w once each) and credits each triangle
    // to its three corners — so the heavy work stays the wedge
    // equi-join on the SUPPORT-FILTERED edge list, never an all-pairs
    // pass, and the per-node rollups are keyed aggregates that
    // partial-combine map-side. Degrees count both edge directions by
    // unioning the two projections before one keyed count.
    QueryDef(
      "q189_clustering_coefficient",
      (s, dir) => {
        // session-shared CoPurchase pair mining (r14, see q129)
        val e = TrackedCaches.track(CoPurchase.pairSup(s, dir)
          .filter(col("sup") >= 2).select("u", "v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val deg = e.select(col("u").as("node"))
          .union(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val wed = e.select(col("u").as("wa"), col("v").as("wb"))
          .join(e.select(col("u").as("wb2"), col("v").as("wc")),
            col("wb") === col("wb2"))
          .select("wa", "wb", "wc")
        val tri = wed.join(e, wed("wa") === e("u") && wed("wc") === e("v"))
          .select(explode(array(col("wa"), col("wb"), col("wc"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"))
          .filter(col("deg") >= 2)
          .withColumn("coeff_ppm",
            expr("2 * tri * 1000000 div (deg * (deg - 1))"))
          .orderBy("node")
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pairs AS (
          SELECT a.pk AS u, b.pk AS v, COUNT(*) AS sup
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY u, v),
        e AS (SELECT u, v FROM pairs WHERE sup >= 2),
        deg AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e) d
          GROUP BY node),
        wed AS (
          SELECT e1.u AS wa, e1.v AS wb, e2.v AS wc
          FROM e e1 JOIN e e2 ON e1.v = e2.u),
        tris AS (
          SELECT wa, wb, wc FROM wed JOIN e ON wed.wa = e.u AND wed.wc = e.v),
        tri AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
            SELECT unnest([wa, wb, wc]) AS node FROM tris) t
          GROUP BY node)
        SELECT d.node, d.deg, COALESCE(tri.tri, 0) AS tri,
               CAST(2 * COALESCE(tri.tri, 0) * 1000000
                    // (d.deg * (d.deg - 1)) AS BIGINT) AS coeff_ppm
        FROM deg d LEFT JOIN tri ON d.node = tri.node
        WHERE d.deg >= 2
        ORDER BY d.node""")),

    // --------------------------------------------------------------- q192
    // 3-core peeling over the co-purchase graph — the standard
    // dense-subgraph extraction (drop nodes of induced degree < 3,
    // recompute, repeat): what survives is the stable co-purchase core
    // that basket recommendations can trust. The operator is pinned as
    // EXACTLY 12 peeling rounds in both engines, reporting the full
    // (round, n_alive, node_checksum) trajectory — a bounded-round
    // contract is well-defined at every scale factor, unlike
    // "iterate to convergence", whose round count depends on the data
    // (sf0.01 converges in 10; the flat tail in the trajectory SHOWS
    // convergence). Per round: two semi-joins restrict the edge list
    // to surviving endpoints and one keyed count recomputes degrees —
    // edges stay put, only (node) sets move, and localCheckpoint
    // truncates lineage each round (the q50 discipline). The oracle's
    // 12 unrolled CTEs are generated by the same loop, so Spark and
    // DuckDB can never disagree on round structure.
    QueryDef(
      "q192_kcore_peeling",
      (s, dir) => {
        // session-shared CoPurchase pair mining (r14, see q129)
        val e = TrackedCaches.track(CoPurchase.pairSup(s, dir)
          .filter(col("sup") >= 2).select("u", "v")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        def summary(alive: org.apache.spark.sql.DataFrame, r: Int) =
          alive.agg(count(lit(1)).as("n_alive"),
              coalesce(sum("node"), lit(0L)).as("node_checksum"))
            .select(lit(r.toLong).as("round"), col("n_alive"),
              col("node_checksum"))
        // each round's alive set is an eager localCheckpoint leaf; tracked
        // so its blocks are released with the query, not at session stop
        var alive = TrackedCaches.track(e.select(col("u").as("node"))
          .union(e.select(col("v").as("node")))
          .distinct().localCheckpoint())
        val rounds = scala.collection.mutable.ArrayBuffer(summary(alive, 0))
        for (r <- 1 to 12) {
          val live = e
            .join(alive, e("u") === alive("node"), "left_semi")
            .join(alive, e("v") === alive("node"), "left_semi")
          alive = TrackedCaches.track(live.select(col("u").as("node"))
            .union(live.select(col("v").as("node")))
            .groupBy("node").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3).select("node")
            .localCheckpoint())
          rounds += summary(alive, r)
        }
        rounds.reduce(_ unionAll _).orderBy("round")
      },
      Some {
        val rounds = (1 to 12).map { r =>
          s"""a$r AS MATERIALIZED (
            SELECT node FROM (
              SELECT node, COUNT(*) AS deg FROM (
                SELECT e.u AS node FROM e
                JOIN a${r - 1} x ON e.u = x.node JOIN a${r - 1} y ON e.v = y.node
                UNION ALL
                SELECT e.v FROM e
                JOIN a${r - 1} x ON e.u = x.node JOIN a${r - 1} y ON e.v = y.node) d
              GROUP BY node) g
            WHERE deg >= 3)"""
        }.mkString(",\n")
        val sels = (0 to 12).map { r =>
          s"""SELECT $r AS round, CAST(COUNT(*) AS BIGINT) AS n_alive,
                 CAST(COALESCE(SUM(node), 0) AS BIGINT) AS node_checksum
             FROM a$r"""
        }.mkString("\nUNION ALL\n")
        s"""
        WITH items AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        pairs AS (
          SELECT a.pk AS u, b.pk AS v, COUNT(*) AS sup
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY u, v),
        e AS MATERIALIZED (SELECT u, v FROM pairs WHERE sup >= 2),
        a0 AS MATERIALIZED (SELECT DISTINCT node FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e) z),
        $rounds
        SELECT * FROM ($sels) t
        ORDER BY round"""
      })
  ,

    // --------------------------------------------------------------- q234
    // BFS hop levels over the co-purchase graph — the reachability
    // primitive under "how many hops away is this product from the
    // catalog's core?" and the fourth classic iterative-graph shape
    // next to PageRank (q106), components (q50) and k-core (q192).
    // Edges are q115's part-pair stream thresholded at support ≥ 2,
    // undirected; the source is the minimum part id in the edge set
    // (a driver scalar, q106's nNodes discipline). Four frontier
    // rounds: each expands frontier∘edges, anti-joins the settled set,
    // and persists the (tiny) frontier — the EDGE LIST NEVER MOVES,
    // each round shuffles frontier-sized (node) keys only, and the
    // level a node gets is minimal by construction (settled nodes are
    // never relabeled). Output is the per-level audit (count, id range,
    // exact id checksum) so a single wrong frontier cannot hash-match.
    // The oracle walks the same graph as a bounded recursive CTE and
    // takes MIN(level) per node.
    QueryDef(
      "q234_copurchase_bfs",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // session-shared CoPurchase pair mining (r14, see q129)
        val pairs = CoPurchase.pairSup(s, dir)
          .filter(col("sup") >= 2)
          .select("u", "v")
        val edges = TrackedCaches.track(
          pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
            .persist(MEMORY_AND_DISK))
        val startRow = edges.agg(min("u")).head()
        if (startRow.isNullAt(0)) {
          // no edge clears the support threshold at this SF — the audit
          // is empty, exactly as the oracle's empty recursion yields
          import s.implicits._
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("lvl", "n_nodes", "min_node", "max_node", "node_id_sum")
        } else {
          val start = startRow.getLong(0)
          import s.implicits._
          var levels: DataFrame = TrackedCaches.track(
            Seq((start, 0L)).toDF("node", "lvl").persist(MEMORY_AND_DISK))
          var frontier = levels
          for (l <- 1 to 4) {
            val next = TrackedCaches.track(
              frontier.join(edges, col("node") === col("u"))
                .select(col("v").as("node")).distinct()
                .join(levels.select("node"), Seq("node"), "left_anti")
                .withColumn("lvl", lit(l.toLong))
                .persist(MEMORY_AND_DISK))
            levels = TrackedCaches.track(
              levels.unionByName(next).persist(MEMORY_AND_DISK))
            frontier = next
          }
          levels.groupBy("lvl")
            .agg(count(lit(1)).as("n_nodes"),
              min("node").as("min_node"), max("node").as("max_node"),
              sum("node").as("node_id_sum"))
            .orderBy("lvl")
        }
      },
      Some("""
        WITH RECURSIVE items AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        p AS MATERIALIZED (
          SELECT a.pk AS u, b.pk AS v
          FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2),
        e AS MATERIALIZED (
          SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        s AS (SELECT MIN(u) AS sn FROM e WHERE u IS NOT NULL),
        reach AS (
          SELECT sn AS node, 0 AS lvl FROM s WHERE sn IS NOT NULL
          UNION
          SELECT e.v, r.lvl + 1
          FROM reach r JOIN e ON e.u = r.node
          WHERE r.lvl < 4),
        lv AS (SELECT node, MIN(lvl) AS lvl FROM reach GROUP BY node)
        SELECT CAST(lvl AS BIGINT) AS lvl,
               COUNT(*) AS n_nodes,
               CAST(MIN(node) AS BIGINT) AS min_node,
               CAST(MAX(node) AS BIGINT) AS max_node,
               CAST(SUM(node) AS BIGINT) AS node_id_sum
        FROM lv
        GROUP BY lvl
        ORDER BY lvl"""))
  ,

    // --------------------------------------------------------------- q246
    // Clustering-quality audit: NEWMAN MODULARITY of the near-dup
    // components over the verified pair graph — the "did the clustering
    // find real structure?" number a dedup pipeline reports before
    // trusting its clusters: Q = Σ_c (e_c/m − (d_c/2m)²). Connected
    // components make every edge intra-community (Σ e_c = m by
    // construction — stated, not hidden), so the informative term is
    // the degree concentration; both terms are computed per community
    // in exact ppm with truncating division pinned identically. Scale
    // shape: degrees are one keyed count over the (bounded, candidate-
    // generated) edge list; the per-community rollup joins labels to
    // degrees on the node key; m rides as a single-row broadcast.
    QueryDef(
      "q246_cluster_modularity",
      (s, dir) => {
        // shared computed-once graph (PairGraph) — already materialized
        // via eager localCheckpoint, so no per-query persist needed
        val pairs = PairGraph.pairs(s, dir).select("id_a", "id_b")
        val labels = PairGraph.labels(s, dir)
        val deg = pairs.select(col("id_a").as("node"))
          .unionByName(pairs.select(col("id_b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val m = pairs.agg(count(lit(1)).as("m"))
        val intra = pairs
          .join(labels.select(col("node").as("id_a"), col("label")), "id_a")
          .groupBy("label").agg(count(lit(1)).as("e_c"))
        labels.join(deg, "node")
          .groupBy("label")
          .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_c"))
          .join(intra, "label")
          .crossJoin(broadcast(m))
          .select(col("label").as("cluster_id"), col("n_nodes"),
            col("e_c"), col("d_c"),
            expr("""e_c * 1000000 div m
                    - d_c * d_c * 1000000 div (4 * m * m)""")
              .as("contribution_ppm"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.duckPairsCtes},
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS label FROM reach GROUP BY u),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
        deg AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT id_a AS node FROM pairs
            UNION ALL SELECT id_b FROM pairs) z
          GROUP BY node),
        intra AS (
          SELECT l.label, CAST(COUNT(*) AS BIGINT) AS e_c
          FROM pairs p JOIN labels l ON l.node = p.id_a
          GROUP BY l.label),
        comm AS (
          SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(d.deg) AS BIGINT) AS d_c
          FROM labels l JOIN deg d ON d.node = l.node
          GROUP BY l.label)
        SELECT comm.label AS cluster_id, n_nodes, e_c, d_c,
               e_c * 1000000 // m.m
                 - d_c * d_c * 1000000 // (4 * m.m * m.m)
                 AS contribution_ppm
        FROM comm JOIN intra ON intra.label = comm.label
        CROSS JOIN m
        ORDER BY cluster_id"""))
  ,

    // --------------------------------------------------------------- q316
    // HITS hubs & authorities (Kleinberg) — the mutual-reinforcement
    // ranking q106's PageRank can't express: on the customer→part
    // purchase bipartite graph, a good HUB (customer) is one who buys
    // authoritative parts, and a good AUTHORITY (part) is one bought
    // by good hubs. Three unrolled power-iteration rounds of the q297
    // integer discipline: each half-step is one edge-keyed join + one
    // keyed aggregate, then L1 renormalization to side-count·10⁶ (the
    // exactness-friendly variant of the usual L2 norm — stated) with
    // the product routed through DECIMAL(38) ↔ HUGEINT and floored at
    // 1 so a leaf can never zero a later step. Output: top-10 per
    // side via orderBy+limit (TakeOrderedAndProject — distributed
    // top-k, no global window), id-tiebroken. 100 TB shape: scores
    // live on node-keyed frames, edges shuffle by their key once per
    // half-step, totals ride as broadcast one-row aggregates.
    QueryDef(
      "q316_hits_ranking",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val edgesBase = Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .join(Tables(s, dir, "orders")
            .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        // VERDICT r9 item 5: persist TWO pre-partitioned copies of the
        // edge list — hashpartitioned by c for the a-steps (join key c)
        // and by p for the h-steps (join key p). Each of the six
        // half-step joins then reads its big side already partitioned on
        // its key (the cached InMemoryRelation keeps outputPartitioning),
        // so only the node-sized score frame exchanges per step instead
        // of the full edge list re-shuffling six times. Storage doubles;
        // at 100× scale the saved shuffle volume is 6× the edge list.
        val edgesByC = TrackedCaches.track(
          edgesBase.repartition(col("c")).persist(MEMORY_AND_DISK))
        // derived FROM the c-copy so the lineitem⋈orders build runs once
        val edgesByP = TrackedCaches.track(
          edgesByC.repartition(col("p")).persist(MEMORY_AND_DISK))
        // side counts are LOOP INVARIANTS: computed once as driver
        // scalars (r14) instead of 1-row aggregate frames broadcast into
        // every half-step — the old crossJoin(broadcast(cnt)) re-ran the
        // countDistinct job over the cached edges at EVERY one of the 6
        // half-step actions (12 redundant jobs per run)
        // one job for both side counts (r15): two separate countDistinct
        // actions paid two full scans of the cached edges
        val sideCounts = edgesByC
          .agg(countDistinct("c"), countDistinct("p")).head() // bounded: single-row aggregate (side counts)
        val ncV = sideCounts.getLong(0)
        val npV = sideCounts.getLong(1)
        def norm(df: DataFrame, key: String, sc: String, cnt: Long): DataFrame = {
          // fused materialize+total normalization (r15, VERDICT r14
          // item 1): the raw half-step aggregate is LAZILY
          // localCheckpointed and its L1 total read back by a
          // driver-scalar `agg(sum).head()` — the SAME job computes the
          // half-step, stores its RDD blocks, and returns the total, so
          // each half-step costs exactly ONE job and norm is a pure
          // literal projection over the checkpoint leaf that fuses into
          // the next half-step's join stage. The r14 global window
          // (Window.partitionBy(lit(1))) computed the total single-pass
          // but forced every node score through ONE task — the
          // WindowExec "No Partition Defined ... single partition"
          // shape, a scale-killer at 100 TB. Three scale-safe forms
          // were A/B'd against the r14 window on a quiet machine
          // (isolated warm runs, 12 reps each): lazy crossJoin(broadcast(
          // agg)) total 8.2-8.9 s (every half-step action spawns an
          // extra AQE-planned broadcast-subquery job) — REJECTED;
          // persist(MEMORY_AND_DISK)+fused head() 5.9-7.0 s (columnar
          // InMemoryRelation encode overhead) — REJECTED; lazy
          // localCheckpoint+fused head() best 5.36 s vs the window's
          // 5.32 s — equal cost, window-free, and the total agg is an
          // ordinary parallel two-phase HashAggregate.
          val raw = TrackedCaches.track(
            df.withColumnRenamed(sc, "raw").localCheckpoint(false))
          val tot = raw.agg(sum("raw")).head().getLong(0) // bounded: single-row aggregate (L1 total)
          raw.select(col(key),
            expr(s"""greatest(cast(CAST(raw AS DECIMAL(38,0)) * ${cnt}L
                       * 1000000 div ${tot}L AS BIGINT), 1L)""").as(sc))
        }
        var h = edgesByC.select(col("c")).distinct()
          .withColumn("h", lit(1000000L))
        var a: DataFrame = null
        // The PERSIST-per-half-step chain is safe against the r10
        // geometric-plan-growth failure (9.8 s of driver planning by
        // round 3) because that blowup came from norm referencing its
        // input TWICE (value + total): 2 references per step compound
        // to a 2⁶-wide tree. Since r15 norm consumes a driver-scalar
        // literal total, each step references its predecessor ONCE —
        // the logical tree grows linearly (6 nested joins by the last
        // step) and every persisted subtree is replaced by its
        // InMemoryRelation at plan time. The per-step `head()` inside
        // norm materializes each cache immediately, so no action ever
        // recomputes an earlier half-step. Caches are tracked so the
        // harness's post-drain releaseAll() frees their blocks
        // (ADVICE r14 item 3).
        (1 to 3).foreach { _ =>
          a = norm(edgesByC.join(h, "c").groupBy("p")
            .agg(sum("h").as("a")), "p", "a", npV)
          h = norm(edgesByP.join(a, "p").groupBy("c")
            .agg(sum("a").as("h")), "c", "h", ncV)
        }
        val topA = a.orderBy(col("a").desc, col("p")).limit(10)
          .select(lit("authority").as("side"), col("p").as("node_id"),
            col("a").as("score_ppm"))
        val topH = h.orderBy(col("h").desc, col("c")).limit(10)
          .select(lit("hub").as("side"), col("c").as("node_id"),
            col("h").as("score_ppm"))
        import org.apache.spark.sql.expressions.Window
        topA.unionByName(topH)
          .withColumn("side_rank", row_number().over(
            Window.partitionBy("side")
              .orderBy(col("score_ppm").desc, col("node_id")))
            .cast("long"))
          .orderBy("side", "side_rank")
      },
      // Every intermediate CTE is explicitly MATERIALIZED (r15): each
      // norm step references its raw predecessor TWICE (value + scalar
      // subquery total), so DuckDB's default CTE inlining re-expands
      // the chain ~2^6-fold — at sf1 the un-annotated oracle spilled
      // >76 GB of temp and never finished; annotated it runs in 9.3 s
      // with bit-identical rows (the sf1 gate's catch, see
      // OPTIMIZATION_r15.md). Result-neutral by SQL semantics.
      Some("""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nc AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS nc FROM e),
        np AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS np FROM e),
        h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e),
        a1r AS MATERIALIZED (SELECT p, CAST(SUM(h) AS BIGINT) AS a
                FROM e JOIN h0 USING (c) GROUP BY p),
        a1 AS MATERIALIZED (SELECT p, greatest(CAST(CAST(a AS HUGEINT)
                 * (SELECT np FROM np) * 1000000
                 // (SELECT SUM(a) AS sa FROM a1r) AS BIGINT), 1) AS a
               FROM a1r),
        h1r AS MATERIALIZED (SELECT c, CAST(SUM(a) AS BIGINT) AS h
                FROM e JOIN a1 USING (p) GROUP BY c),
        h1 AS MATERIALIZED (SELECT c, greatest(CAST(CAST(h AS HUGEINT)
                 * (SELECT nc FROM nc) * 1000000
                 // (SELECT SUM(h) AS sh FROM h1r) AS BIGINT), 1) AS h
               FROM h1r),
        a2r AS MATERIALIZED (SELECT p, CAST(SUM(h) AS BIGINT) AS a
                FROM e JOIN h1 USING (c) GROUP BY p),
        a2 AS MATERIALIZED (SELECT p, greatest(CAST(CAST(a AS HUGEINT)
                 * (SELECT np FROM np) * 1000000
                 // (SELECT SUM(a) AS sa FROM a2r) AS BIGINT), 1) AS a
               FROM a2r),
        h2r AS MATERIALIZED (SELECT c, CAST(SUM(a) AS BIGINT) AS h
                FROM e JOIN a2 USING (p) GROUP BY c),
        h2 AS MATERIALIZED (SELECT c, greatest(CAST(CAST(h AS HUGEINT)
                 * (SELECT nc FROM nc) * 1000000
                 // (SELECT SUM(h) AS sh FROM h2r) AS BIGINT), 1) AS h
               FROM h2r),
        a3r AS MATERIALIZED (SELECT p, CAST(SUM(h) AS BIGINT) AS a
                FROM e JOIN h2 USING (c) GROUP BY p),
        a3 AS MATERIALIZED (SELECT p, greatest(CAST(CAST(a AS HUGEINT)
                 * (SELECT np FROM np) * 1000000
                 // (SELECT SUM(a) AS sa FROM a3r) AS BIGINT), 1) AS a
               FROM a3r),
        h3r AS MATERIALIZED (SELECT c, CAST(SUM(a) AS BIGINT) AS h
                FROM e JOIN a3 USING (p) GROUP BY c),
        h3 AS MATERIALIZED (SELECT c, greatest(CAST(CAST(h AS HUGEINT)
                 * (SELECT nc FROM nc) * 1000000
                 // (SELECT SUM(h) AS sh FROM h3r) AS BIGINT), 1) AS h
               FROM h3r),
        ta AS MATERIALIZED (SELECT 'authority' AS side, p AS node_id, a AS score_ppm
               FROM a3 ORDER BY a DESC, p LIMIT 10),
        th AS MATERIALIZED (SELECT 'hub' AS side, c AS node_id, h AS score_ppm
               FROM h3 ORDER BY h DESC, c LIMIT 10),
        u AS MATERIALIZED (SELECT * FROM ta UNION ALL SELECT * FROM th)
        SELECT side, node_id, score_ppm,
               CAST(row_number() OVER (PARTITION BY side
                 ORDER BY score_ppm DESC, node_id) AS BIGINT) AS side_rank
        FROM u
        ORDER BY side, side_rank"""))
  )
}
