package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operator family over the `documents` fixture — the
  * training-data-pipeline core the reference lacks entirely (builder brief;
  * VERDICT r01 item 3): exact dedup, MinHash-LSH near-dup, SimHash near-dup.
  *
  * The fixture has no duplicate texts, so each query first constructs a
  * deterministic "re-crawl" corpus (original docs ∪ modified copies with
  * shifted doc_ids) that both Spark and the DuckDB oracle derive
  * identically from the fixture.
  *
  * 100 TB scale design:
  *  - exact dedup groups on a 256-bit content digest, not the full text —
  *    the shuffle carries 32 bytes + id per row instead of the document;
  *  - MinHash-LSH shuffles on (band, band_hash) buckets: candidate pairs
  *    are generated per-bucket (equi-join), NEVER via an all-pairs cross
  *    join; the exact-Jaccard verify touches only candidates;
  *  - SimHash buckets by 4×15-bit fingerprint chunks (pigeonhole: any
  *    pair within Hamming distance 3 shares at least one exact chunk),
  *    again equi-join shuffles only;
  *  - band/chunk hot buckets (skew) are the known failure mode at scale:
  *    both queries dedupe candidates before the verify join so a hot
  *    bucket costs candidate generation, not repeated verification. AQE
  *    skew-join handles the residual.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Re-crawl corpus for exact dedup: every 5th doc appears twice
    * (identical text, new id). */
  private def exactCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** Near-dup corpus: every 7th doc re-appears with its last word dropped
    * (new id) — a true near-duplicate with Jaccard (S-3)/S over 3-gram
    * shingles. */
  private def nearCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), " \\S+$", "").as("text")))
  }

  /** Distinct 3-gram word shingles (SQL-expression form shared by the
    * MinHash pipeline and its verify stage). */
  /** Expects a precomputed `w = split(text, ' ')` column: higher-order
    * lambdas are interpreted (CodegenFallback), so referencing `text`
    * directly would re-split the document for every shingle — O(len²)
    * per doc, the difference between seconds and minutes at sf0.1.
    *
    * zip_with over three aligned slices rather than
    * `transform(sequence(...), i -> concat_ws(element_at×3))`: the
    * sequence/transform form pays the interpreted-lambda toll once per
    * shingle with three boxed element_at probes inside — measured 8×
    * slower at sf0.1 (3.9 s vs 0.49 s for the corpus shingle pass,
    * r10). The slices pair elements positionally, so each lambda call
    * is a single concat; size(w) < 3 degenerates to empty slices and
    * needs no branch. */
  private[graft] val shinglesExpr: String =
    """array_distinct(zip_with(
         slice(w, 1, greatest(size(w) - 2, 0)),
         zip_with(slice(w, 2, greatest(size(w) - 2, 0)),
                  slice(w, 3, greatest(size(w) - 2, 0)),
                  (b, c) -> concat(b, ' ', c)),
         (a, bc) -> concat(a, ' ', bc)))"""

  /** q26's verified near-dup pair stream (id_a < id_b, exact-Jaccard
    * J ≥ 0.6 over LSH candidates) — shared with q50's duplicate-cluster
    * components, which consume pairs exactly as a production dedup
    * pipeline does: shingle → LSH candidates → verify → cluster. */
  /** (doc_id, s: shingle array) → (doc_id, band, bh) LSH bucket keys:
    * 64-element minhash signature computed COLUMNAR (explode + 64
    * codegen'd min() aggregates over seed-mixed rehashes — map-side
    * partial min means the shuffle carries one 64-long signature per
    * doc, not shingles), then 32 bands × 2 rows hashed to bucket keys.
    * Shared by q26's corpus self-join and q107's batch-vs-index probe. */
  private[graft] def bandBuckets(sh: DataFrame): DataFrame = {
    val minCols = (0 until 64).map(k =>
      min(xxhash64(col("h"), lit(k))).as(s"m$k"))
    val sig = sh
      .select(col("doc_id"), explode(col("s")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until 32).map(b =>
      struct(lit(b).as("band"),
        xxhash64(col(s"m${2 * b}"), col(s"m${2 * b + 1}")).as("bh")))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Distinct-3-gram shingle sets (doc_id, s) for either the near-dup
    * corpus (`near = true`) or the plain documents table. The expensive
    * derived input of every MinHash consumer — memoized session-wide by
    * [[PairGraph.shingles]] / [[PairGraph.corpusShingles]]; call those,
    * not this, from queries. */
  private[operators] def shingleSets(
      s: SparkSession, dir: String, near: Boolean): DataFrame =
    // spread: single-row-group fixture scan = one task; the split +
    // shingle construction is the CPU of this build (guide §2.5, r14)
    shingled(graft.Tables.spread(
      if (near) nearCorpus(s, dir) else docs(s, dir).select("doc_id", "text"),
      col("doc_id")))

  /** (doc_id, s): the word-3-shingle set of each doc of `df` (doc_id,
    * text) that has at least one shingle. */
  private[graft] def shingled(df: DataFrame): DataFrame = df
    .withColumn("w", split(col("text"), " "))
    .withColumn("s", expr(shinglesExpr))
    .filter(size(col("s")) > 0)
    .select("doc_id", "s")

  /** q107/s37 shared: the admission verdict per reason over the ingest
    * `batch` (doc_id), given the distinct near-dup `dupIds` (batch_id). */
  private[graft] def admissionReport(batch: DataFrame,
      dupIds: DataFrame): DataFrame =
    batch.join(dupIds.withColumn("dup", lit(true)),
        col("doc_id") === col("batch_id"), "left")
      .withColumn("reason",
        when(col("dup"), "near_dup").otherwise("admitted"))
      .groupBy("reason")
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("reason")

  /** The near-dup ingest batch over `corpus` (doc_id, text): every 9th
    * doc re-arrives with its last word dropped (a true near-dup of its
    * origin, id + 500000); every 9th+1 doc is genuinely novel text (no
    * shingle overlap with the corpus, id + 600000). */
  private[graft] def ingestBatch(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        regexp_replace(col("text"), " \\S+$", "").as("text"))
      .unionByName(corpus.filter(col("doc_id") % 9 === 1)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("novel content batch item "),
            col("doc_id").cast("string")).as("text")))

  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Shingle sets feed signature building AND both sides of the
    // verify join; the session-wide PairGraph memo (localCheckpoint)
    // is the reuse — without it the O(text) shingle construction runs
    // three times here alone, and again in every probe query. (At
    // cluster scale this is the canonical persisted artifact.)
    val sh = PairGraph.shingles(s, dir)
    // 64-element minhash signature, computed COLUMNAR: shingles
    // explode to rows (hashed once), and each of the 64 minhashes is
    // a codegen'd min() aggregate over a seed-mixed rehash — the
    // whole signature build stays inside whole-stage codegen. (A
    // nested transform/array_min lambda computes the same thing but
    // drops to the interpreted higher-order path: 10× slower at
    // sf0.1, worse at scale.) Map-side partial min() means the
    // shuffle carries one 64-long signature per doc, not shingles.
    val banded = PairGraph.bandIndex(s, dir)
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Verify candidates with exact Jaccard (semi-join shape: only
    // candidate ids rejoin their shingle sets).
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("s").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("s").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", size(array_union(col("sa"), col("sb"))))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select("id_a", "id_b", "inter", "uni")
  }

  /** Connected components over an undirected pair stream (`id_a`, `id_b`)
    * by iterative min-label propagation: label(u) ← min(label(u),
    * min_{(u,v)∈E} label(v)) to a fixpoint. Returns (`node`, `label`).
    *
    * Each iteration is one equi-join + partial-aggregated min — the
    * map-side combine means the shuffle carries one candidate label per
    * (node, partition). The driver loop carries only a scalar (never
    * rows), and iterations needed ≈ graph diameter, which for near-dup
    * clusters is small.
    *
    * Every `checkpointEvery`-th label frame is `localCheckpoint`ed
    * (eagerly) instead of persisted: persist caches the DATA but each
    * iteration's PLAN still references every prior iteration's join, so
    * a 25-iteration run would carry a 25-join lineage into any recovery
    * or re-plan; the checkpoint truncates lineage to the last interval.
    * Local (block-manager) checkpointing is the right trade single-JVM;
    * on a multi-executor cluster point `sc.setCheckpointDir` at durable
    * storage and swap `localCheckpoint` for `checkpoint`.
    *
    * A component with diameter > `maxIter` would exit un-converged and
    * silently return SPLIT clusters that still look plausible — that is
    * wrong data, so this fails loudly instead. */
  private[operators] def connectedComponents(pairs: DataFrame,
      maxIter: Int = 25, checkpointEvery: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges =
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .persist(MEMORY_AND_DISK)
    var labels =
      edges.select(col("u").as("node")).distinct()
        .withColumn("label", col("node"))
        .persist(MEMORY_AND_DISK)
    // convergence via the label-sum invariant: labels only ever
    // DECREASE, so the sum strictly drops iff any label changed —
    // one cheap aggregate per iteration instead of a join + count.
    // Decimal sum: exact and overflow-free at any corpus size.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one join + one keyed aggregate per iteration: neighbor labels
      // and the node's own label meet in the SAME min-aggregate (the
      // self-label rides the union), so the old third stage — re-joining
      // labels against the neighbor minimum — never happens. At cluster
      // scale that saved exchange is the whole label table per round.
      val stepped = edges
        .join(labels.select(col("node").as("v"), col("label").as("vl")), "v")
        .select(col("u").as("node"), col("vl").as("label"))
        .unionByName(labels)
        .groupBy("node").agg(min("label").as("label"))
      val next =
        if ((iter + 1) % checkpointEvery == 0) stepped.localCheckpoint(true)
        else stepped.persist(MEMORY_AND_DISK)
      val curSum = labelSum(next)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge after $iter iterations; " +
        "raise the cap (component diameter exceeds it)")
    labels
  }

  /** q261's frames, factored so the spec can assert the subgraph-only
    * recompute with counts (subEdges ⊂ standing ∪ new — the fixpoint
    * never re-runs on untouched components). */
  private[operators] final case class IncrementalCc(
      standingPairs: DataFrame, newPairs: DataFrame, subEdges: DataFrame,
      finalLabels: DataFrame, deltaNodes: DataFrame)

  private[operators] def incrementalCc(s: SparkSession, dir: String): IncrementalCc = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val standingPairs = PairGraph.pairs(s, dir).select("id_a", "id_b")
    val standingLabels = PairGraph.labels(s, dir)
    val delta = ingestBatch(docs(s, dir).select("doc_id", "text"))
    // Corpus-side shingles + band index come from the session-wide
    // PairGraph memo — an ingest tick probes the standing persisted
    // index, it never re-shingles/re-bands the corpus.
    val csh = PairGraph.shingles(s, dir)
    // spread (r14, guide §2.5): the delta is a union of two single-row-
    // group scans (≤2 tasks) feeding the shingle build and the 64-column
    // minhash signature aggregation — serialized, those were the bulk of
    // the tick's wall
    val bsh =
      shingled(graft.Tables.spread(delta, col("doc_id"))).persist(MEMORY_AND_DISK)
    def verify(cand: DataFrame): DataFrame = {
      val sets = csh.unionByName(bsh)
      cand
        .join(sets.select(col("doc_id").as("id_a"), col("s").as("sa")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("s").as("sb")), "id_b")
        .filter(size(array_intersect(col("sa"), col("sb"))) * 5
          >= size(array_union(col("sa"), col("sb"))) * 3)
        .select("id_a", "id_b")
    }
    val bBuckets = bandBuckets(bsh)
    val dcCand = bBuckets
      .select(col("doc_id").as("bid"), col("band"), col("bh"))
      .join(PairGraph.bandIndex(s, dir)
        .select(col("doc_id").as("cid"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(least(col("bid"), col("cid")).as("id_a"),
        greatest(col("bid"), col("cid")).as("id_b"))
      .distinct()
    val ddCand = bBuckets.select(col("doc_id").as("id_a"), col("band"), col("bh"))
      .join(bBuckets.select(col("doc_id").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // Eager localCheckpoint, not persist: the fixpoint below runs one
    // ACTION per iteration, and every action re-analyzes its full
    // logical plan — chaining those plans through the 64-column minhash
    // candidate pipeline cost seconds of DRIVER (Catalyst) time per
    // iteration with the data fully cached. Truncating lineage here
    // keeps each iteration's plan a few nodes deep (measured: q261
    // 17 s → ~4 s at sf0.01). Blocks are pair-stream-sized and are
    // reclaimed by the ContextCleaner when the frames drop out of scope.
    val newPairs = verify(dcCand.unionByName(ddCand)).localCheckpoint(true)
    // affected components: standing labels touched by a new pair
    val touchedNodes = newPairs.select(col("id_a").as("node"))
      .unionByName(newPairs.select(col("id_b").as("node"))).distinct()
    val affectedLabels = standingLabels
      .join(touchedNodes, "node").select("label").distinct()
    val affectedNodes = standingLabels
      .join(affectedLabels, "label").select("node")
      .persist(MEMORY_AND_DISK)
    val subEdges = standingPairs
      .join(affectedNodes.select(col("node").as("id_a")), Seq("id_a"), "left_semi")
      .unionByName(newPairs)
      .localCheckpoint(true) // same driver-side plan-depth argument
    val subLabels = connectedComponents(subEdges)
    val finalLabels = standingLabels
      .join(affectedNodes, Seq("node"), "left_anti")
      .unionByName(subLabels)
    IncrementalCc(standingPairs, newPairs, subEdges, finalLabels,
      bsh.select(col("doc_id").as("node")))
  }

  /** q158: sorted-neighborhood near-dup candidates — the THIRD classic
    * blocking family next to MinHash-LSH (q26) and prefix filtering
    * (q41): sort by a content key, compare each record only with its w
    * nearest neighbors in sort order (Hernández & Stolfo 1995). Stated
    * block-scoped for distribution: the neighborhood window rides a
    * prefix-block KEY (the multi-pass SNM trade — neighbors across a
    * block boundary are a second pass with a rotated key), so no global
    * window exists; leads carry only doc_ids and the Jaccard verify
    * re-joins text by id, touching candidates alone. */
  private[operators] val snmQuery: QueryDef = QueryDef(
    "q158_sorted_neighborhood",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = nearCorpus(s, dir)
        .withColumn("sk", substring(col("text"), 1, 24))
        .withColumn("blk", substring(col("text"), 1, 8))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy("blk").orderBy("sk", "doc_id")
      val cand = docs
        .select(col("blk"), col("sk"), col("doc_id"))
        .withColumn("n1", lead("doc_id", 1).over(w))
        .withColumn("n2", lead("doc_id", 2).over(w))
        .withColumn("n3", lead("doc_id", 3).over(w))
        .select(col("doc_id"), explode(array(col("n1"), col("n2"), col("n3")))
          .as("nbr"))
        .filter(col("nbr").isNotNull)
        .select(least(col("doc_id"), col("nbr")).as("id_a"),
          greatest(col("doc_id"), col("nbr")).as("id_b"))
        .distinct()
      val sets = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("ws"))
      cand
        .join(sets.select(col("doc_id").as("id_a"), col("ws").as("wa")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("ws").as("wb")), "id_b")
        .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
        .withColumn("uni", size(array_union(col("wa"), col("wb"))).cast("long"))
        .filter(col("inter") * 5 >= col("uni") * 4)
        .select(col("id_a"), col("id_b"),
          expr("inter * 1000 div uni").as("jaccard_permille"))
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, regexp_replace(text, ' \S+$', '')
        FROM documents WHERE doc_id % 7 = 0),
      keyed AS (
        SELECT doc_id, text, substring(text, 1, 24) AS sk,
               substring(text, 1, 8) AS blk
        FROM corpus),
      nbrs AS (
        SELECT doc_id,
               lead(doc_id, 1) OVER w AS n1,
               lead(doc_id, 2) OVER w AS n2,
               lead(doc_id, 3) OVER w AS n3
        FROM keyed
        WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)),
      cand AS (
        SELECT DISTINCT LEAST(doc_id, n) AS id_a, GREATEST(doc_id, n) AS id_b
        FROM (SELECT doc_id, UNNEST([n1, n2, n3]) AS n FROM nbrs)
        WHERE n IS NOT NULL),
      sets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM keyed),
      verified AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
               CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT)
                 AS uni
        FROM cand c
        JOIN sets a ON a.doc_id = c.id_a
        JOIN sets b ON b.doc_id = c.id_b)
      SELECT id_a, id_b, inter * 1000 // uni AS jaccard_permille
      FROM verified
      WHERE inter * 5 >= uni * 4
      ORDER BY id_a, id_b"""))

  /** DuckDB CTE chain producing the same verified pair stream; ends with a
    * `pairs(id_a, id_b, inter, uni)` CTE.
    *
    * Candidate generation is PREFIX FILTERING (rare-first order, prefix
    * length |s|−⌈0.6|s|⌉+1, plus the 5·min ≥ 3·max length bound) — an
    * EXACT-complete candidate set for J ≥ 0.6, not the engine's
    * probabilistic LSH banding, so oracle independence is preserved while
    * the sf0.1 run stays tractable (the former all-pairs join was
    * quadratic by construction and timed out there). MATERIALIZED pins
    * each stage against DuckDB's exponential CTE inlining. Completeness
    * is additionally probed against a brute-force stratified subsample by
    * scripts/oracle_completeness.py.
    *
    * RECALL BOUND (gate-triage note): the ENGINE side generates
    * candidates by probabilistic MinHash banding (32 bands x 2 rows),
    * while this oracle's prefix filter is exact-complete for J >= 0.6.
    * A true pair at J = 0.6 fails to collide in any band with
    * probability (1 - 0.6^2)^32 = 0.64^32 ~= 6e-7, vanishing as J grows.
    * If a gate on q26/q41-family/q241/q246 ever hash-mismatches by ONE
    * MISSING engine pair near the threshold, triage it as a banding
    * recall miss (re-run; expected frequency < 1e-6 per pair), not as a
    * plan or correctness regression. */
  private[operators] val duckPairsCtes: String = """
        corpus AS MATERIALIZED (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 200000, regexp_replace(text, ' \S+$', '')
          FROM documents WHERE doc_id % 7 = 0),
        toks AS (SELECT doc_id, string_split(text, ' ') w FROM corpus),
        sh AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
               FROM toks WHERE len(w) >= 3),
        tok2 AS MATERIALIZED (SELECT doc_id, unnest(s) AS t FROM sh),
        freq AS MATERIALIZED (SELECT t, COUNT(*) AS f FROM tok2 GROUP BY t),
        sorted AS MATERIALIZED (
          SELECT doc_id, list(t ORDER BY f, t) AS st, COUNT(*) AS n
          FROM tok2 JOIN freq USING (t) GROUP BY doc_id),
        pref AS MATERIALIZED (
          SELECT doc_id, n,
                 unnest(list_slice(st, 1, n - (3*n + 4)//5 + 1)) AS pt
          FROM sorted),
        cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pref a JOIN pref b ON a.pt = b.pt AND a.doc_id < b.doc_id
          WHERE 5 * b.n >= 3 * a.n AND 5 * a.n >= 3 * b.n),
        pairs AS MATERIALIZED (
          SELECT id_a, id_b,
                 len(list_intersect(sa.st, sb.st)) AS inter,
                 len(list_distinct(list_concat(sa.st, sb.st))) AS uni
          FROM cand JOIN sorted sa ON sa.doc_id = cand.id_a
                    JOIN sorted sb ON sb.doc_id = cand.id_b
          WHERE 5 * len(list_intersect(sa.st, sb.st))
                >= 3 * len(list_distinct(list_concat(sa.st, sb.st))))"""

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q25
    // Exact dedup: group on sha2-256 content digest, keep min doc_id.
    // Output = duplicate groups only. At scale the digest (32 B) is the
    // shuffle key; text never moves.
    QueryDef(
      "q25_exact_dedup",
      (s, dir) =>
        exactCorpus(s, dir)
          .withColumn("digest", sha2(col("text"), 256))
          .groupBy("digest")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("keep_id", "n_copies")
          .orderBy("keep_id"),
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM corpus
        GROUP BY text
        HAVING COUNT(*) > 1
        ORDER BY keep_id""")),

    // ---------------------------------------------------------------- q26
    // MinHash-LSH near-dup: 64 minhashes over 3-gram shingles, banded
    // 32×2; candidate pairs only within equal (band, band-hash) buckets;
    // exact-Jaccard verification in integer arithmetic (5·∩ ≥ 3·∪ ⇔
    // J ≥ 0.6). 2-row bands put the J=0.6 per-pair miss probability at
    // (1-0.36)^32 ≈ 6e-7, so the LSH candidate set covers the oracle's
    // brute-force answer at fixture scale with ~certainty.
    QueryDef(
      "q26_minhash_neardup",
      (s, dir) => PairGraph.pairs(s, dir).orderBy("id_a", "id_b"),
      Some(s"""
        WITH $duckPairsCtes
        SELECT id_a, id_b, inter, uni FROM pairs
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q27
    // SimHash near-dup: 60-bit fingerprint from per-token md5-derived
    // hashes (per-bit majority vote), pairs within Hamming distance 3
    // found via 4×15-bit chunk buckets (pigeonhole-complete for d ≤ 3).
    // The token hash is md5-based — not Spark's xxhash64 — precisely so
    // the DuckDB oracle can compute the identical fingerprint.
    QueryDef(
      "q27_simhash_neardup",
      (s, dir) => {
        // Fingerprint build is COLUMNAR: tokens explode to rows and the
        // 60 per-bit majority votes are 60 codegen'd sum() aggregates
        // (the nested aggregate-over-bits lambda form is interpreted and
        // ~20× slower); the final bit-assembly folds the 60 vote columns
        // in one tiny per-doc expression.
        val voteCols = (0 until 60).map(b =>
          sum(when(shiftright(col("hv"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
            .as(s"v$b"))
        // spread: the single-row-group fixture scan serializes the
        // token explode + per-token md5 chain below on one core
        // (guide §2.5, r14); one slim exchange buys a parallel stage
        val fp = graft.Tables.spread(nearCorpus(s, dir), col("doc_id"))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .withColumn("hv",
            expr("cast(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)"))
          .groupBy("doc_id")
          .agg(voteCols.head, voteCols.tail: _*)
          .withColumn("votes", array((0 until 60).map(b => col(s"v$b")): _*))
          .withColumn("fp", expr(
            """aggregate(sequence(0, 59), cast(0 AS BIGINT),
                 (acc, b) -> acc + IF(element_at(votes, b + 1) >= 0,
                   shiftleft(cast(1 AS BIGINT), b), cast(0 AS BIGINT)))"""))
          .select("doc_id", "fp")
        val chunked = fp.select(col("doc_id"), col("fp"), expr(
          """explode(transform(sequence(0, 3),
               c -> struct(c AS c, shiftright(fp, c * 15) & 32767 AS ck))) AS cc"""))
          .select(col("doc_id"), col("fp"), col("cc.c").as("c"), col("cc.ck").as("ck"))
        val a = chunked.as("a"); val b = chunked.as("b")
        a.join(b, col("a.c") === col("b.c") && col("a.ck") === col("b.ck")
            && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 200000, regexp_replace(text, ' \S+$', '')
          FROM documents WHERE doc_id % 7 = 0),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM corpus),
        h AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) hv FROM tok),
        bits AS (SELECT doc_id, b.range b,
                   SUM(CASE WHEN (hv >> CAST(b.range AS INT)) & 1 = 1
                       THEN 1 ELSE -1 END) sc
                 FROM h CROSS JOIN range(60) b GROUP BY 1, 2),
        fp AS (SELECT doc_id,
                 SUM(CASE WHEN sc >= 0
                     THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) f
               FROM bits GROUP BY 1)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.f, b.f)) <= 3
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q50
    // Duplicate clusters: connected components over the verified LSH pair
    // stream — the step every production dedup pipeline runs after pair
    // generation (pairs chain: A≈B, B≈C ⇒ {A,B,C} is one duplicate
    // group; keep one canonical doc per component, not per pair).
    // Iterative min-label propagation with periodic lineage checkpoints
    // (see `connectedComponents` — one equi-join + partial-agg min per
    // iteration, scalar-only driver traffic, loud non-convergence).
    QueryDef(
      "q50_dup_clusters",
      (s, dir) => {
        PairGraph.labels(s, dir)
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), max("node").as("max_doc"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id FROM reach GROUP BY u)
        SELECT cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc
        FROM labels GROUP BY cluster_id
        ORDER BY cluster_id""")),

    // ---------------------------------------------------------------- q96
    // Near-dup corpus MATERIALIZATION — the policy step q50 stops short
    // of: each cluster collapses to its canonical member (the component
    // label = min doc_id), every other member is dropped, singletons
    // pass through untouched. Output is the audit row a curation run
    // logs: corpus size, kept size, drop count, and an exact integer
    // checksum of the kept ids — a wrong keep-set cannot hash-match the
    // oracle. At 100 TB the drop set (cluster members minus canonicals)
    // is tiny relative to the corpus, so the final filter is a
    // broadcast LEFT ANTI against it — document text never shuffles.
    QueryDef(
      "q96_neardup_materialize",
      (s, dir) => {
        val corpus = nearCorpus(s, dir)
        val dropped = PairGraph.labels(s, dir)
          .filter(col("node") =!= col("label"))
          .select(col("node").as("doc_id"))
        val kept = corpus.join(dropped, Seq("doc_id"), "left_anti")
        kept.agg(
            count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("kept_id_sum"))
          // single-row broadcast cross join (the q58/q71 discipline)
          .crossJoin(corpus.agg(count(lit(1)).as("n_total")))
          .select(col("n_total"), col("n_kept"),
            (col("n_total") - col("n_kept")).as("n_dropped"),
            col("kept_id_sum"))
      },
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id FROM reach GROUP BY u),
        dropped AS (SELECT node FROM labels WHERE node <> cluster_id)
        SELECT (SELECT COUNT(*) FROM corpus) AS n_total,
               COUNT(*) AS n_kept,
               (SELECT COUNT(*) FROM corpus) - COUNT(*) AS n_dropped,
               CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
        FROM corpus
        WHERE doc_id NOT IN (SELECT node FROM dropped)"""))
  ,

    // ---------------------------------------------------------------- q98
    // Bloom-pruned incremental ingest — q65's digest anti-join with the
    // scan-side prune Spark's runtime-filter rewrite applies internally,
    // written explicitly: a bloom filter built over the SMALL side (the
    // new batch's digests, one aggregate) is pushed as a scalar-subquery
    // predicate into the CORPUS scan, so only corpus rows that MIGHT
    // match the batch ever reach the join. Bloom false positives cost a
    // few extra joined rows, never a wrong answer — the anti join stays
    // exact. At 100 TB this turns "shuffle every corpus digest per
    // ingest tick" into "scan-filter the corpus, shuffle ~|batch|".
    // Uses graft_bloom_agg / graft_bloom_contains (Spark's own
    // BloomFilterAggregate/MightContain, which Spark does not expose as
    // SQL functions — GraftExtensions names them in every session).
    QueryDef(
      "q98_bloom_pruned_ingest",
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        // re-crawl batch: every 3rd doc is an exact dup under a new id;
        // every 3rd+1 doc arrives genuinely new (content extended)
        val batch = d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 3 === 1)
            .select((col("doc_id") + 400000).as("doc_id"),
              concat(col("text"), lit(" fresh-"), col("doc_id")).as("text")))
        d.select(col("doc_id"), sha2(col("text"), 256).as("h"))
          .createOrReplaceTempView("g98_corpus")
        batch.select(col("doc_id"), sha2(col("text"), 256).as("h"))
          .createOrReplaceTempView("g98_batch")
        s.sql("""
          WITH bloom AS (
            SELECT graft_bloom_agg(xxhash64(h),
                     CAST(1000000 AS BIGINT), CAST(4194304 AS BIGINT)) AS b
            FROM g98_batch),
          survivors AS (
            SELECT h FROM g98_corpus
            WHERE graft_bloom_contains((SELECT b FROM bloom), xxhash64(h))),
          admitted AS (
            SELECT b.doc_id FROM g98_batch b
            LEFT ANTI JOIN survivors s2 ON b.h = s2.h)
          SELECT (SELECT COUNT(*) FROM g98_batch) AS n_batch,
                 COUNT(*) AS n_admitted,
                 (SELECT COUNT(*) FROM g98_batch) - COUNT(*) AS n_dups,
                 CAST(SUM(doc_id) AS BIGINT) AS admitted_id_sum
          FROM admitted""")
      },
      // digest equality == text equality for the oracle's purposes, so
      // DuckDB states the contract directly over text — bloom pruning
      // must be answer-invisible
      Some("""
        WITH batch AS (
          SELECT doc_id + 300000 AS doc_id, text
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 400000 AS doc_id,
                 text || ' fresh-' || CAST(doc_id AS VARCHAR) AS text
          FROM documents WHERE doc_id % 3 = 1),
        admitted AS (
          SELECT b.doc_id FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text))
        SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
               COUNT(*) AS n_admitted,
               (SELECT COUNT(*) FROM batch) - COUNT(*) AS n_dups,
               CAST(SUM(doc_id) AS BIGINT) AS admitted_id_sum
        FROM admitted"""))
  ,

    // --------------------------------------------------------------- q103
    // Corpus-level repeated-passage audit (the FineWeb/CCNet "line
    // dedup" signal, restated over word 8-grams because the fixture
    // text has no line structure): an 8-gram that appears in 2+
    // DIFFERENT documents is boilerplate; each document is scored by
    // the per-mille of its distinct 8-grams that are corpus-shared,
    // and flagged when more than 5% of its passages are boilerplate.
    // Complements q63 (WITHIN-doc repetition) and q26 (whole-doc
    // near-dup): this catches templated fragments that whole-doc
    // similarity misses.
    // Scale: grams come from the native codegen byte-slicer
    // (graft_word_ngrams, no interpreted lambdas); the document-
    // frequency aggregate keys on a 256-bit digest of the gram so the
    // shuffle carries 32 B + count per distinct gram, never the
    // passage text (q25's digest discipline); the score join is
    // digest-keyed with map-side partial counts. Two shuffles total —
    // gram DF and the per-doc regroup — both reduce before they move.
    QueryDef(
      "q103_corpus_ngram_dedup",
      (s, dir) => {
        // session-shared word-8-gram digest frame (one explode + sha2
        // per run, consumed by q103/q279/s45 — the GramFrames registry;
        // it feeds the frequency aggregate AND the score join here)
        val grams = GramFrames.word8(s, dir).select("doc_id", "h")
        val dfreq = grams.groupBy("h").agg(count(lit(1)).as("df"))
        grams.join(dfreq, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("shared_permille",
            expr("n_shared * 1000 div n_grams"))
          .withColumn("boilerplate", col("shared_permille") > 50)
          .orderBy("doc_id")
      },
      // the oracle states document frequency over the gram STRINGS —
      // the digest is the engine's shuffle-key mechanism, not semantics
      Some("""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        grams AS (
          SELECT DISTINCT doc_id,
                 UNNEST(list_transform(range(1, len(ws) - 6),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                        ws[i+6] || ' ' || ws[i+7])) AS g
          FROM words),
        d AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g)
        SELECT doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000
                 // COUNT(*) AS shared_permille,
               (CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000
                 // COUNT(*)) > 50 AS boilerplate
        FROM grams JOIN d USING (g)
        GROUP BY doc_id
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q107
    // Incremental NEAR-dup ingest: q65's admission pattern upgraded from
    // exact-digest to MinHash-LSH — a new batch probes the corpus's
    // band-bucket index (batch-side buckets equi-join corpus-side
    // buckets), exact Jaccard verifies only bucket-mates, and each batch
    // doc is admitted or rejected as a near-duplicate. This is the shape
    // a production curation pipeline runs per ingest tick: the corpus
    // index is built once and persisted (here rebuilt per run — the
    // q91/q97 persistence discipline applies unchanged), and per tick
    // the work is O(batch × collision rate), never corpus × corpus.
    // Recall contract: at the J ≥ 0.6 admission threshold, 32 bands × 2
    // rows collide with P ≥ 1 − (1 − 0.6²)³² ≈ 1 − 6·10⁻⁷ — the oracle
    // states EXACT all-pairs containment and the gate hash-compares, so
    // a recall miss is a loud failure, not silent data loss.
    QueryDef(
      "q107_incremental_neardup_ingest",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val batch = ingestBatch(docs(s, dir).select("doc_id", "text"))
        // the corpus side is the standing persisted index (PairGraph
        // memo) — per-tick work is the BATCH side only
        val csh = PairGraph.corpusShingles(s, dir)
        val bsh = shingled(batch).persist(MEMORY_AND_DISK)
        val cand = bandBuckets(bsh)
          .select(col("doc_id").as("batch_id"), col("band"), col("bh"))
          .join(PairGraph.corpusBandIndex(s, dir)
            .select(col("doc_id").as("corpus_id"), col("band"), col("bh")),
            Seq("band", "bh"))
          .select("batch_id", "corpus_id").distinct()
        val dups = cand
          .join(bsh.select(col("doc_id").as("batch_id"), col("s").as("sb")), "batch_id")
          .join(csh.select(col("doc_id").as("corpus_id"), col("s").as("sc")), "corpus_id")
          .filter(size(array_intersect(col("sb"), col("sc"))) * 5
            >= size(array_union(col("sb"), col("sc"))) * 3)
          .select("batch_id").distinct()
        admissionReport(batch, dups)
      },
      // the oracle states the admission contract EXACTLY (all-pairs
      // Jaccard vs the corpus) — banding is the engine's candidate
      // mechanism and must be answer-invisible
      Some(neardupIngestOracle))
  ,

    // --------------------------------------------------------------- q114
    // Survivorship merge (MDM-style entity consolidation): q96 keeps
    // each cluster's min-id member — the POLICY a curation run wants is
    // usually richer: per duplicate cluster, elect the survivor by
    // field quality (here: longest text, smallest id as tie-break) and
    // carry merged lineage (member count, earliest id, total bytes).
    // Built on the same verified pair stream → connected components as
    // q50/q96; the merge itself is ONE keyed aggregate over cluster
    // labels (max_by election — no window, no second shuffle), so the
    // policy step costs O(cluster members) however big the corpus.
    QueryDef(
      "q114_survivorship_merge",
      (s, dir) => {
        val members = nearCorpus(s, dir)
          .withColumn("len", length(col("text")).cast("long"))
          .select("doc_id", "len")
          .join(PairGraph.labels(s, dir),
            col("doc_id") === col("node"))
        members.groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max_by(col("doc_id"), struct(col("len"), -col("doc_id"))).as("survivor_id"),
            max("len").as("survivor_len"),
            min("doc_id").as("first_id"),
            sum("len").as("total_bytes"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id FROM reach GROUP BY u),
        members AS (
          SELECT l.cluster_id, c.doc_id, length(c.text) AS len
          FROM labels l JOIN corpus c ON c.doc_id = l.node),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
                      ORDER BY len DESC, doc_id) AS rk
          FROM members)
        SELECT cluster_id,
               COUNT(*) AS n_members,
               CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
                 AS survivor_id,
               CAST(MAX(len) AS BIGINT) AS survivor_len,
               CAST(MIN(doc_id) AS BIGINT) AS first_id,
               CAST(SUM(len) AS BIGINT) AS total_bytes
        FROM ranked
        GROUP BY cluster_id
        ORDER BY cluster_id"""))
  ,

    // --------------------------------------------------------------- q274
    // Dedup SAVINGS pricing — the capacity-planning number a 100 TB
    // dedup run is judged by: if every near-dup cluster keeps exactly
    // its q114 survivor (longest text, lowest-id tie-break), how many
    // documents / tokens / bytes does each SOURCE shed? Where q50
    // labels clusters and q114 picks survivors, this op prices the
    // decision — removed_ppm and token_savings_ppm per source are what
    // decides whether the dedup pass pays for its compute, and which
    // sources are dup-heavy enough to deserve a stricter threshold.
    // Cluster labels come from the session-shared [[PairGraph]] (no
    // rebuild); the synthetic re-crawls (+200000 ids) attribute to
    // their base doc's source so savings land where the crawler
    // over-fetched. Shape: labels ⋈ corpus projections + two keyed
    // aggregates — nothing corpus-wide beyond the shared graph.
    QueryDef(
      "q274_dedup_savings",
      (s, dir) => {
        val c = nearCorpus(s, dir)
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("nw",
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long"))
          .withColumn("base_id",
            when(col("doc_id") >= 200000L, col("doc_id") - 200000L)
              .otherwise(col("doc_id")))
          .join(Tables(s, dir, "documents")
            .select(col("doc_id").as("base_id"), col("source")), "base_id")
        val surv = c
          .join(PairGraph.labels(s, dir), col("doc_id") === col("node"))
          .groupBy("label")
          .agg(max_by(col("doc_id"), struct(col("len"), -col("doc_id")))
            .as("survivor_id"))
        val removed = c
          .join(PairGraph.labels(s, dir), col("doc_id") === col("node"))
          .join(surv, "label")
          .filter(col("doc_id") =!= col("survivor_id"))
        val tot = c.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("len").as("bytes_total"),
            sum("nw").as("tokens_total"))
        val rem = removed.groupBy("source")
          .agg(count(lit(1)).as("n_removed"),
            sum("len").as("bytes_removed"), sum("nw").as("tokens_removed"))
        tot.join(rem, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            col("tokens_total"),
            coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
            coalesce(col("bytes_removed"), lit(0L)).as("bytes_removed"))
          .withColumn("removed_ppm",
            expr("n_removed * 1000000 div n_docs"))
          .withColumn("token_savings_ppm",
            expr("tokens_removed * 1000000 div tokens_total"))
          .orderBy("source")
      },
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id FROM reach GROUP BY u),
        cs AS MATERIALIZED (
          SELECT c.doc_id, length(c.text) AS len,
                 CAST(len(list_filter(string_split(c.text, ' '),
                   w -> w <> '')) AS BIGINT) AS nw,
                 d.source
          FROM corpus c
          JOIN documents d ON d.doc_id =
            CASE WHEN c.doc_id >= 200000 THEN c.doc_id - 200000
                 ELSE c.doc_id END),
        ranked AS (
          SELECT l.cluster_id, cs.*,
                 row_number() OVER (PARTITION BY l.cluster_id
                   ORDER BY cs.len DESC, cs.doc_id) AS rk
          FROM labels l JOIN cs ON cs.doc_id = l.node),
        tot AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len) AS BIGINT) AS bytes_total,
                 CAST(SUM(nw) AS BIGINT) AS tokens_total
          FROM cs GROUP BY source),
        rem AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_removed,
                 CAST(SUM(len) AS BIGINT) AS bytes_removed,
                 CAST(SUM(nw) AS BIGINT) AS tokens_removed
          FROM ranked WHERE rk > 1 GROUP BY source)
        SELECT tot.source, n_docs,
               COALESCE(n_removed, 0) AS n_removed,
               tokens_total,
               COALESCE(tokens_removed, 0) AS tokens_removed,
               COALESCE(bytes_removed, 0) AS bytes_removed,
               COALESCE(n_removed, 0) * 1000000 // n_docs AS removed_ppm,
               COALESCE(tokens_removed, 0) * 1000000 // tokens_total
                 AS token_savings_ppm
        FROM tot LEFT JOIN rem USING (source)
        ORDER BY tot.source"""))
  ,

    // --------------------------------------------------------------- q278
    // Dedup THRESHOLD sensitivity — the tuning audit run before fixing
    // a near-dup cutoff: over the verified pair stream (which carries
    // exact |∩| and |∪| shingle counts), how many pairs and how many
    // distinct documents survive at J ≥ 0.6 / 0.7 / 0.8 / 0.9? The
    // curve's shape is the decision input — a cliff between 0.6 and
    // 0.7 means the corpus is full of borderline rewrites the cutoff
    // choice will swing; a flat curve means the choice barely matters.
    // Thresholds stay in exact permille (inter·1000 ≥ thr·uni — no
    // float J is ever materialized), and only thresholds ≥ the 0.6
    // verification floor are meaningful (below it the pair stream is
    // incomplete by construction — stated). Shape: the 4-row threshold
    // table cross-joins the session-shared PairGraph pair stream
    // (bounded ×4 fan-out of an already-slim pair list), two keyed
    // aggregates, zero corpus passes.
    QueryDef(
      "q278_dedup_threshold_sweep",
      (s, dir) => {
        val th = Seq(600L, 700L, 800L, 900L)
          .foldLeft(Option.empty[DataFrame]) { (acc, t) =>
            val one = PairGraph.pairs(s, dir).sparkSession
              .range(1).select(lit(t).as("thr"))
            Some(acc.fold(one)(_ unionByName one))
          }.get
        val pt = PairGraph.pairs(s, dir).crossJoin(broadcast(th))
          .filter(col("inter") * 1000L >= col("thr") * col("uni"))
        val np = pt.groupBy("thr").agg(count(lit(1)).as("n_pairs"))
        val nd = pt.select(col("thr"), col("id_a").as("id"))
          .unionByName(pt.select(col("thr"), col("id_b").as("id")))
          .distinct()
          .groupBy("thr").agg(count(lit(1)).as("n_dup_docs"))
        th.join(np, Seq("thr"), "left")
          .join(nd, Seq("thr"), "left")
          .select(col("thr"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
          .orderBy("thr")
      },
      Some(s"""
        WITH $duckPairsCtes,
        th AS (SELECT CAST(UNNEST([600, 700, 800, 900]) AS BIGINT) AS thr),
        pt AS (
          SELECT th.thr, id_a, id_b
          FROM pairs CROSS JOIN th
          WHERE inter * 1000 >= th.thr * uni),
        np AS (SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM pt GROUP BY thr),
        nd AS (SELECT thr, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_dup_docs
               FROM (SELECT thr, id_a AS id FROM pt
                     UNION ALL SELECT thr, id_b FROM pt) u
               GROUP BY thr)
        SELECT th.thr, COALESCE(n_pairs, 0) AS n_pairs,
               COALESCE(n_dup_docs, 0) AS n_dup_docs
        FROM th LEFT JOIN np USING (thr) LEFT JOIN nd USING (thr)
        ORDER BY th.thr"""))
  ,

    // --------------------------------------------------------------- q126
    // Exact-substring dedup with REWRITE semantics (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): where
    // q25/q96 drop whole documents and q103 only SCORES shared grams,
    // this removes the duplicated SPANS and keeps the rest of the
    // document. Each doc splits into consecutive non-overlapping 8-word
    // segments; a segment instance survives only if it is the FIRST
    // occurrence of that segment text in corpus order (doc_id, pos) —
    // the keep-first policy applied at span granularity. The planted
    // re-crawl (every 4th doc re-enters under a new id with its full
    // text plus a novel tail) must lose exactly its copied spans and
    // keep the tail. Output is the per-doc rewrite audit: segment
    // count, removed count, surviving word count — a wrong keep-set
    // cannot hash-match.
    // 100 TB shape: the dedup key is a 32 B sha2 digest, so the
    // first-occurrence aggregate and the mark join both shuffle
    // digest + (doc_id, pos) — never segment text; the join reuses the
    // aggregate's hash partitioning (one exchange for both), and the
    // final per-doc rollup is the only other shuffle.
    QueryDef(
      "q126_substring_dedup",
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.unionByName(
          d.filter(col("doc_id") % 4 === 0)
            .select((col("doc_id") + 700000).as("doc_id"),
              concat(col("text"), lit(" novel tail "), col("doc_id")).as("text")))
        val segs = corpus
          .select(col("doc_id"),
            posexplode(expr(
              """transform(sequence(0, (size(split(text, ' ')) - 1) div 8),
                   i -> concat_ws(' ', slice(split(text, ' '), i * 8 + 1, 8)))"""))
              .as(Seq("pos", "seg")))
          .select(col("doc_id"), col("pos"), sha2(col("seg"), 256).as("h"),
            size(split(col("seg"), " ")).cast("long").as("nw"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val firsts = segs.groupBy("h")
          .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        segs.join(firsts, "h")
          .withColumn("removed",
            when(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"),
              0L).otherwise(1L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(col("removed")).as("n_removed"),
            sum(when(col("removed") === 0L, col("nw"))).as("kept_words"))
          .orderBy("doc_id")
      },
      // the oracle states first-occurrence over the segment STRINGS —
      // the digest is the engine's shuffle-key mechanism, not semantics
      Some("""
        WITH batch AS (
          SELECT doc_id + 700000 AS doc_id,
                 text || ' novel tail ' || CAST(doc_id AS VARCHAR) AS text
          FROM documents WHERE doc_id % 4 = 0),
        corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM batch),
        words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        segs AS (
          SELECT doc_id, i AS pos,
                 array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ') AS seg,
                 len(ws[i * 8 + 1 : i * 8 + 8]) AS nw
          FROM words, UNNEST(range(0, (len(ws) - 1) // 8 + 1)) AS t(i)),
        marked AS (
          SELECT doc_id, pos, nw,
                 CASE WHEN row_number() OVER (PARTITION BY seg
                        ORDER BY doc_id, pos) = 1
                      THEN 0 ELSE 1 END AS removed
          FROM segs)
        SELECT doc_id,
               COUNT(*) AS n_segments,
               CAST(SUM(removed) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN removed = 0 THEN nw END) AS BIGINT)
                 AS kept_words
        FROM marked
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // --------------------------------------------------------------- q228
    // Cross-source duplication matrix — the corpus-governance artifact
    // that answers "who syndicates whom": content digests grouped
    // across sources, every source pair sharing a digest counted. The
    // fixture corpus has no natural cross-source copies, so every 9th
    // document re-enters under a 'syndicated' source (the established
    // deterministic augmentation pattern) and the matrix must recover
    // exactly those pairs. Scale shape: the join key is the 32-byte
    // sha2 digest — text never shuffles — and the per-digest source
    // sets are bounded by the source count, so pair explosion is
    // bounded per digest (the q185 vocabulary-pair argument).
    QueryDef(
      "q228_cross_source_dup_matrix",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select("doc_id", "source", "text")
        val aug = d.unionByName(
          d.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + 300000).as("doc_id"),
              lit("syndicated").as("source"), col("text")))
        aug
          .select(col("source"), sha2(col("text"), 256).as("h"))
          .distinct()
          .groupBy("h")
          .agg(sort_array(collect_set(col("source"))).as("srcs"))
          .filter(size(col("srcs")) >= 2)
          .select(explode(expr(
            """flatten(transform(srcs, (a, i) ->
                 transform(slice(srcs, i + 2, size(srcs)),
                   b -> struct(a AS s1, b AS s2))))""")).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(count(lit(1)).as("shared_docs"))
          .orderBy("s1", "s2")
      },
      Some("""
        WITH aug AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 300000, 'syndicated', text
          FROM documents WHERE doc_id % 9 = 0),
        hs AS (SELECT DISTINCT source, sha256(text) AS h FROM aug),
        pairs AS (
          SELECT a.source AS s1, b.source AS s2
          FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source)
        SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS shared_docs
        FROM pairs
        GROUP BY s1, s2
        ORDER BY s1, s2"""))
  ,

    // --------------------------------------------------------------- q231
    // URL canonicalization + host-level dedup — the curation operator a
    // web-scale corpus hits before any content dedup: the same page
    // arrives under scheme/host-case variants, a www. prefix, a
    // trailing slash, shuffled query-parameter order, and tracking
    // params (utm_*, ref=). The fixture has no URL column, so both
    // engines derive the same deterministic raw URL per doc (case /
    // slash / param-order / tracking noise keyed off doc_id) and the
    // OPERATOR is the canonicalizer: lowercase scheme+host, strip www.,
    // strip the trailing slash, drop tracking params, sort the rest.
    // Output is the per-host concentration report (the CommonCrawl
    // head-host problem): rows, distinct canonical URLs, dup ratio,
    // corpus share. 100 TB shape: canonicalization is a narrow
    // codegen'd map (parse_url + HOFs over a handful of params); the
    // rollup keys on host (bounded domain) and the corpus total is a
    // single-row broadcast — one exchange end to end.
    QueryDef(
      "q231_url_canonicalize_host_dedup",
      (s, dir) => {
        val raw = docs(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
          .withColumn("url", expr("""
            concat(
              CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END,
              '://',
              CASE WHEN doc_id % 3 = 0
                   THEN upper(concat('www.', source, '.example.com'))
                   ELSE concat(source, '.example.com') END,
              '/docs/', doc_id % 10,
              CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
              '?',
              CASE WHEN doc_id % 2 = 1
                   THEN concat('b=', lang, '&a=', doc_id % 7,
                               '&utm_source=feed&ref=r', doc_id)
                   ELSE concat('a=', doc_id % 7, '&utm_source=feed&b=',
                               lang, '&ref=r', doc_id) END)"""))
        val canon = raw
          .withColumn("host", expr(
            "regexp_replace(lower(parse_url(url, 'HOST')), '^www\\\\.', '')"))
          .withColumn("path", expr(
            "regexp_replace(parse_url(url, 'PATH'), '/$', '')"))
          .withColumn("q", expr("""
            array_join(array_sort(filter(split(parse_url(url, 'QUERY'), '&'),
              p -> NOT (p LIKE 'utm\\_%' OR p LIKE 'ref=%'))), '&')"""))
          .select(col("host"),
            concat(lit("https://"), col("host"), col("path"), lit("?"), col("q"))
              .as("canon_url"))
        val total = canon.agg(count(lit(1)).as("n_corpus"))
        canon.groupBy("host")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct("canon_url").as("n_canonical"))
          .crossJoin(broadcast(total))
          .select(col("host"), col("n_urls"), col("n_canonical"),
            (col("n_urls") - col("n_canonical")).as("n_dup"),
            expr("(n_urls - n_canonical) * 1000 div n_urls").as("dup_permille"),
            expr("n_urls * 1000000 div n_corpus").as("share_ppm"))
          .orderBy("host")
      },
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 concat(
                   CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END,
                   '://',
                   CASE WHEN doc_id % 3 = 0
                        THEN upper(concat('www.', source, '.example.com'))
                        ELSE concat(source, '.example.com') END,
                   '/docs/', CAST(doc_id % 10 AS VARCHAR),
                   CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
                   '?',
                   CASE WHEN doc_id % 2 = 1
                        THEN concat('b=', lang, '&a=',
                               CAST(doc_id % 7 AS VARCHAR),
                               '&utm_source=feed&ref=r',
                               CAST(doc_id AS VARCHAR))
                        ELSE concat('a=', CAST(doc_id % 7 AS VARCHAR),
                               '&utm_source=feed&b=', lang,
                               '&ref=r', CAST(doc_id AS VARCHAR)) END)
                   AS url
          FROM documents),
        canon AS (
          SELECT regexp_replace(lower(regexp_extract(url, '://([^/?]+)', 1)),
                                '^www\.', '') AS host,
                 concat(
                   'https://',
                   regexp_replace(lower(regexp_extract(url, '://([^/?]+)', 1)),
                                  '^www\.', ''),
                   regexp_replace(regexp_extract(url, '://[^/?]+([^?]*)', 1),
                                  '/$', ''),
                   '?',
                   array_to_string(list_sort(list_filter(
                     string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
                     p -> NOT (p LIKE 'utm\_%' OR p LIKE 'ref=%'))), '&'))
                   AS canon_url
          FROM raw),
        tot AS (SELECT COUNT(*) AS n_corpus FROM canon)
        SELECT host,
               COUNT(*) AS n_urls,
               CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_canonical,
               COUNT(*) - COUNT(DISTINCT canon_url) AS n_dup,
               (COUNT(*) - COUNT(DISTINCT canon_url)) * 1000 // COUNT(*)
                 AS dup_permille,
               COUNT(*) * 1000000 // (SELECT n_corpus FROM tot) AS share_ppm
        FROM canon
        GROUP BY host
        ORDER BY host"""))
  ,

    // --------------------------------------------------------------- q233
    // Host-cap sampling — q231's enforcement twin: after the host
    // concentration report, a curation run CAPS each host's
    // contribution (the head-host problem: a handful of domains would
    // otherwise dominate the training mix). Each host keeps at most 15
    // docs, elected by smallest content fingerprint (graft_polyhash —
    // content-derived, seed-free, repartition-stable; the q67
    // discipline), tie-broken by doc_id. The rank<=K filter plans as
    // WindowGroupLimit, so each task retains only its top 15 per host
    // map-side — per-host state is bounded at K rows however hot the
    // host. Output: per-host admission audit with an exact kept-id
    // checksum (a wrong keep-set cannot hash-match).
    QueryDef(
      "q233_host_cap_sample",
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("host", concat(col("source"), lit(".example.com")))
          .withColumn("fp", call_function("graft_polyhash", col("text")))
          .select("host", "fp", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("host").orderBy("fp", "doc_id")
        // totals from a plain keyed count; the kept set from rank<=15,
        // which pushes into the window as a GROUP LIMIT — each task
        // retains at most 15 rows per host map-side (plan-asserted)
        val totals = d.groupBy("host").agg(count(lit(1)).as("n_total"))
        val kept = d.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 15)
          .groupBy("host")
          .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
        totals.join(kept, "host").orderBy("host")
      },
      Some("""
        WITH fp AS (
          SELECT doc_id, source || '.example.com' AS host,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
          FROM documents),
        r AS (
          SELECT doc_id, host,
                 row_number() OVER (PARTITION BY host ORDER BY fp, doc_id) AS rk
          FROM fp)
        SELECT host, COUNT(*) AS n_total,
               CAST(count_if(rk <= 15) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rk <= 15 THEN doc_id END) AS BIGINT)
                 AS kept_id_sum
        FROM r
        GROUP BY host
        ORDER BY host"""))
  ,

    // --------------------------------------------------------------- q238
    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS algorithm): the FOURTH blocking family after MinHash (q26),
    // SimHash (q27) and prefix filtering (q41). Each document's word
    // 3-gram hash sequence slides a w=4 window; the window MINIMUM is
    // selected as a fingerprint (guarantee: any shared run of w+2 words
    // shares a fingerprint), and the doc's distinct fingerprints form
    // its signature. Near-dups = pairs whose fingerprint-set Jaccard
    // ≥ 0.5, with the re-crawl corpus (suffix-dropped every 7th doc)
    // planted to match. Hashes are md5-derived 60-bit ints (the q27
    // discipline) so the oracle selects bit-identical fingerprints.
    // Scale shape: the sliding min is a KEYED window over (doc, pos) —
    // never global; candidates come from the fingerprint EQUI-join
    // (bounded by per-fingerprint doc frequency, never all-pairs); and
    // the exact intersection count IS the join aggregate (q235's
    // no-list-verify trick) — union = |A|+|B|−∩ arrives by arithmetic.
    QueryDef(
      "q238_winnowing_fingerprints",
      (s, dir) => {
        val corpus = nearCorpus(s, dir)
        val grams = corpus.select(col("doc_id"),
          posexplode(call_function("graft_word_ngrams", col("text"), lit(3)))
            .as(Seq("pos", "g")))
          .withColumn("gh", expr(
            "cast(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)"))
        val wMin = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
        val wCnt = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        val fps = grams
          .withColumn("n", count(lit(1)).over(wCnt))
          .withColumn("fp", min("gh").over(wMin))
          .filter(col("pos") <= col("n") - 4) // full windows only
          .select("doc_id", "fp").distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
        val a = fps.select(col("doc_id").as("id_a"), col("fp"))
        val b = fps.select(col("doc_id").as("id_b"), col("fp"))
        a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("id_a"), col("nf").as("na")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("nf").as("nb")), "id_b")
          .filter(col("inter") * 3 >= col("na") + col("nb")) // J >= 0.5
          .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
            expr("inter * 1000 div (na + nb - inter)").as("jaccard_permille"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH corpus AS MATERIALIZED (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 200000, regexp_replace(text, ' \S+$', '')
          FROM documents WHERE doc_id % 7 = 0),
        ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        gl AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                   i -> {'pos': i - 1,
                         'gh': CAST(concat('0x', substr(md5(
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                               1, 15)) AS BIGINT)})) AS g
          FROM ws WHERE len(w) >= 3),
        grams AS (SELECT doc_id, g.pos AS pos, g.gh AS gh FROM gl),
        fps AS MATERIALIZED (
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id, pos,
                   MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS fp,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM grams) z
          WHERE pos <= n - 4),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
                  FROM fps GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, inter, sa.nf AS na, sb.nf AS nb,
               inter * 1000 // (sa.nf + sb.nf - inter) AS jaccard_permille
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 3 >= sa.nf + sb.nf
        ORDER BY id_a, id_b"""))
  ,

    // --------------------------------------------------------------- q241
    // Cross-source NEAR-dup matrix — q228's governance artifact upgraded
    // from exact to near: the verified LSH pair stream (q26's, J ≥ 0.6)
    // joins each side's SOURCE label (a variant re-crawl doc carries its
    // base doc's source) and rolls up per unordered source pair — "whose
    // content is a light edit of whose" across feeds, the signal exact
    // digests (q228) cannot see because a dropped word breaks the hash.
    // Scale shape: the pair stream is candidate-bounded (LSH), the two
    // source joins ship (doc_id, source) pairs only, and the matrix is
    // sources² — metadata-sized at any corpus scale.
    QueryDef(
      "q241_crosssource_neardup_matrix",
      (s, dir) => {
        val src = nearCorpus(s, dir)
          .select(col("doc_id"), col("doc_id") % 200000L)
          .toDF("doc_id", "base_id")
          .join(docs(s, dir).select(col("doc_id").as("base_id"), col("source")),
            "base_id")
          .select("doc_id", "source")
        val pairs = PairGraph.pairs(s, dir).select("id_a", "id_b")
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("s1"),
            greatest(col("sa"), col("sb")).as("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
          .orderBy("s1", "s2")
      },
      Some(s"""
        WITH $duckPairsCtes,
        src AS (
          SELECT c.doc_id, d.source
          FROM corpus c JOIN documents d ON d.doc_id = c.doc_id % 200000),
        labeled AS (
          SELECT LEAST(a.source, b.source) AS s1,
                 GREATEST(a.source, b.source) AS s2
          FROM pairs
          JOIN src a ON a.doc_id = pairs.id_a
          JOIN src b ON b.doc_id = pairs.id_b)
        SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM labeled
        GROUP BY s1, s2
        ORDER BY s1, s2"""))
  ,

    // --------------------------------------------------------------- q256
    // MAXIMAL repeated-span extraction — the boilerplate-EXTENT measure
    // between q103 (which only SCORES shared grams per doc) and q126
    // (which rewrites at fixed non-overlapping segment boundaries,
    // quantizing span extent away): overlapping 5-gram hits against the
    // corpus-repeated gram set merge into maximal spans via
    // gaps-and-islands over gram POSITIONS (new span when the position
    // gap exceeds the gram width, so merged spans never overlap), and
    // each source reports how many tokens a span-masking pass would
    // remove. A fixed 13-word boilerplate tail is planted on every 3rd
    // doc (both engines derive it identically) so the expected shape —
    // one 13-token span per planted doc — is part of what the hash gate
    // checks. 100 TB shape: grams shuffle as md5-derived 8-byte keys +
    // position (never text); the repeated-gram set is corpus-shared-
    // gram-sized (tiny) and semi-joins the gram stream; the island
    // window is keyed per doc — no unkeyed window anywhere.
    QueryDef(
      "q256_repeated_span_masking",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val boiler = "subscribe to our newsletter for updates terms of" +
          " service apply all rights reserved"
        val corpus = docs(s, dir).select(col("doc_id"), col("source"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + boiler)))
            .otherwise(col("text")).as("text"))
        val grams = corpus
          .select(col("doc_id"), col("source"),
            posexplode(call_function("graft_word_ngrams", col("text"), lit(5))))
          .toDF("doc_id", "source", "pos", "g")
          .select(col("doc_id"), col("source"), col("pos"),
            expr("cast(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)").as("gh"))
          .persist(MEMORY_AND_DISK)
        val repeated = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2).select("gh")
        val wOrd = Window.partitionBy("doc_id").orderBy("pos")
        val spans = grams.join(repeated, Seq("gh"), "left_semi")
          .withColumn("brk",
            when(col("pos") - lag("pos", 1).over(wOrd) > 5, 1L).otherwise(0L))
          .withColumn("span_id", sum("brk").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "source", "span_id")
          .agg((max("pos") - min("pos") + lit(5)).cast("long").as("tok_len"))
        val perDoc = spans.groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_spans"), sum("tok_len").as("masked"))
        val totals = corpus.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
        val spanAgg = perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs_with_spans"),
            sum("n_spans").as("n_spans"), sum("masked").as("masked_tokens"))
        totals.join(spanAgg, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            coalesce(col("n_docs_with_spans"), lit(0L)).as("n_docs_with_spans"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("masked_tokens"), lit(0L)).as("masked_tokens"))
          .withColumn("masked_ppm",
            expr("masked_tokens * 1000000 div total_tokens"))
          .orderBy("source")
      },
      Some("""
        WITH corpus AS MATERIALIZED (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' subscribe to our newsletter for updates' ||
                           ' terms of service apply all rights reserved'
                      ELSE text END AS text
          FROM documents),
        g0 AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(1, len(w) - 3),
                   i -> {'pos': i,
                         'gh': CAST(concat('0x', substr(md5(
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] ||
                                 ' ' || w[i+3] || ' ' || w[i+4]),
                               1, 15)) AS BIGINT)})) AS s
          FROM (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM corpus)
          WHERE len(w) >= 5),
        grams AS MATERIALIZED (
          SELECT doc_id, source, s.pos AS pos, s.gh AS gh FROM g0),
        rep AS MATERIALIZED (
          SELECT gh FROM (SELECT gh, COUNT(*) AS c FROM grams GROUP BY gh)
          WHERE c >= 2),
        r2 AS (
          SELECT doc_id, source, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                ORDER BY pos) > 5
                      THEN 1 ELSE 0 END AS brk
          FROM grams JOIN rep USING (gh)),
        r3 AS (
          SELECT doc_id, source, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS span_id
          FROM r2),
        sp AS (
          SELECT doc_id, source, span_id,
                 CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS tok_len
          FROM r3 GROUP BY doc_id, source, span_id),
        pd AS (
          SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(tok_len) AS BIGINT) AS masked
          FROM sp GROUP BY doc_id, source),
        tot AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS total_tokens
          FROM corpus GROUP BY source),
        sa AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_with_spans,
                 CAST(SUM(n_spans) AS BIGINT) AS n_spans,
                 CAST(SUM(masked) AS BIGINT) AS masked_tokens
          FROM pd GROUP BY source)
        SELECT t.source, t.n_docs, t.total_tokens,
               COALESCE(sa.n_docs_with_spans, 0) AS n_docs_with_spans,
               COALESCE(sa.n_spans, 0) AS n_spans,
               COALESCE(sa.masked_tokens, 0) AS masked_tokens,
               COALESCE(sa.masked_tokens, 0) * 1000000 // t.total_tokens
                 AS masked_ppm
        FROM tot t LEFT JOIN sa ON sa.source = t.source
        ORDER BY t.source"""))
  ,

    // --------------------------------------------------------------- q261
    // INCREMENTAL connected-component maintenance — the operation a
    // 100 TB dedup deployment runs on every ingest tick instead of
    // re-clustering the corpus: a delta batch (q107's ingest
    // construction) LSH-probes the standing corpus, its new verified
    // pairs identify the AFFECTED components, and the label-propagation
    // fixpoint re-runs ONLY on the affected subgraph (standing pairs of
    // touched components ∪ new pairs); every untouched component's
    // labels carry over unchanged. Built on the computed-once PairGraph
    // (standing pairs + labels); the subgraph-only recompute is
    // spec-asserted to touch a strict subset of the standing edge list.
    // The oracle states the contract a user cares about — the final
    // clustering equals a FULL re-cluster over corpus+delta pairs
    // (exact all-pairs J ≥ 0.6, recursive CTE) — so an affected
    // component the incremental path missed cannot hash-match.
    // Label-invariance note: min-label propagation labels a component
    // by its minimum node id, so recomputing only affected components
    // yields the identical labels a full run would — the carry-over is
    // exact, not approximate.
    QueryDef(
      "q261_incremental_cc_maintenance",
      (s, dir) => {
        val inc = incrementalCc(s, dir)
        inc.finalLabels
          .join(inc.deltaNodes.withColumn("is_delta", lit(1L)),
            Seq("node"), "left")
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), max("node").as("max_doc"),
            (sum(coalesce(col("is_delta"), lit(0L))) > 0).as("has_delta"))
          .orderBy("cluster_id")
      },
      // contract: identical to a FULL re-cluster over corpus+delta
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        delta AS MATERIALIZED (
          SELECT doc_id + 500000 AS doc_id,
                 regexp_replace(text, ' \\S+$$', '') AS text
          FROM documents WHERE doc_id % 9 = 0
          UNION ALL
          SELECT doc_id + 600000,
                 'novel content batch item ' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 9 = 1),
        dsh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
          FROM (SELECT doc_id, string_split(text, ' ') w FROM delta) t
          WHERE len(w) >= 3),
        -- delta-involving pairs via the same exact-complete prefix
        -- filter as the standing `pairs` CTE (any fixed token order
        -- works; completeness for J >= 0.6 does not depend on the
        -- order matching the engine's) — the naive delta x all join
        -- was ~330 s at sf0.1, this is seconds.
        atok AS MATERIALIZED (
          SELECT doc_id, unnest(s) AS t, TRUE AS isd FROM dsh
          UNION ALL
          SELECT doc_id, unnest(s) AS t, FALSE AS isd FROM sh),
        afreq AS MATERIALIZED (SELECT t, COUNT(*) AS f FROM atok GROUP BY t),
        asort AS MATERIALIZED (
          SELECT doc_id, bool_or(isd) AS isd,
                 list(t ORDER BY f, t) AS st, COUNT(*) AS n
          FROM atok JOIN afreq USING (t) GROUP BY doc_id),
        apref AS MATERIALIZED (
          SELECT doc_id, isd, n,
                 unnest(list_slice(st, 1, n - (3*n + 4)//5 + 1)) AS pt
          FROM asort),
        ncand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM apref a JOIN apref b ON a.pt = b.pt AND a.doc_id < b.doc_id
          WHERE (a.isd OR b.isd)
            AND 5 * b.n >= 3 * a.n AND 5 * a.n >= 3 * b.n),
        newpairs AS MATERIALIZED (
          SELECT id_a, id_b
          FROM ncand JOIN asort sa ON sa.doc_id = ncand.id_a
                     JOIN asort sb ON sb.doc_id = ncand.id_b
          WHERE 5 * len(list_intersect(sa.st, sb.st))
                >= 3 * len(list_distinct(list_concat(sa.st, sb.st)))),
        edges AS (
          SELECT id_a u, id_b v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
          UNION SELECT id_a, id_b FROM newpairs
          UNION SELECT id_b, id_a FROM newpairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id
                   FROM reach GROUP BY u),
        dn AS (SELECT doc_id AS node FROM dsh)
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MAX(node) AS max_doc,
               CAST(count_if(node IN (SELECT node FROM dn)) AS BIGINT) > 0
                 AS has_delta
        FROM labels
        GROUP BY cluster_id
        ORDER BY cluster_id"""))
  ,

    // --------------------------------------------------------------- q279
    // Temporal gram NOVELTY audit — the "how much NEW information did
    // this tick add" number next to q107's duplicate-admission verdict:
    // q103 measures within-corpus boilerplate and q107 rejects whole
    // near-dup documents, but an ingest tick's VALUE is the fraction of
    // its content the standing corpus has never seen at the passage
    // grain. Docs with doc_id % 5 = 4 play today's batch; the rest are
    // the standing snapshot. Each batch doc's distinct word-8-grams
    // left-join the standing corpus's distinct gram set; novelty_ppm =
    // unseen grams / grams, and the per-source rollup buckets docs into
    // mostly-new (≥ 0.9) / mostly-seen (≤ 0.1) — the report a corpus
    // owner reads to decide whether a feed is still worth crawling.
    // Scale: the q103/q25 digest discipline — grams shuffle as 32-byte
    // sha2 digests, never passage text; the gram frame persists ONCE
    // and feeds both sides; the standing set is distinct-reduced before
    // the join, so the probe carries |batch grams| rows. At 100 TB the
    // standing gram set is the persisted artifact (the q107 band-index
    // shape) and each tick probes it with O(batch) work.
    QueryDef(
      "q279_ingest_novelty_audit",
      (s, dir) => {
        // session-shared gram frame (GramFrames — one build per run,
        // shared with q103 and s45's static side)
        val grams = GramFrames.word8(s, dir)
        noveltyReport(grams.filter(col("doc_id") % 5 === 4)
          .join(noveltyStanding(grams), Seq("h"), "left"))
      },
      Some(noveltyOracle))
  ,

    // --------------------------------------------------------------- q290
    // Cluster-aware split REPAIR — the fix for what q83 only audits:
    // a content-hash split (q74's device) puts a near-dup's variant in
    // a different split than its original, so train-side twins of test
    // docs ship silently. Repair: every doc in a near-dup cluster
    // ADOPTS the split of the cluster's canonical member (the min-id
    // component label from the session-shared PairGraph), so clusters
    // become split-atomic by construction. The report proves it: per
    // split the before/after populations and moved-in/out counts, and
    // the straddling-cluster count BEFORE vs AFTER — after must be 0,
    // computed, not assumed (spec-asserted too). Shape: the canonical
    // split table is cluster-count-sized and BROADCASTs; repair is
    // two slim left joins over the (doc, split) frame; straddle is a
    // label-keyed two-level aggregate. Text is read once for the
    // split hash and never moves again.
    QueryDef(
      "q290_cluster_split_repair",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val splitOf = (c: org.apache.spark.sql.Column) =>
          when(call_function("graft_polyhash", c) % 100 < 80, "train")
            .when(call_function("graft_polyhash", c) % 100 < 90, "val")
            .otherwise("test")
        val sp = nearCorpus(s, dir)
          .select(col("doc_id"), splitOf(col("text")).as("split"))
          .persist(MEMORY_AND_DISK)
        val labels = PairGraph.labels(s, dir)
        val canon = labels.select("label").distinct()
          .join(sp.select(col("doc_id").as("label"),
            col("split").as("canon_split")), "label")
        val rep = sp
          .join(labels.select(col("node").as("doc_id"), col("label")),
            Seq("doc_id"), "left")
          .join(broadcast(canon), Seq("label"), "left")
          .withColumn("new_split", coalesce(col("canon_split"), col("split")))
          .persist(MEMORY_AND_DISK)
        val strad = rep.filter(col("label").isNotNull)
          .groupBy("label")
          .agg(countDistinct("split").as("db"),
            countDistinct("new_split").as("da"))
          .agg(sum(when(col("db") > 1, 1L).otherwise(0L))
            .as("straddle_before"),
            sum(when(col("da") > 1, 1L).otherwise(0L)).as("straddle_after"))
        val before = rep.groupBy(col("split").as("split_name"))
          .agg(count(lit(1)).as("n_before"),
            sum(when(col("new_split") =!= col("split"), 1L).otherwise(0L))
              .as("moved_out"))
        val after = rep.groupBy(col("new_split").as("split_name"))
          .agg(count(lit(1)).as("n_after"),
            sum(when(col("new_split") =!= col("split"), 1L).otherwise(0L))
              .as("moved_in"))
        before.join(after, Seq("split_name"))
          .crossJoin(broadcast(strad))
          .select(col("split_name"), col("n_before"), col("n_after"),
            col("moved_out"), col("moved_in"),
            col("straddle_before"), col("straddle_after"))
          .orderBy("split_name")
      },
      Some(s"""
        WITH RECURSIVE $duckPairsCtes,
        sp AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN fp < 80 THEN 'train'
                      WHEN fp < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(text) + 1),
                        i -> CAST(unicode(text[i]) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS fp
                FROM corpus)),
        edges AS (SELECT id_a u, id_b v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) n
          UNION
          SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.u = e.v),
        labels AS (SELECT u AS node, MIN(r) AS cluster_id
                   FROM reach GROUP BY u),
        rep AS MATERIALIZED (
          SELECT sp.doc_id, sp.split, l.cluster_id,
                 COALESCE(cs.split, sp.split) AS new_split
          FROM sp LEFT JOIN labels l ON l.node = sp.doc_id
          LEFT JOIN sp cs ON cs.doc_id = l.cluster_id),
        strad AS (
          SELECT CAST(count_if(db > 1) AS BIGINT) AS straddle_before,
                 CAST(count_if(da > 1) AS BIGINT) AS straddle_after
          FROM (SELECT cluster_id,
                       COUNT(DISTINCT split) AS db,
                       COUNT(DISTINCT new_split) AS da
                FROM rep WHERE cluster_id IS NOT NULL
                GROUP BY cluster_id)),
        bf AS (SELECT split AS split_name,
                      CAST(COUNT(*) AS BIGINT) AS n_before,
                      CAST(count_if(new_split <> split) AS BIGINT)
                        AS moved_out
               FROM rep GROUP BY split),
        af AS (SELECT new_split AS split_name,
                      CAST(COUNT(*) AS BIGINT) AS n_after,
                      CAST(count_if(new_split <> split) AS BIGINT)
                        AS moved_in
               FROM rep GROUP BY new_split)
        SELECT split_name, n_before, n_after, moved_out, moved_in,
               (SELECT straddle_before FROM strad) AS straddle_before,
               (SELECT straddle_after FROM strad) AS straddle_after
        FROM bf JOIN af USING (split_name)
        ORDER BY split_name"""))
  ,

    // --------------------------------------------------------------- q318
    // Maximal exact-substring shared runs (Lee et al. 2022's
    // suffix-array semantics, bounded): where q126 rewrites at FIXED
    // non-overlapping 8-word segments, this finds every MAXIMAL verbatim
    // run of ≥8 tokens shared across documents — sliding positional
    // 8-grams, a gram is "shared" when ≥2 distinct docs contain it, and
    // consecutive shared positions within a doc coalesce into maximal
    // runs (gaps-and-islands on the doc-keyed position stream; a run
    // from gram position i to j covers j − i + 8 tokens — the UNION of
    // the overlapping grams, so duplicated-token mass is never
    // double-counted). The planted re-crawl (every 6th doc re-enters
    // prefix-dropped with a fresh tail, keeping its source) must
    // surface as one long run per copy; its novel tail must NOT extend
    // the run — a wrong coalesce or a leaked tail cannot hash-match.
    // Base-corpus grams ride the session-shared POSITIONAL gram frame
    // (GramFrames.word8Pos — built once, shared with s51); only the
    // 1/6-sized re-crawl delta shingles in-query. 100 TB shape: the
    // document-frequency aggregate and the mark join shuffle 32-byte
    // digests + two longs, never text; the islands window is doc-keyed;
    // the rollup is source-keyed.
    QueryDef(
      "q318_exact_substring_runs",
      (s, dir) => {
        val baseG = GramFrames.word8Pos(s, dir)
        val d = docs(s, dir).select("doc_id", "source", "text")
        val recG = d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 800000).as("doc_id"), col("source"),
            concat(concat_ws(" ",
              slice(split(col("text"), " "), 6, 1000000)),
              lit(" fresh ending "), col("doc_id")).as("text"))
          .select(col("doc_id"), col("source"),
            posexplode(call_function("graft_word_ngrams", col("text"),
              lit(8))).as(Seq("pos", "g")))
          .select(col("doc_id"), col("source"),
            col("pos").cast("long").as("pos"), sha2(col("g"), 256).as("h"))
        val grams = baseG.unionByName(recG)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sharedH = grams.groupBy("h")
          .agg(countDistinct("doc_id").as("df"))
          .filter(col("df") >= 2).select("h")
        substringRunReport(grams.join(sharedH, "h"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 800000, source,
                 array_to_string(string_split(text, ' ')[6:], ' ') ||
                   ' fresh ending ' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 6 = 0),
        words AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                  FROM base),
        grams AS MATERIALIZED (
          SELECT doc_id, source, i - 1 AS pos,
                 array_to_string(ws[i:i+7], ' ') AS g
          FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)),
        shared AS (SELECT g FROM grams
                   GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (
          SELECT doc_id, source, pos,
                 pos - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS anchor
          FROM grams JOIN shared USING (g)),
        runs AS (
          SELECT doc_id, source, anchor,
                 CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS run_tokens
          FROM hits GROUP BY doc_id, source, anchor)
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(SUM(run_tokens) AS BIGINT) AS dup_tokens,
               CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens
        FROM runs GROUP BY source ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q326
    // Template-skeleton dedup — the instruction/synthetic-data variant
    // of exact dedup that q25's raw hash CANNOT catch: templatized
    // documents ("... ref 4217" / "... ref 9002") differ in every byte
    // hash yet are the same training example. Skeleton = digits
    // collapsed to '#' (regexp_replace, identical dialect both
    // engines); families group on md5(skeleton) so the shuffle carries
    // a 32-hex digest + source, never the text (the q318 discipline).
    // Planted families: every doc_id % 9 == 0 document arrives twice
    // more with distinct ' ref <digits>' suffixes — the two variants
    // share a skeleton (text + ' ref #') and family up with EXACTLY 2
    // members each (the original's skeleton lacks the suffix and stays
    // its own singleton family — spec-asserted), while their raw
    // hashes differ. Per-source report: docs, families,
    // docs in multi-member families, largest family, dedup savings
    // ppm. 100 TB shape: one stateless skeleton-hash projection →
    // one keyed aggregate → ≤ sources rollup.
    QueryDef(
      "q326_template_skeleton_dedup",
      (s, dir) => {
        val fam = templateCorpus(Tables(s, dir, "documents")
            .select("doc_id", "source", "text"))
          .select(col("source"), templateSkeletonH(col("text")).as("h"))
          .groupBy("source", "h").agg(count(lit(1)).as("fs"))
        fam.groupBy("source")
          .agg(sum("fs").as("n_docs"),
            count(lit(1)).as("n_families"),
            sum(when(col("fs") >= 2, col("fs")).otherwise(0L))
              .as("docs_in_multi"),
            max("fs").as("max_family"),
            expr("""CAST(CAST(sum(fs) - count(1) AS DECIMAL(38,0))
                    * 1000000 div nullif(sum(fs), 0) AS BIGINT)""")
              .as("savings_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 300000, source,
                 text || ' ref ' || CAST(doc_id * 3 + 1 AS VARCHAR)
          FROM documents WHERE doc_id % 9 = 0
          UNION ALL
          SELECT doc_id + 400000, source,
                 text || ' ref ' || CAST(doc_id * 7 + 2 AS VARCHAR)
          FROM documents WHERE doc_id % 9 = 0),
        fam AS (
          SELECT source, md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS h,
                 CAST(COUNT(*) AS BIGINT) AS fs
          FROM corpus GROUP BY source, h)
        SELECT source, CAST(SUM(fs) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_families,
               CAST(SUM(CASE WHEN fs >= 2 THEN fs ELSE 0 END) AS BIGINT)
                 AS docs_in_multi,
               CAST(MAX(fs) AS BIGINT) AS max_family,
               CAST(CAST(SUM(fs) - COUNT(*) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(fs) AS HUGEINT), 0) AS BIGINT)
                 AS savings_ppm
        FROM fam
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q333
    // Edit-distance VERIFIED dedup — the confirm tier every candidate
    // generator in this family feeds (q26's MinHash, q27's SimHash,
    // q158's sorted neighborhood emit CANDIDATES; production pipelines
    // then pay an exact per-pair verification before dropping a doc —
    // this operator is that stage in isolation): candidates are
    // prefix-digest buckets (md5 of the first 40 chars — 32 hex chars
    // ride the shuffle, never text), pairs rejoin their texts BY ID
    // (the q41/q83 skinny-pair discipline, plan-asserted there), and a
    // pair is confirmed only if full-text Levenshtein ≤ 24 — the same
    // char-counting function in both engines. Two deterministic plant
    // families prove both verdicts: doc_id % 11 == 3 re-arrives with
    // its LAST WORD swapped (small edit → candidate AND confirmed);
    // doc_id % 11 == 4 re-arrives sharing only the 40-char prefix with
    // a 300-char alien tail (candidate, REJECTED — exactly the false
    // positive a digest-only dedup would have eaten). Per-source
    // report: candidates, confirmed, rejected, docs dropped (higher id
    // loses), chars saved, saved-mass ppm (DECIMAL(38) ↔ HUGEINT).
    // 100 TB shape: pairing is digest-bucketed (never all-pairs), the
    // quadratic levenshtein runs only on candidate pairs, and every
    // aggregate is source-keyed.
    QueryDef(
      "q333_editdist_verified_dedup",
      (s, dir) => levReport(levCorpus(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(levOracle))
  ,

    // --------------------------------------------------------------- q341
    // Memorization-exposure audit — the risk forecast that sits on top
    // of q318's shared-run detection (Lee/Carlini: verbatim
    // memorization tracks how often a passage RECURS in training, so
    // the pre-training question is "how much of each source's token
    // stream is positions whose 8-gram appears elsewhere, and how
    // hot is the hottest passage?"): every sliding positional 8-gram
    // rides the session-shared [[GramFrames.word8Pos]] index (32-byte
    // digests + two longs, never text — built once, proven in
    // SharedArtifactsSpec's family), corpus-wide occurrence counts
    // come from ONE digest-keyed aggregate, and positions rejoin
    // counts by digest (big-big equi join, the q318 shape). Per-source
    // report: position mass, distinct grams, exposed positions
    // (count ≥ 2) with ppm, duplicate-sighting mass Σ(n−1), and the
    // max-recurrence hot spot. 100 TB shape: everything is
    // digest-keyed; no window, no all-pairs, no text after the index.
    QueryDef(
      "q341_memorization_exposure",
      (s, dir) => {
        val grams = GramFrames.word8Pos(s, dir)
        val counts = grams.groupBy("h").agg(count(lit(1)).as("n"))
        grams.join(counts, "h")
          .groupBy("source")
          .agg(count(lit(1)).as("n_positions"),
            countDistinct("h").as("n_distinct"),
            sum((col("n") >= 2).cast("long")).as("exposed_positions"),
            sum(col("n") - 1).as("dup_sightings"),
            max("n").as("max_exposure"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("exposed_ppm", expr(
            """CAST(CAST(exposed_positions AS DECIMAL(38,0)) * 1000000
               div n_positions AS BIGINT)"""))
          .select("source", "n_positions", "n_distinct",
            "exposed_positions", "exposed_ppm", "dup_sightings",
            "max_exposure")
          .orderBy("source")
      },
      Some("""
        WITH words AS (SELECT doc_id, source,
                              string_split(text, ' ') AS ws
                       FROM documents),
        grams AS MATERIALIZED (
          SELECT doc_id, source, i - 1 AS pos,
                 array_to_string(ws[i:i+7], ' ') AS g
          FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)),
        c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
              FROM grams GROUP BY g)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_positions,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
               CAST(count_if(n >= 2) AS BIGINT) AS exposed_positions,
               CAST(CAST(count_if(n >= 2) AS HUGEINT) * 1000000
                 // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS exposed_ppm,
               CAST(SUM(n - 1) AS BIGINT) AS dup_sightings,
               CAST(MAX(n) AS BIGINT) AS max_exposure
        FROM grams JOIN c USING (g)
        GROUP BY source
        ORDER BY source"""))
  ) :+ snmQuery

  /** q333 shared corpus: documents plus two deterministic plant
    * families — a last-word swap (true near-dup, must CONFIRM) and a
    * shared-prefix alien-tail decoy (digest collision, must REJECT).
    * Mirrored verbatim in the oracle's corpus CTE.
    *
    * Plant id space (ADVICE r11): ids live at 2·doc_id + 10⁹ (swap,
    * even) and 2·doc_id + 10⁹ + 1 (decoy, odd) — the two families are
    * parity-disjoint for ANY base id space (the former +800000/+900000
    * offsets collided with each other once two base ids differed by
    * exactly 100000), and both stay strictly above every base id as
    * long as base doc_id < 10⁹, a bound LlmDataSpec asserts against
    * the fixture. A per-row formula (not a runtime max(doc_id)) is
    * required because s64 runs this projection on a STREAMING frame. */
  private[graft] val levPlantBase = 1000000000L
  private[graft] def levCorpus(docs: DataFrame): DataFrame =
    docs
      .unionByName(docs.filter(col("doc_id") % 11 === 3)
        .select((col("doc_id") * 2 + levPlantBase).as("doc_id"),
          col("source"),
          expr("""regexp_replace(text, ' [^ ]+$',
                  concat(' xv', CAST(doc_id AS STRING)))""").as("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 4)
        .select((col("doc_id") * 2 + levPlantBase + 1).as("doc_id"),
          col("source"),
          concat(substring(col("text"), 1, 40), expr("repeat(' zq', 100)"))
            .as("text")))

  /** q333/s64 shared candidate/confirm/report half over the
    * plant-expanded corpus: prefix-digest candidate pairs (32 hex
    * chars on the shuffle), texts rejoined by id (the q41/q83 skinny
    * discipline), full-text Levenshtein <= 24 confirm, per-source
    * dedup report. */
  private[graft] def levReport(corpusRaw: DataFrame): DataFrame = {
    // columnar persist, NOT localCheckpoint (the measured q83 lesson:
    // compressed column-pruned cache beats raw-row checkpoint blocks
    // on text-heavy frames): four consumers read the corpus (keys,
    // both text rejoins, totals) and two read the scored pairs —
    // without the persist that is six corpus passes at 100 TB.
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = corpusRaw.persist(MEMORY_AND_DISK)
    val keys = corpus.select(col("doc_id"),
      md5(substring(col("text"), 1, 40)).as("h"))
    val pairs = keys.as("x").join(keys.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val ta = corpus.select(col("doc_id").as("id_a"),
      col("text").as("text_a"))
    val tb = corpus.select(col("doc_id").as("id_b"), col("source"),
      col("text").as("text_b"))
    val scored =
      pairs.join(ta, "id_a").join(tb, "id_b")
        .select(col("source"), col("id_b"),
          levenshtein(col("text_a"), col("text_b")).cast("long")
            .as("lev"),
          length(col("text_b")).cast("long").as("lb"))
        .persist(MEMORY_AND_DISK)
    val ps = scored.groupBy("source")
      .agg(count(lit(1)).as("cand_pairs"),
        sum((col("lev") <= 24).cast("long")).as("confirmed_pairs"))
      .withColumn("rejected_pairs",
        col("cand_pairs") - col("confirmed_pairs"))
    val dr = scored.filter(col("lev") <= 24)
      .groupBy("source", "id_b").agg(max("lb").as("lb"))
      .groupBy("source")
      .agg(count(lit(1)).as("dropped_docs"),
        sum("lb").as("saved_chars"))
    corpus.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("tot_chars"))
      .join(ps, Seq("source"), "left")
      .join(dr, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("cand_pairs"), lit(0L)).as("cand_pairs"),
        coalesce(col("confirmed_pairs"), lit(0L)).as("confirmed_pairs"),
        coalesce(col("rejected_pairs"), lit(0L)).as("rejected_pairs"),
        coalesce(col("dropped_docs"), lit(0L)).as("dropped_docs"),
        coalesce(col("saved_chars"), lit(0L)).as("saved_chars"),
        // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
        expr("""CAST(CAST(coalesce(saved_chars, 0) AS DECIMAL(38,0))
                * 1000000 div nullif(tot_chars, 0) AS BIGINT)""")
          .as("saved_ppm"))
      .orderBy("source")
  }

  /** q333's oracle, shared VERBATIM by s64. */
  private[graft] def levOracle: String = """
        WITH corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id * 2 + 1000000000, source,
                 regexp_replace(text, ' [^ ]+$', ' xv' || doc_id)
          FROM documents WHERE doc_id % 11 = 3
          UNION ALL
          SELECT doc_id * 2 + 1000000001, source,
                 substr(text, 1, 40) || repeat(' zq', 100)
          FROM documents WHERE doc_id % 11 = 4),
        keys AS (
          SELECT doc_id, md5(substr(text, 1, 40)) AS h FROM corpus),
        pairs AS (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b
          FROM keys x JOIN keys y
            ON x.h = y.h AND x.doc_id < y.doc_id),
        scored AS (
          SELECT cb.source, p.id_b,
                 CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS lev,
                 CAST(len(cb.text) AS BIGINT) AS lb
          FROM pairs p
          JOIN corpus ca ON p.id_a = ca.doc_id
          JOIN corpus cb ON p.id_b = cb.doc_id),
        ps AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS cand_pairs,
                 CAST(count_if(lev <= 24) AS BIGINT) AS confirmed_pairs,
                 CAST(COUNT(*) - count_if(lev <= 24) AS BIGINT)
                   AS rejected_pairs
          FROM scored GROUP BY source),
        dr AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS dropped_docs,
                 CAST(SUM(lb) AS BIGINT) AS saved_chars
          FROM (SELECT source, id_b, MAX(lb) AS lb FROM scored
                WHERE lev <= 24 GROUP BY source, id_b) d
          GROUP BY source),
        tot AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(text)) AS BIGINT) AS tot_chars
          FROM corpus GROUP BY source)
        SELECT t.source, n_docs,
               CAST(coalesce(cand_pairs, 0) AS BIGINT) AS cand_pairs,
               CAST(coalesce(confirmed_pairs, 0) AS BIGINT)
                 AS confirmed_pairs,
               CAST(coalesce(rejected_pairs, 0) AS BIGINT)
                 AS rejected_pairs,
               CAST(coalesce(dropped_docs, 0) AS BIGINT) AS dropped_docs,
               CAST(coalesce(saved_chars, 0) AS BIGINT) AS saved_chars,
               CAST(CAST(coalesce(saved_chars, 0) AS HUGEINT) * 1000000
                 // nullif(CAST(tot_chars AS HUGEINT), 0) AS BIGINT)
                 AS saved_ppm
        FROM tot t
        LEFT JOIN ps USING (source)
        LEFT JOIN dr USING (source)
        ORDER BY t.source"""


  /** q326/s56 shared: digit-collapsed template skeleton, digest-keyed so
    * only 32 hex chars ride any shuffle. Plain regexp_replace — same
    * '[0-9]+' semantics in Java and RE2; md5 hex identical both engines. */
  private[graft] def templateSkeletonH(c: Column): Column =
    md5(regexp_replace(c, "[0-9]+", "#"))

  /** q326's corpus: every doc_id % 9 == 0 document re-arrives twice with
    * distinct ' ref <digits>' suffixes — same skeleton, different raw
    * hash. Mirrored verbatim in the oracle's corpus CTE; the second
    * variant set doubles as s56's arriving stream. */
  private[graft] def templateCorpus(docs: DataFrame): DataFrame =
    docs.unionByName(templateVariant(docs, 300000, 3, 1))
      .unionByName(templateVariant(docs, 400000, 7, 2))

  private[graft] def templateVariant(docs: DataFrame, offset: Long,
      mult: Long, add: Long): DataFrame =
    docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + offset).as("doc_id"), col("source"),
        concat(col("text"), lit(" ref "),
          (col("doc_id") * mult + add).cast("string")).as("text"))

  /** Maximal-run coalescing + per-source rollup shared VERBATIM by q318
    * (corpus-wide symmetric audit) and s51 (incremental at-ingest probe):
    * `hits` carries one row per (doc_id, source, pos) whose positional
    * 8-gram is duplicated; consecutive positions coalesce via the
    * pos − row_number anchor (positions are unique per doc, so the
    * window is deterministic), and a run's token mass is the union of
    * its overlapping grams: max(pos) − min(pos) + 8. */
  private[graft] def substringRunReport(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = hits
      .withColumn("anchor", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")).cast("long"))
      .groupBy("doc_id", "source", "anchor")
      .agg((max("pos") - min("pos") + lit(8L)).as("run_tokens"))
    runs.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs_hit"),
        count(lit(1)).as("n_runs"),
        sum("run_tokens").as("dup_tokens"),
        max("run_tokens").as("max_run_tokens"))
      .orderBy("source")
  }

  /** s51's oracle — q318's incremental formulation: the arriving
    * re-crawl batch's positional grams probe the STANDING base-corpus
    * gram set; hit positions coalesce into maximal runs exactly as in
    * q318 (same islands algebra, same rollup columns). */
  private[graft] def substringProbeOracle: String = """
        WITH words AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws
          FROM documents),
        standing AS MATERIALIZED (
          SELECT DISTINCT array_to_string(ws[i:i+7], ' ') AS g
          FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)),
        arr AS (
          SELECT doc_id + 800000 AS doc_id, source,
                 string_split(
                   array_to_string(string_split(text, ' ')[6:], ' ') ||
                     ' fresh ending ' || CAST(doc_id AS VARCHAR),
                   ' ') AS ws
          FROM documents WHERE doc_id % 6 = 0),
        agrams AS (
          SELECT doc_id, source, i - 1 AS pos,
                 array_to_string(ws[i:i+7], ' ') AS g
          FROM arr, UNNEST(range(1, len(ws) - 6)) AS t(i)),
        hits AS (
          SELECT a.doc_id, a.source, a.pos,
                 a.pos - row_number() OVER (PARTITION BY a.doc_id
                                            ORDER BY a.pos) AS anchor
          FROM agrams a JOIN standing st USING (g)),
        runs AS (
          SELECT doc_id, source, anchor,
                 CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS run_tokens
          FROM hits GROUP BY doc_id, source, anchor)
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(SUM(run_tokens) AS BIGINT) AS dup_tokens,
               CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens
        FROM runs GROUP BY source ORDER BY source"""

  /** q279/s45 shared: the standing corpus's distinct gram digests
    * (h, seen = 1) — every doc except today's batch (doc_id % 5 = 4). */
  private[graft] def noveltyStanding(grams: DataFrame): DataFrame =
    grams.filter(col("doc_id") % 5 =!= 4)
      .select("h").distinct().withColumn("seen", lit(1L))

  /** q279/s45 shared: the per-source novelty report over batch grams
    * (doc_id, source, seen) left-joined to [[noveltyStanding]]. */
  private[graft] def noveltyReport(probed: DataFrame): DataFrame =
    probed.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("grams_total"),
        sum("n_novel").as("grams_novel"),
        expr("sum(novelty_ppm) div count(1)").as("mean_novelty_ppm"),
        sum(when(col("novelty_ppm") >= 900000L, 1L).otherwise(0L))
          .as("n_mostly_new"),
        sum(when(col("novelty_ppm") <= 100000L, 1L).otherwise(0L))
          .as("n_mostly_seen"))
      .orderBy("source")

  /** q279's oracle, shared VERBATIM by s45 (the at-ingest streaming
    * novelty report must hash-match the batch audit exactly). */
  private[graft] def noveltyOracle: String = """
        WITH words AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws
          FROM documents),
        grams AS MATERIALIZED (
          SELECT DISTINCT doc_id, source,
                 UNNEST(list_transform(range(1, len(ws) - 6),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                        ws[i+6] || ' ' || ws[i+7])) AS g
          FROM words),
        standing AS MATERIALIZED (
          SELECT DISTINCT g FROM grams WHERE doc_id % 5 <> 4),
        scored AS (
          SELECT b.doc_id, b.source,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(count_if(st.g IS NULL) AS BIGINT) AS n_novel
          FROM (SELECT * FROM grams WHERE doc_id % 5 = 4) b
          LEFT JOIN standing st ON b.g = st.g
          GROUP BY b.doc_id, b.source),
        ppm AS (
          SELECT *, n_novel * 1000000 // n_grams AS novelty_ppm
          FROM scored)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS grams_total,
               CAST(SUM(n_novel) AS BIGINT) AS grams_novel,
               CAST(SUM(novelty_ppm) AS BIGINT) // COUNT(*)
                 AS mean_novelty_ppm,
               CAST(count_if(novelty_ppm >= 900000) AS BIGINT)
                 AS n_mostly_new,
               CAST(count_if(novelty_ppm <= 100000) AS BIGINT)
                 AS n_mostly_seen
        FROM ppm
        GROUP BY source
        ORDER BY source"""

  /** q107's oracle, shared verbatim by s37. */
  private[graft] def neardupIngestOracle: String = """
        WITH batch AS (
          SELECT doc_id + 500000 AS doc_id,
                 regexp_replace(text, ' \S+$', '') AS text
          FROM documents WHERE doc_id % 9 = 0
          UNION ALL
          SELECT doc_id + 600000,
                 'novel content batch item ' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 9 = 1),
        bsh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
                FROM (SELECT doc_id, string_split(text, ' ') w FROM batch) t
                WHERE len(w) >= 3),
        csh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
                FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t
                WHERE len(w) >= 3),
        dup AS (
          SELECT DISTINCT b.doc_id
          FROM bsh b JOIN csh c
            ON 5 * len(list_intersect(b.s, c.s))
               >= 3 * len(list_distinct(list_concat(b.s, c.s))))
        SELECT CASE WHEN dup.doc_id IS NOT NULL
                    THEN 'near_dup' ELSE 'admitted' END AS reason,
               COUNT(*) AS n,
               MIN(batch.doc_id) AS min_id,
               MAX(batch.doc_id) AS max_id
        FROM batch LEFT JOIN dup ON batch.doc_id = dup.doc_id
        GROUP BY reason
        ORDER BY reason"""
}
