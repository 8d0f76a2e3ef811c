package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Set-similarity join with prefix filtering — the exact (non-LSH)
  * scale path for n-gram/token Jaccard joins, and SRP-LSH bucketing for
  * embedding cosine — completing the dedup/similarity families.
  *
  * Prefix filtering (q41) is the canonical exact algorithm: order each
  * record's token set by ascending global frequency; a pair with Jaccard
  * ≥ τ MUST share a token within each side's first |s|−⌈τ·|s|⌉+1 tokens,
  * so exploding only prefixes gives a complete candidate set from an
  * equi-join on the token — no quadratic comparison, no probabilistic
  * recall. The rare-token-first ordering keeps candidate buckets small
  * (the frequency dimension is a tiny broadcast).
  *
  * SRP-LSH (q42) buckets embeddings by the sign pattern of projections
  * onto fixed directions, banded so candidates share a band key — the
  * approximate scale path; its oracle replicates the ALGORITHM (bit-exact
  * double dots), so the gate checks fidelity while recall is asserted in
  * LlmDataSpec against the exact pairs.
  */
object SimilarityJoin {

  /** q41/q83 shared: the prefix-filter candidate pairs (id_a < 200000 ≤
    * id_b, distinct) of rare-first sorted shingle arrays (doc_id, st, n).
    * SKINNY candidate stage (q42 discipline; VERDICT r9 item 3): only
    * (doc_id, n, pt) rides the equi-join exchange — shipping the full
    * shingle arrays through the candidate shuffle and distinct()-ing
    * array columns was the q42-documented 15× trap; arrays rejoin by id
    * after the dedup. Length filter (the oracles' cand CTEs have it
    * too): Jaccard ≥ 0.6 is impossible unless 5·min(na,nb) ≥
    * 3·max(na,nb), so such candidates never reach the verify rejoin. */
  private[operators] def prefixCandidates(sorted: DataFrame): DataFrame = {
    val pref = sorted
      // prefix length |s| - ceil(0.6·|s|) + 1 = n - (3n+4) div 5 + 1
      .withColumn("plen", col("n") - expr("(3 * n + 4) div 5") + lit(1))
      .select(col("doc_id"), col("n"),
        explode(expr("slice(st, 1, plen)")).as("pt"))
    val aSide = pref.filter(col("doc_id") < 200000)
      .select(col("doc_id").as("id_a"), col("n").as("na"), col("pt"))
    val bSide = pref.filter(col("doc_id") >= 200000)
      .select(col("doc_id").as("id_b"), col("n").as("nb"), col("pt"))
    aSide.join(bSide, "pt")
      .filter(col("nb") * 5 >= col("na") * 3 &&
        col("na") * 5 >= col("nb") * 3)
      .select("id_a", "id_b").distinct()
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q41
    // 3-gram-shingle similarity join with prefix filtering, τ = 0.6:
    // documents (A) × re-crawl with last word dropped (B). Shingles are
    // near-unique across documents, so the rare-first prefixes prune the
    // candidate space to essentially the true pairs — the exact
    // counterpart to q26's probabilistic LSH. Verification is
    // integer-exact (5·∩ ≥ 3·∪).
    QueryDef(
      "q41_prefix_filter_jaccard_join",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val a = docs
        val b = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            regexp_replace(col("text"), " \\S+$", "").as("text"))
        // spread (r14, guide §2.5): union of two single-row-group scans
        // = ≤2 tasks serializing the shingle construction
        val corpus =
          graft.Tables.spread(a.unionByName(b), col("doc_id"))
          .withColumn("w", split(col("text"), " "))
          .withColumn("s", expr(Dedup.shinglesExpr))
          .filter(size(col("s")) > 0)
          .select("doc_id", "s")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // global shingle frequencies (hashed key keeps the dimension slim)
        val freq = corpus.select(explode(col("s")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("f"))
        // shingles sorted rare-first (freq, then shingle, both ascending);
        // persisted because BOTH the prefix stage and the two verify-side
        // rejoins read it (VERDICT r9 item 3)
        val sorted =
          corpus.select(col("doc_id"), explode(col("s")).as("t"))
            .join(freq, "t")
            .groupBy("doc_id")
            // `.t` (GetArrayStructFields, codegen'd) not
            // `transform(..., x -> x.t)` (interpreted lambda per element)
            .agg(expr("array_sort(collect_list(struct(f, t))).t").as("st"))
            .withColumn("n", size(col("st")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prefixCandidates(sorted)
          .join(sorted.select(col("doc_id").as("id_a"), col("st").as("sa")),
            "id_a")
          .join(sorted.select(col("doc_id").as("id_b"), col("st").as("sb")),
            "id_b")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("uni", size(array_union(col("sa"), col("sb"))))
          .filter(col("inter") * 5 >= col("uni") * 3)
          .select("id_a", "id_b", "inter", "uni")
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH corpus AS (
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
          FROM pref a JOIN pref b
            ON a.pt = b.pt AND a.doc_id < 200000 AND b.doc_id >= 200000
          WHERE 5 * b.n >= 3 * a.n AND 5 * a.n >= 3 * b.n)
        SELECT id_a, id_b,
               len(list_intersect(sa.st, sb.st)) AS inter,
               len(list_distinct(list_concat(sa.st, sb.st))) AS uni
        FROM cand JOIN sorted sa ON sa.doc_id = cand.id_a
                  JOIN sorted sb ON sb.doc_id = cand.id_b
        WHERE 5 * len(list_intersect(sa.st, sb.st))
              >= 3 * len(list_distinct(list_concat(sa.st, sb.st)))
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q42
    // SRP-LSH embedding near-dup: 16 sign bits from projections onto the
    // (deterministic) direction vectors vec_id 100..115, banded 2×8 —
    // 256 keys per band keeps buckets ~N/256, so the candidate join is
    // sparse; candidates are deduped as SKINNY id pairs (the embedding
    // arrays rejoin only after distinct — shipping arrays through the
    // pair-dedup shuffle was a 15× slowdown). Verify cosine ≥ 0.99 in
    // exact doubles. Corpus: embeddings ∪ copies with +0.1 on the first
    // component (cosine ≈ 0.995 — the high-similarity regime SRP is
    // designed for; band recall ≈ 0.95, asserted in LlmDataSpec).
    // The oracle replicates the ALGORITHM bit-for-bit, so the gate checks
    // bucketing fidelity, not recall.
    QueryDef(
      "q42_srp_lsh_embedding_neardup",
      (s, dir) => {
        val base = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"))
        val corpus = base.unionByName(
          base.filter(col("vec_id") % 5 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              expr("concat(array(element_at(e, 1) + 0.1d), slice(e, 2, 63))").as("e")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dirs = base.filter(col("vec_id") >= 100 && col("vec_id") < 116)
          .select(col("vec_id").as("dir_id"), col("e").as("de"))
        // 16 sign bits per vector; broadcast the 16 directions, partial
        // (map-side) sum collapses to one signature row per vector
        // raw dot via the same codegen'd loop (cosine of unit-comparable
        // vectors has the same sign as the dot product — but we keep the
        // reference semantics: sign of the raw projection)
        val signs = corpus.join(broadcast(dirs), lit(true))
          .withColumn("dot", expr(
            "aggregate(zip_with(e, de, (x, y) -> x * y), 0d, (acc, v) -> acc + v)"))
          .groupBy("vec_id")
          .agg(
            sum(when(col("dot") >= 0,
              expr("shiftleft(cast(1 AS BIGINT), cast(dir_id - 100 AS INT))")).otherwise(0L))
              .as("sig"))
        // 2 bands × 8 bits; skinny (vec_id, band, key) rows only
        val bandCols = (0 until 2).map(bd =>
          struct(lit(bd).as("band"),
            shiftright(col("sig"), bd * 8).bitwiseAND(255).as("bk")))
        val banded = signs.select(col("vec_id"),
          explode(array(bandCols: _*)).as("bb"))
          .select(col("vec_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
        val cand = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
              && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
          .distinct()
        val cos = call_function("graft_cosine", col("ea"), col("eb"))
        cand
          .join(corpus.select(col("vec_id").as("id_a"), col("e").as("ea")), "id_a")
          .join(corpus.select(col("vec_id").as("id_b"), col("e").as("eb")), "id_b")
          .withColumn("sim", cos)
          .filter(col("sim") >= 0.99)
          .select("id_a", "id_b", "sim")
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
                      FROM embeddings),
        corpus AS (
          SELECT vec_id, e FROM base
          UNION ALL
          SELECT vec_id + 100000, list_concat([e[1] + 0.1], e[2:64])
          FROM base WHERE vec_id % 5 = 0),
        dirs AS (SELECT vec_id - 100 AS k, e de FROM base
                 WHERE vec_id >= 100 AND vec_id < 116),
        signs AS (
          SELECT c.vec_id,
                 CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(c.e, d.de),
                                        x -> x[1] * x[2])) >= 0
                     THEN (CAST(1 AS BIGINT) << CAST(d.k AS INT)) ELSE 0 END) AS BIGINT) AS sig
          FROM corpus c CROSS JOIN dirs d GROUP BY c.vec_id),
        banded AS (
          SELECT s.vec_id, b.range AS band,
                 (s.sig >> (CAST(b.range AS INT) * 8)) & 255 AS bk
          FROM signs s CROSS JOIN range(2) b),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b,
               (list_sum(list_transform(list_zip(x.e, y.e), v -> v[1] * v[2]))
                / (sqrt(list_sum(list_transform(x.e, v -> v * v)))
                   * sqrt(list_sum(list_transform(y.e, v -> v * v))))) AS sim
        FROM cand c
        JOIN corpus x ON x.vec_id = c.id_a
        JOIN corpus y ON y.vec_id = c.id_b
        WHERE (list_sum(list_transform(list_zip(x.e, y.e), v -> v[1] * v[2]))
               / (sqrt(list_sum(list_transform(x.e, v -> v * v)))
                  * sqrt(list_sum(list_transform(y.e, v -> v * v))))) >= 0.99
        ORDER BY id_a, id_b"""))
  ,

    // --------------------------------------------------------------- q235
    // Excerpt / quotation detection — the ASYMMETRIC twin of the
    // Jaccard joins: a short probe (a benchmark item, a quoted passage)
    // is "contained" in a source doc when ≥ 80% of the probe's 3-gram
    // shingles appear in the doc — containment C(e,d) = |G(e)∩G(d)| /
    // |G(e)|, the directional overlap Jaccard under-scores when the
    // sizes are lopsided (a 20-word quote inside a 300-word page has
    // J ≈ 0.06 but C = 1.0). This is q66's decontamination signal
    // upgraded from boolean hit-rate to scored pair output. Probes are
    // planted: every 11th doc's words 11–30 re-enter as an excerpt
    // under id+500000, which must land on its source at C = 1000‰.
    // Scale shape: NO list verify and NO pairing hint — the exact
    // intersection count IS the gram equi-join aggregated per
    // (excerpt, doc), so the shuffle carries gram keys, candidate
    // fan-out is bounded by per-gram document frequency (at web scale
    // you'd cap DF, the CCNet discipline), and the probe side is tiny.
    QueryDef(
      "q235_excerpt_containment_join",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select("doc_id", "text")
        val ex = d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 500000).as("eid"),
            concat_ws(" ", slice(split(col("text"), " "), 11, 20)).as("text"))
        val eg = ex.select(col("eid"),
            explode(call_function("graft_word_ngrams", col("text"), lit(3))).as("g"))
          .distinct()
        val cg = d.select(col("doc_id"),
            explode(call_function("graft_word_ngrams", col("text"), lit(3))).as("g"))
          .distinct()
        val inter = eg.join(cg, "g")
          .groupBy("eid", "doc_id").agg(count(lit(1)).as("inter"))
        val ng = eg.groupBy("eid").agg(count(lit(1)).as("n_grams"))
        inter.join(ng, "eid")
          .filter(col("inter") * 5 >= col("n_grams") * 4)
          .select(col("eid"), col("doc_id"), col("n_grams"), col("inter"),
            expr("inter * 1000 div n_grams").as("containment_permille"))
          .orderBy("eid", "doc_id")
      },
      Some("""
        WITH ex AS (
          SELECT doc_id + 500000 AS eid,
                 array_to_string(string_split(text, ' ')[11:30], ' ') AS text
          FROM documents WHERE doc_id % 11 = 0),
        eg AS (
          SELECT DISTINCT eid,
                 UNNEST(list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
          FROM (SELECT eid, string_split(text, ' ') AS ws FROM ex)),
        cg AS (
          SELECT DISTINCT doc_id,
                 UNNEST(list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        inter AS (
          SELECT eid, doc_id, COUNT(*) AS inter
          FROM eg JOIN cg USING (g)
          GROUP BY eid, doc_id),
        ng AS (SELECT eid, COUNT(*) AS n_grams FROM eg GROUP BY eid)
        SELECT inter.eid, doc_id, n_grams, inter,
               inter * 1000 // n_grams AS containment_permille
        FROM inter JOIN ng ON inter.eid = ng.eid
        WHERE inter * 5 >= n_grams * 4
        ORDER BY inter.eid, doc_id"""))
  )
}
