package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over `embeddings` (vec_id, embedding float[64],
  * label): brute-force cosine top-k as the correctness baseline and an
  * IVF-bucketed variant as the 100 TB scale path, plus threshold near-dup
  * pairs.
  *
  * Determinism contract with the DuckDB oracle: every float is cast to
  * double FIRST, then all arithmetic (zip-multiply, sequential sum, sqrt,
  * divide) happens in IEEE doubles in array order. Both engines execute
  * the identical operation sequence, so similarity values are bit-exact —
  * verified by the correctness gate's value hashing (no tolerance).
  *
  * 100 TB scale design:
  *  - brute-force is the oracle/baseline only: its plan is a broadcast of
  *    the (tiny) query set against the big side — O(Q·N) but embarrass-
  *    ingly parallel with NO shuffle of the big side and no cross-join of
  *    big×big;
  *  - the IVF variant is the scale path: vectors are assigned once to
  *    their nearest coarse centroid (a narrow map over the big side; the
  *    centroid set broadcasts), and each query probes only `nprobe`
  *    buckets — candidate generation is an equi-join on bucket id, so a
  *    1000-executor cluster shuffles only the probed fraction (~nprobe/C)
  *    of the corpus;
  *  - near-dup pairs join the perturbed corpus back on the ORIGINAL id
  *    (equi-key), not all-pairs.
  */
object Similarity {

  /** embedding as array<double> — the shared exact-arithmetic base. */
  private def emb(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"))
  }

  /** Cosine via the native codegen'd expression
    * ([[graft.plans.CosineSimilarity]]): array-order double accumulation,
    * bit-identical to DuckDB's list_sum(list_transform(list_zip(...))). */
  private def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** DuckDB rendering of the same cosine (kept in one place so Spark and
    * oracle stay in lock-step). */
  private def duckCosine(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))
        / (sqrt(list_sum(list_transform($a, x -> x * x)))
           * sqrt(list_sum(list_transform($b, x -> x * x)))))"""

  private val duckEmb: String =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings"

  /** q336/q344 shared: every vector's coarse-quantizer cluster (k = 8,
    * init = vec_id < 8, two Lloyd rounds on the vec_id % 10 == 0
    * sample — the q29/q125/q330 device) plus its cosine to the winning
    * centroid. Deterministic argmax via max(struct(sim, −cent_id)):
    * highest cosine, then lowest centroid id. */
  private def coarseAssign(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val init = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val sample = base.filter(col("vec_id") % 10 === 0)
    val cent = lloyd(sample, lloyd(sample, init)).localCheckpoint(true)
    base.join(broadcast(cent), lit(true))
      .groupBy("vec_id")
      .agg(max(struct(cosine(col("e"), col("ce")).as("sim"),
        (-col("cent_id")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster_id"),
        col("m.sim").as("sim"))
  }

  /** DuckDB rendering of [[coarseAssign]] (CTE list prefix + the asg
    * CTE), kept adjacent so the two stay in lock-step. */
  private def duckCoarseAssign: String = s"""
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base
                 WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        asg AS (
          SELECT vec_id, cent_id AS cluster_id, sim FROM (
            SELECT b.vec_id, c.cent_id,
                   ${duckCosine("b.e", "c.ce")} AS sim,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id)
                     AS rnk
            FROM base b CROSS JOIN cent2 c) x WHERE rnk = 1)"""

  /** One deterministic Lloyd (k-means) iteration for the IVF coarse
    * quantizer: assign each training vector to its nearest centroid
    * (cosine, lowest-id tie-break), then recompute every centroid as the
    * element-wise mean of its members. Mean = exact decimal sum (order-
    * independent, so distributed partial aggregation is safe) cast to
    * double, divided by the member count — bit-identical in DuckDB.
    * At 100 TB the shape holds: centroids broadcast, assignment is a
    * narrow map, and only (bucket, dim) partials shuffle — and training
    * runs on a deterministic sample, never the full corpus. */
  private def lloyd(train: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = train.join(broadcast(cent), lit(true))
      .groupBy("vec_id")
      .agg(
        max_by(col("cent_id"),
          struct(cosine(col("e"), col("ce")), -col("cent_id"))).as("bucket"),
        first(col("e")).as("e"))
    assigned
      .select(col("bucket"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy(col("bucket"), col("dim"))
      // bround (HALF_EVEN) BEFORE the decimal cast: Spark's double→decimal
      // cast rounds HALF_UP while DuckDB's rounds HALF_EVEN, and
      // float32-sourced values land on exact 12-digit ties (e.g.
      // 0.1983642578125 = 1625/2^13) often enough to bite — q110 caught
      // it live. bround pre-resolves the tie the way the oracle does;
      // the follow-up cast is then tie-free (the rounded double is
      // ~1e-17 from its decimal, never halfway).
      .agg((sum(bround(col("v"), 12).cast("decimal(27,12)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy(col("bucket").as("cent_id"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").as("ce"))
  }

  /** The trained k=8 codebook (cent_id, ce) of `corpus` (vec_id, e):
    * seeded from vectors 0..7, refined by two Lloyd iterations over the
    * vec_id % 10 = 0 training sample. O(k·d) — checkpointed so the
    * (tiny) training lineage isn't re-executed by each downstream
    * reference. */
  private def codebook(corpus: DataFrame): DataFrame = {
    val init = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"))
    val train = corpus.filter(col("vec_id") % 10 === 0)
    lloyd(train, lloyd(train, init)).localCheckpoint(eager = true)
  }

  /** IVF assignment (vec_id, bucket, e): nearest centroid per vector via
    * max_by — partial (map-side) aggregation collapses the 8 scored rows
    * per vector BEFORE the shuffle, so the index build moves each
    * embedding once (a window over vec_id would shuffle all 8).
    * Tie-break on lowest cent_id matches the oracle's row_number
    * ordering. */
  private def ivfAssign(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.join(broadcast(cent), lit(true))
      .groupBy("vec_id")
      .agg(
        max_by(col("cent_id"),
          struct(cosine(col("e"), col("ce")), -col("cent_id"))).as("bucket"),
        first(col("e")).as("e"))

  /** q91/q97 shared: the persisted IVF index build under `d` — the
    * codebook trained on `corpus` written as `centroids`, and `corpus`
    * assigned and written as `index`, partitioned BY bucket so a probe's
    * equi-join prunes to the probed bucket directories. Returns the
    * codebook. */
  private def ivfBuild(corpus: DataFrame, d: java.nio.file.Path): DataFrame = {
    val cent = codebook(corpus)
    cent.write.mode("overwrite").parquet(d.resolve("centroids").toString)
    ivfAssign(corpus, cent)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(d.resolve("index").toString)
    cent
  }

  /** IVF top-5 serving for query vectors 0..19 of `queries` (vec_id, e):
    * each query probes its nprobe=2 nearest centroids of `cent`, the
    * candidates are an equi-join on bucket against `index` (vec_id,
    * bucket, e) — the only shuffle of the corpus — and only candidates
    * re-rank. */
  private def ivfServe(queries: DataFrame, cent: DataFrame,
      index: DataFrame): DataFrame = {
    val qw = Window.partitionBy("query_id")
      .orderBy(cosine(col("qe"), col("ce")).desc, col("cent_id"))
    val probes = queries.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .join(broadcast(cent), lit(true))
      .withColumn("prnk", row_number().over(qw))
      .filter(col("prnk") <= 2)
      .select(col("query_id"), col("qe"), col("cent_id").as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    probes.join(index, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("e")).as("sim"))
      .distinct() // a neighbor may appear via both probed buckets
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** q213/q214 shared: (vec_id, e, lbl) — embeddings with their label. */
  private def labeledEmb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"),
        col("label").cast("long").as("lbl"))

  /** q213/q214 shared: each sample query (every 40th vector: qid,
    * true_label) with its 5 nearest other vectors (vec_id, nlbl, sim,
    * rk) by cosine, ties to the lowest vec_id. The sample broadcasts
    * (q28's plan — the corpus never shuffles). */
  private def knnTop5(base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("lbl").as("true_label"))
    val wRank = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    base.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("true_label"), col("vec_id"),
        col("lbl").as("nlbl"), cosine(col("qe"), col("e")).as("sim"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 5)
  }

  /** DuckDB rendering of the same Lloyd iteration (centroid CTE in,
    * centroid CTE out), kept adjacent so the two stay in lock-step. */
  private def duckLloyd(train: String, centIn: String, n: Int): String = s"""
        a$n AS (
          SELECT vec_id, e, cent_id AS bucket FROM (
            SELECT t.vec_id, t.e, c.cent_id,
                   row_number() OVER (PARTITION BY t.vec_id
                     ORDER BY ${duckCosine("t.e", "c.ce")} DESC, c.cent_id) AS rnk
            FROM $train t CROSS JOIN $centIn c) x WHERE rnk = 1),
        m$n AS (
          SELECT bucket, dim,
                 CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
          FROM (SELECT bucket, unnest(e) AS v,
                       generate_subscripts(e, 1) AS dim FROM a$n) z
          GROUP BY bucket, dim),
        cent$n AS (SELECT bucket AS cent_id, list(m ORDER BY dim) AS ce
                   FROM m$n GROUP BY bucket)"""

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q28
    // Brute-force cosine top-5 for 20 query vectors. Query side broadcasts;
    // big side is scanned once, narrowly; per-query top-k via window.
    QueryDef(
      "q28_ann_brute_topk",
      (s, dir) => {
        val base = emb(s, dir)
        val q = base.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        val scored = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosine(col("qe"), col("e")).as("sim"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("query_id", "rank", "neighbor_id", "sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 20),
        scored AS (
          SELECT q.query_id, b.vec_id AS neighbor_id,
                 ${duckCosine("q.qe", "b.e")} AS sim
          FROM base b JOIN q ON b.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored) r
        WHERE rank <= 5
        ORDER BY query_id, rank""")),

    // ---------------------------------------------------------------- q29
    // IVF top-5 with a TRAINED coarse quantizer: k=8 centroids seeded from
    // vectors 0..7, refined by two deterministic Lloyd iterations over a
    // 10% training sample (vec_id % 10 — train-on-sample is the 100 TB
    // pattern; the full corpus is only ever assigned, never trained on).
    // Every vector is assigned to its nearest trained centroid (one narrow
    // pass, centroids broadcast); each query probes its nprobe=2 nearest
    // buckets; re-rank only candidates. The oracle replicates the whole
    // algorithm — init, both Lloyd iterations, assignment, probing,
    // re-rank — so the gate checks algorithm fidelity, not ANN recall;
    // recall vs q28 is asserted separately in LlmDataSpec.
    QueryDef(
      "q29_ann_ivf_topk",
      (s, dir) => {
        val base = emb(s, dir)
        val cent = codebook(base)
        ivfServe(base, cent, ivfAssign(base, cent))
      },
      Some(ivfTopkOracle)),

    // ---------------------------------------------------------------- q30
    // Embedding near-dup: every 5th vector re-appears (id+100000) with
    // +0.5 added to its first component (in doubles). Pairs with cosine
    // ≥ 0.8 are exactly the construction pairs; matching is an equi-join
    // on the original id — never all-pairs.
    QueryDef(
      "q30_embedding_neardup",
      (s, dir) => {
        val base = emb(s, dir)
        val pert = base.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000).as("pert_id"),
            expr("""concat(array(element_at(e, 1) + 0.5d), slice(e, 2, 63))""").as("pe"),
            col("vec_id").as("orig_id"))
        pert.join(base, col("orig_id") === col("vec_id"))
          .select(col("orig_id"), col("pert_id"),
            cosine(col("e"), col("pe")).as("sim"))
          .filter(col("sim") >= 0.8)
          .orderBy("orig_id")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        pert AS (
          SELECT vec_id + 100000 AS pert_id,
                 list_concat([e[1] + 0.5], e[2:64]) AS pe,
                 vec_id AS orig_id
          FROM base WHERE vec_id % 5 = 0)
        SELECT p.orig_id, p.pert_id, ${duckCosine("b.e", "p.pe")} AS sim
        FROM pert p JOIN base b ON p.orig_id = b.vec_id
        WHERE ${duckCosine("b.e", "p.pe")} >= 0.8
        ORDER BY orig_id""")),

    // ---------------------------------------------------------------- q64
    // K-means clustering of the embedding corpus, surfaced as an operator
    // in its own right (q29 uses the same trained codebook internally as
    // an ANN index). Train on the 10% sample (2 deterministic Lloyd
    // iterations, vectors 0..7 init), then one broadcast assignment pass
    // over the full corpus; output per-cluster membership stats (pure
    // integers — no float aggregates to disagree on).
    // 100 TB shape: training touches only the sample; assignment is a
    // narrow map with the k×d codebook broadcast; the final rollup
    // shuffles one (bucket, vec_id) pair per vector.
    QueryDef(
      "q64_kmeans_clusters",
      (s, dir) => {
        val base = emb(s, dir)
        base.join(broadcast(codebook(base)), lit(true))
          .groupBy("vec_id")
          .agg(max_by(col("cent_id"),
            struct(cosine(col("e"), col("ce")), -col("cent_id"))).as("cluster_id"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_vecs"),
            min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        cent AS (SELECT cent_id, ce FROM cent2),
        assigned AS (
          SELECT vec_id, cent_id AS cluster_id FROM (
            SELECT b.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id) AS arnk
            FROM base b CROSS JOIN cent c) x WHERE arnk = 1)
        SELECT cluster_id, COUNT(*) AS n_vecs,
               MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
        FROM assigned
        GROUP BY cluster_id
        ORDER BY cluster_id""")),

    // ---------------------------------------------------------------- q91
    // IVF index persistence — the build-once / serve-many lifecycle q29
    // leaves implicit: the trained codebook and the bucket assignments
    // are WRITTEN (the index build, paid once), and queries are answered
    // purely from the persisted index — no training, no corpus
    // assignment pass at serve time. The index parquet is partitioned BY
    // bucket, so a probe's equi-join prunes to the nprobe bucket
    // directories and the serve-time scan reads ~nprobe/C of the corpus
    // — on disk, not just in the shuffle. Results are q29's exactly
    // (same oracle): persistence must not change a single neighbor.
    QueryDef(
      "q91_ivf_index_persist",
      (s, dir) => {
        val idx = Staging.ensure("ivf_index", dir, s"$dir/embeddings.parquet") { d =>
          ivfBuild(emb(s, dir), d)
          ""
        }
        ivfServe(emb(s, dir), s.read.parquet(idx.resolve("centroids").toString),
          s.read.parquet(idx.resolve("index").toString))
      },
      Some(ivfTopkOracle)),

    // ---------------------------------------------------------------- q97
    // Incremental IVF index MAINTENANCE — the lifecycle step after q91's
    // build-once/serve-many: a new embedding batch (every vec_id % 10 ==
    // 3, withheld from the build) is assigned to the FROZEN codebook
    // (one broadcast pass over just the batch — no retraining, no
    // re-assignment of the existing corpus) and APPENDED into the
    // bucket-partitioned index files. Serving over the maintained index
    // must equal serving over a full assignment under the same codebook
    // — the invariant that makes append-only maintenance sound. At
    // 100 TB this is the difference between touching O(batch) and
    // re-clustering O(corpus) on every ingest tick.
    QueryDef(
      "q97_ivf_incremental_add",
      (s, dir) => {
        val idx = Staging.ensure("ivf_incr", dir, s"$dir/embeddings.parquet") { d =>
          val base = emb(s, dir)
          val existing = base.filter(col("vec_id") % 10 =!= 3)
          val newBatch = base.filter(col("vec_id") % 10 === 3)
          // the build: existing corpus assigned + written once
          val cent = ivfBuild(existing, d)
          // the maintenance tick: ONLY the batch is assigned; its rows
          // append as new files inside the existing bucket partitions
          ivfAssign(newBatch, cent)
            .write.mode("append").partitionBy("bucket")
            .parquet(d.resolve("index").toString)
          ""
        }
        ivfServe(emb(s, dir), s.read.parquet(idx.resolve("centroids").toString),
          s.read.parquet(idx.resolve("index").toString))
      },
      // the oracle assigns the FULL base against the frozen codebook in
      // one pass — exactly what build+append must be equivalent to
      Some(s"""
        WITH base AS ($duckEmb),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base
                 WHERE vec_id < 8 AND vec_id % 10 <> 3),
        train AS (SELECT vec_id, e FROM base
                  WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        cent AS (SELECT cent_id, ce FROM cent2),
        assigned AS (
          SELECT vec_id, e, cent_id AS bucket FROM (
            SELECT b.vec_id, b.e, c.cent_id,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id) AS arnk
            FROM base b CROSS JOIN cent c) x WHERE arnk = 1),
        probes AS (
          SELECT query_id, qe, cent_id AS bucket FROM (
            SELECT q.vec_id AS query_id, q.e AS qe, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ${duckCosine("q.e", "c.ce")} DESC, c.cent_id) AS prnk
            FROM base q CROSS JOIN cent c WHERE q.vec_id < 20) x WHERE prnk <= 2),
        cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                 ${duckCosine("p.qe", "a.e")} AS sim
          FROM probes p JOIN assigned a ON p.bucket = a.bucket
          WHERE a.vec_id <> p.query_id)
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM cand) r
        WHERE rank <= 5
        ORDER BY query_id, rank"""))
  ,

    // --------------------------------------------------------------- q105
    // Sparse sign random projection: 64-dim embeddings reduced to 8
    // dims via a ±1 matrix derived from a fixed LCG bit — the
    // Achlioptas/JL-style cheap projection a pipeline runs before
    // sketching, clustering, or shipping vectors to a cheaper index.
    // The matrix is a FORMULA (sign(i,j) from an integer hash of the
    // cell), so nothing is stored or broadcast — both engines derive
    // the identical matrix from the same arithmetic.
    // Determinism: each output dim accumulates ±e[j] in ARRAY ORDER
    // with IEEE double adds inside the native codegen kernel
    // (plans/SignProject.scala) — the graft_cosine contract, bit-exact
    // against DuckDB's in-order list_sum fold. (A decimal(27,12)
    // formulation drifted 1 ulp on rounding ties; same-order double
    // adds cannot drift.)
    // Scale: a PURE NARROW MAP — scan → project(8 kernel calls) →
    // sort for output. No join, no aggregate, no shuffle at all; at
    // 100 TB each executor reduces its vectors 8× in one codegen pass.
    QueryDef(
      "q105_sign_projection",
      (s, dir) => {
        val projected = emb(s, dir).select(
          col("vec_id") +:
            (0 until 8).map(i =>
              call_function("graft_sign_project", col("e"), lit(i)).as(s"p$i")): _*)
        projected.orderBy("vec_id")
      },
      Some {
        val projCols = (0 until 8).map { i =>
          s"""list_sum(list_transform(range(0, len(e)),
                 j -> CASE WHEN ((CAST(1103515245 AS BIGINT) * ($i * 1009 + j) + 12345)
                                  // 1024) % 2 = 0
                      THEN e[j + 1] ELSE -e[j + 1] END)) AS p$i"""
        }.mkString(",\n               ")
        s"""
        WITH base AS ($duckEmb)
        SELECT vec_id,
               $projCols
        FROM base ORDER BY vec_id"""
      })
  ,

    // --------------------------------------------------------------- q125
    // SemDeDup (semantic dedup, Abbas et al. 2023): near-duplicates are
    // found WITHOUT any pairing hint by clustering the embedding space
    // and comparing only WITHIN each cluster — the observation that a
    // semantic near-dup pair always lands in the same k-means cell, so
    // the quadratic compare shrinks from corpus² to Σ cluster². Here:
    // every 5th vector re-enters under a new id with a tiny dim-1 nudge
    // (cosine ≥ 0.99995 to its original; the strongest NATURAL pair in
    // the fixture is ≤ 0.52, measured — clean τ=0.99 separation), the
    // q64 codebook assigns the combined corpus, and within each cluster
    // any vector whose near-twin has a lower id is dropped (greedy
    // keep-min, the q96 policy). Output is the per-cluster audit row:
    // total, dropped, and an exact checksum of kept ids — a wrong drop
    // set cannot hash-match.
    // 100 TB shape: training touches only the sample; assignment is a
    // narrow map under a broadcast codebook; the within-cluster self-join
    // is an equi-join on cluster_id whose cost is Σc² — in production k
    // grows ∝ corpus (the paper uses ~100k cells) so c stays bounded and
    // the compare never degenerates to all-pairs. The 8-cell codebook
    // here is the fixture-sized stand-in; the plan shape is identical.
    QueryDef(
      "q125_semdedup",
      (s, dir) => {
        val base = emb(s, dir)
        val pert = base.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000).as("vec_id"),
            expr("concat(array(element_at(e, 1) + 0.01d), slice(e, 2, 63))").as("e"))
        val corpus = base.unionByName(pert)
        val init = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("e").as("ce"))
        val train = base.filter(col("vec_id") % 10 === 0)
        val cent = lloyd(train, lloyd(train, init)).localCheckpoint(eager = true)
        // assigned feeds both sides of the self-join and the final audit
        val assigned =
          corpus.join(broadcast(cent), lit(true))
            .groupBy("vec_id")
            .agg(max_by(col("cent_id"),
              struct(cosine(col("e"), col("ce")), -col("cent_id"))).as("cluster_id"),
              first(col("e")).as("e"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val drops = assigned.select(col("cluster_id"), col("vec_id").as("id_a"),
            col("e").as("ea"))
          .join(assigned.select(col("cluster_id"), col("vec_id").as("id_b"),
            col("e").as("eb")), Seq("cluster_id"))
          .filter(col("id_a") < col("id_b") &&
            cosine(col("ea"), col("eb")) >= 0.99)
          .select(col("id_b").as("vec_id")).distinct()
        assigned
          .join(drops.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("dropped").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("dropped").isNull, col("vec_id"))).as("kept_id_sum"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        pert AS (SELECT vec_id + 100000 AS vec_id,
                        list_concat([e[1] + 0.01], e[2:64]) AS e
                 FROM base WHERE vec_id % 5 = 0),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        assigned AS (
          SELECT vec_id, e, cent_id AS cluster_id FROM (
            SELECT c0.vec_id, c0.e, c.cent_id,
                   row_number() OVER (PARTITION BY c0.vec_id
                     ORDER BY ${duckCosine("c0.e", "c.ce")} DESC, c.cent_id) AS rnk
            FROM corpus c0 CROSS JOIN cent2 c) x WHERE rnk = 1),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
           AND ${duckCosine("a.e", "b.e")} >= 0.99)
        SELECT cluster_id,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN d.vec_id IS NULL THEN a.vec_id END)
                 AS BIGINT) AS kept_id_sum
        FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
        GROUP BY cluster_id
        ORDER BY cluster_id""")),

    // --------------------------------------------------------------- q190
    // Product quantization — the vector-compression step between IVF
    // (q29/q91) and raw storage: each 64-dim embedding splits into
    // M = 4 contiguous 16-dim subvectors, and each subvector is coded
    // as its nearest of K = 8 codewords, so a vector stores as 4 small
    // codes instead of 64 floats (48× compression at this geometry).
    // Codewords here are the corpus's first 8 subvectors per subspace
    // (a deterministic sampled codebook — the assignment/audit
    // machinery is identical under a Lloyd-trained one, q64 shows the
    // training loop). Assignment metric is cosine via the shared
    // native kernel (inner-product PQ), highest-sim-lowest-code
    // tie-break. The audit reports per (subspace, code) utilization
    // and total fit (similarity summed through DECIMAL(27,12), the
    // q110 rounding discipline, so the aggregate is order-independent
    // and hash-exact). 100 TB shape: the K·M codebook broadcasts,
    // scoring is a narrow map, and the per-vector argmax partial-
    // aggregates map-side before the (subspace, code) rollup — the
    // corpus never shuffles.
    QueryDef(
      "q190_product_quantization",
      (s, dir) => {
        val base = emb(s, dir)
        val sub = base.select(col("vec_id"), explode(expr(
            """transform(sequence(0, 3),
                 m -> struct(m AS m, slice(e, m * 16 + 1, 16) AS se))"""))
            .as("p"))
          .select(col("vec_id"), col("p.m").cast("long").as("m"),
            col("p.se").as("se"))
        val codebook = sub.filter(col("vec_id") < 8)
          .select(col("m").as("cm"), col("vec_id").as("code"),
            col("se").as("ce"))
        sub.join(broadcast(codebook), col("m") === col("cm"))
          .groupBy("vec_id", "m")
          .agg(max(struct(cosine(col("se"), col("ce")).as("sim"),
            (-col("code")).as("nc"))).as("w"))
          .select(col("m"), (-col("w.nc")).as("code"), col("w.sim").as("sim"))
          .groupBy("m", "code")
          .agg(count(lit(1)).as("n_vecs"),
            sum(bround(col("sim"), 12).cast("decimal(27,12)"))
              .cast("double").as("sum_sim"))
          .orderBy("m", "code")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        sub AS (
          SELECT vec_id, ms.m, e[ms.m * 16 + 1 : ms.m * 16 + 16] AS se
          FROM base CROSS JOIN (SELECT unnest(range(0, 4)) AS m) ms),
        cb AS (
          SELECT m AS cm, vec_id AS code, se AS ce FROM sub WHERE vec_id < 8),
        scored AS (
          SELECT s.vec_id, s.m, c.code, ${duckCosine("s.se", "c.ce")} AS sim,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY ${duckCosine("s.se", "c.ce")} DESC, c.code) AS rnk
          FROM sub s JOIN cb c ON s.m = c.cm)
        SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(sim AS DECIMAL(27,12))) AS DOUBLE) AS sum_sim
        FROM scored WHERE rnk = 1
        GROUP BY m, code
        ORDER BY m, code""")),

    // --------------------------------------------------------------- q194
    // Label-separability audit — before trusting `label` as a training
    // signal (or an IVF routing key), measure how far apart the label
    // centroids actually sit: pairwise cosine between per-label mean
    // embeddings. Centroid means use q110's exact-decimal discipline
    // (bround to 12 digits, sum in DECIMAL(27,12), divide by count —
    // order-independent, so distributed partial aggregation cannot
    // drift), and the pairwise cosine runs through the shared native
    // kernel, bit-identical to the oracle. Scale shape: the corpus
    // reduces to (label, dim) partials map-side — one narrow pass —
    // and the pairwise stage is a broadcast theta-join over the
    // BOUNDED centroid set (labels × labels, metadata-sized).
    QueryDef(
      "q194_label_separation",
      (s, dir) => {
        val base = Tables(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"))
        val cent = base
          .select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg((sum(bround(col("v"), 12).cast("decimal(27,12)")).cast("double")
            / count(lit(1))).as("m"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
            .as("ce"))
        cent.as("a").join(broadcast(cent.as("b")),
            col("a.label") < col("b.label"))
          .select(col("a.label").as("l1"), col("b.label").as("l2"),
            cosine(col("a.ce"), col("b.ce")).as("sim"))
          .orderBy("l1", "l2")
      },
      Some(s"""
        WITH base AS (
          SELECT CAST(label AS BIGINT) AS label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        m AS (
          SELECT label, dim,
                 CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
          FROM (SELECT label, unnest(e) AS v,
                       generate_subscripts(e, 1) AS dim FROM base) z
          GROUP BY label, dim),
        cent AS (SELECT label, list(m ORDER BY dim) AS ce
                 FROM m GROUP BY label)
        SELECT a.label AS l1, b.label AS l2,
               ${duckCosine("a.ce", "b.ce")} AS sim
        FROM cent a JOIN cent b ON a.label < b.label
        ORDER BY l1, l2""")),

    // --------------------------------------------------------------- q203
    // Embedding dispersion per label WITHOUT a pairwise join — the
    // O(n) identity Σᵢⱼ‖xᵢ−xⱼ‖² = 2n·Σᵢ‖xᵢ‖² − 2‖Σᵢxᵢ‖², the 100 TB
    // replacement for the O(n²) distance join a naive "how spread is
    // this cluster" query runs. Components are quantized once to
    // integer micro-units (bround to 6 digits × 10⁶ — the same fixed
    // point in both engines), after which every sum, square, and the
    // final per-pair division is exact DECIMAL(38)/HUGEINT integer
    // arithmetic — order-independent, so the per-dim Σv and Σv²
    // partials map-side-combine freely. One narrow pass + one
    // (label, dim) keyed aggregate; nothing pairwise ever exists.
    QueryDef(
      "q203_embedding_dispersion",
      (s, dir) => {
        Tables(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            posexplode(expr(
              """transform(embedding,
                   x -> cast(cast(bround(cast(x AS DOUBLE), 6)
                          AS DECIMAL(18,6)) * 1000000 AS BIGINT))"""))
              .as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(v AS DECIMAL(38,0))")).as("sv"),
            sum(expr("cast(v AS DECIMAL(38,0)) * v")).as("svv"))
          .groupBy("label")
          .agg(max("n").as("n_vecs"),
            sum(expr("cast(2 AS DECIMAL(38,0)) * n * svv - 2 * sv * sv"))
              .as("pair_dist_num"))
          .select(col("label"), col("n_vecs"),
            expr("cast(pair_dist_num div (cast(n_vecs AS DECIMAL(38,0)) * (n_vecs - 1)) AS BIGINT)")
              .as("mean_pair_dist_sq_uu"))
          .orderBy("label")
      },
      Some("""
        WITH comp AS (
          SELECT CAST(label AS BIGINT) AS label,
                 generate_subscripts(embedding, 1) AS dim,
                 CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
          FROM embeddings),
        d AS (
          SELECT label, dim, CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(v) AS HUGEINT) AS sv,
                 CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
          FROM comp GROUP BY label, dim),
        agg AS (
          SELECT label, MAX(n) AS n_vecs,
                 SUM(2 * n * svv - 2 * sv * sv) AS pair_dist_num
          FROM d GROUP BY label)
        SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
               CAST(pair_dist_num // (n_vecs * (n_vecs - 1)) AS BIGINT)
                 AS mean_pair_dist_sq_uu
        FROM agg
        ORDER BY label""")),

    // --------------------------------------------------------------- q206
    // MMR diversity re-ranking — the serving-side step after ANN
    // retrieval (Carbonell & Goldstein 1998): from each query's top-12
    // cosine candidates, greedily select 5 maximizing
    // relevance − 0.5·max-similarity-to-already-selected, so the
    // result page isn't five near-copies of the best hit. The greedy
    // recurrence runs as a 5-round driver loop over BOUNDED frames:
    // candidates and their pairwise sims (≤12²/query) compute once and
    // persist, each round is a keyed max + anti-join + argmax pick —
    // per-query work is constant, so rounds cost O(queries), never
    // O(corpus). Scores stay bit-exact across engines because every
    // similarity flows through the shared sequential-fold cosine and
    // the marginal score is one multiply + subtract; ties break to the
    // lowest candidate id. The oracle unrolls the same 5 rounds from
    // the same loop (the q192 discipline), MATERIALIZED against
    // exponential CTE inlining.
    QueryDef(
      "q206_mmr_rerank",
      (s, dir) => {
        val base = emb(s, dir)
        val q = base.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("e").as("qe"))
        val wCand = Window.partitionBy("qid")
          .orderBy(col("rel").desc, col("cid"))
        val cand = base.join(broadcast(q),
            col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            cosine(col("qe"), col("e")).as("rel"), col("e"))
          .withColumn("rk", row_number().over(wCand))
          .filter(col("rk") <= 12)
          .select("qid", "cid", "rel", "e")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sims = cand.select(col("qid"), col("cid").as("c1"),
            col("e").as("e1"))
          .join(cand.select(col("qid").as("q2"), col("cid").as("c2"),
            col("e").as("e2")),
            col("qid") === col("q2") && col("c1") =!= col("c2"))
          .select(col("qid"), col("c1"), col("c2"),
            cosine(col("e1"), col("e2")).as("sim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wPick = Window.partitionBy("qid")
          .orderBy(col("score").desc, col("cid"))
        var selected = cand
          .withColumn("score", col("rel"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("qid"), col("cid"), lit(1L).as("round"), col("score"))
        for (r <- 2 to 5) {
          val remaining = cand.select("qid", "cid", "rel")
            .join(selected.select(col("qid").as("sq"), col("cid").as("sc")),
              col("qid") === col("sq") && col("cid") === col("sc"), "left_anti")
          val msim = sims
            .join(selected.select(col("qid").as("sq"), col("cid").as("sc")),
              col("qid") === col("sq") && col("c2") === col("sc"))
            .groupBy(col("qid"), col("c1").as("cid"))
            .agg(max("sim").as("ms"))
          val pick = remaining.join(msim, Seq("qid", "cid"))
            .withColumn("score", col("rel") - lit(0.5) * col("ms"))
            .withColumn("rn", row_number().over(wPick))
            .filter(col("rn") === 1)
            .select(col("qid"), col("cid"), lit(r.toLong).as("round"),
              col("score"))
          selected = selected.unionAll(pick).localCheckpoint()
        }
        selected.orderBy("qid", "round")
      },
      Some {
        val rounds = (2 to 5).map { r =>
          s"""rem$r AS (
            SELECT c.qid, c.cid, c.rel FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
                              WHERE s.qid = c.qid AND s.cid = c.cid)),
          ms$r AS (
            SELECT sims.qid, sims.c1 AS cid, MAX(sims.sim) AS ms
            FROM sims JOIN sel${r - 1} s
              ON sims.qid = s.qid AND sims.c2 = s.cid
            GROUP BY sims.qid, sims.c1),
          pick$r AS (
            SELECT qid, cid, $r AS round, score FROM (
              SELECT m.qid, m.cid, m.ms, rem$r.rel,
                     rem$r.rel - 0.5 * m.ms AS score,
                     row_number() OVER (PARTITION BY m.qid
                       ORDER BY rem$r.rel - 0.5 * m.ms DESC, m.cid) AS rn
              FROM ms$r m JOIN rem$r
                ON m.qid = rem$r.qid AND m.cid = rem$r.cid) z
            WHERE rn = 1),
          sel$r AS MATERIALIZED (
            SELECT qid, cid, round, score FROM sel${r - 1}
            UNION ALL SELECT qid, cid, round, score FROM pick$r)"""
        }.mkString(",\n")
        s"""
        WITH base AS MATERIALIZED ($duckEmb),
        q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 5),
        cand AS MATERIALIZED (
          SELECT qid, cid, rel, e FROM (
            SELECT q.qid, b.vec_id AS cid,
                   ${duckCosine("q.qe", "b.e")} AS rel, b.e,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${duckCosine("q.qe", "b.e")} DESC, b.vec_id)
                     AS rk
            FROM base b JOIN q ON b.vec_id <> q.qid) x
          WHERE rk <= 12),
        sims AS MATERIALIZED (
          SELECT a.qid, a.cid AS c1, b.cid AS c2,
                 ${duckCosine("a.e", "b.e")} AS sim
          FROM cand a JOIN cand b
            ON a.qid = b.qid AND a.cid <> b.cid),
        sel1 AS MATERIALIZED (
          SELECT qid, cid, 1 AS round, rel AS score FROM (
            SELECT qid, cid, rel,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY rel DESC, cid) AS rn
            FROM cand) z WHERE rn = 1),
        $rounds
        SELECT qid, cid, CAST(round AS BIGINT) AS round, score
        FROM sel5
        ORDER BY qid, round"""
      }),

    // --------------------------------------------------------------- q213
    // k-NN classification eval — leave-one-out on a deterministic 1/40
    // sample: each sampled vector is classified by majority vote of its
    // 5 nearest corpus neighbors (cosine, the q28 ranking contract;
    // vote ties break to the LOWEST label), and the report is the
    // per-query verdict against the true label. The embedding-space
    // answer to "is `label` learnable from geometry", pairing with
    // q194's centroid separability. Scale shape: the sample broadcasts
    // (q28's plan — the corpus never shuffles), ranking and voting are
    // two keyed aggregates on qid.
    QueryDef(
      "q213_knn_eval",
      (s, dir) => {
        val wVote = Window.partitionBy("qid")
          .orderBy(col("votes").desc, col("nlbl"))
        knnTop5(labeledEmb(s, dir))
          .groupBy("qid", "true_label", "nlbl")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("qid"), col("true_label"),
            col("nlbl").as("predicted"), col("votes"),
            (col("nlbl") === col("true_label")).as("correct"))
          .orderBy("qid")
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                 CAST(label AS BIGINT) AS lbl
          FROM embeddings),
        q AS (SELECT vec_id AS qid, e AS qe, lbl AS true_label
              FROM base WHERE vec_id % 40 = 0),
        scored AS (
          SELECT q.qid, q.true_label, b.vec_id, b.lbl AS nlbl,
                 ${duckCosine("q.qe", "b.e")} AS sim
          FROM base b JOIN q ON b.vec_id <> q.qid),
        top5 AS (
          SELECT qid, true_label, nlbl FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY sim DESC, vec_id) AS rk
            FROM scored) x WHERE rk <= 5),
        votes AS (
          SELECT qid, true_label, nlbl, CAST(COUNT(*) AS BIGINT) AS votes
          FROM top5 GROUP BY 1, 2, 3)
        SELECT qid, true_label, nlbl AS predicted, votes,
               nlbl = true_label AS correct
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY votes DESC, nlbl) AS vr
              FROM votes) v
        WHERE vr = 1
        ORDER BY qid""")),

    // --------------------------------------------------------------- q214
    // NDCG@5 retrieval eval — the ranking-quality half of the eval pair
    // (q213 judges the LABEL, this judges the ORDERING): relevance is
    // label match, and the log2 position discounts are pinned as the
    // same five integer ppm weights in both engines (the q168
    // Benford-constant discipline — irrational discounts never touch
    // engine float math): w = ⌊10⁶/log2(i+1)⌉ = 1000000, 630930,
    // 500000, 430677, 386853. IDCG@5 is DERIVED per query, not assumed:
    // self is excluded from candidates, so a label with m corpus members
    // has only m−1 reachable relevant neighbors — the ideal is the
    // prefix sum of the first min(m−1, 5) weights (the prefix-sum table
    // is the same pinned-integer literal in both engines). NDCG lands
    // as exact ppm integer division. Same broadcast-sample plan as
    // q213; the label-count side is vocab-bounded and broadcasts.
    QueryDef(
      "q214_ndcg_eval",
      (s, dir) => {
        val base = labeledEmb(s, dir)
        val lblCnt = base.groupBy(col("lbl").as("true_label"))
          .agg(count(lit(1)).as("n_members"))
        knnTop5(base)
          .withColumn("w", expr(
            """element_at(array(1000000L, 630930L, 500000L, 430677L, 386853L),
                 cast(rk AS INT))"""))
          .groupBy("qid", "true_label")
          .agg(expr("count_if(nlbl = true_label)").as("n_rel"),
            sum(when(col("nlbl") === col("true_label"), col("w"))
              .otherwise(0L)).as("dcg_ppm"))
          .join(broadcast(lblCnt), "true_label")
          // ideal = prefix sum of the first min(m−1, 5) weights; a label
          // whose only member is the query itself has no reachable
          // relevant neighbor — NDCG pins NULL in both engines
          .withColumn("idcg_ppm", expr(
            """CASE WHEN n_members <= 1 THEN NULL
                    ELSE element_at(
                      array(1000000L, 1630930L, 2130930L, 2561607L, 2948460L),
                      cast(least(n_members - 1, 5) AS INT)) END"""))
          .select(col("qid"), col("true_label"), col("n_rel"), col("dcg_ppm"),
            expr("dcg_ppm * 1000000 div idcg_ppm").as("ndcg_ppm"))
          .orderBy("qid")
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                 CAST(label AS BIGINT) AS lbl
          FROM embeddings),
        q AS (SELECT vec_id AS qid, e AS qe, lbl AS true_label
              FROM base WHERE vec_id % 40 = 0),
        lc AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members
               FROM base GROUP BY lbl),
        top5 AS (
          SELECT qid, true_label, nlbl, rk FROM (
            SELECT q.qid, q.true_label, b.lbl AS nlbl, b.vec_id,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY ${duckCosine("q.qe", "b.e")} DESC, b.vec_id)
                     AS rk
            FROM base b JOIN q ON b.vec_id <> q.qid) x
          WHERE rk <= 5),
        agg AS (
          SELECT qid, true_label,
                 CAST(count_if(nlbl = true_label) AS BIGINT) AS n_rel,
                 CAST(SUM(CASE WHEN nlbl = true_label
                   THEN [1000000, 630930, 500000, 430677, 386853][rk]
                   ELSE 0 END) AS BIGINT) AS dcg_ppm
          FROM top5
          GROUP BY qid, true_label)
        SELECT agg.qid, agg.true_label, agg.n_rel, agg.dcg_ppm,
               CAST(agg.dcg_ppm * 1000000 //
                 (CASE WHEN lc.n_members <= 1 THEN NULL
                       ELSE [1000000, 1630930, 2130930, 2561607, 2948460]
                            [CAST(least(lc.n_members - 1, 5) AS INT)] END)
                 AS BIGINT) AS ndcg_ppm
        FROM agg JOIN lc ON agg.true_label = lc.lbl
        ORDER BY agg.qid"""))
  ,

    // --------------------------------------------------------------- q320
    // MATRYOSHKA truncation audit (Kusupati et al. 2022, MRL) — the
    // dimension-budget curve an index owner reads before truncating
    // stored embeddings: retrieval quality when only the first k of 64
    // dimensions are kept (the MRL premise: prefixes of the vector are
    // usable embeddings). For k ∈ {8, 16, 32, 64}: per query, top-10 by
    // cosine over the k-prefix, recall@10 against the full-dimension
    // top-10, plus how often the top-1 neighbor survives truncation.
    // The oracle replicates the whole computation (prefix cosines are
    // the SAME bit-exact double pipeline as q28 over list slices), so
    // the gate checks fidelity; k = 64 is the identity row (recall
    // 10⁶) and a built-in sanity anchor. Shape: the (query × corpus)
    // pair frame materializes ONCE and is reused by all four k-curves
    // (fan-out ×4 on the scored pairs, never a rescan); the per-(k,
    // query) rankings are keyed windows; at 100 TB the same curve runs
    // over an LSH/IVF candidate set instead of the full corpus — the
    // brute-force pairing here is the oracle-friendly fixture tier.
    QueryDef(
      "q320_matryoshka_truncation_audit",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val base = emb(s, dir)
        val q = base.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        val pairs =
          base.join(broadcast(q), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              col("qe"), col("e"))
            .persist(MEMORY_AND_DISK)
        val ks = s.range(0, 4)
          .select(expr("element_at(array(8, 16, 32, 64), cast(id AS INT) + 1)")
            .cast("long").as("k"))
        val w = Window.partitionBy("k", "query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))
        val topk = pairs.crossJoin(broadcast(ks))
          .withColumn("sim",
            cosine(expr("slice(qe, 1, int(k))"), expr("slice(e, 1, int(k))")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select("k", "query_id", "neighbor_id", "rank")
        val full = topk.filter(col("k") === 64L)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("full_rank"))
        topk.join(full, Seq("query_id", "neighbor_id"), "left")
          .groupBy("k", "query_id")
          .agg(sum(when(col("full_rank").isNotNull, 1L).otherwise(0L))
              .as("hits"),
            max(when(col("rank") === 1L && col("full_rank") === 1L, 1L)
              .otherwise(0L)).as("top1_kept"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_queries"),
            expr("sum(hits) * 1000000 div (count(1) * 10)")
              .as("mean_recall_ppm"),
            sum("top1_kept").as("top1_match_queries"))
          .orderBy("k")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        q AS (SELECT vec_id AS query_id, e AS qe FROM base
              WHERE vec_id < 20),
        ks AS (SELECT CAST(UNNEST([8, 16, 32, 64]) AS BIGINT) AS k),
        scored AS (
          SELECT ks.k, q.query_id, b.vec_id AS neighbor_id,
                 ${duckCosine("q.qe[1:CAST(ks.k AS INT)]",
                              "b.e[1:CAST(ks.k AS INT)]")} AS sim
          FROM base b JOIN q ON b.vec_id <> q.query_id CROSS JOIN ks),
        topk AS (
          SELECT k, query_id, neighbor_id, rk FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY k, query_id
                     ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk
            FROM scored) x
          WHERE rk <= 10),
        fullk AS (SELECT query_id, neighbor_id, rk AS full_rank
                  FROM topk WHERE k = 64),
        per_q AS (
          SELECT t.k, t.query_id,
                 CAST(count_if(f.full_rank IS NOT NULL) AS BIGINT) AS hits,
                 CAST(MAX(CASE WHEN t.rk = 1 AND f.full_rank = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS top1_kept
          FROM topk t LEFT JOIN fullk f
            ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
          GROUP BY t.k, t.query_id)
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(hits) * 1000000 // (COUNT(*) * 10) AS BIGINT)
                 AS mean_recall_ppm,
               CAST(SUM(top1_kept) AS BIGINT) AS top1_match_queries
        FROM per_q
        GROUP BY k
        ORDER BY k"""))
  ,

    // --------------------------------------------------------------- q321
    // EMBEDDING-space hard negatives — the contrastive-training
    // data-prep step in the dense modality (q271 mines hard negatives
    // from LEXICAL BM25 scores; q139 samples random negatives; a real
    // triplet builder wants the dense ones): per anchor, the top-3
    // most-similar vectors of
    // a DIFFERENT label (the hard negatives), the single most-similar
    // SAME-label vector (the natural positive), and the margin verdict
    // `violates` = hard-negative at least as close as the positive —
    // exactly the pairs a triplet/InfoNCE batch builder emits first.
    // Cosines ride the established bit-exact double pipeline; rankings
    // tie-break on neighbor id so float ties are engine-deterministic.
    // Shape: the (anchor × corpus) scored frame materializes once and
    // both rankings read it; at 100 TB anchors batch and candidates
    // come from the IVF/LSH index, not a full scan — the brute-force
    // pairing is the oracle-friendly fixture tier (the q28/q320
    // precedent).
    QueryDef(
      "q321_embedding_hard_negatives",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val base = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> cast(x AS DOUBLE))").as("e"))
        val anchors = base.filter(col("vec_id") < 20)
          .select(col("vec_id").as("anchor_id"), col("label").as("albl"),
            col("e").as("qe"))
        val scored =
          base.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
            .select(col("anchor_id"), col("albl"),
              col("vec_id").as("nid"), col("label").as("nlbl"),
              cosine(col("qe"), col("e")).as("sim"))
            .persist(MEMORY_AND_DISK)
        val wRank = Window.partitionBy("anchor_id")
          .orderBy(col("sim").desc, col("nid"))
        val negs = scored.filter(col("nlbl") =!= col("albl"))
          .withColumn("neg_rank", row_number().over(wRank).cast("long"))
          .filter(col("neg_rank") <= 3)
        val pos = scored.filter(col("nlbl") === col("albl"))
          .withColumn("pr", row_number().over(wRank))
          .filter(col("pr") === 1)
          .select(col("anchor_id"), col("nid").as("pos_id"),
            col("sim").as("pos_sim"))
        negs.join(pos, "anchor_id")
          .select(col("anchor_id"), col("albl").as("label"),
            col("neg_rank"), col("nid").as("neg_id"),
            col("sim").as("neg_sim"), col("pos_id"), col("pos_sim"),
            (col("sim") >= col("pos_sim")).as("violates"))
          .orderBy("anchor_id", "neg_rank")
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
        anchors AS (SELECT vec_id AS anchor_id, label AS albl, e AS qe
                    FROM base WHERE vec_id < 20),
        scored AS MATERIALIZED (
          SELECT a.anchor_id, a.albl, b.vec_id AS nid, b.label AS nlbl,
                 ${duckCosine("a.qe", "b.e")} AS sim
          FROM base b JOIN anchors a ON b.vec_id <> a.anchor_id),
        negs AS (
          SELECT anchor_id, albl, nid, sim,
                 CAST(row_number() OVER (PARTITION BY anchor_id
                   ORDER BY sim DESC, nid) AS BIGINT) AS neg_rank
          FROM scored WHERE nlbl <> albl),
        pos AS (
          SELECT anchor_id, nid AS pos_id, sim AS pos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                     ORDER BY sim DESC, nid) AS pr
            FROM scored WHERE nlbl = albl) x
          WHERE pr = 1)
        SELECT n.anchor_id, n.albl AS label, n.neg_rank,
               n.nid AS neg_id, n.sim AS neg_sim, p.pos_id, p.pos_sim,
               n.sim >= p.pos_sim AS violates
        FROM negs n JOIN pos p USING (anchor_id)
        WHERE n.neg_rank <= 3
        ORDER BY n.anchor_id, n.neg_rank"""))
  ,

    // --------------------------------------------------------------- q330
    // SEMANTIC decontamination — the embedding-space tier above q232/
    // q277's n-gram matching (the checks modern model cards run
    // side-by-side: a paraphrased benchmark item shares no 5-gram but
    // sits at cosine ≈ 1): train vectors whose cosine against ANY
    // benchmark vector reaches 0.9 are contaminated. The benchmark is
    // vec_id % 23 == 1; the ODD half of it leaks back into train as
    // planted near-copies (+0.01 on dim 1, cosine ≥ 0.9999 vs a ≤ 0.52
    // natural cross-pair ceiling — q125's measured gap), so exactly
    // those plants must flag (spec-asserted). Candidates come from the
    // SAME k-means coarse quantizer as q125/q29 (two Lloyd rounds on
    // the deterministic sample, checkpointed): both sides assign to
    // clusters and only WITHIN-cluster (train × bench) pairs score —
    // Σ c_train·c_bench per cluster, never |train|×|bench|; a tiny
    // perturbation cannot flip the argmax cluster, so the planted pair
    // is always co-bucketed. Per-cluster report: train size, benchmark
    // size, contaminated count + id-sum.
    QueryDef(
      "q330_semantic_decontamination",
      (s, dir) => {
        val base = emb(s, dir)
        val bench = base.filter(col("vec_id") % 23 === 1)
        val trainRaw = base.filter(col("vec_id") % 23 =!= 1)
          .unionByName(bench.filter(col("vec_id") % 2 === 1)
            .select((col("vec_id") + 200000).as("vec_id"),
              expr("concat(array(element_at(e, 1) + 0.01d), slice(e, 2, 63))")
                .as("e")))
        val init = base.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("e").as("ce"))
        val sample = base.filter(col("vec_id") % 10 === 0)
        val cent = lloyd(sample, lloyd(sample, init)).localCheckpoint(true)
        def assign(df: DataFrame): DataFrame =
          df.join(broadcast(cent), lit(true))
            .groupBy("vec_id")
            .agg(max_by(col("cent_id"),
              struct(cosine(col("e"), col("ce")), -col("cent_id")))
              .as("cluster_id"),
              first(col("e")).as("e"))
        val ta = assign(trainRaw)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ba = assign(bench)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hits = ta.select(col("cluster_id"), col("vec_id").as("tid"),
            col("e").as("te"))
          .join(ba.select(col("cluster_id"), col("e").as("be")),
            Seq("cluster_id"))
          .filter(cosine(col("te"), col("be")) >= 0.9)
          .select(col("tid")).distinct()
        val bCnt = ba.groupBy("cluster_id").agg(count(lit(1)).as("n_bench"))
        ta.join(hits.withColumn("hit", lit(1L)),
            col("vec_id") === col("tid"), "left")
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L))
              .as("n_contaminated"),
            sum(when(col("hit").isNotNull, col("vec_id")))
              .as("contaminated_id_sum"))
          .join(broadcast(bCnt), Seq("cluster_id"), "left")
          .select(col("cluster_id"), col("n_train"),
            coalesce(col("n_bench"), lit(0L)).as("n_bench"),
            col("n_contaminated"), col("contaminated_id_sum"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        bench AS (SELECT vec_id, e FROM base WHERE vec_id % 23 = 1),
        trainv AS (
          SELECT vec_id, e FROM base WHERE vec_id % 23 <> 1
          UNION ALL
          SELECT vec_id + 200000, list_concat([e[1] + 0.01], e[2:64])
          FROM bench WHERE vec_id % 2 = 1),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        ta AS (
          SELECT vec_id, e, cent_id AS cluster_id FROM (
            SELECT t.vec_id, t.e, c.cent_id,
                   row_number() OVER (PARTITION BY t.vec_id
                     ORDER BY ${duckCosine("t.e", "c.ce")} DESC, c.cent_id)
                     AS rnk
            FROM trainv t CROSS JOIN cent2 c) x WHERE rnk = 1),
        ba AS (
          SELECT vec_id, e, cent_id AS cluster_id FROM (
            SELECT b.vec_id, b.e, c.cent_id,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id)
                     AS rnk
            FROM bench b CROSS JOIN cent2 c) x WHERE rnk = 1),
        hits AS (
          SELECT DISTINCT t.vec_id AS tid
          FROM ta t JOIN ba b ON t.cluster_id = b.cluster_id
          WHERE ${duckCosine("t.e", "b.e")} >= 0.9),
        bcnt AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_bench
                 FROM ba GROUP BY cluster_id)
        SELECT t.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(coalesce(ANY_VALUE(bc.n_bench), 0) AS BIGINT) AS n_bench,
               CAST(SUM(CASE WHEN h.tid IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_contaminated,
               CAST(SUM(CASE WHEN h.tid IS NOT NULL THEN t.vec_id END)
                 AS BIGINT) AS contaminated_id_sum
        FROM ta t
        LEFT JOIN hits h ON t.vec_id = h.tid
        LEFT JOIN bcnt bc ON t.cluster_id = bc.cluster_id
        GROUP BY t.cluster_id
        ORDER BY t.cluster_id"""))
  ,

    // --------------------------------------------------------------- q336
    // In-context pretraining assembly (ICLM) — the retrieval-ordered
    // alternative to q334's doc_id-order packing: related documents
    // train BETTER in one context window, so docs group by the SAME
    // k-means coarse quantizer as q29/q125/q330, order within their
    // (cluster, shard) cell by similarity-to-centroid (cosine desc,
    // vec_id tie-break — the scalable proxy for the paper's
    // nearest-neighbor chain), and chop into 256-token contexts. The
    // report prices the assembly per cluster: docs, token mass,
    // contexts, straddling docs, and the cell's semantic tightness as
    // the mean SHIFTED cosine in micro-units — each cosine is floored
    // to an integer (floor((sim + 1)·1e6), non-negative so truncating
    // div agrees across engines) BEFORE aggregation, the q193
    // quantize-then-rank discipline, so no float sum ever crosses the
    // gate. 100 TB shape: the quantizer trains on the deterministic
    // sample (2 Lloyd rounds, checkpointed, centroids broadcast);
    // assignment is one narrow pass; the one ordered window rides a
    // (cluster, vec_id div 64) cell, never a cluster-wide (let alone
    // global) frame — cells pack embarrassingly parallel, exactly how
    // an IVF-celled corpus shards.
    QueryDef(
      "q336_incontext_packing",
      (s, dir) => {
        val asg = coarseAssign(s, dir)
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"),
            expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                    AS BIGINT)""").as("l"))
        val wCell = Window
          .partitionBy("cluster_id", "shard")
          .orderBy(col("sim").desc, col("vec_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // two consumers (sh and the per-cluster report) read the
        // windowed cell frame — persist so the assignment join + cell
        // window run once (ADVICE r11, the multiply-read class)
        val cells =
          asg.join(toks, col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("cluster_id"),
            expr("vec_id div 64").as("shard"),
            expr("CAST(floor((sim + 1) * 1000000) AS BIGINT)")
              .as("sim_micro"),
            col("sim"), col("l"))
          .withColumn("cum", sum("l").over(wCell))
          .withColumn("s0", expr("(cum - l) div 256"))
          .withColumn("s1", expr("(cum - 1) div 256"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sh = cells.groupBy("cluster_id", "shard")
          .agg(expr("CAST((max(cum) + 255) div 256 AS BIGINT)").as("nctx"))
          .groupBy("cluster_id").agg(sum("nctx").as("n_contexts"))
        cells.groupBy("cluster_id")
          .agg(count(lit(1)).as("n_docs"), sum("l").as("total_tokens"),
            sum((col("s1") > col("s0")).cast("long")).as("docs_split"),
            sum("sim_micro").as("sm"))
          .join(sh, "cluster_id")
          .select(col("cluster_id"), col("n_docs"), col("total_tokens"),
            col("n_contexts"), col("docs_split"),
            expr("sm div n_docs").as("mean_sim_shift_micro"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base
                 WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        asg AS (
          SELECT vec_id, cent_id AS cluster_id, sim FROM (
            SELECT b.vec_id, c.cent_id,
                   ${duckCosine("b.e", "c.ce")} AS sim,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id)
                     AS rnk
            FROM base b CROSS JOIN cent2 c) x WHERE rnk = 1),
        toks AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents),
        j AS (
          SELECT a.vec_id, a.cluster_id, a.vec_id // 64 AS shard,
                 CAST(floor((a.sim + 1) * 1000000) AS BIGINT) AS sim_micro,
                 a.sim, t.l
          FROM asg a JOIN toks t ON a.vec_id = t.doc_id),
        cells AS (
          SELECT *, CAST(SUM(l) OVER (PARTITION BY cluster_id, shard
                   ORDER BY sim DESC, vec_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
          FROM j),
        b2 AS (
          SELECT cluster_id, shard, l, sim_micro, cum,
                 (cum - l) // 256 AS s0, (cum - 1) // 256 AS s1
          FROM cells),
        sh AS (
          SELECT cluster_id,
                 CAST(SUM(nctx) AS BIGINT) AS n_contexts
          FROM (SELECT cluster_id, shard,
                       (MAX(cum) + 255) // 256 AS nctx
                FROM b2 GROUP BY cluster_id, shard) y
          GROUP BY cluster_id),
        dc AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(l) AS BIGINT) AS total_tokens,
                 CAST(count_if(s1 > s0) AS BIGINT) AS docs_split,
                 CAST(SUM(sim_micro) AS BIGINT) AS sm
          FROM b2 GROUP BY cluster_id)
        SELECT d.cluster_id, n_docs, total_tokens, n_contexts, docs_split,
               CAST(sm // n_docs AS BIGINT) AS mean_sim_shift_micro
        FROM dc d JOIN sh USING (cluster_id)
        ORDER BY d.cluster_id"""))
  ,

    // --------------------------------------------------------------- q344
    // In-batch negative collision audit — the contrastive-training
    // data question q321's hard negatives leave open: with in-batch
    // negatives (the DPR/CLIP regime) every OTHER item in the batch is
    // treated as a negative, so two semantically-close items landing
    // in one batch become FALSE negatives that push related things
    // apart. For batch sizes {8, 32, 128}, items hash into
    // ceil(N/B) batches (md5 — seed-free, repartition-stable, the
    // q288 device) and closeness is co-membership in the SAME coarse-
    // quantizer cluster (the shared [[coarseAssign]], so q336's
    // grouping and this audit describe one index). Per batch size:
    // non-empty batches, in-batch pair mass Σ n·(n−1)/2, same-cluster
    // (false-negative) pair mass, and fn_ppm — the curve that says how
    // much contrastive signal each batch-size choice corrupts. 100 TB
    // shape: one ×3 stateless explode, keyed (B, batch[, cluster])
    // aggregates over bounded cells, a broadcast single-row N; exact
    // triangle-number integer arithmetic end to end.
    QueryDef(
      "q344_inbatch_negative_collisions",
      (s, dir) => {
        val asg = coarseAssign(s, dir).select("vec_id", "cluster_id")
        val n = asg.agg(count(lit(1)).as("n"))
        // two consumers (cells and the per-batch sizes aggregate) read
        // the corpus-wide assignment join + ×3 explode — columnar
        // persist so the k-means assignment is paid once, not per
        // consumer (ADVICE r11; the q333/q343/q345 multiply-read class)
        val d = asg.crossJoin(broadcast(n))
          .withColumn("bsz", explode(expr(
            "array(CAST(8 AS BIGINT), CAST(32 AS BIGINT), CAST(128 AS BIGINT))")))
          .withColumn("nb", expr("(n + bsz - 1) div bsz"))
          .withColumn("batch", expr(
            """CAST(conv(substr(md5(concat('b_', CAST(vec_id AS STRING))),
                  1, 15), 16, 10) AS BIGINT) % nb"""))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cells = d.groupBy("bsz", "batch", "cluster_id")
          .agg(count(lit(1)).as("c"))
        val sameCl = cells.groupBy("bsz")
          .agg(sum(expr("c * (c - 1) div 2")).as("fn_pairs"))
        d.groupBy("bsz", "batch").agg(count(lit(1)).as("sz"))
          .groupBy("bsz")
          .agg(count(lit(1)).as("n_batches"),
            sum("sz").as("n_items"),
            sum(expr("sz * (sz - 1) div 2")).as("batch_pairs"))
          .join(sameCl, "bsz")
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("fn_ppm", expr(
            """CAST(CAST(fn_pairs AS DECIMAL(38,0)) * 1000000
               div nullif(batch_pairs, 0) AS BIGINT)"""))
          .select("bsz", "n_batches", "n_items", "batch_pairs", "fn_pairs",
            "fn_ppm")
          .orderBy("bsz")
      },
      Some(s"""
        WITH base AS ($duckEmb),
        $duckCoarseAssign,
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg),
        d AS (
          SELECT a.vec_id, a.cluster_id, t.bsz,
                 CAST(concat('0x', substr(md5('b_' ||
                   CAST(a.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % ((nn.n + t.bsz - 1) // t.bsz) AS batch
          FROM asg a, nn,
               UNNEST([CAST(8 AS BIGINT), CAST(32 AS BIGINT),
                       CAST(128 AS BIGINT)]) AS t(bsz)),
        cells AS (
          SELECT bsz, batch, cluster_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM d GROUP BY bsz, batch, cluster_id),
        same_cl AS (
          SELECT bsz, CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS fn_pairs
          FROM cells GROUP BY bsz),
        sizes AS (
          SELECT bsz, batch, CAST(COUNT(*) AS BIGINT) AS sz
          FROM d GROUP BY bsz, batch),
        rep AS (
          SELECT bsz, CAST(COUNT(*) AS BIGINT) AS n_batches,
                 CAST(SUM(sz) AS BIGINT) AS n_items,
                 CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS batch_pairs
          FROM sizes GROUP BY bsz)
        SELECT r.bsz, n_batches, n_items, batch_pairs, fn_pairs,
               CAST(CAST(fn_pairs AS HUGEINT) * 1000000
                 // nullif(CAST(batch_pairs AS HUGEINT), 0) AS BIGINT)
                 AS fn_ppm
        FROM rep r JOIN same_cl USING (bsz)
        ORDER BY r.bsz"""))
  ,

    // --------------------------------------------------------------- q345
    // Int8 embedding-quantization recall — q282 audits scalar
    // quantization of WEIGHTS; a vector index quantizes the
    // EMBEDDINGS, and the question a serving team signs off on is
    // recall@k against the float index, not reconstruction error.
    // Symmetric per-vector int8: scale = max |x|, q = floor(x·127/s +
    // 0.5), dequant = q·s/127 — every step a deterministic IEEE
    // double op evaluated identically in both engines (floor, not a
    // rounding mode, decides the tie), so the quantized cosine is
    // bit-identical cross-engine just like the float one. Both
    // rankings run q28's top-5 (sim desc, neighbor-id tie-break); the
    // report is per query: overlap@5, recall ppm, and the rank-
    // displacement mass of the surviving members — integers only in
    // the output. 100 TB shape: the 20-query side broadcasts twice
    // over one narrow corpus scan each; per-query windows are k-
    // bounded; at index scale the corpus side is the IVF cell scan,
    // not a full pass (the q28/q320 fixture-tier convention, stated).
    QueryDef(
      "q345_int8_embedding_recall",
      (s, dir) => {
        // four consumers (query + corpus side of both rankings) read
        // the quantized frame — columnar persist so the scan + dequant
        // is paid once (the q83 lesson)
        val base = emb(s, dir)
          .withColumn("sc", expr("array_max(transform(e, x -> abs(x)))"))
          .withColumn("dq", expr(
            """transform(e, x ->
               floor(x * 127d / nullif(sc, 0d) + 0.5d) * sc / 127d)"""))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def top5(vcol: String, out: String) = {
          val q = base.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col(vcol).as("qv"))
          val w = Window.partitionBy("query_id")
            .orderBy(col("sim").desc, col("neighbor_id"))
          // coalesce(…, -2): a zero-scale vector (sc = 0) dequantizes
          // to all-NULL, so its cosine is NULL and its rank would then
          // hang on each engine's NULL-ordering default under DESC —
          // pin it below every real cosine (≥ −1) instead (ADVICE r11)
          base.join(broadcast(q), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              coalesce(cosine(col("qv"), col(vcol)), lit(-2.0)).as("sim"))
            .withColumn(out, row_number().over(w))
            .filter(col(out) <= 5)
            .select(col("query_id"), col("neighbor_id"), col(out))
        }
        val f = top5("e", "rf")
        val qz = top5("dq", "rq")
        f.join(qz, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(sum(when(col("rq").isNotNull, 1L).otherwise(0L))
            .as("overlap5"),
            sum(when(col("rq").isNotNull,
              abs(col("rf") - col("rq")).cast("long")).otherwise(0L))
              .as("rank_shift"))
          .withColumn("recall_ppm", expr("overlap5 * 1000000 div 5"))
          .select("query_id", "overlap5", "recall_ppm", "rank_shift")
          .orderBy("query_id")
      },
      Some(s"""
        WITH base0 AS ($duckEmb),
        base AS (
          SELECT vec_id, e,
                 list_transform(e, x ->
                   floor(x * 127 / nullif(
                     list_max(list_transform(e, y -> abs(y))), 0)
                     + 0.5) *
                   list_max(list_transform(e, y -> abs(y))) / 127) AS dq
          FROM base0),
        qf AS (SELECT vec_id AS query_id, e AS qv FROM base
               WHERE vec_id < 20),
        qq AS (SELECT vec_id AS query_id, dq AS qv FROM base
               WHERE vec_id < 20),
        tf AS (
          SELECT query_id, neighbor_id, rf FROM (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY coalesce(${duckCosine("q.qv", "b.e")}, -2.0)
                       DESC, b.vec_id)
                     AS rf
            FROM base b JOIN qf q ON b.vec_id <> q.query_id) x
          WHERE rf <= 5),
        tq AS (
          SELECT query_id, neighbor_id, rq FROM (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY coalesce(${duckCosine("q.qv", "b.dq")}, -2.0)
                       DESC, b.vec_id)
                     AS rq
            FROM base b JOIN qq q ON b.vec_id <> q.query_id) x
          WHERE rq <= 5)
        SELECT f.query_id,
               CAST(count_if(t.rq IS NOT NULL) AS BIGINT) AS overlap5,
               CAST(count_if(t.rq IS NOT NULL) * 1000000 // 5 AS BIGINT)
                 AS recall_ppm,
               CAST(SUM(CASE WHEN t.rq IS NOT NULL
                 THEN abs(f.rf - t.rq) ELSE 0 END) AS BIGINT)
                 AS rank_shift
        FROM tf f
        LEFT JOIN tq t USING (query_id, neighbor_id)
        GROUP BY f.query_id
        ORDER BY f.query_id"""))
  )

  /** q29's oracle, shared verbatim by q91. */
  private[graft] def ivfTopkOracle: String = s"""
        WITH base AS ($duckEmb),
        init AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 8),
        train AS (SELECT vec_id, e FROM base WHERE vec_id % 10 = 0),
        ${duckLloyd("train", "init", 1)},
        ${duckLloyd("train", "cent1", 2)},
        cent AS (SELECT cent_id, ce FROM cent2),
        assigned AS (
          SELECT vec_id, e, cent_id AS bucket FROM (
            SELECT b.vec_id, b.e, c.cent_id,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ${duckCosine("b.e", "c.ce")} DESC, c.cent_id) AS arnk
            FROM base b CROSS JOIN cent c) x WHERE arnk = 1),
        probes AS (
          SELECT query_id, qe, cent_id AS bucket FROM (
            SELECT q.vec_id AS query_id, q.e AS qe, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ${duckCosine("q.e", "c.ce")} DESC, c.cent_id) AS prnk
            FROM base q CROSS JOIN cent c WHERE q.vec_id < 20) x WHERE prnk <= 2),
        cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                 ${duckCosine("p.qe", "a.e")} AS sim
          FROM probes p JOIN assigned a ON p.bucket = a.bucket
          WHERE a.vec_id <> p.query_id)
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM cand) r
        WHERE rank <= 5
        ORDER BY query_id, rank"""
}
