package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Computed-ONCE near-dup pair graph shared across the query suite
  * (VERDICT r7 item 2).
  *
  * Six queries consume the verified MinHash-LSH pair stream and/or its
  * connected-component labels (q26 pair audit, q50 clusters, q96
  * materialization, q114 survivorship, q241 cross-source matrix, q246
  * modularity). Before this object each of them re-ran the shingle →
  * signature → band-join → verify pipeline and (for four of them) the
  * label-propagation fixpoint from scratch — the single most expensive
  * computation in the batch suite, paid ~6×. A 100 TB deployment builds
  * the labeled pair graph ONCE per corpus snapshot and derives every
  * governance artifact from it; this registry expresses that shape
  * in-process.
  *
  * Upstream MinHash artifacts are shared too: the shingle sets and the
  * 32-band LSH bucket index, near-dup corpus and plain documents alike,
  * because every probe-style consumer (q107 batch ingest, q261
  * incremental CC, s37 streaming admission) needs the CORPUS side of
  * these — at 100 TB they are the persisted index a tick probes, never
  * per-tick work. Memo, timing and release: [[SharedArtifact]].
  */
object PairGraph {
  /** Near-dup-corpus shingle sets (doc_id, s), built at most once per
    * (session, sfDir). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    shingleSets(s, dir, near = true)

  /** Plain-documents shingle sets — q107/s37's probe target. */
  def corpusShingles(s: SparkSession, dir: String): DataFrame =
    shingleSets(s, dir, near = false)

  /** Near-dup-corpus LSH band-bucket index (doc_id, band, bh). */
  def bandIndex(s: SparkSession, dir: String): DataFrame =
    bandIdx(s, dir, near = true)

  /** Plain-documents LSH band-bucket index — what an ingest tick probes. */
  def corpusBandIndex(s: SparkSession, dir: String): DataFrame =
    bandIdx(s, dir, near = false)

  private def shingleSets(s: SparkSession, dir: String, near: Boolean): DataFrame =
    SharedArtifact(if (near) "shingles" else "corpus-shingles", s, dir) {
      Dedup.shingleSets(s, dir, near).localCheckpoint(true)
    }

  private def bandIdx(s: SparkSession, dir: String, near: Boolean): DataFrame =
    SharedArtifact(if (near) "bands" else "corpus-bands", s, dir) {
      Dedup.bandBuckets(shingleSets(s, dir, near)).localCheckpoint(true)
    }

  /** Verified near-dup pair stream (id_a < id_b, inter, uni; J ≥ 0.6),
    * built at most once per (session, sfDir). */
  def pairs(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("pairs", s, dir) {
      Dedup.minhashPairs(s, dir).localCheckpoint(true)
    }

  /** Connected-component labels (node, label) over [[pairs]], built at
    * most once per (session, sfDir). */
  def labels(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("cc-labels", s, dir) {
      Dedup.connectedComponents(pairs(s, dir).select("id_a", "id_b"))
        .localCheckpoint(true)
    }

  /** Drop all memoized graphs and free their blocks (test isolation hook). */
  def reset(): Unit = SharedArtifact.reset(
    "shingles", "corpus-shingles", "bands", "corpus-bands", "pairs", "cc-labels")
}
