package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Computed-ONCE co-purchase graph artifacts shared across the query
  * suite — the [[PairGraph]] build-once discipline applied to the
  * basket-pair lattice (r14 optimization round).
  *
  * Seven queries derive from the same two frames: the distinct
  * (order, part) item table and the per-(u, v) pair-support counts over
  * it (q115 top-support, q129 triangles, q189 clustering coefficient,
  * q192 k-core, q204 a-priori triples, q225 also-bought, q234 BFS).
  * Before this object each of them re-ran the 600 k-row distinct AND
  * the items self-join from scratch inside one session — the single
  * most repeated subcomputation in the batch suite after the r7/r8
  * registries. A 100 TB deployment mines the basket-pair stream ONCE
  * per snapshot and derives every downstream graph/recommendation
  * artifact from it; this registry expresses that shape in-process.
  *
  * `pairSup` is UNthresholded (support rides as a column) so every
  * consumer applies its own threshold — the values are identical to
  * each query's former inline build, so the oracles are untouched.
  * Memo, timing and release: [[SharedArtifact]].
  */
object CoPurchase {
  /** Distinct (ok, pk) basket item table, built at most once per
    * (session, sfDir). */
  def items(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("copurchase-items", s, dir) {
      graft.Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Per-(u, v) co-purchase support counts (u < v, column `sup`),
    * UNthresholded, built at most once per (session, sfDir). */
  def pairSup(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("copurchase-pairs", s, dir) {
      val it = items(s, dir)
      it.as("a")
        .join(it.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("sup"))
        .localCheckpoint(true)
    }

  /** Drop all memoized artifacts and free their blocks (test isolation). */
  def reset(): Unit = SharedArtifact.reset("copurchase-items", "copurchase-pairs")
}
