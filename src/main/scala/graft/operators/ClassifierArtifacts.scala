package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Computed-ONCE classifier feature/model artifacts shared across the
  * query suite — the [[PairGraph]] build-once discipline applied to
  * round 8's own shared intermediate (VERDICT r8 item 2).
  *
  * Five queries consume the corpus-wide hashed char-3gram frame and/or
  * the weight table derived from it (q255 inference, q262 perceptron
  * training, q264 DSIR selection, q268 calibration, s39 streaming
  * gate). Before this object each of them re-ran the explode → md5 →
  * bucket pipeline from scratch inside one session (~80% of each
  * query's cost was the rebuild). A 100 TB deployment featurizes the
  * corpus ONCE per snapshot and derives train/infer/select/audit from
  * the persisted feature frame; this registry expresses that shape
  * in-process.
  *
  * Memo, timing and release: [[SharedArtifact]]. Only the gram build is
  * timed: the small weight and prior tables stay in their consumer's
  * published per-query seconds.
  */
object ClassifierArtifacts {
  /** The gram-occurrence frame (doc_id, source, good, b), built at most
    * once per (session, sfDir). */
  def grams(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("grams", s, dir) {
      Profiling.classifierGrams(s, dir).localCheckpoint(true)
    }

  /** Smoothed per-bucket P(good) weight table (≤4096 rows), derived
    * from [[grams]], built at most once per (session, sfDir). */
  def weights(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("classifier-weights", s, dir, timed = false) {
      Profiling.classifierWeights(grams(s, dir)).localCheckpoint(true)
    }

  /** [[weights]] collected as the bucket → weight map the scorer ships
    * as a literal (bounded: ≤ 4096 weight rows). */
  def weightMap(s: SparkSession, dir: String): Map[Long, Long] =
    weights(s, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** The gram-occurrence prior threshold (single row), built at most
    * once per (session, sfDir). */
  def prior(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("classifier-prior", s, dir, timed = false) {
      Profiling.classifierPrior(grams(s, dir)).localCheckpoint(true)
    }

  /** Drop all memoized artifacts and free their blocks (test isolation). */
  def reset(): Unit =
    SharedArtifact.reset("grams", "classifier-weights", "classifier-prior")
}
