package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Computed-ONCE word-8-gram digest frame shared across the query suite —
  * the PairGraph/ClassifierArtifacts build-once discipline applied to the
  * passage-grain gram index (VERDICT r8's standing ask, extended to the
  * round-9 novelty family).
  *
  * Three consumers derive from the same corpus-wide (doc_id, source,
  * sha2(word-8-gram)) frame: q103's repeated-passage audit (document
  * frequency over the digests), q279's temporal novelty audit (batch
  * grams probe the standing gram set), and s45's streaming twin (whose
  * STATIC standing side is exactly the frame's doc_id % 5 != 4 slice).
  * Before this object each of them re-ran the explode → array_distinct →
  * sha2 pipeline from scratch — the q255-gram-frame rebuild smell the
  * round-8 verdict flagged.
  *
  * At 100 TB this frame IS the persisted passage index a corpus
  * snapshot builds once (the 32-byte digest, never the passage text, is
  * what shuffles or stores). Memo, timing and release: [[SharedArtifact]].
  */
object GramFrames {
  /** The corpus-wide (doc_id, source, h) frame: per-doc DISTINCT word
    * 8-grams as 32-byte sha2 digests, built at most once per
    * (session, sfDir). */
  def word8(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("word8-grams", s, dir) {
      // spread: single-row-group fixture scan = one task for the
      // explode + sha2 below (guide §2.5, r14)
      graft.Tables.spread(
          graft.Tables(s, dir, "documents")
            .select("doc_id", "source", "text"), col("doc_id"))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(
            call_function("graft_word_ngrams", col("text"), lit(8)))).as("g"))
        .select(col("doc_id"), col("source"), sha2(col("g"), 256).as("h"))
        .localCheckpoint(true)
    }

  /** The corpus-wide POSITIONAL gram frame (doc_id, source, pos, h):
    * every sliding word-8-gram of every document with its 0-based word
    * offset, digest-keyed. The run-coalescing family (q318's maximal
    * shared-run audit and s51's incremental probe) needs ADJACENCY, which
    * the distinct [[word8]] frame deliberately discards — so this is its
    * positional sibling, built at most once per (session, sfDir) under
    * the same registry discipline. At 100 TB this is the positional
    * passage index (32-byte digest + two longs per gram, never text). */
  def word8Pos(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("word8-grams-pos", s, dir) {
      // spread: same single-task-scan rationale as [[word8]] (r14)
      graft.Tables.spread(
          graft.Tables(s, dir, "documents")
            .select("doc_id", "source", "text"), col("doc_id"))
        .select(col("doc_id"), col("source"),
          posexplode(call_function("graft_word_ngrams", col("text"), lit(8)))
            .as(Seq("pos", "g")))
        .select(col("doc_id"), col("source"),
          col("pos").cast("long").as("pos"),
          sha2(col("g"), 256).as("h"))
        .localCheckpoint(true)
    }

  /** Drop the memoized frames and free their blocks (test isolation hook). */
  def reset(): Unit = SharedArtifact.reset("word8-grams", "word8-grams-pos")
}
