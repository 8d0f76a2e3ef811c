package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo-and-lifecycle path behind every session-shared artifact
  * registry ([[PairGraph]], [[CoPurchase]], [[ClassifierArtifacts]],
  * [[GramFrames]], and TextAnalysis' BPE and BM25 memos). Each registry
  * owns its build bodies and the reason its artifact is shared; this
  * object owns how it is shared.
  *
  * Mechanics: a value is memoized per (tag, session, sfDir) and built at
  * most once per key. Frame builds end in an EAGER `localCheckpoint`:
  * unlike `persist`, the checkpoint truncates lineage and its blocks are
  * NOT registered in [[TrackedCaches]], so the harness's per-query
  * `releaseAll()` (which rightly drops each query's private caches)
  * leaves the shared artifact alive for later queries in the same
  * session. Entries die with their session (block manager shutdown);
  * stopped-session keys are evicted on access. On a multi-executor
  * cluster the same role is played by a durable artifact — `checkpoint`
  * to reliable storage or a parquet index (the q91 persisted-index
  * discipline) — because localCheckpoint blocks die with an executor.
  *
  * A timed build is wrapped in [[SharedBuilds.timed]] under its tag, so
  * the bench line names the consumer that paid and
  * `SharedBuilds.count(tag)` proves a build ran once per session rather
  * than trusting a design comment. Builds nest (labels → pairs,
  * bands → shingles, weights/prior → grams, bpe-merges → bpe-words):
  * the lock is re-entrant and the map is only read before and written
  * after a build, never iterated across one.
  */
object SharedArtifact {
  private val memo =
    scala.collection.mutable.Map.empty[(String, SparkSession, String), Any]

  /** The value memoized under (tag, s, dir), built by `build` on first
    * use. `timed = false` keeps the build's seconds inside its caller's
    * (the consumer query's) own time. */
  def apply[T](tag: String, s: SparkSession, dir: String,
      timed: Boolean = true)(build: => T): T = synchronized {
    memo.filterInPlace { case ((_, ss, _), _) => !ss.sparkContext.isStopped }
    memo.get((tag, s, dir)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = if (timed) SharedBuilds.timed(tag)(build) else build
        memo.put((tag, s, dir), v)
        v
    }
  }

  /** Drop every memoized value under `tags`, freeing the blocks of those
    * that are frames (test and bench isolation hook). */
  def reset(tags: String*): Unit = synchronized {
    val dropped = memo.keys.filter(k => tags.contains(k._1)).toList
    dropped.foreach(k => memo.remove(k).foreach {
      case ds: Dataset[_] => release(ds)
      case _ => ()
    })
  }

  /** Frees the blocks behind a cached or eagerly `localCheckpoint`ed
    * frame.
    *
    * `Dataset.unpersist` only clears CacheManager (plan-cache) entries; a
    * checkpointed Dataset's plan is a `LogicalRDD` leaf whose BACKING RDD
    * holds the blocks, so unpersist is a no-op on it and the blocks would
    * live until session stop.
    *
    * The leaf is released ONLY when the frame's ROOT is the checkpoint
    * leaf — i.e. the frame is itself the result of `localCheckpoint`
    * (exactly what callers track/memoize). Walking ALL LogicalRDD leaves
    * instead would also free session-shared artifacts EMBEDDED in a
    * tracked frame's plan (a query that tracks `pairGraphMemo.join(...)`
    * has the memo's leaf in its tree), killing every later consumer of
    * the memo with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  private[operators] def release(ds: Dataset[_]): Unit =
    try {
      ds.unpersist(blocking = false)
      ds.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case NonFatal(_) => () }
}

/** Registry of DataFrames persisted INSIDE query definitions (shingle sets,
  * staged corpora, …). Queries `track` what they persist; the harness
  * (Verify/Bench) calls `releaseAll()` after each query's final action so
  * cached blocks don't accumulate across a 59-query session — within one
  * query the cache still prevents recomputation of expensive intermediates.
  */
object TrackedCaches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  def track(df: DataFrame): DataFrame = synchronized { frames += df; df }
  def releaseAll(): Unit = synchronized {
    frames.foreach(SharedArtifact.release)
    frames.clear()
  }
}
