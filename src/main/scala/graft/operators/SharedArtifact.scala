package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo-and-lifecycle path behind every session-shared artifact
  * registry ([[PairGraph]], [[CoPurchase]], [[ClassifierArtifacts]],
  * [[GramFrames]], and TextAnalysis' BPE and BM25 memos). Each registry
  * owns its build bodies and the reason its artifact is shared; this
  * object owns how it is shared.
  *
  * Mechanics: a value is memoized per (tag, session, sfDir) and built at
  * most once per key. A memoized frame must be the result of an eager
  * `localCheckpoint` — its analyzed root a `LogicalRDD` leaf — and
  * [[apply]] rejects any other frame. That leaf's RDD is what the query
  * boundary ([[TrackedCaches.releaseAll]]) pins: every other cache and
  * checkpoint dies with its query, the memo lives on for later queries
  * in the same session. Entries die with their session (block manager
  * shutdown); stopped-session keys are evicted on access. On a
  * multi-executor cluster the same role is played by a durable
  * artifact — `checkpoint` to reliable storage or a parquet index (the
  * q91 persisted-index discipline) — because localCheckpoint blocks die
  * with an executor.
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
        v match {
          case ds: Dataset[_] => require(checkpointed(ds).nonEmpty,
            s"shared artifact '$tag' is not a localCheckpoint result")
          case _ =>
        }
        memo.put((tag, s, dir), v)
        v
    }
  }

  /** Drop every memoized value under `tags`, freeing the blocks of those
    * that are frames (test and bench isolation hook). */
  def reset(tags: String*): Unit = synchronized {
    val dropped = memo.keys.filter(k => tags.contains(k._1)).toList
    dropped.foreach(k => memo.remove(k).foreach {
      case ds: Dataset[_] =>
        try checkpointed(ds).foreach(_.unpersist(blocking = false))
        catch { case NonFatal(_) => () }
      case _ =>
    })
  }

  /** The query boundary behind [[TrackedCaches.releaseAll]]: drop every
    * `Dataset.persist` entry, then unpersist every persisted RDD of
    * `s`'s context except the checkpoint leaves of the frames memoized
    * in that context.
    *
    * Only the ROOT leaf of a memo is pinned, the rule [[reset]] frees
    * by: a query frame that embeds a memo in its plan (a
    * `pairGraphMemo.join(...)` that the query persists) is freed, and
    * the memo's own leaf is not. */
  private[operators] def releaseUnshared(s: SparkSession): Unit = synchronized {
    val sc = s.sparkContext
    val pinned = memo.collect { case ((_, ss, _), ds: Dataset[_])
      if ss.sparkContext eq sc => checkpointed(ds).get.id }.toSet
    s.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned(id)) rdd.unpersist(blocking = false) }
  }

  /** The RDD that holds a `localCheckpoint`ed frame's blocks: its plan is
    * a `LogicalRDD` leaf whose backing RDD is the persisted one
    * (`Dataset.unpersist` never reaches it). None for any other frame. */
  private def checkpointed(ds: Dataset[_]): Option[RDD[_]] =
    Some(ds.queryExecution.analyzed).collect { case lr: LogicalRDD => lr.rdd }
}

/** The query boundary. Every query's caches and checkpoints are private
  * to it; only [[SharedArtifact]] memos outlive it.
  */
object TrackedCaches {
  /** Frees everything the queries run so far cached or checkpointed in
    * the active session, except the memoized shared artifacts: every
    * `Dataset.persist` entry and every persisted RDD not pinned by a
    * memo ([[SharedArtifact.releaseUnshared]]). The rule reads what
    * Spark itself records, so a query needs no release code of its own.
    *
    * PRECONDITION: call it only BETWEEN queries — after one query's last
    * action and before the next starts (Verify, Bench, PlanShape and the
    * specs do). A query still running when it is called loses its
    * caches and checkpoints, and a checkpoint it reads again fails with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The streaming pipeline never
    * calls it. */
  def releaseAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .foreach(SharedArtifact.releaseUnshared)
}
