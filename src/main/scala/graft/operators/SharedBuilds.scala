package graft.operators

/** Run-wide log of shared-artifact builds (ADVICE r8: PairGraph makes
  * suite timings order-dependent — the FIRST consumer of a memoized
  * artifact absorbs the whole build while later consumers run warm, so
  * a per-query number is only interpretable if the record says who
  * paid).
  *
  * Every memoized registry builds through [[SharedArtifact]], which
  * wraps each from-scratch build in [[timed]]: that records the tag and
  * the build's wall seconds (SELF time — a nested timed build, e.g.
  * pairs inside cc-labels, is charged to its own tag, not the parent's,
  * so summing tags never double-counts). [[graft.Bench]] snapshots the
  * record count around each timed query, writes a
  * `"shared_builds":{"q114":"pairs",...}` payer map to the full record,
  * and (VERDICT r13 item 2) SUBTRACTS the slot's build seconds from the
  * published per-query value — slots record steady-state; builds get their own
  * `"builds":{tag:sec}` line. s39 went 3.97→14.67 s in r13 purely
  * because the gram build moved into its slot; the split makes
  * round-over-round trends read apples-to-apples again.
  */
object SharedBuilds {
  private val timings =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  // per-thread accumulator of completed CHILD build seconds, so a
  // parent timed() can subtract them and record self time only
  private val childSecs = new ThreadLocal[Double] {
    override def initialValue(): Double = 0.0
  }

  /** Run `body` (the from-scratch build, including its eager
    * materialization) and record (tag, self seconds). */
  def timed[T](tag: String)(body: => T): T = {
    val before = childSecs.get()
    childSecs.set(0.0)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val self = (wall - childSecs.get()).max(0.0)
      synchronized { timings += ((tag, self)) }
      childSecs.set(before + wall) // report full wall to OUR parent
    }
  }

  /** Builds of the artifact `tag` this JVM — how tests prove a shared
    * artifact was built once. */
  def count(tag: String): Int = synchronized { timings.count(_._1 == tag) }

  /** Total timed-build records this JVM (handle for [[timingsSince]]). */
  def timingCount: Int = synchronized { timings.size }

  /** (tag, self seconds) records after snapshot `n`, in order. */
  def timingsSince(n: Int): Seq[(String, Double)] = synchronized {
    timings.drop(n).toList
  }
}
