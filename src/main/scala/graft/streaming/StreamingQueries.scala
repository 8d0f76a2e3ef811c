package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.operators.{CurationRules, Exact, QueryDef, Staging, StagingCleanup}

/** Event-time streaming operators over the `events` fixture — the
  * streaming twins of q19 (tumbling window) and q20 (sessionization),
  * checked against the SAME oracles: each runs a real Structured
  * Streaming query (file source → event-time transform → sink), drains it
  * with Trigger.AvailableNow, and returns the sink table.
  *
  * The file source stands in for Kafka (no connector on this classpath);
  * everything downstream of the source is stream-agnostic.
  *
  * 100 TB scale: both are keyed stateful aggregations — state partitions
  * by window/user across executors; watermarks bound state size (1 hour
  * of event-time for the window aggregation; sessions time out with the
  * watermark in continuous deployments).
  */
/** Encoder row types for the stateful operator (top-level: Spark's codegen
  * needs public accessors on encoder targets). */
/** `ts_t` carries the event-time watermark tag through the typed
  * projection (EventTimeTimeout requires the watermarked column to survive
  * into the grouped Dataset); session math uses exact-integer `ts_us`. */
final case class Ev(user_id: Long, event_id: Long, ts_us: Long,
    ts_t: java.sql.Timestamp)
final case class SessionOut(
    user_id: Long, session_id: Long, n_events: Long, start_us: Long, end_us: Long)
/** Per-user state for s02: ONLY the open (not-yet-closed-by-gap) session —
  * closed sessions are emitted immediately, so state is O(1) per active user
  * and evicted by event-time timeout once the watermark passes the gap. */
final case class OpenSession(sid: Long, n: Long, start_us: Long, last_us: Long)
/** s17's typed event row (needs event_type; `ts_t` carries the watermark
  * tag, as in [[Ev]]). */
final case class FunnelEv(user_id: Long, ts_us: Long, event_type: String,
    ts_t: java.sql.Timestamp)
/** s17's per-user funnel progress: stage timestamps, -1 = not reached.
  * O(1) per user — the state machine never holds events. */
final case class FunnelState(t1: Long, t2: Long, t3: Long)
final case class FunnelOut(user_id: Long, final_stage: String)
/** s18's per-user state: the LAST event's type — one string per user,
  * the minimum state a transition counter can carry. */
final case class LastEvent(event_type: String)
final case class TransitionOut(from_type: String, to_type: String)
/** s18's typed event row (event_id carries the same-timestamp tie-break
  * the batch oracle sorts by). */
final case class TransEv(user_id: Long, event_id: Long, ts_us: Long,
    event_type: String, ts_t: java.sql.Timestamp)
/** s19's day-deduped activity row and per-user state (the first-seen
  * day — one long per user). */
final case class DayEv(user_id: Long, day: Long, ts_t: java.sql.Timestamp)
final case class Cohort(cohort_day: Long)
final case class RetentionOut(user_id: Long, cohort_day: Long, day: Long)
/** s21's CEP state: the user's event-type sequence so far plus a bitmask
  * of already-fired patterns (so each fires at most once per user). */
final case class CepState(seq: String, fired: Int)
final case class CepMatch(user_id: Long, pattern: String)

final case class TwapEv(event_type: String, event_id: Long, ts_us: Long,
    vc: Long)
final case class TwapLast(ts_us: Long, vc: Long)
final case class TwapInterval(event_type: String, vc: Long, dt: Long)

/** s27's typed event row, per-user rollup state, and report row for the
  * transformWithState processor (top-level for encoder codegen, as [[Ev]]). */
final case class SpendEv(user_id: Long, ts_us: Long, vc: Long,
    ts_t: java.sql.Timestamp)
final case class SpendAgg(n: Long, cents: Long, last_us: Long, expiry_ms: Long)
final case class SpendOut(user_id: Long, n_events: Long, total_cents: Long,
    last_us: Long)

/** s27/s28's processor core on Spark 4's transformWithState API (the
  * arbitrary-stateful surface that supersedes flatMapGroupsWithState):
  * one ValueState rollup per user, an explicit event-time timer
  * re-armed to last_activity + 40 idle days on every batch (the
  * previous timer is DELETED first — a stale timer would otherwise
  * fire early, emit a partial rollup, and clear live state; the expiry
  * echoed in state double-checks it), and emission ONLY from
  * handleExpiredTimer, so a user reports exactly once, when they go
  * quiet. State is 4 longs per active user, timer-evicted — O(active
  * users) at any event volume. */
sealed trait SpendCore
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, SpendEv, SpendOut] {
  protected final val idleMs = 40L * 86400L * 1000L
  @transient protected var st:
    org.apache.spark.sql.streaming.ValueState[SpendAgg] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[SpendAgg]("agg",
      org.apache.spark.sql.Encoders.product[SpendAgg],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  /** Fold + re-arm: shared by arriving batches and the batch-seeded
    * initial state (the seed is just a rollup that arrived early). */
  protected final def absorb(add: SpendAgg): Unit = {
    val prev = if (st.exists()) st.get() else SpendAgg(0L, 0L, Long.MinValue, -1L)
    val last = math.max(prev.last_us, add.last_us)
    if (prev.expiry_ms >= 0) getHandle.deleteTimer(prev.expiry_ms)
    val expiry = last / 1000L + idleMs
    getHandle.registerTimer(expiry)
    st.update(SpendAgg(prev.n + add.n, prev.cents + add.cents, last, expiry))
  }

  override def handleInputRows(key: Long, rows: Iterator[SpendEv],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SpendOut] = {
    if (key < 0) return Iterator.empty // watermark sentinel: no state, no timer
    var n = 0L; var c = 0L; var last = Long.MinValue
    rows.foreach { e =>
      n += 1; c += e.vc; if (e.ts_us > last) last = e.ts_us
    }
    absorb(SpendAgg(n, c, last, -1L))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long,
      tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SpendOut] = {
    if (!st.exists()) return Iterator.empty
    val a = st.get()
    // a deleted-then-refired race can't emit: only the CURRENT timer may
    if (info.getExpiryTimeInMs() != a.expiry_ms) Iterator.empty
    else { st.clear(); Iterator.single(SpendOut(key, a.n, a.cents, a.last_us)) }
  }
}

final class SpendProcessor extends SpendCore

/** s28's seeded variant: identical semantics, but per-user state warm-
  * starts from a BATCH rollup (handleInitialState runs once per seeded
  * key before any stream row) — the backfill→live cutover pattern. A
  * seeded-but-silent user still reports via the timer armed at seeding. */
final class SpendProcessorSeeded
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, SpendEv, SpendOut, SpendAgg] with SpendCore {
  override def handleInitialState(key: Long, seed: SpendAgg,
      tv: org.apache.spark.sql.streaming.TimerValues): Unit =
    absorb(seed)
}

/** s29's typed row and report (top-level for encoder codegen). */
final case class TypedEv(user_id: Long, ts_us: Long, event_type: String,
    vc: Long, ts_t: java.sql.Timestamp)
final case class ProfileOut(user_id: Long, n_events: Long, n_types: Long,
    top3_cents: Long, last_us: Long)

/** s29's processor — the composite-state surface of transformWithState:
  * a MapState (per-type counts; RocksDB stores each map ENTRY as its
  * own key, so updating one type never rewrites the others), a bounded
  * ListState (the 3 largest purchase amounts — arriving values compete
  * against the retained min, so state stays 3 longs no matter how many
  * purchases), and a ValueState carrying the [[SpendCore]] rollup +
  * timer discipline. Emission at user-quiet, exactly once. */
final class ProfileProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, TypedEv, ProfileOut] {
  private val idleMs = 40L * 86400L * 1000L
  @transient private var st:
    org.apache.spark.sql.streaming.ValueState[SpendAgg] = _
  @transient private var types:
    org.apache.spark.sql.streaming.MapState[String, Long] = _
  @transient private var top3:
    org.apache.spark.sql.streaming.ListState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val h = getHandle
    val ttl = org.apache.spark.sql.streaming.TTLConfig.NONE
    st = h.getValueState[SpendAgg]("agg",
      org.apache.spark.sql.Encoders.product[SpendAgg], ttl)
    types = h.getMapState[String, Long]("types",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, ttl)
    top3 = h.getListState[Long]("top3",
      org.apache.spark.sql.Encoders.scalaLong, ttl)
  }

  override def handleInputRows(key: Long, rows: Iterator[TypedEv],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[ProfileOut] = {
    if (key < 0) return Iterator.empty // watermark sentinel
    val prev = if (st.exists()) st.get() else SpendAgg(0L, 0L, Long.MinValue, -1L)
    var n = prev.n; var last = prev.last_us
    var best = top3.get().toList
    rows.foreach { e =>
      n += 1; if (e.ts_us > last) last = e.ts_us
      val c = if (types.containsKey(e.event_type)) types.getValue(e.event_type) else 0L
      types.updateValue(e.event_type, c + 1L)
      if (e.event_type == "purchase")
        best = (e.vc :: best).sorted(Ordering[Long].reverse).take(3)
    }
    // the store rejects EMPTY list writes — absent list ≡ no purchases
    if (best.nonEmpty) top3.put(best.toArray)
    if (prev.expiry_ms >= 0) getHandle.deleteTimer(prev.expiry_ms)
    val expiry = last / 1000L + idleMs
    getHandle.registerTimer(expiry)
    st.update(SpendAgg(n, 0L, last, expiry))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long,
      tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ProfileOut] = {
    if (!st.exists()) return Iterator.empty
    val a = st.get()
    if (info.getExpiryTimeInMs() != a.expiry_ms) return Iterator.empty
    val out = ProfileOut(key, a.n, types.keys().size.toLong,
      top3.get().sum, a.last_us)
    st.clear(); types.clear(); top3.clear()
    Iterator.single(out)
  }
}

final case class StreakEv(user_id: Long, day: Long, ts_t: java.sql.Timestamp)
final case class StreakState(last_day: Long, cur_len: Long, best_len: Long,
    n_streaks: Long, first_day: Long)
final case class StreakOut(user_id: Long, longest_streak: Long,
    n_streaks: Long, first_day: Long)

/** s34's typed row and per-batch emission (top-level for encoders). */
final case class KmvEv(event_type: String, hv: Long)
final case class KmvOut(event_type: String, n_tracked: Long, kth_hash: Long)

/** s34's processor — a MERGEABLE SKETCH as transformWithState state: the
  * per-type KMV k-minimum-values list (k = 16 longs, ListState) absorbs
  * each batch's hashes and stays EXACTLY k entries however much data
  * flows — the streaming counterpart of q237's batch sketch. Per batch it
  * emits the current (n_tracked, kth) snapshot; the running kth only ever
  * DECREASES, so the batch-side reduction (min of full-sketch kths, max
  * of n_tracked) recovers the final sketch deterministically regardless
  * of how the drain micro-batched. */
final class KmvProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, KmvEv, KmvOut] {
  private val k = 16
  @transient private var mins:
    org.apache.spark.sql.streaming.ListState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    mins = getHandle.getListState[Long]("kmins",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[KmvEv],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[KmvOut] = {
    val merged = (mins.get().toSeq ++ rows.map(_.hv))
      .distinct.sorted.take(k).toArray
    if (merged.nonEmpty) mins.put(merged) // the store rejects empty writes
    Iterator.single(KmvOut(key, merged.length.toLong,
      if (merged.length == k) merged.last else -1L))
  }
}

object StreamingQueries {

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stream the events table through a file source (schema from the batch
    * reader — streaming sources require an explicit schema). The file
    * source only accepts directories, so the fixture file is staged once
    * into a landing directory — the moral equivalent of a stream's
    * arrival folder. `copies > 1` stages the file N times (distinct
    * names), simulating an at-least-once source that replays its data.
    */
  /** The far-future flush-sentinel row (user_id = event_id = -1, ts ten
    * years past the fixture's max): advances the event-time watermark
    * past every real row's timeout at drain end, so state flushes
    * deterministically under AvailableNow — in a continuous deployment
    * the advancing live watermark plays this role. `sessionize` (uid < 0
    * drop) and s08's batch-side filter both key off the -1 marker; this
    * is the ONE definition of that contract. */
  private def sentinelRow(s: SparkSession, path: String): DataFrame = {
    val raw = s.read.parquet(path)
    // max in epoch micros via the schema-adaptive helper (fixtures have
    // shipped ts as both Long nanos and timestamp[us] — see Tables.tsUsCol),
    // then rebuild the sentinel ts in the column's own type.
    val maxUs = raw.agg(max(graft.Tables.tsUsCol(raw))).head().getLong(0)
    val tenYearsUs = 315360000L * 1000000L
    val sentinelTs: org.apache.spark.sql.Column =
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit((maxUs + tenYearsUs) * 1000L)
        case dt => timestamp_micros(lit(maxUs + tenYearsUs)).cast(dt)
      }
    raw.limit(1)
      .withColumn("ts", sentinelTs)
      .withColumn("user_id", lit(-1L))
      .withColumn("event_id", lit(-1L))
  }

  /** One slice of a streaming landing: `df`, already partitioned into
    * `files` parts, lands its k-th part file as `name(k)`. */
  private final case class Slice(df: DataFrame, files: Int, name: Int => String)

  /** Stage `slices` once per content of `fixture` as the landing `name`
    * and open it as a parquet file stream (layout, file naming and the
    * `ascending` mtime rule: [[graft.operators.Staging]]). */
  private def landing(s: SparkSession, name: String, dir: String, fixture: String,
      schema: org.apache.spark.sql.types.StructType, ascending: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None)(slices: => Seq[Slice]): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val landed = Staging.ensure(name, dir, fixture) { d =>
      val tmp = d.resolve("_parts")
      var seq = 0
      slices.foreach { sl =>
        sl.df.write.mode("overwrite").parquet(tmp.toString)
        val ls = Files.list(tmp)
        val parts = try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString) // partition order
        finally ls.close()
        require(parts.size == sl.files,
          s"$name: expected ${sl.files} parts, got ${parts.size}")
        parts.zipWithIndex.foreach { case (p, k) =>
          val dest = d.resolve(sl.name(k))
          Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
          seq += 1
          if (ascending)
            Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000000000L + seq * 60000L))
        }
      }
      StagingCleanup.delete(tmp)
      ""
    }
    val r = s.readStream.schema(schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong))
      .parquet(landed.toString)
  }

  /** The events stream's canonical time columns (see [[graft.Tables.events]]). */
  private def withEventTime(stream: DataFrame): DataFrame =
    stream
      .withColumn("ts_us", graft.Tables.tsUsCol(stream))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))

  /** Each copy of the events table is staged as FOUR parquet part-files
    * rather than a verbatim copy of the single-file fixture (r15): the
    * fixture is ONE row group, so a verbatim copy makes every
    * micro-batch scan run as ONE task no matter the split size — s15's
    * whole 1M-row Complete-mode aggregate ran single-task (first batch
    * 2.8 s of its 3.6 s slot, guide §2.5 "one huge unsplittable file").
    * Four part files give the batch scan four independent splits. All
    * files land before the marker, so the drain still sees one arrival
    * set (AvailableNow with no maxFilesPerTrigger reads them in one
    * batch). */
  private def eventsStream(s: SparkSession, dir: String, copies: Int = 1,
      flushSentinel: Boolean = false): DataFrame = {
    val path = s"$dir/events.parquet"
    val variant = s"x$copies${if (flushSentinel) "s" else ""}"
    withEventTime(landing(s, s"stream_events_$variant", dir, path,
        s.read.parquet(path).schema) {
      (1 to copies).map(i =>
        Slice(s.read.parquet(path).repartition(4), 4, j => s"events_${i}_$j.parquet")) ++
        (if (flushSentinel)
          Seq(Slice(sentinelRow(s, path).coalesce(1), 1, _ => "events_sentinel.parquet"))
        else Nil)
    })
  }

  /** Stream the events table split into 4 parquet part-files, read with
    * maxFilesPerTrigger = 1 — an AvailableNow drain then runs one
    * micro-batch per file over the same rows (bounded batch size, the
    * backpressure configuration).
    * DELIBERATELY kept at 1 in r15 (unlike the grouped part sources
    * below): s11 exists to demonstrate the one-file-per-trigger
    * backpressure shape and StreamingSpec pins its >= 4 data batches. */
  private[streaming] def eventsStreamParts(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    withEventTime(landing(s, "stream_events_parts", dir, path,
        s.read.parquet(path).schema, maxFilesPerTrigger = Some(1)) {
      Seq(Slice(s.read.parquet(path).repartition(4), 4, i => s"part_$i.parquet"))
    })
  }

  /** Time-ordered 4-part landing + far-future sentinel: parts hold
    * disjoint ascending (ts, event_id) ranges and carry strictly
    * ascending modification times, so the file source processes them
    * oldest-first and a 0-second watermark advances BETWEEN
    * batches — event-time timeouts then fire mid-stream, not only at the
    * final sentinel flush. Ranges come from ONE distributed
    * `repartitionByRange` job (sampled boundaries, partition i = i-th
    * ascending range — no global single-partition window anywhere).
    *
    * `maxFilesPerTrigger = 2` (r15, VERDICT r14 item 3): the 17
    * consumers of this source are micro-batch-OVERHEAD bound at bench
    * SF — each stateful operator re-opens one state store per shuffle
    * partition per batch, so 6 batches × 8 partitions dominated every
    * slot while per-batch data stayed tiny. Grouping the five files
    * into three data batches (parts 1+2 | parts 3+4 | sentinel) halves
    * that fixed cost while KEEPING the semantics the staging exists to
    * exercise: batches stay time-ordered, the watermark still advances
    * between data batches, event-time timeouts still fire mid-stream
    * (before the sentinel), and state still carries across batches
    * (StreamingSpec's s12 multi-batch-emission law still holds). Every
    * consumer's oracle is batch-boundary-free (each pins the final
    * drained set to a batch SQL result), so the grouping cannot change
    * any result — the full selfcheck re-ran green on all 70 s-queries. */
  private[streaming] def eventsStreamTimeParts(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    withEventTime(landing(s, "stream_events_tparts", dir, path,
        s.read.parquet(path).schema, ascending = true, maxFilesPerTrigger = Some(2)) {
      Seq(
        Slice(s.read.parquet(path).repartitionByRange(4, col("ts"), col("event_id")),
          4, i => s"part_${i + 1}.parquet"),
        Slice(sentinelRow(s, path).coalesce(1), 1, _ => "part_5_sentinel.parquet"))
    })
  }

  /** 10-minute session gap (same semantics as batch q20). */
  val sessionGapUs: Long = 600L * 1000000L

  /** s06's admission transform (reused by StreamingSpec's replay test):
    * in-stream dedup FIRST — the anti join is stateless, so an
    * at-least-once source would double-count admitted rows without it;
    * dropDuplicatesWithinWatermark keeps that state watermark-bounded —
    * then LEFT ANTI against the already-ingested corpus digest set, and
    * a per-type aggregate. `stream` needs (event_id, ts_t, event_type,
    * value); `corpus` is one `h` digest column. */
  def ingestDedup(stream: DataFrame, corpus: DataFrame): DataFrame =
    stream
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("h", sha2(col("event_id").cast("string"), 256))
      .join(corpus, Seq("h"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_admitted"),
        Exact.dsum(col("value")).as("sum_value"))

  /** s02's stateful sessionizer (reused by StreamingSpec's eviction test).
    * State lifecycle is the one you'd run continuously at 100 TB: per user,
    * ONLY the open session is held (closed sessions emit immediately), with
    * an event-time timeout at last_event + gap — once the watermark passes
    * that, the open session can never extend, so it is emitted and the
    * state CLEARED. Requires a watermark on `ts_t` upstream. */
  def sessionize(evs: Dataset[Ev]): Dataset[SessionOut] = {
    import evs.sparkSession.implicits._
    val gapUs = sessionGapUs
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          // the flush sentinel (uid -1) must REACH the watermark
          // operator (a pre-groupBy filter would be pushed below it,
          // hiding it from watermark stats), so it is dropped here
          if (uid < 0) Iterator.empty
          else if (state.hasTimedOut) {
            // watermark passed last_event + gap: session is final
            val o = state.get
            state.remove()
            Iterator.single(SessionOut(uid, o.sid, o.n, o.start_us, o.last_us))
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
            val out = Seq.newBuilder[SessionOut]
            var cur: OpenSession = state.getOption.orNull
            for (e <- sorted) {
              if (cur == null) cur = OpenSession(1L, 1L, e.ts_us, e.ts_us)
              else if (e.ts_us - cur.last_us > gapUs) {
                out += SessionOut(uid, cur.sid, cur.n, cur.start_us, cur.last_us)
                cur = OpenSession(cur.sid + 1, 1L, e.ts_us, e.ts_us)
              } else cur = cur.copy(n = cur.n + 1, last_us = e.ts_us)
            }
            if (cur != null) {
              state.update(cur)
              // timeout is in epoch millis; fires once watermark > it
              state.setTimeoutTimestamp(cur.last_us / 1000L + gapUs / 1000L)
            }
            out.result().iterator
          }
      }
  }

  /** s17's stateful funnel walker (streaming twin of q108, same oracle
    * semantics): per user, t1 = first view, t2 = first click after t1,
    * t3 = first purchase after t2, classified against the t1 + 1h
    * window at emission. The state is O(1) per user (three longs — no
    * event history), refined GREEDILY, which is exact only because
    * events arrive per-user in event-time order (the time-ranged parts
    * staging guarantees ascending ranges across batches; each batch's
    * group iterator is sorted here). Ties are handled identically to
    * the batch SQL: a next-stage event at exactly the prior stage's
    * timestamp is excluded (strict >).
    * Emission happens ONLY by event-time timeout at t1 + 1h — before
    * the watermark passes that point a purchase could still arrive and
    * upgrade the classification; after it, nothing can change it. The
    * timeout clamps to watermark + 1 ms when the hour already elapsed
    * inside the arriving batch (a timeout at-or-behind the watermark is
    * rejected by Spark; the classification is already final, so the
    * one-batch delay is harmless). The far-future sentinel flushes
    * every pending user at drain end. */
  def funnel(evs: Dataset[FunnelEv]): Dataset[FunnelOut] = {
    import evs.sparkSession.implicits._
    val hourUs = 3600000000L
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          def classify(st: FunnelState): String =
            if (st.t2 >= 0 && st.t2 <= st.t1 + hourUs
              && st.t3 >= 0 && st.t3 <= st.t1 + hourUs) "purchase"
            else if (st.t2 >= 0 && st.t2 <= st.t1 + hourUs) "click"
            else "view"
          if (uid < 0) Iterator.empty // flush sentinel (see sentinelRow)
          else if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(FunnelOut(uid, classify(st)))
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_type))
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            for (e <- sorted) {
              if (st.t1 < 0) {
                if (e.event_type == "view") st = FunnelState(e.ts_us, -1L, -1L)
              } else if (st.t2 < 0) {
                if (e.event_type == "click" && e.ts_us > st.t1)
                  st = st.copy(t2 = e.ts_us)
              } else if (st.t3 < 0) {
                if (e.event_type == "purchase" && e.ts_us > st.t2)
                  st = st.copy(t3 = e.ts_us)
              }
            }
            if (st.t1 >= 0) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.t1 / 1000L + 3600001L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            Iterator.empty
          }
      }
  }

  /** s18's transition walker: per user, each arriving event emits the
    * (previous type → this type) pair and becomes the new last-event
    * state — one string per user, never an event history. Exact against
    * q116's batch lead() oracle because the time-ranged parts keep each
    * user's events globally ordered and each batch iterator is sorted
    * (ties by event_id, the oracle's tie-break). No timeout: an
    * idle-eviction would DROP the transition across the idle gap and
    * change the semantics — state is O(users) by design, which is what
    * the batch definition costs too. */
  def transitions(evs: Dataset[TransEv]): Dataset[TransitionOut] = {
    import evs.sparkSession.implicits._
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TransEv], state: GroupState[LastEvent]) =>
          if (uid < 0) Iterator.empty // flush sentinel
          else {
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
            val out = Seq.newBuilder[TransitionOut]
            var last = state.getOption.map(_.event_type).orNull
            for (e <- sorted) {
              if (last != null) out += TransitionOut(last, e.event_type)
              last = e.event_type
            }
            if (last != null) state.update(LastEvent(last))
            out.result().iterator
          }
      }
  }

  /** s23's interval closer: per event_type, ONE last reading (ts, cents)
    * of state; each arriving event closes the previous reading's holding
    * interval and emits it immediately — the streaming half of q146's
    * TWAP, leaving only exact-arithmetic aggregation for the rollup.
    * In-batch order is restored by the (ts_us, event_id) sort (the s18
    * discipline); cross-batch order is the staged time-parts' contract. */
  def twapIntervals(evs: Dataset[TwapEv]): Dataset[TwapInterval] = {
    import evs.sparkSession.implicits._
    evs
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (et: String, it: Iterator[TwapEv], state: GroupState[TwapLast]) =>
          val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[TwapInterval]
          var last = state.getOption.orNull
          for (e <- sorted) {
            if (last != null)
              out += TwapInterval(et, last.vc, e.ts_us - last.ts_us)
            last = TwapLast(e.ts_us, e.vc)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** s25's streak walker: per user, five longs of state maintain the
    * consecutive-day run LIVE (current run, best run, run count, first
    * day), and the FINAL report emits via event-time timeout once the
    * watermark passes last activity + 40 days — "streak report after 40
    * idle days", the product semantic a continuous deployment wants,
    * and past the fixture's 30-day span so only the far-future sentinel
    * fires it here. Cross-batch same-day duplicates collapse against
    * `last_day` (days arrive in order across the staged batches). */
  def streaks(evs: Dataset[StreakEv]): Dataset[StreakOut] = {
    import evs.sparkSession.implicits._
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[StreakEv], state: GroupState[StreakState]) =>
          if (uid < 0) Iterator.empty // watermark sentinel
          else if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(StreakOut(uid, st.best_len, st.n_streaks, st.first_day))
          } else {
            val days = it.map(_.day).toArray.sorted.distinct
            var st = state.getOption.orNull
            for (d <- days) {
              if (st == null) st = StreakState(d, 1L, 1L, 1L, d)
              else if (d == st.last_day) () // cross-batch duplicate day
              else if (d == st.last_day + 1) {
                val cur = st.cur_len + 1
                st = st.copy(last_day = d, cur_len = cur,
                  best_len = math.max(st.best_len, cur))
              } else st = st.copy(last_day = d, cur_len = 1L,
                n_streaks = st.n_streaks + 1)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp((st.last_day + 40L) * 86400000L)
            }
            Iterator.empty
          }
      }
  }

  /** s21's CEP patterns — shared with batch q131 so the stream/batch
    * twins cannot drift. Order is the bitmask position. */
  val cepPatterns: Seq[(String, scala.util.matching.Regex)] = Seq(
    "error_burst" -> "e{3}".r,
    "funnel_adjacent" -> "vcp".r,
    "repeat_purchase" -> "pp".r,
    "signup_to_purchase" -> "sv.*p".r)

  /** s21's pattern detector (Flink-CEP's role on Spark): per user, the
    * running event-type string is the state; each arriving batch appends
    * its (time-sorted) chars and fires every not-yet-fired pattern the
    * grown string now matches — at most once per (user, pattern), emitted
    * the moment the completing event arrives. All patterns are existential
    * substring regexes, so a mid-stream match equals a match on the final
    * string (monotone) and the drained set must equal batch q131's.
    * State is the user's own history (the q80 cap discipline applies in
    * production); the fired bitmask makes re-evaluation cheap. */
  def cep(evs: Dataset[TransEv]): Dataset[CepMatch] = {
    import evs.sparkSession.implicits._
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TransEv], state: GroupState[CepState]) =>
          if (uid < 0) Iterator.empty // flush sentinel
          else {
            val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
            val st = state.getOption.getOrElse(CepState("", 0))
            val sb = new StringBuilder(st.seq)
            var fired = st.fired
            val out = Seq.newBuilder[CepMatch]
            for (e <- sorted) {
              sb += (e.event_type match {
                case "view" => 'v'; case "click" => 'c'
                case "purchase" => 'p'; case "signup" => 's'; case _ => 'e'
              })
              val sq = sb.toString
              for (((name, re), i) <- cepPatterns.zipWithIndex)
                if ((fired & (1 << i)) == 0 && re.findFirstIn(sq).isDefined) {
                  fired |= 1 << i
                  out += CepMatch(uid, name)
                }
            }
            state.update(CepState(sb.toString, fired))
            out.result().iterator
          }
      }
  }

  /** s19's cohort walker: per user, the FIRST day ever seen is the
    * cohort (one long of state — arrival order is per-user ascending
    * under the time-ranged parts, so the first row's day is the min);
    * every day-deduped activity row emits (user, cohort_day, day)
    * immediately. Runs downstream of dropDuplicatesWithinWatermark, so
    * rows arrive at most once per (user, day). */
  def cohorts(evs: Dataset[DayEv]): Dataset[RetentionOut] = {
    import evs.sparkSession.implicits._
    evs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[DayEv], state: GroupState[Cohort]) =>
          if (uid < 0) Iterator.empty // flush sentinel
          else {
            val sorted = it.toArray.sortBy(_.day)
            if (sorted.isEmpty) Iterator.empty
            else {
              val cohort = state.getOption.map(_.cohort_day)
                .getOrElse(sorted.head.day)
              state.update(Cohort(cohort))
              sorted.iterator.map(e => RetentionOut(uid, cohort, e.day))
            }
          }
      }
  }

  /** Stream the documents table through a file source — the arrival
    * folder of a corpus-ingest stream, staged as 4 parts for the
    * [[eventsStream]] reason: a verbatim copy of the single-row-group
    * fixture makes the batch scan ONE task; four part files give it four
    * splits. */
  private def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    landing(s, "stream_docs", dir, path, s.read.parquet(path).schema) {
      Seq(Slice(s.read.parquet(path).repartition(4), 4, j => s"documents_1_$j.parquet"))
    }
  }

  /** `batch` staged as 3 doc_id-ranged parts with ascending mtimes —
    * a corpus-delta arrival folder (each part = one ingest tick).
    *
    * `maxFilesPerTrigger = 2` (r15, VERDICT r14 item 3): the ~30
    * consumers are stateless or stream-static probes whose oracles pin
    * the final drained set to a batch SQL result — tick-count-free by
    * construction — while each extra micro-batch pays fixed
    * plan/schedule/sink costs. Two data batches (parts 1+2 | part 3)
    * still exercise multi-tick arrival; the full selfcheck re-ran
    * green on every consumer. */
  private def rangedArrivals(s: SparkSession, name: String, dir: String,
      batch: DataFrame): DataFrame =
    landing(s, name, dir, s"$dir/documents.parquet", batch.schema,
        ascending = true, maxFilesPerTrigger = Some(2)) {
      Seq(Slice(batch.repartitionByRange(3, col("doc_id")), 3, i => s"part_${i + 1}.parquet"))
    }

  /** The documents table as ranged arrivals — the documents twin of
    * [[eventsStreamTimeParts]]. */
  private def documentsStreamParts(s: SparkSession, dir: String): DataFrame =
    rangedArrivals(s, "stream_docs_parts", dir, s.read.parquet(s"$dir/documents.parquet"))

  /** Run `body` on the RocksDB state store provider, which
    * transformWithState requires. */
  private def onRocksDb[T](s: SparkSession)(body: => T): T =
    graft.GraftSession.withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run `build`'s streaming output to a per-drain parquet directory via
    * foreachBatch, drain with AvailableNow, read the result back.
    *
    * foreachBatch-to-parquet instead of a memory sink: a memory sink pins
    * every drained row in the DRIVER heap behind a temp view that is never
    * dropped — 88 oracle queries × 2 bench iterations accreted result sets
    * until suite runs spent more time in GC than in plans (the BENCH_r04
    * inflation). Parquet keeps results off-heap, and foreachBatch (unlike
    * the parquet streaming sink, which is append-only) supports Complete
    * mode: each Complete batch rewrites the full result, each Append batch
    * adds its finalized rows, so the directory's final contents equal the
    * memory sink's table in both modes. */
  private def drain(s: SparkSession, mode: OutputMode)(df: DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val out = Paths.get(System.getProperty("java.io.tmpdir"), "graft_stream_drain",
      s.sparkContext.applicationId, s"sink_${nameCounter.incrementAndGet()}")
    val schema = df.schema
    val saveMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    // streaming plan-shape capture (VERDICT r12 item 3): the analyzed
    // plan of the PRE-DRAIN streaming frame — watermark placement,
    // stateful-operator set — is what the batch-side PLANS.json gate
    // can't see; recorded here (no-op unless a snapshot run enabled it)
    graft.tools.StreamPlanCapture.record(df, mode.toString)
    // first-batch/steady split (VERDICT r12 item 4) — no-op unless the
    // bench enabled it; `drainT0` is set immediately before start()
    val drainT0 = new java.util.concurrent.atomic.AtomicLong
    val firstDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writeBatch: (Dataset[Row], Long) => Unit =
      (batch, _) => {
        // NOTE (r14): coalesce(1) here was measured ~25% SLOWER per
        // drain (s12 4.11→5.15 s, s20 3.85→5.25 s iso): coalesce is a
        // narrow dependency, so it folds the whole final stage —
        // INCLUDING the 8 state-store partitions upstream of the sink —
        // into one task, serializing per-batch state work to save a few
        // near-empty part files. Kept the per-partition write.
        batch.write.mode(saveMode).parquet(out.toString)
        if (StreamDrainStats.active) {
          StreamDrainStats.addBatch()
          if (firstDone.compareAndSet(false, true))
            StreamDrainStats.addFirstBatch(System.nanoTime() - drainT0.get)
        }
      }
    // State-partition sizing (VERDICT r06 item 4): each stateful operator
    // opens one state store PER SHUFFLE PARTITION PER MICRO-BATCH, so a
    // multi-batch drain pays partitions × operators × batches store
    // initializations regardless of data volume — measured on s19 at
    // sf0.1: 14.3 s at 32 partitions, 7.1 s at 16, 4.4 s at 8, 3.6 s at 4,
    // a pure linear overhead. Stateful operators BIND the partition count
    // at the query's first batch, so it is set here (fresh checkpoint per
    // drain) and restored after the drain — batch-side post-processing
    // keeps the session's parallelism. At production scale this is sized
    // to state VOLUME (rows per store must fit an executor), not to core
    // count — 8 holds every fixture SF with room to spare.
    val q = graft.GraftSession.withConf(s, "spark.sql.shuffle.partitions", "8") {
      drainT0.set(System.nanoTime())
      val started = df.writeStream
        .foreachBatch(writeBatch)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      started.awaitTermination()
      started
    }
    // a drained stream with zero batches writes nothing — return empty
    if (Files.exists(out)) s.read.schema(schema).parquet(out.toString)
    else s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** s01/s11 shared: q19's hourly tumbling-window counts and exact sums
    * over an event stream, drained in Complete mode. */
  private def hourlyWindows(s: SparkSession, events: DataFrame): DataFrame = {
    val agg = events
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
    drain(s, OutputMode.Complete())(agg)
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("n_events"), col("sum_value"))
      .orderBy("ws_us")
  }

  /** s02/s12 shared: q20's 10-minute-gap sessions of an event stream
    * under a 0-second watermark ([[sessionize]]), drained in order. */
  private def streamSessions(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val evs = events
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ts_t")).as[Ev]
    drain(s, OutputMode.Append())(sessionize(evs).toDF())
      .orderBy("user_id", "session_id")
  }

  /** s18/s21 shared: the time-ranged event parts under a 0-second
    * watermark, typed for the per-user string walkers. */
  private def transEvents(s: SparkSession, dir: String): Dataset[TransEv] = {
    import s.implicits._
    eventsStreamTimeParts(s, dir)
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("ts_t"))
      .as[TransEv]
  }

  /** s04/s08/s31 shared: the watermarked stream-stream interval join of
    * `purchases` with the same user's `views` in the hour before, under
    * `joinType`, drained as (purchase_id, view_id, p_us, v_us). */
  private def viewPurchaseJoin(s: SparkSession, views: DataFrame,
      purchases: DataFrame, joinType: String): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_us").as("v_us"), col("ts_t").as("v_t"))
      .withWatermark("v_t", "10 minutes")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"), col("ts_t").as("p_t"))
      .withWatermark("p_t", "10 minutes")
    val joined = p.join(v,
      col("p_user") === col("v_user")
        && col("v_t") <= col("p_t")
        && col("v_t") >= col("p_t") - expr("INTERVAL 1 HOUR"),
      joinType)
    drain(s, OutputMode.Append())(
      joined.select("purchase_id", "view_id", "p_us", "v_us"))
  }

  /** s27/s28 shared: an event stream typed as per-user spend in cents. */
  private def spendEvents(s: SparkSession, events: DataFrame): Dataset[SpendEv] = {
    import s.implicits._
    events.select(col("user_id"), col("ts_us"),
      expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"),
      col("ts_t")).as[SpendEv]
  }

  /** s27/s28/s29 shared: drain a per-user processor's output in user
    * order. */
  private def drainByUser(s: SparkSession, out: Dataset[_]): DataFrame =
    drain(s, OutputMode.Append())(out.toDF()).orderBy("user_id")

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- s01
    // Streaming tumbling window: watermarked event-time aggregation.
    // Complete output mode so the single AvailableNow batch emits every
    // window (append would hold windows open behind the final watermark).
    // Oracle: identical to q19's.
    QueryDef(
      "s01_stream_tumbling_window",
      (s, dir) => {
        hourlyWindows(s, eventsStream(s, dir))
      },
      Some(graft.operators.Relational.tumblingWindowOracle)),

    // ---------------------------------------------------------------- s02
    // Streaming sessionization via flatMapGroupsWithState — the custom
    // stateful operator surface (SURVEY §2.9 "stateful streaming ops").
    // Same 10-minute-gap semantics as q20. State lifecycle is the one
    // you'd run continuously at 100 TB: per user, ONLY the open session is
    // held (closed sessions emit immediately), with an event-time timeout
    // at last_event + gap — once the watermark passes that, the open
    // session can never extend, so it is emitted and the state CLEARED.
    // The drain's far-future sentinel advances the final watermark so
    // every open tail flushes; output matches q20's batch oracle exactly.
    QueryDef(
      "s02_stream_sessionization",
      (s, dir) => {
        streamSessions(s, eventsStream(s, dir, flushSentinel = true))
      },
      Some(graft.operators.Cdc.sessionsOracle)),

    // ---------------------------------------------------------------- s03
    // Streaming dedup under replay: the source delivers every event TWICE
    // (an at-least-once source replaying); dedup on the event key restores
    // exactly-once counts — the replay-convergence pattern the transfer
    // pipeline's DLQ/job_id dedup relies on (SURVEY §7.4).
    // `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): a
    // watermark only bounds dedup state when Spark may evict keys older
    // than it — plain dropDuplicates on a non-event-time key retains every
    // key forever (OOM in a continuous 100 TB deployment). Replays of an
    // at-least-once source arrive within the delay window by definition,
    // so the dedup guarantee is unchanged. Oracle: single-delivery counts.
    QueryDef(
      "s03_stream_dedup_replay",
      (s, dir) => {
        val agg = eventsStream(s, dir, copies = 2)
          .withWatermark("ts_t", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"))
        drain(s, OutputMode.Complete())(agg)
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---------------------------------------------------------------- s04
    // Watermarked stream-stream interval join: each purchase joined to
    // the same user's views in the preceding hour. Inner joins emit
    // matches as they form; the watermark + time-range condition bound
    // the view-side state. Oracle: the equivalent batch interval join.
    QueryDef(
      "s04_stream_stream_join",
      (s, dir) => {
        val base = eventsStream(s, dir)
        viewPurchaseJoin(s, base.filter(col("event_type") === "view"),
            base.filter(col("event_type") === "purchase"), "inner")
          .orderBy("purchase_id", "view_id")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events)
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.us AS p_us, v.us AS v_us
        FROM e p JOIN e v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.us <= p.us AND v.us >= p.us - 3600000000
        ORDER BY purchase_id, view_id""")),

    // ---------------------------------------------------------------- s05
    // Stream-static enrichment join — the streaming twin of the config
    // lookup (SURVEY §2.3/J1) generalized to a real dimension: the event
    // stream joins the static `customer` dim and aggregates per tumbling
    // window × market segment (stateless — no join state to watermark,
    // unlike s04); the static side's SCAN re-executes each micro-batch,
    // but over the file listing captured at query planning — an in-place
    // rewrite of the dimension breaks the next batch and appended files
    // are invisible (StaticRefreshSpec pins this). A dimension that must
    // refresh in-flight is re-read inside foreachBatch (s10's pattern)
    // or served by a snapshot-isolated table format.
    // NO broadcast() hint: `customer` scales with SF, and a
    // forced broadcast of an SF-scaling table OOMs the executors at 100×
    // (the q03/q07 discipline). The planner's size threshold broadcasts
    // it while it is genuinely small and falls back to a shuffled join
    // once it is not.
    QueryDef(
      "s05_stream_static_enrich",
      (s, dir) => {
        val cust = graft.Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val agg = eventsStream(s, dir)
          .join(cust, col("user_id") === col("c_custkey"))
          .withWatermark("ts_t", "1 hour")
          .groupBy(window(col("ts_t"), "1 hour"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"), Exact.dsum(col("value")).as("sum_value"))
        drain(s, OutputMode.Complete())(agg)
          .select(unix_micros(col("window.start")).as("ws_us"),
            col("c_mktsegment"), col("n_events"), col("sum_value"))
          .orderBy("ws_us", "c_mktsegment")
      },
      Some("""
        SELECT epoch_us(date_trunc('hour', CAST(e.ts AS TIMESTAMP))) AS ws_us,
               c.c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
        ORDER BY ws_us, c_mktsegment""")),

    // ---------------------------------------------------------------- s06
    // Streaming ingest dedup — the streaming twin of q65: arriving
    // records are admitted only if their digest is NOT in the static
    // already-ingested corpus (events with event_id ≡ 0 mod 3). A
    // stream-static LEFT ANTI join is stateless — the corpus scan
    // re-executes per micro-batch (over its planning-time file listing;
    // see StaticRefreshSpec and the s05 note) and nothing is held in
    // state stores, so unlike the stream-stream shapes (s03/s04) there
    // is no watermark to manage; at 100 TB the corpus digest set
    // shuffles once per micro-batch on the 32-byte key and the stream
    // never re-scans.
    QueryDef(
      "s06_stream_ingest_dedup",
      (s, dir) => {
        val corpus = graft.Tables(s, dir, "events")
          .filter(col("event_id") % 3 === 0)
          .select(sha2(col("event_id").cast("string"), 256).as("h"))
          .distinct()
        drain(s, OutputMode.Complete())(
          ingestDedup(eventsStream(s, dir), corpus))
          .orderBy("event_type")
      },
      // digest membership == id membership (the hash is the shuffle-key
      // mechanism, not the semantics)
      Some("""
        SELECT event_type, COUNT(*) AS n_admitted,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_id % 3 <> 0
        GROUP BY event_type
        ORDER BY event_type""")),

    // ---------------------------------------------------------------- s07
    // Streaming quality filter — the streaming face of q77: documents
    // arrive on a file stream and each is labeled with its first failing
    // curation rule, fully STATELESS (append mode, no watermark, no
    // state stores — the per-row rules use only codegen'd built-ins:
    // split/size/array_distinct/regexp_replace; no interpreted HOF
    // lambdas, no per-doc frequency aggregation). The top-word-dominance
    // rule needs a word-frequency map, which is an aggregation — in a
    // continuous deployment that subset runs as a per-micro-batch batch
    // aggregate (foreachBatch), exactly like q77; the stateless subset
    // here is what filters AT ingest. Per-reason counts are rolled up
    // from the drained sink.
    QueryDef(
      "s07_stream_quality_filter",
      (s, dir) => {
        val labeled = documentsStream(s, dir)
          .withColumn("w", split(col("text"), " "))
          .withColumn("n", size(col("w")).cast("long"))
          .withColumn("sum_len",
            length(regexp_replace(col("text"), " ", "")).cast("long"))
          .withColumn("mean_len_micro", expr("sum_len * 1000000 div n"))
          .withColumn("ttr_permille",
            expr("cast(size(array_distinct(w)) AS BIGINT) * 1000 div n"))
          .withColumn("reject_reason",
            when(col("n") < CurationRules.MinWords, "too_short")
              .when(col("mean_len_micro") < CurationRules.MinMeanLenMicro, "short_words")
              .when(col("mean_len_micro") > CurationRules.MaxMeanLenMicro, "long_words")
              .when(col("ttr_permille") < CurationRules.MinTtrPermille, "low_type_token_ratio")
              .otherwise("keep"))
          .select("doc_id", "reject_reason")
        drain(s, OutputMode.Append())(labeled)
          .groupBy("reject_reason")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_checksum"))
          .orderBy("reject_reason")
      },
      Some(s"""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n,
                 length(replace(text, ' ', '')) AS sum_len,
                 len(list_distinct(string_split(text, ' '))) AS nd
          FROM documents),
        r AS (
          SELECT doc_id,
                 CASE WHEN n < ${CurationRules.MinWords} THEN 'too_short'
                      WHEN sum_len * 1000000 // n < ${CurationRules.MinMeanLenMicro} THEN 'short_words'
                      WHEN sum_len * 1000000 // n > ${CurationRules.MaxMeanLenMicro} THEN 'long_words'
                      WHEN nd * 1000 // n < ${CurationRules.MinTtrPermille} THEN 'low_type_token_ratio'
                      ELSE 'keep' END AS reject_reason
          FROM m)
        SELECT reject_reason, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM r
        GROUP BY reject_reason
        ORDER BY reject_reason""")),

    // ---------------------------------------------------------------- s08
    // Watermarked stream-stream LEFT OUTER interval join — s04's shape
    // plus the null-emitting side: a purchase with NO view in its
    // preceding hour must still emit (with null view columns), which a
    // streaming engine can only do once the watermark proves no matching
    // view can arrive. The far-future flush sentinel (same mechanism as
    // s02) advances both sides' watermarks past every real row at drain
    // end, so ALL unmatched purchases flush deterministically; sentinel
    // rows pass BOTH side filters via `user_id < 0` (a pre-watermark
    // event_type filter would drop them before they reach the watermark
    // operator) and are removed AFTER the drain, batch-side: a sentinel
    // filter inside the streaming plan references only left-side columns,
    // so Catalyst pushes it below the purchase-side watermark operator —
    // the sentinel then never reaches that watermark node, the global
    // watermark stalls at maxPurchaseTs − delay, and the LAST purchase's
    // unmatched row is never evicted (observed: exactly one row short).
    // State stays bounded by the same time-range condition as s04. Null
    // sort order is pinned NULLS FIRST on both engines — their ASC
    // defaults disagree.
    //
    // Cost bound (VERDICT r10 item 4, measured r11): s08's wall time is
    // fixed family overhead × 2 micro-batches (the left-outer flush
    // batch is inherent — unmatched purchases can only emit once the
    // watermark proves no view can arrive) + the symmetric-join state
    // commit. Same-run controls pin it: when s08 read 2.81 s vs its
    // 1.56 s floor (1.8×), the trivial s01 read 1.31 vs 0.77 (1.7×) and
    // the inner twin s04 3.01 vs 1.58 (1.9×) — the whole family rides
    // one environmental ratio, so a 2× floor reading here is shared
    // machine noise, not a plan problem. State partitions are NOT the
    // lever at this tier: 8 → 2 moved s08 by <2% (2.81 vs 2.85).
    QueryDef(
      "s08_stream_left_outer_join",
      (s, dir) => {
        val base = eventsStream(s, dir, flushSentinel = true)
        viewPurchaseJoin(s,
            base.filter(col("event_type") === "view" || col("user_id") < 0),
            base.filter(col("event_type") === "purchase" || col("user_id") < 0),
            "left_outer")
          .filter(col("purchase_id") >= 0) // sentinel rows, batch-side
          .orderBy(col("purchase_id"), col("view_id").asc_nulls_first)
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events),
        p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        v AS (SELECT * FROM e WHERE event_type = 'view')
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.us AS p_us, v.us AS v_us
        FROM p LEFT JOIN v
          ON p.user_id = v.user_id
         AND v.us <= p.us AND v.us >= p.us - 3600000000
        ORDER BY purchase_id, view_id NULLS FIRST""")),

    // ---------------------------------------------------------------- s09
    // Streaming hopping windows — the streaming twin of q75, same oracle:
    // 1-hour windows every 30 minutes, each event fanned to exactly 2
    // windows by the native window(ts, size, hop) generator. Complete
    // mode like s01: the single AvailableNow batch emits every window
    // (append would hold windows open behind the final watermark); the
    // watermark still bounds state in a continuous deployment.
    QueryDef(
      "s09_stream_hopping_window",
      (s, dir) => {
        val agg = eventsStream(s, dir)
          .withWatermark("ts_t", "1 hour")
          .groupBy(window(col("ts_t"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            Exact.dsum(col("value")).as("sum_value"))
        drain(s, OutputMode.Complete())(agg)
          .select(unix_micros(col("window.start")).as("ws_us"),
            col("n_events"), col("sum_value"))
          .orderBy("ws_us")
      },
      Some(graft.operators.Profiling.hoppingWindowOracle)),

    // ---------------------------------------------------------------- s10
    // Streaming CDC apply — foreachBatch + SCD1 upsert (q60's Cdc.upsert
    // driven by a stream): each micro-batch is first reduced to its
    // latest row per key (a keyed window inside the batch), then merged
    // into the versioned target; the final table is last-writer-wins per
    // user. Versioned directories (v0, v1, …) because a parquet dir
    // cannot be overwritten while it is being read — each batch reads
    // vN and writes vN+1, which is also what makes a failed batch
    // harmless (the pointer only advances on success). Cross-batch
    // ordering rides the source's per-key delivery order (the Kafka
    // guarantee); an out-of-order source would add a ts guard to the
    // merge condition. At 100 TB the upsert is q60's single full-outer
    // equi-join per batch — no state stores, the table IS the state.
    QueryDef(
      "s10_stream_cdc_upsert",
      (s, dir) => {
        import java.nio.file.{Files, Paths}
        import org.apache.spark.sql.expressions.Window
        val base = Paths.get(System.getProperty("java.io.tmpdir"),
          "graft_stream_upsert", s.sparkContext.applicationId,
          s"run_${nameCounter.incrementAndGet()}")
        Files.createDirectories(base)
        val cols = Seq("user_id", "event_id", "ts_us", "event_type", "value")
        // v0: empty target with the merge schema
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE")
        s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
          .write.mode("overwrite").parquet(base.resolve("v0").toString)
        var version = 0
        val applyBatch: (Dataset[Row], Long) => Unit = (batch, _) => {
          val cur = s.read.parquet(base.resolve(s"v$version").toString)
          // rank on the RAW nanosecond ts (not the µs-truncated ts_us):
          // the oracle orders by full-precision ts, and two same-user
          // events inside one microsecond would otherwise tie-break
          // differently between the engines
          val w = Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)
          val latest = batch
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(cols.map(col): _*)
          graft.operators.Cdc.upsert(cur, latest, Seq("user_id"))
            .select(cols.map(col): _*)
            .write.mode("overwrite").parquet(base.resolve(s"v${version + 1}").toString)
          version += 1
          // retention: "the table IS the state" would otherwise keep one
          // full table copy per micro-batch forever. Only the current
          // pointer is ever read, so once v(N+1) committed, prune
          // v(N-1) — keeping current + one rollback version bounds
          // storage at 2× the table in a continuous deployment.
          if (version >= 2) {
            val old = base.resolve(s"v${version - 2}")
            if (Files.exists(old)) {
              import scala.jdk.CollectionConverters._
              Files.walk(old).iterator().asScala.toSeq.reverse
                .foreach(Files.deleteIfExists(_))
            }
          }
        }
        val src = eventsStream(s, dir)
          .select((col("ts") +: cols.map(col)): _*)
        // plan-shape capture for this bespoke (non-drain()) sink path
        graft.tools.StreamPlanCapture.record(src, "ForeachBatch")
        val q = src
          .writeStream.foreachBatch(applyBatch)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(base.resolve(s"v$version").toString)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("ts_us").as("last_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH r AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_type, us AS last_us
        FROM r
        WHERE rn = 1
        ORDER BY user_id""")),

    // ---------------------------------------------------------------- s13
    // CHAINED stateful operators — exact distinct users per hour window
    // as one streaming query: a watermark-bounded dedup on (window,
    // user) feeds a windowed count. Two state stores in one plan (multi-
    // stateful-operator support), both evicted by the same watermark;
    // plain streaming aggregation cannot express COUNT(DISTINCT) — this
    // chain is how it's done exactly (q46's HLL is the approximate
    // alternative). Append mode is REQUIRED for chained stateful ops:
    // windows emit once the watermark passes their end, which the flush
    // sentinel guarantees for every real window — the sentinel's own
    // far-future window (and its dedup row) stays in state and is never
    // emitted, so no sentinel filtering is needed anywhere.
    QueryDef(
      // Cost bound (VERDICT r10 item 4, measured r11): two stateful
      // operators (within-watermark dedup + windowed count) and the
      // append-mode flush batch put s13's inherent shape at 2 batches ×
      // 2 stores; its 2× floor readings track the same family-wide
      // environmental ratio as s08's (see the control table there —
      // s13 2.34 s vs 1.16 floor in the run where trivial s01 ran 1.7×
      // ITS floor). Complete mode would drop the flush batch but
      // re-emits every window each batch — unbounded at 100 TB, the
      // wrong trade; append + watermark is the scale-correct shape.
      "s13_stream_windowed_distinct",
      (s, dir) => {
        val agg = eventsStream(s, dir, flushSentinel = true)
          .withWatermark("ts_t", "1 hour")
          .withColumn("ws_us", expr("(ts_us div 3600000000) * 3600000000"))
          .dropDuplicatesWithinWatermark("ws_us", "user_id")
          .groupBy(window(col("ts_t"), "1 hour"))
          .agg(count(lit(1)).as("n_users"))
        drain(s, OutputMode.Append())(agg)
          .select(unix_micros(col("window.start")).as("ws_us"), col("n_users"))
          .orderBy("ws_us")
      },
      Some("""
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
        ORDER BY ws_us""")),

    // ---------------------------------------------------------------- s11
    // Multi-micro-batch windowed aggregation: every other stream here
    // drains in ONE AvailableNow batch, which never exercises state
    // surviving a batch boundary. s11 stages the events table split
    // into 4 parquet parts and reads with maxFilesPerTrigger=1, so the
    // SAME q19 aggregation runs across ≥4 micro-batches — windows
    // accumulate partial counts across batches in the state store and
    // only the final Complete emission matches the oracle. This is the
    // bounded-batch-size (backpressure) configuration a production
    // deployment runs with; StreamingSpec asserts the batch count.
    QueryDef(
      "s11_stream_multibatch_window",
      (s, dir) => {
        hourlyWindows(s, eventsStreamParts(s, dir))
      },
      Some(graft.operators.Relational.tumblingWindowOracle)),

    // ---------------------------------------------------------------- s12
    // Multi-micro-batch sessionization — the strongest state-lifecycle
    // test in the suite: events arrive in 4 time-ordered micro-batches
    // (one file each), the 0-second watermark advances BETWEEN batches,
    // and s02's flatMapGroupsWithState operator must close sessions
    // mid-stream as their event-time timeouts pass — emission timing
    // changes, the emitted set must not. StreamingSpec asserts output
    // actually lands in >= 2 distinct batches; the oracle (q20's) pins
    // the final set. At 100 TB this IS the continuous deployment: the
    // watermark advances with every batch, never only at a drain.
    QueryDef(
      "s12_stream_multibatch_sessions",
      (s, dir) => {
        streamSessions(s, eventsStreamTimeParts(s, dir))
      },
      Some(graft.operators.Cdc.sessionsOracle)),

    // ---------------------------------------------------------------- s15
    // Streaming approximate distinct — the SCALE path s13's exact chain
    // trades against: streaming aggregation cannot express
    // COUNT(DISTINCT) (unbounded per-group state), but HLL sketches
    // merge, so approx_count_distinct runs as an ordinary windowed
    // streaming aggregate with O(sketch) state per window. The accuracy
    // CONTRACT is checked q46-style: the drained approximations join the
    // batch-exact per-window distincts and must land within
    // max(2, 5%) of exact. The sketch runs at rsd=0.01 (a few KB of
    // state per window — still O(sketch), which is the whole trade):
    // per-window cardinalities here are ~10-60, where a coarse
    // rsd=0.05 sketch showed +/-3 outliers across 720 windows and a
    // naive 5%-only bound already fails on a +/-1 deviation. Oracle
    // states the exact counts + the contract booleans.
    QueryDef(
      "s15_stream_approx_distinct",
      (s, dir) => {
        val approx = drain(s, OutputMode.Complete())(
          eventsStream(s, dir)
            .withWatermark("ts_t", "1 hour")
            .groupBy(window(col("ts_t"), "1 hour"))
            .agg(approx_count_distinct(col("user_id"), 0.01).as("n_approx")))
          .select(unix_micros(col("window.start")).as("ws_us"), col("n_approx"))
        val exact = graft.Tables.events(s, dir)
          .groupBy(expr("(ts_us div 3600000000) * 3600000000").as("ws_us"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        approx.join(exact, "ws_us")
          .select(col("ws_us"), col("n_exact"),
            (abs(col("n_approx") - col("n_exact"))
              <= greatest(lit(2.0), col("n_exact") * 0.05)).as("within_bound"))
          .orderBy("ws_us")
      },
      Some("""
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
               COUNT(DISTINCT user_id) AS n_exact,
               TRUE AS within_bound
        FROM events
        GROUP BY 1
        ORDER BY ws_us"""))
  ,

    // ---------------------------------------------------------------- s16
    // Streaming z-score anomaly detection against a STATIC baseline —
    // the monitoring shape every ingest pipeline runs: per-type
    // mean/variance are profiled from the historical batch table, and
    // arriving events are flagged when |x − μ| > 1.5σ. Fully STATELESS
    // (append mode, no watermark, no state stores): the stream side is
    // a per-row filter against the joined baseline, so a 1000-executor
    // deployment scales it like a map.
    // The baseline join is an explicit broadcast: per-TYPE baselines
    // are bounded cardinality at every SF (unlike s05's customer dim —
    // that lesson holds), and streaming plans can't rely on AQE to
    // discover that at runtime.
    // Exactness: the z-test is stated in integer cents with the square
    // multiplied out — 4·(x−μ)² > 9·σ² avoids sqrt and floats
    // entirely; μ and σ² use integer-div truncation, identically in
    // both engines (all quantities non-negative).
    QueryDef(
      "s16_stream_zscore_anomaly",
      (s, dir) => {
        val cents = (c: org.apache.spark.sql.Column) =>
          (Exact.dec2(c) * 100).cast("long")
        val baseline = graft.Tables(s, dir, "events")
          .select(col("event_type"), cents(col("value")).as("xc"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("xc").as("s_c"),
            sum(expr("xc * xc")).as("s2_c"))
          .withColumn("mean_c", expr("s_c div n"))
          .withColumn("var_c", expr("s2_c div n - mean_c * mean_c"))
          .select("event_type", "mean_c", "var_c")
        val flagged = eventsStream(s, dir)
          .select(col("event_id"), col("event_type"), cents(col("value")).as("xc"))
          .join(broadcast(baseline), "event_type")
          .filter(expr("4 * (xc - mean_c) * (xc - mean_c) > 9 * var_c"))
        drain(s, OutputMode.Append())(flagged)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_anomalies"),
            sum("event_id").as("id_checksum"),
            min("xc").as("min_cents"), max("xc").as("max_cents"))
          .orderBy("event_type")
      },
      Some("""
        WITH c AS (
          SELECT event_id, event_type,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc
          FROM events),
        b AS (
          SELECT event_type,
                 SUM(xc) // COUNT(*) AS mean_c,
                 SUM(xc * xc) // COUNT(*)
                   - (SUM(xc) // COUNT(*)) * (SUM(xc) // COUNT(*)) AS var_c
          FROM c GROUP BY event_type)
        SELECT event_type,
               COUNT(*) AS n_anomalies,
               CAST(SUM(event_id) AS BIGINT) AS id_checksum,
               CAST(MIN(xc) AS BIGINT) AS min_cents,
               CAST(MAX(xc) AS BIGINT) AS max_cents
        FROM c JOIN b USING (event_type)
        WHERE 4 * (xc - mean_c) * (xc - mean_c) > 9 * var_c
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // ---------------------------------------------------------------- s17
    // Streaming funnel — q108's sequence semantics as a LIVE per-user
    // state machine ([[funnel]]): three longs of state per user, refined
    // greedily over the time-ordered multi-batch stream, classified and
    // EMITTED by event-time timeout once the watermark proves the 1-hour
    // conversion window closed. This is the streaming shape sessionize
    // (s02/s12) cannot cover: stage progression depends on ORDER ACROSS
    // types, not gaps — and it must match the batch SQL row for row,
    // which is the whole correctness claim.
    // Scale: state is O(users), three longs each, evicted at timeout;
    // the stream shuffles once on user_id into the state operator.
    QueryDef(
      "s17_stream_funnel",
      (s, dir) => {
        import s.implicits._
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .select(col("user_id"), col("ts_us"), col("event_type"), col("ts_t"))
          .as[FunnelEv]
        drain(s, OutputMode.Append())(funnel(evs).toDF())
          .groupBy("final_stage")
          .agg(count(lit(1)).as("n_users"), sum("user_id").as("user_checksum"))
          .orderBy("final_stage")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
          FROM events),
        v AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT ev.user_id, v.t1, MIN(ts_us) AS t2
              FROM ev JOIN v ON ev.user_id = v.user_id
              WHERE event_type = 'click' AND ts_us > v.t1
              GROUP BY ev.user_id, v.t1),
        p AS (SELECT ev.user_id, c.t1, c.t2, MIN(ts_us) AS t3
              FROM ev JOIN c ON ev.user_id = c.user_id
              WHERE event_type = 'purchase' AND ts_us > c.t2
              GROUP BY ev.user_id, c.t1, c.t2),
        cls AS (
          SELECT v.user_id,
                 CASE WHEN c.t2 <= v.t1 + 3600000000
                       AND p.t3 <= v.t1 + 3600000000 THEN 'purchase'
                      WHEN c.t2 <= v.t1 + 3600000000 THEN 'click'
                      ELSE 'view' END AS final_stage
          FROM v
          LEFT JOIN c ON v.user_id = c.user_id
          LEFT JOIN p ON v.user_id = p.user_id)
        SELECT final_stage, COUNT(*) AS n_users,
               CAST(SUM(user_id) AS BIGINT) AS user_checksum
        FROM cls
        GROUP BY final_stage
        ORDER BY final_stage"""))
  ,

    // ---------------------------------------------------------------- s18
    // Streaming event-transition matrix — q116's lead() window as a LIVE
    // per-user walker ([[transitions]]): lead() does not exist in
    // streaming (it would need the future), but the same pairs fall out
    // of one string of state per user — each arriving event emits
    // (last type → this type) and replaces the state. Emission is
    // immediate (append mode, no timeout, no watermark-held rows);
    // the drained pair stream is rolled up into q116's exact report and
    // must match its batch oracle row for row.
    QueryDef(
      "s18_stream_transitions",
      (s, dir) => {
        val pairs = drain(s, OutputMode.Append())(
          transitions(transEvents(s, dir)).toDF())
        val counted = pairs.groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
        counted
          .withColumn("from_total", sum("n").over(
            org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
          .withColumn("share_permille", expr("n * 1000 div from_total"))
          .orderBy("from_type", "to_type")
      },
      Some(graft.operators.EventAnalytics.transitionsOracle))
  ,

    // ---------------------------------------------------------------- s19
    // Streaming cohort retention — q109 live, completing the streaming
    // event-analytics trio (s17 funnel, s18 transitions): TWO chained
    // stateful operators (the s13 pattern). Stage 1 dedups activity to
    // one row per (user, day) with dropDuplicatesWithinWatermark — a
    // 25-hour watermark keeps each day-key alive exactly as long as a
    // duplicate can still arrive, then the store evicts it (bounded
    // state, unlike a plain dropDuplicates). Stage 2 holds ONE long per
    // user (the first-seen day = the cohort) and emits each deduped
    // activity row tagged with it, immediately. The drained rows roll
    // up into q109's exact retention triangle.
    QueryDef(
      "s19_stream_retention",
      (s, dir) => {
        import s.implicits._
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "25 hours")
          .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
            col("ts_t"))
          .dropDuplicatesWithinWatermark("user_id", "day")
          .as[DayEv]
        graft.operators.EventAnalytics.retentionReport(
          drain(s, OutputMode.Append())(cohorts(evs).toDF()))
      },
      Some(graft.operators.EventAnalytics.retentionOracle))
  ,

    // ---------------------------------------------------------------- s20
    // Streaming quantile-sketch BUILD — q127's daily histogram stage as
    // a continuous job: a watermarked 1-day tumbling window counts
    // integer-cents bins per (day, event_type), each day's histogram
    // emitting (and its state evicting) as the watermark passes the day
    // boundary. State is O(open-day × types × bins) — kilobytes — and
    // the drained sketches feed q127's exact merge + percentile
    // read-off (ScaleTechniques.quantileReadoff), so the streamed
    // build must reproduce the batch rollup bit-for-bit (same oracle).
    // Windows align with q127's epoch-day indexes because the session
    // pins UTC.
    QueryDef(
      "s20_stream_quantile_hist",
      (s, dir) => {
        val daily = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .groupBy(window(col("ts_t"), "1 day"), col("event_type"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
              .as("bin"))
          .agg(count(lit(1)).as("cnt"))
          .select(expr("unix_micros(window.start) div 86400000000").as("day"),
            col("event_type"), col("bin"), col("cnt"))
        graft.operators.ScaleTechniques.quantileReadoff(
          drain(s, OutputMode.Append())(daily))
      },
      Some(graft.operators.ScaleTechniques.quantileHistOracle))
  ,

    // ---------------------------------------------------------------- s21
    // Streaming complex-event processing — Flink CEP's role, on Spark:
    // q131's row patterns detected LIVE. Per user the running
    // event-type string is the state (s18's one-string shape); every
    // arriving event appends and fires each not-yet-fired pattern the
    // string now matches, at most once per (user, pattern), the moment
    // the completing event lands. Existential patterns are monotone, so
    // the drained match set must equal the batch MATCH_RECOGNIZE
    // emulation exactly — same oracle as q131.
    QueryDef(
      "s21_stream_cep",
      (s, dir) => {
        drain(s, OutputMode.Append())(cep(transEvents(s, dir)).toDF())
          .groupBy("pattern")
          .agg(count(lit(1)).as("n_users"),
            sum("user_id").as("user_id_sum"))
          .orderBy("pattern")
      },
      Some("""
        WITH seq AS (
          SELECT user_id,
                 string_agg(CASE event_type WHEN 'view' THEN 'v'
                     WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                     WHEN 'signup' THEN 's' ELSE 'e' END, ''
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS sq
          FROM events GROUP BY user_id),
        hits AS (
          SELECT 'error_burst' AS pattern, user_id,
                 regexp_matches(sq, 'e{3}') AS hit FROM seq
          UNION ALL SELECT 'funnel_adjacent', user_id,
                 regexp_matches(sq, 'vcp') FROM seq
          UNION ALL SELECT 'repeat_purchase', user_id,
                 regexp_matches(sq, 'pp') FROM seq
          UNION ALL SELECT 'signup_to_purchase', user_id,
                 regexp_matches(sq, 'sv.*p') FROM seq)
        SELECT pattern,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_users,
               CAST(SUM(CASE WHEN hit THEN user_id END) AS BIGINT)
                 AS user_id_sum
        FROM hits WHERE hit
        GROUP BY pattern
        ORDER BY pattern"""))
  ,

    // ---------------------------------------------------------------- s22
    // Streaming temporal table join — Flink's "FOR SYSTEM_TIME AS OF"
    // on Spark: arriving events join the SCD2 user-tier dimension on
    // key AND event-time validity (q113's batch as-of contract, live).
    // Every user starts 'basic'; even users upgrade to 'pro' at the
    // fixture's day-15 split, so a pro user's PRE-split events must
    // still bill as 'basic' — the mis-join an untimed dimension lookup
    // silently commits. The dim (with validity bounds computed once,
    // batch-side) broadcasts under the stream-static inner join, so
    // per-batch cost is a narrow probe; rollup happens post-drain.
    QueryDef(
      "s22_stream_temporal_join",
      (s, dir) => {
        val batchEv = graft.Tables.events(s, dir)
        val splitUs = batchEv
          .agg(((expr("min(ts_us) div 86400000000") + 15) * 86400000000L)
            .as("split_us"))
        val users = batchEv.select(col("user_id").as("u")).distinct()
        val far = 4611686018427387904L // 2^62, past any event time
        val dim = users.crossJoin(broadcast(splitUs))
          .select(col("u"), lit("basic").as("tier"), lit(0L).as("vf"),
            when(col("u") % 2 === 0, col("split_us")).otherwise(lit(far))
              .as("vt"))
          .unionByName(users.filter(col("u") % 2 === 0)
            .crossJoin(broadcast(splitUs))
            .select(col("u"), lit("pro").as("tier"),
              col("split_us").as("vf"), lit(far).as("vt")))
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .select(col("user_id"), col("ts_us"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("cents"))
        val joined = evs.join(broadcast(dim),
          evs("user_id") === dim("u")
            && evs("ts_us") >= dim("vf") && evs("ts_us") < dim("vt"))
          .select(col("user_id"), col("tier"), col("cents"))
        drain(s, OutputMode.Append())(joined)
          .groupBy("tier")
          .agg(count(lit(1)).as("n_events"),
            sum("cents").as("cents_sum"),
            countDistinct("user_id").as("n_users"))
          .orderBy("tier")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM events),
        sp AS (SELECT (MIN(ts_us) // 86400000000 + 15) * 86400000000
                 AS split_us FROM ev),
        users AS (SELECT DISTINCT user_id FROM ev),
        dim AS (
          SELECT user_id, 'basic' AS tier, CAST(0 AS BIGINT) AS vf,
                 CASE WHEN user_id % 2 = 0 THEN (SELECT split_us FROM sp)
                      ELSE CAST(4611686018427387904 AS BIGINT) END AS vt
          FROM users
          UNION ALL
          SELECT user_id, 'pro', (SELECT split_us FROM sp),
                 CAST(4611686018427387904 AS BIGINT)
          FROM users WHERE user_id % 2 = 0)
        SELECT tier, COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               COUNT(DISTINCT ev.user_id) AS n_users
        FROM ev JOIN dim ON ev.user_id = dim.user_id
          AND ev.ts_us >= vf AND ev.ts_us < vt
        GROUP BY tier
        ORDER BY tier"""))
  ,

    // ---------------------------------------------------------------- s23
    // Streaming TWAP — q146 live: per event_type, ONE last reading of
    // state; every arriving event closes the previous reading's holding
    // interval the moment it lands (no lead(), no lookahead — the
    // streaming formulation of interval weighting). The drained
    // (type, cents, Δt) rows roll up through q146's EventAnalytics.twapReport,
    // so the final table must hash-match q146's oracle bit for bit —
    // the open last interval per type is dropped by BOTH formulations.
    // State is 2 longs × |event types|, watermark-independent (the
    // sentinel only advances the clock; its row is filtered before the
    // stateful operator, after the watermark node has seen it).
    QueryDef(
      "s23_stream_twap",
      (s, dir) => {
        import s.implicits._
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .filter(col("event_id") >= 0) // drop the watermark sentinel
          .select(col("event_type"), col("event_id"), col("ts_us"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("vc"))
          .as[TwapEv]
        graft.operators.EventAnalytics.twapReport(
          drain(s, OutputMode.Append())(twapIntervals(evs).toDF()))
      },
      // q146's oracle verbatim: the stream/batch twins share the contract
      Some(graft.operators.EventAnalytics.twapOracle))
  ,

    // ---------------------------------------------------------------- s24
    // Streaming windowed heavy hitters — q140's two-pass discipline made
    // LIVE, with the state-bounding step a naive streaming top-k lacks:
    // pass 1 runs the Misra-Gries candidate sweep over the standing
    // batch table (superset of every φ-heavy key, ≤127 per partition);
    // pass 2 keeps TWO streaming aggregates — per-(window, key) counts
    // over the stream SEMI-FILTERED to the broadcast candidates (state
    // ≤ |candidates| rows per open 6 h window, instead of one row per
    // DISTINCT key — the difference between bounded and unbounded state
    // at 100 TB), and per-window totals over the unfiltered stream (one
    // row per window). Both drain append as the watermark closes each
    // window; the batch-side join + φ=5% share filter is exact because
    // candidate recounts are exact. Same skew-manufactured key stream
    // as q140: keys 0-6 carry ~7% of each window each, the tail is
    // all-unique, so exactly those seven are heavy in every window.
    QueryDef(
      "s24_stream_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val keyExpr =
          "CASE WHEN event_id % 4 < 2 THEN event_id % 7 ELSE event_id + 1000000 END"
        // WINDOW-PARTITIONED candidate sweep: a key can be heavy inside
        // one window yet rare globally, so the batch pass repartitions
        // by window before the per-partition MG summaries — all of a
        // window's rows land in one partition, and with ~W windows per
        // partition the size-511 summary keeps any key above
        // n_p/512 ≤ (W·N_w)/512 < φ·N_w for φ=5% while W < 25. The
        // exact oracle makes any residual recall miss a loud hash
        // failure, never silent data loss.
        val cand = graft.operators.ScaleTechniques.mgCandidates(
          s, graft.Tables.events(s, dir)
            .select(expr(keyExpr).cast("long").as("k"),
              expr("ts_us div 21600000000").as("w"))
            .repartition(col("w"))
            .select("k"), 511)
        // the sentinel flows UNFILTERED here (s13's discipline): append
        // emission needs the watermark to pass the last real window, and
        // a pre-agg filter gets pushed below the watermark node and
        // starves it. The sentinel's own far-future window never closes
        // (it is the max event time), so it never emits; its k=-1 row is
        // additionally outside the candidate set, and the final inner
        // join discards any totals-side window with no counts.
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .select(expr(keyExpr).cast("long").as("k"), col("ts_t"))
        // ONE streaming aggregate for counts AND totals (r14): non-
        // candidate keys fold into a single NULL tail bucket per window
        // (ADVICE r14 item 2: null, unlike the former -1000000 magic
        // key, can never collide with a real key under any future
        // keyExpr — groupBy puts all nulls in one group), so every
        // event lands in exactly one (window, k2) group and the
        // per-window total is the SUM over its groups — the former
        // second drain re-ran the whole 12-micro-batch pipeline just to
        // count rows per window. State bound is unchanged
        // (≤ |candidates|+1 rows per open window); the drained output
        // is identical algebra, so the oracle is untouched.
        val tallied = drain(s, OutputMode.Append())(
          evs.join(broadcast(cand.withColumn("is_cand", lit(true))),
              Seq("k"), "left")
            .withColumn("k2",
              when(col("is_cand"), col("k")).otherwise(lit(null).cast("long")))
            .groupBy(window(col("ts_t"), "6 hours"), col("k2"))
            .agg(count(lit(1)).as("cnt")))
          .select(unix_micros(col("window.start")).as("w_us"),
            col("k2"), col("cnt"))
        val counts = tallied.filter(col("k2").isNotNull)
          .select(col("w_us"), col("k2").as("k"), col("cnt"))
        val totals = tallied.groupBy("w_us")
          .agg(sum("cnt").as("n_total"))
        counts.join(broadcast(totals), "w_us")
          .filter(col("cnt") * 20 > col("n_total"))
          .select(col("w_us"), col("k"), col("cnt"),
            expr("cnt * 1000 div n_total").as("share_permille"))
          .orderBy("w_us", "k")
      },
      Some("""
        WITH kk AS (
          SELECT CASE WHEN event_id % 4 < 2 THEN event_id % 7
                      ELSE event_id + 1000000 END AS k,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000)
                   * 21600000000 AS w_us
          FROM events),
        c AS (SELECT w_us, k, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM kk GROUP BY w_us, k),
        t AS (SELECT w_us, CAST(COUNT(*) AS BIGINT) AS n_total
              FROM kk GROUP BY w_us)
        SELECT c.w_us, c.k, c.cnt, c.cnt * 1000 // t.n_total AS share_permille
        FROM c JOIN t ON c.w_us = t.w_us
        WHERE c.cnt * 20 > t.n_total
        ORDER BY c.w_us, c.k"""))
  ,

    // ---------------------------------------------------------------- s25
    // Streaming streak maintenance — q151's gaps-and-islands LIVE: five
    // longs of per-user state walk the consecutive-day runs as activity
    // arrives, and the final report emits by EVENT-TIME TIMEOUT (40
    // idle days — the streak-report-when-user-goes-quiet semantic),
    // fired here by the far-future sentinel after the drain. The state
    // never holds activity history — only the run counters — so a
    // year-active user costs the same 40 bytes as a one-day user.
    // Same oracle as q151: the drained reports filtered to streaks ≥ 3
    // must hash-match the batch island computation exactly.
    QueryDef(
      "s25_stream_streaks",
      (s, dir) => {
        import s.implicits._
        val evs = eventsStreamTimeParts(s, dir)
          .withWatermark("ts_t", "0 seconds")
          .select(col("user_id"),
            expr("ts_us div 86400000000").as("day"), col("ts_t"))
          .as[StreakEv]
        drain(s, OutputMode.Append())(streaks(evs).toDF())
          .filter(col("longest_streak") >= 3)
          .orderBy("user_id")
      },
      // q151's oracle verbatim: the stream/batch twins share the contract
      Some(graft.operators.EventAnalytics.streakOracle)),

    // ---------------------------------------------------------------- s26
    // Streaming distribution-drift monitor — the live twin of q167's
    // total-variation distance: per event-time DAY, the value histogram
    // ($50-wide buckets, bounded cardinality) accumulates as a windowed
    // streaming aggregate, and each day's distribution is scored against
    // the static full-corpus reference in exact ppm:
    //   TVD(day) = Σᵢ |cᵢ·n_ref − rᵢ·n_day| div (2·n_day·n_ref).
    // The streaming side holds only (day × bucket) counts — watermark-
    // bounded, a few hundred longs of state regardless of event volume;
    // the reference histogram is a slim batch aggregate joined broadcast.
    // Missing buckets count as zero via a days×reference grid (the
    // reference spans the corpus, so it covers every bucket any day
    // has). A day whose mix matches the corpus scores near 0; the
    // fixture's uniform generator keeps every day low — the oracle
    // pins the exact values, drift or not.
    QueryDef(
      "s26_stream_dist_drift",
      (s, dir) => {
        val cells = eventsStream(s, dir)
          .withColumn("vc",
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .withWatermark("ts_t", "1 hour")
          .groupBy(window(col("ts_t"), "1 day").as("w"),
            expr("vc div 5000").as("bucket"))
          .agg(count(lit(1)).as("c"))
        val drained = drain(s, OutputMode.Complete())(cells)
          .select(unix_micros(col("w.start")).as("day_us"),
            col("bucket"), col("c"))
        val ref = graft.Tables.events(s, dir)
          .select(expr(
            "cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 5000")
            .as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("r"))
        val nref = ref.agg(sum("r").as("n_ref"))
        val days = drained.groupBy("day_us").agg(sum("c").as("n_day"))
        days.crossJoin(broadcast(ref)) // days × ~10 ref buckets
          .join(drained, Seq("day_us", "bucket"), "left")
          .na.fill(0L, Seq("c"))
          .crossJoin(broadcast(nref)) // single-row total (q58/q71)
          .groupBy("day_us", "n_day", "n_ref")
          .agg(sum(abs(col("c") * col("n_ref") - col("r") * col("n_day")))
            .as("num"))
          .select(col("day_us"), col("n_day"),
            expr("num * 1000000 div (2 * n_day * n_ref)").as("tvd_ppm"))
          .orderBy("day_us")
      },
      Some("""
        WITH e AS (
          SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                   * 86400000000 AS day_us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   // 5000 AS bucket
          FROM events),
        ref AS (SELECT bucket, COUNT(*) AS r FROM e GROUP BY bucket),
        nref AS (SELECT SUM(r) AS n_ref FROM ref),
        days AS (SELECT day_us, COUNT(*) AS n_day FROM e GROUP BY day_us),
        cells AS (SELECT day_us, bucket, COUNT(*) AS c
                  FROM e GROUP BY day_us, bucket),
        grid AS (
          SELECT d.day_us, d.n_day, ref.bucket, ref.r,
                 COALESCE(cells.c, 0) AS c
          FROM days d CROSS JOIN ref
          LEFT JOIN cells ON cells.day_us = d.day_us
                         AND cells.bucket = ref.bucket)
        SELECT day_us, CAST(n_day AS BIGINT) AS n_day,
               CAST(SUM(ABS(c * n_ref - r * n_day)) * 1000000
                    // (2 * n_day * n_ref) AS BIGINT) AS tvd_ppm
        FROM grid, nref GROUP BY day_us, n_day, n_ref
        ORDER BY day_us""")),

    // ---------------------------------------------------------------- s27
    // transformWithState — Spark 4's arbitrary-stateful API (the
    // successor to s02/s25's flatMapGroupsWithState), driven over the
    // SAME harness: per-user spend rollups in a typed ValueState,
    // explicit re-armed event-time timers (delete-then-register each
    // batch), emission only when the user goes quiet (40 idle days —
    // fired by the time-ordered parts' advancing watermark + the final
    // sentinel), on the RocksDB state store provider the new API
    // requires. Cross-batch accumulation is real: the 4 time-range
    // parts each carry a slice of most users, so state merges 4 times
    // before the timer report. Oracle = the whole-table per-user
    // rollup, exact cents.
    QueryDef(
      "s27_transform_with_state",
      (s, dir) => {
        import s.implicits._
        onRocksDb(s) {
          val evs = spendEvents(s,
            eventsStreamTimeParts(s, dir).withWatermark("ts_t", "0 seconds"))
          // the sentinel row flows INTO the processor (a pre-filter would
          // be pushed below the watermark node and starve it — see the
          // drain contract above); the processor drops key < 0 itself
          val out = evs.groupByKey(_.user_id)
            .transformWithState(new SpendProcessor,
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Append())
          drainByUser(s, out)
        }
      },
      Some(spendRollupOracle)),

    // ---------------------------------------------------------------- s28
    // transformWithState with BATCH-SEEDED initial state — the
    // backfill→live cutover every 100 TB deployment performs: history
    // up to the cutover is rolled up ONCE as a batch job and handed to
    // the stream as initial state (handleInitialState runs per seeded
    // key before any stream row); the stream then carries only
    // post-cutover events. The halves are disjoint by the literal
    // cutover timestamp, so seed + stream must reproduce the
    // whole-table rollup exactly — s27's oracle, shared. A user active
    // only BEFORE the cutover still reports (the seed arms their
    // timer); one active only after starts from empty state.
    QueryDef(
      "s28_tws_initial_state",
      (s, dir) => {
        import s.implicits._
        onRocksDb(s) {
          val midUs = 1705363200000000L // 2024-01-16T00:00:00Z cutover
          val seed = graft.Tables.events(s, dir)
            .filter(col("ts_us") < midUs)
            .select(col("user_id"),
              expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
                .as("vc"),
              col("ts_us"))
            .groupBy("user_id")
            .agg(count(lit(1)).as("n"), sum("vc").as("cents"),
              max("ts_us").as("last_us"))
            .as[(Long, Long, Long, Long)]
            .map { case (u, n, c, l) => (u, SpendAgg(n, c, l, -1L)) }
            .groupByKey(_._1).mapValues(_._2)
          val evs = spendEvents(s, eventsStreamTimeParts(s, dir)
            .withWatermark("ts_t", "0 seconds")
            // keep only post-cutover rows — and the sentinel, which must
            // reach the watermark node (see s27)
            .filter(col("user_id") < 0 || expr(s"ts_us >= ${midUs}L")))
          val out = evs.groupByKey(_.user_id)
            .transformWithState(new SpendProcessorSeeded,
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Append(), seed)
          drainByUser(s, out)
        }
      },
      // the s27 contract verbatim: cutover seeding must be invisible
      Some(spendRollupOracle)),

    // ---------------------------------------------------------------- s29
    // transformWithState composite state — MapState + bounded ListState
    // + ValueState in one processor: live per-user engagement profiles
    // (total events, distinct event types via per-entry map state, the
    // sum of the 3 largest purchase amounts via a 3-long list that
    // arriving values compete into), reported once at user-quiet. The
    // top-3 sum is tie-invariant (equal amounts contribute equally
    // whichever copy is retained), so the integer oracle is exact. On
    // RocksDB each map entry is its own store key — a user gaining one
    // new type writes one entry, not the whole profile.
    QueryDef(
      "s29_tws_composite_state",
      (s, dir) => {
        import s.implicits._
        onRocksDb(s) {
          val evs = eventsStreamTimeParts(s, dir)
            .withWatermark("ts_t", "0 seconds")
            .select(col("user_id"), col("ts_us"), col("event_type"),
              expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
                .as("vc"),
              col("ts_t")).as[TypedEv]
          val out = evs.groupByKey(_.user_id)
            .transformWithState(new ProfileProcessor,
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Append())
          drainByUser(s, out)
        }
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        base AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                 MAX(us) AS last_us
          FROM e GROUP BY user_id),
        p AS (
          SELECT user_id, vc,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY vc DESC) AS rn
          FROM e WHERE event_type = 'purchase'),
        t3 AS (
          SELECT user_id, CAST(SUM(vc) AS BIGINT) AS top3_cents
          FROM p WHERE rn <= 3 GROUP BY user_id)
        SELECT base.user_id, n_events, n_types,
               CAST(COALESCE(top3_cents, 0) AS BIGINT) AS top3_cents, last_us
        FROM base LEFT JOIN t3 USING (user_id)
        ORDER BY user_id""")),

    // ---------------------------------------------------------------- s30
    // Native session_window sessionization — the DECLARATIVE sibling of
    // s02's hand-rolled flatMapGroupsWithState sessionizer: Spark's
    // built-in session-window aggregation handles the merge/close state
    // machine inside the streaming aggregation operator, so the query is
    // one groupBy — the form a migration lands on first, pinned here
    // against the same gaps-and-islands batch oracle. Boundary semantics
    // differ from s02's by ONE microsecond and are pinned by the oracle:
    // session_window ends are exclusive (window = [t, t+gap)), so an
    // event arriving EXACTLY gap after its predecessor starts a NEW
    // session — the batch rule is `diff >= gap`, where s02's hand-rolled
    // gap used `>`. The far-future sentinel closes every real session at
    // drain end (its own open session is dropped batch-side by the
    // user_id >= 0 filter — the sentinel must FLOW through the operator,
    // see the verify-skill note). State per user is the one open
    // session, watermark-evicted — O(active users) forever.
    QueryDef(
      "s30_stream_session_window",
      (s, dir) => {
        val agg = eventsStream(s, dir, flushSentinel = true)
          .withWatermark("ts_t", "0 seconds")
          .groupBy(col("user_id"), session_window(col("ts_t"), "10 minutes"))
          .agg(count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        drain(s, OutputMode.Append())(agg)
          .filter(col("user_id") >= 0)
          .select("user_id", "n_events", "start_us", "end_us")
          .orderBy("user_id", "start_us")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                   FROM events),
        g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                              OR ts_us - lag(ts_us) OVER w >= 600000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sg AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                             ORDER BY ts_us, event_id
                                             ROWS UNBOUNDED PRECEDING) AS sid
               FROM g)
        SELECT user_id, COUNT(*) AS n_events,
               MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        FROM sg
        GROUP BY user_id, sid
        ORDER BY user_id, start_us""")),

    // ---------------------------------------------------------------- s31
    // Watermarked stream-stream FULL OUTER interval join — completes the
    // join-mode set (s04 inner, s08 left outer): BOTH unmatched sides
    // must emit, each only once its own watermark proves no partner can
    // arrive — views that never led to a purchase in the following hour
    // AND purchases with no preceding view. The flush sentinel rides
    // both sides (s08's lesson: it must FLOW through both watermark
    // operators, so each side's filter passes user_id < 0); the two
    // sentinels time-match each other, producing one (-1, -1) pair
    // dropped batch-side by the null-safe coalesce filter — which must
    // keep half-null rows, since those are exactly the unmatched
    // emissions under test. State on both sides stays bounded by the
    // interval condition plus the 10-minute delay.
    QueryDef(
      "s31_stream_full_outer_join",
      (s, dir) => {
        val base = eventsStream(s, dir, flushSentinel = true)
        viewPurchaseJoin(s,
            base.filter(col("event_type") === "view" || col("user_id") < 0),
            base.filter(col("event_type") === "purchase" || col("user_id") < 0),
            "full_outer")
          .filter(coalesce(col("purchase_id"), lit(0L)) >= 0
            && coalesce(col("view_id"), lit(0L)) >= 0)
          .orderBy(col("purchase_id").asc_nulls_first,
            col("view_id").asc_nulls_first)
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events),
        p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        v AS (SELECT * FROM e WHERE event_type = 'view')
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.us AS p_us, v.us AS v_us
        FROM p FULL OUTER JOIN v
          ON p.user_id = v.user_id
         AND v.us <= p.us AND v.us >= p.us - 3600000000
        ORDER BY purchase_id NULLS FIRST, view_id NULLS FIRST""")),

    // ---------------------------------------------------------------- s32
    // Update output mode — the third and last output mode (s01/s09/s11
    // complete, everything else append): each micro-batch emits the
    // CURRENT value of every window it touched, so a window revised by
    // 2 of the 4 time-ordered batches appears twice in the sink and the
    // consumer reconciles — exactly how update-mode feeds an upserting
    // store. Reconciliation here is deterministic without batch ids:
    // every new event strictly increases a window's count, so the final
    // revision is max(struct(n_events, sum_cents)) per window — the
    // struct ties the cents to the same emission. Counts are integer
    // cents (not doubles) so the struct max is a clean lexicographic
    // compare. No sentinel needed: update mode emits on change, not on
    // watermark close — but the watermark still EVICTS: the batches
    // must be the TIME-ORDERED parts, because with an arbitrary split
    // the first batch carries the stream's max timestamp, the watermark
    // jumps to the end, and every later batch's rows are dropped as
    // late (observed: ~2/3 of each window's count silently missing).
    QueryDef(
      "s32_stream_update_mode",
      (s, dir) => {
        // the time-parts landing bakes in a 5th sentinel batch (s12
        // needs it); update mode does not, and its far-future window
        // would surface in the sink — filter it BEFORE the watermark,
        // which is safe here precisely because nothing below depends
        // on the watermark advancing past the real data (emission is
        // on-change; the starved-sentinel hazard only bites append)
        val agg = eventsStreamTimeParts(s, dir)
          .filter(col("user_id") >= 0)
          .withWatermark("ts_t", "1 hour")
          .groupBy(window(col("ts_t"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .as("sum_cents"))
        drain(s, OutputMode.Update())(agg)
          .groupBy("window")
          .agg(max(struct(col("n_events"), col("sum_cents"))).as("fin"))
          .select(unix_micros(col("window.start")).as("ws_us"),
            col("fin.n_events").as("n_events"),
            col("fin.sum_cents").as("sum_cents"))
          .orderBy("ws_us")
      },
      Some("""
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ws_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM events
        GROUP BY 1
        ORDER BY ws_us""")),

    // ---------------------------------------------------------------- s33
    // Global (un-windowed) streaming aggregation — the hello-world shape
    // every streaming tutorial starts with, pinned last because its
    // state story is the one to UNDERSTAND before shipping it: per-key
    // running totals with no watermark and no window means state lives
    // FOREVER (one row per key — fine for bounded domains like
    // event_type, an OOM time-bomb for user-id-scale keys; that
    // bounded-key caveat is the operator's contract). Complete mode
    // re-emits the whole result table each batch; the drain's overwrite
    // sink keeps the last batch = totals over everything.
    QueryDef(
      "s33_stream_running_totals",
      (s, dir) => {
        val agg = eventsStream(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
              .as("sum_cents"),
            expr("count_if(value > 500.0)").as("n_big"))
        drain(s, OutputMode.Complete())(agg)
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(count_if(value > 500.0) AS BIGINT) AS n_big
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // ---------------------------------------------------------------- s34
    // Streaming KMV distinct sketch — q237 live, and the demonstration
    // that a MERGEABLE SKETCH is the right transformWithState state
    // shape: per event type, a ListState holds exactly k = 16 longs (the
    // k smallest md5-derived user hashes seen so far) however many rows
    // stream through — O(k) state, no watermark needed (TimeMode.None,
    // Update output: the sketch is monotone, never evicted). Each batch
    // emits the current snapshot; since the running kth-minimum only
    // decreases and n_tracked only grows, the batch-side reduction
    // (max n_tracked, min full-sketch kth) reconstructs the final
    // sketch bit-exactly no matter how the drain micro-batched. The
    // sentinel row is pre-filtered: with no watermark in the pipeline
    // there is no node for the filter to starve (the s27 caveat applies
    // only to event-time pipelines). Oracle = the same KMV arithmetic
    // over distinct hashes in SQL — estimate (k−1)·2⁶⁰ div kth through
    // HUGEINT, exact small-cardinality path below k.
    QueryDef(
      "s34_stream_kmv_sketch",
      (s, dir) => {
        import s.implicits._
        onRocksDb(s) {
          val evs = eventsStreamTimeParts(s, dir)
            .filter(col("user_id") >= 0) // sentinel: no watermark to starve
            .select(col("event_type"), expr(
              "cast(conv(substr(md5(cast(user_id AS string)), 1, 15), 16, 10) AS BIGINT)")
              .as("hv"))
            .as[KmvEv]
          val out = evs.groupByKey(_.event_type)
            .transformWithState(new KmvProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update())
          drain(s, OutputMode.Update())(out.toDF())
            .groupBy("event_type")
            .agg(max("n_tracked").as("n_tracked"),
              min(when(col("kth_hash") >= 0, col("kth_hash"))).as("kth"))
            .select(col("event_type"), col("n_tracked"),
              coalesce(col("kth"), lit(0L)).as("kth_hash"),
              expr("""CASE WHEN kth IS NULL THEN n_tracked
                           ELSE cast(cast(15 AS DECIMAL(38,0)) * 1152921504606846976
                                div kth AS BIGINT) END""").as("n_est"))
            .orderBy("event_type")
        }
      },
      Some("""
        WITH d AS (
          SELECT DISTINCT event_type,
                 CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS hv
          FROM events),
        ranked AS (
          SELECT event_type, hv,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
          FROM d),
        kth AS (SELECT event_type, hv AS kth FROM ranked WHERE rk = 16),
        cnt AS (SELECT event_type,
                       CAST(LEAST(COUNT(*), 16) AS BIGINT) AS n_tracked
                FROM d GROUP BY event_type)
        SELECT c.event_type, n_tracked,
               CAST(COALESCE(kth, 0) AS BIGINT) AS kth_hash,
               CAST(CASE WHEN kth IS NULL THEN n_tracked
                    ELSE CAST(15 AS HUGEINT) * 1152921504606846976 // kth
                    END AS BIGINT) AS n_est
        FROM cnt c LEFT JOIN kth ON c.event_type = kth.event_type
        ORDER BY c.event_type"""))
  ,

    // ---------------------------------------------------------------- s35
    // Streaming expectation-suite gate — q248's data contracts applied
    // AT INGEST, the shape a 100 TB pipeline actually deploys them in:
    // each arriving row evaluates the five pinned rules as codegen'd
    // flag columns (a pure stateless map — zero state stores, append
    // mode, scales like a filter), per-batch flag rows land in the
    // drain, and the additive per-rule counters merge batch-side into
    // exactly q248's report (Profiling.qualityReport). Adding a rule
    // is one more column; the stream pays no extra pass and no state
    // however many rules ride.
    // Sentinel rows pre-filter (no watermark in the pipeline to starve).
    QueryDef(
      "s35_stream_quality_gate",
      (s, dir) => {
        val flags = eventsStreamTimeParts(s, dir)
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("event_type"), col("value"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
          .select(
            expr("CASE WHEN vc < 1 OR vc > 45000 THEN 1L ELSE 0L END").as("v1"),
            expr("""CASE WHEN event_type NOT IN
                     ('view','click','purchase','error','signup')
                    THEN 1L ELSE 0L END""").as("v2"),
            expr("CASE WHEN user_id < 1 THEN 1L ELSE 0L END").as("v3"),
            expr("CASE WHEN value IS NULL THEN 1L ELSE 0L END").as("v4"),
            expr("CASE WHEN event_type = 'purchase' AND vc < 500 THEN 1L ELSE 0L END")
              .as("v5"))
        val wide = drain(s, OutputMode.Append())(flags)
          .agg(count(lit(1)).as("n"), sum("v1").as("v1"), sum("v2").as("v2"),
            sum("v3").as("v3"), sum("v4").as("v4"), sum("v5").as("v5"))
        graft.operators.Profiling.qualityReport(wide)
      },
      // same contract as the batch gate — the stream must converge to it
      Some(graft.operators.Profiling.qualityOracle))
  ,

    // ---------------------------------------------------------------- s36
    // Streaming decontamination — q66 live, completing q232's
    // incremental story: the corpus arrives as 3 ingest ticks
    // (doc_id-ranged parts), each tick's 5-grams probe the STATIC
    // benchmark gram table (tiny — it broadcasts under a stream-static
    // inner join, zero state stores, stateless append), and the drained
    // (bench_id, gram) hit stream dedupes batch-side before the
    // instance-level semi join reconstructs exactly q66's verdicts —
    // the same oracle, so a delta the stream missed cannot hash-match.
    // Per-tick cost is O(tick grams); the benchmark side never
    // re-scans.
    QueryDef(
      "s36_stream_decontamination",
      (s, dir) => {
        // spread (r14, guide §2.5): one-task scan serialized the
        // benchmark gram explode below
        val docs = graft.Tables.spread(
          graft.Tables(s, dir, "documents"), col("doc_id"))
        val bench = docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id").as("bench_id"),
            concat_ws(" ", slice(split(col("text"), " "), 6, 20)).as("text"))
        val bgInst = bench
          .select(col("bench_id"),
            explode(call_function("graft_word_ngrams", col("text"), lit(5))).as("g"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bgKeys = bgInst.select("bench_id", "g").distinct()
        val hits = documentsStreamParts(s, dir)
          .select(explode(call_function("graft_word_ngrams", col("text"), lit(5)))
            .as("g"))
          .join(broadcast(bgKeys), "g")
          .select("bench_id", "g")
        val hitSet = drain(s, OutputMode.Append())(hits).distinct()
        val nHit = bgInst.join(hitSet, Seq("bench_id", "g"), "left_semi")
          .groupBy("bench_id").agg(count(lit(1)).as("n_hit"))
        bgInst.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
          .join(nHit, Seq("bench_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("hit_permille", expr("n_hit * 1000 div n_grams"))
          .withColumn("contaminated", col("hit_permille") > 500)
          .orderBy("bench_id")
      },
      // q66's oracle verbatim — the stream must converge to the batch
      // decontamination verdicts exactly
      Some(graft.operators.TrainingDataOps.decontaminationOracle))
  ,

    // ---------------------------------------------------------------- s37
    // Streaming NEAR-dup at ingest (VERDICT r7 item 5) — q107 live:
    // the ingest batch arrives as 3 ticks, and each arriving doc
    // MinHash-probes the STANDING corpus LSH bucket index under a
    // stream-static join (the s36 pattern). The stream side is fully
    // STATELESS: the 64-minhash signature is computed PER ROW (the same
    // seed-mixed xxhash chain as the static index's columnar build, so
    // probes collide bit-for-bit), bands explode to (band, bh) bucket
    // probes, candidates broadcast-join the (id, band, bh) index, and
    // the exact-Jaccard verify touches bucket-mates only — zero state
    // stores, per-tick cost O(tick × collision rate). The drained hit
    // stream dedupes batch-side and reconstructs exactly q107's
    // admission verdicts (Dedup.admissionReport): same oracle (exact
    // all-pairs containment), so a dup the stream misses cannot hash-match.
    //
    // Per-row-vs-columnar trade, stated: the static corpus signature
    // stays columnar (codegen'd aggregates); the STREAM side pays the
    // interpreted-HOF signature per arriving doc because a per-row probe
    // must not shuffle the tick — per-doc work bounded by shingle count.
    // Candidate probes carry the doc's shingle set through the 32-band
    // explode for the verify; at 100 TB you would probe with ids only
    // and re-join shingles per tick (the q91 persisted-index
    // discipline) — the admission algebra is identical.
    QueryDef(
      "s37_stream_neardup_ingest",
      (s, dir) => {
        import graft.operators.{Dedup, PairGraph}
        // the corpus side is the standing persisted index (PairGraph
        // session memo) — per-tick work is the arriving docs only
        val csh = PairGraph.corpusShingles(s, dir)
        val cidx = PairGraph.corpusBandIndex(s, dir)
          .select(col("doc_id").as("corpus_id"), col("band"), col("bh"))
        val st = Dedup.shingled(ingestBatchStreamParts(s, dir))
        // per-row signature via the native codegen kernel (r14): the
        // former 64 interpreted `array_min(transform(..xxhash64..))`
        // columns re-hashed every shingle STRING once per lane; the
        // kernel hashes each shingle once and runs two integer mixes
        // per lane — bit-identical lanes (MinHashSigSpec pins the
        // parity), so the band buckets still match the corpus index
        val withSig = st.withColumn("sig",
          call_function("graft_minhash_sig", col("s")))
        val bandCols = (0 until 32).map(b =>
          struct(lit(b).as("band"),
            xxhash64(element_at(col("sig"), 2 * b + 1),
              element_at(col("sig"), 2 * b + 2)).as("bh")))
        val probes = withSig
          .select(col("doc_id").as("batch_id"), col("s").as("sb"),
            explode(array(bandCols: _*)).as("bb"))
          .select(col("batch_id"), col("sb"),
            col("bb.band").as("band"), col("bb.bh").as("bh"))
        val hits = probes
          .join(broadcast(cidx), Seq("band", "bh"))
          .join(csh.select(col("doc_id").as("corpus_id"), col("s").as("sc")),
            "corpus_id")
          .filter(size(array_intersect(col("sb"), col("sc"))) * 5
            >= size(array_union(col("sb"), col("sc"))) * 3)
          .select("batch_id")
        Dedup.admissionReport(
          Dedup.ingestBatch(graft.Tables(s, dir, "documents").select("doc_id", "text")),
          drain(s, OutputMode.Append())(hits).distinct())
      },
      // q107's oracle VERBATIM — the streamed ingest must converge to
      // the batch admission verdicts exactly (exact all-pairs contract;
      // banding recall is the engine's mechanism, answer-invisible)
      Some(graft.operators.Dedup.neardupIngestOracle))
  ,

    // ---------------------------------------------------------------- s38
    // Streaming BPE token-cost accounting — q254 live: the merges table
    // is learned BATCH-side from the standing corpus (the offline
    // tokenizer artifact a production stream ships with), and each
    // arriving doc is encoded STATELESSLY in one per-row expression
    // chain — the whole document pipe-sentinel-wrapped at once
    // (non-space chars only, so word gaps read "| |"), then the merge
    // replaces applied in rank order. Merge patterns "|x||y|" contain
    // no spaces, so a match can never span the "| |" word boundary —
    // whole-doc encoding is exactly per-word encoding (the q254
    // construction), stated here because the oracle equality depends on
    // it. Token counts come from boundary arithmetic (each intra-word
    // token boundary is exactly one "||"), the drained per-doc rows
    // roll up batch-side through q254's TextAnalysis.tokenCostReport, and
    // the result must hash-match q254's oracle VERBATIM. Zero state
    // stores; per-tick cost O(tick chars).
    QueryDef(
      "s38_stream_bpe_token_costs",
      (s, dir) => {
        import graft.operators.TextAnalysis
        // session-shared merges table (one learn per phase — the
        // offline tokenizer artifact a production stream ships with)
        val merges = TextAnalysis.bpeMerges(s, dir)
        val st = documentsStreamParts(s, dir)
          .select(col("doc_id"), col("source"),
            TextAnalysis.bpeApply(
              regexp_replace(col("text"), "([^ ])", "|$1|"), merges).as("enc"),
            // empty-token filter (ADVICE r8): bpeWords/bpeOracle count
            // only w <> '' — raw size(split(..)) would diverge from the
            // shared oracle on consecutive/leading/trailing spaces
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("nw"),
            length(call_function("replace", col("text"), lit(" "), lit("")))
              .cast("long").as("nc"))
          .select(col("doc_id"), col("source"), col("nw"), col("nc"),
            expr("(length(enc) - length(replace(enc, '||', ''))) div 2 + nw")
              .cast("long").as("nt"))
        TextAnalysis.tokenCostReport(drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.TextAnalysis.bpeOracle))
  ,

    // ---------------------------------------------------------------- s39
    // Streaming learned quality gate — q255 live, completing the
    // at-ingest gate pair (s35 = rule gate, s39 = learned gate): the
    // hashed-ngram weight table is trained BATCH-side from the standing
    // corpus and ships into the stream as a LITERAL map (the broadcast
    // model artifact a production scorer loads), the threshold as a
    // literal scalar; each arriving doc is scored in ONE per-row
    // expression — char-3grams → md5 bucket → weight lookup →
    // integer ppm mean — so the stream side is a pure stateless map:
    // zero state stores, zero stream-side joins, per-tick cost
    // O(tick chars). Scoring and the per-source report are q255's own
    // functions (Profiling.classifierScored / classifierReport): same
    // oracle VERBATIM. The
    // scorer is the NATIVE codegen expression graft_classifier_score
    // (plans/ClassifierScore.scala — the map literal folds once into a
    // dense long[4096]); the former interpreted HOF chain paid an
    // O(4096) literal-map probe per gram occurrence (VERDICT r13
    // item 3 — the suite's slowest steady-state slot). Bit-identical
    // scores; q255 shares the same expression batch-side.
    QueryDef(
      "s39_stream_classifier_gate",
      (s, dir) => {
        import graft.operators.{ClassifierArtifacts, Profiling}
        // model artifact: 4096 weights + threshold from the session-
        // shared registry (one gram build per phase), collected ONCE at
        // plan-construction (vocabulary-sized, the merges-table
        // discipline) and shipped as literals
        val wtMap = ClassifierArtifacts.weightMap(s, dir)
        val thr = ClassifierArtifacts.prior(s, dir).head().getLong(0)
        val st = Profiling.classifierScored(documentsStreamParts(s, dir), wtMap)
          .withColumn("keep", col("score_ppm") >= lit(thr))
        Profiling.classifierReport(drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.Profiling.classifierOracle))
  ,

    // ---------------------------------------------------------------- s40
    // Streaming LM-surprisal scoring at ingest — q265 live: the bigram
    // model (count tables + vocab scalar) is trained BATCH-side on the
    // content-hash train split, and each arriving held-out doc's
    // bigrams probe it under stream-static LEFT joins (the s36/s22
    // probe discipline — the stream side never aggregates, zero state
    // stores, append mode; the model tables are the static right side
    // an executor probes, broadcast when they fit). The vocab size
    // ships as a collected scalar — the model-artifact discipline s39
    // established for its threshold. Drained per-bigram (source, c12,
    // bits) rows roll up batch-side through q265's per-source
    // bits/token report (TextAnalysis.bitsReport): same oracle VERBATIM, so a dropped or
    // double-probed tick cannot hash-match.
    QueryDef(
      "s40_stream_lm_surprisal",
      (s, dir) => {
        import graft.operators.TextAnalysis
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val hb5 = "cast(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT) % 5"
        // spread (r14, guide §2.5): one-task scan serialized the per-doc
        // md5 split-coin + bigram explode of the training side
        val train = graft.Tables.spread(
            graft.Tables(s, dir, "documents"), col("doc_id"))
          .filter(expr(hb5) =!= 0L)
        val tb = TextAnalysis.bigramCounts(train).persist(MEMORY_AND_DISK)
        val c1 = tb.groupBy("w1").agg(sum("c12").as("c1"))
        val v = TextAnalysis.bigramVocab(train).head().getLong(0)
        val st = documentsStreamParts(s, dir)
          .filter(expr(hb5) === 0L)
          .select(col("source"),
            explode(call_function("graft_word_ngrams", col("text"), lit(2)))
              .as("gram"))
          .withColumn("w1", element_at(split(col("gram"), " "), 1))
          .join(tb.select("gram", "c12"), Seq("gram"), "left")
          .join(c1, Seq("w1"), "left")
          .withColumn("c12n", coalesce(col("c12"), lit(0L)))
          .withColumn("c1n", coalesce(col("c1"), lit(0L)))
          .select(col("source"), col("c12n"),
            expr(s"length(bin((c1n + ${v}L) div (c12n + 1))) - 1")
              .as("bits_raw"))
        TextAnalysis.bitsReport(drain(s, OutputMode.Append())(st), "bits_raw")
      },
      Some(graft.operators.TextAnalysis.bigramLmOracle))
  ,

    // ---------------------------------------------------------------- s41
    // Streaming INDEX maintenance — q267 live, completing the
    // incremental trilogy's streaming story (s37 = clusters at ingest,
    // s41 = the index): the delta batch arrives as 3 ticks and each
    // arriving doc emits its DISTINCT word-3-gram postings in a pure
    // stateless map (array_distinct is per-row — a doc's grams dedupe
    // inside the row, and a doc arrives in exactly one tick, so the
    // drained (term, doc_id) stream is globally distinct with zero
    // state stores). Batch-side the drained postings aggregate into the
    // delta index and merge ADDITIVELY into the standing index exactly
    // through q267's TextAnalysis.mergeIndex — same oracle VERBATIM, so
    // a dropped tick or a double-emitted posting cannot hash-match.
    QueryDef(
      "s41_stream_index_maintenance",
      (s, dir) => {
        import graft.operators.TextAnalysis
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // spread (r14, guide §2.5): one-task scan serialized the
        // standing-index explode
        val standing = TextAnalysis.postings(graft.Tables.spread(
            graft.Tables(s, dir, "documents").select("doc_id", "text"),
            col("doc_id")))
          .persist(MEMORY_AND_DISK)
        val st = ingestBatchStreamParts(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(
              call_function("graft_word_ngrams", col("text"), lit(3))))
              .as("term"))
        TextAnalysis.mergeIndex(standing,
          TextAnalysis.termIndex(drain(s, OutputMode.Append())(st)))
      },
      Some(graft.operators.TextAnalysis.incrementalIndexOracle))
  ,

    // ---------------------------------------------------------------- s42
    // Streaming PACKING-COST accounting — q272 live: each arriving doc
    // is measured, truncated to the L=512 budget and bucket-assigned in
    // ONE stateless per-row projection (integer bit arithmetic, zero
    // state stores); the drained (source, bucket, kept, ntr) rows roll
    // up batch-side into exactly q272's per-source waste report
    // (TrainingDataOps.packBuckets / packCosts). This
    // twin is possible BECAUSE bucketed first-fit is arrival-order
    // independent — every sequence but the ragged last is full, so
    // n_seqs = ceil(n_bucket / cap) and all token sums are order-free;
    // the stream never needs to know which sequence a doc landed in,
    // only how many docs share its bucket. Same oracle VERBATIM as
    // q272, so a dropped tick or double-counted doc cannot hash-match.
    QueryDef(
      "s42_stream_pack_accounting",
      (s, dir) => {
        import graft.operators.TrainingDataOps.{PackLen, packBuckets, packCosts}
        val st = packBuckets(documentsStreamParts(s, dir)
          .select(col("doc_id"), col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("nw")), "nw")
        val byBucket = drain(s, OutputMode.Append())(st)
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n"), sum("nw").as("tw"),
            sum("kept").as("tk"), sum("ntr").as("tt"))
          .withColumn("cap", expr(s"$PackLen div bucket"))
          .withColumn("n_seqs", expr("(n + cap - 1) div cap"))
        packCosts(byBucket.groupBy("source")
          .agg(sum("n").as("n_docs"), sum("n_seqs").as("n_seqs"),
            sum("tw").as("tokens_total"), sum("tk").as("tokens_kept"),
            sum("tt").as("tokens_trunc")))
      },
      Some(graft.operators.TrainingDataOps.packAccountingOracle))
  ,

    // ---------------------------------------------------------------- s43
    // Streaming quality-gate FUNNEL — q275 live, the attrition report
    // computed AT INGEST: each arriving doc's four gate flags are a
    // pure stateless per-row projection (funnelFlags is shared code,
    // zero state stores, append mode), the drained flag rows roll up
    // batch-side through the SAME funnelReport into exactly q275's
    // per-(source, stage) table — oracle verbatim, so a dropped tick
    // or re-ordered gate cannot hash-match. Per-tick cost O(tick
    // chars); at 100 TB this is the live funnel dashboard an ingest
    // gate feeds without a second corpus pass.
    QueryDef(
      "s43_stream_filter_funnel",
      (s, dir) => {
        import graft.operators.Profiling
        val st = Profiling.funnelFlags(documentsStreamParts(s, dir))
        Profiling.funnelReport(drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.Profiling.funnelOracle))
  ,

    // ---------------------------------------------------------------- s44
    // Streaming contamination severity — q277 live at ingest (the s36
    // probe discipline, upgraded from a binary verdict to the tiered
    // removal-impact report): the benchmark gram set is the BROADCAST
    // static side, each arriving doc's distinct 5-grams probe it under
    // a stream-static inner join — stateless, zero state stores,
    // per-tick cost O(tick grams) — and only HITS flow downstream.
    // Batch-side the drained hits count per doc, zero-hit docs are
    // recovered by the left join against the static corpus (a stream
    // can't emit what never matched), and the tier rollup reproduces
    // exactly q277's report (TrainingDataOps.severityReport) — same
    // oracle VERBATIM.
    QueryDef(
      "s44_stream_contamination_severity",
      (s, dir) => {
        val docs = graft.Tables(s, dir, "documents")
        // spread + persist (r14): the benchmark gram set was rebuilt
        // from the one-task scan on EVERY micro-batch of the
        // stream-static probe below
        // spread + persist (r14): the benchmark gram set was rebuilt
        // from the one-task scan on EVERY micro-batch of the
        // stream-static probe below
        val bg = graft.operators.TrainingDataOps.severityBenchGrams(graft.Tables.spread(
            docs.filter(col("doc_id") % 13 === 0), col("doc_id")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val st = documentsStreamParts(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(
              call_function("graft_word_ngrams", col("text"), lit(5))))
              .as("g"))
          .join(bg, "g") // stream-static probe: only hits survive
          .select("doc_id")
        graft.operators.TrainingDataOps.severityReport(docs,
          drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.TrainingDataOps.contaminationSeverityOracle))
  ,

    // ---------------------------------------------------------------- s45
    // Streaming ingest NOVELTY — q279 live: today's batch docs
    // (doc_id % 5 = 4) arrive as a stream and each one's distinct
    // word-8-grams probe the standing corpus's gram-digest set under a
    // stream-static LEFT join (static side distinct-reduced and
    // persisted once — per-tick cost is O(tick grams), the standing
    // set is the artifact, not per-tick work). Unlike s44's hits-only
    // inner probe, novelty needs the MISSES, so the left join carries
    // every stream gram downstream with a seen/null flag — still
    // stateless, zero state stores, append mode. The drained rows roll
    // up batch-side through q279's Dedup.noveltyReport —
    // oracle VERBATIM, so a dropped tick or a stale standing set
    // cannot hash-match.
    QueryDef(
      "s45_stream_ingest_novelty",
      (s, dir) => {
        // static side derived from the session-shared gram frame
        // (GramFrames — shared with q103/q279); the distinct-reduced
        // standing set persists so each micro-batch probes, not rebuilds
        val standing = graft.operators.Dedup.noveltyStanding(
            graft.operators.GramFrames.word8(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val st = documentsStreamParts(s, dir)
          .filter(col("doc_id") % 5 === 4)
          .select(col("doc_id"), col("source"),
            explode(array_distinct(
              call_function("graft_word_ngrams", col("text"), lit(8))))
              .as("g"))
          .select(col("doc_id"), col("source"), sha2(col("g"), 256).as("h"))
          .join(standing, Seq("h"), "left")
        graft.operators.Dedup.noveltyReport(drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.Dedup.noveltyOracle))
  ,

    // ---------------------------------------------------------------- s46
    // Streaming COUNT-MIN sketch build — q285's mergeable frequency
    // sketch as ingest-time state-free accumulation (the s34 KMV
    // discipline for the frequency domain): each arriving doc's tokens
    // fan out ×4 hash rows in a pure stateless projection to (r, b)
    // cell coordinates — no state stores, append mode — and the
    // drained cell stream aggregates batch-side into the 4×256 sketch
    // by pure ADDITION, which is exactly why CMS works as a
    // distributed/streaming summary: cells from any partition of the
    // stream merge by +. The same top-20 audit (ScaleTechniques.
    // cmsEstimates) then probes the stream-built sketch and must produce q285's estimates
    // bit-for-bit — oracle VERBATIM, so a dropped tick or double
    // count cannot hash-match.
    QueryDef(
      "s46_stream_countmin_sketch",
      (s, dir) => {
        // spread (r14, guide §2.5): one-task scan serialized the exact-
        // side token explode + count
        import graft.operators.ScaleTechniques.{
          cmsBucket, cmsEstimates, cmsRows, cmsTokens}
        val docsT = graft.Tables.spread(
          graft.Tables(s, dir, "documents"), col("doc_id"))
        val rws = cmsRows(s)
        val st = cmsTokens(documentsStreamParts(s, dir))
          .crossJoin(rws) // stream-static cross with the 4-row hash-row table
          .select(col("r"), expr(cmsBucket).as("b"))
        val sketch = drain(s, OutputMode.Append())(st)
          .groupBy("r", "b").agg(count(lit(1)).as("c"))
        cmsEstimates(cmsTokens(docsT), rws, sketch)
      },
      Some(graft.operators.ScaleTechniques.countminOracle))
  ,

    // ---------------------------------------------------------------- s47
    // Streaming BOILERPLATE gate — q294 live, the shape a production
    // cleanup actually runs: the standing per-source boilerplate set
    // (segments seen in ≥ 3 docs of the source — yesterday's footer/
    // nav-bar signatures) is built batch-side ONCE, persisted, and
    // BROADCAST; each arriving doc explodes into its 2-word segments
    // (the segmentation is SHARED CODE with q294, so stream and batch
    // can never disagree on the unit) and probes the set under a
    // stream-static LEFT join — stateless, zero state stores, append
    // mode, per-tick cost O(tick segments). Every doc arrives exactly
    // once, so the drained flagged-segment stream IS the batch segment
    // frame and the rollup reproduces q294's removal report — oracle
    // VERBATIM, so a dropped tick, a stale set, or a segmentation
    // drift cannot hash-match.
    QueryDef(
      "s47_stream_boilerplate_gate",
      (s, dir) => {
        // spread (r14, guide §2.5): one-task scan serialized the corpus
        // segmentation feeding the boilerplate set
        val corpusSegs = graft.operators.TextAnalysis.segments(
          graft.Tables.spread(
            graft.Tables(s, dir, "documents"), col("doc_id")))
        val bp =
          graft.operators.TextAnalysis.boilerplateSet(corpusSegs)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val st = graft.operators.TextAnalysis.segments(
            documentsStreamParts(s, dir))
          .join(broadcast(bp), Seq("source", "seg"), "left")
        graft.operators.TextAnalysis.boilerplateReport(
          drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.TextAnalysis.boilerplateOracle))
  ,

    // ---------------------------------------------------------------- s48
    // Streaming domain reweighting — q298's mixture weights computed
    // from a live ingest: each arriving doc tokenizes stream-side
    // through CODE SHARED with the batch operator (a stateless per-row
    // explode — zero state stores, append mode, per-tick cost O(tick
    // tokens)), and the drained token stream feeds the identical
    // unigram-stats + exponentiated-gradient rollup. Every doc arrives
    // exactly once, so the drained frame IS the batch token frame and
    // the weights converge to q298's report — oracle VERBATIM, so a
    // dropped tick or a tokenizer drift cannot hash-match. This is the
    // nightly-mixture-refresh shape: the stream accumulates sufficient
    // statistics, the bounded weight table falls out at rollup time.
    QueryDef(
      "s48_stream_domain_reweighting",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        val toks = TrainingDataOps.sourceTokens(documentsStreamParts(s, dir))
        TrainingDataOps.domainWeightReport(
          TrainingDataOps.unigramStatsFromTokens(
            drain(s, OutputMode.Append())(toks)))
      },
      Some(graft.operators.TrainingDataOps.domainWeightOracle))
  ,

    // ---------------------------------------------------------------- s49
    // Streaming CONFORMAL prediction sets — q308 live at ingest, the
    // shape a production gate deploys: calibration thresholds are the
    // STANDING batch artifact (exact order statistics off the
    // calibration split, collected once with the r/n audit scalars —
    // the s39 model-artifact discipline, 6 longs), and each arriving
    // doc scores statelessly per row (the s39 literal-weight-map HOF,
    // zero state stores, zero stream-side joins, append mode) and
    // flags its prediction-set membership against the two literal
    // thresholds. The calibration coin is per-row arithmetic, so the
    // stream itself drops calibration docs. Drained eval flags roll up
    // through q308's Profiling.conformalCoverage — oracle VERBATIM, so a stale
    // threshold, a dropped tick, or a scoring drift cannot hash-match.
    QueryDef(
      "s49_stream_conformal_gate",
      (s, dir) => {
        import graft.operators.{ClassifierArtifacts, Profiling}
        import org.apache.spark.sql.expressions.Window
        // --- batch side: the standing conformal artifact -------------
        val scored =
          ClassifierArtifacts.grams(s, dir)
            .join(broadcast(ClassifierArtifacts.weights(s, dir)), "b")
            .groupBy("doc_id", "good")
            .agg(expr("sum(w) div count(1)").as("sc"))
            .withColumn("cal", expr(
              """cast(conv(substr(md5(cast(doc_id AS string)), 1, 15),
                           16, 10) AS BIGINT) % 4 = 0"""))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def rOf(cls: DataFrame): (Long, Long) = {
          val n = cls.count()
          (n, math.max(100000L * (n + 1L) / 1000000L, 1L))
        }
        val (ng, rg) = rOf(scored.filter(col("cal") && col("good")))
        val (nb, rb) = rOf(scored.filter(col("cal") && !col("good")))
        val wUp = Window.orderBy("sc") // ≤ distinct calibration scores (ppm-grid-bounded)
        val wDn = Window.orderBy(col("sc").desc) // ≤ distinct calibration scores (ppm-grid-bounded)
        val tg = scored.filter(col("cal") && col("good"))
          .groupBy("sc").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wUp))
          .filter(col("cum") >= rg).agg(min("sc")).head().getLong(0)
        val tb = scored.filter(col("cal") && !col("good"))
          .groupBy("sc").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wDn))
          .filter(col("cum") >= rb).agg(max("sc")).head().getLong(0)
        // --- stream side: stateless per-row score + set membership ---
        val mapCol = typedLit(ClassifierArtifacts.weightMap(s, dir))
        val st = documentsStreamParts(s, dir)
          .select(col("doc_id"), Profiling.classifierGoodExpr,
            call_function("graft_char_ngrams", col("text"), lit(3)).as("gr"))
          .filter(size(col("gr")) > 0) // q308 scores only gram-bearing docs
          .filter(expr(
            """cast(conv(substr(md5(cast(doc_id AS string)), 1, 15),
                         16, 10) AS BIGINT) % 4 <> 0""")) // eval split only
          .select(col("good"),
            // native codegen scorer — the s39 discipline (unseen
            // buckets impossible on a training-corpus replay; the
            // 500000 neutral prior fills the default slot)
            call_function("graft_classifier_score", col("gr"), mapCol,
              lit(500000L)).as("wsum"),
            size(col("gr")).cast("long").as("ng"))
          .select(col("good"), expr("wsum div ng").as("score_ppm"))
          .select(col("good"),
            (col("score_ppm") >= lit(tg)).as("in_g"),
            (col("score_ppm") <= lit(tb)).as("in_b"))
        Profiling.conformalCoverage(drain(s, OutputMode.Append())(st).groupBy(),
          lit(ng).as("n_cal_good"), lit(rg).as("r_good"),
          lit(nb).as("n_cal_bad"), lit(rb).as("r_bad"),
          lit(tg).as("thr_good_ppm"), lit(tb).as("thr_bad_ppm"))
      },
      Some(graft.operators.Profiling.conformalOracle))
  ,

    // ---------------------------------------------------------------- s50
    // Streaming prefix-cache monitor — q313 live at the serving edge:
    // each arriving request templatizes and prefixes STREAM-side
    // through CODE SHARED with the batch model (a stateless per-row
    // projection with a constant ×4 k-level fan-out — zero state
    // stores, append mode, per-tick cost O(tick tokens)), and the
    // drained request frame feeds the identical savings rollup. Every
    // request arrives exactly once, so the drained frame IS the batch
    // request frame and the report converges to q313's — oracle
    // VERBATIM, so a dropped tick or a template drift cannot
    // hash-match. This is the cache-dashboard shape: requests stream,
    // the bounded (source, k) savings table falls out at rollup time.
    QueryDef(
      "s50_stream_prefix_cache",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        val reqs = TrainingDataOps.prefixRequests(documentsStreamParts(s, dir))
        TrainingDataOps.prefixCacheReport(
          drain(s, OutputMode.Append())(reqs))
      },
      Some(graft.operators.TrainingDataOps.prefixCacheOracle))
  ,

    // ---------------------------------------------------------------- s51
    // Streaming exact-substring probe — q318's run-coalescing audit as
    // at-ingest screening (the s45 stream-static discipline): the planted
    // re-crawl batch arrives as a stream, each doc's POSITIONAL sliding
    // word-8-grams probe the standing corpus's digest set (derived once
    // from the session-shared GramFrames.word8Pos — the artifact q318
    // also rides) under a stream-static INNER join — stateless, zero
    // state stores, append mode, per-tick cost O(tick grams). Only hit
    // positions flow downstream; the drained (doc_id, source, pos) rows
    // coalesce batch-side into maximal runs through the SAME
    // substringRunReport code q318 uses, so a dropped tick, a stale
    // standing set, or a wrong coalesce cannot hash-match the oracle.
    QueryDef(
      "s51_stream_substring_probe",
      (s, dir) => {
        val standing =
          graft.operators.GramFrames.word8Pos(s, dir)
            .select("h").distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val st = documentsStreamParts(s, dir)
          .filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"), col("source"),
            concat(concat_ws(" ",
              slice(split(col("text"), " "), 6, 1000000)),
              lit(" fresh ending "), col("doc_id")).as("text"))
          .select((col("doc_id") + 800000).as("doc_id"), col("source"),
            col("text"))
          .select(col("doc_id"), col("source"),
            posexplode(call_function("graft_word_ngrams", col("text"),
              lit(8))).as(Seq("pos", "g")))
          .select(col("doc_id"), col("source"),
            col("pos").cast("long").as("pos"), sha2(col("g"), 256).as("h"))
          .join(standing, "h") // stream-static probe: only hits survive
          .select("doc_id", "source", "pos")
        graft.operators.Dedup.substringRunReport(
          drain(s, OutputMode.Append())(st))
      },
      Some(graft.operators.Dedup.substringProbeOracle))
  ,

    // ---------------------------------------------------------------- s52
    // Streaming budget WATER-FILL — q319's allocation fed by at-ingest
    // statistics (the s48 mixture-twin discipline): the per-doc
    // (source, tokens, TTR) projection streams statelessly, and the
    // drained rows water-fill batch-side through the SAME budgetWaterfill
    // code q319 uses — oracle VERBATIM, so a dropped tick shifts a
    // source's availability and cannot hash-match.
    QueryDef(
      "s52_stream_budget_waterfill",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.budgetWaterfill(
          drain(s, OutputMode.Append())(
            TrainingDataOps.budgetPerDoc(documentsStreamParts(s, dir))))
      },
      Some(graft.operators.TrainingDataOps.budgetWaterfillOracle))
  ,

    // ---------------------------------------------------------------- s53
    // Streaming Zipf curve — q322's corpus-law profile fed at ingest
    // (the s52 discipline): arriving docs project to their token stream
    // statelessly, and the drained tokens run the SAME distinct-
    // frequency rank algebra + lower-median slope batch-side — oracle
    // VERBATIM, so a dropped tick shifts a frequency class and cannot
    // hash-match. The per-tick stream work is one narrow explode; all
    // rank arithmetic stays on the drained aggregate.
    QueryDef(
      "s53_stream_zipf_curve",
      (s, dir) => {
        import graft.operators.TextAnalysis
        TextAnalysis.zipfRankSlope(
          drain(s, OutputMode.Append())(
            documentsStreamParts(s, dir)
              .select(explode(split(col("text"), " ")).as("w"))
              .filter(col("w") =!= "")))
      },
      Some(graft.operators.TextAnalysis.zipfRankSlopeOracle))
  ,

    // ---------------------------------------------------------------- s54
    // Streaming PII gate — q323's privacy audit at ingest, the shape a
    // production pipeline actually deploys (PII must be caught BEFORE a
    // document lands anywhere): each arriving doc runs the SHARED
    // per-doc detector half (plants, regex counts, sequential-redaction
    // lengths — all stateless, inside the tick's codegen stage, zero
    // state stores, append mode), and the drained per-doc frame rolls
    // up to q323's per-source report — oracle VERBATIM, so a dropped
    // tick or a detector drift cannot hash-match.
    QueryDef(
      "s54_stream_pii_gate",
      (s, dir) => {
        import graft.operators.TextAnalysis
        TextAnalysis.piiReport(
          drain(s, OutputMode.Append())(
            TextAnalysis.piiPerDoc(TextAnalysis.piiPlanted(
              documentsStreamParts(s, dir)))))
      },
      Some(graft.operators.TextAnalysis.piiOracle))
  ,

    // ---------------------------------------------------------------- s55
    // Streaming speculative-acceptance probe — q324 live at serving
    // time: the 1-token greedy draft table is the STANDING batch
    // artifact (the s49/s39 model-artifact discipline — built once from
    // the corpus, eager-checkpointed), and each arriving request
    // (document) scores its accept flags through a stream-static keyed
    // join against it; per-pair flags drain and the run/acceptance
    // rollup reproduces q324's report — oracle VERBATIM. Per-tick cost
    // is O(tick tokens); the static side is vocabulary-keyed, no
    // broadcast assumption.
    QueryDef(
      "s55_stream_speculative_probe",
      (s, dir) => {
        import graft.operators.TextAnalysis
        // spread (r14, guide §2.5): one-task scan serialized the draft-
        // table pair explode
        val draft = TextAnalysis.specDraft(TextAnalysis.specPairs(
            graft.Tables.spread(graft.Tables(s, dir, "documents"),
              col("doc_id")))).localCheckpoint(true)
        TextAnalysis.specAcceptReport(
          drain(s, OutputMode.Append())(
            TextAnalysis.specPairs(documentsStreamParts(s, dir))
              .join(draft, "a")
              .withColumn("acc",
                when(col("b") === col("db"), 1L).otherwise(0L))
              .select("doc_id", "source", "pos", "acc")))
      },
      Some(graft.operators.TextAnalysis.specAcceptOracle))
  ,

    // ---------------------------------------------------------------- s56
    // Streaming template probe — q326's skeleton dedup at ingest, the
    // catch q25-style raw-hash dedup misses live: the STANDING skeleton
    // set (corpus + the already-registered first variant wave,
    // digest-keyed, eager-checkpointed — the s49 standing-artifact
    // discipline) is probed by each arriving doc's skeleton hash under
    // a stream-static LEFT join; a templatized re-arrival ("… ref
    // 9002" of a known "… ref 4217") hits even though every byte hash
    // is new, while genuinely fresh templates report as novel. Per-tick
    // cost: one stateless skeleton hash + one digest-keyed probe; zero
    // state stores, append mode. The planted arithmetic makes the
    // verdict exact: every second-wave variant MUST hit, every fresh
    // item MUST be novel (oracle hash-pins both).
    QueryDef(
      "s56_stream_template_probe",
      (s, dir) => {
        import graft.operators.Dedup
        // spread (r14, guide §2.5): one-task scan (and its variant
        // union) serialized the skeleton hashing
        val docs = graft.Tables.spread(
          graft.Tables(s, dir, "documents")
            .select("doc_id", "source", "text"), col("doc_id"))
        val standing =
          docs.unionByName(Dedup.templateVariant(docs, 300000, 3, 1))
            .select(Dedup.templateSkeletonH(col("text")).as("h"))
            .distinct()
            .withColumn("known", lit(1L))
            .localCheckpoint(true)
        val flags = drain(s, OutputMode.Append())(
          templateArrivalStreamParts(s, dir)
            .select(col("source"), Dedup.templateSkeletonH(col("text")).as("h"))
            .join(standing, Seq("h"), "left_outer")
            .select(col("source"), coalesce(col("known"), lit(0L)).as("hit")))
        flags.groupBy("source")
          .agg(count(lit(1)).as("n_arrivals"),
            sum("hit").as("template_hits"),
            (count(lit(1)) - sum("hit")).as("novel"))
          .orderBy("source")
      },
      Some("""
        WITH standing AS (
          SELECT DISTINCT md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS h
          FROM (
            SELECT text FROM documents
            UNION ALL
            SELECT text || ' ref ' || CAST(doc_id * 3 + 1 AS VARCHAR)
            FROM documents WHERE doc_id % 9 = 0)),
        arr AS (
          SELECT source, md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS h
          FROM (
            SELECT source,
                   text || ' ref ' || CAST(doc_id * 7 + 2 AS VARCHAR) AS text
            FROM documents WHERE doc_id % 9 = 0
            UNION ALL
            SELECT source,
                   'fresh template item ' || CAST(doc_id AS VARCHAR) AS text
            FROM documents WHERE doc_id % 9 = 1))
        SELECT a.source, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
               CAST(count_if(s.h IS NOT NULL) AS BIGINT) AS template_hits,
               CAST(count_if(s.h IS NULL) AS BIGINT) AS novel
        FROM arr a LEFT JOIN standing s USING (h)
        GROUP BY a.source
        ORDER BY a.source"""))
  ,

    // ---------------------------------------------------------------- s57
    // Streaming code router — q328's pretraining router at ingest,
    // where the routing decision actually happens (a crawled doc enters
    // the code or the prose pipeline the moment it lands): each
    // arriving doc runs the SHARED per-doc signal half (translate-
    // stripped symbol count + keyword hits — stateless, inside the
    // tick's codegen stage, zero state stores, append mode); the
    // drained per-doc frame rolls up to q328's routing report — oracle
    // VERBATIM, so a dropped tick or a signal drift cannot hash-match.
    QueryDef(
      "s57_stream_code_router",
      (s, dir) => {
        import graft.operators.TextAnalysis
        TextAnalysis.codeRouteReport(
          drain(s, OutputMode.Append())(
            TextAnalysis.codePerDoc(TextAnalysis.codeCorpus(
              documentsStreamParts(s, dir)
                .select("doc_id", "source", "text")))))
      },
      Some(graft.operators.TextAnalysis.codeRouteOracle))
  ,

    // ---------------------------------------------------------------- s58
    // Streaming UL2 objective accounting — q329 live at ingest: each
    // arriving doc prices its three denoiser objectives through the
    // SHARED per-doc half (token count, md5-coin block masking with
    // arithmetic span coalescing — all stateless per row, the block
    // fan-out stays inside the tick), and the drained per-(doc,
    // objective) frame rolls up to q329's pricing report — oracle
    // VERBATIM. This is the nightly objective-mix refresh shape: the
    // stream accumulates sufficient statistics, the bounded
    // sources×3 table falls out at rollup time.
    QueryDef(
      "s58_stream_ul2_accounting",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.ul2Report(TrainingDataOps.ul2PerDoc(
          drain(s, OutputMode.Append())(
            TrainingDataOps.ul2Rows(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text")))))
      },
      Some(graft.operators.TrainingDataOps.ul2Oracle))
  ,

    // ---------------------------------------------------------------- s59
    // Streaming temperature sampling — q325's τ=2 mixture plan fed at
    // ingest (the s52 discipline, same drained input shape): arriving
    // docs project to per-doc (source, token count, TTR) statelessly,
    // and the drained frame runs the SAME sqrt-weighted rollup — oracle
    // VERBATIM, so a dropped tick shifts a source's token mass and
    // cannot hash-match. The nightly mixture-refresh shape: the stream
    // accumulates sufficient statistics, the ≤ sources-row sampling
    // plan falls out at rollup time.
    QueryDef(
      "s59_stream_temperature_sampling",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.temperatureSampling(
          drain(s, OutputMode.Append())(
            TrainingDataOps.budgetPerDoc(documentsStreamParts(s, dir))))
      },
      Some(graft.operators.TrainingDataOps.temperatureOracle))
  ,

    // ---------------------------------------------------------------- s60
    // Streaming MoE router probe — q331's dispatch half live at ingest
    // (the shape an expert-parallel trainer's data loader actually
    // runs: tokens route the moment a shard lands): each arriving doc
    // explodes through the SHARED stateless per-token top-2 dispatch
    // (md5-coin gates, 2 rows per token, zero state stores — the s58
    // fan-out precedent), and the drained dispatch frame rolls up
    // through q331's capacity/balance report — oracle VERBATIM, so a
    // dropped tick shifts a (batch, expert) cell count and cannot
    // hash-match.
    QueryDef(
      "s60_stream_moe_router",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.moeReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.moeDispatch(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.TrainingDataOps.moeOracle))
  ,

    // ---------------------------------------------------------------- s61
    // Streaming packing probe — q334's per-doc half live at ingest
    // (the s59 discipline: the stream accumulates per-doc sufficient
    // statistics statelessly, the packing falls out batch-side): each
    // arriving doc projects to (shard, capped token count); the
    // drained frame runs the SAME chop-at-512 packing and
    // document-mask pair accounting — oracle VERBATIM, so a dropped
    // tick shifts a shard's token offsets and cannot hash-match.
    QueryDef(
      "s61_stream_packing_mask",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.packMaskReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.packPerDoc(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.TrainingDataOps.packMaskOracle))
  ,

    // ---------------------------------------------------------------- s62
    // Streaming secret gate — q335's detector half live at ingest,
    // which is where a credential scan must sit (a leaked key
    // quarantines the moment the shard lands, not at the nightly
    // sweep): each arriving doc runs the SHARED stateless per-doc scan
    // (three regex classes + sequential-replace char accounting, all
    // inside the tick's codegen stage, zero state stores), and the
    // drained frame rolls up to q335's per-source credential report —
    // oracle VERBATIM.
    QueryDef(
      "s62_stream_secret_gate",
      (s, dir) => {
        import graft.operators.TextAnalysis
        TextAnalysis.secretReport(
          drain(s, OutputMode.Append())(
            TextAnalysis.secretPerDoc(TextAnalysis.secretPlanted(
              documentsStreamParts(s, dir)
                .select("doc_id", "source", "text")))))
      },
      Some(graft.operators.TextAnalysis.secretOracle))
  ,

    // ---------------------------------------------------------------- s63
    // Streaming GRPO sampler probe — q337's per-sample half live at
    // ingest (the rollout scorer's shape: samples score as they come
    // off the policy, the group verdicts fall out at rollup): each
    // arriving prompt explodes to its 8 md5-coin-scored samples
    // statelessly inside the tick, and the drained sample frame rolls
    // up through q337's group-degeneracy report — oracle VERBATIM, so
    // a dropped tick loses a whole group and cannot hash-match.
    QueryDef(
      "s63_stream_grpo_probe",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.grpoReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.grpoSamples(documentsStreamParts(s, dir)
              .select("doc_id", "source"))))
      },
      Some(graft.operators.TrainingDataOps.grpoOracle))
  ,

    // ---------------------------------------------------------------- s64
    // Streaming edit-distance dedup — q333 live at ingest (the dedup
    // confirm tier run as shards land): arriving docs expand through
    // the SHARED plant projection statelessly inside the tick
    // (originals + last-word-swap near-dups + alien-tail decoys — all
    // pure per-row column arithmetic), and the drained corpus runs the
    // identical digest-candidate + Levenshtein-confirm report — oracle
    // VERBATIM, so a dropped tick loses a candidate pair and cannot
    // hash-match.
    QueryDef(
      "s64_stream_editdist_dedup",
      (s, dir) => {
        import graft.operators.Dedup
        Dedup.levReport(
          drain(s, OutputMode.Append())(
            Dedup.levCorpus(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.Dedup.levOracle))
  ,

    // ---------------------------------------------------------------- s65
    // Streaming dataloader shard skew — q351's straggler audit fed
    // at-ingest (the s48 mixture-twin discipline): each arriving doc's
    // (W, shard, tokens) rows are pure per-row column arithmetic
    // inside the tick, and the drained assignment rolls up through the
    // SAME shardSkewReport code q351 uses — oracle VERBATIM, so a
    // dropped tick shifts a shard's token mass and cannot hash-match.
    QueryDef(
      "s65_stream_shard_skew",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.shardSkewReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.shardAssign(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.TrainingDataOps.shardSkewOracle))
  ,

    // ---------------------------------------------------------------- s66
    // Streaming best-of-n scaling — q352 live at ingest: every
    // arriving prompt explodes to its 8 md5-coin-scored samples
    // statelessly inside the tick (the SHARED grpoSamples projection
    // s63 also streams), and the drained sample frame rolls up
    // through q352's bonReport — oracle VERBATIM, so a dropped tick
    // loses a whole prompt's curve and cannot hash-match.
    QueryDef(
      "s66_stream_best_of_n",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.bonReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.grpoSamples(documentsStreamParts(s, dir)
              .select("doc_id", "source"))))
      },
      Some(graft.operators.TrainingDataOps.bonOracle))
  ,

    // ---------------------------------------------------------------- s67
    // Streaming repetition-loop gate — q353 live at ingest (the
    // synthetic-data degeneracy quarantine run as generations land):
    // the SHARED plant projection is pure per-row column arithmetic
    // inside the tick, and the drained corpus runs the identical
    // per-doc run-coalescing report — oracle VERBATIM, so a dropped
    // tick loses a doc's runs and cannot hash-match.
    QueryDef(
      "s67_stream_repetition_gate",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.loopReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.loopPlanted(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.TrainingDataOps.loopOracle))
  ,

    // ---------------------------------------------------------------- s68
    // Streaming gradient-noise-scale — q361 live over the training
    // telemetry stream: the SHARED per-row projection (batch coin +
    // exact cents) is stateless inside the tick, and the drained rows
    // roll up through q361's gnsReport — oracle VERBATIM, so a dropped
    // tick shifts a batch sum and cannot hash-match. The uid ≥ 0
    // filter in the shared half doubles as the flush-sentinel guard.
    QueryDef(
      "s68_stream_gradient_noise",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.gnsReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.gnsProject(eventsStream(s, dir))))
      },
      Some(graft.operators.TrainingDataOps.gnsOracle))
  ,

    // ---------------------------------------------------------------- s69
    // Streaming chat-mask accounting — q365 live at SFT ingest: the
    // SHARED closed-form per-doc half (no explode, no window) runs
    // statelessly inside the tick, and the drained per-doc frame rolls
    // up through q365's maskReport — oracle VERBATIM, so a dropped
    // tick loses a doc's token masses and cannot hash-match.
    QueryDef(
      "s69_stream_chat_mask",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        TrainingDataOps.maskReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.maskAssign(documentsStreamParts(s, dir)
              .select("doc_id", "source", "text"))))
      },
      Some(graft.operators.TrainingDataOps.maskOracle))
  ,

    // ---------------------------------------------------------------- s70
    // Streaming incremental novelty — q371 live at ingest, and the one
    // family member that exercises Spark's STREAM-STATIC LEFT OUTER
    // join: arriving docs explode into per-doc-distinct gram hashes
    // inside the tick and left-join the STANDING corpus gram index (a
    // static frame on the join's right — the standing-index shape a
    // continuous 100 TB ingest runs); the drained flag frame rolls up
    // through q371's noveltyTickReport — oracle VERBATIM, so a dropped
    // tick loses an arrival's gram mass and cannot hash-match.
    QueryDef(
      "s70_stream_novelty_tick",
      (s, dir) => {
        import graft.operators.TrainingDataOps
        val corpus = s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text")
        TrainingDataOps.noveltyTickReport(
          drain(s, OutputMode.Append())(
            TrainingDataOps.arrivalGramFlags(s,
              novelArrivalStreamParts(s, dir), corpus)))
      },
      Some(graft.operators.TrainingDataOps.noveltyTickOracle))
  )

  /** q107's ingest batch ([[graft.operators.Dedup.ingestBatch]]) as
    * ranged arrivals, one tick per part; s37's verdict join reads the
    * same derived corpus. */
  private def ingestBatchStreamParts(s: SparkSession, dir: String): DataFrame =
    rangedArrivals(s, "stream_ingest_parts", dir, graft.operators.Dedup.ingestBatch(
      s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")))

  /** s70's arrival wave as ranged arrivals — the SHARED q371 plant
    * (TrainingDataOps.novelArrivals: verbatim re-crawls + fresh
    * synthetic items). */
  private def novelArrivalStreamParts(s: SparkSession, dir: String): DataFrame =
    rangedArrivals(s, "stream_novel_parts", dir,
      graft.operators.TrainingDataOps.novelArrivals(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source", "text")))

  /** s56's arriving batch as ranged arrivals: the SECOND
    * template-variant wave (doc_id % 9 == 0, ' ref <7d+2>' suffix —
    * skeleton-known, raw-hash-new) plus genuinely novel items
    * (doc_id % 9 == 1). */
  private def templateArrivalStreamParts(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source", "text")
    rangedArrivals(s, "stream_template_parts", dir,
      graft.operators.Dedup.templateVariant(docs, 400000, 7, 2)
        .unionByName(docs.filter(col("doc_id") % 9 === 1)
          .select((col("doc_id") + 500000).as("doc_id"), col("source"),
            concat(lit("fresh template item "),
              col("doc_id").cast("string")).as("text"))))
  }

  /** s27's oracle, shared verbatim by s28. */
  private[graft] def spendRollupOracle: String = """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS total_cents,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events
        GROUP BY user_id
        ORDER BY user_id"""
}
