package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Emits ONE JSON line (summary fields LAST so a
  * tail-truncated capture still reads total/errors; see layout note below).
  *
  * Measurement notes (VERDICT r01 items 3-4, r02 item 4, r06 items 2/4):
  *  - each query is fully executed via the `noop` sink, not `count()` —
  *    count() lets Catalyst drop global sorts and projections, so it
  *    under-measures real work;
  *  - PHASE SPLIT (r06 item 2): batch (q*), pipeline (p*) and streaming
  *    (s*) queries run in SEPARATE SparkSessions, each stopped before the
  *    next starts. r05→r06 showed the 20 state-store-heavy streaming
  *    queries inflating batch numbers (and each other) by 1.5–6× purely
  *    through shared-JVM heap/state-store contention (s15 31.3 s suite vs
  *    3.9 s iso); a fresh session per family drops executor-side state
  *    caches and lets each family's numbers read clean. The JVM itself
  *    stays warm (codegen + classloader), so cross-phase warmup does not
  *    recur; each phase still runs its own untimed warmup query;
  *  - one untimed warmup query runs per phase so session warmup (codegen,
  *    classloading, parquet footer caching) doesn't inflate the first
  *    timed query (r01's q03 "7.87 s" was warmup, not plan cost);
  *  - each query runs SPARK_GRAFT_BENCH_ITERS times (default 2; the
  *    s-phase runs SPARK_GRAFT_BENCH_ITERS_S, default 1 — r11 item 2:
  *    extra iterations re-pay state-store setup and were >half the
  *    s-phase wall) and reports the MIN — one-shot timings confound
  *    plan cost with whatever the previous query left behind;
  *  - HEADLINE = best of (suite min, iso re-run) per query (r11
  *    item 1): three consecutive rounds' headlines were distorted by
  *    suite-slot contention that every fresh-session probe of the
  *    same plan contradicted; any slot >2x its floor is now auto-
  *    probed in isolation ([[Bench.isSuspect]]) and the published
  *    value is [[Bench.headline]], with the pre-merge suite value
  *    preserved in the full record's `suite_raw` sidecar and the
  *    replaced-slot count on the stdout line (`suite_raw_n`);
  *  - per-query GC time is recorded and emitted as a `gc` map (top-8,
  *    >=100 ms) so a reader can tell heap pressure from a real plan
  *    regression; `gc_total_ms` always reports the whole run;
  *  - the query boundary (`TrackedCaches.releaseAll`) frees each
  *    query's caches and checkpoints after its drain, so queries never
  *    ride earlier queries' leaked caches;
  *  - failures are loud: the query records value -1 and lands in "errors",
  *    never a silently-plausible timing.
  *
  * Self-adjudication (r06 item 2 lifted the cap): suspects — queries
  * whose suite time exceeds their BENCH_FLOORS.json floor by the
  * moderate-growth-with-GC, severe-growth, or absolute-excess triggers,
  * plus any query with no floor yet (first-appearance seeding) — are
  * re-run in a FRESH post-suite session, floor-less first then LARGEST
  * ABSOLUTE EXCESS first ([[Bench.suspectOrder]] — VERDICT r12 item 1:
  * the former ratio order spent the whole budget on sub-second slots
  * while the 3-4 s-excess slots went unprobed), under a WALL BUDGET
  * that scales with the flagged mass ([[Bench.isoBudget]]:
  * max(SPARK_GRAFT_ISO_BUDGET_SEC=240, 2×Σexcess) capped at 900 s)
  * instead of the former `.take(6)` cap that let r06's s24/s29 ship
  * unadjudicated. If the budget still runs out mid-list the line says
  * so ("iso_skipped":N) rather than silently dropping suspects.
  * Floors self-maintain monotonically; s-query iso probes run the
  * s-phase's own iteration count so floors stay under one accounting.
  *
  * JSON layout (r8 item 1): the driver stores the LAST ~2000 chars of
  * stdout, and at 319 queries the full map overflowed it (BENCH_r08
  * lost ~200 entries and stopped parsing). The COMPLETE record
  * (every per-query + _iso + gc + summary) is now written to
  * BENCH_FULL_<sf>.json (env SPARK_GRAFT_BENCH_FULL) and committed;
  * stdout carries a compact, always-parsing line — slowest-12 +
  * iso adjudications + summary fields LAST ([[compactLine]]).
  * The full record's `stages` map holds each slot's [[StageAnatomy]];
  * the line's `serial_hot` names the top-3 slots with serial stages.
  */
/** Cache-event counters (VERDICT r10 item 1): suite-slot anomalies
  * (q297 r9, q83 r10) were block-eviction/recompute storms invisible in
  * the artifact — a slow slot read as "the operator regressed" until a
  * round-long iso hunt said otherwise. Counts per RDD block: RE-ADDS
  * (the same block cached again after being dropped = a recompute
  * paid), SPILLS (a MEMORY_AND_DISK block demoted to disk-only under
  * memory pressure) and EVICTS (block dropped entirely under pressure).
  * Deliberate unpersists emit SparkListenerUnpersistRDD, not
  * BlockUpdated, so the post-drain query boundary never masquerades
  * as evictions — every nonzero count here is memory pressure. Listener
  * delivery is async, so per-query attribution is approximate (± the
  * bus lag), which is fine for the "is this slot churning its caches"
  * question. Classification logic is unit-tested (BenchSpec) against
  * synthetic block events.
  */
final class CacheEvents extends org.apache.spark.scheduler.SparkListener {
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val readds = new java.util.concurrent.atomic.AtomicLong
  val spills = new java.util.concurrent.atomic.AtomicLong
  val evicts = new java.util.concurrent.atomic.AtomicLong
  /** The classification core, separated from the listener plumbing so a
    * spec can drive it with synthetic (blockId, level) pairs. */
  def record(blockId: org.apache.spark.storage.BlockId,
      lvl: org.apache.spark.storage.StorageLevel): Unit =
    if (blockId.isRDD) {
      if (!lvl.isValid) evicts.incrementAndGet()
      else if (!lvl.useMemory && lvl.useDisk) spills.incrementAndGet()
      else if (!seen.add(blockId.name)) readds.incrementAndGet()
    }
  override def onBlockUpdated(
      e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
    record(e.blockUpdatedInfo.blockId, e.blockUpdatedInfo.storageLevel)
  def snapshot: (Long, Long, Long) = (readds.get, spills.get, evicts.get)
}

/** Per-slot stage anatomy, the record's answer to "where did this slot's
  * time go": jobs, stages, tasks, Σ task run time, the longest task,
  * shuffle and spill volume, effective parallelism, serial stages, and
  * the Janino compiles the drain paid ([[compiled]]): a query that
  * recompiles its code on every run shows here.
  *
  * Attribution is by slot, not by timing: Bench sets [[StageAnatomy.Key]]
  * as a local property around each measured drain ([[StageAnatomy.within]]).
  * Spark stamps local properties on every job and stage it submits, and
  * child threads — a stream's execution thread included — inherit them.
  * The job group is not used because Structured Streaming overwrites it
  * with the run id. Read a slot only after its session has stopped:
  * `SparkContext.stop` drains the listener bus, so no event is still in
  * flight.
  *
  * A SERIAL stage (one stage attempt) ran more than 0.5 s of task time
  * at under 1.5 tasks' worth of parallelism (Σrun / longest task) — the
  * rule perfbench's `SparkLayer.window` applies, so the two records
  * agree. The accumulation core ([[task]], [[summary]]) is separated from
  * the listener plumbing so BenchSpec drives it with synthetic tasks.
  */
final class StageAnatomy extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private final class Slot {
    var jobs = 0
    var tasks, runMs, maxMs, readB, writeB, spillB, compiles, compileNs = 0L
    // (stage, attempt) -> (Σ run ms, longest task ms)
    val stages = scala.collection.mutable.Map.empty[(Int, Int), (Long, Long)]
  }
  private val slots = scala.collection.mutable.Map.empty[String, Slot]
  private val stageSlot = scala.collection.mutable.Map.empty[Int, String]
  private def slotOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(StageAnatomy.Key)))

  def task(slot: String, stage: Int, attempt: Int, runMs: Long,
      readB: Long, writeB: Long, spillB: Long): Unit = synchronized {
    val s = slots.getOrElseUpdate(slot, new Slot)
    s.tasks += 1; s.runMs += runMs; s.maxMs = math.max(s.maxMs, runMs)
    s.readB += readB; s.writeB += writeB; s.spillB += spillB
    val (sum, max) = s.stages.getOrElse((stage, attempt), (0L, 0L))
    s.stages((stage, attempt)) = (sum + runMs, math.max(max, runMs))
  }

  /** Adds a drain's compile deltas ([[StageAnatomy.compiles]]) to `slot`. */
  def compiled(slot: String, count: Long, ns: Long): Unit = synchronized {
    val s = slots.getOrElseUpdate(slot, new Slot)
    s.compiles += count; s.compileNs += ns
  }

  /** The slot's anatomy over a drain of `wallSec` on `cores` cores. */
  def summary(slot: String, wallSec: Double, cores: Int)
      : StageAnatomy.Summary = synchronized {
    val s = slots.getOrElse(slot, new Slot)
    val serial = s.stages.values.filter { case (sum, max) =>
      sum > 500 && sum.toDouble / math.max(max, 1L) < 1.5 }
    StageAnatomy.Summary(s.jobs, s.stages.size, s.tasks, s.runMs / 1e3,
      s.maxMs / 1e3, s.readB / 1e6, s.writeB / 1e6, s.spillB / 1e6,
      s.runMs / 1e3 / (math.max(wallSec, 1e-3) * cores),
      serial.size, serial.map(_._1).sum / 1e3, s.compiles, s.compileNs / 1e9)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    slotOf(e.properties).foreach { k => slots.getOrElseUpdate(k, new Slot).jobs += 1 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      slotOf(e.properties).foreach(k => stageSlot(e.stageInfo.stageId) = k)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val slot = synchronized(stageSlot.get(e.stageId))
    if (m != null) slot.foreach(task(_, e.stageId, e.stageAttemptId,
      m.executorRunTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }
}

object StageAnatomy {
  val Key = "graft.bench.slot"

  final case class Summary(jobs: Int, stages: Int, tasks: Long,
      taskRunS: Double, taskMaxS: Double, shuffleReadMb: Double,
      shuffleWriteMb: Double, spillMb: Double, effParallelism: Double,
      serialStages: Int, serialS: Double, compiles: Long, compileS: Double)

  /** Runs `body` with every job it submits attributed to `slot`. */
  def within[T](sc: org.apache.spark.SparkContext, slot: String)(body: => T): T = {
    sc.setLocalProperty(Key, slot)
    try body finally sc.setLocalProperty(Key, null)
  }

  /** The JVM's Janino compiles so far: (classes, nanoseconds). A codegen
    * cache hit adds to neither, so the delta over a drain is what that
    * drain compiled. */
  def compiles: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

object Bench {
  /** Suspect predicate (VERDICT r11 item 1), pure for BenchSpec. A
    * suite slot is re-adjudicated in isolation when it exceeds its
    * floor by: (a) >1.5x with GC >=10% of wall (heap-contention
    * smell); (b) >2.0x REGARDLESS of GC — the r11 tightening: 30
    * suite slots sat above 2x floor while every probed iso was clean,
    * so anything past 2x is presumed slot noise until a fresh session
    * confirms it (this subsumes the former >3x severe trigger); (c)
    * >1.5x AND more than 2 s absolute excess (the r7 blind band); (d)
    * no floor yet (first appearance always seeds from isolation). */
  def isSuspect(v: Double, gcMs: Long, floor: Option[Double]): Boolean =
    v >= 0 && floor.forall(fl =>
      (v > fl * 1.5 && gcMs >= v * 1000 * 0.10) ||
        v > fl * 2.0 ||
        (v > fl * 1.5 && v - fl > 2.0))

  /** Headline merge (VERDICT r11 item 1), pure for BenchSpec: the
    * published per-query value is the best of the suite pass and the
    * iso re-run — a suite slot inflated by neighbors' GC/state churn
    * must not become the round's headline when a fresh-session probe
    * of the SAME plan in the SAME run measured it clean. The raw
    * suite value survives in the `suite_raw` sidecar whenever the iso
    * replaced it, so contention stays visible without steering trend
    * reads. A failed iso (-1) never replaces a real suite number. */
  def headline(suite: Double, iso: Option[Double]): Double =
    if (suite < 0) suite
    else iso.filter(_ >= 0).map(math.min(suite, _)).getOrElse(suite)

  /** Iso-probe ordering (VERDICT r12 item 1), pure for BenchSpec.
    * Floor-less queries first (first-appearance seeding must never be
    * starved — ADVICE r8), worst suite time first within them; then
    * floored suspects by ABSOLUTE EXCESS SECONDS `v − floor`, largest
    * first. The former ratio order (`−v/floor`) let a globally hot run
    * spend the whole budget adjudicating sub-second slots at 4× floor
    * while the 3–4 s-excess slots — the ones that actually moved the
    * headline — went unprobed (r12: 83 skipped, every largest-excess
    * slot among them). Excess seconds IS the headline's unit, so the
    * probe order now matches what a probe can win back. */
  def suspectOrder(flagged: Seq[(String, Double, Option[Double])])
      : Seq[(String, Double, Option[Double])] = {
    val (noFloor, grew) = flagged.partition(_._3.isEmpty)
    noFloor.sortBy { case (_, v, _) => -v } ++
      grew.sortBy { case (_, v, fl) => -(v - fl.get) }
  }

  /** Total seconds of suite time above floor across the flagged set —
    * floor-less slots count in full (their whole time is unvouched). */
  def excessMass(flagged: Seq[(String, Double, Option[Double])]): Double =
    flagged.collect { case (_, v, fl) if v >= 0 =>
      (v - fl.getOrElse(0.0)).max(0.0) }.sum

  /** Iso wall budget (VERDICT r12 item 1): scales with the flagged
    * mass — a hot run that inflates 90 slots needs more adjudication
    * wall than a clean one, and a fixed 240 s is exactly what expired
    * mid-list in r12. 2× the excess mass (each probe costs roughly
    * floor + excess-to-disprove), never below `base`, capped at 900 s
    * so a pathological run stays bounded. */
  def isoBudget(base: Double,
      flagged: Seq[(String, Double, Option[Double])]): Double =
    // Only the excess-scaled GROWTH is capped at 900 s — an operator
    // who explicitly sets SPARK_GRAFT_ISO_BUDGET_SEC above 900 is
    // honored verbatim (ADVICE r13: the flat min() silently cut an
    // explicit 1200 s request to 900).
    math.min(math.max(base, 2.0 * excessMass(flagged)),
      math.max(900.0, base))

  /** Build-charged slot split (VERDICT r13 item 2), pure for BenchSpec.
    * Input: one (raw wall sec, shared-build self seconds paid inside
    * it) pair per measurement iteration. Published slot = min over
    * iterations of (raw − build): any iteration's build-excluded time
    * upper-bounds the steady state, so the slot records STEADY-STATE
    * seconds only — s39 went 3.97→14.67 s in r13 purely because the
    * shared gram build moved into its slot; the split ends that
    * confound for every `shared_builds` payer. Returns (steady,
    * rawMin); rawMin rides the suite_raw sidecar whenever it differs,
    * and the build seconds go to the run-level `builds` line. */
  def steadySlot(its: Seq[(Double, Double)]): (Double, Double) = {
    val steady = its.map { case (raw, b) => (raw - b).max(0.0) }.min
    (steady, its.map(_._1).min)
  }

  /** What the record's summary fields and the stdout line are built
    * from. Slot names are short (`q50`, `s14`); a failed slot is -1. */
  final case class Record(slots: Seq[(String, Double)], iso: Seq[(String, Double)],
      gcMs: Seq[(String, Long)],
      cache: Seq[(String, (Long, Long, Long))], // (readd, spill, evict) ≠ 0
      stages: Seq[(String, StageAnatomy.Summary)], phaseSec: Seq[(String, Double)],
      builds: Seq[(String, Double)], // run-level self seconds per tag
      isoSkipped: Seq[String], gcTotalMs: Long, suiteRawN: Int,
      suiteTotal: Double, errors: Seq[String], sf: String, value: Double)

  // Times are rounded to ms to keep the line compact. Locale.ROOT: the
  // f-interpolator honors the JVM default locale and would emit comma
  // decimals (invalid JSON) on e.g. de_DE containers.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def quote(s: String): String = "\"" + s + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")

  /** Per-slot GC: the top-8 noisiest at ≥100 ms only, so a contended
    * run cannot push dozens of entries onto the line. */
  private def gcJson(r: Record): String =
    obj(r.gcMs.filter(_._2 >= 100).sortBy(-_._2).take(8).sortBy(_._1)
      .map { case (k, g) => k -> g.toString })

  /** The summary fields, LAST on the line and in the full record so a
    * tail-truncated capture still reads total/errors. At most
    * `skipsShown` iso-skipped slots are named; `iso_skipped` counts all
    * of them (VERDICT r8 item 3: name the unadjudicated). */
  private def summaryFields(r: Record, skipsShown: Int): String = {
    val skips =
      if (r.isoSkipped.isEmpty) ""
      else s""","iso_skipped":${r.isoSkipped.size},"iso_skipped_names":""" +
        r.isoSkipped.sorted.take(skipsShown).map(quote).mkString("[", ",", "]")
    s""""gc_total_ms":${r.gcTotalMs},"phase_sec":""" +
      obj(r.phaseSec.map { case (f, v) => f -> fmt(v) }) +
      ",\"builds\":" + obj(r.builds.map { case (t, v) => t -> fmt(v) }) +
      skips +
      s""","suite_raw_n":${r.suiteRawN},"suite_total":${fmt(r.suiteTotal)}""" +
      ",\"errors\":" + r.errors.sorted.map(quote).mkString("[", ",", "]") +
      s""","sf":"${r.sf}","metric":"total","unit":"sec","value":${fmt(r.value)}"""
  }

  /** The stdout line (VERDICT r8 item 1: a run's record keeps only the
    * last ~2000 chars of stdout). It stays under 1.5 KB because every map on
    * it is capped: the 12 slowest slots, the 24 worst iso adjudications,
    * the gc top-8, the top-3 cache churners and serial-stage carriers,
    * and 3 named iso skips. The per-phase `harness_sec` and the
    * `shared_builds` payer map grow with the run, so they live in the
    * full record only, which `full` names. */
  def compactLine(r: Record, full: String): String = {
    val slow = r.slots.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => k -> fmt(v) }
    val iso = r.iso.sortBy(-_._2).take(24)
      .map { case (k, v) => s"${k}_iso" -> fmt(v) }
    // a slot anomaly names itself in the captured line
    val cacheHot = r.cache.sortBy { case (_, (rd, sp, _)) => -(rd + sp) }.take(3)
      .map { case (k, (rd, sp, ev)) => k -> quote(s"${rd}r/${sp}s/${ev}e") }
    // "<serial stages>/<their Σrun>s": a slot whose work ran on one core
    val serialHot = r.stages.filter(_._2.serialStages > 0)
      .sortBy { case (_, a) => -a.serialS }.take(3)
      .map { case (k, a) => k -> quote(s"${a.serialStages}/${fmt(a.serialS)}s") }
    s"""{"queries":${obj(slow)},"iso":${obj(iso)},"n_queries":${r.slots.size},""" +
      s""""full":$full,"gc":${gcJson(r)},"cache_hot":${obj(cacheHot)},""" +
      s""""serial_hot":${obj(serialHot)},${summaryFields(r, 3)}}"""
  }

  def main(args: Array[String]): Unit = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    // streaming measurement iters default to 1 (VERDICT r11 item 2):
    // r11 spent 217.9 s of a 395.7 s s-phase re-running state-store
    // setup for non-min extra iterations — more than half the phase
    // was harness. One pass per s-query + iso-on-demand adjudication
    // (the isSuspect triggers) keeps the floor discipline without
    // paying state-store setup twice for every healthy query.
    val itersS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS_S", "1").toInt.max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val isoBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_ISO_BUDGET_SEC", "240").toDouble

    def newSession(): SparkSession = {
      val s = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    var cacheEvents = new CacheEvents // rebound per session

    def drain(spark: SparkSession, name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally graft.operators.TrackedCaches.releaseAll()

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

    var errors = List.empty[String]
    val selected = // optional args restrict the run (local iteration aid)
      if (args.nonEmpty) SparkEntry.queries.keys.toSeq.filter(args.contains).sorted
      else SparkEntry.queries.keys.toSeq.sorted
    val gcStart = gcMillis()

    // BENCH_FLOORS.json records the best-known per-query seconds, flat
    // keys "sf0.1/q01". Floors self-maintain: every run lowers them
    // monotonically (best of suite run, iso re-run, old floor). Loaded
    // up-front so phase warmups can pick their family's cheapest member.
    val sfKey = new java.io.File(sfDir).getName
    val floorsFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_FLOORS", "BENCH_FLOORS.json"))
    val floorRe = """"([^"]+)":([0-9.]+)""".r
    val floors: Map[String, Double] =
      if (!floorsFile.exists) Map.empty
      else {
        val src = scala.io.Source.fromFile(floorsFile)
        try floorRe.findAllMatchIn(src.mkString)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        finally src.close()
      }
    def floorOf(name: String): Option[Double] =
      floors.get(s"$sfKey/${name.takeWhile(_ != '_')}")

    // Phase split: family -> (queries, warmup query for that family).
    // EVERY phase warms up with its own cheapest-by-floor member (ADVICE
    // r7: the p/s phases had no warmup, so their first timed query
    // absorbed fresh-session costs — file-listing/footer caches, first
    // state-store init — inflating its floor). Warmups come from the
    // selected set's own family so a restricted run doesn't pay for (or
    // fail on) an unrelated query; a floor-less family falls back to its
    // first member, and the warmup cost is bounded by being the family's
    // cheapest known query.
    def cheapest(names: Seq[String]): Option[String] =
      names.sortBy(n => floorOf(n).getOrElse(Double.MaxValue)).headOption
    val phases: Seq[(String, Seq[String], Option[String])] =
      Seq("q", "p", "s").map { f =>
        val names = selected.filter(_.startsWith(f))
        (f, names, cheapest(names))
      }

    var phaseSecs = List.empty[(String, Double)]
    // phase -> (warmup_sec, extra_iters_sec, session_sec) — VERDICT r10
    // item 3: phase_sec charged ~60% of the s-phase to no query (state
    // stores, warmups, extra measurement iterations), so phase trends
    // partly measured accounting. Now phase_sec ≈ Σ per-query(min) +
    // harness(warmup + extra_iters + session) + residual, each named.
    // phase -> shared-build seconds paid inside the MEASUREMENT region
    // (post-warmup; warmup-triggered builds live in warmup_sec)
    var phaseBuilds = List.empty[(String, Double)]
    // slot short-name -> raw (build-included) suite min, recorded only
    // when it differs from the published steady value
    var rawMins = Map.empty[String, Double]
    var phaseHarness = List.empty[(String, (Double, Double, Double))]
    var sharedBuilds = List.empty[(String, Seq[String])]
    // per-query cache-event deltas (readd, spill, evict) — nonzero only
    var cacheDeltas = List.empty[(String, (Long, Long, Long))]
    // s-phase setup/steady split (VERDICT r12 item 4): per s-query
    // (total, first-batch, steady = total − first, batches) of the
    // MIN-achieving iteration — under 1-iteration accounting the slot
    // conflates state-store setup with operator cost, so round trends
    // should read `steady`; `batches` disambiguates single-batch drains
    // (steady ≈ post-processing only) from multi-batch ones. Since r14
    // `total` is the PUBLISHED (build-subtracted) slot; a drain whose
    // first batch paid a shared build can show first > total and a
    // clamped steady of 0 — read the builds line alongside.
    var sSplit = List.empty[(String, (Double, Double, Long))]
    // per-slot stage anatomy of the min-raw iteration (the one s_split
    // reads), summarised once its phase's session has stopped
    var stageRecs = List.empty[(String, StageAnatomy.Summary)]
    val results = phases.flatMap { case (family, names, warmup) =>
      if (names.isEmpty) Seq.empty
      else {
        val phaseT0 = System.nanoTime()
        val spark = newSession()
        if (family == "s") graft.streaming.StreamDrainStats.enable()
        cacheEvents = new CacheEvents
        spark.sparkContext.addSparkListener(cacheEvents)
        val anatomy = new StageAnatomy
        spark.sparkContext.addSparkListener(anatomy)
        // slot short-name -> (anatomy key, raw wall sec) of its min-raw
        // iteration
        var phaseSlots = List.empty[(String, String, Double)]
        val warmT0 = System.nanoTime()
        warmup.foreach { w =>
          try drain(spark, w)
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
        }
        val warmupSec = (System.nanoTime() - warmT0) / 1e9
        var extraIters = 0.0
        // snapshot AFTER warmup: warmup-triggered builds are already
        // inside warmup_sec and must not double-count in builds
        val btPhase0 = graft.operators.SharedBuilds.timingCount
        val famIters = if (family == "s") itersS else iters
        val rs = names.map { name =>
          val gc0 = gcMillis()
          // ADVICE r8: note which query paid each shared-artifact build
          // (PairGraph / ClassifierArtifacts / BM25 scorer) — later
          // consumers run memo-warm, so per-query numbers are only
          // interpretable with the payer named in the full record
          val b0 = graft.operators.SharedBuilds.timingCount
          val ce0 = cacheEvents.snapshot
          try {
            val iterRs = (1 to famIters).map { i =>
              if (family == "s") graft.streaming.StreamDrainStats.reset()
              val bt0 = graft.operators.SharedBuilds.timingCount
              val key = s"$name#$i"
              val (cg0, cgNs0) = StageAnatomy.compiles
              val sec = StageAnatomy.within(spark.sparkContext, key) {
                val t0 = System.nanoTime()
                // release stays INSIDE the timed region (floor
                // comparability with prior rounds); deltas span the
                // whole query including its releases, which is safe
                // because deliberate unpersists don't reach the
                // BlockUpdated counters (see CacheEvents note)
                drain(spark, name)
                (System.nanoTime() - t0) / 1e9
              }
              val (cg1, cgNs1) = StageAnatomy.compiles
              anatomy.compiled(key, cg1 - cg0, cgNs1 - cgNs0)
              val bSec = graft.operators.SharedBuilds
                .timingsSince(bt0).map(_._2).sum
              val split =
                if (family == "s")
                  Some(graft.streaming.StreamDrainStats.snapshot)
                else None
              (sec, split, bSec, key)
            }
            val times = iterRs.map(_._1)
            // slot = steady state only (VERDICT r13 item 2); the
            // subtracted build seconds land on the `builds` line and
            // the raw min rides suite_raw
            val (steady, rawMin) =
              steadySlot(iterRs.map(r => (r._1, r._3)))
            val short = name.takeWhile(_ != '_')
            if (rawMin > steady + 5e-3) rawMins += (short -> rawMin)
            val best = iterRs.minBy(_._1)
            best._2.foreach { case (first, nb) =>
              sSplit ::= (short, (steady, first, nb))
            }
            phaseSlots ::= (short, best._4, best._1)
            val tags = graft.operators.SharedBuilds.timingsSince(b0)
              .map(_._1).distinct
            if (tags.nonEmpty)
              sharedBuilds ::= (short, tags)
            val ce1 = cacheEvents.snapshot
            val d = (ce1._1 - ce0._1, ce1._2 - ce0._2, ce1._3 - ce0._3)
            if (d._1 + d._2 + d._3 > 0)
              cacheDeltas ::= (short, d)
            extraIters +=
              ((times.sum - iterRs.map(_._3).sum) - steady).max(0.0)
            (name, steady, gcMillis() - gc0)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              errors ::= name
              (name, -1.0, gcMillis() - gc0)
          }
        }
        if (family == "s") graft.streaming.StreamDrainStats.disable()
        phaseBuilds ::= (family, graft.operators.SharedBuilds
          .timingsSince(btPhase0).map(_._2).sum)
        val stopT0 = System.nanoTime()
        spark.stop()
        val sessionSec = (System.nanoTime() - stopT0) / 1e9
        stageRecs ++= phaseSlots.map { case (short, key, wall) =>
          short -> anatomy.summary(key, wall, cpus.toInt) }
        phaseSecs ::= (family, (System.nanoTime() - phaseT0) / 1e9)
        phaseHarness ::= (family, (warmupSec, extraIters, sessionSec))
        rs
      }
    }

    // ---- self-adjudication (wall-budgeted, no suspect cap) ----
    // Trigger set lives in [[isSuspect]] (pure, BenchSpec-tested);
    // headline publication in [[headline]] — see their scaladoc.
    val flagged = results.filter { case (name, v, g) =>
      isSuspect(v, g, floorOf(name))
    }
    // Ordering + budget are pure, BenchSpec-tested ([[suspectOrder]],
    // [[isoBudget]]): floor-less first for seeding, then largest
    // ABSOLUTE EXCESS first (VERDICT r12 item 1 — the former ratio
    // order skipped every largest-excess slot when the fixed 240 s
    // budget expired), under a budget that scales with flagged mass.
    val withFloors = flagged.map { case (n, v, g) => (n, v, floorOf(n)) }
    val suspects = suspectOrder(withFloors)
    val effectiveBudget = isoBudget(isoBudgetSec, withFloors)
    var isoSkippedNames = List.empty[String]
    val isoResults = if (suspects.isEmpty) Seq.empty else {
      val isoSpark = newSession() // fresh post-suite session
      val isoT0 = System.nanoTime()
      val rs = suspects.flatMap { case (name, _, _) =>
        if ((System.nanoTime() - isoT0) / 1e9 > effectiveBudget) {
          // VERDICT r8 item 3: name the unadjudicated, not just count
          isoSkippedNames ::= name.takeWhile(_ != '_'); None
        } else {
          // family-correct iteration count (VERDICT r12 item 2): s-query
          // iso probes run itersS like the suite does, so iso numbers —
          // and the floors they seed — live under the SAME 1-iteration
          // state-store accounting as the values they adjudicate
          val famIters = if (name.startsWith("s")) itersS else iters
          // iso probes live under the same steady-state accounting as
          // the slots they adjudicate: a payer rebuilds its shared
          // artifact in the fresh session, and that build must not
          // read as slot time here either
          val t =
            try (1 to famIters).map { _ =>
              val bt0 = graft.operators.SharedBuilds.timingCount
              val t0 = System.nanoTime(); drain(isoSpark, name)
              val raw = (System.nanoTime() - t0) / 1e9
              (raw - graft.operators.SharedBuilds
                .timingsSince(bt0).map(_._2).sum).max(0.0)
            }.min
            catch { case _: Throwable => -1.0 }
          Some((name.takeWhile(_ != '_'), t))
        }
      }
      isoSpark.stop()
      rs
    }
    // floors: keep the best of (old floor, this run, isolated re-run)
    val isoMap = isoResults.toMap
    // headline publication (VERDICT r11 item 1): per-query value =
    // best of (suite, iso); the pre-merge suite value rides the
    // suite_raw sidecar for every slot the iso replaced
    val headlined = results.map { case (name, v, g) =>
      (name, headline(v, isoMap.get(name.takeWhile(_ != '_'))), g)
    }
    // suite_raw = the PRE-split, pre-iso suite number whenever the
    // published value differs from it (build subtraction, iso
    // replacement, or both) — the r13 trend line stays reconstructable
    val suiteRaw = results.flatMap { case (name, v, _) =>
      val short = name.takeWhile(_ != '_')
      val raw = rawMins.getOrElse(short, v)
      if (headline(v, isoMap.get(short)) < raw - 5e-3) Some(short -> raw)
      else None
    }
    val floorUpdates = results.collect { case (name, v, _) if v >= 0 =>
      val short = name.takeWhile(_ != '_')
      val best = math.min(v, isoMap.get(short).filter(_ >= 0).getOrElse(v))
      val key = s"$sfKey/$short"
      key -> math.min(best, floors.getOrElse(key, Double.MaxValue))
    }

    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == shortKeys.size,
      s"bench key prefixes collide: ${shortKeys.diff(shortKeys.distinct).mkString(",")}")
    val qs = obj(headlined.map { case (k, v, _) => k.takeWhile(_ != '_') -> fmt(v) } ++
      isoResults.map { case (k, v) => s"${k}_iso" -> fmt(v) })
    val suiteRawJson = obj(suiteRaw.sortBy(_._1).map { case (k, v) => k -> fmt(v) })
    // ADVICE r12: the RAW suite total rides the line beside the
    // headline `value` (best-of-suite/iso) so trend readers can compare
    // like-for-like suite conditions round over round — per-slot
    // suite_raw alone couldn't reconstruct it without the full record.
    // Raw = build-INCLUDED (r13-comparable); `value` is steady-only.
    val suiteTotal = results.collect { case (name, v, _) if v >= 0 =>
      rawMins.getOrElse(name.takeWhile(_ != '_'), v) }.sum
    // harness_sec decomposition per phase (VERDICT r10 item 3):
    // phase_sec = Σ per-query(min) + warmup + extra_iters (the non-min
    // measurement iterations) + stop (session teardown) + other (session
    // create, gc/counter bookkeeping, listener lag) — "other" is derived
    // so the identity holds exactly and a reader can see at a glance how
    // much of a phase was operators vs scaffolding.
    val phaseQuerySum: Map[String, Double] = results
      .collect { case (n, v, _) if v >= 0 => (n.take(1), v) }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
    val harnessJson = obj(phaseHarness.reverse.map { case (f, (w, x, st)) =>
      val wall = phaseSecs.find(_._1 == f).map(_._2).getOrElse(0.0)
      val b = phaseBuilds.find(_._1 == f).map(_._2).getOrElse(0.0)
      val other =
        (wall - phaseQuerySum.getOrElse(f, 0.0) - w - x - st - b).max(0.0)
      f -> obj(Seq("warmup" -> fmt(w), "extra_iters" -> fmt(x),
        "stop" -> fmt(st), "builds" -> fmt(b), "other" -> fmt(other)))
    })
    // per-query cache churn, nonzero entries only (VERDICT r10 item 1)
    val cacheJson = obj(cacheDeltas.reverse.sortBy(_._1).map { case (k, (r, sp, ev)) =>
      k -> obj(Seq("readd" -> r.toString, "spill" -> sp.toString, "evict" -> ev.toString))
    })
    val sharedJson = obj(sharedBuilds.reverse.map { case (q, tags) => q -> quote(tags.mkString("+")) })
    // run-level shared-build seconds per tag (VERDICT r13 item 2): every
    // timed build in the JVM — warmups, suite slots, iso session rebuilds
    // — so Σ(builds) + Σ(steady slots) + harness reconstructs the wall,
    // and a tag that rebuilds twice (iso session) shows as its summed
    // cost. Self time only: nested builds never double in.
    val builds = graft.operators.SharedBuilds.timingsSince(0).groupBy(_._1).toSeq
      .sortBy(_._1).map { case (tag, xs) => (tag, xs.map(_._2).sum) }
    val record = Record(headlined.map { case (k, v, _) => (k.takeWhile(_ != '_'), v) },
      isoResults, results.map { case (k, _, g) => (k.takeWhile(_ != '_'), g) },
      cacheDeltas, stageRecs, phaseSecs.reverse, builds, isoSkippedNames,
      gcMillis() - gcStart, suiteRaw.size, suiteTotal, errors.map(_.takeWhile(_ != '_')),
      sfDir, headlined.collect { case (_, v, _) if v >= 0 => v }.sum)

    // FULL per-query record → a per-round committed file (VERDICT r8
    // item 1: the 319-entry line overflowed the driver's ~2000-char
    // stdout capture — BENCH_r08.json lost ~200 per-query entries and
    // stopped parsing as JSON; the complete map now lives on disk next
    // to BENCH_FLOORS.json and stdout stays compact).
    val fullFile = new java.io.File(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_FULL", s"BENCH_FULL_$sfKey.json"))
    // ADVICE r9: if this write fails the stdout line must say so
    // ("full":null) instead of advertising a file that was never written.
    // s-phase split map (VERDICT r12 item 4) — full record only
    val sSplitJson = obj(sSplit.reverse.sortBy(_._1).map { case (k, (tot, first, nb)) =>
      k -> obj(Seq("total" -> fmt(tot), "first" -> fmt(first),
        "steady" -> fmt((tot - first).max(0.0)), "batches" -> nb.toString))
    })
    // stage anatomy per slot — full record only; serial_hot on the line
    // carries its top-3
    val stagesJson = obj(stageRecs.sortBy(_._1).map { case (k, a) =>
      k -> obj(Seq("jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
        "tasks" -> a.tasks.toString, "task_run_s" -> fmt(a.taskRunS),
        "task_max_s" -> fmt(a.taskMaxS), "shuffle_read_mb" -> fmt(a.shuffleReadMb),
        "shuffle_write_mb" -> fmt(a.shuffleWriteMb), "spill_mb" -> fmt(a.spillMb),
        "eff_parallelism" -> fmt(a.effParallelism),
        "serial_stages" -> a.serialStages.toString, "serial_s" -> fmt(a.serialS),
        "compiles" -> a.compiles.toString, "compile_s" -> fmt(a.compileS)))
    })
    val fullWritten =
      try {
        java.nio.file.Files.writeString(fullFile.toPath,
          s"""{"queries":$qs,"suite_raw":$suiteRawJson,"s_split":$sSplitJson,"gc":${gcJson(record)},"cache_events":$cacheJson,"stages":$stagesJson,"harness_sec":$harnessJson,"shared_builds":$sharedJson,${summaryFields(record, Int.MaxValue)}}""" + "\n")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] full-record write failed: ${e.getMessage}")
          false
      }
    val fullField = if (fullWritten) quote(fullFile.getName) else "null"

    try {
      val merged = obj((floors ++ floorUpdates).toSeq.sorted.map { case (k, v) => k -> fmt(v) })
      java.nio.file.Files.writeString(floorsFile.toPath, merged + "\n")
    } catch {
      case e: Throwable => System.err.println(s"[bench] floor update failed: ${e.getMessage}")
    }
    // VERDICT r9 item 2: the summary is the LAST thing this JVM writes to
    // stdout (all file writes above, sessions already stopped), flushed
    // explicitly. build.sbt's `run / outputStrategy := StdoutOutput` +
    // `showSuccess := false` guarantee sbt neither prefixes this line nor
    // prints after it.
    System.out.println(compactLine(record, fullField))
    System.out.flush()
  }
}
