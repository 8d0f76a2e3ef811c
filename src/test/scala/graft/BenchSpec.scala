package graft

import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

/** Unit tier for the bench harness's cache-event classifier: the full
  * sf0.1 suite runs pressure-free on this box (cache_events = {} is the
  * healthy reading), so the classification logic is proven here against
  * synthetic block events rather than waiting for a contended round to
  * exercise it in production.
  */
class BenchSpec extends AnyFunSuite {

  test("cache-event classifier: add / re-add / spill / evict / non-RDD") {
    val ce = new CacheEvents
    val b0 = RDDBlockId(7, 0)
    // first materialization: an add, not a re-add
    ce.record(b0, StorageLevel.MEMORY_AND_DISK)
    assert(ce.snapshot == ((0L, 0L, 0L)))
    // same block stored again (it was dropped and recomputed) → re-add
    ce.record(b0, StorageLevel.MEMORY_AND_DISK)
    assert(ce.snapshot == ((1L, 0L, 0L)))
    // memory→disk demotion under pressure → spill
    ce.record(RDDBlockId(7, 1), StorageLevel.DISK_ONLY)
    assert(ce.snapshot == ((1L, 1L, 0L)))
    // block dropped entirely (invalid level) → evict
    ce.record(RDDBlockId(7, 2), StorageLevel.NONE)
    assert(ce.snapshot == ((1L, 1L, 1L)))
    // non-RDD blocks (broadcast pieces) never count
    ce.record(BroadcastBlockId(3), StorageLevel.MEMORY_AND_DISK)
    ce.record(BroadcastBlockId(3), StorageLevel.NONE)
    assert(ce.snapshot == ((1L, 1L, 1L)))
    // distinct partitions of one RDD are distinct blocks, not re-adds
    ce.record(RDDBlockId(8, 0), StorageLevel.MEMORY_ONLY)
    ce.record(RDDBlockId(8, 1), StorageLevel.MEMORY_ONLY)
    assert(ce.snapshot == ((1L, 1L, 1L)))
  }

  test("stage anatomy: serial-stage rule and effective parallelism") {
    val a = new StageAnatomy
    // one 2 s task: the whole stage on one core → serial
    a.task("one", 0, 0, 2000, 0, 0, 0)
    // 32 tasks of 100 ms: 3.2 s of work at 32 tasks' parallelism → not
    (1 to 32).foreach(_ => a.task("wide", 1, 0, 100, 1000000, 2000000, 0))
    // a 400 ms single task: serial shape, but under the 0.5 s floor → not
    a.task("short", 2, 0, 400, 0, 0, 3000000)
    val one = a.summary("one", 1.0, 4)
    assert(one.serialStages == 1 && one.serialS == 2.0)
    val wide = a.summary("wide", 2.0, 4)
    assert(wide.serialStages == 0 && wide.stages == 1 && wide.tasks == 32)
    assert(wide.taskMaxS == 0.1 && wide.shuffleReadMb == 32.0 &&
      wide.shuffleWriteMb == 64.0)
    // eff_parallelism = Σrun / (wall × cores) = 3.2 / (2.0 × 4)
    assert(math.abs(wide.effParallelism - 0.4) < 1e-9)
    val short = a.summary("short", 0.5, 4)
    assert(short.serialStages == 0 && short.spillMb == 3.0)
    // a second attempt of a stage is its own stage; a retried serial
    // stage counts once per attempt
    a.task("one", 0, 1, 900, 0, 0, 0)
    assert(a.summary("one", 1.0, 4).serialStages == 2)
    // a slot that never ran a task reads as zeros, not a failure
    assert(a.summary("absent", 1.0, 4).tasks == 0)
  }

  test("suspect triggers: >2x floor always fires; 1.5-2x band needs GC or excess") {
    val fl = Some(1.0)
    // healthy slot: under 1.5x, never a suspect even with heavy GC
    assert(!Bench.isSuspect(1.4, 10000, fl))
    // (b) the r11 tightening: anything past 2x floor fires, zero GC
    assert(Bench.isSuspect(2.01, 0, fl))
    // the 1.5-2x band needs a second signal:
    assert(!Bench.isSuspect(1.8, 0, fl)) // low GC, <2s excess → clean
    assert(Bench.isSuspect(1.8, 200, fl)) // (a) GC >=10% of 1.8s wall
    assert(Bench.isSuspect(9.0, 0, Some(5.0))) // (c) 1.8x but 4s excess
    // (d) no floor → always adjudicate (first-appearance seeding)
    assert(Bench.isSuspect(0.1, 0, None))
    // failed queries (-1) are never suspects
    assert(!Bench.isSuspect(-1.0, 0, fl) && !Bench.isSuspect(-1.0, 0, None))
  }

  test("iso ordering: floor-less seed first, then largest absolute excess") {
    // the r12 failure class: ratio-ordered probes adjudicated a 0.9s
    // slot at 4x floor before a 6.1s slot at 2.6x floor; excess seconds
    // is the headline's unit, so excess orders the floored group now
    val flagged = Seq(
      ("q_small", 0.9, Some(0.225)), // ratio 4.0, excess 0.675
      ("s15", 6.13, Some(2.33)), //     ratio 2.6, excess 3.80
      ("s18", 5.50, Some(2.00)), //     ratio 2.75, excess 3.50
      ("q_new", 0.30, None), //         floor-less: seeds first
      ("q_new2", 1.10, None))
    val order = Bench.suspectOrder(flagged).map(_._1)
    assert(order == Seq("q_new2", "q_new", "s15", "s18", "q_small"),
      s"got $order")
  }

  test("simulated hot run: the top-excess slot is adjudicated within budget") {
    // r12's shape: ~100 uniformly-inflated sub-second slots (hot
    // environment) plus four large-excess streaming slots. Under the
    // old fixed 240s/ratio-first policy the big four were SKIPPED
    // (iso_skipped=83 included every largest-excess slot). Prove the
    // new pure policy pair adjudicates every large-excess slot: walk
    // the ordered suspects charging each probe its full SUITE time (a
    // pessimistic per-probe cost — iso probes usually run at floor)
    // and check the big four land inside the scaled budget.
    val small = (1 to 100).map(i => (f"q$i%03d", 0.9, Some(0.3)))
    val big = Seq(
      ("s15", 6.13, Some(2.33)), ("s18", 5.8, Some(2.1)),
      ("s20", 5.5, Some(2.0)), ("s27", 5.2, Some(1.9)))
    val flagged = scala.util.Random.shuffle(small ++ big)
    val ordered = Bench.suspectOrder(flagged)
    assert(ordered.take(4).map(_._1).toSet == big.map(_._1).toSet,
      "the four largest-excess slots must be probed first")
    val budget = Bench.isoBudget(240.0, flagged)
    assert(budget >= 2 * Bench.excessMass(flagged) || budget == 900.0)
    val adjudicated = ordered.scanLeft(("", 0.0)) { case ((_, spent), (n, v, _)) =>
      (n, spent + v) }.tail.takeWhile(_._2 <= budget).map(_._1).toSet
    assert(big.map(_._1).toSet.subsetOf(adjudicated),
      s"big-excess slots missing from the adjudicated prefix: " +
        s"${big.map(_._1).toSet.diff(adjudicated)}")
    // and the budget stays bounded on a pathological run
    val huge = (1 to 500).map(i => (s"x$i", 100.0, Some(1.0)))
    assert(Bench.isoBudget(240.0, huge) == 900.0)
    // a clean run keeps the base budget
    assert(Bench.isoBudget(240.0, Seq(("a", 0.5, Some(0.4)))) == 240.0)
    // an EXPLICIT base above the 900 s growth cap is honored verbatim
    // (ADVICE r13) — both on a clean run and a pathological one
    assert(Bench.isoBudget(1200.0, Seq(("a", 0.5, Some(0.4)))) == 1200.0)
    assert(Bench.isoBudget(1200.0, huge) == 1200.0)
  }

  test("StreamDrainStats: first-batch/batch counters, reset, disabled no-op") {
    import graft.streaming.StreamDrainStats
    StreamDrainStats.enable()
    try {
      // the drain calls addBatch per micro-batch and addFirstBatch once
      StreamDrainStats.addBatch()
      StreamDrainStats.addFirstBatch(1500000000L) // 1.5 s
      StreamDrainStats.addBatch()
      val (first, n) = StreamDrainStats.snapshot
      assert(math.abs(first - 1.5) < 1e-9 && n == 2)
      // a second drain in the same query ACCUMULATES (multi-drain
      // queries report the sum, documented in the scaladoc)
      StreamDrainStats.addFirstBatch(500000000L)
      assert(math.abs(StreamDrainStats.snapshot._1 - 2.0) < 1e-9)
      // per-iteration reset starts the next measurement clean
      StreamDrainStats.reset()
      assert(StreamDrainStats.snapshot == ((0.0, 0L)))
    } finally StreamDrainStats.disable()
    // disabled: the drain-side guard reads active=false and records
    // nothing — the bench-only contract that keeps Verify/tests free
    assert(!StreamDrainStats.active)
  }

  test("headline merge: best of suite/iso, failed iso never wins") {
    assert(Bench.headline(3.0, Some(1.2)) == 1.2) // iso cleans the slot
    assert(Bench.headline(1.2, Some(3.0)) == 1.2) // suite already best
    assert(Bench.headline(3.0, None) == 3.0) // no probe → suite stands
    assert(Bench.headline(3.0, Some(-1.0)) == 3.0) // failed iso ignored
    assert(Bench.headline(-1.0, Some(1.0)) == -1.0) // suite failure stays loud
  }

  test("steadySlot: slot is build-subtracted min; raw min rides beside") {
    // single iteration that paid a 8 s build inside an 11 s drain:
    // published slot = 3 s steady, raw 11 s (the s39 r13 confound)
    assert(Bench.steadySlot(Seq((11.0, 8.0))) == ((3.0, 11.0)))
    // iter1 paid the build (10 s raw / 8 build → 2 steady), iter2 ran
    // warm (3 s, no build): steady takes the LOWEST build-excluded
    // time across iterations, raw min the lowest wall
    assert(Bench.steadySlot(Seq((10.0, 8.0), (3.0, 0.0))) == ((2.0, 3.0)))
    // no builds: identity — steady == raw min
    assert(Bench.steadySlot(Seq((2.0, 0.0), (1.5, 0.0))) == ((1.5, 1.5)))
    // build larger than the wall (clock skew guard): clamps at 0
    assert(Bench.steadySlot(Seq((1.0, 2.0))) == ((0.0, 1.0)))
  }

  test("SharedBuilds.timed: seconds recorded as SELF time, nested once") {
    import graft.operators.SharedBuilds
    val n0 = SharedBuilds.timingCount
    val c0 = SharedBuilds.count("bsp-parent")
    // parent sleeps ~30 ms around a child that sleeps ~60 ms: the
    // child's wall must NOT double into the parent's record
    SharedBuilds.timed("bsp-parent") {
      Thread.sleep(30)
      SharedBuilds.timed("bsp-child") { Thread.sleep(60) }
    }
    val ts = SharedBuilds.timingsSince(n0).toMap
    assert(ts.keySet == Set("bsp-parent", "bsp-child"))
    assert(ts("bsp-child") >= 0.055, s"child self-time lost: $ts")
    // parent self ≈ 30 ms — far below the 60 ms it would show if the
    // child's wall leaked into it
    assert(ts("bsp-parent") < 0.050, s"child time double-counted: $ts")
    // each timed build counts once under its own tag
    assert(SharedBuilds.count("bsp-parent") == c0 + 1)
  }

  test("compact stdout line stays under 1.5 KB in a worst-case run") {
    // every capped map at its cap, with 3-digit seconds and 5-digit GC
    // milliseconds: 449 slots, 41 suspects of which 17 went unprobed,
    // all three phases, every timed build tag, 10 serial slots
    val names = (1 to 449).map(i => f"q$i%03d")
    val serial = StageAnatomy.Summary(54, 120, 900, 99.99, 88.88, 1.0, 1.0,
      0.0, 0.08, 13, 123.45)
    val tags = Seq("shingles", "corpus-shingles", "bands", "corpus-bands",
      "pairs", "cc-labels", "grams", "bpe-words", "bpe-merges", "bm25",
      "copurchase-items", "copurchase-pairs", "word8-grams", "word8-grams-pos")
    val r = Bench.Record(
      slots = names.map(_ -> 123.45),
      iso = names.take(24).map(_ -> 123.45),
      gcMs = names.map(_ -> 12345L),
      cache = names.take(40).map(_ -> ((123L, 45L, 6L))),
      stages = names.take(10).map(_ -> serial),
      phaseSec = Seq("q" -> 1234.56, "p" -> 123.45, "s" -> 1234.56),
      builds = tags.map(_ -> 123.45),
      isoSkipped = names.slice(24, 41),
      gcTotalMs = 1234567L,
      suiteRawN = 449,
      suiteTotal = 12345.67,
      errors = Seq.empty,
      sf = "/data/graft/fixtures/sf0.1",
      value = 12345.67)
    val line = Bench.compactLine(r, "\"BENCH_FULL_sf0.1.json\"")
    val bytes = line.getBytes("UTF-8").length
    assert(bytes < 1500, s"$bytes bytes: $line")
    // the skip count stays whole while only 3 names ride the line
    assert(line.contains("\"iso_skipped\":17,\"iso_skipped_names\":[\"q025\",\"q026\",\"q027\"]"))
    assert(!line.contains("harness_sec") && !line.contains("shared_builds"))
    // summary fields stay LAST: a tail-truncated capture still reads them
    assert(line.endsWith("\"metric\":\"total\",\"unit\":\"sec\",\"value\":12345.67}"))
  }
}
