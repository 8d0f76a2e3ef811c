package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.pipeline.PipelineConfig

/** E2E tier: streaming transfer pipeline — micro-batch processing,
  * checkpoint-based offset tracking (K4), per-topic DLQ routing (E3),
  * graceful shutdown idempotence (O2), CLI parity (O1).
  * Mirrors /root/reference/tests/test_e2e.py + test_main.py behaviors.
  */
@graft.tags.E2E
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSpec.spark
  private var base: Path = _

  override def beforeAll(): Unit = base = Files.createTempDirectory("graft-stream-spec")
  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(base).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private val pc = PipelineConfig(
    "SRC_TYPE" -> "local", "SRC_HOST" -> "localhost",
    "DST_TYPE" -> "local", "DST_HOST" -> "localhost")

  private def jobLine(id: String, sp: String, dp: String): String =
    s"""{"job_id":"$id","source":{"hostname":"src","path":"$sp"},""" +
      s""""destination":{"hostname":"dst","path":"$dp"}}"""

  private def writeBatchFile(n: String, lines: Seq[String]): Unit = {
    val in = base.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve(n), String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  test("streaming pipeline processes jobs, resumes from checkpoint without reprocessing") {
    val src1 = base.resolve("files/a.txt")
    Files.createDirectories(src1.getParent)
    Files.write(src1, "stream-A".getBytes)
    writeBatchFile("batch1.jsonl", Seq(
      jobLine("s1", src1.toString, base.resolve("out/a.txt").toString),
      "corrupt line not json"))

    def runOnce(): Unit = {
      val q = StreamPipeline.start(spark, base.resolve("in").toString, pc,
        topic = "jobs", resultsDir = base.resolve("results").toString,
        dlqDir = base.resolve("dlq").toString,
        checkpointDir = base.resolve("cp").toString)
      q.awaitTermination()
    }
    runOnce()
    val results1 = spark.read.parquet(base.resolve("results").toString)
    assert(results1.filter(col("status") === "success").count() == 1)
    assert(Files.readAllBytes(base.resolve("out/a.txt")).sameElements("stream-A".getBytes))
    val dlq1 = spark.read.parquet(base.resolve("dlq").toString)
    assert(dlq1.count() == 1)
    assert(dlq1.select("dlq_topic").head().getString(0) == "jobs-dlq") // E3 routing
    // ISO-8601 UTC string at the sink boundary (message.py:127-129)
    assert(dlq1.select("timestamp_iso").head().getString(0)
      .matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}\+00:00"""))

    // second file arrives; restart picks up ONLY the new file (K4)
    val src2 = base.resolve("files/b.txt")
    Files.write(src2, "stream-B".getBytes)
    writeBatchFile("batch2.jsonl", Seq(
      jobLine("s2", src2.toString, base.resolve("out/b.txt").toString)))
    runOnce()
    val results2 = spark.read.parquet(base.resolve("results").toString)
    // 1 executed job from batch1 (the corrupt line went to the DLQ sink,
    // not results) + 1 from batch2; no reprocessing of batch1
    assert(results2.count() == 2, "old batch must not be reprocessed (1 old + 1 new)")
    assert(results2.filter(col("job_id") === "s1").count() == 1)
  }

  test("CLI arg parsing: flags beat positionals (main.py:82-90)") {
    val a = StreamMain.parseArgs(Array("pos-topic", "pos-group", "--topic", "flag-topic", "-v"))
    assert(a.topic == "flag-topic")
    assert(a.groupId == "pos-group")
    assert(a.verbose)
    val d = StreamMain.parseArgs(Array.empty)
    assert(d.topic == "file-transfer-jobs") // main.py:40-45 default
    assert(!d.verbose)
  }

  test("env precedence: process environment beats --env-file (load_dotenv override=False)") {
    val f = base.resolve("prec.env")
    Files.write(f, "A_TYPE=local\nB_HOST=from-file\n".getBytes)
    val merged = StreamMain.mergedEnv(Map("A_TYPE" -> "ftp"), Some(f.toString))
    assert(merged("A_TYPE") == "ftp", "process env must win (dotenv default)")
    assert(merged("B_HOST") == "from-file", "file supplies missing keys")
    assert(StreamMain.mergedEnv(Map("X" -> "1"), None) == Map("X" -> "1"))
  }

  test("env-file loading: KEY=VALUE lines, comments ignored") {
    val f = base.resolve("test.env")
    Files.write(f, "# comment\nA_TYPE=local\n\nA_HOST=localhost\nX=a=b\n".getBytes)
    val env = StreamMain.loadEnvFile(f.toString)
    assert(env == Map("A_TYPE" -> "local", "A_HOST" -> "localhost", "X" -> "a=b"))
    val cfg = new PipelineConfig(env)
    assert(cfg.serverConfig("a").serverType == "local")
  }

  test("one micro-batch runs 2 Spark jobs, scans its source once, pins its outputs") {
    // a good job, a missing source, an unknown destination host and an
    // unparseable line: every outcome class of the sink in one batch
    val good = base.resolve("files/one/good.txt")
    Files.createDirectories(good.getParent)
    Files.write(good, "one pass".getBytes)
    val ghost = base.resolve("files/one/ghost.txt")
    val out = base.resolve("out/one")
    val in = base.resolve("in-one"); Files.createDirectories(in)
    val messages = Seq(
      jobLine("one-ok", good.toString, s"$out/good.txt"),
      jobLine("one-miss", ghost.toString, s"$out/ghost.txt"),
      jobLine("one-host", good.toString, s"$out/host.txt").replace("\"dst\"", "\"nohost\""),
      "{not json")
    // one message per file: four input splits, one per core, as a
    // partitioned topic feeds a consumer group
    messages.zipWithIndex.foreach { case (m, i) =>
      Files.write(in.resolve(s"b$i.jsonl"), m.getBytes("UTF-8")) }

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobsEnded.incrementAndGet()
    }
    // every distinct scan of the micro-batch's rows in the executed plans,
    // cached plans included: rows read from the source = the sum of their
    // output rows (a scan that is planned but never run adds 0)
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sourceScans = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]))
    val scans = new org.apache.spark.sql.util.QueryExecutionListener
        with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      private def walk(p: SparkPlan): Unit = foreach(p) {
        case s: RDDScanExec => sourceScans.add(s)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = walk(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(scans)
    try {
      val q = StreamPipeline.start(spark, in.toString, pc, "jobs-one",
        base.resolve("r-one").toString, base.resolve("d-one").toString,
        base.resolve("cp-one").toString)
      q.awaitTermination()
      // the listener bus is asynchronous: wait until every started job has
      // ended and no job or scan arrived for 300 ms
      val deadline = System.nanoTime() + 10000000000L
      var seen = (-1, -1)
      while ((jobs.get != jobsEnded.get || seen != ((jobs.get, sourceScans.size))) &&
          System.nanoTime() < deadline) {
        seen = (jobs.get, sourceScans.size)
        Thread.sleep(300)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(scans)
    }
    assert(jobs.get == 2, s"a micro-batch must run 2 Spark jobs, ran ${jobs.get}")
    val rowsRead = sourceScans.toArray(Array.empty[SparkPlan])
      .map(_.metrics("numOutputRows").value).sum
    assert(rowsRead == messages.length,
      s"the source must be scanned once: ${messages.length} messages, $rowsRead rows read")

    // outputs as the 5-job sink wrote them
    val notFound = s"FileNotFoundException: Source file not found: $ghost"
    val noHost = "NoSuchElementException: Server type not found for hostname: nohost"
    val results = spark.read.parquet(base.resolve("r-one").toString)
      .select("job_id", "status", "error_type", "error", "bytes", "batch_id")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(results == Seq(
      s"one-host|dlq|config|$noHost|0|0",
      s"one-miss|dlq|not_found|$notFound|0|0",
      "one-ok|success|null|null|8|0"))
    def job(id: String, src: Path, dstHost: String, dst: String) =
      s"""{"job_id":"$id","source":{"hostname":"src","path":"$src"},""" +
        s""""destination":{"hostname":"$dstHost","path":"$out/$dst"}}"""
    val dlq = spark.read.parquet(base.resolve("d-one").toString)
      .select("original_message", "error", "error_type", "retry_count", "dlq_topic", "batch_id")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(dlq == Seq(
      s"${job("one-host", good, "nohost", "host.txt")}|$noHost|config|0|jobs-one-dlq|0",
      s"${job("one-miss", ghost, "dst", "ghost.txt")}|$notFound|not_found|0|jobs-one-dlq|0",
      """{"raw":"{not json"}|Failed to parse message: {not json|parse|0|jobs-one-dlq|0"""))
    assert(Files.readAllBytes(out.resolve("good.txt")).sameElements("one pass".getBytes))
  }

  test("DLQ sink failure is swallowed, batch still commits (consumer.py:224-225)") {
    val src = base.resolve("files/sw.txt")
    Files.createDirectories(src.getParent)
    Files.write(src, "swallow".getBytes)
    val in = base.resolve("in-sw"); Files.createDirectories(in)
    Files.write(in.resolve("b.jsonl"),
      (jobLine("sw1", src.toString, base.resolve("out/sw.txt").toString) +
        "\nnot json — this row needs the DLQ sink").getBytes("UTF-8"))
    // dlqDir is a FILE, so the DLQ parquet write fails; the reference
    // swallows DLQ send failures and still commits the batch.
    val blockedDlq = base.resolve("dlq-blocked")
    Files.write(blockedDlq, "occupied".getBytes)
    val q = StreamPipeline.start(spark, in.toString, pc,
      "jobs-sw", base.resolve("r-sw").toString, blockedDlq.toString,
      base.resolve("cp-sw").toString)
    q.awaitTermination() // must not throw
    val results = spark.read.parquet(base.resolve("r-sw").toString)
    assert(results.filter(col("status") === "success").count() == 1)
    assert(Files.readAllBytes(base.resolve("out/sw.txt")).sameElements("swallow".getBytes))
  }

  test("watermark persists in the checkpoint and drops late events (append mode)") {
    val land = base.resolve("wm-land"); Files.createDirectories(land)
    val sink = base.resolve("wm-sink"); val cp = base.resolve("wm-cp")
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(land.resolve(name),
        rows.map { case (us, id) => s"""{"ts_us":$us,"id":"$id"}""" }
          .mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts_us BIGINT, id STRING")
        .json(land.toString)
        .withColumn("ts_t", org.apache.spark.sql.functions.timestamp_micros(col("ts_us")))
      val q = stream
        .withWatermark("ts_t", "10 minutes")
        .groupBy(org.apache.spark.sql.functions.window(col("ts_t"), "1 hour"))
        .agg(org.apache.spark.sql.functions.count(col("id")).as("n"))
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", cp.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val h = 3600L * 1000000L
    // run 1: two 10:00-window events → watermark persists as 10:05−10min
    write("b1.jsonl", Seq((10 * h, "a"), (10 * h + 5 * 60 * 1000000L, "b")))
    runOnce()
    // run 2 resumes from the checkpoint: the 08:00 event is LATE versus
    // the persisted 09:55 watermark (dropped); 11:30 advances the
    // watermark past 10:59, closing and emitting the 10:00 window
    write("b2.jsonl", Seq((8 * h, "late"), (11 * h + 30 * 60 * 1000000L, "c")))
    runOnce()
    val out = spark.read.parquet(sink.toString)
      .select(org.apache.spark.sql.functions.unix_micros(col("window.start")).as("ws"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 10:00 window emitted with BOTH on-time events; no 08:00 window
    // (late event dropped); 11:00 window still open at stream end
    assert(out == Map(10 * h -> 2L),
      s"append-mode watermark semantics violated: $out")
  }

  test("results sink is idempotent on batch replay (lost checkpoint converges)") {
    val src = base.resolve("files/rep.txt")
    Files.createDirectories(src.getParent)
    Files.write(src, "replay-me".getBytes)
    val in = base.resolve("in-rep"); Files.createDirectories(in)
    Files.write(in.resolve("b.jsonl"),
      jobLine("rep1", src.toString, base.resolve("out/rep.txt").toString)
        .getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = StreamPipeline.start(spark, in.toString, pc,
        "jobs-rep", base.resolve("r-rep").toString, base.resolve("d-rep").toString,
        base.resolve("cp-rep").toString)
      q.awaitTermination()
    }
    runOnce()
    // simulate a crash that loses the offset commit: the whole batch
    // replays as batch 0 — the per-batch partition overwrite must
    // REPLACE, leaving exactly one row per job (not an appended duplicate)
    import scala.jdk.CollectionConverters._
    val cp = base.resolve("cp-rep")
    Files.walk(cp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    runOnce()
    val results = spark.read.parquet(base.resolve("r-rep").toString)
    assert(results.filter(col("job_id") === "rep1").count() == 1,
      "replayed batch must replace its batch_id partition, not append")
  }

  test("dedup state is evicted by the watermark: old-key duplicates pass through") {
    // Watermark-separated micro-batches (maxFilesPerTrigger=1). The
    // watermark from batch N's data takes effect in batch N+1, and state
    // cleanup runs per batch against that lagging watermark — so one
    // spacer batch sits between the eviction trigger and the replay:
    //   b1: id A at t0          → A emitted, A in dedup state (expires t0+10min)
    //   b2: id B at t0+3h       → wm after b2 = t0+3h−10min ≫ A's expiry
    //   b3: id C at t0+3.5h     → cleanup under that wm evicts A
    //   b4: id A again at t0+4h → PASSES (state gone) — with unbounded
    //       dropDuplicates it would be silently dropped forever
    val land = base.resolve("ddw-land"); Files.createDirectories(land)
    val sink = base.resolve("ddw-sink"); val cp = base.resolve("ddw-cp")
    val h = 3600L * 1000000L
    def write(name: String, rows: Seq[(String, Long)], mtime: Long): Unit = {
      val p = land.resolve(name)
      Files.write(p, rows.map { case (id, us) => s"""{"id":"$id","ts_us":$us}""" }
        .mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    write("b1.jsonl", Seq(("A", 10 * h), ("A", 10 * h)), 1000000L)
    write("b2.jsonl", Seq(("B", 13 * h)), 2000000L)
    write("b3.jsonl", Seq(("C", 13 * h + h / 2)), 3000000L)
    write("b4.jsonl", Seq(("A", 14 * h)), 4000000L)
    val q = spark.readStream
      .schema("id STRING, ts_us BIGINT")
      .option("maxFilesPerTrigger", "1")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counts = spark.read.parquet(sink.toString)
      .groupBy("id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // in-batch duplicate of A dropped; post-eviction replay of A passes
    assert(counts == Map("A" -> 2L, "B" -> 1L, "C" -> 1L),
      s"watermark-bounded dedup state violated: $counts")
  }

  test("s06 ingest admission is exactly-once under an at-least-once replay") {
    import spark.implicits._
    // the same arrival file staged twice = a source that replays its
    // data; without the in-stream dedup the stateless anti join would
    // admit every survivor twice
    val land = base.resolve("ingest-land"); Files.createDirectories(land)
    val rows = Seq((1L, 100L, "a", 1.5), (2L, 200L, "a", 2.5), (3L, 300L, "b", 4.0))
    val lines = rows.map { case (id, us, t, v) =>
      s"""{"event_id":$id,"ts_us":$us,"event_type":"$t","value":$v}""" }
    Files.write(land.resolve("arrival1.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    Files.write(land.resolve("arrival2.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    // corpus already holds event 2 → only 1 and 3 admit, each ONCE
    val corpus = Seq(2L).toDF("event_id")
      .select(sha2(col("event_id").cast("string"), 256).as("h"))
    val stream = spark.readStream
      .schema("event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
    val q = graft.streaming.StreamingQueries.ingestDedup(stream, corpus)
      .writeStream.format("memory").queryName("ingest_replay_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ingest_replay_sink")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map("a" -> ((1L, 1.5)), "b" -> ((1L, 4.0))),
      s"replayed rows must not double-count admissions: $got")
  }

  test("sessionization state evicts on event-time timeout, emitting the open session") {
    import spark.implicits._
    val land = base.resolve("sess-land"); Files.createDirectories(land)
    val h = 3600L * 1000000L
    def write(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val p = land.resolve(name)
      Files.write(p, rows.map { case (u, e, us) =>
        s"""{"user_id":$u,"event_id":$e,"ts_us":$us}""" }
        .mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // b1: user 1 has two events (one open session); b2: user 2, 3h later —
    // the watermark passes user 1's timeout, so their session is emitted
    // via hasTimedOut (no closing event ever arrives) and the state cleared.
    write("b1.jsonl", Seq((1L, 101L, 10 * h), (1L, 102L, 10 * h + 60000000L)), 1000000L)
    write("b2.jsonl", Seq((2L, 201L, 13 * h)), 2000000L)
    val evs = spark.readStream
      .schema("user_id BIGINT, event_id BIGINT, ts_us BIGINT")
      .option("maxFilesPerTrigger", "1")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ts_t")).as[Ev]
    val q = StreamingQueries.sessionize(evs).toDF()
      .writeStream.format("memory").queryName("sess_evict")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("sess_evict")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1's open session emitted by timeout; user 2's still open (held)
    assert(rows == Set((1L, 1L, 2L)), s"timeout emission violated: $rows")
    // state store holds ONLY user 2's open session — user 1 was evicted
    val lastState = q.recentProgress.flatMap(_.stateOperators).lastOption
    assert(lastState.exists(_.numRowsTotal == 1L),
      s"state not evicted: ${lastState.map(_.numRowsTotal)}")
  }

  test("s08 outer join flushes the final purchase's unmatched row") {
    // regression: a sentinel filter INSIDE the streaming plan gets pushed
    // below the purchase-side watermark operator, the global watermark
    // stalls at maxPurchaseTs − delay, and the dataset's LAST purchase
    // never emits. The fixture's latest purchase must be present, and
    // outer semantics must produce at least one null-view row.
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("s08_stream_left_outer_join")(spark, dir)
      .collect()
    val lastPurchase = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "purchase")
      .orderBy(col("ts").desc).select("event_id").head().getLong(0)
    assert(out.exists(_.getLong(0) == lastPurchase),
      s"latest purchase $lastPurchase missing from outer join output")
    assert(out.exists(_.isNullAt(1)),
      "expected at least one unmatched purchase (null view_id)")
  }

  test("s11 really runs one micro-batch per staged file (bounded batches)") {
    // the oracle can't see batch boundaries — assert here that the
    // maxFilesPerTrigger=1 source produces >= 4 data batches, so the
    // windowed state demonstrably accumulates across micro-batches
    val evs = StreamingQueries.eventsStreamParts(spark, "/root/testdata/sf0.001")
    val q = evs.groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"expected >= 4 data micro-batches, got $dataBatches")
  }

  test("s12 closes sessions mid-stream: output lands in multiple batches") {
    import spark.implicits._
    val evs = StreamingQueries
      .eventsStreamTimeParts(spark, "/root/testdata/sf0.001")
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ts_t")).as[Ev]
    val q = StreamingQueries.sessionize(evs).toDF()
      .writeStream.format("noop").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitting = q.recentProgress.count(_.sink.numOutputRows > 0)
    assert(emitting >= 2,
      s"sessions must close as the watermark advances between batches, " +
        s"not only at the final flush; emitting batches = $emitting")
  }

  test("s17 funnel classifies by event-time timeout, state evicted live") {
    import spark.implicits._
    val land = base.resolve("funnel-land"); Files.createDirectories(land)
    val h = 3600L * 1000000L
    def write(name: String, rows: Seq[(Long, Long, String)], mtime: Long): Unit = {
      val p = land.resolve(name)
      Files.write(p, rows.map { case (u, us, t) =>
        s"""{"user_id":$u,"ts_us":$us,"event_type":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // b1: user 1 views then clicks (within the hour), then goes quiet;
    // b2: user 2, 3h later — the watermark passes user 1's t1 + 1h, so
    // user 1 must classify 'click' via hasTimedOut MID-STREAM (no
    // sentinel exists here) and the state slot must be freed. User 2's
    // funnel is still open and held.
    write("b1.jsonl", Seq((1L, 10 * h, "view"), (1L, 10 * h + 600000000L, "click")),
      1000000L)
    write("b2.jsonl", Seq((2L, 13 * h, "view")), 2000000L)
    val evs = spark.readStream
      .schema("user_id BIGINT, ts_us BIGINT, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("ts_us"), col("event_type"), col("ts_t"))
      .as[FunnelEv]
    val q = StreamingQueries.funnel(evs).toDF()
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("funnel_evict")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "click")),
      s"expected user 1 classified 'click' by timeout, got: $rows")
    val lastState = q.recentProgress.flatMap(_.stateOperators).lastOption
    assert(lastState.exists(_.numRowsTotal == 1L),
      s"only user 2's open funnel may remain: ${lastState.map(_.numRowsTotal)}")
  }

  test("s16 streaming anomaly flags equal the batch z-score twin") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.SparkEntry.queries("s16_stream_zscore_anomaly")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin: identical integer-cents z-test over the same table
    val cents = (expr("CAST(value AS DECIMAL(12,2))") * 100).cast("long")
    val base = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("event_id"), cents.as("xc"))
    val bl = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("xc").as("s_c"),
        sum(expr("xc * xc")).as("s2_c"))
      .withColumn("mean_c", expr("s_c div n"))
      .withColumn("var_c", expr("s2_c div n - mean_c * mean_c"))
      .select("event_type", "mean_c", "var_c")
    val batch = base.join(bl, "event_type")
      .filter(expr("4 * (xc - mean_c) * (xc - mean_c) > 9 * var_c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("ck"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty, "expected anomalies in the fixture")
    assert(streamed == batch,
      s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("s19 cohort pins to first-seen day; dedup state is watermark-bounded") {
    import spark.implicits._
    val land = base.resolve("retention-land"); Files.createDirectories(land)
    val d = 86400L * 1000000L
    def write(name: String, rows: Seq[(Long, Long)], mtime: Long): Unit = {
      val p = land.resolve(name)
      Files.write(p, rows.map { case (u, us) =>
        s"""{"user_id":$u,"ts_us":$us}""" }.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // b1: user 1 twice on day 10 (within-day dup); b2: user 1 returns on
    // day 12, user 2 first seen on day 12; b3: user 3 on day 20. During
    // b3 the watermark (12d - 25h) has passed day 10, so the dedup store
    // must have evicted the (1, day10) key — 4 distinct keys seen, at
    // most 3 held. The cohort must stay pinned to the FIRST batch's day
    // even after user 1 reappears two days later.
    write("b1.jsonl", Seq((1L, 10 * d), (1L, 10 * d + 5L)), 1000000L)
    write("b2.jsonl", Seq((1L, 12 * d), (2L, 12 * d)), 2000000L)
    write("b3.jsonl", Seq((3L, 20 * d)), 3000000L)
    val evs = spark.readStream
      .schema("user_id BIGINT, ts_us BIGINT")
      .option("maxFilesPerTrigger", "1")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "25 hours")
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"), col("ts_t"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .as[DayEv]
    val q = StreamingQueries.cohorts(evs).toDF()
      .writeStream.format("memory").queryName("retention_live")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("retention_live")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 10L, 10L), (1L, 10L, 12L), (2L, 12L, 12L),
      (3L, 20L, 20L)),
      s"expected dup-free activity tagged with first-seen cohorts, got: $rows")
    val dedupState = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("dedupe"))
      .lastOption.map(_.numRowsTotal)
    assert(dedupState.exists(_ <= 3L),
      s"dedup store must evict keys older than the watermark " +
        s"(4 distinct keys seen): held = $dedupState")
  }

  test("s20 histogram state emits mid-stream and evicts closed days") {
    val evs = StreamingQueries
      .eventsStreamTimeParts(spark, "/root/testdata/sf0.001")
      .withWatermark("ts_t", "0 seconds")
      .groupBy(window(col("ts_t"), "1 day"), col("event_type"),
        expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val q = evs.writeStream.format("noop").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = q.recentProgress.map(_.sink.numOutputRows).sum
    val emittingBatches = q.recentProgress.count(_.sink.numOutputRows > 0)
    assert(emittingBatches >= 2,
      s"day histograms must flush as the watermark crosses day boundaries " +
        s"mid-stream, not only at the sentinel; emitting = $emittingBatches")
    val held = q.recentProgress.flatMap(_.stateOperators).lastOption
      .map(_.numRowsTotal).getOrElse(Long.MaxValue)
    // the fixture spans ~a month of days; closed days must leave the
    // store, so end-state holds at most the open tail — a fraction of
    // everything emitted (without eviction held would exceed emitted)
    assert(held * 5 < emitted,
      s"state must hold only open-day bins: held=$held emitted=$emitted")
  }

  test("s21 CEP fires mid-stream and at most once per (user, pattern)") {
    import spark.implicits._
    val evs = StreamingQueries
      .eventsStreamTimeParts(spark, "/root/testdata/sf0.001")
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("ts_t"))
      .as[TransEv]
    val q = StreamingQueries.cep(evs).toDF()
      .writeStream.format("memory").queryName("cep_live")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitting = q.recentProgress.count(_.sink.numOutputRows > 0)
    assert(emitting >= 2,
      s"matches must fire the moment the completing event arrives, " +
        s"across batches; emitting = $emitting")
    val rows = spark.table("cep_live").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.length == rows.distinct.length,
      s"a (user, pattern) pair fired more than once: " +
        rows.groupBy(identity).filter(_._2.length > 1).keys.take(5).toList)
  }

  test("s23 intervals close across batch boundaries; nothing is double-closed") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = StreamingQueries.eventsStreamTimeParts(spark, dir)
      .withWatermark("ts_t", "0 seconds")
      .filter(col("event_id") >= 0)
      .select(col("event_type"), col("event_id"), col("ts_us"),
        expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
      .as[TwapEv]
    val q = StreamingQueries.twapIntervals(evs).toDF()
      .writeStream.format("memory").queryName("twap_live")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every batch after the first emits: its first event per type closes
    // the interval the PREVIOUS batch's last reading opened — the state
    // really carries across micro-batches
    val emitting = q.recentProgress.count(_.sink.numOutputRows > 0)
    assert(emitting >= 2,
      s"intervals must emit across multiple batches; emitting = $emitting")
    // exactly (n_events - n_types) intervals: one per event except each
    // type's open last reading — a per-batch reset would LOSE boundary
    // intervals, a replay would double-close them
    val n = spark.table("twap_live").count()
    val byType = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").count().collect()
    val expected = byType.map(_.getLong(1) - 1).sum
    assert(n == expected,
      s"expected $expected closed intervals, got $n")
  }

  test("s24 window-count state holds only candidate keys; emits across batches") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val keyExpr =
      "CASE WHEN event_id % 4 < 2 THEN event_id % 7 ELSE event_id + 1000000 END"
    val cand = graft.operators.ScaleTechniques.mgCandidates(
      spark, graft.Tables.events(spark, dir)
        .select(expr(keyExpr).cast("long").as("k"),
          expr("ts_us div 21600000000").as("w"))
        .repartition(col("w")).select("k"), 511)
    val candSet = cand.as[Long].collect().toSet
    val evs = StreamingQueries.eventsStreamTimeParts(spark, dir)
      .withWatermark("ts_t", "0 seconds")
      .select(expr(keyExpr).cast("long").as("k"), col("ts_t"))
    val q = evs.join(broadcast(cand), "k")
      .groupBy(window(col("ts_t"), "6 hours"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("hh_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the semi-filter really bounds the aggregation: every state row —
    // and so every emitted row — is a candidate key, never the unique
    // tail that would make streaming state O(distinct keys)
    val keys = spark.table("hh_counts").select("k").as[Long].collect()
    assert(keys.nonEmpty && keys.forall(candSet.contains),
      s"non-candidate key leaked into windowed state: " +
        keys.filterNot(candSet.contains).take(5).toList)
    val emitting = q.recentProgress.count(_.sink.numOutputRows > 0)
    assert(emitting >= 2,
      s"windows must close across multiple batches; emitting = $emitting")
  }

  test("s25 streak reports emit only via event-time timeout, never mid-stream") {
    import spark.implicits._
    val evs = StreamingQueries
      .eventsStreamTimeParts(spark, "/root/testdata/sf0.001")
      .withWatermark("ts_t", "0 seconds")
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
        col("ts_t"))
      .as[StreakEv]
    val q = StreamingQueries.streaks(evs).toDF()
      .writeStream.format("memory").queryName("streaks_live")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the 40-idle-day horizon exceeds the fixture's span, so nothing
    // may time out until the sentinel batch throws the watermark ten
    // years forward — all reports land in the FINAL emitting batch
    val emitting = q.recentProgress.filter(_.sink.numOutputRows > 0)
    assert(emitting.length == 1,
      s"reports must emit in exactly one (final) batch, got ${emitting.length}")
    // one final report per active user, exactly once
    val users = spark.table("streaks_live").select("user_id").as[Long].collect()
    assert(users.length == users.distinct.length, "a user reported twice")
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id").distinct().count()
    assert(users.length == expected,
      s"expected $expected user reports, got ${users.length}")
  }

  test("s27 transformWithState reports each user exactly once and restores the provider conf") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val df = graft.SparkEntry.queries("s27_transform_with_state")(
      spark, "/root/testdata/sf0.001")
    val users = df.select("user_id").as[Long].collect()
    // delete-then-register must leave no stale timer to double-report a
    // user who appeared in several of the 4 time-range batches
    assert(users.length == users.distinct.length, "a user reported twice")
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id").distinct().count()
    assert(users.length == expected,
      s"expected $expected user reports, got ${users.length}")
    assert(spark.conf.getOption(key) == before,
      "the RocksDB provider override must not leak out of s27")
  }

  test("s28 batch seeding is invisible: seeded cutover equals the unseeded stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = graft.SparkEntry.queries(q)(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val seeded = rows("s28_tws_initial_state")
    assert(seeded == rows("s27_transform_with_state"),
      "the cutover must not change any user's rollup")
    // users quiet after the cutover exist only via handleInitialState —
    // if the fixture has any, their report is pure seed
    val midUs = 1705363200000000L
    val preOnly = graft.Tables.events(spark, dir)
      .groupBy("user_id").agg(max("ts_us").as("m"))
      .filter(col("m") < midUs).select("user_id").as[Long].collect().toSet
    val reported = seeded.map(_._1).toSet
    assert(preOnly.subsetOf(reported),
      s"seed-only users must still report: missing ${preOnly.diff(reported)}")
  }

  test("s27 transformWithState state survives a checkpointed restart (RocksDB)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "/root/testdata/sf0.001"
      val cp = Files.createTempDirectory("graft_s27_cp").toString
      val out = Files.createTempDirectory("graft_s27_out").toString
      def stream() = {
        val evs = StreamingQueries.eventsStreamTimeParts(spark, dir)
          .withWatermark("ts_t", "0 seconds")
          .select(col("user_id"), col("ts_us"),
            expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"),
            col("ts_t")).as[SpendEv]
        evs.groupByKey(_.user_id)
          .transformWithState(new SpendProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF()
      }
      def start(killAtBatch: Long = Long.MaxValue) = stream().writeStream
        .option("checkpointLocation", cp)
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => {
          // planted kill: with maxFilesPerTrigger=2 the drain is only
          // parts 1+2 | parts 3+4 | sentinel, so a stop() racing the
          // poll loop could land AFTER the sentinel commit — the
          // restart then restores the post-sentinel watermark from the
          // commit log, sees no watermark ADVANCE, and skips the
          // no-data flush batch entirely (timers never fire). Failing
          // the batch that would carry the sentinel kills the query
          // deterministically mid-stream instead.
          if (id >= killAtBatch) sys.error(s"planted kill at batch $id")
          b.write.mode("append").parquet(out)
        })
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // phase 1: exactly two of the three data batches commit, then the
      // query dies before the sentinel batch can
      val q1 = start(killAtBatch = 2)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      assert(Option(q1.lastProgress).exists(_.batchId >= 1),
        "phase 1 must commit at least two batches before the kill")
      // phase 2: same checkpoint — the engine resumes from the committed
      // offset; per-user rollups accumulated in phase 1 must still be in
      // RocksDB state or the final reports undercount
      val q2 = start()
      q2.awaitTermination()
      val got = spark.read.parquet(out)
        .select("user_id", "n_events", "total_cents").as[(Long, Long, Long)]
        .collect().toSet
      val expected = spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("vc"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("vc").as("cents"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected,
        "restarted stream lost or double-counted state across the checkpoint")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("graceful shutdown: stop is idempotent (consumer.py:76-88)") {
    val q = StreamPipeline.start(spark, base.resolve("in").toString, pc,
      "jobs2", base.resolve("r2").toString, base.resolve("d2").toString,
      base.resolve("cp2").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"))
    assert(q.isActive)
    q.stop(); q.stop() // second stop must not throw
    assert(!q.isActive)
  }

  test("sustained multi-trigger load: state stays watermark-bounded, latency flat") {
    // The AvailableNow drains behind every s-query see each file once and
    // stop — they cannot observe state LEAKAGE over a long run. This is
    // the streaming twin of ScaleSpec's 10× batch probe: 24 single-file
    // triggers through the s19 shape (dedup-within-watermark chained into
    // a windowed agg), event time advancing 1 h per batch with 50 fresh
    // keys each, watermark 2 h. If eviction works, steady-state dedup
    // rows ≈ (watermark span + lag) × keys/batch regardless of run
    // length; if it leaks, state grows linearly to 1 200 and the bound
    // below trips. Per-batch duration must also stay flat — linear state
    // growth shows up as monotonically growing batch times long before
    // memory dies at 100 TB.
    val land = base.resolve("rate-land"); Files.createDirectories(land)
    val sink = base.resolve("rate-sink"); val cp = base.resolve("rate-cp")
    val h = 3600L * 1000000L
    val nBatches = 24; val keysPerBatch = 50
    // +24 h base: a row at exactly epoch 0 ties the initial watermark
    // and is dropped as late — an artifact of the synthetic clock, not
    // a state property
    for (b <- 0 until nBatches) {
      val lines = (0 until keysPerBatch).map { k =>
        s"""{"id":"u${b}_$k","ts_us":${(b + 24) * h + k}}"""
      }
      val p = land.resolve(f"b$b%03d.jsonl")
      Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis((b + 1) * 1000000L))
    }
    val q = spark.readStream
      .schema("id STRING, ts_us BIGINT")
      .option("maxFilesPerTrigger", "1")
      .json(land.toString)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "2 hours")
      .dropDuplicatesWithinWatermark("id")
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    assert(progresses.length >= nBatches - 1,
      s"expected ~$nBatches single-file triggers, saw ${progresses.length}")
    // (a) state bounded by the watermark, not the run length: the dedup
    // store holds the 2 h watermark span + the open hour + two batches
    // of watermark lag ≈ 6 batches × 50 keys = ~300 rows at steady state
    // (measured 303 incl. the window-agg rows, CONSTANT across run
    // length); 8 batches' worth is the ceiling, still 3× below the
    // leak asymptote (24 × 50)
    val maxStateRows = progresses.map(_.stateOperators.map(_.numRowsTotal).sum).max
    assert(maxStateRows <= 8L * keysPerBatch,
      s"state grew past the watermark bound: $maxStateRows rows " +
        s"(leak asymptote would be ${nBatches * keysPerBatch})")
    // (b) per-batch latency flat: with bounded state the tail batches run
    // at the same cost as the head; a leak shows up as monotonic growth.
    // Loose 4× bound — this adjudicates growth, not scheduler jitter.
    val durs = progresses.map(_.batchDuration.toDouble)
    val head = durs.slice(2, 10); val tail = durs.takeRight(8)
    assert(tail.sum / tail.length < 4.0 * (head.sum / head.length),
      s"per-batch latency grew across the run: head=${head.mkString(",")} " +
        s"tail=${durs.takeRight(8).mkString(",")}")
    // (c) the drain still emits the right answer: every window whose end
    // cleared the final watermark (max event − 2 h) closed with exactly
    // keysPerBatch rows
    val rows = spark.read.parquet(sink.toString)
      .select(expr("unix_micros(window.start) div 3600000000").as("hr"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.length >= nBatches - 4 && rows.forall(_._2 == keysPerBatch),
      s"windowed counts wrong: ${rows.map { case (h0, n) => s"$h0:$n" }.mkString(",")}")
  }
}
