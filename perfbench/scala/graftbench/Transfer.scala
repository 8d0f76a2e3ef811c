package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline._
import graft.pipeline.testkit.FakeFtpServer
import graft.pipeline.transfer.{FtpPools, TransferBackend, TransferFactory}
import graft.streaming.{StreamConnector, StreamPipeline}

/** The stream-small-files workload: a job backlog drained FTP→FTP through
  * the streaming consumer (`StreamPipeline.start`, AvailableNow).
  *
  * Each pass gets fresh destination servers rooted in its own directory,
  * so every pass is a complete drain into empty directories and the
  * checker can compare each pass's outputs against the manifest. The
  * source server lives for the whole run. */
object Transfer {
  val Topic = "file-transfer-jobs"
  val Verbs = Seq("USER", "PASS", "TYPE", "PASV", "PORT", "RETR", "STOR", "NLST",
    "LIST", "SIZE", "RNFR", "RNTO", "DELE", "CWD", "MKD", "NOOP", "QUIT")
  val Hosts = Seq("SRC", "DST", "FLAKY")
  val WarmPasses = 5

  def run(ctx: Ctx, props: java.util.Properties): Seq[Map[String, Any]] = {
    val work = ctx.out.getParent
    def path(key: String) = work.resolve(props.getProperty(key)).toString
    val src = new FakeFtpServer(Paths.get(path("src_root")))
    val backlog = Backlog(path("messages"), props.getProperty("jobs").toInt,
      props.getProperty("flaky_kills").toInt, props.getProperty("kill_after_bytes").toLong)
    try {
      // untimed drains of the backlog: the cold start, then JIT warm-up; pass
      // walls still fall by 10-20% a pass after three drains
      for (w <- 0 until WarmPasses)
        ctx.warm += pass(ctx, src, s"warm$w", backlog, Mode.Plain)("wall_s").asInstanceOf[Double]
      ctx.setupDone()
      ctx.timedPasses((i, mode) => pass(ctx, src, f"pass$i%02d", backlog, mode))
    } finally src.stop()
  }

  private final case class Backlog(messages: String, jobs: Int, kills: Int, killAfter: Long)

  private def env(src: FakeFtpServer, dst: FakeFtpServer, flaky: FakeFtpServer) =
    new PipelineConfig((Seq("SRC" -> src, "DST" -> dst, "FLAKY" -> flaky).flatMap {
      case (h, s) => Seq(s"${h}_TYPE" -> "ftp", s"${h}_HOST" -> "127.0.0.1",
        s"${h}_PORT" -> s.port.toString, s"${h}_USERNAME" -> "u", s"${h}_PASSWORD" -> "p")
    } :+ ("FTP_POOL_SIZE" -> "4")).toMap)

  private def pass(ctx: Ctx, src: FakeFtpServer, name: String, backlog: Backlog,
      mode: String): Map[String, Any] = {
    val dir = ctx.out.resolve(name)
    Seq("dst", "flaky").foreach(d => Files.createDirectories(dir.resolve(d)))
    val dst = new FakeFtpServer(dir.resolve("dst"))
    val flaky = new FakeFtpServer(dir.resolve("flaky"),
      storKillAfterBytes = backlog.killAfter, storKillCount = backlog.kills)
    val pc = env(src, dst, flaky)
    val srcVerbs0 = Verbs.map(src.commandCount)
    val srcSessions0 = src.connectionsOpened.get
    val (results, dlq, ckpt) =
      (dir.resolve("results").toString, dir.resolve("dlq").toString, dir.resolve("ckpt").toString)
    var errors = Seq.empty[String]
    TracedPipeline.bytesDown.set(0); TracedPipeline.bytesUp.set(0)
    val w = ctx.window(mode, name) { passId =>
      try {
        val q: StreamingQuery =
          if (mode == Mode.Spans)
            TracedPipeline.start(ctx.spark, backlog.messages, pc, results, dlq, ckpt, name, passId)
          else StreamPipeline.start(ctx.spark, backlog.messages, pc, Topic, results, dlq, ckpt,
            Trigger.AvailableNow())
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      } catch { case e: Throwable => errors :+= s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    // pool sizes must be read before closeAll drops the pools
    val created = Hosts.map(h => FtpPools(pc.serverConfig(h), pc).created)
    FtpPools.closeAll()
    dst.stop(); flaky.stop()
    val verbs = Verbs.zip(srcVerbs0).map { case (v, before) =>
      v -> (src.commandCount(v) - before + dst.commandCount(v) + flaky.commandCount(v))
    }.toMap
    val sessions = src.connectionsOpened.get - srcSessions0 +
      dst.connectionsOpened.get + flaky.connectionsOpened.get
    val leftover = Option(Paths.get(System.getProperty("java.io.tmpdir")).toFile.list())
      .getOrElse(Array.empty[String]).count(f => f.startsWith("graft-transfer-") && f.endsWith(".tmp"))
    // counters the program's own passes give for free; the spans passes run
    // the re-composed topology, so their counters are left out
    val counts = if (mode == Mode.Spans) Map.empty[String, Double] else {
      // a connection caught dead was discarded and its slot freed; its probe
      // never reached a live server, so probes sent = NOOPs served + dead
      val dead = sessions - created.sum
      val probes = verbs("NOOP") + dead
      val n = backlog.jobs.toDouble
      Map(
        "pool.created" -> created.max.toDouble,
        "pool.validate_hit_ratio" -> (if (probes > 0) dead.toDouble / probes else 0.0),
        "ftp.cmds_per_job" -> verbs.values.sum / n,
        "ftp.sessions_opened" -> sessions.toDouble,
        "temp.leftover" -> leftover.toDouble) ++
        Seq("RETR", "STOR", "NOOP", "PASV", "CWD", "MKD", "SIZE")
          .map(v => s"ftp.cmds_per_job.$v" -> verbs(v) / n)
    }
    val layer = counts ++ (mode match {
      case Mode.Engine =>
        w.stream.map { case (k, v) => s"stream.$k" -> v } ++
          Map("stream.overhead_ms" -> (w.stream("trigger_ms") - w.stream("add_batch_ms"))) ++
          w.engine.map { case (k, v) => s"spark.$k" -> v }
      case Mode.Spans => spanMetrics(Trace.within(w.t0, w.t1))
      case _ => Map.empty[String, Double]
    })
    Map("name" -> name, "mode" -> mode, "wall_s" -> w.wallS, "dir" -> dir.toString,
      "errors" -> errors, "pool_created_max" -> created.max, "temp_leftover" -> leftover,
      "sessions" -> sessions, "verbs" -> verbs, "layer" -> layer, "span_counts" -> Trace.counts(w))
  }

  /** Per-layer figures of one spans pass. */
  private def spanMetrics(spans: Seq[Span]): Map[String, Double] = {
    def ms(n: String) = spans.filter(_.name == n).map(_.ms)
    val jobs = ms("pipeline.job")
    val borrow = ms("pool.borrow")
    val downS = ms("ftp.download").sum / 1000
    val upS = ms("ftp.upload").sum / 1000
    Map(
      "pipeline.parse_ms" -> ms("pipeline.parse").sum,
      "pipeline.job_ms_p50" -> Stats.pct(jobs, 50),
      "pipeline.job_ms_p99" -> Stats.pct(jobs, 99),
      "pipeline.job_self_ms_sum" -> (ms("pipeline.config").sum + ms("pipeline.temp").sum),
      "pipeline.sink_ms" -> ms("pipeline.sink").sum,
      "pool.borrows" -> borrow.size.toDouble,
      "pool.borrow_wait_ms_sum" -> borrow.sum,
      "pool.borrow_wait_ms_p99" -> Stats.pct(borrow, 99),
      "ftp.download_ms_sum" -> downS * 1000,
      "ftp.upload_ms_sum" -> upS * 1000,
      "ftp.download_mb_per_s" -> (if (downS > 0) TracedPipeline.bytesDown.get / 1e6 / downS else 0.0),
      "ftp.upload_mb_per_s" -> (if (upS > 0) TracedPipeline.bytesUp.get / 1e6 / upS else 0.0))
  }
}

/** `StreamPipeline.start`'s topology re-composed from the program's public
  * functions with a span around each step, for the steps that have no seam
  * in the program's own code path: the micro-batch body of
  * `StreamPipeline.start`, the fan-out of `Pipeline.execute` and the
  * per-job steps of `Pipeline.runOne` (config lookup, temp file, pool
  * borrow, download, upload). The Spark plan is the program's: one
  * persisted transfer result per micro-batch, counted once, the DLQ
  * projected from it, DLQ write failures swallowed. Only spans passes run
  * it, and the checker holds their outputs to the same manifest. */
object TracedPipeline {
  val bytesDown = new AtomicLong
  val bytesUp = new AtomicLong

  def start(spark: SparkSession, input: String, pc: PipelineConfig,
      results: String, dlq: String, ckpt: String, trace: String, parent: Long): StreamingQuery =
    StreamPipeline.readJobs(spark, input).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        batch(b, id, pc, results, dlq, trace, parent)
      }
      .start()

  private def batch(raw: DataFrame, batchId: Long, pc: PipelineConfig, resultsDir: String,
      dlqDir: String, trace: String, parent: Long): Unit = {
    val spark = raw.sparkSession
    import spark.implicits._
    val root = Trace.nextId()
    val t0 = System.nanoTime()
    // plan construction only: the parse runs fused into the transfer stage
    val (jobsDf, parseFailures) = Trace.timed("pipeline.parse", trace, root)(Pipeline.parse(raw))
    val jobs = jobsDf.as[FileTransferJob]
    val target = spark.sparkContext.defaultParallelism
    val spread = if (jobs.rdd.getNumPartitions >= target) jobs else jobs.repartition(target)
    val xfer = Trace.nextId()
    val results = spread.mapPartitions(it => it.map(j => runOne(j, pc, xfer)))
    val dlq = Pipeline.dlqRecords(results, parseFailures)
    val r = results.toDF().persist()
    try {
      val x0 = System.nanoTime()
      r.count()
      Trace.record(xfer, root, trace, "pipeline.transfer", x0, System.nanoTime())
      Trace.timed("pipeline.sink", trace, root) {
        r.withColumn("batch_id", lit(batchId)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").partitionBy("batch_id").parquet(resultsDir)
        try StreamConnector.writeDlq(
          dlq.withColumn("dlq_topic", lit(pc.dlqTopic(Transfer.Topic)))
            .withColumn("timestamp_iso",
              date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")),
          StreamConnector.FileDlqSink(dlqDir), batchId)
        catch {
          case e: Throwable =>
            System.err.println(s"[graftbench] DLQ write failed (swallowed): ${e.getMessage}")
        }
      }
    } finally r.unpersist()
    Trace.record(root, parent, trace, "pipeline.batch", t0, System.nanoTime())
  }

  private def withBackend[A](cfg: ServerConfig, pc: PipelineConfig, trace: String,
      parent: Long)(f: TransferBackend => A): A =
    if (cfg.serverType == "ftp") {
      val pool = FtpPools(cfg, pc)
      val c = Trace.timed("pool.borrow", trace, parent)(pool.borrow())
      try f(c) finally pool.give(c)
    } else TransferBackend.withConnection(TransferFactory.create(cfg))(f)

  def runOne(job: FileTransferJob, pc: PipelineConfig, parent: Long): TransferResult = {
    val id = Trace.nextId()
    val tr = job.job_id
    val t0 = System.nanoTime()
    var tmp: Path = null
    def ms = (System.nanoTime() - t0) / 1000000L
    def result(status: String, error: String, errorType: String, bytes: Long) =
      TransferResult(job.job_id, job.source.hostname, job.source.path,
        job.destination.hostname, job.destination.path, status, error, errorType, bytes, ms)
    try {
      val (srcCfg, dstCfg) = Trace.timed("pipeline.config", tr, id)(
        (pc.serverConfig(job.source.hostname), pc.serverConfig(job.destination.hostname)))
      tmp = Trace.timed("pipeline.temp", tr, id)(Files.createTempFile("graft-transfer-", ".tmp"))
      withBackend(srcCfg, pc, tr, id)(b =>
        Trace.timed("ftp.download", tr, id)(b.download(job.source.path, tmp.toString)))
      val bytes = Trace.timed("pipeline.temp", tr, id)(Files.size(tmp))
      bytesDown.addAndGet(bytes)
      withBackend(dstCfg, pc, tr, id)(b =>
        Trace.timed("ftp.upload", tr, id)(b.upload(tmp.toString, job.destination.path)))
      bytesUp.addAndGet(bytes)
      result("success", null, null, bytes)
    } catch {
      case e: Throwable =>
        result("dlq", s"${e.getClass.getSimpleName}: ${e.getMessage}", Model.ErrorType.of(e), 0L)
    } finally {
      if (tmp != null) Trace.timed("pipeline.temp", tr, id)(Files.deleteIfExists(tmp))
      Trace.record(id, parent, tr, "pipeline.job", t0, System.nanoTime())
    }
  }
}
