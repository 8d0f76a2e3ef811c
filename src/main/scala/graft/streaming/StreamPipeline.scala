package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Pipeline, PipelineConfig}

/** Streaming mode of the transfer engine — the reference's Kafka consumer
  * loop (SURVEY §2.1/S1-S2, §3.1) restated as Structured Streaming.
  *
  * Source: a file-stream of JSON-lines job messages. The classpath ships
  * no Kafka connector (zero-egress container), so the "topic" is a
  * directory of message files; source and DLQ sink are isolated behind
  * [[StreamConnector]], whose Kafka option mapping (subscribe /
  * startingOffsets / kafka.group.id / kafka.max.block.ms ↔
  * consumer.py:53-66, 211-225) is pinned by StreamConnectorSpec — a real
  * cluster is a config swap, and every operator downstream of the
  * `value` column is source-agnostic.
  *
  * Delivery semantics (SURVEY §7.4 item 1): the reference commits offsets
  * after success AND after failure-with-DLQ (consumer.py:123,137) —
  * at-most-once with DLQ capture. Structured Streaming's checkpoint gives
  * at-least-once micro-batches; transfers are idempotent (overwrite
  * semantics) and DLQ rows carry job_id for dedup, so replays converge.
  * Offset tracking (K4) is the checkpoint: a restarted query resumes
  * after the last committed batch and never re-reads processed files —
  * asserted in StreamingSpec.
  */
object StreamPipeline {

  /** S1: subscribe to the job-message stream — through the connector
    * seam ([[StreamConnector]]), where the Kafka swap lives. */
  def readJobs(spark: SparkSession, inputDir: String): DataFrame =
    StreamConnector.source(spark, StreamConnector.FileJobSource(inputDir))

  /** S2 + K1-K4 + E1-E3: micro-batch loop. Each batch runs the batch
    * engine, writing successes to `resultsDir` and DLQ records (tagged
    * with the per-topic DLQ route, config.py:76-85) to `dlqDir`, each
    * into a per-batch `batch_id=` partition so replays are idempotent.
    *
    * One pass per micro-batch, 2 Spark jobs: the batch's persisted
    * outcome frame ([[Pipeline.outcomes]]) parses each message once, and
    * the results write is the action that runs the transfers and fills
    * its cache; the DLQ write is a filter plus a projection of the cached
    * frame — no second source scan, no re-parse. Transfers stage their
    * bytes in memory up to 8 MiB ([[graft.pipeline.transfer.Stage]]).
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      pc: PipelineConfig,
      topic: String,
      resultsDir: String,
      dlqDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val jobs = readJobs(spark, inputDir)
    // plan-shape capture for the pipeline's streaming source (VERDICT
    // r12 item 3 — p* plans join the PLANS.json gate); no-op in prod
    graft.tools.StreamPlanCapture.record(jobs, "Pipeline")
    jobs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val outcomes = Pipeline.outcomes(batch, pc)
        try {
          // Idempotent on retry: each micro-batch owns its batch_id=<id>
          // partition, and an overwrite of that directory REPLACES exactly
          // that partition — a batch replayed after a crash between the
          // sink write and the checkpoint commit converges instead of
          // appending duplicate rows. (Transfers themselves are already
          // idempotent overwrites; this closes the sink-side gap.) The
          // batch id is in the path, not a column: a `lit(batchId)` would
          // make each batch's writer new code to compile.
          Pipeline.resultsOf(outcomes).write.mode("overwrite")
            .parquet(StreamConnector.batchPartition(resultsDir, batchId))
          // DLQ send failures are swallowed-and-logged, never fatal to the
          // batch (consumer.py:224-225, pinned by test_consumer.py:346-357).
          try StreamConnector.writeDlq(
            Pipeline.dlqOf(outcomes)
              .withColumn("dlq_topic", lit(pc.dlqTopic(topic)))
              // the reference serializes the DLQ timestamp as an ISO-8601
              // UTC string (message.py:127-129) — rendered here at the sink
              // boundary; the typed column stays for analytics
              .withColumn("timestamp_iso",
                date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")),
            StreamConnector.FileDlqSink(dlqDir), batchId)
          catch {
            case NonFatal(e) =>
              System.err.println(s"[stream] DLQ write failed (swallowed): ${e.getMessage}")
          }
        } finally outcomes.unpersist()
      }
      .start()
  }

  /** O2: graceful shutdown — SIGTERM/SIGINT stop the query, idempotently
    * (main.py:25-30, consumer.py:76-88). */
  def stopOnShutdown(query: StreamingQuery): Unit =
    sys.addShutdownHook {
      try if (query.isActive) query.stop()
      catch { case NonFatal(_) => () }
    }
}

/** O1: CLI entry with the reference's argument surface
  * (/root/reference/src/etl/main.py:33-106): positional AND --flag forms
  * for topic / group-id / bootstrap-servers, flag wins; --env-file; -v.
  * group/servers are accepted for parity and recorded in the session name
  * (partition assignment is Spark's job here, O3).
  */
object StreamMain {
  final case class Args(
      topic: String = "file-transfer-jobs",
      groupId: String = "etl-file-sync",
      servers: String = "localhost:9092",
      envFile: Option[String] = None,
      verbose: Boolean = false)

  def parseArgs(argv: Array[String]): Args = {
    val positional = argv.filterNot(_.startsWith("-"))
      .zip(Seq.tabulate(3)(identity)).toMap.map(_.swap)
    var a = Args(
      topic = positional.getOrElse(0, Args().topic),
      groupId = positional.getOrElse(1, Args().groupId),
      servers = positional.getOrElse(2, Args().servers))
    var i = 0
    while (i < argv.length) {
      argv(i) match { // flags take precedence over positionals (main.py:82-90)
        case "--topic" => a = a.copy(topic = argv(i + 1)); i += 2
        case "--group-id" => a = a.copy(groupId = argv(i + 1)); i += 2
        case "--bootstrap-servers" => a = a.copy(servers = argv(i + 1)); i += 2
        case "--env-file" => a = a.copy(envFile = Some(argv(i + 1))); i += 2
        case "-v" | "--verbose" => a = a.copy(verbose = true); i += 1
        case _ => i += 1
      }
    }
    a
  }

  /** Load KEY=VALUE lines (the reference's .env format). */
  def loadEnvFile(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#") && l.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); k.trim -> v.trim }
      .toMap

  /** dotenv parity (config.py:32 `load_dotenv(env_file)`, default
    * override=False): the PROCESS environment wins; the env-file only
    * supplies keys the environment lacks. */
  def mergedEnv(processEnv: Map[String, String], envFile: Option[String]): Map[String, String] =
    envFile.map(loadEnvFile).getOrElse(Map.empty) ++ processEnv

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val env = mergedEnv(sys.env, a.envFile)
    val pc = new PipelineConfig(env)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, s"graft-stream-${a.groupId}")
    if (a.verbose) spark.sparkContext.setLogLevel("INFO")
    val base = env.getOrElse("GRAFT_STREAM_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_stream/${a.topic}")
    val q = StreamPipeline.start(spark, s"$base/in", pc, a.topic,
      s"$base/results", s"$base/dlq", s"$base/checkpoint",
      Trigger.ProcessingTime("1 second")) // poll cadence parity (consumer.py:94)
    StreamPipeline.stopOnShutdown(q)
    q.awaitTermination()
  }
}
