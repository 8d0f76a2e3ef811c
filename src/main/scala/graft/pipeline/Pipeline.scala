package graft.pipeline

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.transfer.{FtpPools, TransferBackend, TransferFactory}

/** The batch transfer engine: the reference's consume→parse→transfer→DLQ
  * loop (SURVEY §3.1) restated as a narrow Spark pipeline.
  *
  * Dataflow (all narrow — zero shuffles on the main path; the only
  * shuffle a caller ever adds is their own aggregation over results):
  *
  *   raw value strings
  *     → from_json PERMISSIVE (P1, message.py:55-97)
  *     → validate-split (P2, consumer.py:126-137): ok jobs / corrupt+invalid
  *     → mapPartitions transfer map (T1, consumer.py:139-186) with
  *       executor-side temp staging and pooled FTP connections
  *     → TransferResult rows → success / DLQ projection (E1-E2)
  *
  * At 100 TB/1000-executor scale: jobs partition across executors exactly
  * like the reference's Kafka-partition fan-out (O3); per-executor FTP
  * pools bound the connection count to poolSize × executors; no driver
  * collect anywhere.
  */
object Pipeline {

  /** Parse raw JSON job messages and split valid/invalid.
    *
    * Returns (jobs, dlqInput) where `jobs` has columns
    * (job_id, source, destination) with job_id defaulted to a UUID
    * (message.py:94) and `dlqInput` matches Model.dlqSchema minus the
    * timestamp (stamped at sink time).
    *
    * Error messages mirror the reference:
    *  - unparseable JSON → "Failed to parse message: ..." with the raw
    *    text preserved as {"raw": value} (consumer.py:198-209);
    *  - missing source/destination → "Missing required field: X"
    *    (message.py:88-91).
    */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw
      .withColumn("j", from_json(col("value"), Model.jobSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("value"), col("j.*"))

    val corrupt = col("_corrupt_record").isNotNull || (
      col("job_id").isNull && col("source").isNull && col("destination").isNull)
    val missingSource = col("source").isNull ||
      col("source.hostname").isNull || col("source.path").isNull
    val missingDest = col("destination").isNull ||
      col("destination.hostname").isNull || col("destination.path").isNull

    val jobs = parsed
      .filter(!corrupt && !missingSource && !missingDest)
      .select(
        coalesce(col("job_id"), expr("uuid()")).as("job_id"),
        col("source"), col("destination"))

    val dlqInput = parsed
      .filter(corrupt || missingSource || missingDest)
      .select(
        when(corrupt, to_json(struct(col("value").as("raw"))))
          .otherwise(to_json(struct(col("job_id"), col("source"), col("destination"))))
          .as("original_message"),
        when(corrupt,
          concat(lit("Failed to parse message: "), substring(col("value"), 1, 100)))
          .when(missingSource, lit("Missing required field: source"))
          .otherwise(lit("Missing required field: destination"))
          .as("error"),
        lit(Model.ErrorType.Parse).as("error_type"))
    (jobs, dlqInput)
  }

  /** The transfer map (T1): download to executor-local temp, upload to
    * destination, always clean the temp file (consumer.py:183-186).
    * FTP endpoints borrow from the per-executor pool; local endpoints
    * construct a throwaway backend (connect/disconnect are no-ops).
    *
    * Idempotence note (SURVEY §7.4): both backends overwrite on upload
    * (STOR / REPLACE_EXISTING), so task retries and micro-batch replays
    * converge to the same destination state — the at-most-once main path
    * of the reference (consumer.py:123,137) is matched by at-least-once
    * execution + idempotent effects.
    */
  def execute(jobs: Dataset[FileTransferJob], pc: PipelineConfig): Dataset[TransferResult] = {
    val spark = jobs.sparkSession
    import spark.implicits._
    // Fan the side-effecting map out across all cores — the Spark analogue
    // of the reference's Kafka-partition consumer scale-out (O3,
    // entrypoint.sh:35-63). Without this, a single-file jobs source (one
    // input split) would run every transfer serially on one task; the
    // round-robin repartition is the balanced assignment Kafka gives a
    // consumer group. Skipped when the source already has enough splits.
    val target = spark.sparkContext.defaultParallelism
    val spread =
      if (jobs.rdd.getNumPartitions >= target) jobs
      else jobs.repartition(target)
    spread.mapPartitions { it => it.map(job => runOne(job, pc)) }
  }

  private def withBackend[A](cfg: ServerConfig, pc: PipelineConfig)(f: TransferBackend => A): A =
    if (cfg.serverType == "ftp")
      FtpPools(cfg, pc).withConnection(f)
    else {
      val b = TransferFactory.create(cfg)
      TransferBackend.withConnection(b)(f)
    }

  /** consumer.py:139-186, one job. */
  def runOne(job: FileTransferJob, pc: PipelineConfig): TransferResult = {
    val t0 = System.nanoTime()
    var tmp: Path = null
    var bytes = 0L
    def ms = (System.nanoTime() - t0) / 1000000L
    try {
      val srcCfg = pc.serverConfig(job.source.hostname) // J1 config lookup
      val dstCfg = pc.serverConfig(job.destination.hostname)
      tmp = Files.createTempFile("graft-transfer-", ".tmp") // consumer.py:152-154
      withBackend(srcCfg, pc)(_.download(job.source.path, tmp.toString))
      bytes = Files.size(tmp)
      withBackend(dstCfg, pc)(_.upload(tmp.toString, job.destination.path))
      TransferResult(job.job_id,
        job.source.hostname, job.source.path,
        job.destination.hostname, job.destination.path,
        status = "success", error = null, error_type = null,
        bytes = bytes, duration_ms = ms)
    } catch {
      // fatal errors (OOM, a cancelled task's InterruptedException) are
      // not transfer outcomes: they propagate instead of becoming DLQ rows
      case NonFatal(e) =>
        TransferResult(job.job_id,
          job.source.hostname, job.source.path,
          job.destination.hostname, job.destination.path,
          status = "dlq",
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}",
          error_type = Model.ErrorType.of(e),
          bytes = 0L, duration_ms = ms)
    } finally {
      if (tmp != null) Files.deleteIfExists(tmp) // consumer.py:183-186
    }
  }

  /** Project failed results + parse failures into the DLQ record shape
    * (E1/E2, message.py:132-153): original_message JSON, error, UTC
    * timestamp, retry_count=0 (never incremented — reference parity).
    */
  def dlqRecords(results: Dataset[TransferResult], parseFailures: DataFrame): DataFrame = {
    val fromResults = results.toDF()
      .filter(col("status") === "dlq")
      .select(
        to_json(struct(
          col("job_id"),
          struct(col("source_hostname").as("hostname"), col("source_path").as("path")).as("source"),
          struct(col("dest_hostname").as("hostname"), col("dest_path").as("path")).as("destination")))
          .as("original_message"),
        col("error"), col("error_type"))
    fromResults.unionByName(parseFailures)
      .withColumn("timestamp", current_timestamp())
      .withColumn("retry_count", lit(0))
  }

  /** End-to-end batch run: raw messages in, (results, dlq) out. */
  def run(raw: DataFrame, pc: PipelineConfig): (Dataset[TransferResult], DataFrame) = {
    val spark = raw.sparkSession
    import spark.implicits._
    val (jobsDf, parseFailures) = parse(raw)
    val jobs = jobsDf.as[FileTransferJob]
    val results = execute(jobs, pc)
    val dlq = dlqRecords(results, parseFailures)
    // plan-shape capture (VERDICT r12 item 3): the parse → validate →
    // execute and DLQ-route logical shapes are what the p* PLANS.json
    // gate guards; no-op unless a snapshot run enabled it
    graft.tools.StreamPlanCapture.record(results.toDF(), "PipelineResults")
    graft.tools.StreamPlanCapture.record(dlq, "PipelineDlq")
    (results, dlq)
  }

  /** Re-drive DLQ records through the pipeline — the operation the
    * reference stores `retry_count` for but never implements
    * (message.py:130). Transfer-failure records re-parse their
    * `original_message` (the canonical job JSON the DLQ writer produced)
    * and re-run the transfer; parse-failure records are structurally
    * unrecoverable (`{"raw": …}` wraps a message that never parsed) and
    * pass through with `retry_count` bumped, preserving them for manual
    * triage exactly like the reference's DLQ topic does.
    *
    * Returns (results of the replayed jobs, remaining DLQ). Rows that
    * fail AGAIN reappear in the remaining DLQ with
    * `retry_count = previous + 1` — matched back by the canonical
    * original_message key, so convergence is observable per message and a
    * scheduler can cap retries. Replays converge because transfers are
    * idempotent overwrites (§7.4).
    *
    * The input must be a MATERIALIZED DLQ (a parquet sink read back, or a
    * persisted frame) — that is what a deployment replays. Passing the
    * live lineage of a previous `run` would re-execute the original
    * transfers under whatever the filesystem looks like NOW, and a
    * since-fixed source would make the failure rows vanish before the
    * replay ever sees them.
    */
  def replayDlq(dlq: DataFrame, pc: PipelineConfig): (Dataset[TransferResult], DataFrame) = {
    val spark = dlq.sparkSession
    import spark.implicits._
    val replayable = dlq.filter(col("error_type") =!= lit(Model.ErrorType.Parse))
    val unrecoverable = dlq.filter(col("error_type") === lit(Model.ErrorType.Parse))
      .withColumn("retry_count", col("retry_count") + 1)
      .withColumn("timestamp", current_timestamp())
    val retries = replayable.groupBy("original_message")
      .agg(max("retry_count").as("prev_retries"))
    val (jobsDf, parseFailures) = parse(replayable.select(col("original_message").as("value")))
    val results = execute(jobsDf.as[FileTransferJob], pc)
    val newDlq = dlqRecords(results, parseFailures)
      // a re-failed transfer reconstructs the SAME canonical job JSON, so
      // the join recovers each message's prior retry count exactly
      .join(retries, Seq("original_message"), "left")
      .withColumn("retry_count", coalesce(col("prev_retries"), lit(0)) + 1)
      .drop("prev_retries")
      .unionByName(unrecoverable)
    (results, newDlq)
  }
}
