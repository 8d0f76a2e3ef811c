package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.transfer.{FtpPools, Stage, TransferBackend, TransferFactory}

/** The batch transfer engine: the reference's consume→parse→transfer→DLQ
  * loop (SURVEY §3.1) restated as a narrow Spark pipeline.
  *
  * Dataflow (all narrow — zero shuffles on the main path; the only
  * shuffle a caller ever adds is their own aggregation over results):
  *
  *   raw value strings
  *     → from_json PERMISSIVE, once per message (P1, message.py:55-97)
  *     → validate (P2, consumer.py:126-137): a job, or a parse failure
  *       with its original_message and error
  *     → mapPartitions transfer map (T1, consumer.py:139-186) with pooled
  *       FTP connections: a job's bytes go through a [[Stage]] (in memory
  *       up to 8 MiB, a temp file past that or for a local-filesystem
  *       leg); a parse failure passes through
  *     → ONE persisted outcome frame per run; results and the DLQ (E1-E2)
  *       are a filter plus a projection of it
  *
  * The transfers run on the outcome frame's first action, once: the
  * stream sink's results write is that action, and its DLQ write reads
  * the cached frame — 2 Spark jobs per micro-batch, one source scan.
  *
  * At 100 TB/1000-executor scale: jobs partition across executors exactly
  * like the reference's Kafka-partition fan-out (O3); per-executor FTP
  * pools bound the connection count to poolSize × executors; staging
  * memory is bounded by cores × 8 MiB; no driver collect anywhere.
  */
object Pipeline {

  /** Parse and validate each message once: one row per message with the
    * ParsedMessage columns. A valid job has job_id defaulted to a UUID
    * (message.py:94) and a null `original_message`; a failure carries the
    * DLQ `original_message` and `error`.
    *
    * Error messages mirror the reference:
    *  - unparseable JSON → "Failed to parse message: ..." with the raw
    *    text preserved as {"raw": value} (consumer.py:198-209);
    *  - missing source/destination → "Missing required field: X"
    *    (message.py:88-91).
    */
  private def classify(raw: DataFrame): DataFrame = {
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
    val invalid = corrupt || missingSource || missingDest

    parsed.select(
      when(!invalid, coalesce(col("job_id"), expr("uuid()"))).as("job_id"),
      col("source"), col("destination"),
      when(corrupt, to_json(struct(col("value").as("raw"))))
        .when(invalid, to_json(struct(col("job_id"), col("source"), col("destination"))))
        .as("original_message"),
      when(corrupt,
        concat(lit("Failed to parse message: "), substring(col("value"), 1, 100)))
        .when(missingSource, lit("Missing required field: source"))
        .when(missingDest, lit("Missing required field: destination"))
        .as("error"))
  }

  /** Parse raw JSON job messages and split valid/invalid.
    *
    * Returns (jobs, dlqInput) where `jobs` has columns
    * (job_id, source, destination) and `dlqInput` matches Model.dlqSchema
    * minus the timestamp (stamped at sink time) plus error_type. The
    * rules are [[classify]]'s.
    */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val messages = classify(raw)
    val failed = col("original_message").isNotNull
    (messages.filter(!failed).select("job_id", "source", "destination"),
      messages.filter(failed).select(col("original_message"), col("error"),
        lit(Model.ErrorType.Parse).as("error_type")))
  }

  /** The transfer map (T1) over parsed messages: a job runs [[runOne]], a
    * parse failure becomes its DLQ outcome untouched.
    *
    * Idempotence note (SURVEY §7.4): both backends overwrite on upload
    * (STOR / REPLACE_EXISTING), so task retries and micro-batch replays
    * converge to the same destination state — the at-most-once main path
    * of the reference (consumer.py:123,137) is matched by at-least-once
    * execution + idempotent effects.
    */
  def execute(messages: Dataset[ParsedMessage], pc: PipelineConfig): Dataset[Outcome] = {
    val spark = messages.sparkSession
    import spark.implicits._
    // Fan the side-effecting map out across all cores — the Spark analogue
    // of the reference's Kafka-partition consumer scale-out (O3,
    // entrypoint.sh:35-63). Without this, a single-file jobs source (one
    // input split) would run every transfer serially on one task; the
    // round-robin repartition is the balanced assignment Kafka gives a
    // consumer group. Skipped when the source already has enough splits.
    val target = spark.sparkContext.defaultParallelism
    val spread =
      if (messages.rdd.getNumPartitions >= target) messages
      else messages.repartition(target)
    spread.mapPartitions(_.map { m =>
      if (m.original_message != null)
        Outcome(TransferResult(null, null, null, null, null, status = "dlq", error = m.error,
          error_type = Model.ErrorType.Parse, bytes = 0L, duration_ms = 0L), m.original_message)
      else Outcome(runOne(FileTransferJob(m.job_id, m.source, m.destination), pc), null)
    })
  }

  private def withBackend[A](cfg: ServerConfig, pc: PipelineConfig)(f: TransferBackend => A): A =
    if (cfg.serverType == "ftp")
      FtpPools(cfg, pc).withConnection(f)
    else {
      val b = TransferFactory.create(cfg)
      TransferBackend.withConnection(b)(f)
    }

  /** consumer.py:139-186, one job: download the whole source into a
    * [[Stage]], then upload it, so the destination is written only after
    * the source was read in full. FTP endpoints borrow from the
    * per-executor pool; local endpoints construct a throwaway backend
    * (connect/disconnect are no-ops). A spilled temp file is removed on
    * every path (consumer.py:183-186). */
  def runOne(job: FileTransferJob, pc: PipelineConfig): TransferResult = {
    val t0 = System.nanoTime()
    val stage = Stage()
    def ms = (System.nanoTime() - t0) / 1000000L
    try {
      val srcCfg = pc.serverConfig(job.source.hostname) // J1 config lookup
      val dstCfg = pc.serverConfig(job.destination.hostname)
      withBackend(srcCfg, pc)(_.download(job.source.path, stage))
      withBackend(dstCfg, pc)(_.upload(stage, job.destination.path))
      TransferResult(job.job_id,
        job.source.hostname, job.source.path,
        job.destination.hostname, job.destination.path,
        status = "success", error = null, error_type = null,
        bytes = stage.size, duration_ms = ms)
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
    } finally stage.close()
  }

  /** The outcome frame of `raw`: one Outcome row per message, persisted
    * (lazily) so that the transfer map runs exactly once however many
    * frames — results, DLQ, status counts — later read it. Its cache is
    * the caller's to free (`unpersist`, or the query boundary). */
  def outcomes(raw: DataFrame, pc: PipelineConfig): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    execute(classify(raw).as[ParsedMessage], pc).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The transfer results of an outcome frame: every row but the parse
    * failures, which are the rows that carry their original message. */
  def resultsOf(outcomes: DataFrame): Dataset[TransferResult] = {
    val spark = outcomes.sparkSession
    import spark.implicits._
    outcomes.filter(col("original_message").isNull).select(col("result.*")).as[TransferResult]
  }

  /** The canonical job JSON of a transfer result row: a failed transfer's
    * DLQ `original_message`. */
  private def jobJson = to_json(struct(
    col("job_id"),
    struct(col("source_hostname").as("hostname"), col("source_path").as("path")).as("source"),
    struct(col("dest_hostname").as("hostname"), col("dest_path").as("path")).as("destination")))

  /** Stamps DLQ rows with a UTC timestamp and retry_count=0 (never
    * incremented — reference parity, message.py:112-130). */
  private def stamped(dlq: DataFrame): DataFrame =
    dlq.withColumn("timestamp", current_timestamp())
      .withColumn("retry_count", lit(0))

  /** The DLQ records of an outcome frame (E1/E2, message.py:132-153):
    * failed transfers and parse failures alike, one filter plus one
    * projection of the same rows. */
  def dlqOf(outcomes: DataFrame): DataFrame =
    stamped(outcomes.select(col("result.*"), col("original_message"))
      .filter(col("status") === "dlq")
      .select(coalesce(col("original_message"), jobJson).as("original_message"),
        col("error"), col("error_type")))

  /** Project failed results + parse failures into the DLQ record shape
    * (E1/E2, message.py:132-153) — for callers that hold the two halves
    * apart, as [[parse]] returns them. */
  def dlqRecords(results: Dataset[TransferResult], parseFailures: DataFrame): DataFrame =
    stamped(results.toDF()
      .filter(col("status") === "dlq")
      .select(jobJson.as("original_message"), col("error"), col("error_type"))
      .unionByName(parseFailures))

  /** End-to-end batch run: raw messages in, (results, dlq) out — two
    * projections of one persisted outcome frame ([[outcomes]]). */
  def run(raw: DataFrame, pc: PipelineConfig): (Dataset[TransferResult], DataFrame) = {
    val o = outcomes(raw, pc)
    val results = resultsOf(o)
    val dlq = dlqOf(o)
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
    val replayable = dlq.filter(col("error_type") =!= lit(Model.ErrorType.Parse))
    val unrecoverable = dlq.filter(col("error_type") === lit(Model.ErrorType.Parse))
      .withColumn("retry_count", col("retry_count") + 1)
      .withColumn("timestamp", current_timestamp())
    val retries = replayable.groupBy("original_message")
      .agg(max("retry_count").as("prev_retries"))
    val o = outcomes(replayable.select(col("original_message").as("value")), pc)
    val results = resultsOf(o)
    val newDlq = dlqOf(o)
      // a re-failed transfer reconstructs the SAME canonical job JSON, so
      // the join recovers each message's prior retry count exactly
      .join(retries, Seq("original_message"), "left")
      .withColumn("retry_count", coalesce(col("prev_retries"), lit(0)) + 1)
      .drop("prev_retries")
      .unionByName(unrecoverable)
    (results, newDlq)
  }
}
