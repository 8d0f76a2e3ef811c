package graft.pipeline

import org.apache.spark.sql.types._

/** Core data model of the file-transfer pipeline.
  *
  * Mirrors the reference's message schemas (see SURVEY.md §1):
  *  - `Endpoint`        ← /root/reference/src/etl/models/message.py:10-30
  *  - `FileTransferJob` ← message.py:33-53
  *  - `DLQMessage`      ← message.py:112-130 (retry_count always 0 — the
  *    reference never increments it; we replicate that)
  *  - `TransferResult`  — our addition: the per-job outcome row the Spark
  *    transfer operator emits (the reference logs this, we make it data).
  *
  * The on-wire schema is tiny and fixed; parsing is permissive on unknown
  * keys, strict on required ones (message.py:88-97): a missing
  * source/destination fails the row into the DLQ channel; a missing job_id
  * is defaulted to a fresh UUID.
  */
final case class Endpoint(hostname: String, path: String)

final case class FileTransferJob(
    job_id: String,
    source: Endpoint,
    destination: Endpoint)

/** Outcome of one transfer attempt; `status` is "success" or "dlq". */
final case class TransferResult(
    job_id: String,
    source_hostname: String,
    source_path: String,
    dest_hostname: String,
    dest_path: String,
    status: String,
    error: String, // null on success
    error_type: String, // taxonomy bucket, null on success (see Errors)
    bytes: Long,
    duration_ms: Long)

/** One parsed message: a valid job, or — when `original_message` is set —
  * a message that failed to parse or validate, with its DLQ error. */
final case class ParsedMessage(
    job_id: String,
    source: Endpoint,
    destination: Endpoint,
    original_message: String, // null for a valid job
    error: String)

/** One row of a micro-batch's outcome frame: the transfer result of a job,
  * or a parse failure (status "dlq", error_type "parse") carrying its
  * `original_message`. */
final case class Outcome(result: TransferResult, original_message: String)

object Model {

  /** message.py:88-97 — the job message schema used by from_json. */
  val endpointSchema: StructType = StructType(Seq(
    StructField("hostname", StringType),
    StructField("path", StringType)))

  val jobSchema: StructType = StructType(Seq(
    StructField("job_id", StringType),
    StructField("source", endpointSchema),
    StructField("destination", endpointSchema),
    // PERMISSIVE-mode capture of unparseable JSON (consumer.py:198-209:
    // raw bytes become the DLQ original_message).
    StructField("_corrupt_record", StringType)))

  /** message.py:112-130 — DLQ record shape. The reference stores the
    * timestamp as an ISO-8601 UTC *string* (message.py:127-129); we keep
    * a typed timestamp column and render ISO-8601 at the sink boundary.
    */
  val dlqSchema: StructType = StructType(Seq(
    StructField("original_message", StringType), // JSON of the job, or raw text
    StructField("error", StringType),
    StructField("timestamp", TimestampType),
    StructField("retry_count", IntegerType)))

  /** Error taxonomy (SURVEY §7.4 item 4). Buckets mirror the reference's
    * exception types so DLQ payloads classify identically:
    *   not_found  ← FileNotFoundError (ftp.py:143-146, local.py:64-66,86-87)
    *   io         ← IOError / OSError (ftp.py:147-150)
    *   config     ← ValueError from server registry (config.py:104-106)
    *   type       ← ValueError from factory dispatch (base.py:100-105)
    *   parse      ← json/validation errors (consumer.py:198-209)
    *   timeout    ← pool exhaustion (pool.py:156-160)
    */
  object ErrorType {
    val NotFound = "not_found"
    val Io = "io"
    val Config = "config"
    val UnknownType = "type"
    val Parse = "parse"
    val Timeout = "timeout"

    def of(e: Throwable): String = e match {
      case _: java.io.FileNotFoundException => NotFound
      case _: java.util.concurrent.TimeoutException => Timeout
      case _: IllegalArgumentException => UnknownType
      case _: NoSuchElementException => Config
      case _: java.io.IOException => Io
      case _ => Io
    }
  }
}
