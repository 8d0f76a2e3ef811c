package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stream-connector seam: ONE place constructs the job source and
  * the DLQ sink, with the Kafka option mapping pinned by unit tests
  * (StreamConnectorSpec), so running against a real cluster is a pure
  * config swap. The zero-egress container ships no Kafka connector jar,
  * so the file endpoints are the stand-ins the suite executes; the Kafka
  * branches construct the real `format("kafka")` plans and are pinned to
  * fail loudly (missing data source) rather than silently fall back.
  *
  * Option mapping, reference → Structured Streaming
  * (/root/reference/src/etl/consumer.py:53-66, 211-225):
  *
  * | reference                                  | here                       |
  * |--------------------------------------------|----------------------------|
  * | KafkaConsumer(topic)            :54        | subscribe                  |
  * | bootstrap_servers               :55        | kafka.bootstrap.servers    |
  * | group_id                        :56        | kafka.group.id             |
  * | auto_offset_reset="earliest"    :57        | startingOffsets=earliest   |
  * | enable_auto_commit=False        :58        | (none — the checkpoint IS  |
  * |                                            | the offset store, K4)      |
  * | value_deserializer utf-8        :59        | CAST(value AS STRING)      |
  * | producer.send().get(timeout)    :221-222   | kafka.max.block.ms         |
  * | DLQ topic = topic+suffix (config.py:76-85) | topic (on the sink)        |
  */
object StreamConnector {

  sealed trait JobSource
  /** Directory of JSON-lines message files — the executable stand-in. */
  final case class FileJobSource(dir: String) extends JobSource
  /** Kafka topic — needs spark-sql-kafka on the classpath. */
  final case class KafkaJobSource(
      topic: String, bootstrapServers: String, groupId: String) extends JobSource

  sealed trait DlqSink
  /** Parquet DLQ table, one `batch_id=` partition per micro-batch. */
  final case class FileDlqSink(dir: String) extends DlqSink
  /** Kafka DLQ topic (per-topic route, config.py:76-85). */
  final case class KafkaDlqSink(
      topic: String, bootstrapServers: String, sendTimeoutSec: Int) extends DlqSink

  /** The reference's KafkaConsumer kwargs (consumer.py:53-60) as
    * readStream options. */
  def sourceOptions(s: KafkaJobSource): Map[String, String] = Map(
    "subscribe" -> s.topic,
    "kafka.bootstrap.servers" -> s.bootstrapServers,
    // group_id is forwarded for broker ACLs / lag monitoring; offsets are
    // still checkpoint-tracked, never group-committed (K4)
    "kafka.group.id" -> s.groupId,
    "startingOffsets" -> "earliest",
    // a committed offset lost to retention must fail loudly, exactly like
    // a consumer group whose offset vanished
    "failOnDataLoss" -> "true")

  /** The reference's producer bound — send().get(timeout=DLQ_SEND_TIMEOUT)
    * (consumer.py:62-66, 221-222) — as kafka sink options. */
  def sinkOptions(k: KafkaDlqSink): Map[String, String] = Map(
    "topic" -> k.topic,
    "kafka.bootstrap.servers" -> k.bootstrapServers,
    "kafka.max.block.ms" -> (k.sendTimeoutSec * 1000L).toString)

  /** S1: subscribe to the job-message stream. Downstream operators see
    * one source-agnostic `value: STRING` column either way. */
  def source(spark: SparkSession, src: JobSource): DataFrame = src match {
    case FileJobSource(dir) =>
      spark.readStream.format("text").load(dir).select(col("value"))
    case k: KafkaJobSource =>
      spark.readStream.format("kafka").options(sourceOptions(k)).load()
        .selectExpr("CAST(value AS STRING) AS value") // utf-8 decode parity
  }

  /** The `batch_id=<id>` partition directory of one micro-batch under a
    * file sink's `dir`: a reader of `dir` sees `batch_id` as a partition
    * column, and overwriting the directory replaces exactly that batch. */
  def batchPartition(dir: String, batchId: Long): String = s"$dir/batch_id=$batchId"

  /** K3: write one micro-batch's DLQ records. File: per-batch partition
    * overwrite, replay-idempotent. Kafka: the whole record JSON-serialized
    * into `value` (message.py:155-166 to_json parity). */
  def writeDlq(dlq: DataFrame, sink: DlqSink, batchId: Long): Unit = sink match {
    case FileDlqSink(dir) =>
      dlq.write.mode("overwrite").parquet(batchPartition(dir, batchId))
    case k: KafkaDlqSink =>
      dlq.select(to_json(struct(dlq.columns.map(col).toSeq: _*)).as("value"))
        .write.format("kafka").options(sinkOptions(k)).save()
  }
}
