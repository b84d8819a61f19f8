package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest surfaces for the event stream (SURVEY.md §2.1).
  *
  * The reference replays JSONL into one Kafka topic and consumes it
  * with a manually-committed consumer group (producer/producer.py:
  * 69-92, consumer/consumer.py:485-517). Here both hops are declarative
  * sources/sinks producing the same single-column `value` relation the
  * validation pipeline ([[graft.streaming.EventsPipeline]]) consumes —
  * swap file for Kafka without touching anything downstream.
  *
  * The file paths feed [[graft.streaming.EventsPipeline]] (exercised by
  * StreamingSpec and perfbench's `events_stream`); the Kafka
  * readers/writers need `spark-sql-kafka-0-10` on the classpath at
  * deploy time and are not runnable in this offline environment.
  */
object EventSource {

  /** Batch JSONL lines (producer-side file scan, S1). */
  def fileBatch(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Streaming JSONL lines; `maxFilesPerTrigger` bounds replay rate
    * (the declarative analog of the producer's sleep-based throttle,
    * S3). */
  def fileStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(path)
  }

  /** Decode a Kafka-wire relation (binary `value` + transport metadata
    * columns) into the single-column UTF-8 `value` relation the
    * validation pipeline consumes. Factored out of [[kafkaStream]] so
    * the handoff is contract-testable without a broker: KafkaSourceSpec
    * drives it with a MemoryStream carrying the source's exact output
    * schema (key/value binary, topic, partition, offset, timestamp,
    * timestampType). */
  def decodeKafka(records: DataFrame): DataFrame =
    records.select(col("value").cast("string").as("value"))

  /** Kafka source (S5): earliest offsets, checkpoint-managed progress
    * (replaces the reference's manual commit-every-25). */
  def kafkaStream(spark: SparkSession, bootstrapServers: String,
      topic: String): DataFrame =
    decodeKafka(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load())

  /** Kafka sink wiring (S4): exactly-once to the topic via checkpoint
    * (replaces acks=all/retries/max_in_flight=1 hand-tuning). Returns
    * the writer so callers attach trigger/checkpoint and start. */
  def kafkaSink(lines: DataFrame, bootstrapServers: String, topic: String) =
    lines.select(col("value").cast("binary").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
}
