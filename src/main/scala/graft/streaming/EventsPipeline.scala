package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.util.ForkFreeFs

/** The reference's streaming core, rebuilt on Structured Streaming.
  *
  * Reference pipeline (sejalv/energy-data-stream-processing): a Kafka
  * consumer validates JSON events (consumer/consumer.py:102-123),
  * batch-inserts raw rows into Postgres (:186-237), maintains an
  * in-memory hourly aggregate (:81-98, 240-293) and upserts it every
  * 30 s (:296-391); invalid events go to an error log with a reason
  * (:76-79, 125-128).
  *
  * Spark mapping: one declarative pipeline per sink —
  * `lines -> parse/validate split -> (a) raw append, (b) dead-letter
  * append, (c) withWatermark(24h).groupBy(window 1h).agg(16 metrics)
  * -> foreachBatch upsert`. The partial/final aggregation split the
  * reference hand-codes (HourlyStats dict + ON CONFLICT merge) is
  * Spark's own partial agg + state store; the thread/lock machinery
  * has no equivalent because the state store owns it.
  *
  * Documented divergences (SURVEY.md §7.1):
  *  - events >24h late are dropped by the watermark (the reference
  *    accepts them forever, only pruning memory);
  *  - per-hour distinct counts are true distincts (the reference
  *    double-counts across flush epochs on restart);
  *  - peak_hour_usage merges as MAX, not last-write-wins;
  *  - exactly-once via checkpoint + idempotent batch-id sink vs the
  *    reference's at-least-once manual offset commits.
  *
  * Parsing reads each line once per nesting level, as the reference's
  * single `json.loads` does (consumer/consumer.py:102): one
  * `json_tuple` takes the envelope fields from the line, a second takes
  * the payload fields from the `payload` text. `json_tuple` keeps every
  * scalar as text, because payload numerics legitimately arrive as
  * strings ("20.5", tests/test_consumer.py:17) or numbers; typed casts
  * then apply the reference's coercion rules (consumer/consumer.py:
  * 64-74). A line missing an envelope field is re-read whole only then,
  * to tell malformed JSON from missing keys, so valid lines never pay
  * for that check. On a duplicate key the last occurrence wins, as in
  * `json.loads`.
  */
object EventsPipeline {

  /** Event types and their required payload fields
    * (consumer/consumer.py:102-110). */
  val RequiredPayloadFields: Map[String, Seq[String]] = Map(
    "user_login" -> Seq("customer_id", "session_id", "channel"),
    "user_logout" -> Seq("customer_id", "session_id", "channel"),
    "view_tariffs" -> Seq("customer_id", "session_id", "channel", "tariff_type"),
    "tariff_switch" -> Seq("customer_id", "session_id", "channel", "tariff_type"),
    "incentive_claim" -> Seq("customer_id", "session_id", "channel", "tariff_type"),
    "energy_consumed" -> Seq("customer_id", "session_id", "channel", "energy_consumed"),
    "bill_payment" -> Seq("customer_id", "session_id", "channel", "payment_amount"))

  /** Numeric coercion per the reference: parseable and >= 0 -> value,
    * otherwise null (consumer/consumer.py:64-74; the raw-insert path
    * nulls invalid numerics, consumer/consumer.py:198-206). A value too
    * large for the column's decimal type is invalid too: `try_cast`
    * nulls it where a plain cast would fail the whole batch under ANSI
    * mode. */
  private def validNumeric(c: Column, dt: DataType): Column = {
    val d = c.try_cast(DoubleType) // ANSI-safe: malformed -> null
    when(d.isNotNull && d >= 0.0, d.try_cast(dt))
  }

  /** Parse raw JSON lines (column `value`) and classify each row.
    * Output: all typed event columns + `reason` ("valid" or the
    * dead-letter reason, mirroring producer/producer.py:55-67 and
    * consumer/consumer.py:112-123). */
  def parseAndValidate(lines: DataFrame): DataFrame = {
    // A string payload holding an object's JSON text is not that object.
    // Such a text's quotes reach the line escaped or inside single quotes,
    // so only a line with a backslash or an apostrophe is parsed once
    // more, with json_tuple's leniency, to ask whether `payload` is an
    // object (any other JSON type fails the struct and leaves it null).
    val payloadIsObject =
      !(col("value").contains("\\") || col("value").contains("'")) ||
        from_json(col("value"), "payload STRUCT<customer_id: STRING>",
          Map("allowUnquotedControlChars" -> "true"))
          .getField("payload").isNotNull
    val parsed = lines
      .select(col("value"),
        json_tuple(col("value"), "event_type", "event_time", "payload")
          .as(Seq("event_type", "event_time_raw", "payload_raw")))
      .select(col("*"),
        json_tuple(when(payloadIsObject, col("payload_raw")),
          "customer_id", "session_id", "channel",
          "tariff_type", "energy_consumed", "payment_amount")
          .as(Seq("customer_id", "session_id", "channel", "tariff_type",
            "energy_raw", "payment_raw")))
      .withColumn("session_id", col("session_id").try_cast(IntegerType))
      .withColumn("event_time",
        // accepts both "2025-06-01T02:04:33.033906" and "...T12:00:00Z"
        expr("try_cast(event_time_raw AS timestamp)"))

    val missingPayloadField: Column =
      RequiredPayloadFields.foldLeft(lit(false)) { case (acc, (tpe, fields)) =>
        val missing = fields.map {
          case "energy_consumed" => col("energy_raw").isNull
          case "payment_amount" => col("payment_raw").isNull
          case f => col(f).isNull
        }.reduce(_ || _)
        when(col("event_type") === tpe, missing).otherwise(acc)
      }

    parsed.withColumn("reason",
      when(col("event_type").isNull || col("event_time_raw").isNull ||
          col("payload_raw").isNull,
          when(get_json_object(col("value"), "$").isNull, "malformed_json")
            .otherwise("missing_required_keys"))
        .when(length(trim(col("event_type"))) === 0, "empty_event_type")
        .when(!col("event_type").isin(RequiredPayloadFields.keys.toSeq: _*),
          "unknown_event_type")
        .when(col("event_time").isNull, "invalid_event_time")
        .when(missingPayloadField, "missing_payload_fields")
        .otherwise("valid"))
  }

  /** The flattened raw-events relation (database/schema.sql:12-23):
    * invalid numerics are NULLed, not dropped. */
  def rawEvents(validated: DataFrame): DataFrame =
    validated.filter(col("reason") === "valid").select(
      col("customer_id"),
      col("event_type"),
      col("event_time"),
      validNumeric(col("energy_raw"), DecimalType(10, 3)).as("energy_consumed"),
      validNumeric(col("payment_raw"), DecimalType(10, 2)).as("payment_amount"),
      col("session_id"),
      col("tariff_type"),
      col("channel"))

  /** Dead-letter relation: raw line + reason (producer/producer.py:35-39). */
  def deadLetter(validated: DataFrame): DataFrame =
    validated.filter(col("reason") =!= "valid")
      .select(col("value").as("raw"), col("reason"))

  /** The 16-metric hourly aggregate (consumer/consumer.py:240-318,
    * database/schema.sql:30-59). Works on both batch and streaming
    * inputs: distinct counts use collect_set (streaming-legal) whose
    * size equals the exact distinct count the reference's in-memory
    * sets produce. Aggregate-path numerics are *skipped* when invalid
    * (not nulled) per consumer/consumer.py:257,276,284. */
  def hourlyMetrics(events: DataFrame): DataFrame = {
    def isT(t: String): Column = col("event_type") === t
    val pay = col("payment_amount")
    val energy = col("energy_consumed")
    // group on the window struct itself (not a derived field) so
    // streaming watermark state cleanup recognizes the event-time
    // window; `hour` is projected out after the aggregate
    val agged = events
      .groupBy(window(col("event_time"), "1 hour").as("win"))
      .agg(
        count(when(isT("tariff_switch"), 1)).as("tariff_switches"),
        coalesce(sum(when(isT("tariff_switch"), pay)), lit(0).cast(DecimalType(12, 2)))
          .as("total_switch_revenue"),
        count(when(isT("tariff_switch") && col("tariff_type") === "green", 1))
          .as("green_tariff_switches"),
        count(when(isT("incentive_claim"), 1)).as("incentive_claims"),
        coalesce(sum(when(isT("incentive_claim"), pay)), lit(0).cast(DecimalType(12, 2)))
          .as("total_incentive_payouts"),
        count(when(isT("user_login"), 1)).as("total_logins"),
        size(collect_set(when(isT("user_login"), col("session_id"))))
          .cast(LongType).as("new_sessions"),
        count(when(isT("bill_payment"), 1)).as("payment_events"),
        coalesce(sum(when(isT("bill_payment"), pay)), lit(0).cast(DecimalType(12, 2)))
          .as("total_payments"),
        coalesce(sum(when(isT("energy_consumed"), energy)), lit(0).cast(DecimalType(13, 3)))
          .as("total_energy_consumed"),
        max(when(isT("energy_consumed"), energy)).as("peak_hour_usage"),
        size(collect_set(col("customer_id"))).cast(LongType).as("active_customers"))
    agged
      .select(col("win").getField("start").as("hour") +:
        agged.columns.filterNot(_ == "win").map(col): _*)
      .select(
        col("*"),
        // flush-time derived averages (consumer/consumer.py:313-318)
        when(col("tariff_switches") > 0,
          col("total_switch_revenue").cast(DoubleType) / col("tariff_switches"))
          .otherwise(0.0).as("avg_switch_value"),
        when(col("active_customers") > 0,
          col("total_energy_consumed").cast(DoubleType) / col("active_customers"))
          .otherwise(0.0).as("avg_consumption_per_customer"),
        when(col("payment_events") > 0,
          col("total_payments").cast(DoubleType) / col("payment_events"))
          .otherwise(0.0).as("avg_payment_amount"))
  }

  /** End-to-end batch run over a directory of JSONL files — the
    * semantic ground truth the streaming variant must equal. */
  def batchHourlyMetrics(spark: SparkSession, inputDir: String): DataFrame =
    hourlyMetrics(rawEvents(parseAndValidate(
      graft.sources.EventSource.fileBatch(spark, inputDir))))

  /** Streaming run: file source -> validate split -> watermarked hourly
    * aggregate -> idempotent upsert sink (parquet append tagged with
    * batch epoch; readers take the latest epoch per hour — the
    * ON CONFLICT upsert of consumer/consumer.py:321-367 without a
    * transactional store). Dead letters append under `outDir`/dead.
    *
    * The aggregate keeps its state in ONE state store: its key is the
    * hour and the 24 h watermark bounds the open hours to a few dozen
    * rows, as the reference's single in-memory dict is (consumer/
    * consumer.py:81-98), so more partitions would only add stores to
    * commit, sink files to write and read, and tasks to schedule per
    * batch. `spark.sql.shuffle.partitions` is set to 1 only while the
    * query starts (the query clones the session then, and its first
    * batch records the count in the offset log, so a restart keeps the
    * count its checkpoint recorded), and the caller's value is put back,
    * or unset if the caller had none. The query runs on the caller's
    * session, so listeners on `spark.streams` see it; another thread
    * planning on the same session while `start` runs would see the
    * count of 1.
    *
    * Each batch writes one sink file, and its stamps (`stamped`) leave
    * the generated code unchanged, so a steady batch compiles no new
    * classes.
    *
    * A batch starts no child process. With no libhadoop on the
    * classpath, Hadoop's local file system forks `chmod` for every file
    * and directory it creates, and Spark's default checkpoint manager
    * forks `readlink` four times per checkpoint rename: over a thousand
    * forks in a 12 s replay, milliseconds each. `start` sets
    * [[ForkFreeFs]]'s checkpoint manager on the caller's session and
    * leaves it set (the file source opens its log later, on the stream
    * thread, from this session; a manager the caller chose is kept), and
    * the flush writes through its local file system (`writeSink`). The
    * session's cached file system still forks: catalog table writes and
    * the dead-letter file sink's data files go through it.
    *
    * Returns the aggregate query; call `processAllAvailable()`/`stop()`
    * or awaitTermination on it.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      checkpointDir: String,
      outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val lines = graft.sources.EventSource.fileStream(spark, inputDir,
      maxFilesPerTrigger)
    // observe(): per-batch valid/invalid counters surfaced in
    // StreamingQueryProgress.observedMetrics — the declarative analog
    // of the reference's Prometheus counters (consumer/consumer.py:
    // 30-37, SURVEY §2 A10)
    val validated = parseAndValidate(lines).observe("graft_ingest",
      count(when(col("reason") === "valid", 1)).as("valid_events"),
      count(when(col("reason") =!= "valid", 1)).as("invalid_events"))

    val agg = hourlyMetrics(
      rawEvents(validated).withWatermark("event_time", "24 hours"))

    ForkFreeFs.install(spark)
    val partitions = SQLConf.SHUFFLE_PARTITIONS.key
    val callers = spark.conf.getAll.get(partitions)
    spark.conf.set(partitions, 1L)
    try agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$checkpointDir/agg")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        writeSink(stamped(batch, epoch), "append", sinkPath(outDir))
      }
      .start()
    finally callers match {
      case Some(v) => spark.conf.set(partitions, v)
      case None => spark.conf.unset(partitions)
    }
  }

  /** Dead-letter sink as its own query (shares the source). */
  def startDeadLetter(
      spark: SparkSession,
      inputDir: String,
      checkpointDir: String,
      outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery = {
    ForkFreeFs.install(spark)
    deadLetter(parseAndValidate(
      graft.sources.EventSource.fileStream(spark, inputDir)))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointDir/dead")
      .trigger(trigger)
      .format("json")
      .option("path", s"$outDir/dead_letter")
      .start()
  }

  /** Last-write-wins ordering over the upsert sink's row versions.
    * `batch_epoch` alone is NOT total: a backfill allocates
    * max(batch_epoch)+1, and a stream restarted from its checkpoint
    * continues from the same batchId — a guaranteed tie. `updated_at`
    * (stamped by every writer at flush time) breaks the tie toward the
    * later write, which is exactly the sink's upsert contract: the most
    * recently written state for an hour wins. */
  private val latestVersion = org.apache.spark.sql.expressions.Window
    .partitionBy(col("hour"))
    .orderBy(col("batch_epoch").desc, col("updated_at").desc)

  /** Latest-version-wins view over the upsert sink — what dashboards
    * read (equivalent to the reference's hourly_business_metrics
    * table after its additive merges, modulo the documented
    * true-distinct divergence). Ordered by (batch_epoch, updated_at)
    * so concurrent epoch spaces (stream batchIds vs backfill repairs)
    * resolve deterministically to the later write.
    *
    * The sink is read with its known schema (`sinkSchema`), so a read
    * runs no footer-inference job, and a sink directory that holds no
    * data file yet (a first flush that never committed leaves only
    * `_temporary/`) reads as empty. A missing directory still fails
    * with `PATH_NOT_FOUND`. */
  def readHourlyMetrics(spark: SparkSession, outDir: String): DataFrame =
    readSink(spark, outDir)
      .withColumn("rn", row_number().over(latestVersion))
      .filter(col("rn") === 1)
      .drop("rn", "batch_epoch", "updated_at")

  private def sinkPath(outDir: String): String = s"$outDir/hourly_business_metrics"

  /** Every row version in the upsert sink. */
  private def readSink(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(sinkSchema(spark)).parquet(sinkPath(outDir))

  /** The upsert sink's columns: [[hourlyMetrics]] then the two stamps.
    * They follow from the pipeline's own definitions alone, so they are
    * derived once, from the pipeline over an empty input. */
  private[streaming] def sinkSchema(spark: SparkSession): StructType =
    sinkSchemaOnce.updateAndGet { known =>
      if (known != null) known
      else {
        val noLines = spark.createDataFrame(java.util.List.of[Row](),
          StructType(Seq(StructField("value", StringType))))
        stamped(hourlyMetrics(rawEvents(parseAndValidate(noLines))), 0L).schema
      }
    }

  private val sinkSchemaOnce =
    new java.util.concurrent.atomic.AtomicReference[StructType]()

  /** Every write to the upsert sink — the stream's flush, a backfill,
    * a compaction: parquet through [[ForkFreeFs]]'s local file system,
    * so its data files, `.crc`s and committer directories fork no
    * `chmod`. */
  private def writeSink(df: DataFrame, mode: String, path: String): Unit =
    df.write.options(ForkFreeFs.options).mode(mode).parquet(path)

  /** Tag one write to the sink with its `batch_epoch` and its
    * `updated_at` (taken here, once per write). Both are passed to the
    * write by reference, through nondeterministic zero-argument UDFs
    * that constant folding leaves alone: a literal is written into the
    * sink projection's generated code, so each batch's new values would
    * compile new classes. */
  private def stamped(df: DataFrame, epoch: Long): DataFrame = {
    val now = java.sql.Timestamp.from(java.time.Instant.now)
    df.withColumn("batch_epoch", udf(() => epoch).asNondeterministic()())
      .withColumn("updated_at", udf(() => now).asNondeterministic()())
  }

  /** Batch backfill of the upsert sink for an hour range — the repair
    * path every streaming deployment eventually needs: events that
    * arrived too late for the 24 h watermark (the documented divergence
    * from the reference, which accepts them forever), a bug fixed after
    * the fact, or an outage gap. Recompute [from, to) from the raw
    * input in BATCH (the semantic ground truth the stream is spec'd
    * against) and append it with an epoch above every existing one, so
    * [[readHourlyMetrics]]'s latest-epoch-wins view atomically prefers
    * the repaired rows — the same supersede mechanism the streaming
    * upserts use, no in-place rewrite, safe to run while readers are
    * live (unlike [[compactHourlyMetrics]], nothing is moved or
    * deleted; a later compaction collapses the superseded versions).
    * Safe to run against a LIVE stream too, with one caveat the epoch
    * space forces: a stream restarted from its checkpoint continues
    * from its own batchId, so the backfill's max(batch_epoch)+1 CAN
    * collide with the stream's next flush. The ordering in
    * [[readHourlyMetrics]]/[[compactHourlyMetrics]] is therefore total
    * over (batch_epoch, updated_at): on an epoch tie the later WRITE
    * wins, which for hours inside the backfilled range is exactly the
    * stream's own newest-state-wins contract (the stream only
    * re-flushes an hour when new events arrived for it).
    *
    * Bootstraps cleanly: a sink directory that has never been written
    * (repairing an outage that predates any stream flush), or that holds
    * no data file yet, starts the epoch space at 0 instead of failing
    * the read. */
  def backfillHourlyMetrics(spark: SparkSession, inputDir: String,
      outDir: String, fromHour: String, toHour: String): Long = {
    import org.apache.hadoop.fs.Path
    val from = lit(fromHour).cast(TimestampType)
    val to = lit(toHour).cast(TimestampType)
    val repaired = batchHourlyMetrics(spark, inputDir)
      .filter(col("hour") >= from && col("hour") < to)
    val sink = new Path(sinkPath(outDir))
    val fs = sink.getFileSystem(spark.sessionState.newHadoopConf())
    val maxEpoch =
      if (!fs.exists(sink)) -1L
      else readSink(spark, outDir)
        .agg(max(col("batch_epoch"))).first() match {
          case r if r.isNullAt(0) => -1L
          case r => r.getLong(0)
        }
    val epoch = maxEpoch + 1
    writeSink(stamped(repaired, epoch), "append", sinkPath(outDir))
    epoch
  }

  /** Robust anomaly audit OVER THE STREAMING SINK: the oracle-checked
    * median/MAD detector (graft.queries.EventsQueries.madTail, the
    * exact math behind ev_anomaly_mad) applied to the upsert sink's
    * latest-epoch payment series. This is the monitoring composition a
    * deployment runs after each trigger or on a schedule: the stream
    * maintains the hourly table, the audit reads it — hours-sized,
    * never raw events — and flags |x − median| > 3·MAD hours. The
    * payment column is DECIMAL(12,2), so x_micro is exact. */
  def madAuditHourly(spark: SparkSession, outDir: String): DataFrame =
    graft.queries.EventsQueries.madTail(
      readHourlyMetrics(spark, outDir)
        .select(col("hour"),
          (col("total_payments") * lit(1000000))
            .cast(org.apache.spark.sql.types.LongType).as("x_micro")))

  /** Compact the append-only upsert sink: collapse every hour to its
    * latest epoch and swap the table directory. Long-running streams
    * otherwise accumulate one superseded row-version per hour per
    * flush — at cluster scale the reader's latest-epoch window grows
    * linearly with uptime until a compaction pass re-bounds it (the
    * parquet analog of Postgres vacuum after the reference's
    * ON CONFLICT churn).
    *
    * Run it in a maintenance window with the stream STOPPED (stop the
    * query, compact, restart from the checkpoint): plain parquet
    * directories have no commit protocol, so a flush landing between
    * the snapshot read and the swap would be lost, and a reader racing
    * the swap can observe the move. The swap itself never leaves the
    * data unrecoverable: the compacted copy is fully written first,
    * then old -> aside, tmp -> live, aside deleted — a crash at any
    * point leaves at least one complete directory on disk. Each rename
    * result is checked (HDFS reports failure by returning false, not
    * throwing). [[readHourlyMetrics]] results are identical before and
    * after (CheckpointResumeSpec asserts this). */
  def compactHourlyMetrics(spark: SparkSession, outDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val path = sinkPath(outDir)
    val compacted = readSink(spark, outDir)
      .withColumn("rn", row_number().over(latestVersion))
      .filter(col("rn") === 1)
      .drop("rn")
    val dst = new Path(path)
    val tmp = new Path(s"$path.compact.tmp")
    val old = new Path(s"$path.compact.old")
    // resolve the SINK's filesystem, not the default one (outDir may be
    // s3a:// while the default FS is hdfs://)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    writeSink(compacted, "overwrite", tmp.toString)
    fs.delete(old, true) // stale leftover from a previous crash
    require(fs.rename(dst, old), s"compaction: could not move $dst aside")
    if (!fs.rename(tmp, dst)) {
      // restore the original table before failing
      fs.rename(old, dst)
      throw new IllegalStateException(s"compaction: could not swap in $tmp")
    }
    fs.delete(old, true)
  }
}
