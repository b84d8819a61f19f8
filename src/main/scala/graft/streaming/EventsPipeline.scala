package graft.streaming

import java.math.{BigDecimal => JBigDecimal}
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.checkpointing.{HDFSMetadataLog, OffsetSeqLog}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
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
  * Spark mapping: `lines -> parse/validate split -> (a) dead-letter
  * append ([[startDeadLetter]]), (b) valid events withWatermark(24h) ->
  * foreachBatch upsert` ([[start]]). The partial/final split the
  * reference hand-codes (HourlyStats dict + ON CONFLICT merge) is kept:
  * each task folds its rows into per-hour [[HourlyStats]] partials, and
  * the driver merges them into the open hours it keeps beside the
  * published table, as the reference's consumer merges into its dict.
  * The flush thread and its lock have no equivalent: each micro-batch
  * publishes. The raw `events` insert (:186-237) has no streaming
  * counterpart (README, "Deliberate divergences").
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

  /** Streaming run: file source -> validate split -> watermarked valid
    * events -> per-hour partials -> upsert sink. Dead letters append under
    * `outDir`/dead.
    *
    * The sink is the reference's `hourly_business_metrics` table after
    * its ON CONFLICT upserts (consumer/consumer.py:321-367): one row per
    * hour. The query itself is stateless: each micro-batch runs one job
    * of one stage, in which every task folds its valid rows into one
    * [[HourlyStats]] per hour. The driver keeps the open hours, as the
    * reference keeps its single in-memory dict (consumer/consumer.py:
    * 81-98, 240-293), merges the partials into them, derives the 16
    * metrics of each updated hour exactly as [[hourlyMetrics]] does, merges
    * those rows into the driver-held table of every hour the sink holds,
    * and publishes the whole table as the next generation: one parquet
    * file written from the driver, then named in the sink's generation log
    * (`_generations`, Spark's own versioned metadata log). Merging keeps
    * the sink's last-write-wins order, `(batch_epoch, updated_at)`: only
    * the updated hours get the batch's stamps, carried-over hours keep
    * theirs. A batch with no valid on-time rows publishes nothing. The log
    * refuses a generation id that already exists, so a writer that lost a
    * race to a concurrent publish (a backfill) reloads the table, merges
    * again and publishes the next id. After each publish, generations
    * older than the last `spark.sql.streaming.minBatchesToRetain` (default
    * 100, the bound the checkpoint's own logs keep) are purged with their
    * files, so the sink holds a bounded number of files however long the
    * stream runs; a reader fails only if it outlives that many publishes.
    *
    * Late input follows the rule of Spark's stateful aggregate: the
    * batch's watermark is the `batchWatermarkMs` Spark checkpointed in the
    * batch's offset-log entry (the latest valid event time of the earlier
    * batches minus 24 h), and an hour whose end is at or below it is
    * closed: its rows in this batch are dropped and its sets are let go.
    * The open hours travel with each generation in a sidecar,
    * `_<data file>.open`, that records the query, the batch, the open
    * hours before the batch and the batch's own partials. A restart
    * reloads them from the live generation, and a replayed batch (its
    * publish landed, its commit did not) merges again onto the hours
    * before it, so it publishes the same table. A checkpoint that holds a
    * state store was written by the earlier, stateful form of this query:
    * its open hours are not in any sidecar, so `start` refuses it rather
    * than undercount them.
    *
    * A batch starts no child process. With no libhadoop on the
    * classpath, Hadoop's local file system forks `chmod` for every file
    * and directory it creates, and Spark's default checkpoint manager
    * forks `readlink` four times per checkpoint rename: over a thousand
    * forks in a 12 s replay, milliseconds each. `start` sets
    * [[ForkFreeFs]]'s checkpoint manager on the caller's session and
    * leaves it set (the file source opens its log later, on the stream
    * thread, from this session; a manager the caller chose is kept); the
    * generation log writes through it, and the generation file and its
    * sidecar through its local file system. The session's cached file
    * system still forks: catalog table writes and the dead-letter file
    * sink's data files go through it.
    *
    * Returns the query; call `processAllAvailable()`/`stop()` or
    * awaitTermination on it.
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

    ForkFreeFs.install(spark)
    val agg = new Path(checkpointDir, "agg")
    val state = new Path(agg, "state")
    if (state.getFileSystem(spark.sessionState.newHadoopConfWithOptions(ForkFreeFs.options))
        .exists(state))
      throw new IllegalStateException(s"checkpoint $agg holds a state store: it was written " +
        "by the stateful form of the hourly query, whose open hours this query cannot " +
        "read, so resuming it would undercount them. Start from a new checkpoint " +
        "directory; the stream then reads every input file again.")
    lazy val offsets = new OffsetSeqLog(spark, new Path(agg, "offsets").toString)
    // the watermark stays on the valid rows, where the stateful form had
    // it: an invalid line's parseable time never moves it
    rawEvents(validated).withWatermark("event_time", "24 hours").writeStream
      .option("checkpointLocation", agg.toString)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val partials = foldHours(batch)
        if (partials.nonEmpty) {
          val session = batch.sparkSession
          val watermark = offsets.offsetSeqMetadataForBatchId(epoch)
            .fold(0L)(_.batchWatermarkMs) * 1000L
          val updates = partials.filter { case (h, _) => h + HourMicros > watermark }
          val query = session.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
          if (updates.nonEmpty) publish(session, sinkPath(outDir), _ => epoch) { live =>
            val open = live.open.filter(_.query == query) match {
              case Some(o) if o.epoch < epoch => o.after
              case Some(o) if o.epoch == epoch => o.before
              case Some(o) => throw new IllegalStateException(
                s"${sinkPath(outDir)} holds the open hours of batch ${o.epoch}, after batch $epoch")
              case None => Map.empty[Long, HourlyStats]
            }
            val next = OpenHours(query, epoch,
              open.filter { case (h, _) => h + HourMicros > watermark }, updates)
            (updates.keys.toSeq.map(h => metricsRow(session, h, next.after(h))), Some(next))
          }
        }
        ()
      }
      .start()
  }

  /** One hour of the open aggregate: the reference's `HourlyStats`
    * (consumer/consumer.py:81-98) with exact decimal sums. `customers` and
    * `sessions` are the hour's distinct `customer_id`s and login
    * `session_id`s. */
  private[streaming] final case class HourlyStats(
      tariffSwitches: Long = 0L,
      switchRevenue: JBigDecimal = JBigDecimal.ZERO,
      greenSwitches: Long = 0L,
      incentiveClaims: Long = 0L,
      incentivePayouts: JBigDecimal = JBigDecimal.ZERO,
      logins: Long = 0L,
      payments: Long = 0L,
      paid: JBigDecimal = JBigDecimal.ZERO,
      energy: JBigDecimal = JBigDecimal.ZERO,
      peak: Option[JBigDecimal] = None,
      customers: Set[String] = Set.empty,
      sessions: Set[Int] = Set.empty) {

    /** This hour with one more valid event; a null amount adds nothing,
      * as `sum` and `max` skip nulls. */
    def add(eventType: String, customer: String, session: Option[Int], tariff: String,
        payment: JBigDecimal, kwh: JBigDecimal): HourlyStats = {
      def plus(a: JBigDecimal, b: JBigDecimal) = if (b == null) a else a.add(b)
      val seen = if (customer == null) this else copy(customers = customers + customer)
      eventType match {
        case "tariff_switch" => seen.copy(tariffSwitches = tariffSwitches + 1,
          switchRevenue = plus(switchRevenue, payment),
          greenSwitches = greenSwitches + (if (tariff == "green") 1 else 0))
        case "incentive_claim" => seen.copy(incentiveClaims = incentiveClaims + 1,
          incentivePayouts = plus(incentivePayouts, payment))
        case "user_login" => seen.copy(logins = logins + 1, sessions = sessions ++ session)
        case "bill_payment" => seen.copy(payments = payments + 1, paid = plus(paid, payment))
        case "energy_consumed" => seen.copy(energy = plus(energy, kwh),
          peak = (peak ++ Option(kwh)).maxOption)
        case _ => seen
      }
    }

    def merge(o: HourlyStats): HourlyStats = HourlyStats(
      tariffSwitches + o.tariffSwitches, switchRevenue.add(o.switchRevenue),
      greenSwitches + o.greenSwitches, incentiveClaims + o.incentiveClaims,
      incentivePayouts.add(o.incentivePayouts), logins + o.logins, payments + o.payments,
      paid.add(o.paid), energy.add(o.energy), (peak ++ o.peak).maxOption,
      customers ++ o.customers, sessions ++ o.sessions)
  }

  private def mergeHours(a: Map[Long, HourlyStats], b: Map[Long, HourlyStats]): Map[Long, HourlyStats] =
    b.foldLeft(a) { case (m, (h, s)) => m.updated(h, m.get(h).fold(s)(_.merge(s))) }

  private val HourMicros = 3600L * 1000L * 1000L

  /** The open hours a generation carries: those of `query` before its
    * batch `epoch` (the closed ones dropped) and that batch's partials. */
  private[streaming] final case class OpenHours(query: String, epoch: Long,
      before: Map[Long, HourlyStats], batch: Map[Long, HourlyStats]) {
    @transient lazy val after: Map[Long, HourlyStats] = mergeHours(before, batch)
  }

  /** The batch's valid events folded into one [[HourlyStats]] per hour
    * (the `window(event_time, "1 hour")` start, in microseconds): one job
    * of one stage, no aggregate, no Exchange. */
  private def foldHours(batch: DataFrame): Map[Long, HourlyStats] = {
    val schema = batch.schema
    val Seq(customer, eventType, time, kwh, payment, session, tariff) = Seq("customer_id",
      "event_type", "event_time", "energy_consumed", "payment_amount", "session_id",
      "tariff_type").map(schema.fieldIndex)
    val Seq(kwhType, paymentType) = Seq(kwh, payment).map(schema(_).dataType.asInstanceOf[DecimalType])
    def text(r: InternalRow, i: Int): String = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    def amount(r: InternalRow, i: Int, t: DecimalType): JBigDecimal =
      if (r.isNullAt(i)) null else r.getDecimal(i, t.precision, t.scale).toJavaBigDecimal
    batch.queryExecution.toRdd.mapPartitions { rows =>
      Iterator(rows.foldLeft(Map.empty[Long, HourlyStats]) { (hours, r) =>
        val t = r.getLong(time)
        val hour = t - Math.floorMod(t, HourMicros)
        hours.updated(hour, hours.getOrElse(hour, HourlyStats()).add(text(r, eventType),
          text(r, customer), if (r.isNullAt(session)) None else Some(r.getInt(session)),
          text(r, tariff), amount(r, payment, paymentType), amount(r, kwh, kwhType)))
      })
    }.collect().foldLeft(Map.empty[Long, HourlyStats])(mergeHours)
  }

  /** The [[hourlyMetrics]] row of one hour, from its [[HourlyStats]]:
    * the same types, and the same arithmetic (a decimal sum cast to
    * double, divided by a count cast to double). */
  private def metricsRow(spark: SparkSession, hour: Long, s: HourlyStats): InternalRow = {
    val fields = sinkSchema(spark).fields.dropRight(2)
    def dec(name: String, v: JBigDecimal): Decimal = fields.find(_.name == name).get.dataType match {
      case t: DecimalType => Decimal(v, t.precision, t.scale)
    }
    def avg(total: Decimal, n: Long): Double = if (n > 0) total.toDouble / n.toDouble else 0.0
    val revenue = dec("total_switch_revenue", s.switchRevenue)
    val paid = dec("total_payments", s.paid)
    val energy = dec("total_energy_consumed", s.energy)
    val customers = s.customers.size.toLong
    val values = Map[String, Any](
      "hour" -> hour,
      "tariff_switches" -> s.tariffSwitches,
      "total_switch_revenue" -> revenue,
      "green_tariff_switches" -> s.greenSwitches,
      "incentive_claims" -> s.incentiveClaims,
      "total_incentive_payouts" -> dec("total_incentive_payouts", s.incentivePayouts),
      "total_logins" -> s.logins,
      "new_sessions" -> s.sessions.size.toLong,
      "payment_events" -> s.payments,
      "total_payments" -> paid,
      "total_energy_consumed" -> energy,
      "peak_hour_usage" -> s.peak.map(dec("peak_hour_usage", _)).orNull,
      "active_customers" -> customers,
      "avg_switch_value" -> avg(revenue, s.tariffSwitches),
      "avg_consumption_per_customer" -> avg(energy, customers),
      "avg_payment_amount" -> avg(paid, s.payments))
    InternalRow.fromSeq(fields.map(f => values(f.name)).toSeq)
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

  /** Last-write-wins ordering over a sink's row versions, for a sink
    * that no generation has been published to yet (written before the
    * generation log existed: one file per flush, every row version kept).
    * `batch_epoch` alone is NOT total: a backfill allocates
    * max(batch_epoch)+1, and a stream restarted from its checkpoint
    * continues from the same batchId — a guaranteed tie. `updated_at`
    * (stamped by every writer at flush time) breaks the tie toward the
    * later write, which is exactly the sink's upsert contract: the most
    * recently written state for an hour wins. [[newest]] is the same
    * order, row by row. */
  private val latestVersion = org.apache.spark.sql.expressions.Window
    .partitionBy(col("hour"))
    .orderBy(col("batch_epoch").desc, col("updated_at").desc)

  /** The hourly table — what dashboards read (equivalent to the
    * reference's hourly_business_metrics table after its additive
    * merges, modulo the documented true-distinct divergence).
    *
    * A sink with a published generation reads the one file the latest
    * entry of its generation log names: it already holds one row per
    * hour, so the read is one job of one task, with no window and no
    * Exchange. `spark.read.parquet` over the sink directory returns every
    * retained generation instead. A sink with no log, or no entry yet,
    * reads as before the log existed: the latest version per hour by
    * `(batch_epoch, updated_at)` over every data file, so a directory that
    * holds no data file yet (a first flush that never committed leaves
    * only `_temporary/`) reads as empty, and a missing directory fails
    * with `PATH_NOT_FOUND`. The first publish over such a sink migrates
    * it.
    *
    * Either way the sink is read with its known schema (`sinkSchema`),
    * so a read runs no footer-inference job. */
  def readHourlyMetrics(spark: SparkSession, outDir: String): DataFrame = {
    val sink = new Path(sinkPath(outDir))
    val log = new Path(sink, GenerationLog)
    val live =
      if (!log.getFileSystem(spark.sessionState.newHadoopConf()).exists(log)) None
      else new HDFSMetadataLog[String](spark, log.toString).getLatest()
    live match {
      case Some((_, file)) =>
        spark.read.schema(sinkSchema(spark)).parquet(new Path(sink, file).toString)
          .drop("batch_epoch", "updated_at")
      case None =>
        readSink(spark, outDir)
          .withColumn("rn", row_number().over(latestVersion))
          .filter(col("rn") === 1)
          .drop("rn", "batch_epoch", "updated_at")
    }
  }

  private def sinkPath(outDir: String): String = s"$outDir/hourly_business_metrics"

  /** The generation log's directory inside the sink; Spark's file index
    * skips `_` names, so a directory read never sees it. */
  private val GenerationLog = "_generations"

  /** Every row version in every data file of the sink. */
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
        hourlyMetrics(rawEvents(parseAndValidate(noLines))).schema
          .add(StructField("batch_epoch", LongType, nullable = false))
          .add(StructField("updated_at", TimestampType))
      }
    }

  private val sinkSchemaOnce =
    new java.util.concurrent.atomic.AtomicReference[StructType]()

  /** A frame's rows on the driver, as Spark's internal rows, in one job. */
  private def collectRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()

  /** The live table of one sink as last published or loaded here: its
    * generation (-1: none yet), the file that generation names, each
    * hour's row in the sink's schema, by `hour` in microseconds, and the
    * open hours its sidecar carries. */
  private[streaming] final case class LiveTable(gen: Long, file: String, rows: Map[Long, InternalRow],
      open: Option[OpenHours])

  /** The live table of every sink this JVM has published to, by
    * qualified sink path; checked against the generation log's latest
    * entry before each use. A spec clears it to restart as a new JVM
    * would. */
  private[streaming] val liveTables = new ConcurrentHashMap[String, LiveTable]()

  /** Called with the sink path after a generation file is in place and
    * before its log entry is added; a test sets it to publish
    * concurrently there. */
  private[streaming] val beforeAdd = new AtomicReference[String => Unit](_ => ())

  /** `t` with `r` as its row for `r`'s hour unless the row it holds is
    * later by `(batch_epoch, updated_at)`: the sink's last-write-wins
    * order. */
  private def newest(t: Map[Long, InternalRow], r: InternalRow): Map[Long, InternalRow] = {
    val (e, u) = (r.numFields - 2, r.numFields - 1)
    t.get(r.getLong(0)) match {
      case Some(o) if o.getLong(e) > r.getLong(e) ||
          (o.getLong(e) == r.getLong(e) && o.getLong(u) > r.getLong(u)) => t
      case _ => t.updated(r.getLong(0), r)
    }
  }

  /** Publish to the sink at `sink`: `next(live table)` gives the rows of
    * [[hourlyMetrics]] to merge into its live table, stamped with
    * `epochOf(the table's largest epoch, -1 if none)` and the time of
    * the merge, and the open hours the new generation carries. Write the
    * whole table as the next generation's file, the open hours as its
    * sidecar, and add that generation to the log. A refused add (another
    * writer published that id first) deletes both files, and the merge is
    * made again over the newer table. Returns the epoch stamped. */
  private def publish(spark: SparkSession, sink: String, epochOf: Long => Long)(
      next: LiveTable => (Seq[InternalRow], Option[OpenHours])): Long = {
    val dir = new Path(sink)
    val conf = spark.sessionState.newHadoopConfWithOptions(ForkFreeFs.options)
    val fs = dir.getFileSystem(conf)
    val key = fs.makeQualified(dir).toString
    val log = new HDFSMetadataLog[String](spark, new Path(dir, GenerationLog).toString)
    val types = sinkSchema(spark).map(_.dataType).dropRight(2)
    var published: Option[Long] = None
    while (published.isEmpty) {
      val live = log.getLatest() match {
        case Some((gen, file)) =>
          Option(liveTables.get(key)).filter(t => t.gen == gen && t.file == file)
            .getOrElse(LiveTable(gen, file, load(spark, Seq(new Path(dir, file))),
              readOpen(fs, dir, file)))
        case None => // a sink written before the log existed, or a new one
          LiveTable(-1L, "", load(spark, dataFiles(fs, dir).filter(generationOf(_).isEmpty)), None)
      }
      val (updates, open) = next(live)
      val epoch = epochOf(live.rows.valuesIterator.map(r => r.getLong(r.numFields - 2))
        .maxOption.getOrElse(-1L))
      val now = ChronoUnit.MICROS.between(Instant.EPOCH, Instant.now)
      val rows = updates.foldLeft(live.rows) { (t, u) =>
        newest(t, InternalRow.fromSeq(u.toSeq(types) :+ epoch :+ now))
      }
      val gen = live.gen + 1
      val file = writeGeneration(spark, conf, fs, dir, gen, rows)
      open.foreach(writeOpen(fs, dir, file, _))
      beforeAdd.get()(sink)
      val added = try log.add(gen, file)
        catch { case _: java.util.ConcurrentModificationException => false }
      if (!added) drop(fs, new Path(dir, file))
      else {
        liveTables.put(key, LiveTable(gen, file, rows, open))
        val oldest = gen - spark.sessionState.conf.minBatchesToRetain + 1
        if (oldest > 0) {
          log.purge(oldest)
          dataFiles(fs, dir).filter(generationOf(_).exists(_ < oldest)).foreach(drop(fs, _))
        }
        published = Some(epoch)
      }
    }
    published.get
  }

  /** Every row of `files` (sink schema), latest version per hour. */
  private def load(spark: SparkSession, files: Seq[Path]): Map[Long, InternalRow] =
    if (files.isEmpty) Map.empty
    else collectRows(spark.read.schema(sinkSchema(spark)).parquet(files.map(_.toString): _*))
      .foldLeft(Map.empty[Long, InternalRow])(newest)

  /** The sidecar of data file `file`: `_` keeps it out of Spark's file
    * index. */
  private def sidecar(dir: Path, file: String): Path = new Path(dir, s"_$file.open")

  private def writeOpen(fs: FileSystem, dir: Path, file: String, open: OpenHours): Unit = {
    val out = new java.io.ObjectOutputStream(
      new java.io.BufferedOutputStream(fs.create(sidecar(dir, file), false)))
    try out.writeObject(open) finally out.close()
  }

  private def readOpen(fs: FileSystem, dir: Path, file: String): Option[OpenHours] = {
    val p = sidecar(dir, file)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.ObjectInputStream(new java.io.BufferedInputStream(fs.open(p)))
      try Some(in.readObject().asInstanceOf[OpenHours]) finally in.close()
    }
  }

  /** Delete a data file and its sidecar. */
  private def drop(fs: FileSystem, file: Path): Unit = {
    fs.delete(file, false)
    fs.delete(sidecar(file.getParent, file.getName), false)
  }

  /** The top-level data files of a sink: files whose names Spark's file
    * index does not skip. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))

  private val GenerationFile = """part-g(\d+)-.*""".r

  /** The generation a data file was written for, if a publish wrote it. */
  private def generationOf(p: Path): Option[Long] = p.getName match {
    case GenerationFile(g) => Some(g.toLong)
    case _ => None
  }

  /** Write `rows` as generation `gen`'s parquet file in `dir`, from the
    * driver, with the writer Spark's `FileFormatWriter` uses per task:
    * first under a `_` temp name (which neither Spark's file index nor a
    * `*.parquet` listing sees), then renamed to `part-g<gen>-<uuid>` with
    * the writer's extension. Returns the file's name. */
  private def writeGeneration(spark: SparkSession, conf: Configuration, fs: FileSystem,
      dir: Path, gen: Long, rows: Map[Long, InternalRow]): String = {
    val schema = sinkSchema(spark)
    val job = Job.getInstance(conf)
    val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-g$gen-${UUID.randomUUID}${writers.getFileExtension(task)}"
    val tmp = new Path(dir, s"_$name.tmp")
    try {
      val w = writers.newInstance(tmp.toString, schema, task)
      try rows.toSeq.sortBy(_._1).foreach { case (_, r) => w.write(r) } finally w.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"could not rename $tmp to $name")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
    name
  }

  /** Batch backfill of the upsert sink for an hour range — the repair
    * path every streaming deployment eventually needs: events that
    * arrived too late for the 24 h watermark (the documented divergence
    * from the reference, which accepts them forever), a bug fixed after
    * the fact, or an outage gap. Recompute [from, to) from the raw
    * input in BATCH (the semantic ground truth the stream is spec'd
    * against) and publish it as the sink's next generation, the way a
    * stream batch does, stamped with an epoch above every one the table
    * holds: the repaired hours supersede the stream's rows, the other
    * hours keep theirs, and readers switch from one complete table to
    * the next. Safe to run against a LIVE stream: the generation log
    * refuses a second publish of one id, so whichever of the two
    * publishes second merges over the other's table. A stream restarted
    * from its checkpoint continues from its own batchId, so the
    * backfill's max(batch_epoch)+1 CAN equal the stream's next epoch; on
    * that tie the later WRITE wins (`updated_at`), which for hours inside
    * the backfilled range is exactly the stream's own newest-state-wins
    * contract (the stream only re-flushes an hour when new events
    * arrived for it).
    *
    * Bootstraps cleanly: a sink directory that has never been written
    * (repairing an outage that predates any stream flush), or that holds
    * no data file yet, starts the epoch space at 0. */
  def backfillHourlyMetrics(spark: SparkSession, inputDir: String,
      outDir: String, fromHour: String, toHour: String): Long = {
    val from = lit(fromHour).cast(TimestampType)
    val to = lit(toHour).cast(TimestampType)
    val repaired = batchHourlyMetrics(spark, inputDir)
      .filter(col("hour") >= from && col("hour") < to)
    ForkFreeFs.install(spark)
    publish(spark, sinkPath(outDir), _ + 1)(live => (collectRows(repaired), live.open))
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

  /** Compact the upsert sink: drop every generation but the live one,
    * then delete every top-level data file that the live generation
    * does not name: a crashed publish's file (renamed but never logged)
    * and the one-file-per-flush data of a sink written before the
    * generation log existed, which a first publish here migrates (the
    * parquet analog of Postgres vacuum after the reference's ON CONFLICT
    * churn). Files of a generation above the live one are kept: a
    * concurrent publish has renamed them and not yet logged them.
    * Safe while the stream runs; [[readHourlyMetrics]] results are
    * identical before and after (CheckpointResumeSpec asserts this). A
    * reader still scanning a superseded generation's file when this
    * drops it fails loudly. A missing sink is left missing. */
  def compactHourlyMetrics(spark: SparkSession, outDir: String): Unit = {
    val sink = sinkPath(outDir)
    val dir = new Path(sink)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConfWithOptions(ForkFreeFs.options))
    if (fs.exists(dir)) {
      ForkFreeFs.install(spark)
      val log = new HDFSMetadataLog[String](spark, new Path(dir, GenerationLog).toString)
      if (log.getLatest().isEmpty) publish(spark, sink, identity)(live => (Nil, live.open))
      val (gen, live) = log.getLatest().get
      log.purge(gen)
      dataFiles(fs, dir)
        .filter(p => p.getName != live && !generationOf(p).exists(_ > gen))
        .foreach(drop(fs, _))
    }
  }
}
