package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The sink-repair path: events that arrived after the stream's 24 h
  * watermark closed their hour are recomputed in batch and appended
  * with a superseding epoch — readers see the repaired hours through
  * the same latest-epoch-wins view, untouched hours keep their
  * stream-written rows. */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private def event(tpe: String, time: String, cust: String, session: Int,
      extra: String = ""): String =
    s"""{"event_type": "$tpe", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"$extra}}"""

  // hours 12 and 13 get LATE events (part2); hour 14 is complete in
  // the stream run
  private val onTime = Seq(
    event("user_login", "2025-06-04T12:01:00Z", "CUST01", 1),
    event("energy_consumed", "2025-06-04T12:45:00Z", "CUST02", 2,
      """, "energy_consumed": 41.787"""),
    event("bill_payment", "2025-06-04T13:58:33Z", "CUST03", 3,
      """, "payment_amount": 100.3"""),
    event("user_login", "2025-06-04T14:05:00Z", "CUST04", 4))
  private val late = Seq(
    event("energy_consumed", "2025-06-04T12:50:00Z", "CUST05", 5,
      """, "energy_consumed": 10.0"""),
    event("tariff_switch", "2025-06-04T13:30:00Z", "CUST01", 1,
      """, "tariff_type": "green", "payment_amount": 20.5"""))

  test("backfill repairs the late hours; untouched hours keep stream rows") {
    val in = tmpDir("graft-bf-in")
    val ckpt = tmpDir("graft-bf-ckpt")
    val out = tmpDir("graft-bf-out")

    Files.write(in.resolve("part1.jsonl"),
      onTime.mkString("\n").getBytes("UTF-8"))
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.AvailableNow())
    q.awaitTermination()

    // the late events land on disk AFTER the stream closed those hours
    // (simulated by simply not running the stream again)
    Files.write(in.resolve("part2-late.jsonl"),
      late.mkString("\n").getBytes("UTF-8"))
    val epoch = EventsPipeline.backfillHourlyMetrics(spark, in.toString,
      out.toString, "2025-06-04 12:00:00", "2025-06-04 14:00:00")

    def key(r: org.apache.spark.sql.Row): String =
      r.getAs[java.sql.Timestamp]("hour").toString
    val read = EventsPipeline.readHourlyMetrics(spark, out.toString)
      .collect().map(r => key(r) -> r).toMap
    val truth = EventsPipeline.batchHourlyMetrics(spark, in.toString)
      .collect().map(r => key(r) -> r).toMap

    // repaired + untouched hours all equal the batch ground truth
    assert(read.keySet == truth.keySet && read.keySet.size == 3)
    for ((k, t) <- truth; f <- t.schema.fieldNames)
      assert(read(k).getAs[Any](f) == t.getAs[Any](f), s"field $f @ $k")

    // provenance: hours 12/13 were superseded by the backfill epoch,
    // hour 14 still carries its original stream-written epoch
    val latestEpochs = spark.read
      .parquet(s"$out/hourly_business_metrics")
      .groupBy(col("hour")).agg(max(col("batch_epoch")).as("e"))
      .collect().map(r => key(r) -> r.getAs[Long]("e")).toMap
    assert(latestEpochs("2025-06-04 12:00:00.0") == epoch)
    assert(latestEpochs("2025-06-04 13:00:00.0") == epoch)
    assert(latestEpochs("2025-06-04 14:00:00.0") < epoch)
  }

  test("a sink with no data file yet reads as empty and backfills from epoch 0") {
    // a first flush that never committed leaves only the writer's
    // `_temporary/` in the sink directory
    val out = tmpDir("graft-bf-empty")
    Files.createDirectories(out.resolve("hourly_business_metrics/_temporary/0"))
    assert(EventsPipeline.readHourlyMetrics(spark, out.toString).count() == 0)

    val in = tmpDir("graft-bf-empty-in")
    Files.write(in.resolve("part1.jsonl"), onTime.mkString("\n").getBytes("UTF-8"))
    val epoch = EventsPipeline.backfillHourlyMetrics(spark, in.toString,
      out.toString, "2025-06-04 12:00:00", "2025-06-04 14:00:00")
    assert(epoch == 0L)
    assert(EventsPipeline.readHourlyMetrics(spark, out.toString).count() == 2)
  }

  test("a missing sink still fails the read loudly") {
    val out = tmpDir("graft-bf-none")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      EventsPipeline.readHourlyMetrics(spark, out.toString).collect())
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("the derived sink schema is the schema of a written sink") {
    val in = tmpDir("graft-bf-schema-in")
    val out = tmpDir("graft-bf-schema-out")
    Files.write(in.resolve("part1.jsonl"), onTime.mkString("\n").getBytes("UTF-8"))
    EventsPipeline.start(spark, in.toString, tmpDir("graft-bf-schema-ck").toString,
      out.toString, Trigger.AvailableNow()).awaitTermination()
    def namesAndTypes(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toSeq
    val inferred = spark.read.parquet(s"$out/hourly_business_metrics").schema
    assert(namesAndTypes(EventsPipeline.sinkSchema(spark)) == namesAndTypes(inferred))
  }
}
