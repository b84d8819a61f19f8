package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The 24 h watermark's boundary, pinned to Spark's stateful streaming
  * aggregate: `EventsPipeline.start` over a file stream must publish the
  * same hours and values as `hourlyMetrics(...).withWatermark(...)` run
  * over a `MemoryStream` in update mode, fed the same batches. Every
  * batch is processed to quiescence before the next one lands, so the
  * stateful form's no-data batch after a watermark move has run.
  *
  * The maximum event time of each case is `T`; input late by 23 h,
  * exactly 24 h and 25 h against `T` lands both inside the batch that
  * moves the watermark (its watermark is still the one before `T`) and
  * in a later batch, and one case puts `T` on the hour, so an hour's end
  * equals the watermark exactly. */
class WatermarkPinSpec extends SparkSpec {
  import spark.implicits._

  private def login(time: String, cust: String, session: Int): String =
    s"""{"event_type": "user_login", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"}}"""

  private def pay(time: String, cust: String, amount: String): String =
    s"""{"event_type": "bill_payment", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": 7, "channel": "web_portal", "payment_amount": $amount}}"""

  private def energy(time: String, cust: String, kwh: String): String =
    s"""{"event_type": "energy_consumed", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": 8, "channel": "web_portal", "energy_consumed": $kwh}}"""

  /** Rows of one hour at `time`: a login, a payment and a reading, by
    * `cust`, so counts, sums, the max and both distinct sets move. */
  private def hour(time: String, cust: String, n: Int): Seq[String] =
    Seq(login(time, cust, n), pay(time, cust, s"$n.25"), energy(time, cust, s"${n * 3}.125"))

  /** The table the stateful aggregate leaves after `batches`: its update
    * output, newest row per hour. */
  private def stateful(batches: Seq[Seq[String]]): Map[Any, Seq[Any]] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val table = mutable.Map[Any, Seq[Any]]()
    val q = EventsPipeline.hourlyMetrics(EventsPipeline.rawEvents(
        EventsPipeline.parseAndValidate(mem.toDF())).withWatermark("event_time", "24 hours"))
      .writeStream.outputMode("update")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => table(r.get(0)) = r.toSeq)
      }.start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    table.toMap
  }

  /** The table `EventsPipeline.start` publishes after `batches`, one file
    * (one micro-batch) each. */
  private def pipeline(batches: Seq[Seq[String]]): Map[Any, Seq[Any]] = {
    val (in, ckpt, out) = (tmpDir("graft-pin-in"), tmpDir("graft-pin-ck"), tmpDir("graft-pin-out"))
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString, out.toString,
      Trigger.ProcessingTime(0))
    try batches.zipWithIndex.foreach { case (b, i) =>
      Files.write(in.resolve(s"part$i.jsonl"), b.mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()
    EventsPipeline.readHourlyMetrics(spark, out.toString).collect()
      .map((r: Row) => r.get(0) -> r.toSeq).toMap
  }

  private def pin(batches: Seq[Seq[String]]): Map[Any, Seq[Any]] = {
    val want = stateful(batches)
    val got = pipeline(batches)
    assert(got.keySet == want.keySet)
    for ((h, row) <- want) assert(got(h) == row, s"hour $h")
    want
  }

  private def field(name: String): Int = EventsPipeline.sinkSchema(spark).fieldIndex(name)
  private lazy val (logins, sessions, customers) =
    (field("total_logins"), field("new_sessions"), field("active_customers"))

  private def hourOf(t: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(t))

  // T = 2025-06-05T13:30: the watermark after T is 2025-06-04T13:30, so
  // the 12:00 hour (input 25 h late) is closed, the 13:00 hour (exactly
  // 24 h) and the 14:00 hour (23 h) are open
  private val opening = hour("2025-06-04T12:10:00Z", "CUST01", 1) ++
    hour("2025-06-04T13:10:00Z", "CUST01", 2) ++ hour("2025-06-04T14:10:00Z", "CUST02", 3)
  private val late = hour("2025-06-04T12:30:00Z", "CUST03", 4) ++
    hour("2025-06-04T13:30:00Z", "CUST01", 5) ++ hour("2025-06-04T14:30:00Z", "CUST04", 6)
  private val t = hour("2025-06-05T13:30:00Z", "CUST05", 7)

  test("input late by 23, 24 and 25 h in a batch after the watermark moved") {
    val table = pin(Seq(opening, t, late))
    // the closed hour kept the first batch's values only
    assert(table(hourOf("2025-06-04T12:00:00Z"))(logins) == 1L)
    assert(table(hourOf("2025-06-04T13:00:00Z"))(logins) == 2L)
    assert(table(hourOf("2025-06-04T14:00:00Z"))(logins) == 2L)
    // a repeated customer is counted once, both sessions are
    assert(table(hourOf("2025-06-04T13:00:00Z"))(customers) == 1L)
    assert(table(hourOf("2025-06-04T13:00:00Z"))(sessions) == 2L)
  }

  test("input late by 23, 24 and 25 h inside the batch that moves the watermark") {
    val again = hour("2025-06-04T12:40:00Z", "CUST06", 8) ++
      hour("2025-06-04T13:40:00Z", "CUST02", 9) ++ hour("2025-06-04T14:40:00Z", "CUST02", 10)
    val table = pin(Seq(opening, t ++ late, again))
    // accepted beside T, closed for the batch after it
    assert(table(hourOf("2025-06-04T12:00:00Z"))(logins) == 2L)
    assert(table(hourOf("2025-06-04T13:00:00Z"))(logins) == 3L)
    assert(table(hourOf("2025-06-04T14:00:00Z"))(logins) == 3L)
  }

  test("an hour whose end equals the watermark is closed") {
    // T = 2025-06-05T13:00 exactly: the watermark is 2025-06-04T13:00,
    // the end of the 12:00 hour
    val onHour = hour("2025-06-05T13:00:00Z", "CUST05", 7)
    val edge = hour("2025-06-04T12:59:59.999Z", "CUST07", 11) ++
      hour("2025-06-04T13:00:00Z", "CUST07", 12)
    val inside = pin(Seq(opening, onHour ++ edge, edge))
    assert(inside(hourOf("2025-06-04T12:00:00Z"))(logins) == 2L)
    assert(inside(hourOf("2025-06-04T13:00:00Z"))(logins) == 3L)
    val later = pin(Seq(opening, onHour, edge))
    assert(later(hourOf("2025-06-04T12:00:00Z"))(logins) == 1L)
    assert(later(hourOf("2025-06-04T13:00:00Z"))(logins) == 2L)
  }
}
