package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Mirrors the reference's 12 unit tests (tests/test_producer.py,
  * tests/test_consumer.py) against the Spark validation/aggregation
  * pipeline. Fixture rows from FIXTURES.md §A.3/§A.4. */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private def hourly(lines: Seq[String]) =
    EventsPipeline.hourlyMetrics(EventsPipeline.rawEvents(
      EventsPipeline.parseAndValidate(lines.toDF("value"))))

  private def reasons(lines: String*): Map[String, String] =
    EventsPipeline.parseAndValidate(lines.toDF("value"))
      .select("value", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private val validViewTariffs =
    """{"event_type": "view_tariffs", "event_time": "2025-06-01T02:04:33.033906", "payload": {"customer_id": "CUST0023", "session_id": 3703, "channel": "web_portal", "tariff_type": "basic"}}"""

  // string session_id + string payment_amount must coerce (tests/test_consumer.py:8-19)
  private val greenSwitchStringFields =
    """{"event_type": "tariff_switch", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "cust123", "session_id": "101", "channel": "web", "tariff_type": "green", "payment_amount": "20.5"}}"""

  test("valid events pass validation (naive and Zulu timestamps)") {
    val r = reasons(validViewTariffs, greenSwitchStringFields)
    assert(r.values.forall(_ == "valid"), r)
  }

  test("malformed JSON line -> malformed_json") {
    assert(reasons("not a valid json").values.toSeq == Seq("malformed_json"))
  }

  test("missing envelope keys -> missing_required_keys") {
    assert(reasons("""{"event_type": "user_login"}""").values.toSeq ==
      Seq("missing_required_keys"))
  }

  test("empty event_type -> empty_event_type") {
    val r = reasons("""{"event_type": "  ", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c"}}""")
    assert(r.values.toSeq == Seq("empty_event_type"))
  }

  test("unknown event_type -> unknown_event_type") {
    val r = reasons("""{"event_type": "login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c"}}""")
    assert(r.values.toSeq == Seq("unknown_event_type"))
  }

  test("invalid timestamp -> invalid_event_time (tests/test_consumer.py:22-41)") {
    val r = reasons("""{"event_type": "user_login", "event_time": "invalid-date", "payload": {"customer_id": "c", "session_id": 1, "channel": "web"}}""")
    assert(r.values.toSeq == Seq("invalid_event_time"))
  }

  test("missing per-type payload field -> missing_payload_fields (tariff_switch w/o tariff_type)") {
    val r = reasons("""{"event_type": "tariff_switch", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c", "session_id": 1, "channel": "web"}}""")
    assert(r.values.toSeq == Seq("missing_payload_fields"))
  }

  test("string session_id and payment_amount coerce to int/decimal") {
    val raw = EventsPipeline.rawEvents(
      EventsPipeline.parseAndValidate(Seq(greenSwitchStringFields).toDF("value")))
      .collect()
    assert(raw.length == 1)
    val r = raw.head
    assert(r.getAs[Int]("session_id") == 101)
    assert(r.getAs[java.math.BigDecimal]("payment_amount").doubleValue() == 20.5)
  }

  test("negative and non-numeric amounts are NULLed in the raw table (consumer/consumer.py:70-74,198-206)") {
    val neg =
      """{"event_type": "bill_payment", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c", "session_id": 1, "channel": "web", "payment_amount": "-5.5"}}"""
    val bad =
      """{"event_type": "bill_payment", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c", "session_id": 1, "channel": "web", "payment_amount": "abc"}}"""
    val raw = EventsPipeline.rawEvents(
      EventsPipeline.parseAndValidate(Seq(neg, bad).toDF("value"))).collect()
    assert(raw.length == 2)
    assert(raw.forall(_.getAs[java.math.BigDecimal]("payment_amount") == null))
  }

  // amounts too large for DECIMAL(10,2) / DECIMAL(10,3): a plain cast
  // throws NUMERIC_VALUE_OUT_OF_RANGE under ANSI mode
  private val overflow = Seq(
    """{"event_type": "bill_payment", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c1", "session_id": 1, "channel": "web", "payment_amount": 1e12}}""",
    """{"event_type": "bill_payment", "event_time": "2025-06-04T12:05:00Z", "payload": {"customer_id": "c2", "session_id": 2, "channel": "web", "payment_amount": "12.50"}}""",
    """{"event_type": "energy_consumed", "event_time": "2025-06-04T12:10:00Z", "payload": {"customer_id": "c1", "session_id": 1, "channel": "web", "energy_consumed": "99999999"}}""",
    """{"event_type": "energy_consumed", "event_time": "2025-06-04T12:15:00Z", "payload": {"customer_id": "c2", "session_id": 2, "channel": "web", "energy_consumed": 3.25}}""")

  private def assertOverflowSkipped(r: Row): Unit = {
    assert(r.getAs[Long]("payment_events") == 2L)
    assert(r.getAs[java.math.BigDecimal]("total_payments").doubleValue() == 12.5)
    assert(r.getAs[java.math.BigDecimal]("total_energy_consumed").doubleValue() == 3.25)
    assert(r.getAs[java.math.BigDecimal]("peak_hour_usage").doubleValue() == 3.25)
  }

  test("out-of-range amounts are NULLed in the raw table and skipped by the aggregate") {
    val raw = EventsPipeline.rawEvents(
      EventsPipeline.parseAndValidate(overflow.toDF("value"))).collect()
    assert(raw.length == 4)
    def amount(c: String, col: String) = raw.filter(r =>
      r.getAs[String]("customer_id") == c && r.getAs[Any](col) != null)
      .map(_.getAs[java.math.BigDecimal](col).doubleValue()).toSeq
    assert(amount("c1", "payment_amount").isEmpty)
    assert(amount("c1", "energy_consumed").isEmpty)
    assert(amount("c2", "payment_amount") == Seq(12.5))
    assert(amount("c2", "energy_consumed") == Seq(3.25))
    val agg = hourly(overflow).collect()
    assert(agg.length == 1)
    assertOverflowSkipped(agg.head)
  }

  test("an out-of-range amount does not stop the stream") {
    val in = tmpDir("graft-ovf-in")
    val ckpt = tmpDir("graft-ovf-ckpt")
    val out = tmpDir("graft-ovf-out")
    Files.write(in.resolve("part0.jsonl"),
      overflow.mkString("\n").getBytes("UTF-8"))
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.ProcessingTime("200 milliseconds"))
    try {
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, q.exception)
      val agg = EventsPipeline.readHourlyMetrics(spark, out.toString).collect()
      assert(agg.length == 1)
      assertOverflowSkipped(agg.head)
    } finally q.stop()
  }

  test("hourly aggregate golden values for a green tariff switch (tests/test_consumer.py:54-63)") {
    val agg = hourly(Seq(greenSwitchStringFields)).collect()
    assert(agg.length == 1)
    val r = agg.head
    assert(r.getAs[java.sql.Timestamp]("hour").toInstant.toString == "2025-06-04T12:00:00Z")
    assert(r.getAs[Long]("tariff_switches") == 1L)
    assert(r.getAs[java.math.BigDecimal]("total_switch_revenue").doubleValue() == 20.5)
    assert(r.getAs[Long]("green_tariff_switches") == 1L)
    assert(r.getAs[Long]("active_customers") == 1L)
    assert(r.getAs[Double]("avg_switch_value") == 20.5)
  }

  test("two logins, same customer, distinct sessions (tests/test_consumer.py:65-91)") {
    def login(session: Int) =
      s"""{"event_type": "user_login", "event_time": "2025-06-04T12:10:00Z", "payload": {"customer_id": "cust123", "session_id": $session, "channel": "web"}}"""
    val agg = hourly(Seq(login(201), login(202))).collect()
    val r = agg.head
    assert(r.getAs[Long]("total_logins") == 2L)
    assert(r.getAs[Long]("new_sessions") == 2L)
    assert(r.getAs[Long]("active_customers") == 1L)
  }

  test("dead letter carries raw line and reason") {
    val dl = EventsPipeline.deadLetter(
      EventsPipeline.parseAndValidate(Seq("nope", validViewTariffs).toDF("value")))
      .collect()
    assert(dl.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("nope", "malformed_json")))
  }
}
