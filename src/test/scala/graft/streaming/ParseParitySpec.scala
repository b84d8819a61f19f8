package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `parseAndValidate` reads a line with one `json_tuple` per nesting
  * level. This spec holds it to the per-field `get_json_object` form it
  * replaced (copied below as the oracle, which parsed the whole line
  * once per field): all 12 output columns must agree row for row over
  * valid lines and every edge the envelope and payload can take. The one
  * intended difference, duplicate keys, is pinned on its own. */
class ParseParitySpec extends SparkSpec {
  import spark.implicits._

  /** The per-field `get_json_object` parse, copied as the oracle. */
  private def oracle(lines: DataFrame): DataFrame = {
    def payloadField(name: String): Column =
      get_json_object(col("value"), s"$$.payload.$name")
    val parsed = lines.select(
      col("value"),
      get_json_object(col("value"), "$.event_type").as("event_type"),
      get_json_object(col("value"), "$.event_time").as("event_time_raw"),
      get_json_object(col("value"), "$.payload").as("payload_raw"),
      payloadField("customer_id").as("customer_id"),
      payloadField("session_id").try_cast(IntegerType).as("session_id"),
      payloadField("channel").as("channel"),
      payloadField("tariff_type").as("tariff_type"),
      payloadField("energy_consumed").as("energy_raw"),
      payloadField("payment_amount").as("payment_raw"))
      .withColumn("event_time",
        expr("try_cast(event_time_raw AS timestamp)"))

    val missingPayloadField: Column =
      EventsPipeline.RequiredPayloadFields.foldLeft(lit(false)) {
        case (acc, (tpe, fields)) =>
          val missing = fields.map {
            case "energy_consumed" => col("energy_raw").isNull
            case "payment_amount" => col("payment_raw").isNull
            case f => col(f).isNull
          }.reduce(_ || _)
          when(col("event_type") === tpe, missing).otherwise(acc)
      }

    parsed.withColumn("reason",
      when(get_json_object(col("value"), "$").isNull, "malformed_json")
        .when(col("event_type").isNull || col("event_time_raw").isNull ||
          col("payload_raw").isNull, "missing_required_keys")
        .when(length(trim(col("event_type"))) === 0, "empty_event_type")
        .when(!col("event_type").isin(
          EventsPipeline.RequiredPayloadFields.keys.toSeq: _*),
          "unknown_event_type")
        .when(col("event_time").isNull, "invalid_event_time")
        .when(missingPayloadField, "missing_payload_fields")
        .otherwise("valid"))
  }

  private def envelope(tpe: String, payload: String,
      time: String = "\"2025-06-04T12:00:00Z\""): String =
    s"""{"event_type": "$tpe", "event_time": $time, "payload": $payload}"""

  private val base = """"customer_id": "CUST01", "session_id": 7, "channel": "web""""

  private val corpus: Seq[String] = Seq(
    // FIXTURES.md A.4: the reference's invalid lines
    "not a valid json",
    """{"event_type": "login"}""",
    """{"event_type": "user_login"}""",
    """{"event_type": "", "event_time": "2025-06-04T12:00:00Z", "payload": {}}""",
    """{"event_type": "  ", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c"}}""",
    """{"event_type": "login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "c"}}""",
    envelope("user_login", s"{$base}", "\"invalid-date\""),
    envelope("tariff_switch", s"{$base}"),
    envelope("bill_payment", s"""{$base, "payment_amount": "-5.5"}"""),
    envelope("bill_payment", s"""{$base, "payment_amount": "abc"}"""),
    // every event type, valid, with numbers as JSON numbers and as strings
    envelope("user_login", s"{$base}"),
    envelope("user_logout", s"{$base}"),
    envelope("view_tariffs", s"""{$base, "tariff_type": "basic"}"""),
    envelope("tariff_switch", s"""{$base, "tariff_type": "green", "payment_amount": 20.5}"""),
    envelope("incentive_claim", s"""{$base, "tariff_type": "basic", "payment_amount": "7.25"}"""),
    envelope("energy_consumed", s"""{$base, "energy_consumed": 41.787}"""),
    envelope("bill_payment", s"""{$base, "payment_amount": 100.3}"""),
    // payload that is not an object
    envelope("user_login", "\"just text\""),
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": "{\"customer_id\": \"C\", \"session_id\": 7, \"channel\": \"web\"}"}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": "{'customer_id': 'C', 'session_id': 7, 'channel': 'web'}"}""",
    """{'event_type': 'user_login', 'event_time': '2025-06-04T12:00:00Z', 'payload': '{"customer_id": "C", "session_id": 7, "channel": "web"}'}""",
    """{'event_type': 'user_login', 'event_time': '2025-06-04T12:00:00Z', 'payload': {'customer_id': 'C', 'session_id': 7, 'channel': 'web'}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "O'Brien é", "session_id": 7, "channel": "web"}}""",
    "{\"event_type\": \"user_login\", \"event_time\": \"2025-06-04T12:00:00Z\", \"payload\": {\"customer_id\": \"C\u0001\tD\", \"session_id\": 7, \"channel\": \"it's\"}}",
    envelope("user_login", s"[{$base}]"),
    envelope("user_login", "[]"),
    envelope("user_login", "42"),
    envelope("user_login", "true"),
    envelope("user_login", "{}"),
    // numeric strings, negatives, exponents, huge values
    envelope("energy_consumed", s"""{$base, "energy_consumed": "12.000"}"""),
    envelope("energy_consumed", s"""{$base, "energy_consumed": -3}"""),
    envelope("energy_consumed", s"""{$base, "energy_consumed": 1.50e1}"""),
    envelope("energy_consumed", s"""{$base, "energy_consumed": "99999999"}"""),
    envelope("bill_payment", s"""{$base, "payment_amount": 1e12}"""),
    envelope("bill_payment", s"""{$base, "payment_amount": 12345678901234567890}"""),
    envelope("bill_payment", s"""{$base, "payment_amount": 0.1234567890123456789}"""),
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": "101", "channel": "web"}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": "1.5", "channel": "web"}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": 99999999999, "channel": "web"}}""",
    // objects and arrays where a string belongs
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": {"id": 1, "tags": ["a", "b"]}, "session_id": 7, "channel": ["web", "app"]}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": {"n": 7}, "channel": "web"}}""",
    // explicit nulls
    """{"event_type": null, "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C"}}""",
    """{"event_type": "user_login", "event_time": null, "payload": {"customer_id": "C"}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": null}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": null, "session_id": null, "channel": null}}""",
    """{"event_type": "bill_payment", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": 7, "channel": "web", "payment_amount": null}}""",
    // a boolean session_id
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": true, "channel": "web"}}""",
    // escaped and unicode strings
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C\"U\\S\/T\n\té", "session_id": 7, "channel": "wéb ✓ 𝄞"}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C""" +
      "\\u00e9\\uD834\\uDD1E" + """", "session_id": 7, "channel": "web"}}""",
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": 7, "channel": "web"}}""",
    // timestamp shapes
    envelope("user_login", s"{$base}", "\"2025-06-01T02:04:33.033906\""),
    envelope("user_login", s"{$base}", "\"2025-06-01 02:04:33\""),
    envelope("user_login", s"{$base}", "\"2025-06-01T02:04:33+02:00\""),
    envelope("user_login", s"{$base}", "\"2025-06-01\""),
    envelope("user_login", s"{$base}", "1717200000"),
    // non-string event_type
    """{"event_type": 42, "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C"}}""",
    """{"event_type": true, "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C"}}""",
    """{"event_type": {"name": "user_login"}, "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C"}}""",
    """{"event_type": ["user_login"], "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C"}}""",
    // layout: whitespace, key order, unknown keys, nesting inside the payload
    """  {"payload":{"channel":"web","session_id":7,"customer_id":"C"},"event_time":"2025-06-04T12:00:00Z","event_type":"user_login"}  """,
    """{"event_type": "user_login", "extra": {"payload": {"customer_id": "X"}}, "event_time": "2025-06-04T12:00:00Z", "payload": {"meta": {"customer_id": "Y"}, "customer_id": "C", "session_id": 7, "channel": "web"}}""",
    """{"event_type":"bill_payment","event_time":"2025-06-04T12:00:00Z","payload":{ "customer_id" : "C" , "session_id" : 7 , "channel" : "web" , "payment_amount" : 5 , "notes" : [ 1 , { "a" : null } ] }}""",
    // trailing text and truncation
    envelope("user_login", s"{$base}") + " trailing",
    envelope("user_login", s"{$base}") + " it's trailing \\ text",
    envelope("user_login", s"{$base}") + """ {"event_type": "bill_payment"}""",
    envelope("user_login", s"{$base}").dropRight(1),
    envelope("user_login", s"{$base}").dropRight(2),
    """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": 7, "channel": "web"}, "tail": }""",
    // degenerate lines
    "{",
    "",
    "   ",
    "null",
    "[]",
    """[{"event_type":"user_login"}]""",
    "42",
    "\"text\"")

  private def rows(df: DataFrame) = df.collect().toSeq

  test("json_tuple parse equals the per-field get_json_object parse, all 12 columns") {
    val lines = corpus.toDF("value")
    val got = EventsPipeline.parseAndValidate(lines)
    val want = oracle(lines)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema == want.schema)
    val (g, w) = (rows(got), rows(want))
    assert(g.length == corpus.length)
    val diffs = g.zip(w).zipWithIndex.collect { case ((a, b), i) if a != b =>
      s"line $i: ${corpus(i)}\n got: $a\nwant: $b" }
    assert(diffs.isEmpty, diffs.mkString("\n"))
    // the corpus reaches every reason code
    assert(g.map(_.getAs[String]("reason")).toSet == Set("valid",
      "malformed_json", "missing_required_keys", "empty_event_type",
      "unknown_event_type", "invalid_event_time", "missing_payload_fields"))
  }

  test("duplicate keys: the last occurrence wins, as in json.loads") {
    val dup =
      """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "event_type": "bill_payment", "payload": {"customer_id": "A", "session_id": 7, "channel": "web", "payment_amount": 5, "customer_id": "B", "payment_amount": 6}}"""
    val r = EventsPipeline.parseAndValidate(Seq(dup).toDF("value")).collect().head
    assert(r.getAs[String]("event_type") == "bill_payment")
    assert(r.getAs[String]("customer_id") == "B")
    assert(r.getAs[String]("payment_raw") == "6")
    assert(r.getAs[String]("reason") == "valid")
    // the per-field form kept the first occurrence: a deliberate change
    val o = oracle(Seq(dup).toDF("value")).collect().head
    assert(o.getAs[String]("event_type") == "user_login")
    assert(o.getAs[String]("customer_id") == "A")
  }
}
