package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, CaseWhen, Expression,
  GetJsonObject, If, JsonToStructs, JsonTuple, Or}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** JSON parse nodes in the optimized plans of the ingest queries. A
  * parse node is evaluated for every row unless it sits in a lazily
  * evaluated branch (a CASE or IF value, the right side of OR/AND). Only
  * the two `json_tuple` levels may run on every row; a per-field
  * `get_json_object` parse puts 10 whole-line parses on every row of the
  * stream-shaped plan and 48 in the batch aggregate. */
class ParseCountSpec extends SparkSpec {
  private def isParse(e: Expression): Boolean = e match {
    case _: GetJsonObject | _: JsonTuple | _: JsonToStructs => true
    case _ => false
  }

  /** Parse nodes on the always-evaluated paths of `e`. */
  private def eager(e: Expression): Seq[Expression] = e match {
    case c: CaseWhen => eager(c.branches.head._1)
    case i: If => eager(i.predicate)
    case o: Or => eager(o.left)
    case a: And => eager(a.left)
    case p if isParse(p) => p +: p.children.flatMap(eager)
    case other => other.children.flatMap(eager)
  }

  private def exprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions)

  private def all(df: DataFrame): Seq[Expression] =
    exprs(df).flatMap(_.collect { case p if isParse(p) => p })

  private val line =
    """{"event_type": "bill_payment", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C", "session_id": 7, "channel": "web", "payment_amount": 5}}"""

  /** A file-backed input: a local relation would be folded away by the
    * optimizer, parses included. */
  private lazy val dir: String = {
    val in = tmpDir("graft-parse-count")
    Files.write(in.resolve("part0.jsonl"), (line + "\nnot json\n").getBytes("UTF-8"))
    in.toString
  }

  test("stream-shaped plan: a valid line is parsed twice, the fallbacks are lazy") {
    val validated = EventsPipeline.parseAndValidate(
      graft.sources.EventSource.fileBatch(spark, dir))
      .observe("graft_ingest",
        count(when(col("reason") === "valid", 1)).as("valid_events"),
        count(when(col("reason") =!= "valid", 1)).as("invalid_events"))
    val q = EventsPipeline.hourlyMetrics(EventsPipeline.rawEvents(validated))
    val every = exprs(q).flatMap(eager)
    assert(every.length == 2 && every.forall(_.isInstanceOf[JsonTuple]),
      every.mkString("\n"))
    val parses = all(q)
    assert(parses.count(_.isInstanceOf[JsonTuple]) == 2, parses.mkString("\n"))
    // the invalid-line fallback and the string-payload probe, each once
    assert(parses.count(_.isInstanceOf[GetJsonObject]) <= 1, parses.mkString("\n"))
    assert(parses.count(_.isInstanceOf[JsonToStructs]) <= 1, parses.mkString("\n"))
    assert(q.collect().head.getAs[Long]("payment_events") == 1L)
  }

  test("batchHourlyMetrics plan: two parses per row and no get_json_object") {
    val q = EventsPipeline.batchHourlyMetrics(spark, dir)
    val every = exprs(q).flatMap(eager)
    assert(every.length <= 2 && every.forall(_.isInstanceOf[JsonTuple]),
      every.mkString("\n"))
    val parses = all(q)
    assert(!parses.exists(_.isInstanceOf[GetJsonObject]), parses.mkString("\n"))
    assert(parses.count(_.isInstanceOf[JsonTuple]) <= 2, parses.mkString("\n"))
    assert(q.collect().head.getAs[Long]("payment_events") == 1L)
  }
}
