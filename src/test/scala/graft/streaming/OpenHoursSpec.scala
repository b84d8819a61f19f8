package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec

/** The open hours the stateless hourly query keeps beside its sink:
  * each generation's sidecar carries them, so a restart in a new JVM
  * keeps exact distinct counts (the reference double-counts across a
  * restart, SURVEY.md §7.1), a batch replayed after a crash between its
  * publish and its commit publishes the same table, and a checkpoint of
  * the earlier stateful query is refused rather than undercounted. Each
  * restart here first forgets the driver-held tables, as a new JVM
  * would. */
class OpenHoursSpec extends SparkSpec {

  private def event(tpe: String, time: String, cust: String, session: Int,
      extra: String = ""): String =
    s"""{"event_type": "$tpe", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"$extra}}"""

  /** Wave `i`: logins and payments in the 12:00 and 13:00 hours by
    * customers and sessions that earlier waves already used, plus one new
    * customer each. */
  private def wave(i: Int): Seq[String] = Seq(12, 13).flatMap { h =>
    val t = f"2025-06-04T$h%02d:${10 + i}%02d:00Z"
    Seq(event("user_login", t, "CUST01", 1), event("user_login", t, s"CUST1$i", 10 + i),
      event("bill_payment", t, "CUST02", 2, s""", "payment_amount": $i.5"""))
  }

  private def put(in: Path, i: Int, lines: Seq[String] = Nil): Unit =
    Files.write(in.resolve(s"part$i.jsonl"),
      (if (lines.isEmpty) wave(i) else lines).mkString("\n").getBytes("UTF-8"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(EventsPipeline.sinkSchema(spark).fieldNames.dropRight(2).map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSet

  private def hourly(out: Path): Set[Seq[Any]] =
    rows(EventsPipeline.readHourlyMetrics(spark, out.toString))

  private def truth(in: Path): Set[Seq[Any]] =
    rows(EventsPipeline.batchHourlyMetrics(spark, in.toString))

  private def availableNow(in: Path, ckpt: Path, out: Path): StreamingQuery = {
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString, out.toString,
      Trigger.AvailableNow())
    q.awaitTermination()
    q
  }

  private def names(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toList)

  /** The open hours the live generation's sidecar carries. */
  private def sidecar(out: Path): EventsPipeline.OpenHours = {
    val sink = out.resolve("hourly_business_metrics")
    val live = names(sink.resolve("_generations")).filter(_.matches("\\d+")).maxBy(_.toLong)
    val file = Files.readAllLines(sink.resolve(s"_generations/$live")).asScala.last
      .stripPrefix("\"").stripSuffix("\"")
    assert(names(sink).contains(s"_$file.open"), names(sink))
    scala.util.Using.resource(new java.io.ObjectInputStream(
        Files.newInputStream(sink.resolve(s"_$file.open"))))(
      _.readObject().asInstanceOf[EventsPipeline.OpenHours])
  }

  test("a restart in the middle of an hour keeps exact distinct counts") {
    val (in, ckpt, out) = (tmpDir("graft-open-in"), tmpDir("graft-open-ck"), tmpDir("graft-open-out"))
    put(in, 1)
    val q = availableNow(in, ckpt, out)
    val open = sidecar(out)
    assert(open.query == q.id.toString)
    assert(open.after.size == 2 && open.after.values.forall(_.customers.size == 3))
    EventsPipeline.liveTables.clear()
    put(in, 2)
    availableNow(in, ckpt, out)
    EventsPipeline.liveTables.clear()
    put(in, 3)
    availableNow(in, ckpt, out)
    val got = hourly(out)
    assert(got == truth(in))
    val fields = EventsPipeline.sinkSchema(spark).fieldNames
    // CUST01, CUST02 and one new customer per wave; session 1 and one new
    // login session per wave
    assert(got.map(_(fields.indexOf("active_customers"))) == Set(5L))
    assert(got.map(_(fields.indexOf("new_sessions"))) == Set(4L))
    assert(got.map(_(fields.indexOf("total_logins"))) == Set(6L))
  }

  test("a crash between publish and commit replays to the same table") {
    val (in, ckpt, out) = (tmpDir("graft-open-rp-in"), tmpDir("graft-open-rp-ck"), tmpDir("graft-open-rp-out"))
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString, out.toString,
      Trigger.ProcessingTime(0))
    try (1 to 3).foreach { i => put(in, i); q.processAllAvailable() }
    finally q.stop()
    val before = hourly(out)
    assert(before == truth(in))
    val last = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    val commits = ckpt.resolve("agg/commits")
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    EventsPipeline.liveTables.clear()
    val r = availableNow(in, ckpt, out)
    assert(r.recentProgress.exists(p => p.batchId == last && p.numInputRows > 0), "no replay")
    assert(sidecar(out).epoch == last)
    assert(hourly(out) == before)
  }

  test("a checkpoint of the stateful query is refused with its cause") {
    val (in, ckpt, out) = (tmpDir("graft-open-old-in"), tmpDir("graft-open-old-ck"), tmpDir("graft-open-old-out"))
    put(in, 1)
    // the query as it ran before the open hours moved beside the sink: a
    // stateful aggregate checkpointed under `agg`
    EventsPipeline.hourlyMetrics(EventsPipeline.rawEvents(EventsPipeline.parseAndValidate(
        graft.sources.EventSource.fileStream(spark, in.toString)))
        .withWatermark("event_time", "24 hours"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.resolve("agg").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) => df.collect(); () }
      .start().awaitTermination()
    assert(Files.exists(ckpt.resolve("agg/state")))
    put(in, 2)
    val e = intercept[IllegalStateException](availableNow(in, ckpt, out))
    assert(e.getMessage.contains("state store") && e.getMessage.contains("new checkpoint"),
      e.getMessage)
    assert(!Files.exists(out.resolve("hourly_business_metrics")))
    // the remedy the message names: a new checkpoint reads every file again
    availableNow(in, tmpDir("graft-open-new-ck"), out)
    assert(hourly(out) == truth(in))
  }
}
