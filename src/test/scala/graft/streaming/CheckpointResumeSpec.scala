package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Exactly-once across restarts (SURVEY.md §7.1 divergence 4): a
  * streaming run stopped after batch 1 and RESTARTED from its
  * checkpoint over new input must converge to the same
  * hourly_business_metrics as one batch pass over all input — no
  * double counting of replayed data, the open hours (including the
  * distinct sets) restored from the sink's sidecar. The reference is
  * at-least-once here: a crash between its DB commit and Kafka offset
  * commit re-inserts rows and re-adds them to the in-memory stats. */
class CheckpointResumeSpec extends SparkSpec {

  private def event(tpe: String, time: String, cust: String, session: Int,
      extra: String = ""): String =
    s"""{"event_type": "$tpe", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"$extra}}"""

  private val wave1 = Seq(
    event("user_login", "2025-06-04T12:01:00Z", "CUST01", 1),
    event("tariff_switch", "2025-06-04T12:30:00Z", "CUST01", 1,
      """, "tariff_type": "green", "payment_amount": 20.5"""),
    event("user_login", "2025-06-04T13:05:00Z", "CUST02", 2))
  private val wave2 = Seq(
    // lands in an hour ALREADY aggregated in wave 1 -> state must merge,
    // and CUST01 must not be double-counted in active_customers
    event("bill_payment", "2025-06-04T12:45:00Z", "CUST03", 3,
      """, "payment_amount": 100.0"""),
    event("user_login", "2025-06-04T12:50:00Z", "CUST01", 4),
    event("energy_consumed", "2025-06-04T13:10:00Z", "CUST02", 2,
      """, "energy_consumed": 10.0"""))

  private def writeLines(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes("UTF-8"))

  test("restart from checkpoint resumes exactly-once; stream equals batch") {
    val in = tmpDir("graft-ckpt-in")
    val ckpt = tmpDir("graft-ckpt-ck")
    val out = tmpDir("graft-ckpt-out")

    writeLines(in, "wave1.jsonl", wave1)
    val q1 = EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.AvailableNow())
    q1.awaitTermination()

    writeLines(in, "wave2.jsonl", wave2)
    val q2 = EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.AvailableNow())
    q2.awaitTermination()

    // render the hour via Instant: Timestamp.toString uses the JVM
    // default timezone, which would break the noon lookup below on any
    // non-UTC host (session TZ is UTC but user.timezone is not pinned)
    def key(r: org.apache.spark.sql.Row): (String, Long, Long, Long, String, String) = (
      r.getAs[java.sql.Timestamp]("hour").toInstant.toString,
      r.getAs[Long]("tariff_switches"),
      r.getAs[Long]("total_logins"),
      r.getAs[Long]("active_customers"),
      r.getAs[java.math.BigDecimal]("total_payments").toPlainString,
      r.getAs[java.math.BigDecimal]("total_energy_consumed").toPlainString)

    val streamed = EventsPipeline.readHourlyMetrics(spark, out.toString)
      .collect().map(key).toSet
    val batch = EventsPipeline.batchHourlyMetrics(spark, in.toString)
      .collect().map(key).toSet
    assert(streamed == batch)
    // the 12:00 hour saw events in BOTH runs: one login per run (both
    // CUST01), distinct customers {CUST01, CUST03} — CUST01 must not be
    // double-counted across the restart
    val noon = streamed.find(_._1.startsWith("2025-06-04T12")).get
    assert(noon._3 == 2L, s"total_logins: $noon")
    assert(noon._4 == 2L, s"active_customers: $noon")

    // compaction drops superseded epochs without changing what readers
    // see: the 12:00 hour was flushed by both runs, so the raw sink
    // holds more rows than the compacted view
    val rawRows = spark.read
      .parquet(s"$out/hourly_business_metrics").count()
    EventsPipeline.compactHourlyMetrics(spark, out.toString)
    val afterRows = spark.read
      .parquet(s"$out/hourly_business_metrics").count()
    val after = EventsPipeline.readHourlyMetrics(spark, out.toString)
      .collect().map(key).toSet
    assert(after == streamed)
    assert(afterRows < rawRows, s"$afterRows vs $rawRows")
  }

  test("compaction beside a racing reader never returns a wrong read") {
    // compactHourlyMetrics runs beside live readers (its scaladoc): a
    // reader still scanning a generation that compaction drops may fail
    // loudly, but a read that succeeds returns the whole table. Each
    // compaction starts only after the reader has completed a read, and
    // compactions go on until it has completed `reads` of them.
    val reads = 20
    val in = tmpDir("graft-race-in")
    val ckpt = tmpDir("graft-race-ck")
    val out = tmpDir("graft-race-out")
    writeLines(in, "wave1.jsonl", wave1)
    EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.AvailableNow()).awaitTermination()
    writeLines(in, "wave2.jsonl", wave2)
    EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.AvailableNow()).awaitTermination()

    def snapshot(): Set[String] =
      EventsPipeline.readHourlyMetrics(spark, out.toString)
        .collect().map(_.toString).toSet
    val expected = snapshot()
    assert(expected.nonEmpty)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    def done: Int = ok.get() + wrong.get() + failed.get()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          if (snapshot() == expected) ok.incrementAndGet()
          else wrong.incrementAndGet()
        } catch { case _: Throwable => failed.incrementAndGet() }
      }
    })
    reader.start()
    val give = System.currentTimeMillis() + 120000
    var compactions = 0
    try {
      var seen = 0
      while (done < reads && System.currentTimeMillis() < give) {
        while (done == seen && System.currentTimeMillis() < give) Thread.sleep(1)
        seen = done
        EventsPipeline.compactHourlyMetrics(spark, out.toString)
        compactions += 1
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(wrong.get() == 0, s"silently wrong reads: ${wrong.get()}")
    assert(ok.get() > 0, "reader never completed a read")
    info(s"reads ok=${ok.get()} failed-loudly=${failed.get()} over $compactions compactions")
    assert(done >= reads, s"$done reads")
    // and the table itself is intact afterwards
    assert(snapshot() == expected)
  }
}
