package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec

/** The hourly sink's generation lifecycle: every micro-batch with rows
  * publishes the whole table as one new generation file named in the
  * sink's generation log, a read scans only the live file, and a sink
  * holds at most `spark.sql.streaming.minBatchesToRetain` generations. */
class SinkGenerationSpec extends SparkSpec {

  private def event(tpe: String, time: String, cust: String, session: Int,
      extra: String = ""): String =
    s"""{"event_type": "$tpe", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"$extra}}"""

  /** File `i`: a login and a payment in two of 16 hours of one day, so
    * every file updates hours an earlier file wrote and most add one. */
  private def file(i: Int): Seq[String] = Seq(i % 16, (i * 5 + 3) % 16).flatMap { h =>
    val t = f"2025-06-04T$h%02d:${i % 60}%02d:00Z"
    Seq(event("user_login", t, s"CUST$i", i),
      event("bill_payment", t, s"CUST${i % 3}", i, s""", "payment_amount": ${i + 0.5}"""))
  }

  private def put(in: Path, i: Int, lines: Seq[String] = Nil): Unit =
    Files.write(in.resolve(f"part$i%03d.jsonl"),
      (if (lines.isEmpty) file(i) else lines).mkString("\n").getBytes("UTF-8"))

  private def names(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator.asScala
      .map(_.getFileName.toString).toList)

  /** Top-level `*.parquet` files of the sink. */
  private def dataFiles(out: Path): Seq[String] =
    names(out.resolve("hourly_business_metrics")).filter(_.endsWith(".parquet"))

  /** Entries of the sink's generation log. */
  private def entries(out: Path): Seq[Long] =
    names(out.resolve("hourly_business_metrics/_generations"))
      .filter(_.matches("\\d+")).map(_.toLong)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.select(EventsPipeline.sinkSchema(spark).fieldNames.dropRight(2).map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSet

  private def hourly(out: Path): Set[Seq[Any]] =
    rows(EventsPipeline.readHourlyMetrics(spark, out.toString))

  private def truth(in: Path): Set[Seq[Any]] =
    rows(EventsPipeline.batchHourlyMetrics(spark, in.toString))

  private def stream(in: Path, ckpt: Path, out: Path,
      session: org.apache.spark.sql.SparkSession = spark): StreamingQuery =
    EventsPipeline.start(session, in.toString, ckpt.toString, out.toString,
      Trigger.ProcessingTime(0))

  test("a reader of a live stream never fails and always sees one row per hour") {
    val (in, ckpt, out) = (tmpDir("graft-gen-in"), tmpDir("graft-gen-ck"), tmpDir("graft-gen-out"))
    put(in, 0)
    val q = stream(in, ckpt, out)
    q.processAllAvailable()
    val stop = new AtomicBoolean(false)
    val (ok, wrong) = (new AtomicInteger(0), new AtomicInteger(0))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => while (!stop.get()) {
      try {
        val hours = EventsPipeline.readHourlyMetrics(spark, out.toString).collect()
          .map(_.getAs[java.sql.Timestamp]("hour"))
        if (hours.nonEmpty && hours.distinct.length == hours.length) ok.incrementAndGet()
        else wrong.incrementAndGet()
      } catch { case e: Throwable => failures.add(e) }
    })
    reader.start()
    try (1 to 24).foreach { i => put(in, i); q.processAllAvailable() }
    finally {
      stop.set(true)
      reader.join(60000)
      q.stop()
    }
    val published = entries(out)
    info(s"reads ok=${ok.get()} wrong=${wrong.get()} failed=${failures.size}; " +
      s"generations ${published.min}-${published.max}")
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    assert(wrong.get() == 0)
    assert(ok.get() > 0)
    assert(published.size >= 20 && dataFiles(out).size == published.size)
    assert(hourly(out) == truth(in))
  }

  test("a batch with no valid rows publishes nothing") {
    val (in, ckpt, out) = (tmpDir("graft-gen-nd-in"), tmpDir("graft-gen-nd-ck"), tmpDir("graft-gen-nd-out"))
    put(in, 1)
    val q = stream(in, ckpt, out)
    try {
      q.processAllAvailable()
      // the first batch moves the watermark, and the stateless query runs
      // no no-data batch after it: processAllAvailable would have waited
      assert(!Files.exists(ckpt.resolve("agg/commits/1")), "a no-data batch ran")
      put(in, 2, Seq("not json at all",
        """{"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z"}"""))
      q.processAllAvailable()
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq == Seq(0L, 1L))
    } finally q.stop()
    assert(dataFiles(out).size == 1)
    assert(entries(out) == Seq(0L))
    assert(hourly(out) == truth(in))
  }

  test("a sink keeps at most minBatchesToRetain generations") {
    val (in, ckpt, out) = (tmpDir("graft-gen-rt-in"), tmpDir("graft-gen-rt-ck"), tmpDir("graft-gen-rt-out"))
    val child = spark.newSession()
    child.conf.set("spark.sql.streaming.minBatchesToRetain", "3")
    val q = stream(in, ckpt, out, child)
    try (1 to 6).foreach { i => put(in, i); q.processAllAvailable() }
    finally q.stop()
    info(s"files ${dataFiles(out).sorted}, entries ${entries(out).sorted}")
    assert(entries(out).max >= 5L, "six data batches, six publishes")
    assert(dataFiles(out).size <= 3)
    assert(entries(out).size <= 3)
    assert(hourly(out) == truth(in))
  }

  test("a backfill published between a stream batch's load and its add survives") {
    val (in, ckpt, out) = (tmpDir("graft-gen-bf-in"), tmpDir("graft-gen-bf-ck"), tmpDir("graft-gen-bf-out"))
    val late = tmpDir("graft-gen-bf-late")
    put(in, 1, Seq(event("user_login", "2025-06-04T12:01:00Z", "CUST01", 1)))
    put(late, 1, Seq(event("bill_payment", "2025-06-04T13:30:00Z", "CUST09", 9,
      """, "payment_amount": 40.25""")))
    val sink = s"$out/hourly_business_metrics"
    val fired = new AtomicBoolean(false)
    val q = stream(in, ckpt, out)
    try {
      q.processAllAvailable()
      EventsPipeline.beforeAdd.set { s =>
        if (s == sink && fired.compareAndSet(false, true))
          EventsPipeline.backfillHourlyMetrics(spark, late.toString, out.toString,
            "2025-06-04 13:00:00", "2025-06-04 14:00:00")
      }
      put(in, 2, Seq(event("user_login", "2025-06-04T12:20:00Z", "CUST02", 2)))
      q.processAllAvailable()
    } finally {
      EventsPipeline.beforeAdd.set(_ => ())
      q.stop()
    }
    assert(fired.get(), "the hook never ran")
    // the stream's losing file is gone: generations 0, 1 (the backfill), 2
    assert(entries(out).sorted == Seq(0L, 1L, 2L))
    assert(dataFiles(out).size == 3)
    assert(hourly(out) == truth(in) ++ truth(late))
  }

  test("a replayed epoch reads the same") {
    val (in, ckpt, out) = (tmpDir("graft-gen-rp-in"), tmpDir("graft-gen-rp-ck"), tmpDir("graft-gen-rp-out"))
    val q = stream(in, ckpt, out)
    try (1 to 2).foreach { i => put(in, i); q.processAllAvailable() }
    finally q.stop()
    val before = hourly(out)
    val published = entries(out).size
    // forget every batch from the last one with rows: a restart replays
    // that batch with the offsets it already logged
    val last = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    for (log <- Seq("commits", "offsets"); n <- names(ckpt.resolve(s"agg/$log"))
        if n.matches("\\d+") && (n.toLong > last || (log == "commits" && n.toLong == last))) {
      Files.delete(ckpt.resolve(s"agg/$log/$n"))
      Files.deleteIfExists(ckpt.resolve(s"agg/$log/.$n.crc"))
    }
    val r = EventsPipeline.start(spark, in.toString, ckpt.toString, out.toString,
      Trigger.AvailableNow())
    r.awaitTermination()
    assert(r.recentProgress.exists(p => p.batchId == last && p.numInputRows > 0), "no replay")
    assert(entries(out).size == published + 1)
    assert(hourly(out) == before)
    assert(before == truth(in))
  }

  test("a sink written before the generation log reads the same after its first publish") {
    val in = tmpDir("graft-gen-old-in")
    val out = tmpDir("graft-gen-old-out")
    val sink = s"$out/hourly_business_metrics"
    put(in, 1)
    def append(epoch: Long, at: String): Unit =
      EventsPipeline.batchHourlyMetrics(spark, in.toString)
        .withColumn("batch_epoch", lit(epoch))
        .withColumn("updated_at", lit(at).cast("timestamp"))
        .write.mode("append").parquet(sink)
    // two epochs of one flush each; the second supersedes the first for
    // the hours both hold
    append(0L, "2025-06-05 00:00:00")
    put(in, 2)
    append(1L, "2025-06-05 00:00:30")
    val before = hourly(out)
    assert(before == truth(in))
    assert(spark.read.parquet(sink).count() > before.size)

    EventsPipeline.compactHourlyMetrics(spark, out.toString)
    assert(entries(out) == Seq(0L))
    assert(dataFiles(out).size == 1)
    assert(hourly(out) == before)
    assert(spark.read.parquet(sink).count() == before.size)
    // provenance survives the migration: each hour keeps its latest stamp
    val epochs = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("batch_epoch")).toSet
    assert(epochs == Set(1L))
  }

  test("compaction keeps only the live generation and what reads return") {
    val (in, ckpt, out) = (tmpDir("graft-gen-cp-in"), tmpDir("graft-gen-cp-ck"), tmpDir("graft-gen-cp-out"))
    val q = stream(in, ckpt, out)
    try (1 to 3).foreach { i => put(in, i); q.processAllAvailable() }
    finally q.stop()
    val before = hourly(out)
    // a crashed publish's file: renamed into place, never logged
    val sinkDir = out.resolve("hourly_business_metrics")
    Files.copy(sinkDir.resolve(dataFiles(out).head), sinkDir.resolve("part-g1-crashed.snappy.parquet"))
    val live = entries(out).max
    EventsPipeline.compactHourlyMetrics(spark, out.toString)
    assert(entries(out) == Seq(live))
    assert(dataFiles(out).size == 1 && dataFiles(out).head.startsWith(s"part-g$live-"))
    assert(hourly(out) == before)
    assert(before == truth(in))
  }
}
