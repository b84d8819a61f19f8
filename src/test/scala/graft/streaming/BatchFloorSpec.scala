package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The hourly stream's fixed per-batch costs, as structural counters
  * that do not depend on the host: no state store, one Spark job, one
  * sink file and no freshly compiled class per steady micro-batch, under
  * a session whose shuffle partition count (4) is left as the caller set
  * it. */
class BatchFloorSpec extends SparkSpec {
  private val Key = "spark.sql.shuffle.partitions"

  private def event(tpe: String, time: String, cust: String, session: Int,
      extra: String = ""): String =
    s"""{"event_type": "$tpe", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal"$extra}}"""

  // each file spans twelve hours; the first file holds the latest event,
  // so the watermark moves only after the first batch and every later
  // batch is a steady data batch
  private def file(i: Int): Seq[String] = (6 to 17).flatMap { h =>
    val t = f"2025-06-04T$h%02d:${59 - i}%02d:00Z"
    Seq(event("user_login", t, s"CUST0$i", i),
      event("bill_payment", t, s"CUST1$i", i, """, "payment_amount": 12.5"""))
  }

  private def sinkFiles(out: Path): Int =
    scala.util.Using.resource(Files.list(out.resolve("hourly_business_metrics")))(
      _.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("no state, one job, one sink file, no compiles per steady batch") {
    val in = tmpDir("graft-floor-in")
    val ckpt = tmpDir("graft-floor-ck")
    val out = tmpDir("graft-floor-out")
    val callers = spark.conf.getAll.get(Key)
    val q = EventsPipeline.start(spark, in.toString, ckpt.toString,
      out.toString, Trigger.ProcessingTime(0))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == q.id.toString))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(spark.conf.getAll.get(Key) == callers, "caller's partitions changed")
      def step(i: Int): Unit = {
        Files.write(in.resolve(s"part$i.jsonl"), file(i).mkString("\n").getBytes("UTF-8"))
        q.processAllAvailable()
        TestBus.drain(spark.sparkContext)
      }
      step(0)
      val compiles0 = compiles
      val steady = 1 to 8
      val perBatch = steady.map { i =>
        val (files0, jobs0) = (sinkFiles(out), jobs.get)
        step(i)
        (sinkFiles(out) - files0, jobs.get - jobs0)
      }
      val compiled = compiles - compiles0
      val stateful = q.recentProgress.filter(_.stateOperators.nonEmpty).map(_.batchId).toSeq
      val counters = s"batches with state operators $stateful, (sink files, jobs) per " +
        s"batch $perBatch, compiles over ${steady.size} batches $compiled"
      info(counters)
      assert(stateful.isEmpty, counters)
      assert(perBatch.forall(_ == ((1, 1))), counters)
      assert(compiled == 0L, counters)
      assert(EventsPipeline.readHourlyMetrics(spark, out.toString).count() == 12)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a caller that never set the partition count is left without one") {
    val child = spark.newSession()
    child.conf.unset(Key)
    val q = EventsPipeline.start(child, tmpDir("graft-floor-in2").toString,
      tmpDir("graft-floor-ck2").toString, tmpDir("graft-floor-out2").toString,
      Trigger.ProcessingTime(0))
    q.stop()
    assert(!child.conf.getAll.contains(Key))
  }
}
