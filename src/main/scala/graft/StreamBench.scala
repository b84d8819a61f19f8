package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventsPipeline
import graft.util.Sessions

/** Streaming-throughput benchmark: replays the driver `events` table as
  * reference-shaped JSONL envelopes through the full streaming pipeline
  * (parse -> validate -> watermark -> 1h window agg -> upsert sink) and
  * reports events/second.
  *
  * Context: the reference processes ~1 event/s end-to-end (producer
  * sleep-throttled replay, BASELINE.md) with a 5-event consumer batch;
  * its un-throttled ceiling is a single-threaded Python dict loop.
  * This main measures the same logical pipeline under Structured
  * Streaming micro-batching.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.dev()
    // GRAFT_STATE_STORE=rocksdb benches the large-state provider
    // (graft.streaming.StateStores) on the same pipeline
    val store = sys.env.getOrElse("GRAFT_STATE_STORE", "default")
    if (store == "rocksdb") graft.streaming.StateStores.useRocksDb(spark)

    // driver events -> reference envelope (7-type domain) JSONL
    val ev = graft.util.Tables.load(spark, sfDir, "events")
    val lines = ev.select(to_json(struct(
      when(col("event_type") === "purchase", "tariff_switch")
        .when(col("event_type") === "signup", "user_login")
        .when(col("event_type") === "click", "incentive_claim")
        .when(col("event_type") === "view", "bill_payment")
        .otherwise("energy_consumed").as("event_type"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("event_time"),
      struct(
        concat(lit("CUST"), col("user_id")).as("customer_id"),
        (col("event_id") % 100000).as("session_id"),
        lit("web_portal").as("channel"),
        when(col("event_type").isin("purchase", "click"),
          when(col("value") >= 100, "green").otherwise("basic")).as("tariff_type"),
        when(col("event_type") === "error", col("value")).as("energy_consumed"),
        when(col("event_type").isin("purchase", "view"), col("value"))
          .as("payment_amount")).as("payload"))).as("value"))

    val in = Files.createTempDirectory("graft-sb-in")
    // 20 input files so the micro-batched phase gets a real batch
    // cadence (maxFilesPerTrigger=2 -> 10 batches)
    lines.repartition(20).write.mode("overwrite").text(in.toString)
    val nEvents = spark.read.text(in.toString).count()

    /** One pipeline run; returns (wall sec, per-batch trigger ms). */
    def run(maxFiles: Option[Int]): (Double, Seq[Long]) = {
      val ckpt = Files.createTempDirectory("graft-sb-ckpt")
      val out = Files.createTempDirectory("graft-sb-out")
      val (q, sec) = Sessions.timed {
        val q = EventsPipeline.start(spark, in.toString, ckpt.toString,
          out.toString, Trigger.AvailableNow(), maxFiles)
        q.awaitTermination()
        q
      }
      val hours = EventsPipeline.readHourlyMetrics(spark, out.toString).count()
      require(hours > 0, "sink is empty")
      // per-micro-batch latency from the engine's own progress events:
      // triggerExecution covers source->sink for the batch (the
      // end-to-end path a record takes once picked up)
      val durs = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toLong).toSeq
      (sec, durs)
    }

    // bulk: everything in one batch = peak throughput
    val (bulkSec, bulkDurs) = run(None)
    // micro-batched: 10 batches = steady-state per-batch latency
    val (mbSec, mbDurs) = run(Some(2))
    def stats(ds: Seq[Long]): (Double, Long) =
      if (ds.isEmpty) (0.0, 0L)
      else (ds.sum.toDouble / ds.length, ds.max)
    val (mbAvg, mbMax) = stats(mbDurs)
    println(f"""{"metric":"stream_events_per_sec","value":${nEvents / bulkSec}%.0f,"unit":"events/sec","events":$nEvents,"wall_sec":$bulkSec%.2f,"bulk_batches":${bulkDurs.length},"micro_batches":${mbDurs.length},"micro_events_per_sec":${nEvents / mbSec}%.0f,"micro_batch_latency_avg_ms":$mbAvg%.0f,"micro_batch_latency_max_ms":$mbMax,"state_store":"$store","sf":"$sfDir"}""")
    spark.stop()
  }
}
