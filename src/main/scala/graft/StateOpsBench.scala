package graft

import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Attribution
import graft.operators.Attribution.AttribEvent
import graft.util.Sessions

/** Dev-only: throughput of the typed custom-state streaming operators
  * (flatMapGroupsWithState) — replays the driver events table through
  * [[Attribution.streamingCredits]] in fixed-size micro-batches and
  * reports events/second, the number STREAMBENCH.md records next to
  * the pipeline and serving benches.
  *
  * Usage: runMain graft.StateOpsBench [sfDir] [batchSize]
  */
object StateOpsBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val batch = if (args.length > 1) args(1).toInt else 20000
    // state-store instance count == shuffle partitions == cores; small
    // batches want few stores (see README streaming sizing note)
    val spark = Sessions.dev()
    import spark.implicits._

    val rows = graft.util.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id as userId", "event_id as eventId",
        "ts as eventTime", "event_type as eventType", "value")
      .as[AttribEvent]
      .collect()
      .sortBy(e => (e.eventTime.getTime, e.eventId))
    println(s"[stateops] replaying ${rows.length} events, batch=$batch")

    val r = Sessions.replay(spark, rows.toSeq.grouped(batch).toSeq) { ds =>
      Attribution.streamingCredits(ds.withWatermark("eventTime", "24 hours"))
        .writeStream.format("memory").queryName("stateops_credits")
        .outputMode(OutputMode.Append()).start()
    }
    val out = spark.table("stateops_credits").count()
    println(f"[stateops] attribution: ${rows.length} events in ${r.wall}%.1f s " +
      f"= ${rows.length / r.wall}%.0f events/s ($out credits)")
    spark.stop()
  }
}
