package graft.queries

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkEntry, SparkSpec}
import graft.util.Tables

/** The `events` loader behind every `ev_*` query: a one-split table is
  * read as one partition, a multi-split table as Spark splits it, with
  * the same rows either way; the resolved frame is reused until the
  * table's files change, and holds no cached data. */
class EventsLoadSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The 27 energy panels of the repository benchmark's `dashboards`
    * workload. */
  private val panels = Seq(
    "ev_hourly_metrics", "ev_rolling_24h", "ev_daily_summary", "ev_customer_view",
    "ev_channel_performance", "ev_engagement_funnel", "ev_customer_activity",
    "ev_cumulative_adoption", "ev_demand_elasticity", "ev_peak_load",
    "ev_business_kpis", "ev_dynamic_pricing", "ev_ab_framework",
    "ev_validation_summary", "ev_total_error_value",
    "ev_sessionization", "ev_asof_join", "ev_range_join", "ev_stream_interval_join",
    "ev_funnel_sequences", "ev_attribution", "ev_user_ranks", "ev_retention_cohorts",
    "ev_anomaly_mad", "ev_gap_fill", "ev_markov_steady", "ev_ewma_forecast")

  /** Rows as scripts/compare.py compares them: columns sorted by name,
    * rows sorted, values exact. */
  private def rows(df: DataFrame): Seq[String] = {
    def norm(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case other => other.toString
    }
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    df.collect().map(r => order.map(i => norm(r.get(i))).mkString("\u0001")).toSeq.sorted
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    @volatile var n = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n += 1
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { val a = body; TestBus.drain(sc); (a, n) }
    finally sc.removeSparkListener(l)
  }

  private def scanPartitions(df: DataFrame): Int =
    df.queryExecution.executedPlan.execute().getNumPartitions

  test("a one-split table is read as one partition; a four-file copy as four") {
    val split4 = multiSplitEvents(dir, 4)
    assert(scanPartitions(EventsQueries.events(spark, dir)) == 1)
    assert(scanPartitions(EventsQueries.events(spark, split4)) == 4)
  }

  test("every dashboard panel returns the same rows on one split and on four") {
    val split4 = multiSplitEvents(dir, 4)
    assert(panels.size == 27)
    val sizes = panels.map { p =>
      val one = rows(SparkEntry.queries(p)(spark, dir))
      val four = rows(SparkEntry.queries(p)(spark, split4))
      assert(one == four, p)
      spark.catalog.clearCache()
      one.size
    }
    // sf0.001 has no interval-join matches; every other panel has rows
    assert(sizes.count(_ > 0) == 26, panels.zip(sizes))
  }

  test("an unchanged table resolves once; a rewritten one is read again") {
    spark.catalog.clearCache()
    val fx = tmpDir("graft-evload")
    val src = Tables.load(spark, dir, "events")
    writeFixture(fx, "events", src.limit(100))
    val (first, resolveJobs) = jobsDuring(EventsQueries.events(spark, fx.toString))
    assert(resolveJobs >= 1) // schema inference
    val (again, jobs) = jobsDuring(EventsQueries.events(spark, fx.toString))
    assert(jobs == 0)
    assert(again eq first)
    assert(again.count() == 100)

    writeFixture(fx, "events", src.limit(7))
    val rewritten = EventsQueries.events(spark, fx.toString)
    assert(rewritten.count() == 7)
    assert(rewritten.collect().toSet == src.limit(7).collect().toSet)

    val other = spark.newSession()
    assert(EventsQueries.events(other, fx.toString).sparkSession eq other)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
