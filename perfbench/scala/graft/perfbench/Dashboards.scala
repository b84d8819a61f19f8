package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `dashboards`: one client requests panels in a seeded order, closed
  * loop: the energy panels through `SparkEntry.queries`, rows fully
  * collected, and one similarity-search panel served from the LLM-data
  * corpus index ([[CorpusGate]]). */
object Dashboards {
  /** The 15 reference panels, then 12 backed by operators or fences. */
  val Panels: Seq[String] = Seq(
    "ev_hourly_metrics", "ev_rolling_24h", "ev_daily_summary", "ev_customer_view",
    "ev_channel_performance", "ev_engagement_funnel", "ev_customer_activity",
    "ev_cumulative_adoption", "ev_demand_elasticity", "ev_peak_load",
    "ev_business_kpis", "ev_dynamic_pricing", "ev_ab_framework",
    "ev_validation_summary", "ev_total_error_value",
    "ev_sessionization", "ev_asof_join", "ev_range_join", "ev_stream_interval_join",
    "ev_funnel_sequences", "ev_attribution", "ev_user_ranks", "ev_retention_cohorts",
    "ev_anomaly_mad", "ev_gap_fill", "ev_markov_steady", "ev_ewma_forecast")

  /** The panel answered by `AnnIndexLayout.serve`. */
  val ServePanel = "corpus_ann_serve"

  /** Drop what a panel persisted, as `graft.Bench` does between queries. */
  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One panel request; its op record. The result must reproduce the
    * panel's reference digest. */
  private def panelOnce(spark: SparkSession, run: Run, p: String, want: String,
      op: Long): String = {
    val sc = spark.sparkContext
    val t0 = Clock.nowMs()
    var t1, t2 = 0.0
    var shape = (0, 0)
    val ok = try run.trace.span(sc, "panel", op) {
      val df = run.trace.span(sc, "queries.EventsQueries.construct", op)(
        SparkEntry.queries(p)(spark, run.dataDir))
      t1 = Clock.nowMs()
      run.trace.span(sc, "catalyst.plan", op)(df.queryExecution.executedPlan)
      t2 = Clock.nowMs()
      val rows = run.trace.span(sc, "exec.collect", op)(df.collect())
      if (run.trace.enabled) shape = Plans.shape(df)
      Plans.digest(df.schema.fieldNames.toSeq, rows) == want
    } catch { case scala.util.control.NonFatal(_) => false }
    val t3 = Clock.nowMs()
    release(spark)
    Json.obj("kind" -> "\"panel\"", "op" -> op.toString, "name" -> Json.str(p),
      "start_ms" -> Json.num(t0), "construct_ms" -> Json.num(t1 - t0),
      "plan_ms" -> Json.num(t2 - t1), "exec_ms" -> Json.num(t3 - t2),
      "end_ms" -> Json.num(t3), "plan_lines" -> shape._1.toString,
      "exchanges" -> shape._2.toString, "ok" -> ok.toString)
  }

  def run(spark: SparkSession, run: Run): Unit = {
    val dir = run.dataDir
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"${run.workDir}/oracle_sql.json"),
      Json.obj(Panels.map(p => p -> Json.str(oracle(p))): _*).getBytes(StandardCharsets.UTF_8))
    for (_ <- 0 until 3) run.setupRep(graft.util.Tables.load(spark, dir, "events").count())
    val annQueries = run.setupOnce(CorpusGate.setup(spark, run))
    // warm-up: one whole pass as the client makes it, one request at a
    // time (a pass after a four-thread warm-up still ran ~10% slower than
    // the next); its results are the reference every timed request must
    // reproduce
    val rnd = new scala.util.Random(run.seed)
    val reference = run.setupOnce {
      rnd.shuffle(Panels :+ ServePanel).flatMap { p =>
        if (p == ServePanel) { CorpusGate.serveOnce(spark, run, annQueries, -1L); None }
        else {
          val df = SparkEntry.queries(p)(spark, dir)
          val out = p -> (df.schema, df.collect())
          release(spark)
          Some(out)
        }
      }.toMap
    }
    val refDigest = reference.map { case (p, (s, rows)) => p -> Plans.digest(s.fieldNames.toSeq, rows) }

    // whole passes, each a seeded permutation of every panel, for at
    // least the window: every run measures the same panel mix, where a
    // window cut mid-pass would measure a seed-dependent subset of it
    var order = Iterator[String]()
    var op = 0L
    run.startWindow()
    while (order.hasNext || run.inWindow) {
      if (!order.hasNext) order = rnd.shuffle(Panels :+ ServePanel).iterator
      val p = order.next()
      run.ops += (if (p == ServePanel) CorpusGate.serveOnce(spark, run, annQueries, op)
        else panelOnce(spark, run, p, refDigest(p), op))
      op += 1
    }
    run.endWindow()
    // the reference results go to parquet for the DuckDB oracle check
    inParallel(run.cores, Panels) { p =>
      val (schema, rows) = reference(p)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"${run.workDir}/panels/$p")
    }
  }

  /** `f` over `items` on `threads` client threads. */
  private def inParallel[A](threads: Int, items: Seq[String])(f: String => A): Map[String, A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try items.map(i => i -> pool.submit(() => f(i))).map { case (i, r) => i -> r.get() }.toMap
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}
