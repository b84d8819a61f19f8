package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Tables
import graft.util.Tables._

/** Reference-parity analytics over the driver `events` table.
  *
  * The reference (sejalv/energy-data-stream-processing) computes an hourly
  * 16-metric rollup from a raw event stream (consumer/consumer.py:81-98,
  * 240-293), three SQL views over it (database/schema.sql:64-147) and 11
  * Grafana dashboard queries (monitoring/grafana/dashboards/
  * business-metrics.json). Here the same operator shapes run over the
  * driver-generated `events` table (event_id, ts, user_id, event_type,
  * value, props) with the domain mapping:
  *
  *   customer_id      -> user_id
  *   event_time       -> ts
  *   session_id       -> props.k  (JSON int field)
  *   tariff_switch    -> purchase     (revenue-bearing)
  *   green switch     -> purchase with value >= 100
  *   incentive_claim  -> click
  *   user_login       -> signup
  *   bill_payment     -> view
  *   energy_consumed  -> error       (value = kWh analog)
  *
  * Every public query here has a DuckDB oracle twin; numeric conventions
  * are in [[graft.util.Tables]] (exact decimal sums, epoch-micros time).
  * Every query reads the table through [[events]]: one partition when
  * Spark plans it as one split, resolved once per file version.
  */
object EventsQueries {

  // ---------------------------------------------------------------------
  // Shared building blocks
  // ---------------------------------------------------------------------

  /** The `events` table as every query here reads it: the frame
    * [[Tables.load]] returns, resolved once per file version and, when
    * Spark plans the scan as one split, as `coalesce(1)`.
    *
    * One split: the split count is the planned scan's
    * (`FileSourceScanExec.inputRDD`; driver-only, no job). A
    * `SinglePartition` child satisfies every clustered, ordered and
    * all-tuples distribution, so the planner adds no Exchange above the
    * scan and a panel runs as one stage. No parallelism is lost: a
    * one-split scan is one task already, and under graft.Bench's regime
    * (`parallelismFirst=false`, 64 MB advisory size) AQE coalesced the
    * post-shuffle stages of such an input to one partition anyway; the
    * Exchanges only added a job, a stage and a serialize round each.
    * Column pruning and pushed `ts` filters still reach the scan through
    * the `Coalesce 1`. A multi-split table keeps the shuffled plan.
    * An `Expand` or a `Union` resets the partitioning, so panels built
    * on them still shuffle above it.
    *
    * Once per file version: resolving the relation infers the Parquet
    * schema, one Spark job per call. The frame is kept per (session,
    * directory) and reused while the leaf listing (path, length, mtime)
    * is unchanged; a rewritten table is resolved again. The memo holds
    * plans, not data: nothing enters the cache manager. Entries of a
    * session whose context has stopped are dropped on the next call. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val files = leafFiles(spark, new Path(s"$dir/events.parquet"))
    val key = (spark, dir)
    val hit = Resolved.synchronized {
      Resolved.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      Resolved.get(key).collect { case (seen, ev) if seen == files => ev }
    }
    hit.getOrElse {
      val ev = Tables.load(spark, dir, "events")
      val splits = ev.queryExecution.sparkPlan.collectFirst {
        case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      }
      val out = if (splits.contains(1)) ev.coalesce(1) else ev
      Resolved.synchronized(Resolved(key) = (files, out))
      out
    }
  }

  private type Listing = Seq[(String, Long, Long)]

  private val Resolved =
    scala.collection.mutable.Map[(SparkSession, String), (Listing, DataFrame)]()

  /** (path, length, mtime) of every file under `root`; empty when it
    * does not exist, so [[Tables.load]] reports the missing table. */
  private def leafFiles(spark: SparkSession, root: Path): Listing = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: Path): Listing = fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }
    try walk(root) catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Mid-period split instant (the testdata spans Jan 2024) — ONE
    * definition shared by every pre/post query (ev_business_kpis
    * defaults, ev_user_overlap, ev_cuped) and interpolated into each
    * SQL twin: a drifted copy would silently degenerate one query's
    * pre-period (all-zero x -> NaN theta) while the others kept
    * working. */
  private[graft] val MidPeriod = "2024-01-16"

  /** The Grafana `$__timeFrom/To` surface (SURVEY F5): every dashboard
    * panel takes optional half-open `[from, to)` bounds on raw event
    * time. `None` (the registered default) applies no predicate at
    * all, keeping the oracle row byte-identical; when set, the bounds
    * are plain `ts` comparisons. On engine-written layouts those
    * prune (PlanSpec's PartitionedEvents guard); on raw testdata in
    * the legacy nanos layout the nanos→micros rebuild in Tables.load
    * blocks scan pushdown, so there they evaluate as a codegen'd row
    * filter before the first aggregate (micro-precision layouts push
    * down). Panels that window the hourly rollup filter BEFORE
    * aggregating, like the reference views refreshed under a
    * dashboard time filter. */
  private def timeBounded(ev: DataFrame,
      from: Option[String], to: Option[String]): DataFrame = {
    // fail fast on a malformed bound: lit(bad).cast(timestamp) is null
    // and `ts >= null` filters EVERY row, so a typo'd dashboard range
    // would render an empty panel with no signal the bound was wrong
    def parsed(which: String, s: String): Column = {
      // validate with the SAME parser the cast uses (rejects month 13
      // — Timestamp.valueOf would normalize it to January — while
      // accepting everything Grafana emits: zone-suffixed
      // '...T00:00:00Z', explicit offsets, non-padded '2024-1-5')
      require(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(
            org.apache.spark.unsafe.types.UTF8String.fromString(s),
            java.time.ZoneOffset.UTC).isDefined,
        s"$which bound is not a timestamp: '$s'")
      lit(s).cast(TimestampType)
    }
    val preds =
      from.map(f => col("ts") >= parsed("from", f)).toSeq ++
        to.map(t => col("ts") < parsed("to", t))
    preds.reduceOption(_ && _).map(ev.filter).getOrElse(ev)
  }

  /** Session id lives in the props JSON blob: {"k": <int>}. */
  private val sessionId: Column =
    get_json_object(col("props"), "$.k").cast(IntegerType)

  private val isPurchase = col("event_type") === "purchase"
  private val isClick    = col("event_type") === "click"
  private val isSignup   = col("event_type") === "signup"
  private val isView     = col("event_type") === "view"
  private val isError    = col("event_type") === "error"
  private val isPremium  = isPurchase && col("value") >= 100.0

  /** The hourly rollup with EXACT (decimal/long) metric columns — the
    * analog of `hourly_business_metrics` (reference database/schema.sql:
    * 30-59, maintained by consumer/consumer.py:240-293). Downstream
    * window queries consume these exact columns so sliding-frame math
    * stays order-independent; the user-facing query casts to
    * double/epoch at the end.
    */
  private[graft] def hourlyExact(ev: DataFrame): DataFrame =
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("total_events"),
        countIf(isPurchase).as("purchases"),
        sum(when(isPurchase, col("value").cast(Money))).as("purchase_revenue_dec"),
        countIf(isPremium).as("premium_purchases"),
        countIf(isClick).as("clicks"),
        sum(when(isClick, col("value").cast(Money))).as("click_value_dec"),
        countIf(isSignup).as("signups"),
        count_distinct(when(isSignup, sessionId)).as("new_sessions"),
        countIf(isView).as("views"),
        sum(when(isView, col("value").cast(Money))).as("view_value_dec"),
        sum(when(isError, col("value").cast(Money))).as("error_value_dec"),
        max(when(isError, col("value"))).as("peak_error_value"),
        count_distinct(col("user_id")).as("active_users"))

  /** DuckDB twin of [[hourlyExact]] as a reusable CTE body. */
  private val hourlyCte: String =
    """SELECT date_trunc('hour', ts) AS hour,
      |       count(*) AS total_events,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |       sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS purchase_revenue_dec,
      |       count(CASE WHEN event_type = 'purchase' AND value >= 100.0 THEN 1 END) AS premium_purchases,
      |       count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |       sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(28,6)) END) AS click_value_dec,
      |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
      |       count(DISTINCT CASE WHEN event_type = 'signup' THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS new_sessions,
      |       count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
      |       sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(28,6)) END) AS view_value_dec,
      |       sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(28,6)) END) AS error_value_dec,
      |       max(CASE WHEN event_type = 'error' THEN value END) AS peak_error_value,
      |       count(DISTINCT user_id) AS active_users
      |FROM events
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // A1/A2: the hourly business-metrics rollup (user-facing form)
  // ---------------------------------------------------------------------

  /** SURVEY §2 A1a–A1h: hourly conditional counts/sums, exact distincts,
    * max, and flush-time derived averages (consumer/consumer.py:313-318). */
  def hourlyMetrics(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("total_events"),
        col("purchases"),
        col("purchase_revenue_dec").cast(DoubleType).as("purchase_revenue"),
        col("premium_purchases"),
        col("clicks"),
        col("click_value_dec").cast(DoubleType).as("click_value"),
        col("signups"),
        col("new_sessions"),
        col("views"),
        col("view_value_dec").cast(DoubleType).as("view_value"),
        col("error_value_dec").cast(DoubleType).as("total_error_value"),
        col("peak_error_value"),
        col("active_users"),
        ratio(col("purchase_revenue_dec"), col("purchases")).as("avg_purchase_value"),
        ratio(col("view_value_dec"), col("views")).as("avg_view_value"),
        ratio(col("error_value_dec"), col("active_users")).as("avg_error_per_user"))
      .orderBy(col("hour_us"))

  val hourlyMetricsSql: String =
    s"""WITH hourly AS ($hourlyCte)
       |SELECT epoch_us(hour) AS hour_us,
       |       total_events, purchases,
       |       CAST(purchase_revenue_dec AS DOUBLE) AS purchase_revenue,
       |       premium_purchases, clicks,
       |       CAST(click_value_dec AS DOUBLE) AS click_value,
       |       signups, new_sessions, views,
       |       CAST(view_value_dec AS DOUBLE) AS view_value,
       |       CAST(error_value_dec AS DOUBLE) AS total_error_value,
       |       peak_error_value, active_users,
       |       CAST(purchase_revenue_dec AS DOUBLE) / nullif(CAST(purchases AS DOUBLE), 0.0) AS avg_purchase_value,
       |       CAST(view_value_dec AS DOUBLE) / nullif(CAST(views AS DOUBLE), 0.0) AS avg_view_value,
       |       CAST(error_value_dec AS DOUBLE) / nullif(CAST(active_users AS DOUBLE), 0.0) AS avg_error_per_user
       |FROM hourly
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // W1: rolling_24h_metrics view (database/schema.sql:64-77)
  // ---------------------------------------------------------------------

  /** 24-row rolling averages over the hourly rollup. Sliding AVG is
    * computed as exact SUM over the frame / COUNT over the frame so both
    * engines produce bit-identical doubles (segment-tree vs sequential
    * float summation would not).
    *
    * The unpartitioned window (WindowExec's single-partition warning)
    * is deliberate and bounded: it runs over the PRE-AGGREGATED hourly
    * grain — hours-per-corpus rows (720 at sf0.1, ~9k/decade at any
    * data scale), never raw events — the same §2.6 discipline as
    * hourlyBookends/lengthDeciles. A global hour series has no valid
    * partitioning key; the frame is provably tiny at this point. */
  def rolling24h(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val w = Window.orderBy(col("hour")).rowsBetween(-23, 0)
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(
        col("hour"),
        col("purchases"), col("active_users"), col("error_value_dec"))
      .select(
        epochUs(col("hour")).as("hour_us"),
        (sum(col("purchases")).over(w).cast(DoubleType) /
          count(lit(1)).over(w).cast(DoubleType)).as("avg_purchases_24h"),
        (sum(col("active_users")).over(w).cast(DoubleType) /
          count(lit(1)).over(w).cast(DoubleType)).as("avg_active_users_24h"),
        (sum(col("error_value_dec")).over(w).cast(DoubleType) /
          count(lit(1)).over(w).cast(DoubleType)).as("avg_error_value_24h"))
      .orderBy(col("hour_us"))
  }

  val rolling24hSql: String =
    s"""WITH hourly AS ($hourlyCte)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(sum(purchases) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS avg_purchases_24h,
       |       CAST(sum(active_users) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS avg_active_users_24h,
       |       CAST(sum(error_value_dec) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS avg_error_value_24h
       |FROM hourly
       |WINDOW w AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // A5/X4/F6: daily_energy_summary view (database/schema.sql:81-93)
  // ---------------------------------------------------------------------

  def dailySummary(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("total_events"),
        countIf(isPurchase).as("purchases"),
        dsumIf(isPurchase, col("value")).as("purchase_revenue"),
        dsumIf(isError, col("value")).as("total_error_value"),
        count_distinct(col("user_id")).as("active_users"),
        countIf(isPremium).as("premium_purchases"))
      .orderBy(col("day"))

  val dailySummarySql: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |       count(*) AS total_events,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS purchase_revenue,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS total_error_value,
      |       count(DISTINCT user_id) AS active_users,
      |       count(CASE WHEN event_type = 'purchase' AND value >= 100.0 THEN 1 END) AS premium_purchases
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // A7/A8/J3: customer_view (database/schema.sql:96-147)
  // ---------------------------------------------------------------------

  /** Per-user profile: 13 aggregates + sorted distinct arrays + the
    * correlated-subquery pair (most-recent / second-most-recent purchase)
    * rewritten as a row_number window (SURVEY §2 J3). */
  def customerView(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val ev = timeBounded(events(spark, dir), from, to)

    val profile = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("total_events"),
      count_distinct(sessionId).as("total_sessions"),
      epochUs(min(col("ts"))).as("first_seen_us"),
      epochUs(max(col("ts"))).as("last_seen_us"),
      countIf(isSignup).as("signups"),
      countIf(isView).as("views"),
      countIf(isClick).as("clicks"),
      countIf(isPurchase).as("purchases"),
      countIf(isError).as("errors"),
      coalesce(dsumIf(isPurchase, col("value")), lit(0.0)).as("total_spend"),
      coalesce(dsumIf(isError, col("value")), lit(0.0)).as("total_error_value"),
      epochUs(max(when(isPurchase, col("ts")))).as("last_purchase_us"),
      // joined string, not ArrayType: the driver's compare sorts result
      // frames with pandas, which cannot sort/hash ndarray cells
      array_join(array_sort(collect_set(col("event_type"))), ",")
        .as("event_types_seen"))

    // J3 rewrite: rank purchases per user by recency; rn=1 is the
    // "current plan", rn=2 the previous one (reference LIMIT 1 /
    // LIMIT 1 OFFSET 1 correlated subqueries, database/schema.sql:116-137).
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ranked = ev.filter(isPurchase)
      .select(col("user_id"), col("ts"), col("event_id"), sessionId.as("k"))
      .withColumn("rn", row_number().over(w))
    val current = ranked.filter(col("rn") === 1)
      .select(col("user_id"), col("k").as("current_plan"))
    val previous = ranked.filter(col("rn") === 2)
      .select(col("user_id"), col("k").as("previous_plan"))

    profile
      .join(current, Seq("user_id"), "left")
      .join(previous, Seq("user_id"), "left")
      .orderBy(col("user_id"))
  }

  val customerViewSql: String =
    """WITH ranked AS (
      |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |), profile AS (
      |  SELECT user_id,
      |         count(*) AS total_events,
      |         count(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS total_sessions,
      |         epoch_us(min(ts)) AS first_seen_us,
      |         epoch_us(max(ts)) AS last_seen_us,
      |         count(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
      |         count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
      |         count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |         count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |         coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS total_spend,
      |         coalesce(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS total_error_value,
      |         epoch_us(max(CASE WHEN event_type = 'purchase' THEN ts END)) AS last_purchase_us,
      |         array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types_seen
      |  FROM events
      |  GROUP BY user_id
      |)
      |SELECT p.*, c.k AS current_plan, pr.k AS previous_plan
      |FROM profile p
      |LEFT JOIN (SELECT user_id, k FROM ranked WHERE rn = 1) c USING (user_id)
      |LEFT JOIN (SELECT user_id, k FROM ranked WHERE rn = 2) pr USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // F7/A6: Channel Performance (business-metrics.json:448)
  // ---------------------------------------------------------------------

  /** Per-"channel" (event_type here) rollup with FILTER-style
    * conditional aggregates. */
  def channelPerformance(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .groupBy(col("event_type").as("channel"))
      .agg(
        count(lit(1)).as("events"),
        count_distinct(col("user_id")).as("unique_users"),
        dsumIf(col("value") > 50.0, col("value")).as("high_value_total"),
        countIf(col("value") > 50.0).as("high_value_events"),
        dsum(col("value")).as("total_value"))
      .withColumn("value_per_user",
        ratio(col("total_value"), col("unique_users")))
      .orderBy(col("total_value").desc, col("channel"))

  val channelPerformanceSql: String =
    """SELECT event_type AS channel,
      |       count(*) AS events,
      |       count(DISTINCT user_id) AS unique_users,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE value > 50.0) AS DOUBLE) AS high_value_total,
      |       count(*) FILTER (WHERE value > 50.0) AS high_value_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / nullif(CAST(count(DISTINCT user_id) AS DOUBLE), 0.0) AS value_per_user
      |FROM events
      |GROUP BY 1
      |ORDER BY total_value DESC, channel""".stripMargin

  // ---------------------------------------------------------------------
  // A9: Engagement Funnel (business-metrics.json:352)
  // ---------------------------------------------------------------------

  /** Multi-distinct funnel: distinct users per stage + conversion
    * rates, in one aggregate (Spark plans expand + re-agg). */
  def engagementFunnel(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .agg(
        count_distinct(when(isSignup, col("user_id"))).as("signed_up"),
        count_distinct(when(isView, col("user_id"))).as("viewed"),
        count_distinct(when(isClick, col("user_id"))).as("clicked"),
        count_distinct(when(isPurchase, col("user_id"))).as("purchased"))
      .select(
        col("signed_up"), col("viewed"), col("clicked"), col("purchased"),
        (ratio(col("viewed"), col("signed_up")) * 100.0).as("view_rate_pct"),
        (ratio(col("clicked"), col("viewed")) * 100.0).as("click_rate_pct"),
        (ratio(col("purchased"), col("clicked")) * 100.0).as("purchase_rate_pct"))

  val engagementFunnelSql: String =
    """SELECT signed_up, viewed, clicked, purchased,
      |       CAST(viewed AS DOUBLE) / nullif(CAST(signed_up AS DOUBLE), 0.0) * 100.0 AS view_rate_pct,
      |       CAST(clicked AS DOUBLE) / nullif(CAST(viewed AS DOUBLE), 0.0) * 100.0 AS click_rate_pct,
      |       CAST(purchased AS DOUBLE) / nullif(CAST(clicked AS DOUBLE), 0.0) * 100.0 AS purchase_rate_pct
      |FROM (
      |  SELECT count(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS signed_up,
      |         count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS viewed,
      |         count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS clicked,
      |         count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchased
      |  FROM events
      |)""".stripMargin

  // ---------------------------------------------------------------------
  // J2/O4/O5: Customer Activity funnel (business-metrics.json:576)
  // ---------------------------------------------------------------------

  /** Semi-join (users restricted to those with a signup) + UNION ALL of
    * labelled stage rows. */
  def customerActivity(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val ev = timeBounded(events(spark, dir), from, to)
    val signedUp = ev.filter(isSignup).select(col("user_id")).distinct()
    def stage(label: String, order: Int, pred: Column): DataFrame =
      ev.filter(pred)
        .join(signedUp, Seq("user_id"), "left_semi")
        .agg(count_distinct(col("user_id")).as("users"))
        .select(lit(label).as("stage"), lit(order).as("stage_order"),
          col("users"))
    stage("Signed Up", 1, isSignup)
      .union(stage("Engaged", 2, isClick || isView))
      .union(stage("Converted", 3, isPurchase))
      .orderBy(col("stage_order"))
  }

  val customerActivitySql: String =
    """WITH signed_up AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
      |SELECT 'Signed Up' AS stage, 1 AS stage_order,
      |       count(DISTINCT e.user_id) AS users
      |FROM events e INNER JOIN signed_up s ON e.user_id = s.user_id
      |WHERE e.event_type = 'signup'
      |UNION ALL
      |SELECT 'Engaged', 2, count(DISTINCT e.user_id)
      |FROM events e INNER JOIN signed_up s ON e.user_id = s.user_id
      |WHERE e.event_type IN ('click', 'view')
      |UNION ALL
      |SELECT 'Converted', 3, count(DISTINCT e.user_id)
      |FROM events e INNER JOIN signed_up s ON e.user_id = s.user_id
      |WHERE e.event_type = 'purchase'
      |ORDER BY stage_order""".stripMargin

  // ---------------------------------------------------------------------
  // W2: Green Adoption — cumulative sums (business-metrics.json:806)
  // ---------------------------------------------------------------------

  /** Unpartitioned cumulative window: pre-aggregated hourly grain only
    * (hours-per-corpus rows) — see rolling24h's bounded-frame note. */
  def cumulativeAdoption(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val w = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(col("hour"), col("purchases"), col("premium_purchases"))
      .select(
        epochUs(col("hour")).as("hour_us"),
        sum(col("purchases")).over(w).as("cumulative_purchases"),
        sum(col("premium_purchases")).over(w).as("cumulative_premium"))
      .orderBy(col("hour_us"))
  }

  val cumulativeAdoptionSql: String =
    s"""WITH hourly AS ($hourlyCte)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(sum(purchases) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_purchases,
       |       CAST(sum(premium_purchases) OVER (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_premium
       |FROM hourly
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // W3: Demand Elasticity — LAG + pct change (business-metrics.json:945)
  // ---------------------------------------------------------------------

  /** Unpartitioned LAG window: pre-aggregated hourly grain only — see
    * rolling24h's bounded-frame note. */
  def demandElasticity(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val w = Window.orderBy(col("hour"))
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(col("hour"), col("error_value_dec"))
      .select(
        col("hour"),
        col("error_value_dec"),
        lag(col("error_value_dec"), 1).over(w).as("prev_dec"))
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("error_value_dec").cast(DoubleType).as("error_value"),
        col("prev_dec").cast(DoubleType).as("prev_error_value"),
        ((col("error_value_dec").cast(DoubleType) -
          col("prev_dec").cast(DoubleType)) /
          nullif(col("prev_dec").cast(DoubleType), lit(0.0)) * 100.0)
          .as("pct_change"))
      .orderBy(col("hour_us"))
  }

  val demandElasticitySql: String =
    s"""WITH hourly AS ($hourlyCte),
       |lagged AS (
       |  SELECT hour, error_value_dec,
       |         lag(error_value_dec, 1) OVER (ORDER BY hour) AS prev_dec
       |  FROM hourly
       |)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(error_value_dec AS DOUBLE) AS error_value,
       |       CAST(prev_dec AS DOUBLE) AS prev_error_value,
       |       (CAST(error_value_dec AS DOUBLE) - CAST(prev_dec AS DOUBLE))
       |         / nullif(CAST(prev_dec AS DOUBLE), 0.0) * 100.0 AS pct_change
       |FROM lagged
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // X5: Peak Load by hour-of-day / day-of-week (business-metrics.json:1062)
  // ---------------------------------------------------------------------

  /** Postgres EXTRACT(dow) is 0=Sunday; Spark dayofweek is 1=Sunday, so
    * subtract 1 for oracle parity (SURVEY §7.1 quirk 8). */
  def peakLoad(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .groupBy(
        hour(col("ts")).as("hour_of_day"),
        (dayofweek(col("ts")) - 1).as("day_of_week"))
      .agg(
        count(lit(1)).as("events"),
        dsumIf(isError, col("value")).as("error_value"),
        count_distinct(col("user_id")).as("active_users"))
      .orderBy(col("hour_of_day"), col("day_of_week"))

  val peakLoadSql: String =
    """SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_of_day,
      |       CAST(EXTRACT(dow FROM ts) AS INTEGER) AS day_of_week,
      |       count(*) AS events,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS error_value,
      |       count(DISTINCT user_id) AS active_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_of_day, day_of_week""".stripMargin

  // ---------------------------------------------------------------------
  // A4/J1/X12: Business KPIs — current vs previous period
  // (business-metrics.json:140)
  // ---------------------------------------------------------------------

  /** Two one-row filtered aggregates cross-joined, with growth
    * percentages. The period bounds are parameters — the reference's
    * dashboard injects them per panel refresh (Grafana $__timeFrom/To,
    * business-metrics.json:140) — defaulting to the 2024-01 data span
    * so the registered query stays oracle-deterministic. `prevFrom`
    * sets the comparison window [prevFrom, curFrom). */
  def businessKpis(spark: SparkSession, dir: String,
      prevFrom: String = "2024-01-01",
      curFrom: String = MidPeriod,
      curTo: String = "2024-02-01"): DataFrame = {
    val ev = events(spark, dir)
    def period(from: String, to: String, prefix: String): DataFrame =
      ev.filter(col("ts") >= lit(from).cast(TimestampType) &&
          col("ts") < lit(to).cast(TimestampType))
        .agg(
          dsumIf(isPurchase, col("value")).as(s"${prefix}_revenue"),
          count_distinct(col("user_id")).as(s"${prefix}_users"),
          countIf(isPurchase).as(s"${prefix}_purchases"))
    val cur = period(curFrom, curTo, "cur")
    val prev = period(prevFrom, curFrom, "prev")
    cur.crossJoin(prev).select(
      col("cur_revenue"), col("prev_revenue"),
      ((col("cur_revenue") - col("prev_revenue")) /
        nullif(col("prev_revenue"), lit(0.0)) * 100.0).as("revenue_growth_pct"),
      col("cur_users"), col("prev_users"),
      ((col("cur_users").cast(DoubleType) - col("prev_users").cast(DoubleType)) /
        nullif(col("prev_users").cast(DoubleType), lit(0.0)) * 100.0)
        .as("user_growth_pct"),
      col("cur_purchases"), col("prev_purchases"))
  }

  val businessKpisSql: String =
    s"""WITH cur AS (
      |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS cur_revenue,
      |         count(DISTINCT user_id) AS cur_users,
      |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS cur_purchases
      |  FROM events WHERE ts >= TIMESTAMP '$MidPeriod' AND ts < TIMESTAMP '2024-02-01'
      |), prev AS (
      |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS prev_revenue,
      |         count(DISTINCT user_id) AS prev_users,
      |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS prev_purchases
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '$MidPeriod'
      |)
      |SELECT cur_revenue, prev_revenue,
      |       (cur_revenue - prev_revenue) / nullif(prev_revenue, 0.0) * 100.0 AS revenue_growth_pct,
      |       cur_users, prev_users,
      |       (CAST(cur_users AS DOUBLE) - CAST(prev_users AS DOUBLE)) / nullif(CAST(prev_users AS DOUBLE), 0.0) * 100.0 AS user_growth_pct,
      |       cur_purchases, prev_purchases
      |FROM cur, prev""".stripMargin

  // ---------------------------------------------------------------------
  // W4/W5: Dynamic Pricing — seasonal baseline + PERCENT_RANK
  // (business-metrics.json:1179)
  // ---------------------------------------------------------------------

  /** 14-sample same-hour-of-day rolling baseline (partitioned ROWS frame)
    * + revenue percentile. The percentile's unpartitioned window runs
    * over the pre-aggregated hourly grain only — see rolling24h's
    * bounded-frame note. */
  def dynamicPricing(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame = {
    val seasonal = Window.partitionBy(hour(col("hour")))
      .orderBy(col("hour")).rowsBetween(-13, 0)
    val pr = Window.orderBy(col("purchase_revenue_dec").asc_nulls_first)
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(col("hour"), col("purchase_revenue_dec"))
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("purchase_revenue_dec").cast(DoubleType).as("revenue"),
        (sum(col("purchase_revenue_dec")).over(seasonal).cast(DoubleType) /
          count(lit(1)).over(seasonal).cast(DoubleType))
          .as("seasonal_baseline"),
        percent_rank().over(pr).as("revenue_percentile"))
      .orderBy(col("hour_us"))
  }

  val dynamicPricingSql: String =
    s"""WITH hourly AS ($hourlyCte)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(purchase_revenue_dec AS DOUBLE) AS revenue,
       |       CAST(sum(purchase_revenue_dec) OVER sw AS DOUBLE)
       |         / CAST(count(*) OVER sw AS DOUBLE) AS seasonal_baseline,
       |       percent_rank() OVER (ORDER BY purchase_revenue_dec ASC NULLS FIRST) AS revenue_percentile
       |FROM hourly
       |WINDOW sw AS (PARTITION BY EXTRACT(hour FROM hour) ORDER BY hour ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // F8: A/B Framework — CASE-driven segmentation (business-metrics.json:1392)
  // ---------------------------------------------------------------------

  def abFramework(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .withColumn("segment",
        when(col("user_id") % 3 === 0, "control")
          .when(col("user_id") % 3 === 1, "variant_a")
          .otherwise("variant_b"))
      .groupBy(col("segment"))
      .agg(
        count_distinct(col("user_id")).as("users"),
        countIf(isPurchase).as("purchases"),
        dsumIf(isPurchase, col("value")).as("revenue"),
        (ratio(countIf(isPurchase), count_distinct(col("user_id"))))
          .as("purchases_per_user"))
      .orderBy(col("segment"))

  val abFrameworkSql: String =
    """SELECT CASE WHEN user_id % 3 = 0 THEN 'control'
      |            WHEN user_id % 3 = 1 THEN 'variant_a'
      |            ELSE 'variant_b' END AS segment,
      |       count(DISTINCT user_id) AS users,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS revenue,
      |       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE)
      |         / nullif(CAST(count(DISTINCT user_id) AS DOUBLE), 0.0) AS purchases_per_user
      |FROM events
      |GROUP BY 1
      |ORDER BY segment""".stripMargin

  // ---------------------------------------------------------------------
  // ev_ab_srm: sample-ratio-mismatch guardrail for the A/B assignment
  // ---------------------------------------------------------------------

  /** χ² critical value for df=2 at α=0.05 — interpolated into BOTH
    * engines. */
  private val SrmChi2Crit = 5.991

  /** Sample-ratio mismatch check: the experimentation guardrail run
    * BEFORE reading any metric from [[abFramework]] — if the three
    * equal-probability arms (user_id % 3) show user counts whose χ²
    * against the uniform expectation clears the df=2 critical value,
    * the assignment itself is broken (redirect bugs, bot filtering,
    * logging loss) and every downstream lift number is invalid.
    *
    * Scale shape: one distinct-user aggregate (the same reduction
    * abFramework pays), then 3-row arithmetic under a scalar window.
    * Determinism: counts are exact; (o−e)·(o−e)/e is written in the
    * same association order in both engines. */
  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Window.partitionBy(lit(1))
    // anchor on the full arm list: an arm with ZERO users — the
    // canonical dead-arm SRM failure — must still contribute its
    // (0−e)²/e term, the largest in the statistic; deriving arms only
    // from present data would silently drop it and under-count chi²
    val arms = Seq("control", "variant_a", "variant_b").toDF("segment")
    val seg = arms.join(
      events(spark, dir)
        .select(col("user_id"))
        .distinct()
        .withColumn("segment",
          when(col("user_id") % 3 === 0, "control")
            .when(col("user_id") % 3 === 1, "variant_a")
            .otherwise("variant_b"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("users0")),
      Seq("segment"), "left")
      .select(col("segment"), coalesce(col("users0"), lit(0L)).as("users"))
    val expected = sum(col("users")).over(all).cast(DoubleType) / 3.0
    val contrib = (col("users").cast(DoubleType) - col("expected")) *
      (col("users").cast(DoubleType) - col("expected")) / col("expected")
    seg
      .withColumn("expected", expected)
      .withColumn("chi2_contrib", contrib)
      // micro-quantized total: a double window-sum over 3 rows folds
      // in engine-dependent row order (last-ulp drift); int64 is
      // order-free
      .withColumn("chi2_total_micro",
        sum(round(col("chi2_contrib") * 1e6).cast(LongType)).over(all))
      .select(col("segment"), col("users"), col("expected"),
        col("chi2_contrib"), col("chi2_total_micro"),
        when(col("chi2_total_micro") >
          math.round(SrmChi2Crit * 1e6), lit(1L)).otherwise(lit(0L))
          .as("srm_flag"))
      .orderBy(col("segment"))
  }

  val abSrmSql: String =
    s"""WITH arms(segment) AS (VALUES ('control'), ('variant_a'), ('variant_b')),
       |seg0 AS (
       |  SELECT CASE WHEN user_id % 3 = 0 THEN 'control'
       |              WHEN user_id % 3 = 1 THEN 'variant_a'
       |              ELSE 'variant_b' END AS segment,
       |         count(*) AS users0
       |  FROM (SELECT DISTINCT user_id FROM events)
       |  GROUP BY 1),
       |seg AS (
       |  SELECT a.segment, CAST(COALESCE(s.users0, 0) AS BIGINT) AS users
       |  FROM arms a LEFT JOIN seg0 s ON a.segment = s.segment),
       |ex AS (
       |  SELECT segment, users,
       |         CAST(sum(users) OVER () AS DOUBLE) / 3.0 AS expected
       |  FROM seg),
       |chi AS (
       |  SELECT segment, users, expected,
       |         (CAST(users AS DOUBLE) - expected)
       |           * (CAST(users AS DOUBLE) - expected) / expected
       |           AS chi2_contrib
       |  FROM ex)
       |SELECT segment, users, expected, chi2_contrib,
       |       CAST(sum(CAST(round(chi2_contrib * 1e6) AS BIGINT)) OVER ()
       |            AS BIGINT) AS chi2_total_micro,
       |       CAST(CASE WHEN sum(CAST(round(chi2_contrib * 1e6) AS BIGINT))
       |                      OVER () > ${math.round(SrmChi2Crit * 1e6)}
       |                 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
       |FROM chi
       |ORDER BY segment""".stripMargin

  // ---------------------------------------------------------------------
  // ev_power_analysis: MDE + required sample size for the A/B framework
  // ---------------------------------------------------------------------

  /** z-quantiles (two-sided α=0.05, power=0.80) — shared literals. */
  private val Z975 = 1.959964
  private val Z80 = 0.841621

  // Shared experiment scaffolding (powerAnalysis + did): the
  // control/variant_a event base with its arm tag, the exact-cent
  // conditional revenue aggregate, and the 2-row->1-row arm pivot.
  // ONE definition each so the two causal queries can never drift on
  // arm assignment or the cents rounding convention.
  private def armEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id") % 3 <= 1) // control + variant_a
      .withColumn("arm", when(col("user_id") % 3 === 0, "control")
        .otherwise("variant_a"))

  private def centsIf(p: Column): Column =
    round(sum(when(p, col("value").cast(Tables.Money))
      .otherwise(lit(0).cast(Tables.Money))) * 100).cast(LongType)

  private def armPivot(byArm: DataFrame, vals: Seq[String]): DataFrame = {
    val aggs = vals.flatMap(v => Seq(
      max(when(col("arm") === "control", col(v))).as(s"${v}_c"),
      max(when(col("arm") === "variant_a", col(v))).as(s"${v}_v")))
    byArm.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** Experiment power pre-flight: from the control vs variant_a
    * per-user revenue distributions, the minimum detectable effect at
    * the CURRENT sample size (α=0.05 two-sided, 80% power) and the
    * per-arm n required to detect a 5% lift of the control mean —
    * what an experimenter consults before launching, and after SRM
    * ([[abSrm]]) clears the assignment.
    *
    * Scale shape: one pass to per-user exact-cent revenue (the
    * customer-grain reduction), then two 1-row moment aggregates;
    * everything downstream is scalar arithmetic. Determinism: sums
    * and sums-of-squares are exact int64 cents; every double op after
    * is written in the same association order in both engines. */
  def powerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val perUser = armEvents(spark, dir)
      .groupBy(col("user_id"), col("arm"))
      .agg(centsIf(isPurchase).as("cents"))
    val m = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
    val wide = armPivot(m, Seq("n", "s1", "s2"))
    val meanC = col("s1_c").cast(DoubleType) / col("n_c").cast(DoubleType) / 100.0
    // corrected sum of squares per arm (dollars²); pooled variance is
    // (ss_c + ss_v)/(n_c + n_v − 2) directly — no per-arm variance
    // detour whose (n−1) factors cancel
    def ss(s2: Column, s1: Column, n: Column): Column =
      (s2.cast(DoubleType) -
        s1.cast(DoubleType) * s1.cast(DoubleType) / n.cast(DoubleType)) /
        10000.0
    val varP = (ss(col("s2_c"), col("s1_c"), col("n_c")) +
      ss(col("s2_v"), col("s1_v"), col("n_v"))) /
      (col("n_c").cast(DoubleType) + col("n_v").cast(DoubleType) - 2.0)
    val zsum = Z975 + Z80
    val mdeAbs = lit(zsum) *
      sqrt(varP * (lit(1.0) / col("n_c").cast(DoubleType) +
        lit(1.0) / col("n_v").cast(DoubleType)))
    val delta5 = meanC * 0.05
    val nReq = ceil(lit(2.0 * zsum * zsum) * varP / (delta5 * delta5))
      .cast(LongType)
    wide.select(
      col("n_c"), col("n_v"),
      meanC.as("mean_control"),
      varP.as("var_pooled"),
      mdeAbs.as("mde_abs"),
      (mdeAbs / meanC).as("mde_rel"),
      nReq.as("n_required_5pct"))
  }

  val powerAnalysisSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         CAST(round(sum(CASE WHEN event_type = 'purchase'
       |                             THEN CAST(value AS DECIMAL(28,6))
       |                             ELSE CAST(0 AS DECIMAL(28,6)) END) * 100)
       |              AS BIGINT) AS cents,
       |         CASE WHEN user_id % 3 = 0 THEN 'control'
       |              ELSE 'variant_a' END AS arm
       |  FROM events WHERE user_id % 3 <= 1
       |  GROUP BY user_id),
       |m AS (
       |  SELECT arm, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s1,
       |         CAST(sum(cents * cents) AS BIGINT) AS s2
       |  FROM per_user GROUP BY arm),
       |wide AS (
       |  SELECT max(CASE WHEN arm = 'control' THEN n END) AS n_c,
       |         max(CASE WHEN arm = 'control' THEN s1 END) AS s1_c,
       |         max(CASE WHEN arm = 'control' THEN s2 END) AS s2_c,
       |         max(CASE WHEN arm = 'variant_a' THEN n END) AS n_v,
       |         max(CASE WHEN arm = 'variant_a' THEN s1 END) AS s1_v,
       |         max(CASE WHEN arm = 'variant_a' THEN s2 END) AS s2_v
       |  FROM m),
       |vp AS (
       |  SELECT n_c, n_v,
       |         CAST(s1_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0 AS mean_control,
       |         ((CAST(s2_c AS DOUBLE) - CAST(s1_c AS DOUBLE) * CAST(s1_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / 10000.0
       |          + (CAST(s2_v AS DOUBLE) - CAST(s1_v AS DOUBLE) * CAST(s1_v AS DOUBLE) / CAST(n_v AS DOUBLE)) / 10000.0)
       |           / (CAST(n_c AS DOUBLE) + CAST(n_v AS DOUBLE) - 2.0) AS var_pooled
       |  FROM wide),
       |mde AS (
       |  SELECT n_c, n_v, mean_control, var_pooled,
       |         ${Z975 + Z80} * sqrt(var_pooled *
       |           (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_v AS DOUBLE)))
       |           AS mde_abs
       |  FROM vp)
       |SELECT n_c, n_v, mean_control, var_pooled, mde_abs,
       |       mde_abs / mean_control AS mde_rel,
       |       CAST(ceil(${2.0 * (Z975 + Z80) * (Z975 + Z80)} * var_pooled
       |         / ((mean_control * 0.05) * (mean_control * 0.05)))
       |         AS BIGINT) AS n_required_5pct
       |FROM mde""".stripMargin

  // ---------------------------------------------------------------------
  // ev_cuped: CUPED variance reduction for experiment metrics
  // ---------------------------------------------------------------------

  /** Pre/post split instant — [[MidPeriod]], the shared literal. */
  private val CupedSplit = MidPeriod

  /** CUPED (Deng et al. 2013): reduce experiment-metric variance with
    * the pre-period covariate — ŷ = y − θ(x − x̄), θ = cov(x,y)/var(x),
    * which shrinks metric variance by exactly the squared pre/post
    * correlation. The published numbers are the ones an experimenter
    * needs to size the win: θ, the raw and adjusted variances, the
    * reduction, and the correlation it derives from.
    *
    * Scale shape: ONE user-grain reduction (conditional sums split on
    * the literal instant), then a single 6-moment aggregate —
    * everything after is scalar. Determinism: all moments are exact
    * int64 cents (x·y ≤ 10¹² per user); the closed-form doubles are
    * written in the same association order in both engines. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val split = lit(CupedSplit).cast(TimestampType)
    val perUser = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        round(sum(when(isPurchase && col("ts") < split,
          col("value").cast(Tables.Money)).otherwise(lit(0).cast(Tables.Money)))
          * 100).cast(LongType).as("x"),
        round(sum(when(isPurchase && col("ts") >= split,
          col("value").cast(Tables.Money)).otherwise(lit(0).cast(Tables.Money)))
          * 100).cast(LongType).as("y"))
    val m = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String): Column = col(c).cast(DoubleType)
    // corrected sums (cents²) -> dollars² via /1e4; n-1 denominators
    val cxx = (d("sxx") - d("sx") * d("sx") / d("n")) / (d("n") - 1.0) / 10000.0
    val cyy = (d("syy") - d("sy") * d("sy") / d("n")) / (d("n") - 1.0) / 10000.0
    val cxy = (d("sxy") - d("sx") * d("sy") / d("n")) / (d("n") - 1.0) / 10000.0
    val theta = cxy / cxx
    val varCuped = cyy - cxy * cxy / cxx
    m.select(
      col("n").as("n_users"),
      theta.as("theta"),
      cyy.as("var_raw"),
      varCuped.as("var_cuped"),
      (lit(1.0) - varCuped / cyy).as("var_reduction"),
      (cxy / sqrt(cxx * cyy)).as("pre_post_corr"))
  }

  val cupedSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         CAST(round(sum(CASE WHEN event_type = 'purchase'
       |                              AND ts < TIMESTAMP '$CupedSplit'
       |                             THEN CAST(value AS DECIMAL(28,6))
       |                             ELSE CAST(0 AS DECIMAL(28,6)) END) * 100)
       |              AS BIGINT) AS x,
       |         CAST(round(sum(CASE WHEN event_type = 'purchase'
       |                              AND ts >= TIMESTAMP '$CupedSplit'
       |                             THEN CAST(value AS DECIMAL(28,6))
       |                             ELSE CAST(0 AS DECIMAL(28,6)) END) * 100)
       |              AS BIGINT) AS y
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM per_user),
       |c AS (
       |  SELECT n,
       |         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cxx,
       |         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cyy,
       |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cxy
       |  FROM m)
       |SELECT n AS n_users,
       |       cxy / cxx AS theta,
       |       cyy AS var_raw,
       |       cyy - cxy * cxy / cxx AS var_cuped,
       |       1.0 - (cyy - cxy * cxy / cxx) / cyy AS var_reduction,
       |       cxy / sqrt(cxx * cyy) AS pre_post_corr
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // ev_did: difference-in-differences over the pre/post × arm grid
  // ---------------------------------------------------------------------

  /** Difference-in-differences: the 2×2 (arm × period) per-user mean
    * revenue grid around [[MidPeriod]] and the DiD estimate
    * (Δvariant − Δcontrol) — the causal read when assignment isn't
    * randomized or a pre-period trend confounds the naive delta;
    * closes the experimentation toolkit next to [[abSrm]],
    * [[powerAnalysis]] and [[cuped]].
    *
    * Scale shape: one user-grain reduction with conditional exact-cent
    * sums, then a 2-row arm aggregate pivoted to one scalar row.
    * Determinism: every mean is exact-int64 cents over an exact user
    * count; the estimate subtracts four deterministic doubles in a
    * fixed order. */
  def did(spark: SparkSession, dir: String): DataFrame = {
    val split = lit(MidPeriod).cast(TimestampType)
    val perUser = armEvents(spark, dir)
      .groupBy(col("user_id"), col("arm"))
      .agg(centsIf(isPurchase && col("ts") < split).as("pre"),
        centsIf(isPurchase && col("ts") >= split).as("post"))
    val byArm = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("pre")).as("sp"),
        sum(col("post")).as("so"))
    def mean(s: String, n: String): Column =
      col(s).cast(DoubleType) / col(n).cast(DoubleType) / 100.0
    armPivot(byArm, Seq("n", "sp", "so"))
      .select(
        col("n_c"), col("n_v"),
        mean("sp_c", "n_c").as("control_pre"),
        mean("so_c", "n_c").as("control_post"),
        mean("sp_v", "n_v").as("variant_pre"),
        mean("so_v", "n_v").as("variant_post"),
        ((mean("so_v", "n_v") - mean("sp_v", "n_v")) -
          (mean("so_c", "n_c") - mean("sp_c", "n_c"))).as("did"))
  }

  val didSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |         CAST(round(sum(CASE WHEN event_type = 'purchase'
       |                              AND ts < TIMESTAMP '$MidPeriod'
       |                             THEN CAST(value AS DECIMAL(28,6))
       |                             ELSE CAST(0 AS DECIMAL(28,6)) END) * 100)
       |              AS BIGINT) AS pre,
       |         CAST(round(sum(CASE WHEN event_type = 'purchase'
       |                              AND ts >= TIMESTAMP '$MidPeriod'
       |                             THEN CAST(value AS DECIMAL(28,6))
       |                             ELSE CAST(0 AS DECIMAL(28,6)) END) * 100)
       |              AS BIGINT) AS post,
       |         CASE WHEN user_id % 3 = 0 THEN 'control'
       |              ELSE 'variant_a' END AS arm
       |  FROM events WHERE user_id % 3 <= 1
       |  GROUP BY user_id),
       |by_arm AS (
       |  SELECT arm, count(*) AS n, CAST(sum(pre) AS BIGINT) AS sp,
       |         CAST(sum(post) AS BIGINT) AS so
       |  FROM per_user GROUP BY arm),
       |wide AS (
       |  SELECT max(CASE WHEN arm = 'control' THEN n END) AS n_c,
       |         max(CASE WHEN arm = 'control' THEN sp END) AS sp_c,
       |         max(CASE WHEN arm = 'control' THEN so END) AS so_c,
       |         max(CASE WHEN arm = 'variant_a' THEN n END) AS n_v,
       |         max(CASE WHEN arm = 'variant_a' THEN sp END) AS sp_v,
       |         max(CASE WHEN arm = 'variant_a' THEN so END) AS so_v
       |  FROM by_arm)
       |SELECT n_c, n_v,
       |       CAST(sp_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0 AS control_pre,
       |       CAST(so_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0 AS control_post,
       |       CAST(sp_v AS DOUBLE) / CAST(n_v AS DOUBLE) / 100.0 AS variant_pre,
       |       CAST(so_v AS DOUBLE) / CAST(n_v AS DOUBLE) / 100.0 AS variant_post,
       |       ((CAST(so_v AS DOUBLE) / CAST(n_v AS DOUBLE) / 100.0
       |         - CAST(sp_v AS DOUBLE) / CAST(n_v AS DOUBLE) / 100.0)
       |        - (CAST(so_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0
       |           - CAST(sp_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0)) AS did
       |FROM wide""".stripMargin

  // ---------------------------------------------------------------------
  // F1–F4: validation / dead-letter classification (producer/producer.py:
  // 55-67, consumer/consumer.py:64-123)
  // ---------------------------------------------------------------------

  /** Row-level validation as a CASE cascade; the reference routes
    * invalid rows to an error log with a reason — here we surface the
    * reason histogram (the dead-letter *sink* is exercised in the
    * streaming pipeline + its spec). */
  def validationSummary(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    timeBounded(events(spark, dir), from, to)
      .withColumn("reason",
        when(col("event_type").isNull ||
          length(trim(col("event_type"))) === 0, "missing_event_type")
          .when(col("ts").isNull, "invalid_event_time")
          .when(col("user_id").isNull, "missing_user")
          .when(!col("event_type").isin(
            "click", "purchase", "error", "signup", "view"), "unknown_type")
          .when(col("value") < 0.0, "negative_value")
          .otherwise("valid"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("reason"))

  val validationSummarySql: String =
    """SELECT CASE WHEN event_type IS NULL OR length(trim(event_type)) = 0 THEN 'missing_event_type'
      |            WHEN ts IS NULL THEN 'invalid_event_time'
      |            WHEN user_id IS NULL THEN 'missing_user'
      |            WHEN event_type NOT IN ('click','purchase','error','signup','view') THEN 'unknown_type'
      |            WHEN value < 0.0 THEN 'negative_value'
      |            ELSE 'valid' END AS reason,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1
      |ORDER BY reason""".stripMargin

  // ---------------------------------------------------------------------
  // Total "energy" over time — plain projection + sort
  // (business-metrics.json Total Energy panel)
  // ---------------------------------------------------------------------

  def totalErrorValue(spark: SparkSession, dir: String,
      from: Option[String] = None, to: Option[String] = None): DataFrame =
    hourlyExact(timeBounded(events(spark, dir), from, to))
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("error_value_dec").cast(DoubleType).as("total_error_value"),
        col("peak_error_value"))
      .orderBy(col("hour_us"))

  val totalErrorValueSql: String =
    s"""WITH hourly AS ($hourlyCte)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(error_value_dec AS DOUBLE) AS total_error_value,
       |       peak_error_value
       |FROM hourly
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // Sessionization: gap-based sessions, relational formulation
  // ---------------------------------------------------------------------

  /** 30-min-gap sessions per user via lag + running flag-sum — the
    * window-function twin of the typed custom-state operator
    * [[graft.operators.Sessionize]] (equivalence asserted in
    * SessionizeSpec). Exact integer time arithmetic (epoch micros)
    * keeps both engines bit-identical. */
  def sessionization(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val running = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(order) > gapUs, 1L)
          .otherwise(when(lag(col("ts_us"), 1).over(order).isNull, 1L)
            .otherwise(0L)))
      .withColumn("session_no", sum(col("new_sess")).over(running))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_no"))
  }

  val sessionizationSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
      |              THEN 1
      |              WHEN lag(epoch_us(ts), 1)
      |                OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts_us,
      |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no,
      |       min(ts_us) AS start_us,
      |       max(ts_us) AS end_us,
      |       count(*) AS n_events,
      |       max(ts_us) - min(ts_us) AS duration_us
      |FROM numbered
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  // ---------------------------------------------------------------------
  // Sketch variant: HLL++ approximate distincts (the 100 TB path)
  // ---------------------------------------------------------------------

  /** [[hourlyMetrics]] with approx_count_distinct (HyperLogLog++,
    * rsd=0.5%) replacing the exact distincts. At cluster scale the
    * exact per-hour distinct forces an expand + second shuffle keyed by
    * (hour, user) / (hour, session); the sketch is one pass, one
    * shuffle, constant memory per group. No DuckDB oracle (sketch
    * estimates aren't cross-engine reproducible) — the spec bounds its
    * error against the exact query instead. */
  def hourlyMetricsApprox(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("total_events"),
        countIf(isPurchase).as("purchases"),
        sum(when(isPurchase, col("value").cast(Money))).cast(DoubleType)
          .as("purchase_revenue"),
        approx_count_distinct(when(isSignup, sessionId), 0.005)
          .as("new_sessions_approx"),
        approx_count_distinct(col("user_id"), 0.005).as("active_users_approx"))
      .select(epochUs(col("hour")).as("hour_us"), col("total_events"),
        col("purchases"), col("purchase_revenue"),
        col("new_sessions_approx"), col("active_users_approx"))
      .orderBy(col("hour_us"))

  // ---------------------------------------------------------------------
  // As-of join: enrich purchases with the error state in effect
  // ---------------------------------------------------------------------

  /** For every purchase, the `value` of the most recent PRIOR error by
    * the same user (null if none yet) — the classic as-of enrichment
    * shape ("sensor reading in effect at transaction time"). Runs on
    * [[graft.operators.AsofJoin]]: one shuffle on user_id, a single
    * ordered sweep per user, no range-join explosion. Oracle: DuckDB's
    * native ASOF LEFT JOIN. */
  def asofLastError(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(isPurchase)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val errors = ev.filter(isError)
      .select(col("user_id"), col("ts"), col("value").as("last_error_value"))
    graft.operators.AsofJoin.backward(purchases, errors, "user_id", "ts")
      .select(col("event_id"), col("user_id"), epochUs(col("ts")).as("ts_us"),
        col("value"), col("last_error_value"))
      .orderBy(col("event_id"))
  }

  val asofLastErrorSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT user_id, ts, value AS last_error_value FROM events WHERE event_type = 'error')
      |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value, e.last_error_value
      |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------------
  // ROLLUP: day x event_type hierarchy with subtotals + grand total
  // ---------------------------------------------------------------------

  /** Multi-level aggregate via ROLLUP(day, event_type) — per-(day,type)
    * cells, per-day subtotals, grand total in ONE pass (Spark expands
    * the grouping sets before the single shuffle; no re-scan per
    * level). `gid` encodes the level exactly like grouping_id(): 0 =
    * cell, 1 = day subtotal, 3 = grand total; computed from the
    * null pattern (source cols are never null) so both engines use the
    * identical expression. */
  def typeRollup(spark: SparkSession, dir: String): DataFrame = {
    val gid = when(col("d").isNull && col("event_type").isNull, 3L)
      .when(col("event_type").isNull, 1L).otherwise(0L)
    events(spark, dir)
      .select(to_date(col("ts")).cast(StringType).as("d"),
        col("event_type"), col("value"))
      .rollup(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(gid.as("gid"), coalesce(col("d"), lit("ALL")).as("d"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("gid"), col("d"), col("event_type"))
  }

  val typeRollupSql: String =
    """WITH ev AS (
      |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type, value FROM events)
      |SELECT CASE WHEN d IS NULL AND event_type IS NULL THEN 3
      |            WHEN event_type IS NULL THEN 1 ELSE 0 END AS gid,
      |       COALESCE(d, 'ALL') AS d,
      |       COALESCE(event_type, 'ALL') AS event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM ev
      |GROUP BY ROLLUP(d, event_type)
      |ORDER BY gid, d, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Range join: error events within +/-5 min of each purchase
  // ---------------------------------------------------------------------

  /** Band range join on [[graft.operators.RangeJoin]]: (purchase, error)
    * pairs for the same user within a 5-minute band — proximity
    * enrichment ("errors around the transaction"). Bucketed equi-join,
    * not a theta join: 3x replication of the smaller side bounds the
    * shuffle; the exact |dt| predicate filters candidates. */
  def rangeJoinErrors(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 5L * 60 * 1000000
    val ev = events(spark, dir)
    val purchases = ev.filter(isPurchase)
      .select(col("event_id").as("p_id"), col("user_id"),
        epochUs(col("ts")).as("t_us"))
    val errors = ev.filter(isError)
      .select(col("event_id").as("e_id"), col("user_id"),
        epochUs(col("ts")).as("t_us"), col("value").as("e_value"))
    graft.operators.RangeJoin
      .withinTolerance(purchases, errors, "user_id", "t_us", tolUs)
      .select(col("p_id"), col("e_id"), col("user_id"),
        (col("t_us") - col("t_us_left")).as("dt_us"), col("e_value"))
      .orderBy(col("p_id"), col("e_id"))
  }

  val rangeJoinErrorsSql: String =
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_us, value AS e_value
      |  FROM events WHERE event_type = 'error')
      |SELECT p.p_id, e.e_id, p.user_id, e.e_us - p.p_us AS dt_us, e.e_value
      |FROM p JOIN e ON p.user_id = e.user_id
      |              AND abs(e.e_us - p.p_us) <= 300000000
      |ORDER BY p_id, e_id""".stripMargin

  // ---------------------------------------------------------------------
  // Stream-shaped interval join: errors in the 10 min after a purchase
  // ---------------------------------------------------------------------

  /** Batch twin of the watermarked stream-stream interval join
    * ([[graft.operators.IntervalJoin]]): (purchase, error) pairs for
    * the same user with the error in `[p_ts, p_ts + 10 min)`. The
    * exact join the streaming pipeline runs (StreamJoinSpec asserts
    * stream == this batch plan on the same rows); registered so the
    * §2.8 stream-join semantics get an oracle CORRECTNESS row, not
    * just a spec. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val p = ev.filter(isPurchase)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val e = ev.filter(isError)
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"), col("value").as("e_value"))
    graft.operators.IntervalJoin
      .following(p, e, "p_user", "e_user", "p_ts", "e_ts",
        expr("INTERVAL 10 MINUTES"))
      .select(col("p_id"), col("e_id"), col("p_user").as("user_id"),
        (epochUs(col("e_ts")) - epochUs(col("p_ts"))).as("dt_us"),
        col("e_value"))
      .orderBy(col("p_id"), col("e_id"))
  }

  val streamIntervalJoinSql: String =
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT event_id AS e_id, user_id, ts AS e_ts, value AS e_value
      |  FROM events WHERE event_type = 'error')
      |SELECT p.p_id, e.e_id, p.user_id,
      |       epoch_us(e.e_ts) - epoch_us(p.p_ts) AS dt_us, e.e_value
      |FROM p JOIN e ON p.user_id = e.user_id
      |              AND e.e_ts >= p.p_ts
      |              AND e.e_ts < p.p_ts + INTERVAL 10 MINUTE
      |ORDER BY p_id, e_id""".stripMargin

  // ---------------------------------------------------------------------
  // Ranking suite: ntile / rank / dense_rank / first event per user
  // ---------------------------------------------------------------------

  /** Per-user ranking dashboard: spend quartile (exact ntile(4)
    * semantics over a unique sort), event-count rank and dense rank,
    * and the user's first event type (row_number=1 in event-time
    * order). Unlike the hourly-grain windows (W1-W5, bounded forever),
    * the user grain grows with the data, so NO global unpartitioned
    * window is allowed here; the same exact results come from
    * scale-shaped plans instead:
    *
    *  - rank / dense_rank: a non-equi broadcast self-join over the
    *    aggregated (n_events -> user count) domain. The domain is
    *    bounded by the number of DISTINCT per-user counts, not the
    *    number of users, so the broadcast holds at any corpus size.
    *  - ntile(4): range-partitioned global row position. The corpus is
    *    range-partitioned on the UNIQUE composite sort key
    *    (spend, user_id) — unique, so even an all-equal-spend tie
    *    cohort (every purchase-free user) is SPLIT across partitions
    *    and no partition grows with a tie class, which a spend-only
    *    threshold bucketing cannot guarantee. row_number runs
    *    PARTITIONED by the range partition id (frozen into the data by
    *    an eager localCheckpoint so every consumer sees one
    *    assignment), exact per-partition offsets come from a tiny
    *    non-equi self-join over the partition counts, and ntile's
    *    bucket assignment is pure integer arithmetic on
    *    (position, total). Partition boundaries only PLACE rows — any
    *    boundary set yields the same exact positions.
    */
  def userRanks(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val firsts = ev
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_event_type"))
    val agg = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      countIf(isPurchase).as("n_purchases"),
      coalesce(sum(when(isPurchase, col("value").cast(Money))), lit(0).cast(Money))
        .cast(DoubleType).as("spend"))
      .persist()
    agg.count() // eager: four downstream branches reuse one build

    // events_rank / events_dense_rank over the bounded count domain
    val dom = agg.groupBy(col("n_events")).agg(count(lit(1)).as("cnt"))
    val ranks = dom
      .join(broadcast(dom.select(col("n_events").as("v2"), col("cnt").as("cnt2"))),
        col("v2") > col("n_events"), "left")
      .groupBy(col("n_events"))
      .agg((coalesce(sum(col("cnt2")), lit(0L)) + lit(1L)).as("events_rank"),
        (count(col("v2")) + lit(1L)).as("events_dense_rank"))

    // exact global row position via a range-partitioned sort on the
    // unique (spend, user_id) key; pid is materialized by the eager
    // checkpoint so the counts branch and the window branch can never
    // observe different partitionings
    val parts = agg.repartitionByRange(col("spend"), col("user_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val pcnt = parts.groupBy(col("pid")).agg(count(lit(1)).as("pc"))
    val offs = pcnt
      .join(broadcast(pcnt.select(col("pid").as("p2"), col("pc").as("pc2"))),
        col("p2") < col("pid"), "left")
      .groupBy(col("pid"))
      .agg(coalesce(sum(col("pc2")), lit(0L)).as("off"))
    val totals = pcnt.agg(sum(col("pc")).as("n_total"))
    val positioned = parts
      .join(broadcast(offs), "pid")
      .crossJoin(broadcast(totals))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("spend"), col("user_id")))
        .cast(LongType) + col("off"))
      // ntile(4) closed form: the first (n_total % 4) buckets hold
      // (n_total DIV 4)+1 rows, the rest (n_total DIV 4); ceil-div in
      // integer arithmetic. Matches SQL NTILE exactly, including n<4.
      .withColumn("q_base", expr("n_total DIV 4"))
      .withColumn("q_rem", expr("n_total % 4"))
      .withColumn("spend_quartile",
        when(col("pos") <= col("q_rem") * (col("q_base") + 1),
          expr("(pos + q_base) DIV (q_base + 1)"))
          .otherwise(expr("q_rem + (pos - q_rem * (q_base + 1) + q_base - 1) DIV q_base"))
          .cast(LongType))

    Tables.released(
      positioned
        .join(broadcast(ranks), "n_events")
        .join(firsts, "user_id")
        .select(col("user_id"), col("n_events"), col("n_purchases"), col("spend"),
          col("first_event_type"), col("spend_quartile"),
          col("events_rank"), col("events_dense_rank"))
        .orderBy(col("user_id")),
      agg)
  }

  val userRanksSql: String =
    """WITH firsts AS (
      |  SELECT user_id, event_type AS first_event_type
      |  FROM (SELECT user_id, event_type,
      |               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |        FROM events)
      |  WHERE rn = 1),
      |agg AS (
      |  SELECT user_id,
      |         count(*) AS n_events,
      |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
      |         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS spend
      |  FROM events GROUP BY user_id)
      |SELECT a.user_id, a.n_events, a.n_purchases, a.spend, f.first_event_type,
      |       CAST(ntile(4) OVER (ORDER BY a.spend, a.user_id) AS BIGINT) AS spend_quartile,
      |       CAST(rank() OVER (ORDER BY a.n_events DESC) AS BIGINT) AS events_rank,
      |       CAST(dense_rank() OVER (ORDER BY a.n_events DESC) AS BIGINT) AS events_dense_rank
      |FROM agg a JOIN firsts f ON a.user_id = f.user_id
      |ORDER BY a.user_id""".stripMargin

  // ---------------------------------------------------------------------
  // Pivot: daily counts by event type as columns
  // ---------------------------------------------------------------------

  /** Day x event-type pivot with an explicit value list (deterministic
    * schema — never infer pivot values from data at scale: that is an
    * extra distinct scan and a nondeterministic column order). One
    * shuffle on the day; conditional counts map-side. */
  def dailyTypePivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(to_date(col("ts")).cast(StringType).as("d"), col("event_type"))
      .groupBy(col("d"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("d"),
        coalesce(col("click"), lit(0L)).as("n_click"),
        coalesce(col("error"), lit(0L)).as("n_error"),
        coalesce(col("purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("signup"), lit(0L)).as("n_signup"),
        coalesce(col("view"), lit(0L)).as("n_view"))
      .orderBy(col("d"))

  val dailyTypePivotSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
      |       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
      |FROM events
      |GROUP BY 1
      |ORDER BY d""".stripMargin

  // ---------------------------------------------------------------------
  // ev_retention_cohorts: weekly cohort retention matrix
  // ---------------------------------------------------------------------

  /** Classic cohort retention: users grouped by first-active week, a
    * row per (cohort, week offset) with the fraction still active —
    * the growth-analytics staple next to the funnel and adoption
    * queries.
    *
    * Scale shape: the (user, week) activity grain is DISTINCTed first
    * (one shuffle, map-side combined — events shrink to at most
    * users x weeks before anything joins), the first-seen aggregate
    * reuses that grain, and the cohort join is user-keyed. Offsets are
    * exact int arithmetic (datediff of week-truncated dates is always
    * a multiple of 7), so both engines bin identically.
    *
    * The grain is shared across the 3 branches via a LAZY
    * localCheckpoint: no separate materialization job (idle sf0.1
    * 0.5 s vs 0.8 s for persist+count), and the first consumer builds
    * it. Trade-off vs persist: executor loss can't recompute a
    * checkpointed block (lineage truncated) — acceptable for a short
    * interactive rollup; swap to persist(MEMORY_AND_DISK) if running
    * inside a long job that must survive executor churn. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val act = events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
      .localCheckpoint(false) // lazy: raw scan + (user, wk) shuffle run ONCE
    // for the 3 branches below, materialized by the first consumer (no
    // separate eager job — ~0.15 s cheaper idle than persist+count)
    val first = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val counts = act.join(first, "user_id")
      .select(col("cohort"),
        expr("datediff(wk, cohort) div 7").as("week_offset"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_active")) // (user, wk) already distinct
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    counts.join(sizes, "cohort")
      .select(
        epochUs(col("cohort")).as("cohort_us"),
        col("week_offset"),
        col("n_active"),
        col("cohort_size"),
        (col("n_active").cast(DoubleType) / col("cohort_size").cast(DoubleType))
          .as("retention"))
      .orderBy(col("cohort_us"), col("week_offset"))
  }

  val retentionCohortsSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |cohorts AS (
      |  SELECT user_id, min(wk) AS cohort FROM act GROUP BY 1),
      |counts AS (
      |  SELECT cohort,
      |         CAST(datediff('day', CAST(cohort AS DATE), CAST(wk AS DATE)) // 7 AS BIGINT) AS week_offset,
      |         count(*) AS n_active
      |  FROM act JOIN cohorts USING (user_id)
      |  GROUP BY 1, 2),
      |sizes AS (
      |  SELECT cohort, count(*) AS cohort_size FROM cohorts GROUP BY 1)
      |SELECT epoch_us(cohort) AS cohort_us, week_offset, n_active, cohort_size,
      |       CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      |FROM counts JOIN sizes USING (cohort)
      |ORDER BY cohort_us, week_offset""".stripMargin

  // ---------------------------------------------------------------------
  // ev_hourly_anomalies: trailing-baseline spike/drop detection
  // ---------------------------------------------------------------------

  /** Hours whose purchase revenue deviates from the trailing-24h
    * baseline (x2 spike / x0.3 drop) — the alert rule a monitoring
    * stack would attach to the reference's hourly metrics panel. The
    * trailing frame EXCLUDES the current hour (an anomalous hour must
    * not dilute its own baseline), and warm-up hours without a full
    * 24-hour history are suppressed.
    *
    * Determinism: the baseline mean is exact decimal window SUM /
    * COUNT — the rolling24h convention — so the flag comparison runs
    * on bit-identical doubles in both engines. The window runs over
    * the pre-aggregated hourly grain, never raw events. */
  def hourlyAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("hour")).rowsBetween(-24, -1)
    hourlyExact(events(spark, dir))
      .select(col("hour"),
        coalesce(col("purchase_revenue_dec"), lit(0).cast(Money)).as("rev_dec"))
      .select(col("hour"), col("rev_dec"),
        sum(col("rev_dec")).over(w).as("trail_sum_dec"),
        count(lit(1)).over(w).as("trail_n"))
      .filter(col("trail_n") === 24)
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        (col("trail_sum_dec").cast(DoubleType) /
          col("trail_n").cast(DoubleType)).as("baseline"),
        when(col("rev_dec").cast(DoubleType) >
          lit(2.0) * (col("trail_sum_dec").cast(DoubleType) /
            col("trail_n").cast(DoubleType)), "spike")
          .when(col("rev_dec").cast(DoubleType) <
            lit(0.3) * (col("trail_sum_dec").cast(DoubleType) /
              col("trail_n").cast(DoubleType)), "drop")
          .as("kind"))
      .filter(col("kind").isNotNull)
      .orderBy(col("hour_us"))
  }

  val hourlyAnomaliesSql: String =
    s"""WITH hourly AS ($hourlyCte),
       |t AS (
       |  SELECT hour,
       |         COALESCE(purchase_revenue_dec, 0) AS rev_dec,
       |         sum(COALESCE(purchase_revenue_dec, 0)) OVER w AS trail_sum_dec,
       |         count(*) OVER w AS trail_n
       |  FROM hourly
       |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
       |f AS (
       |  SELECT epoch_us(hour) AS hour_us,
       |         CAST(rev_dec AS DOUBLE) AS revenue,
       |         CAST(trail_sum_dec AS DOUBLE) / CAST(trail_n AS DOUBLE) AS baseline,
       |         CASE WHEN CAST(rev_dec AS DOUBLE) >
       |                   2.0 * (CAST(trail_sum_dec AS DOUBLE) / CAST(trail_n AS DOUBLE)) THEN 'spike'
       |              WHEN CAST(rev_dec AS DOUBLE) <
       |                   0.3 * (CAST(trail_sum_dec AS DOUBLE) / CAST(trail_n AS DOUBLE)) THEN 'drop'
       |         END AS kind
       |  FROM t WHERE trail_n = 24)
       |SELECT hour_us, revenue, baseline, kind
       |FROM f WHERE kind IS NOT NULL
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_anomaly_mad: robust (median/MAD) outlier detection
  // ---------------------------------------------------------------------

  /** Robust global outlier detection over the hourly value series —
    * the median/MAD counterpart of [[hourlyAnomalies]]'s trailing-mean
    * detector: means and trailing baselines are themselves dragged by
    * the outliers they are supposed to flag, while the median and the
    * median absolute deviation have a 50% breakdown point (the
    * standard robust-statistics choice for exactly this monitoring
    * job). An hour is anomalous when |x − median| > 3·MAD.
    *
    * Determinism + scale: the hourly grain is exact micro-int sums
    * (one map-side-combined pass over events); median and MAD use the
    * exact `percentile` whose interpolation is bit-identical to
    * DuckDB's quantile_cont (the lenQuantiles precedent), each a
    * 1-row broadcast over the ≤ hours-per-corpus grain (never raw
    * events); at the 100 TB tier the exact percentile swaps for the
    * GK sketch with the same plan shape. score = dev/MAD is a single
    * IEEE division, NULL when MAD = 0 (constant series). */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    madTail(events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(col("value").cast(Money)) * lit(1000000))
        .cast(LongType).as("x_micro")))

  /** The detector itself over an arbitrary (hour, x_micro) grain —
    * shared by the registered query and the streaming sink audit
    * (streaming.EventsPipeline.madAuditHourly), so the sink is
    * monitored by the same oracle-checked math. */
  private[graft] def madTail(hourly: DataFrame): DataFrame = {
    val h = hourly.persist() // ≤ hours-per-corpus rows
    h.count()
    val med = h.agg(percentile(col("x_micro"), lit(0.5)).as("med"))
    val dev = h.crossJoin(broadcast(med))
      .select(epochUs(col("hour")).as("hour_us"), col("x_micro"), col("med"),
        abs(col("x_micro").cast(DoubleType) - col("med")).as("dev"))
    val mad = dev.agg(percentile(col("dev"), lit(0.5)).as("mad"))
    Tables.released(
      dev.crossJoin(broadcast(mad))
        .select(col("hour_us"), col("x_micro"), col("med"), col("mad"),
          when(col("mad") > 0.0, col("dev") / col("mad")).as("score"),
          (col("dev") > lit(3.0) * col("mad")).cast(LongType).as("is_anomaly"))
        .orderBy(col("hour_us")),
      h)
  }

  val anomalyMadSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hour,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x_micro
      |  FROM events GROUP BY 1),
      |med AS (SELECT quantile_cont(CAST(x_micro AS DOUBLE), 0.5) AS med FROM h),
      |dev AS (
      |  SELECT epoch_us(hour) AS hour_us, x_micro, med,
      |         abs(CAST(x_micro AS DOUBLE) - med) AS dev
      |  FROM h, med),
      |mad AS (SELECT quantile_cont(dev, 0.5) AS mad FROM dev)
      |SELECT hour_us, x_micro, med, mad,
      |       CASE WHEN mad > 0.0 THEN dev / mad END AS score,
      |       CAST(dev > 3.0 * mad AS BIGINT) AS is_anomaly
      |FROM dev, mad
      |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_benford_audit: first-digit distribution vs Benford's law
  // ---------------------------------------------------------------------

  /** First-significant-digit audit of the value column against
    * Benford's law — the classic fabricated-data screen (audit
    * practice since Nigrini): organically-generated positive amounts
    * follow P(d) = log10(1 + 1/d), while invented or systematically
    * manipulated figures don't. Output per digit: observed count and
    * share, the Benford expectation, and the χ² contribution
    * n·(p−p̂)²/p̂ — the audit flags when the summed contributions
    * blow past the 15.5 critical value (8 df, α=0.05).
    *
    * Determinism: the digit comes from the decimal STRING of exact
    * int64 cents (never a float's engine-specific rendering); the
    * only transcendental (the Benford log) is quantized once per
    * digit. One scan, nine-row output, map-side combined. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = events(spark, dir)
      .filter(col("value") > 0.0)
      .select(substring(round(col("value") * 100).cast(LongType)
        .cast(StringType), 1, 1).cast(LongType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("n_total")) // 1-row scalar
    val pObs = col("n").cast(DoubleType) / col("n_total").cast(DoubleType)
    val pBen = round(log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)) /
      log(lit(10.0)) * 1e6).cast(LongType).cast(DoubleType) / lit(1e6)
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        pObs.as("p_obs"), pBen.as("p_benford"),
        (col("n_total").cast(DoubleType) * (pObs - pBen) * (pObs - pBen) /
          pBen).as("chi2_term"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM events WHERE value > 0.0),
      |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
      |SELECT digit, n,
      |       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_obs,
      |       CAST(CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS p_benford,
      |       CAST(n_total AS DOUBLE)
      |         * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) - CAST(CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT) AS DOUBLE) / 1e6)
      |         * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) - CAST(CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT) AS DOUBLE) / 1e6)
      |         / (CAST(CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6) AS BIGINT) AS DOUBLE) / 1e6) AS chi2_term
      |FROM g, tot
      |ORDER BY digit""".stripMargin

  // ---------------------------------------------------------------------
  // ev_trend_theil_sen: robust trend slope over the hourly series
  // ---------------------------------------------------------------------

  /** Theil–Sen trend estimate of the hourly value series — the robust
    * completion of [[anomalyMad]]: the slope is the MEDIAN of all
    * pairwise slopes, so up to ~29% contaminated hours cannot bend the
    * trend (an OLS fit moves with every outlier its own residual
    * can't vote down). Output is one row: slope per hour, the median
    * intercept under that slope, and the pair count.
    *
    * Scale: the pair enumeration is a self-join of the HOURLY grain —
    * O(hours²) pairs, bounded by the calendar, never by the data
    * (720 hours → 259k pairs at any corpus size); the median is the
    * bit-identical exact percentile. Slopes divide exact micro-int
    * deltas by exact hour deltas, so every pair's double is
    * reproducible cross-engine. */
  def trendTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val h = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(col("value").cast(Money)) * lit(1000000))
        .cast(LongType).as("x_micro"))
      .select((epochUs(col("hour")) / lit(3600000000L)).cast(LongType)
        .as("t_h"), col("x_micro"))
      .persist()
    h.count()
    val slopes = h.as("a").join(h.as("b"), col("a.t_h") < col("b.t_h"))
      .select(
        ((col("b.x_micro") - col("a.x_micro")).cast(DoubleType) /
          (col("b.t_h") - col("a.t_h")).cast(DoubleType)).as("slope"))
    val sl = slopes.agg(
      percentile(col("slope"), lit(0.5)).as("slope_micro_per_h"),
      count(lit(1)).as("n_pairs"))
    Tables.released(
      h.crossJoin(broadcast(sl))
        .select(col("n_pairs"), col("slope_micro_per_h"),
          (col("x_micro").cast(DoubleType) -
            col("slope_micro_per_h") * col("t_h").cast(DoubleType))
            .as("resid"))
        .groupBy(col("n_pairs"), col("slope_micro_per_h"))
        .agg(percentile(col("resid"), lit(0.5)).as("intercept_micro"))
        .select(col("slope_micro_per_h"), col("intercept_micro"),
          col("n_pairs")),
      h)
  }

  val trendTheilSenSql: String =
    """WITH h AS (
      |  SELECT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000 AS BIGINT) AS t_h,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x_micro
      |  FROM events GROUP BY date_trunc('hour', ts)),
      |slopes AS (
      |  SELECT CAST(b.x_micro - a.x_micro AS DOUBLE) /
      |         CAST(b.t_h - a.t_h AS DOUBLE) AS slope
      |  FROM h a JOIN h b ON a.t_h < b.t_h),
      |sl AS (
      |  SELECT quantile_cont(slope, 0.5) AS slope_micro_per_h,
      |         count(*) AS n_pairs
      |  FROM slopes)
      |SELECT slope_micro_per_h,
      |       quantile_cont(CAST(x_micro AS DOUBLE) - slope_micro_per_h * CAST(t_h AS DOUBLE), 0.5) AS intercept_micro,
      |       n_pairs
      |FROM h, sl
      |GROUP BY n_pairs, slope_micro_per_h""".stripMargin

  // ---------------------------------------------------------------------
  // ev_gap_fill: time-spine densification + last-observation fill
  // ---------------------------------------------------------------------

  /** Gap-filled hourly error series — the densification pass every
    * time-series consumer needs before windowed math: an hour with no
    * error events simply has NO row in the rollup, and a rolling
    * average or LAG over the sparse grain silently treats the gap as
    * adjacency. The spine is generated from the observed [min, max]
    * hour bounds (sequence + explode — no calendar table needed),
    * LEFT-joined to the observed grain; counts zero-fill, the value
    * carries the last observation forward (`last(..., ignoreNulls)`
    * over the hour order — the LOCF convention), and `is_gap` keeps
    * the imputation auditable. The spine starts at the first OBSERVED
    * hour, so every gap has something to carry by construction.
    *
    * Scale: the spine is hours-sized, generated from a 1-row bounds
    * aggregate; the join and the LOCF window run on the hourly grain
    * (≤ hours-per-corpus rows), never raw events — the reference's own
    * rollup-first discipline. */
  /** Unpartitioned carry-forward window: runs over the hourly SPINE
    * (one row per hour between the corpus bounds) — see rolling24h's
    * bounded-frame note. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val errs = events(spark, dir).filter(col("event_type") === "error")
    val h = errs
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(Money)) * lit(1000000))
          .cast(LongType).as("x_micro"))
    val bounds = errs.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val spine = bounds.select(explode(
      sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val w = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(h, Seq("hour"), "left_outer")
      .select(col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("x_micro"),
        last(col("x_micro"), ignoreNulls = true).over(w).as("x_locf"),
        col("n_events").isNull.cast(LongType).as("is_gap"))
      .select(epochUs(col("hour")).as("hour_us"), col("n_events"),
        col("x_micro"), col("x_locf"), col("is_gap"))
      .orderBy(col("hour_us"))
  }

  val gapFillSql: String =
    """WITH e AS (SELECT ts, value FROM events WHERE event_type = 'error'),
      |h AS (
      |  SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS x_micro
      |  FROM e GROUP BY 1),
      |b AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |             date_trunc('hour', max(ts)) AS h1 FROM e),
      |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b)
      |SELECT epoch_us(spine.hour) AS hour_us,
      |       COALESCE(n_events, 0) AS n_events,
      |       x_micro,
      |       last_value(x_micro IGNORE NULLS) OVER (
      |         ORDER BY spine.hour
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x_locf,
      |       CAST(n_events IS NULL AS BIGINT) AS is_gap
      |FROM spine LEFT JOIN h ON spine.hour = h.hour
      |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_purchase_error_days: FULL OUTER day alignment
  // ---------------------------------------------------------------------

  /** Daily purchase revenue aligned with daily error value via FULL
    * OUTER join — the reconciliation shape for two rollups that may
    * each be missing days (a purchase-free day must still show its
    * errors and vice versa). Inner/left joins would silently drop the
    * discrepancy days the report exists to show.
    *
    * Scale shape: both sides pre-aggregate to the day grain before the
    * join, so the full-outer shuffle moves at most ~days rows. */
  def purchaseErrorDays(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val p = ev.filter(isPurchase)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
    val e = ev.filter(isError)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n_errors"), dsum(col("value")).as("error_value"))
    p.join(e, Seq("d"), "full_outer")
      .select(
        epochUs(col("d")).as("day_us"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        coalesce(col("error_value"), lit(0.0)).as("error_value"))
      .orderBy(col("day_us"))
  }

  val purchaseErrorDaysSql: String =
    """WITH p AS (
      |  SELECT date_trunc('day', ts) AS d, count(*) AS n_purchases,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |e AS (
      |  SELECT date_trunc('day', ts) AS d, count(*) AS n_errors,
      |         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS error_value
      |  FROM events WHERE event_type = 'error' GROUP BY 1)
      |SELECT epoch_us(COALESCE(p.d, e.d)) AS day_us,
      |       COALESCE(n_purchases, 0) AS n_purchases,
      |       COALESCE(revenue, 0.0) AS revenue,
      |       COALESCE(n_errors, 0) AS n_errors,
      |       COALESCE(error_value, 0.0) AS error_value
      |FROM p FULL OUTER JOIN e ON p.d = e.d
      |ORDER BY day_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_user_overlap: INTERSECT / EXCEPT retention split
  // ---------------------------------------------------------------------

  /** Users split by presence in the first vs second half of the
    * period — retained (INTERSECT), churned (EXCEPT), new (reverse
    * EXCEPT). Exercises the set operators directly; each operand is a
    * pre-DISTINCTed user-id set, so the set ops shuffle at user
    * cardinality, never event cardinality. */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    val mid = lit(MidPeriod).cast(TimestampType)
    val ev = events(spark, dir)
    val a = ev.filter(col("ts") < mid).select(col("user_id")).distinct()
    val b = ev.filter(col("ts") >= mid).select(col("user_id")).distinct()
    val counts = Seq(
      ("retained", a.intersect(b)),
      ("churned", a.except(b)),
      ("new", b.except(a)))
    counts.map { case (k, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(k).as("cohort"), col("n_users"))
    }.reduce(_.unionAll(_)).orderBy(col("cohort"))
  }

  val userOverlapSql: String =
    s"""WITH a AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '$MidPeriod'),
      |b AS (SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '$MidPeriod')
      |SELECT 'retained' AS cohort, count(*) AS n_users FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'churned' AS cohort, count(*) AS n_users FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'new' AS cohort, count(*) AS n_users FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
      |ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------------
  // ev_daily_unpivot: wide rollup -> tidy (day, metric, value)
  // ---------------------------------------------------------------------

  /** The daily rollup melted to tidy (day, metric, value) rows — the
    * long-format export BI and feature-store layers consume. stack()
    * is a per-row generator: the unpivot multiplies rows AFTER the
    * day-grain aggregation, so it is metric-count x days, never a
    * second pass over events. */
  def dailyUnpivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(
        count(lit(1)).as("total_events"),
        countIf(isPurchase).as("purchases"),
        countIf(isError).as("errors"),
        count_distinct(col("user_id")).as("active_users"))
      .select(epochUs(col("d")).as("day_us"),
        expr("""stack(4,
          'total_events', total_events,
          'purchases', purchases,
          'errors', errors,
          'active_users', active_users) AS (metric, value)"""))
      .orderBy(col("day_us"), col("metric"))

  val dailyUnpivotSql: String =
    """WITH d AS (
      |  SELECT date_trunc('day', ts) AS d,
      |         count(*) AS total_events,
      |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |         count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |         count(DISTINCT user_id) AS active_users
      |  FROM events GROUP BY 1)
      |SELECT epoch_us(d) AS day_us, metric, CAST(value AS BIGINT) AS value
      |FROM d
      |UNPIVOT (value FOR metric IN (total_events, purchases, errors, active_users))
      |ORDER BY day_us, metric""".stripMargin

  // ---------------------------------------------------------------------
  // ev_hourly_bookends: frame-function suite over the hourly grain
  // ---------------------------------------------------------------------

  /** Per-hour revenue annotated with its day's bookends and
    * neighborhood: first/second/last hour of the day (first_value /
    * nth_value / last_value over the full-day frame), the jump to the
    * next hour (lead), and a value-based RANGE frame summing the ±3
    * adjacent hours — the window-frame surface (full-frame,
    * offset-function, RANGE-vs-ROWS) the other dashboards don't touch.
    *
    * Determinism: hours are unique within a day, so every frame
    * function has a total order; arithmetic stays in exact decimal
    * until the final double cast. Windows run over the pre-aggregated
    * hourly grain (720 rows at sf0.1), per the §2.6 discipline. */
  def hourlyBookends(spark: SparkSession, dir: String): DataFrame = {
    val wDay = Window.partitionBy(col("d")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wLead = Window.partitionBy(col("d")).orderBy(col("hour"))
    val wRange = Window.orderBy(col("hour_num")).rangeBetween(-3, 3)
    hourlyExact(events(spark, dir))
      .select(col("hour"),
        date_trunc("day", col("hour")).as("d"),
        // integral div: epoch-us exceeds 2^53, double division would
        // round — `div` stays in exact int64
        expr("unix_micros(hour) div 3600000000").as("hour_num"),
        coalesce(col("purchase_revenue_dec"), lit(0).cast(Money)).as("rev_dec"))
      .select(
        epochUs(col("hour")).as("hour_us"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        first(col("rev_dec")).over(wDay).cast(DoubleType).as("day_open"),
        nth_value(col("rev_dec"), 2).over(wDay).cast(DoubleType).as("day_second"),
        last(col("rev_dec")).over(wDay).cast(DoubleType).as("day_close"),
        (lead(col("rev_dec"), 1).over(wLead) - col("rev_dec"))
          .cast(DoubleType).as("next_diff"),
        sum(col("rev_dec")).over(wRange).cast(DoubleType).as("win7_rev"))
      .orderBy(col("hour_us"))
  }

  val hourlyBookendsSql: String =
    s"""WITH hourly AS ($hourlyCte),
       |t AS (
       |  SELECT hour, date_trunc('day', hour) AS d,
       |         epoch_us(hour) // 3600000000 AS hour_num,
       |         COALESCE(purchase_revenue_dec, 0) AS rev_dec
       |  FROM hourly)
       |SELECT epoch_us(hour) AS hour_us,
       |       CAST(rev_dec AS DOUBLE) AS revenue,
       |       CAST(first_value(rev_dec) OVER wday AS DOUBLE) AS day_open,
       |       CAST(nth_value(rev_dec, 2) OVER wday AS DOUBLE) AS day_second,
       |       CAST(last_value(rev_dec) OVER wday AS DOUBLE) AS day_close,
       |       CAST(lead(rev_dec, 1) OVER wlead - rev_dec AS DOUBLE) AS next_diff,
       |       CAST(sum(rev_dec) OVER wrange AS DOUBLE) AS win7_rev
       |FROM t
       |WINDOW wday AS (PARTITION BY d ORDER BY hour
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       |       wlead AS (PARTITION BY d ORDER BY hour),
       |       wrange AS (ORDER BY hour_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |ORDER BY hour_us""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  /** name -> (query fn, oracle SQL) */
  // ---------------------------------------------------------------------
  // ev_dow_type_cube: CUBE grouping sets (completes the grouping-set
  // family next to ROLLUP, pivot and unpivot)
  // ---------------------------------------------------------------------

  /** Full CUBE over (day-of-week, event_type): all four grouping sets —
    * cells, per-dow margins, per-type margins, grand total — in ONE
    * shuffle (Spark expands the grouping sets map-side, partial-aggs
    * each). Unlike ROLLUP's hierarchy this gives BOTH marginal views,
    * the dashboard crosstab shape. gid decodes which dims are rolled
    * up, nulls coalesce to sentinels so the deterministic sort is
    * null-free on both engines. */
  def dowTypeCube(spark: SparkSession, dir: String): DataFrame = {
    val gid = when(col("dow").isNull && col("event_type").isNull, 3L)
      .when(col("dow").isNull, 2L)
      .when(col("event_type").isNull, 1L).otherwise(0L)
    events(spark, dir)
      .select((dayofweek(col("ts")) - 1).cast(LongType).as("dow"),
        col("event_type"), col("value"))
      .cube(col("dow"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(gid.as("gid"), coalesce(col("dow"), lit(-1L)).as("dow"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("gid"), col("dow"), col("event_type"))
  }

  val dowTypeCubeSql: String =
    """WITH ev AS (
      |  SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow, event_type, value
      |  FROM events)
      |SELECT CASE WHEN dow IS NULL AND event_type IS NULL THEN 3
      |            WHEN dow IS NULL THEN 2
      |            WHEN event_type IS NULL THEN 1 ELSE 0 END AS gid,
      |       COALESCE(dow, -1) AS dow,
      |       COALESCE(event_type, 'ALL') AS event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM ev
      |GROUP BY CUBE(dow, event_type)
      |ORDER BY gid, dow, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev_funnel_sequences: ordered event-pattern detection (MATCH_RECOGNIZE
  // shape) — consecutive view -> click (-> purchase) chains per user
  // ---------------------------------------------------------------------

  /** Sequential funnel: unlike [[engagementFunnel]] (set membership —
    * "did the user ever view AND ever purchase"), this detects ORDERED
    * chains of consecutive events: a view immediately followed by a
    * click, and the full view -> click -> purchase triple — the
    * MATCH_RECOGNIZE / sessionized-path shape, expressed with lead()
    * windows so Catalyst plans it as one sort per user partition.
    *
    * Scale shape: one hash shuffle on user_id (the window), then the
    * per-user rollup reuses the exact same partitioning — Exchange
    * reuse means the groupBy adds NO second shuffle. Determinism: event
    * order ties break on event_id, same in the oracle. */
  def funnelSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("next1", lead(col("event_type"), 1).over(w))
      .withColumn("next2", lead(col("event_type"), 2).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countIf(col("event_type") === "view" &&
          col("next1") === "click").as("n_view_click"),
        countIf(col("event_type") === "view" &&
          col("next1") === "click" &&
          col("next2") === "purchase").as("n_full_chain"))
      .select(col("user_id"), col("n_events"), col("n_view_click"),
        col("n_full_chain"),
        ratio(col("n_full_chain"), col("n_view_click")).as("chain_conversion"))
      .orderBy(col("user_id"))
  }

  val funnelSequencesSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next1,
      |         lead(event_type, 2) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next2
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       count(CASE WHEN event_type = 'view' AND next1 = 'click'
      |                  THEN 1 END) AS n_view_click,
      |       count(CASE WHEN event_type = 'view' AND next1 = 'click'
      |                  AND next2 = 'purchase' THEN 1 END) AS n_full_chain,
      |       CAST(count(CASE WHEN event_type = 'view' AND next1 = 'click'
      |                  AND next2 = 'purchase' THEN 1 END) AS DOUBLE)
      |         / nullif(CAST(count(CASE WHEN event_type = 'view' AND next1 = 'click'
      |                  THEN 1 END) AS DOUBLE), 0.0) AS chain_conversion
      |FROM seq
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // ev_transition_matrix: first-order Markov transitions between event
  // types — sequence-model prep over per-user event chains
  // ---------------------------------------------------------------------

  /** Empirical first-order Markov transition matrix: for each
    * consecutive (event, next event) pair within a user's timeline,
    * the transition count and row-normalized probability — the
    * sequence statistics a behavioral-cloning / next-event-prediction
    * pipeline trains against, and the sanity check that event chains
    * are non-degenerate before feeding them to a model.
    *
    * Scale shape: ONE hash shuffle on user_id for the lead() window;
    * the pair rollup is |types|^2 groups (25 here) with map-side
    * partial aggregation, and the row-normalizing total is a second
    * tiny window over those 25 rows — nothing after the first shuffle
    * grows with the data. Determinism: event order ties break on
    * event_id; probabilities are double/double after exact counts. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val row = Window.partitionBy(col("event_type"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("n_from", sum(col("n_trans")).over(row))
      .select(col("event_type"), col("next_type"), col("n_trans"),
        col("n_from"), ratio(col("n_trans"), col("n_from")).as("p_trans"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val transitionMatrixSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type, next_type, count(*) AS n_trans
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT event_type, next_type, n_trans,
      |       CAST(sum(n_trans) OVER (PARTITION BY event_type) AS BIGINT) AS n_from,
      |       CAST(n_trans AS DOUBLE)
      |         / nullif(CAST(sum(n_trans) OVER (PARTITION BY event_type)
      |                       AS DOUBLE), 0.0) AS p_trans
      |FROM pairs
      |ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev_markov_steady: steady-state of the event-type transition chain
  // ---------------------------------------------------------------------

  /** Fixed-point unit (pico) and iteration count for the steady-state
    * power iteration. Interpolated into BOTH engines. 12 because the
    * oracle UNROLLS the iterations as CTEs and DuckDB's planner goes
    * exponential past ~15 (measured: 12 → 0.96 s, 15 → 2 s, 18 →
    * 11.7 s); the damped chain converges to fixed-point stability by
    * iteration 6 on this corpus (spec-pinned π₁₂ = π₁₁), so 12 buys a
    * 2× convergence margin inside the planner budget. */
  private val MsUnit = 1000000000000L
  private val MsIters = 12

  /** Where does the event stream SETTLE — the stationary distribution
    * of [[transitionMatrix]]'s first-order chain, the long-run share
    * of attention each event type commands (what "equilibrium mix"
    * capacity planning assumes). Power iteration with PageRank-style
    * 15% uniform teleport: the raw chain need not be ergodic (types
    * that only ever END sessions have no outgoing row and would leak
    * mass), damping makes the fixed point exist and the iteration
    * geometric. Same int64 pico fixed-point discipline as
    * [[DedupQueries.pagerank]] — per-state contribution is
    * (π div n_from)·n_trans, so both engines truncate identically and
    * the result is bit-identical, never float-summed.
    *
    * Scale shape: ONE corpus pass builds the exact transition counts
    * (the same lead-over-user window as the matrix query); the
    * iteration then runs on the |types|² grain — constant-size frames,
    * localCheckpoint per round to keep lineage flat. */
  def markovSteady(spark: SparkSession, dir: String): DataFrame =
    markovSteadyIters(spark, dir, MsIters)

  /** [[markovSteady]] at an explicit iteration count — the spec runs
    * consecutive counts to pin that the published depth has already
    * reached fixed-point stability. */
  private[queries] def markovSteadyIters(
      spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val trans = events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n_trans"))
    // ONE corpus pass builds the exact transition counts; the power
    // iteration itself runs at the DRIVER on the collected matrix —
    // its grain is |event types|² (a bounded enum domain, the PCA
    // gram-matrix convention), and running it as 12 join+agg+
    // checkpoint Spark rounds cost ~100 scheduler round-trips on
    // constant-size frames (r18: 3.2 s -> ~1.2 s at sf0.1, any SF
    // alike since the iteration never touches the corpus). The
    // arithmetic is the same int64 fixed point — truncated division
    // on non-negative values and order-free integer sums — so the
    // result is bit-identical to the relational form (and to the
    // unrolled-CTE DuckDB oracle). limit()+length-check bounds what
    // the driver can ever hold (the count-gate discipline).
    val pairs = trans.limit(100001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // over-gate: fall back to the relational power iteration instead
    // of failing — event-type-domain growth degrades to the
    // distributed loop, the fitGroupedAtDriver convention (ADVICE r18)
    if (pairs.length > 100000)
      return markovSteadyDistributed(trans, iters)
    val outSum: Map[String, Long] =
      pairs.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val states: Seq[String] =
      (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    val k = math.max(states.size.toLong, 1L)
    val base = (MsUnit * 15L / 100L) / k
    var pi: Map[String, Long] = states.map(_ -> MsUnit / k).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      pairs.foreach { case (src, dst, n) =>
        inflow(dst) += (pi(src) / outSum(src)) * n
      }
      pi = states.map(t => t -> (base + (inflow(t) * 85L) / 100L)).toMap
    }
    import spark.implicits._
    states.map(t => (t, pi(t))).toDF("event_type", "pi_pico")
      .orderBy(col("pi_pico").desc, col("event_type"))
  }

  /** Over-gate fallback for [[markovSteadyIters]]: the SAME damped
    * power iteration as join+agg rounds over the (src, dst, n_trans)
    * frame — the pre-r18 relational form, kept so a transition matrix
    * beyond the driver gate degrades to the distributed loop instead
    * of a runtime failure. Bit-identical arithmetic: truncated int64
    * `div` on non-negative values (never the double `/`), order-free
    * integer sums, the same 15% teleport base; localCheckpoint per
    * round keeps lineage flat (persist does not truncate plans). */
  private[queries] def markovSteadyDistributed(trans0: DataFrame,
      iters: Int): DataFrame = {
    val trans = trans0.localCheckpoint(true)
    val outSum = trans.groupBy(col("src")).agg(sum(col("n_trans")).as("n_from"))
    val states = trans.select(col("src").as("t"))
      .unionByName(trans.select(col("dst").as("t")))
      .distinct().localCheckpoint(true)
    val kf = broadcast(states.agg(greatest(count(lit(1)), lit(1L)).as("k")))
    val withK = states.crossJoin(kf)
    val baseExpr = expr(s"${MsUnit * 15L / 100L} div k")
    var pi = withK
      .select(col("t"), expr(s"$MsUnit div k").as("pi_pico"), col("k"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val inflow = trans
        .join(pi.select(col("t").as("src"), col("pi_pico")), "src")
        .join(outSum, "src")
        .groupBy(col("dst"))
        .agg(sum(expr("(pi_pico div n_from) * n_trans")).as("inflow"))
      pi = withK
        .join(inflow.select(col("dst").as("t"), col("inflow")), Seq("t"), "left")
        .na.fill(0L, Seq("inflow"))
        .select(col("t"),
          (baseExpr + expr("(inflow * 85) div 100")).as("pi_pico"), col("k"))
        .localCheckpoint(true)
    }
    pi.select(col("t").as("event_type"), col("pi_pico"))
      .orderBy(col("pi_pico").desc, col("event_type"))
  }

  val markovSteadySql: String = {
    val iters = (1 to MsIters).map { r =>
      s"""c$r AS (
         |  SELECT e.dst AS t,
         |         CAST(sum((p.pi // o.n_from) * e.n_trans) AS BIGINT) AS inflow
         |  FROM trans e
         |  JOIN pi${r - 1} p ON e.src = p.t
         |  JOIN outsum o ON e.src = o.src
         |  GROUP BY 1),
         |pi$r AS (
         |  SELECT s.t,
         |         ((${MsUnit * 15L / 100L} // kk.k)
         |           + (COALESCE(c.inflow, 0) * 85) // 100) AS pi
         |  FROM states s CROSS JOIN kk LEFT JOIN c$r c ON s.t = c.t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH seqx AS (
       |  SELECT user_id, event_type,
       |         lead(event_type, 1) OVER (PARTITION BY user_id
       |           ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |trans AS (
       |  SELECT event_type AS src, next_type AS dst,
       |         CAST(count(*) AS BIGINT) AS n_trans
       |  FROM seqx WHERE next_type IS NOT NULL
       |  GROUP BY 1, 2),
       |outsum AS (SELECT src, CAST(sum(n_trans) AS BIGINT) AS n_from
       |           FROM trans GROUP BY 1),
       |states AS (
       |  SELECT DISTINCT t FROM (
       |    SELECT src AS t FROM trans UNION SELECT dst AS t FROM trans)),
       |kk AS (SELECT greatest(count(*), 1) AS k FROM states),
       |pi0 AS (SELECT t, $MsUnit // kk.k AS pi FROM states CROSS JOIN kk),
       |$iters
       |SELECT t AS event_type, CAST(pi AS BIGINT) AS pi_pico
       |FROM pi$MsIters
       |ORDER BY pi_pico DESC, event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ev_streaks: gaps-and-islands — longest consecutive same-type runs
  // ---------------------------------------------------------------------

  /** Longest streak per (user, event type): the gaps-and-islands
    * shape — consecutive same-type runs found by the row_number
    * difference trick (rn_overall − rn_by_type is constant within an
    * unbroken run), then per-island lengths and the per-(user, type)
    * maximum. Error-burst detection, retention streaks, and
    * rate-limit forensics are all this one shape.
    *
    * Scale shape: both window row_numbers share the SAME user_id
    * partitioning (one hash shuffle, Exchange reused); the island
    * rollup and the max collapse are map-side-combinable aggregates
    * on the reduced grain. Only (user, type) pairs with a streak ≥ 3
    * are emitted, keeping output focused. Determinism: event order
    * ties break on event_id. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("grp",
        row_number().over(wAll) - row_number().over(wType))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("len")).as("max_streak"),
        count(lit(1)).as("n_islands"))
      .filter(col("max_streak") >= 3)
      .orderBy(col("user_id"), col("event_type"))
  }

  val streaksSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id)
      |         - row_number() OVER (PARTITION BY user_id, event_type
      |           ORDER BY epoch_us(ts), event_id) AS grp
      |  FROM events),
      |islands AS (
      |  SELECT user_id, event_type, grp, count(*) AS len
      |  FROM seq GROUP BY 1, 2, 3)
      |SELECT user_id, event_type,
      |       max(len) AS max_streak, count(*) AS n_islands
      |FROM islands
      |GROUP BY 1, 2
      |HAVING max(len) >= 3
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev_active_users: DAU / trailing-7d WAU / calendar MAU + stickiness
  // ---------------------------------------------------------------------

  /** Daily/weekly/monthly active users: per day, the exact distinct
    * actives (DAU), the trailing-7-day distinct actives (WAU), the
    * calendar-month distinct actives (MAU), and the DAU/WAU
    * stickiness ratio — the growth dashboard every product team runs.
    *
    * Scale shape: ONE distinct pass reduces raw events to the
    * (day, user) grain — everything after runs on that reduced frame.
    * The trailing window is the 7-offset explode of the grain (user
    * active on d counts toward targets d..d+6) joined to the real
    * day list (broadcast — days are calendar-bounded), then one
    * distinct count per target day; no row-by-row range join, no
    * window over users. At 100 TB the exact count_distinct swaps for
    * approx_count_distinct (the ev_hourly_metrics_approx twin
    * pattern) with the same plan shape. */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val grain = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist() // feeds DAU, WAU explode, and MAU
    grain.count()
    val dau = grain.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = grain
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .join(broadcast(dau.select(col("day"))), "day") // real days only
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("wau"))
    val mau = grain
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(count_distinct(col("user_id")).as("mau"))
    Tables.released(
      dau.join(wau, "day")
        .withColumn("month", date_trunc("month", col("day")).cast("date"))
        .join(broadcast(mau), "month") // months are calendar-bounded
        .select(epochUs(col("day").cast("timestamp")).as("day_us"),
          col("dau"), col("wau"), col("mau"),
          ratio(col("dau"), col("wau")).as("stickiness"))
        .orderBy(col("day_us")),
      grain)
  }

  /** HLL sketch precision for [[activeUsersApprox]]: 2^14 registers →
    * rsd ≈ 1.04/√2^14 ≈ 0.8% (spec allows 3σ). 16 KiB per sketch, and
    * there are only |days| + |months| sketches alive at once. */
  private val AuLgK = 14

  /** [[activeUsers]] as the documented 100 TB swap — and more than a
    * count swap: DAU/WAU/MAU from MERGEABLE HLL sketches
    * (hll_sketch_agg / hll_union_agg, the Spark 4 DataSketches
    * surface). The exact form must materialize the corpus-sized
    * (day, user) distinct grain, explode it 7× for WAU, and pay a
    * count_distinct shuffle per rollup. Here the ONLY corpus-grain
    * stage is one groupBy(day) building |days| daily sketches
    * (map-side-combinable merge, constant memory per group); WAU is a
    * calendar-sized union of ≤7 daily sketches per target day (the
    * explode multiplies |days| sketch ROWS, never user rows) and MAU a
    * union per month — the sliding-window union trick sketches exist
    * for: distinct counts don't sum across days, sketches do.
    *
    * No DuckDB oracle (sketch estimates aren't cross-engine
    * reproducible); ApproxSpec bounds every day's DAU/WAU/MAU against
    * the exact twin. */
  def activeUsersApprox(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(AuLgK)).as("sk"))
    val dau = daily.select(col("day"),
      hll_sketch_estimate(col("sk")).as("dau"))
    val wau = daily
      .select(col("day"), col("sk"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add(col("day"), col("off")).as("day"), col("sk"))
      .join(broadcast(daily.select(col("day"))), "day") // real days only
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau"))
    val mau = daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("mau"))
    dau.join(wau, "day")
      .withColumn("month", date_trunc("month", col("day")).cast("date"))
      .join(broadcast(mau), "month") // months are calendar-bounded
      .select(epochUs(col("day").cast("timestamp")).as("day_us"),
        col("dau"), col("wau"), col("mau"),
        ratio(col("dau"), col("wau")).as("stickiness"))
      .orderBy(col("day_us"))
  }

  val activeUsersSql: String =
    """WITH grain AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM grain GROUP BY 1),
      |wau AS (
      |  SELECT t.day, count(DISTINCT g.user_id) AS wau
      |  FROM (SELECT user_id, day + CAST(o AS INTEGER) AS day
      |        FROM grain, (SELECT unnest(generate_series(0, 6)) AS o)) g
      |  JOIN (SELECT day FROM dau) t ON g.day = t.day
      |  GROUP BY 1),
      |mau AS (
      |  SELECT date_trunc('month', day) AS month,
      |         count(DISTINCT user_id) AS mau
      |  FROM grain GROUP BY 1)
      |SELECT epoch_us(CAST(d.day AS TIMESTAMP)) AS day_us, d.dau, w.wau, m.mau,
      |       CAST(d.dau AS DOUBLE) / nullif(CAST(w.wau AS DOUBLE), 0.0)
      |         AS stickiness
      |FROM dau d
      |JOIN wau w ON d.day = w.day
      |JOIN mau m ON date_trunc('month', d.day) = m.month
      |ORDER BY day_us""".stripMargin

  // ---------------------------------------------------------------------
  // ev_attribution: last-touch conversion attribution with a lookback
  // window
  // ---------------------------------------------------------------------

  /** Attribution lookback (72 h in microseconds) — interpolated into
    * BOTH engines, and the SAME val the typed streaming twin
    * ([[graft.operators.Attribution]]) folds with, so the batch
    * query, its oracle, and the stream can never disagree about the
    * window. */
  private val AttribLookbackUs = graft.operators.Attribution.LookbackUs

  /** Last-touch attribution: every purchase is credited to the user's
    * most recent preceding touch event (view/click) within 72 h, or
    * to 'none' when no touch qualifies — the conversion-credit query
    * behind every marketing dashboard, and the same carry-forward
    * shape as as-of joins.
    *
    * Scale shape: ONE hash shuffle on user_id; the carry-forward is
    * two frame-bounded `last_value IGNORE NULLS` windows over the
    * same sort (type and timestamp null out on exactly the same rows,
    * so they always pick the same touch row); the rollup is
    * |channels|+1 groups, map-side combined. Determinism: event order
    * ties break on event_id; sums are exact decimal. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click")
    val withTouch = events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .withColumn("t_type", last(when(isTouch, col("event_type")), true).over(w))
      .withColumn("t_ts", last(when(isTouch, col("ts_us")), true).over(w))
    val share = Window.partitionBy(lit(1))
    withTouch.filter(col("event_type") === "purchase")
      .select(
        when(col("t_ts").isNotNull &&
          col("t_ts") >= col("ts_us") - AttribLookbackUs, col("t_type"))
          .otherwise(lit("none")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
      .withColumn("purchase_share",
        ratio(col("n_purchases"), sum(col("n_purchases")).over(share)))
      .orderBy(col("channel"))
  }

  val attributionSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
       |  FROM events),
       |touched AS (
       |  SELECT user_id, event_id, ts_us, event_type, value,
       |         last_value(CASE WHEN event_type IN ('view', 'click')
       |                         THEN event_type END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS t_type,
       |         last_value(CASE WHEN event_type IN ('view', 'click')
       |                         THEN ts_us END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS t_ts
       |  FROM ev),
       |credited AS (
       |  SELECT CASE WHEN t_ts IS NOT NULL
       |                   AND t_ts >= ts_us - $AttribLookbackUs
       |              THEN t_type ELSE 'none' END AS channel,
       |         value
       |  FROM touched WHERE event_type = 'purchase'),
       |rolled AS (
       |  SELECT channel, count(*) AS n_purchases,
       |         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
       |  FROM credited GROUP BY 1)
       |SELECT channel, n_purchases, total_value,
       |       CAST(n_purchases AS DOUBLE)
       |         / nullif(CAST(sum(n_purchases) OVER () AS DOUBLE), 0.0)
       |         AS purchase_share
       |FROM rolled
       |ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------------
  // ev_ewma_forecast: exponentially-weighted moving-average forecast +
  // residuals over the hourly series
  // ---------------------------------------------------------------------

  /** EWMA lag horizon; α = 1/2, so the lag-i weight is exactly
    * 2^(EwmaLags−i) in int64 — the whole weighted sum stays exact
    * integer arithmetic (order-free, bit-identical cross-engine; a
    * fractional α would fold 24 double terms whose reassociation by
    * either optimizer shifts the last ulp). */
  private val EwmaLags = 24

  /** One-step-ahead EWMA forecast of hourly event volume: forecast_t =
    * Σ_{i=1..24} w_i·x_{t−i} / Σ w_i with w_i = α(1−α)^{i−1} at
    * α = 1/2, renormalized over the lags that exist (series head) —
    * the smoother a capacity dashboard runs next to the raw series,
    * with the residual x_t − forecast_t as its anomaly signal.
    *
    * Scale shape: the 24 lag() terms are a single pass over the
    * HOURLY pre-aggregate (≤ 720 rows/month at ANY corpus size — the
    * reference's own rollup design), so the unpartitioned window is
    * bounded by the calendar, not the data. Determinism: weights are
    * exact powers of two, numerator/denominator are exact int64 sums,
    * and the single final division is the only float op. */
  def ewmaForecast(spark: SparkSession, dir: String): DataFrame = {
    val wHour = Window.orderBy(col("hour_us"))
    val observed = events(spark, dir)
      .groupBy(epochUs(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n_events"))
    // densify onto the full hourly spine (the ev_gap_fill discipline):
    // the GROUP BY emits no row for a zero-event hour, and row-based
    // lags would then silently stitch non-adjacent hours together —
    // the outage hour, exactly the anomaly the residual exists to
    // flag, would never get a row
    val spine = observed
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        lit(3600000000L))).as("hour_us"))
    val hourly = spine.join(observed, Seq("hour_us"), "left")
      .select(col("hour_us"), coalesce(col("n_events"), lit(0L)).as("n_events"))
    val lagged = (1 to EwmaLags).foldLeft(hourly) { (df, i) =>
      df.withColumn(s"x$i", lag(col("n_events"), i).over(wHour))
    }
    val num = (1 to EwmaLags)
      .map(i => coalesce(col(s"x$i") * lit(1L << (EwmaLags - i)), lit(0L)))
      .reduce(_ + _)
    val den = (1 to EwmaLags)
      .map(i => when(col(s"x$i").isNotNull,
        lit(1L << (EwmaLags - i))).otherwise(lit(0L)))
      .reduce(_ + _)
    lagged
      .select(col("hour_us"), col("n_events"),
        (num.cast(DoubleType) /
          nullif(den.cast(DoubleType), lit(0.0))).as("forecast"))
      .withColumn("resid",
        col("n_events").cast(DoubleType) - col("forecast"))
      .orderBy(col("hour_us"))
  }

  val ewmaForecastSql: String = {
    val lags = (1 to EwmaLags).map(i =>
      s"lag(n_events, $i) OVER (ORDER BY hour_us) AS x$i").mkString(",\n|         ")
    val num = (1 to EwmaLags)
      .map(i => s"COALESCE(x$i * ${1L << (EwmaLags - i)}, 0)")
      .mkString(" + ")
    val den = (1 to EwmaLags)
      .map(i => s"CASE WHEN x$i IS NOT NULL THEN ${1L << (EwmaLags - i)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH observed AS (
       |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1),
       |spine AS (
       |  SELECT unnest(generate_series(lo, hi, 3600000000)) AS hour_us
       |  FROM (SELECT min(hour_us) AS lo, max(hour_us) AS hi FROM observed)),
       |hourly AS (
       |  SELECT s.hour_us, COALESCE(o.n_events, 0) AS n_events
       |  FROM spine s LEFT JOIN observed o ON s.hour_us = o.hour_us),
       |lagged AS (
       |  SELECT hour_us, n_events,
       |         $lags
       |  FROM hourly),
       |fc AS (
       |  SELECT hour_us, n_events,
       |         CAST($num AS DOUBLE)
       |           / nullif(CAST($den AS DOUBLE), 0.0) AS forecast
       |  FROM lagged)
       |SELECT hour_us, n_events, forecast,
       |       CAST(n_events AS DOUBLE) - forecast AS resid
       |FROM fc
       |ORDER BY hour_us""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ev_sequence_entropy: how predictable are user event chains?
  // ---------------------------------------------------------------------

  /** Entropy rate of the event stream: the marginal type entropy
    * H(X), the conditional next-event entropy H(X|prev) from the
    * [[transitionMatrix]] grain, and their gap — the information a
    * one-step history buys. A sequence model is only worth training
    * where this gap is material; near-zero gain means the chains are
    * memoryless and per-event features suffice.
    *
    * Scale shape: the same ONE user_id shuffle as the transition
    * matrix; entropy arithmetic runs on the |types|² grid.
    * Determinism: each cell's p·ln p contribution is quantized to
    * nano-nats (int64) BEFORE the grid sum — 25 doubles folded in
    * engine order would drift in the last ulp — and the headline
    * doubles divide once at the edge. */
  def sequenceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val seq0 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val pairs = events(spark, dir)
      .select(col("user_id"), col("event_id"),
        epochUs(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(seq0))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .persist() // 25-cell grid feeds three aggregates
    pairs.count()
    val tot = pairs.agg(sum(col("n")).as("t"))
    val rows = pairs.groupBy(col("event_type"))
      .agg(sum(col("n")).as("rn"))
    // H(X): −Σ p ln p over the from-type marginal (nano-nat cells)
    val hMarg = rows.crossJoin(broadcast(tot))
      .select((col("rn").cast(DoubleType) / col("t").cast(DoubleType))
        .as("p"))
      .select(round(-col("p") * log(col("p")) * 1e9).cast(LongType)
        .as("c"))
      .agg(sum(col("c")).as("h_marg_nano"))
    // H(X|prev): −Σ p(cur,next) ln p(next|cur)
    val hCond = pairs.join(broadcast(rows), "event_type")
      .crossJoin(broadcast(tot))
      .select(
        (col("n").cast(DoubleType) / col("t").cast(DoubleType)).as("pj"),
        (col("n").cast(DoubleType) / col("rn").cast(DoubleType)).as("pc"))
      .select(round(-col("pj") * log(col("pc")) * 1e9).cast(LongType)
        .as("c"))
      .agg(sum(col("c")).as("h_cond_nano"))
    Tables.released(
      tot.crossJoin(broadcast(hMarg)).crossJoin(broadcast(hCond)) // 1-row each
        .select(col("t").as("n_transitions"),
          (col("h_marg_nano").cast(DoubleType) / 1e9).as("h_marginal"),
          (col("h_cond_nano").cast(DoubleType) / 1e9).as("h_conditional"),
          ((col("h_marg_nano") - col("h_cond_nano")).cast(DoubleType) / 1e9)
            .as("info_gain"),
          (lit(1.0) - col("h_cond_nano").cast(DoubleType) /
            col("h_marg_nano").cast(DoubleType)).as("predictability")),
      pairs)
  }

  val sequenceEntropySql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type, next_type, count(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM pairs),
      |rows_ AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rn
      |          FROM pairs GROUP BY 1),
      |hm AS (
      |  SELECT CAST(sum(CAST(round(-(CAST(rn AS DOUBLE) / CAST(t AS DOUBLE))
      |           * ln(CAST(rn AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9) AS BIGINT))
      |         AS BIGINT) AS h_marg_nano
      |  FROM rows_, tot),
      |hc AS (
      |  SELECT CAST(sum(CAST(round(-(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
      |           * ln(CAST(n AS DOUBLE) / CAST(rn AS DOUBLE)) * 1e9) AS BIGINT))
      |         AS BIGINT) AS h_cond_nano
      |  FROM pairs JOIN rows_ USING (event_type), tot)
      |SELECT t AS n_transitions,
      |       CAST(h_marg_nano AS DOUBLE) / 1e9 AS h_marginal,
      |       CAST(h_cond_nano AS DOUBLE) / 1e9 AS h_conditional,
      |       CAST(h_marg_nano - h_cond_nano AS DOUBLE) / 1e9 AS info_gain,
      |       1.0 - CAST(h_cond_nano AS DOUBLE) / CAST(h_marg_nano AS DOUBLE)
      |         AS predictability
      |FROM tot, hm, hc""".stripMargin

  // ---------------------------------------------------------------------
  // ev_bootstrap_ci: Poisson-bootstrap confidence interval for the mean
  // purchase value — the distributed bootstrap (no resample shuffles)
  // ---------------------------------------------------------------------

  /** Bootstrap replicate count. Interpolated into BOTH engines. */
  private val BootR = 32

  /** Poisson(1) inverse-CDF thresholds on a uniform over [0, 2^20):
    * round(CDF(k) * 1048576) for k = 0..5; a draw past the last ladder
    * step (p ~ 6e-4) counts the row 6 times. Same literals in the
    * oracle SQL. */
  private val BootLadder: Seq[Long] =
    Seq(385750L, 771499L, 964374L, 1028665L, 1044738L, 1047953L)

  /** 95% CI for the mean purchase value via the Poisson bootstrap
    * (Chamandy et al., the standard bootstrap at terabyte scale):
    * instead of materializing R resampled datasets, each row draws an
    * independent Poisson(1) multiplicity PER REPLICATE from a
    * deterministic 20-bit md5 uniform — map-side explode by R, one
    * partial-aggregated rollup to R replicate means, percentile over
    * the R-row frame. No resample shuffle ever happens; the only
    * corpus-scale stage is the explode feeding a 32-group aggregate
    * whose partials combine map-side.
    *
    * Determinism: weights are exact int64 ladder lookups; replicate
    * means are exact-decimal sums cast to double; the 2.5/97.5
    * percentiles use the shared lo+(hi-lo)*g interpolation over the
    * 32 sorted means (bit-identical both engines). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.h60
    val u = h60(concat(col("event_id").cast(StringType), lit(":"),
      col("r").cast(StringType))) % lit(1048576L)
    val weight = BootLadder.zipWithIndex.foldRight(lit(BootLadder.size.toLong)) {
      case ((thr, k), rest) => when(u < thr, lit(k.toLong)).otherwise(rest)
    }
    val purchases = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val point = purchases.agg(
      count(lit(1)).as("n_purchases"),
      (dsum(col("value")) / count(lit(1)).cast(DoubleType)).as("point_mean"))
    val means = purchases
      .select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(BootR - 1))).as("r"))
      .withColumn("w", weight)
      .groupBy(col("r"))
      .agg((sum(col("value").cast(Tables.Money) * col("w")).cast(DoubleType) /
        sum(col("w")).cast(DoubleType)).as("boot_mean"))
    val ci = means.agg(
      percentile(col("boot_mean"), lit(0.025)).as("ci_lo"),
      percentile(col("boot_mean"), lit(0.975)).as("ci_hi"))
    point.crossJoin(ci) // both sides are 1-row scalars
      .select(col("n_purchases"), col("point_mean"), col("ci_lo"), col("ci_hi"))
  }

  val bootstrapCiSql: String = {
    import graft.functions.TextFunctions.h60Sql
    val u = s"${h60Sql("CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")} % 1048576"
    val ladder = BootLadder.zipWithIndex
      .map { case (thr, k) => s"WHEN $u < $thr THEN $k" }
      .mkString(" ")
    s"""WITH purchases AS (
       |  SELECT event_id, value FROM events WHERE event_type = 'purchase'),
       |point AS (
       |  SELECT count(*) AS n_purchases,
       |         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
       |           / CAST(count(*) AS DOUBLE) AS point_mean
       |  FROM purchases),
       |weighted AS (
       |  SELECT r, CASE $ladder ELSE ${BootLadder.size} END AS w, value
       |  FROM purchases, (SELECT unnest(generate_series(0, ${BootR - 1})) AS r)),
       |means AS (
       |  SELECT r, CAST(sum(CAST(value AS DECIMAL(28,6)) * w) AS DOUBLE)
       |              / CAST(sum(w) AS DOUBLE) AS boot_mean
       |  FROM weighted GROUP BY r),
       |ci AS (
       |  SELECT quantile_cont(boot_mean, 0.025) AS ci_lo,
       |         quantile_cont(boot_mean, 0.975) AS ci_hi
       |  FROM means)
       |SELECT n_purchases, point_mean, ci_lo, ci_hi FROM point, ci""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ev_value_quantiles: exact distributed percentiles per event type
  // ---------------------------------------------------------------------

  /** Exact p50/p90/p99 of event value per type — the latency/value
    * SLO table, computed with Spark's exact distributed `percentile`
    * (sort-based within group) rather than a sketch: both engines
    * define the quantile as linear interpolation at rank (n−1)·p over
    * the sorted values, and the interpolation arithmetic is
    * bit-identical cross-engine (verified through the driver's hash
    * gate — including the float noise digits). The sketch tier for
    * streams is `functions.WelfordAgg`/CMS; THIS is the exact batch
    * audit those sketches are graded against.
    *
    * Scale shape: one shuffle on event_type; percentile is an exact
    * sort-per-group aggregate, so per-group memory is O(group) — the
    * per-type grain is data-model-bounded (|event types|), and a
    * high-cardinality grouping would swap in approx_percentile
    * instead (documented trade). */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        max(col("value")).as("v_max"))
      .orderBy(col("event_type"))

  val valueQuantilesSql: String =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90,
      |       quantile_cont(value, 0.99) AS p99,
      |       max(value) AS v_max
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // ev_type_day_rollup: grouping-sets subtotals (the Expand operator)
  // ---------------------------------------------------------------------

  /** ROLLUP(event_type, day): the per-cell, per-type-subtotal, and
    * grand-total rows a BI layer reads as ONE result set instead of
    * three queries — exercising Spark's grouping-sets machinery (the
    * `Expand` operator: each input row fans out once per grouping
    * level BEFORE the aggregate, so subtotals are exact even for the
    * non-additive distinct-user count; `grouping()` flags
    * disambiguate a subtotal from a literal group).
    *
    * Scale shape: Expand multiplies shuffle input by the number of
    * levels (3 here) — the price of exact distincts per level; an
    * additive-only rollup would instead re-aggregate the finest cell
    * (the two-phase shape ev_daily_summary's consumers use). All
    * aggregates map-side partial. */
  def typeDayRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("value"), col("user_id"))
      .rollup(col("event_type"), col("day"))
      .agg(
        grouping(col("event_type")).cast(LongType).as("g_type"),
        grouping(col("day")).cast(LongType).as("g_day"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        count_distinct(col("user_id")).as("n_users"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("g_type"), col("g_day"), col("n_events"), col("total_value"),
        col("n_users"))
      .orderBy(col("g_type"), col("g_day"), col("event_type"), col("day"))

  val typeDayRollupSql: String =
    """SELECT COALESCE(event_type, 'ALL') AS event_type,
      |       COALESCE(day, 'ALL') AS day,
      |       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
      |       CAST(GROUPING(day) AS BIGINT) AS g_day,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |             value, user_id
      |      FROM events)
      |GROUP BY ROLLUP(event_type, day)
      |ORDER BY g_type, g_day, event_type, day""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame), String)] = Seq(
    ("ev_type_day_rollup", (s, d) => typeDayRollup(s, d), typeDayRollupSql),
    ("ev_value_quantiles", (s, d) => valueQuantiles(s, d), valueQuantilesSql),
    ("ev_hourly_metrics", (s, d) => hourlyMetrics(s, d), hourlyMetricsSql),
    ("ev_rolling_24h", (s, d) => rolling24h(s, d), rolling24hSql),
    ("ev_daily_summary", (s, d) => dailySummary(s, d), dailySummarySql),
    ("ev_customer_view", (s, d) => customerView(s, d), customerViewSql),
    ("ev_channel_performance", (s, d) => channelPerformance(s, d), channelPerformanceSql),
    ("ev_engagement_funnel", (s, d) => engagementFunnel(s, d), engagementFunnelSql),
    ("ev_customer_activity", (s, d) => customerActivity(s, d), customerActivitySql),
    ("ev_cumulative_adoption", (s, d) => cumulativeAdoption(s, d), cumulativeAdoptionSql),
    ("ev_demand_elasticity", (s, d) => demandElasticity(s, d), demandElasticitySql),
    ("ev_peak_load", (s, d) => peakLoad(s, d), peakLoadSql),
    ("ev_business_kpis",
      (s: SparkSession, d: String) => businessKpis(s, d), businessKpisSql),
    ("ev_dynamic_pricing", (s, d) => dynamicPricing(s, d), dynamicPricingSql),
    ("ev_ab_framework", (s, d) => abFramework(s, d), abFrameworkSql),
    ("ev_validation_summary", (s, d) => validationSummary(s, d), validationSummarySql),
    ("ev_total_error_value", (s, d) => totalErrorValue(s, d), totalErrorValueSql),
    ("ev_sessionization", sessionization _, sessionizationSql),
    ("ev_asof_join", asofLastError _, asofLastErrorSql),
    ("ev_type_rollup", typeRollup _, typeRollupSql),
    ("ev_range_join", rangeJoinErrors _, rangeJoinErrorsSql),
    ("ev_stream_interval_join", streamIntervalJoin _, streamIntervalJoinSql),
    ("ev_user_ranks", userRanks _, userRanksSql),
    ("ev_daily_type_pivot", dailyTypePivot _, dailyTypePivotSql),
    ("ev_retention_cohorts", retentionCohorts _, retentionCohortsSql),
    ("ev_hourly_anomalies", hourlyAnomalies _, hourlyAnomaliesSql),
    ("ev_anomaly_mad", anomalyMad _, anomalyMadSql),
    ("ev_gap_fill", gapFill _, gapFillSql),
    ("ev_trend_theil_sen", trendTheilSen _, trendTheilSenSql),
    ("ev_benford_audit", benfordAudit _, benfordAuditSql),
    ("ev_purchase_error_days", purchaseErrorDays _, purchaseErrorDaysSql),
    ("ev_user_overlap", userOverlap _, userOverlapSql),
    ("ev_daily_unpivot", dailyUnpivot _, dailyUnpivotSql),
    ("ev_hourly_bookends", hourlyBookends _, hourlyBookendsSql),
    ("ev_funnel_sequences", funnelSequences _, funnelSequencesSql),
    ("ev_transition_matrix", transitionMatrix _, transitionMatrixSql),
    ("ev_markov_steady", markovSteady _, markovSteadySql),
    ("ev_sequence_entropy", sequenceEntropy _, sequenceEntropySql),
    ("ev_bootstrap_ci", bootstrapCi _, bootstrapCiSql),
    ("ev_ewma_forecast", ewmaForecast _, ewmaForecastSql),
    ("ev_attribution", attribution _, attributionSql),
    ("ev_active_users", activeUsers _, activeUsersSql),
    ("ev_streaks", streaks _, streaksSql),
    ("ev_ab_srm", abSrm _, abSrmSql),
    ("ev_power_analysis", powerAnalysis _, powerAnalysisSql),
    ("ev_cuped", cuped _, cupedSql),
    ("ev_did", did _, didSql),
    ("ev_dow_type_cube", dowTypeCube _, dowTypeCubeSql),
    // sketch estimates aren't cross-engine reproducible -> no oracle
    // (driver records rows-only); error bounded vs exact in specs
    ("ev_hourly_metrics_approx", hourlyMetricsApprox _, null),
    ("ev_active_users_approx", activeUsersApprox _, null))
}
