package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Threshold alerting over streaming progress — the engine-side analog
  * of the reference's Prometheus rule `HighEventFailureRate`
  * (monitoring/prometheus/alerts.yml:5-12: alert when failed events
  * exceed 5/min, sustained for 1 minute). The reference exports
  * counters and lets Prometheus evaluate the rule; here the same
  * evaluation rides the engine's own progress events, so the alert
  * works anywhere the stream runs — no scrape loop required.
  *
  * Wiring: `spark.streams.addListener(monitor)` next to
  * [[EventsPipeline.start]]. Each progress event carries the
  * `graft_ingest` observed metrics (valid/invalid per micro-batch, see
  * EventsPipeline); the monitor keeps a sliding `windowMs` of invalid
  * counts, computes the per-minute failure rate, and flips `firing`
  * once the rate stays above `failuresPerMinute` for `sustainMs`.
  * State is O(samples in window) — independent of stream volume.
  *
  * [[record]] is public and clock-explicit so specs (and batch
  * backfills) can drive crafted timelines deterministically; the
  * listener callback just extracts (timestamp, invalid_events) and
  * delegates.
  *
  * Listeners are session-global: when more than one query exposing
  * `graft_ingest` can run on the SparkSession (a restart overlapping
  * the stopping query, side-by-side pipelines), pass `onlyQuery` so
  * each monitor tracks exactly one query's stream instead of summing
  * interleaved progress into one window. Out-of-order progress
  * delivery is tolerated: evaluation time is the max event time seen,
  * and eviction scans the whole (bounded) window rather than assuming
  * monotonic arrival.
  *
  * Prometheus evaluates its rule on a timer, so an alert raised (or a
  * rate that has dropped) is re-assessed even when no new samples
  * arrive. Progress events stop when the source goes quiet, which
  * would freeze the rule mid-state; `onQueryIdle` therefore advances
  * the clock with a zero-count sample ([[tick]]), so silence drains
  * the window — clearing a firing alert — exactly as the scrape-loop
  * evaluation would.
  */
class AlertMonitor(
    failuresPerMinute: Double = 5.0,
    protected val sustainMs: Long = 60000L,
    windowMs: Long = 60000L,
    onlyQuery: Option[String] = None) extends StreamingQueryListener
    with SustainedBreach[AlertMonitor.Transition] {

  private val samples = scala.collection.mutable.ArrayDeque.empty[(Long, Long)]
  private var invalidTotal = 0L

  /** Total invalid events observed since attach (the raw counter the
    * reference exports as events_failed_total). */
  def totalInvalid: Long = synchronized(invalidTotal)

  /** Record one (sample time, invalid count) observation and
    * re-evaluate the rule. */
  def record(atMs: Long, invalid: Long): Unit = synchronized {
    invalidTotal += invalid
    samples.append((atMs, invalid))
    // evaluate at the max time seen: a late-delivered older event must
    // not roll the window backwards or wedge head-only eviction
    val nowMs = math.max(atMs, samples.iterator.map(_._1).max)
    samples.filterInPlace(_._1 > nowMs - windowMs)
    val ratePerMin =
      samples.iterator.map(_._2).sum * 60000.0 / windowMs.toDouble
    observe(nowMs, ratePerMin > failuresPerMinute)(
      AlertMonitor.Transition(nowMs, _, ratePerMin))
  }

  /** Advance the evaluation clock with no new failures — what a
    * timer-driven rule engine does between scrapes. */
  def tick(atMs: Long): Unit = record(atMs, 0L)

  // idle events carry an id but no query name: remember the id whose
  // start/progress matched `onlyQuery` so name-addressed monitors still
  // see their own idle ticks. Captured at onQueryStarted (the start
  // event DOES carry the name) so a stream that is idle from startup —
  // or restarts and goes quiet before its first progress — ticks from
  // its first event onward; a restart under the same name re-binds to
  // the latest started id
  @volatile private var matchedId: Option[String] = None
  // once any started event has bound the id, progress events must not
  // re-bind it: during an overlapping restart the OLD run's late
  // progress still matches by name, and letting it steal the binding
  // would deafen the monitor to the new run's idle ticks. Progress
  // binding remains the fallback for monitors attached mid-flight.
  @volatile private var boundByStart: Boolean = false

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    if (onlyQuery.exists(n => n == event.name || n == event.id.toString)) {
      matchedId = Some(event.id.toString)
      boundByStart = true
    }
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryIdle(event: QueryIdleEvent): Unit = {
    val mine = onlyQuery.forall(n =>
      n == event.id.toString || matchedId.contains(event.id.toString))
    if (mine) tick(java.time.Instant.parse(event.timestamp).toEpochMilli)
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val om = event.progress.observedMetrics
    val mine = onlyQuery.forall(n =>
      n == event.progress.name || n == event.progress.id.toString)
    if (mine && om.containsKey("graft_ingest")) {
      if (!boundByStart) matchedId = Some(event.progress.id.toString)
      val atMs = java.time.Instant.parse(event.progress.timestamp).toEpochMilli
      record(atMs, om.get("graft_ingest").getAs[Long]("invalid_events"))
    }
  }
}

object AlertMonitor {

  /** One alert state change: raised (firing=true) or cleared. */
  final case class Transition(atMs: Long, firing: Boolean, ratePerMin: Double)
}
