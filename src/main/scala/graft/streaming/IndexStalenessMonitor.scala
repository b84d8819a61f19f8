package graft.streaming

import org.apache.spark.sql.SparkSession

/** Threshold alerting over the persisted text index's staleness — the
  * [[AlertMonitor]] pattern applied to
  * [[graft.sources.TextIndexLayout.stalenessMetrics]]: where
  * AlertMonitor pages on the ingest failure rate (the reference's
  * `HighEventFailureRate`, monitoring/prometheus/alerts.yml:5-12),
  * this pages on "the serving index no longer matches the corpus" —
  * the signal that decides when the rare full rebuild is due.
  *
  * Two level thresholds, both from the audit's own analysis: OOV token
  * mass (occurrence mass the frozen vocabulary silently drops at
  * scoring time) and avgdl shift (a 10% shift already moves every
  * length-normalized score). Unlike the failure RATE — which needs a
  * sliding window — these are LEVELS: each audit tick fully describes
  * the state, so the rule is breach-sustained-for-`sustainMs`, cleared
  * the moment a tick measures below both thresholds (a rebuild or
  * compaction resets the geometry and the next audit clears the
  * alert). [[record]] is clock-explicit so specs drive crafted
  * timelines; [[check]] runs the real audit and records it — call it
  * from the maintenance cadence (after each delta batch, or on a
  * timer), exactly where a Prometheus scrape would sit.
  */
class IndexStalenessMonitor(
    oovMassPpm: Long = 50000L,
    avgdlShiftPpm: Long = 100000L,
    protected val sustainMs: Long = 0L)
    extends SustainedBreach[IndexStalenessMonitor.Transition] {

  /** Record one audit observation and re-evaluate the rule. */
  def record(atMs: Long, oovPpm: Long, avgdlPpm: Long): Unit =
    observe(atMs, oovPpm > oovMassPpm || avgdlPpm > avgdlShiftPpm)(
      IndexStalenessMonitor.Transition(atMs, _, oovPpm, avgdlPpm))

  /** Run the staleness audit for `prefix` against the live corpus at
    * `dir`, record it at `atMs`, and return the measured
    * (oov_mass_ppm, avgdl_shift_ppm). */
  def check(spark: SparkSession, dir: String, prefix: String,
      atMs: Long): (Long, Long) = {
    val row = graft.sources.TextIndexLayout
      .stalenessMetrics(spark, dir, prefix).head()
    val oov = row.getAs[Long]("oov_mass_ppm")
    val avg = row.getAs[Long]("avgdl_shift_ppm")
    record(atMs, oov, avg)
    (oov, avg)
  }
}

object IndexStalenessMonitor {

  /** One alert state change: raised (firing=true) or cleared. */
  final case class Transition(atMs: Long, firing: Boolean,
      oovPpm: Long, avgdlPpm: Long)
}
