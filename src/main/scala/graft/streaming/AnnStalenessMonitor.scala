package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Threshold alerting over the ANN index's GEOMETRY staleness — the
  * [[IndexStalenessMonitor]] contract applied to
  * [[graft.sources.AnnIndexLayout.stalenessMetrics]]: the text index
  * knows when its frozen vocabulary has rotted (OOV mass / avgdl
  * shift); this is the same page for the vector index's frozen coarse
  * centroids + PQ codebook, whose decay mode is silent recall loss
  * rather than an error.
  *
  * Two LEVEL thresholds from the audit's own analysis: cell-occupancy
  * skew (total-variation distance of current vs build-time occupancy
  * shares — deltas piling into cells the build never favored) and
  * quantization-error rise (the frozen codebook reconstructing recent
  * vectors worse than it reconstructed the build sample). Levels, not
  * rates: each audit tick fully describes the state, so the rule is
  * breach-sustained-for-`sustainMs`, cleared the moment a tick
  * measures below both thresholds — a rebuild recaptures the
  * reference tables and the next audit clears the alert.
  * [[record]] is clock-explicit so specs drive crafted timelines;
  * [[check]] runs the real audit and records it — call it from the
  * maintenance cadence (after each delta batch), exactly where a
  * metrics scrape would sit.
  */
class AnnStalenessMonitor(
    occSkewPpm: Long = 200000L,
    qerrRisePpm: Long = 250000L,
    protected val sustainMs: Long = 0L)
    extends SustainedBreach[AnnStalenessMonitor.Transition] {

  /** Record one audit observation and re-evaluate the rule. */
  def record(atMs: Long, occPpm: Long, qerrPpm: Long): Unit =
    observe(atMs, occPpm > occSkewPpm || qerrPpm > qerrRisePpm)(
      AnnStalenessMonitor.Transition(atMs, _, occPpm, qerrPpm))

  /** Run the geometry audit for `prefix` with `recentVecs` as the
    * freshness probe, record it at `atMs`, and return the measured
    * (occ_skew_ppm, qerr_rise_ppm). */
  def check(spark: SparkSession, prefix: String, recentVecs: DataFrame,
      atMs: Long): (Long, Long) = {
    val row = graft.sources.AnnIndexLayout
      .stalenessMetrics(spark, prefix, recentVecs).head()
    val occ = row.getAs[Long]("occ_skew_ppm")
    val qerr = row.getAs[Long]("qerr_rise_ppm")
    record(atMs, occ, qerr)
    (occ, qerr)
  }
}

object AnnStalenessMonitor {

  /** One alert state change: raised (firing=true) or cleared. */
  final case class Transition(atMs: Long, firing: Boolean,
      occPpm: Long, qerrPpm: Long)
}
