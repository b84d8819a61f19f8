package graft.streaming

import org.apache.spark.sql.SparkSession

/** Threshold alerting over the curated layout's frozen cosine-LSH
  * geometry — the [[IndexStalenessMonitor]] pattern applied to
  * [[graft.sources.CuratedCorpusLayout.geometryAudit]]: the build
  * sizes the band width W once (`autoPlanesPerBand`), but nothing
  * about the freeze stops the corpus from growing past 2^W × pool
  * capacity BETWEEN rebuilds — at which point candidate generation is
  * silently rate-sampled and the recall-favoring narrow band quietly
  * inverts (the BENCH_SF1 round-15 measurement). This monitor pages on
  * exactly that telltale: nonzero evicted share in any band of the
  * LIVE persisted band state.
  *
  * Like the staleness monitors, the audit is a LEVEL, not a rate:
  * each tick fully describes the state, so the rule is
  * breach-sustained-for-`sustainMs`, cleared the moment a tick
  * measures at-or-below the threshold — a rebuild re-freezes a wider
  * W, the next audit reads zero eviction, and the alert clears.
  * [[record]] is clock-explicit so specs drive crafted timelines;
  * [[check]] runs the real audit and records its worst band.
  *
  * `evictedPpmMax` defaults to 0: ANY binding truncation is a breach
  * (eviction is possible only in saturated buckets, so nonzero
  * evicted_ppm exactly flags it — the audit's own contract). A
  * deployment tolerating a measured recall budget can raise it. */
class GeometrySaturationMonitor(
    evictedPpmMax: Long = 0L,
    protected val sustainMs: Long = 0L)
    extends SustainedBreach[GeometrySaturationMonitor.Transition] {

  /** Record one audit observation (the WORST band's evicted share and
    * the total saturated-bucket count) and re-evaluate the rule. */
  def record(atMs: Long, evictedPpm: Long,
      nSaturatedBuckets: Long): Unit =
    observe(atMs, evictedPpm > evictedPpmMax)(
      GeometrySaturationMonitor.Transition(atMs, _, evictedPpm,
        nSaturatedBuckets))

  /** Run the live-geometry audit for curated `prefix`, record its
    * worst band at `atMs`, and return the measured
    * (max evicted_ppm, total saturated buckets). */
  def check(spark: SparkSession, prefix: String,
      atMs: Long): (Long, Long) = {
    val rows = graft.sources.CuratedCorpusLayout
      .geometryAudit(spark, prefix).collect()
    require(rows.nonEmpty,
      s"$prefix: geometry audit returned no bands — is the prefix built?")
    val worst = rows.map(_.getAs[Long]("evicted_ppm")).max
    val sat = rows.map(_.getAs[Long]("n_saturated_buckets")).sum
    record(atMs, worst, sat)
    (worst, sat)
  }
}

object GeometrySaturationMonitor {

  /** One alert state change: raised (firing=true) or cleared. */
  final case class Transition(atMs: Long, firing: Boolean,
      evictedPpm: Long, nSaturatedBuckets: Long)
}
