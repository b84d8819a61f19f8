package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** File/page-level pruning of corpus-side index scans for DELTA
  * verification — the fix for the ingest slope's last corpus-linear
  * term.
  *
  * A delta check is an equi-join of a request-sized delta against a
  * corpus-sized bucketed table (MinHash bands on `key`, shingles on
  * `doc_id`, perceptual tiles on `tile`). The join itself is
  * shuffle-free — the corpus side is bucketed on the join key — but a
  * sort-merge or broadcast join still READS every bucket: IO/decode
  * linear in index size, paid per micro-batch. That scan was the
  * measured residual ≈1.5–1.8×-per-decade ingest slope at the 100×
  * corpus (STREAMBENCH.md round 15).
  *
  * A bounded delta can only match corpus rows whose join key appears
  * in the delta, so the corpus scan is pre-filtered with an explicit
  * IN over the delta's (collected, bounded) key set. One declarative
  * filter engages every scan-pruning layer Spark/parquet already
  * have:
  *  - BUCKET pruning: the filter column IS the bucket column, so
  *    non-matching bucket FILES drop out at planning time. At
  *    deployment bucket counts (buckets ≈ table_size / 128–512 MB —
  *    tens of thousands at 100 TB) a small delta's key set touches a
  *    vanishing fraction of buckets, making the check's read
  *    DELTA-sized, not corpus-sized;
  *  - row-group and PAGE pruning: the tables are `sortBy` the same
  *    key within buckets, so parquet min/max statistics and column
  *    indexes skip every page containing no delta key — this is the
  *    layer that bites at test bucket counts, where a 250-doc delta
  *    still touches all N buckets but reads only the matching pages
  *    of each;
  *  - ordinary row-level predicate eval on whatever survives.
  * Correctness is join algebra, not sampling: an equi-join output row
  * whose corpus key lies outside the delta's key set cannot exist, so
  * the pruned check is byte-equal to the full-scan check
  * (PrunedVerifySpec pins both layouts, both directions).
  *
  * The key set is collected to the driver, so the path is gated to
  * bounded deltas (`graft.ingest.pruneMaxDeltaDocs` docs, default
  * [[PruneMaxDeltaDocs]]); above the gate the full-scan plan runs
  * unchanged — a bulk backfill's key set approaches the corpus's own
  * anyway, and its one scan amortizes over the whole delta. Collect
  * cost in the composed path: the shared delta frames cache whenever
  * the batch sits within [[IngestGate.ComposeCacheMaxBytes]] (the
  * usual bounded-delta case), and then the key collects read
  * checkpointed rows. A ≤[[PruneMaxDeltaDocs]]-doc delta of LARGE
  * documents can exceed the byte dial and stay lazy while still being
  * pruned — there each key collect re-runs the per-doc kernel once
  * more for that batch; accepted, because in that regime the kernels
  * are recomputed per consumer anyway (the measured cache inversion,
  * [[IngestGate.ComposeCacheMaxBytes]]) and the collect is one more
  * bounded consumer.
  */
private[graft] object ScanPrune {

  /** Default doc-count gate for the pruned path — the steady-state
    * micro-batch class (hundreds to low thousands of docs) prunes;
    * bulk backfills fall back to the full scan. At 4 band keys and a
    * handful of tiles per doc the implied IN lists stay ≤ ~20k
    * literals, bounded driver and planning cost. */
  val PruneMaxDeltaDocs: Long = 4096L

  /** Session conf first; the `SPARK_GRAFT_PRUNE_MAX_DOCS` env var is
    * the bench-harness A/B switch (same precedence shape as the other
    * SPARK_GRAFT_* harness dials — a library deployment uses the
    * conf). */
  def maxDeltaDocs(spark: SparkSession): Long =
    spark.conf.get("graft.ingest.pruneMaxDeltaDocs",
      sys.env.getOrElse("SPARK_GRAFT_PRUNE_MAX_DOCS",
        PruneMaxDeltaDocs.toString)).toLong

  /** Parquet evaluates a pushed eq-or-chain RECURSIVELY, several stack
    * frames per Or node — a 100×-composed run's candidate set (bounded
    * only by the 16× fallback cap) built a chain deep enough to blow
    * the executor stack (StackOverflowError inside the scan's reader
    * init), and the first ceiling chosen after that post-mortem (4096)
    * was subsequently caught overflowing TOO on a ~4k-key shingle push
    * inside the deeper composed-gate plan (the task thread enters the
    * recursive filter eval with less headroom there, so the safe depth
    * is plan-dependent — a constant at the observed failure point is
    * not a bound). The next ceiling, 1024, overflowed as well: its
    * PushdownCeilingSpec push needs more than 512 KB of task stack run
    * alone (the spec fails under `-Xss512k`), and it overflowed the
    * default 1 MB late in two full test runs in a row, so the stack a
    * push needs depends on the JVM's state as well as on the plan (at
    * 256 keys the spec passes alone under `-Xss384k`). 256 is a
    * quarter of that shallowest failing depth on the default 1 MB task
    * stack; larger sets keep the Catalyst INSET row filter and the
    * bucket-set FILE pruning (neither goes through parquet's recursive
    * filter tree) and forgo only the page-level layer. */
  val MaxPushdownIn: Int = 256

  /** The branch bound as actually consulted — the session conf
    * `graft.scanprune.maxPushdownIn` can only LOWER it, never raise
    * it: the constant above carries the measured stack-safety
    * evidence, and a conf that could re-raise the ceiling would
    * reintroduce the exact failure the r17 post-mortem removed. The
    * lowering seam exists for (a) deployments whose plans are deeper
    * than the measured context and want extra headroom, and (b)
    * PushdownCeilingSpec, which forces the over-gate semi-join branch
    * on the SAME delta to pin byte-equality of the two plans at the
    * ceiling. */
  def maxPushdownIn(spark: SparkSession): Int =
    math.min(MaxPushdownIn,
      spark.conf.get("graft.scanprune.maxPushdownIn",
        MaxPushdownIn.toString).toInt)

  /** Spark pushes an IN to parquet as an eq-or-chain only up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` values — beyond
    * that only the [min, max] RANGE is pushed, which prunes nothing
    * for hash-uniform keys. Delta key sets legitimately run to a few
    * thousand, so raise the session threshold to cover the set being
    * pushed (never lower it) — but never past [[MaxPushdownIn]]: a
    * deeper chain overflows parquet's recursive filter evaluation, so
    * oversized sets deliberately stay un-pushed (range only) while
    * bucket pruning and the INSET row filter still apply.
    *
    * The raise is a DELIBERATE session-wide ratchet, never restored:
    * the pruned frames are consumed lazily after this call (their
    * scans plan when a downstream action runs), so a save/restore
    * around the call would plan them back at the tiny default and
    * silently lose the page-level layer. The ratchet is bounded by
    * [[MaxPushdownIn]] (see its scaladoc: the safe depth is
    * plan-dependent, so the value carries the measured evidence),
    * and a larger IN threshold only changes HOW an IN is pushed to
    * parquet — eq-or-chain vs range — never a result, so unrelated
    * queries in a long-lived serving session see at most a plan-shape
    * change within parquet's proven bounds. */
  def ensureInPushdown(spark: SparkSession, n: Int): Unit = {
    val k = "spark.sql.parquet.pushdown.inFilterThreshold"
    val target = math.min(n, maxPushdownIn(spark))
    if (spark.conf.get(k, "10").toInt < target) spark.conf.set(k, target.toString)
  }

  /** [[inSet]] over the collected 1-column `values` frame, with the
    * parquet IN threshold raised so all of them are pushed
    * ([[ensureInPushdown]]). */
  def pushedInSet(spark: SparkSession, df: DataFrame, key: String,
      values: DataFrame): DataFrame = {
    val vs = values.collect().map(_.get(0)).toSeq
    ensureInPushdown(spark, vs.length)
    inSet(df, key, vs)
  }

  /** `df` restricted to rows whose `key` ∈ `values` — the prunable IN
    * literal filter. The empty set degenerates to `false` (an empty
    * delta matches nothing; `isin()` with zero arguments is not
    * well-defined). */
  def inSet(df: DataFrame, key: String, values: Seq[Any]): DataFrame =
    if (values.isEmpty) df.filter(lit(false))
    else df.filter(col(key).isin(values: _*))
}
