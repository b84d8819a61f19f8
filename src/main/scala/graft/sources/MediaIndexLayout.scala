package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.queries.MultimodalQueries
import graft.util.Tables

/** Build-once / check-many persistence for PERCEPTUAL media dedup —
  * the [[DeltaIndex]] lifecycle applied to the multimodal tier:
  * instead of re-signing the whole asset store per snapshot
  * (`mm_near_dup_pairs` recomputes every tile signature per run), the
  * corpus's tile rows are persisted once and each delta of NEW media
  * is checked delta × (corpus ∪ delta) on the tile cell.
  *
  * One table under `prefix`: `<prefix>_tiles` (doc_id, media_format,
  * digest, psig, tile_id, tile), bucketed + sorted by `tile` — the
  * candidate equi-join key (tile ⊂ the (format, tile_id, tile) join
  * key set, so the bucketed distribution co-locates the join with no
  * corpus-side shuffle). The full signature and digest ride on every
  * row, so verification (Hamming + same-bytes flag) needs no second
  * corpus lookup — the 8-byte psig is the whole "vector".
  *
  * No geometry to freeze: tile count, window width/stride, and hash
  * constants are fixed code ([[MultimodalQueries]]), the structural
  * freeze again. Check/append share the online query's code paths, so
  * [[dedupDelta]] is byte-equal to `mm_near_dup_pairs` restricted to
  * pairs touching the delta (MediaIndexLayoutSpec, both directions).
  */
object MediaIndexLayout {

  private val Tiles = DeltaIndex.Table("tiles", "tile", "doc_id")

  def build(spark: SparkSession, dir: String, prefix: String,
      buckets: Int = 8, where: Column = lit(true)): Unit =
    buildDocs(spark, prefix,
      Tables.load(spark, dir, "documents").filter(where)
        .select(col("doc_id"), col("text")), buckets)

  /** [[build]] for an ARBITRARY (doc_id, text·payload) frame. */
  def buildDocs(spark: SparkSession, prefix: String, docs: DataFrame,
      buckets: Int = 8): Unit = {
    val d = docs.dropDuplicates("doc_id")
    BucketedTables.writeBucketed(MultimodalQueries.tileRowsOf(d),
      Tiles.name(prefix), Tiles.key, buckets)
    // the ingest ledger covers every INPUT doc (a tile-less asset is
    // fully filed by filing nothing), so re-sends skip it either way
    IngestLedger.create(d.select(col("doc_id")), prefix, buckets)
  }

  /** Sign + tile ONLY the given media and append — idempotent under
    * retries and replays via the [[IngestLedger]] intent-first
    * protocol ([[DeltaIndex.appendLedgered]]). Within-batch duplicates
    * collapse first. */
  def appendDeltaDocs(spark: SparkSession, prefix: String,
      docs: DataFrame, buckets: Int = 8): Unit = {
    val d = docs.dropDuplicates("doc_id").localCheckpoint(true)
    appendDeltaDocsFrom(spark, prefix,
      d.select(col("doc_id")).localCheckpoint(true),
      MultimodalQueries.tileRowsOf(d).localCheckpoint(true), buckets)
  }

  /** [[appendDeltaDocs]] with the delta's signature/tile pass
    * PRECOMPUTED — the composed snapshot path files the same
    * materialized tile rows the gate check consumed, so a snapshot
    * pays the `graft_psig` kernel exactly once. */
  private[sources] def appendDeltaDocsFrom(spark: SparkSession,
      prefix: String, ids: DataFrame, tD: DataFrame, buckets: Int): Unit =
    DeltaIndex.appendLedgered(spark, prefix, ids, buckets, Seq(Tiles -> tD))

  /** Check a delta of NEW media against corpus + delta: verified
    * (media_format, doc_a, doc_b, hamming, same_bytes) near-dup pairs
    * with ≥1 delta member. Does NOT append; safe to re-run after the
    * append (delta-id anti-join hides the filed copies). Tombstoned
    * docs stop matching immediately. */
  def dedupDelta(spark: SparkSession, prefix: String,
      newDocs: DataFrame): DataFrame = {
    val d = newDocs.dropDuplicates("doc_id").localCheckpoint(true)
    dedupDeltaFrom(spark, prefix,
      d.select(col("doc_id")).localCheckpoint(true),
      MultimodalQueries.tileRowsOf(d).localCheckpoint(true))
  }

  /** [[dedupDelta]] with the delta's signature/tile pass PRECOMPUTED
    * ([[MultimodalQueries.mediaDeltaPairsCoreFrom]]) — the composed
    * snapshot path's media leg.
    *
    * Bounded deltas (≤ [[ScanPrune.maxDeltaDocs]]) PRUNE the corpus
    * tile scan to the delta's own tile values before the candidate
    * join — exact by join algebra (the join requires tile equality,
    * so a corpus row with a non-delta tile cannot match), and
    * bucket-file + parquet-page prunable because `tile` is the
    * table's bucket/sort key ([[ScanPrune]]; PrunedVerifySpec pins
    * pruned == full). The tile join IS the verification here (the
    * full psig rides every row), so one pruned scan covers the whole
    * check. */
  private[sources] def dedupDeltaFrom(spark: SparkSession, prefix: String,
      ids: DataFrame, tD: DataFrame): DataFrame = {
    val tiles = DeltaIndex.live(spark, prefix, prefix, Tiles)
    val maxDocs = ScanPrune.maxDeltaDocs(spark)
    val tilesIn =
      if (maxDocs > 0L && ids.count() <= maxDocs)
        ScanPrune.pushedInSet(spark, tiles, "tile",
          tD.select(col("tile")).distinct())
      else tiles
    MultimodalQueries.mediaDeltaPairsCoreFrom(tilesIn, ids, tD)
  }

  /** CONTINUOUS media ingest: check-then-append per micro-batch off
    * one materialized tile pass ([[DeltaIndex]]'s contract). */
  def ingestStream(spark: SparkSession, prefix: String,
      docStream: DataFrame, buckets: Int = 8,
      checkpoint: Option[String] = None)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(docStream, checkpoint) { (batch, batchId) =>
      val d = batch.dropDuplicates("doc_id").localCheckpoint(true)
      val ids = d.select(col("doc_id")).localCheckpoint(true)
      val tD = MultimodalQueries.tileRowsOf(d).localCheckpoint(true)
      sink(dedupDeltaFrom(spark, prefix, ids, tD), batchId)
      appendDeltaDocsFrom(spark, prefix, ids, tD, buckets)
    }

  /** Right-to-be-forgotten: tombstone the ids (immediate exclusion
    * from checks), physical erasure at the next [[compact]]. */
  def purgeDocs(spark: SparkSession, prefix: String,
      docIds: DataFrame): Unit =
    Tombstones.purge(spark, prefix, docIds)

  /** Coverage gauge ([[DeltaIndex.coverage]]) over the tile index. */
  def stalenessMetrics(spark: SparkSession, dir: String,
      prefix: String): DataFrame =
    DeltaIndex.coverage(spark, dir, prefix, Tiles)

  def compact(spark: SparkSession, prefix: String, buckets: Int = 8): Unit =
    DeltaIndex.compact(spark, prefix, prefix, Seq(Tiles), buckets)
}
