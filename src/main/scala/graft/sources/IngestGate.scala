package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The UNIFIED snapshot ingest gate — one micro-batch driven through
  * all three persisted duplicate checks, emitting ONE keep/drop row
  * per new asset:
  *  - text: banded MinHash over [[DedupIndexLayout]] (`<prefix>_dd`),
  *  - media: perceptual tiles over [[MediaIndexLayout]]
  *    (`<prefix>_mm`),
  *  - semantic: corpus-frozen IVF-PQ at the SemDeDup cosine floor over
  *    [[AnnIndexLayout]] (`<prefix>_ann`).
  * The text⊗media crossmodal verdict (`mm_crossmodal_pairs`' grammar:
  * both / text_only / media_only / none) rides each row next to the
  * semantic flag; `keep` means duplicate in NO modality.
  *
  * Oracle twin: `mm_ingest_accounting`
  * ([[graft.queries.MultimodalQueries.ingestAccounting]]) registers the
  * same three verdicts computed online, hash-checked against DuckDB;
  * IngestGateSpec pins this gate's per-source rollup equal to that
  * query row-for-row, so the deployment path and the oracle cannot
  * drift.
  *
  * Replay safety is inherited from the three layouts — the
  * [[DeltaIndex]] check-then-append lifecycle for the whole snapshot
  * at once.
  */
object IngestGate {

  /** The corpus's content-hash train/eval split — the eval side of the
    * decontamination verdict (narrow, doc_id-bucketed; text never
    * re-read at check time). */
  private val Split = DeltaIndex.Table("split", "doc_id", "doc_id")

  /** Build all three persisted indexes under one prefix. `whereDocs`
    * picks the corpus documents (text + media share the doc grain);
    * `whereVecs` the corpus vectors (vec_id == doc_id by the snapshot
    * convention). */
  def build(spark: SparkSession, dir: String, prefix: String,
      buckets: Int = 8, whereDocs: Column = lit(true),
      whereVecs: Column = lit(true)): Unit = {
    // contamSidecar: the gate RUNS the decontamination verdict per
    // micro-batch, so its dd index carries the s-keyed inverted
    // sidecar — the structure that makes that verdict's corpus-side
    // passes scan-pruned and shuffle-free instead of a per-batch full
    // scan+shuffle of the doc_id-bucketed shingle table
    // ([[DedupQueries.contamDeltaFlagsCm]])
    DedupIndexLayout.build(spark, dir, s"${prefix}_dd", buckets, whereDocs,
      contamSidecar = true)
    MediaIndexLayout.build(spark, dir, s"${prefix}_mm", buckets, whereDocs)
    AnnIndexLayout.build(spark, dir, s"${prefix}_ann", buckets, whereVecs)
    BucketedTables.writeBucketed(DedupIndexLayout.splitOf(
        graft.util.Tables.load(spark, dir, "documents").filter(whereDocs)),
      Split.name(prefix), Split.key, buckets)
  }

  /** One prefix would alias the gate's `_dd`/`_split` tables onto the
    * curated layout's — the gate's filing would silently change the
    * refresh's dedup semantics — so the composed entry points fail fast. */
  private def distinctPrefixes(gatePrefix: String,
      curatedPrefix: String): Unit =
    require(gatePrefix != curatedPrefix,
      s"gatePrefix and curatedPrefix must be distinct (both '$gatePrefix')")

  /** [[build]] + [[CuratedCorpusLayout.buildIncremental]] with ONE
    * shingle index between them: the curated layout borrows the gate's
    * `<gatePrefix>_dd` instead of building its own byte-identical copy
    * — at 100 TB that halves the composed deployment's dominant index
    * storage, removes one full corpus shingle pass from the build, and
    * (with [[ingestAndCurate]]) files each snapshot into the shared
    * index exactly ONCE. Both layouts keep their exact semantics: the
    * gate's dedup verdicts and the curated gate algebra each anti-join
    * the delta's own rows, so neither can observe who filed the index
    * (SharedDdSpec pins verdicts AND the served corpus byte-equal to
    * the two-copy deployment). The borrow is recorded in the curated
    * prefix's `_ddsrc` sidecar; the shared index's lifecycle (compact,
    * purge) belongs to the GATE. */
  def buildWithCurated(spark: SparkSession, dir: String, gatePrefix: String,
      curatedPrefix: String, buckets: Int = 8,
      whereDocs: Column = lit(true), whereVecs: Column = lit(true),
      cosNBands: Int = graft.queries.DedupQueries.CosineLshBands,
      cosPlanesPerBand: Int = CuratedCorpusLayout.AutoPlanes): Unit = {
    distinctPrefixes(gatePrefix, curatedPrefix)
    build(spark, dir, gatePrefix, buckets, whereDocs, whereVecs)
    CuratedCorpusLayout.buildIncremental(spark, dir, curatedPrefix, buckets,
      where = whereDocs, whereVec = whereVecs, cosNBands = cosNBands,
      cosPlanesPerBand = cosPlanesPerBand,
      ddPrefix = Some(s"${gatePrefix}_dd"))
  }

  /** ONE verdict row per new asset: (doc_id, source, text_dup,
    * media_dup, sem_dup, crossmodal, keep). Does NOT append — call
    * [[appendDelta]] after acting on the result ([[ingestStream]]
    * sequences the two per micro-batch). `newVecs` is the batch's
    * (vec_id, embedding) rows — assets without a vector simply get
    * sem_dup = 0, like docs without an embedding pass the curation
    * chain's semantic stage untouched. */
  def checkDelta(spark: SparkSession, dir: String, prefix: String,
      newDocs: DataFrame, newVecs: DataFrame,
      minCosine: Double = 0.4): DataFrame = {
    val nd = newDocs.dropDuplicates("doc_id").localCheckpoint(true)
    checkDeltaWith(spark, dir, prefix, nd, deltaFrames(nd), newVecs,
      minCosine)
  }

  /** The cache-vs-lazy crossover of the composed path's shared per-doc
    * frames (shingles, bands, tiles), in SERIALIZED FRAME BYTES per
    * consumer — the dimension that actually drives it. A cached frame
    * is computed once but every consumer re-reads its serialized rows
    * from the block manager, while a lazy frame is recomputed per
    * consumer FUSED into that consumer's whole-stage codegen pipeline;
    * past bulk-backfill size the store+re-read costs more than the
    * recompute. Measured on the 50× salted universe
    * (ComposedIngestBench, STREAMBENCH.md round 15): cached wins at a
    * 10k-doc delta (0.86× vs sequential), INVERTS at 50k (1.76×,
    * reproduced twice), on ~300-byte docs — so the boundary sits near
    * 16 384 docs × ~300 B ≈ 5 MB of delta text, from which the per-doc
    * frames derive roughly linearly. A doc-count dial would misclassify
    * by the doc-length ratio in either direction. [[deltaFrames]]
    * compares the batch's own summed text length against this bound;
    * override via `graft.compose.cacheMaxBytes` (a negative value
    * keeps every delta lazy). Lazy composition is the sequential path's
    * plans by construction, so above the bound composed ≈ sequential
    * in cost while keeping the composition's structural guarantees
    * (one split definition, one verdict frame, one filing discipline).
    * Steady-state snapshot deltas sit far below it. */
  val ComposeCacheMaxBytes: Long = 16384L * 300L

  /** The delta's per-doc frames — distinct ids, sized shingles, MinHash
    * band rows, perceptual tile rows — defined ONCE per snapshot and
    * threaded through every consumer (check, filing, curated refresh). */
  private[sources] final case class DeltaFrames(ids: DataFrame,
      shD: DataFrame, bD: DataFrame, tD: DataFrame)

  /** [[DeltaFrames]] of `nd`, which must already be doc_id-distinct
    * and materialized: the layouts' own signature passes
    * ([[DedupIndexLayout.signaturePass]],
    * [[graft.queries.MultimodalQueries.tileRowsOf]])
    * — pure, deterministic hashing over `nd`'s checkpointed rows, so
    * consumers see identical frame CONTENT whether the frames are
    * cached (deltas within [[ComposeCacheMaxBytes]]: each pass paid
    * once) or lazy (bulk deltas: each consumer recomputes, fused into
    * its own codegen pipeline). */
  private[sources] def deltaFrames(nd: DataFrame): DeltaFrames = {
    // ids always materialize: delta-sized, broadcast into every
    // consumer's anti-joins
    val ids = nd.select(col("doc_id")).localCheckpoint(true)
    val maxBytes = nd.sparkSession.conf.get("graft.compose.cacheMaxBytes",
      ComposeCacheMaxBytes.toString).toLong
    val cache = nd.agg(coalesce(sum(length(col("text"))), lit(0L)))
      .head().getLong(0) <= maxBytes
    val mat: DataFrame => DataFrame =
      if (cache) _.localCheckpoint(true) else identity
    val (shD, bD) = DedupIndexLayout.signaturePass(nd, mat)
    DeltaFrames(ids, shD, bD,
      mat(graft.queries.MultimodalQueries.tileRowsOf(nd)))
  }

  /** [[checkDelta]] with the delta's [[DeltaFrames]] PRECOMPUTED — the
    * seam [[ingestAndCurate]] uses so one snapshot defines each
    * per-delta frame once across the gate check AND the curated
    * refresh. `contamScan` forces the corpus-scan decontamination form
    * on a sidecar-equipped prefix (the specs' equality twin). */
  private[sources] def checkDeltaWith(spark: SparkSession, dir: String,
      prefix: String, nd: DataFrame, f: DeltaFrames, newVecs: DataFrame,
      minCosine: Double, contamScan: Boolean = false): DataFrame = {
    val DeltaFrames(ids, shD, bD, tD) = f
    def hitsOf(pairs: DataFrame, flag: String): DataFrame =
      pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .join(broadcast(ids), Seq("doc_id"), "left_semi").distinct()
        .withColumn(flag, lit(1L))
    val tHits = hitsOf(
      DedupIndexLayout.dedupDeltaFrom(spark, s"${prefix}_dd", ids, shD, bD),
      "text_dup")
    val mHits = hitsOf(
      MediaIndexLayout.dedupDeltaFrom(spark, s"${prefix}_mm", ids, tD),
      "media_dup")
    val sHits = AnnIndexLayout.semanticDedupDelta(spark, dir,
        s"${prefix}_ann", newVecs, minCosine)
      .select(col("vec_new").as("doc_id")).distinct()
      .withColumn("sem_dup", lit(1L))
    // eval-leak verdict: a new TRAIN-side doc CONTAINING a corpus eval
    // doc must be flagged before it trains — delta-driven,
    // union-capped (dedup_contam_delta's exact semantics, including
    // its t.is_train scope: an eval-side delta doc can never carry the
    // flag; IngestGateSpec reconciles). Served from the s-keyed
    // inverted sidecar when the gate build wrote one (the scan-pruned,
    // shuffle-free plan — ContamSidecarSpec pins it byte-equal to the
    // corpus-scan form below, which remains the pre-sidecar
    // deployments' path).
    val useCm = !contamScan &&
      spark.catalog.tableExists(DedupIndexLayout.cmTable(s"${prefix}_dd"))
    val trainIds =
      nd.filter(graft.queries.DedupQueries.isTrainOf).select(col("doc_id"))
    val cHits = (if (useCm)
      graft.queries.DedupQueries.contamDeltaFlagsCm(spark,
        BucketedTables.read(spark,
          DedupIndexLayout.cmTable(s"${prefix}_dd")),
        shD, ids, trainIds)
    else
      graft.queries.DedupQueries.contamDeltaFlags(
        BucketedTables.read(spark, s"${prefix}_dd_shingles")
          .join(broadcast(ids), Seq("doc_id"), "left_anti"),
        shD,
        BucketedTables.read(spark, Split.name(prefix))
          .join(broadcast(ids), Seq("doc_id"), "left_anti"),
        trainIds))
      .withColumn("eval_contam", lit(1L))
    nd.select(col("doc_id"), col("source"),
        graft.queries.DedupQueries.isTrainOf.as("is_train"))
      .join(tHits, Seq("doc_id"), "left")
      .join(mHits, Seq("doc_id"), "left")
      .join(sHits, Seq("doc_id"), "left")
      .join(cHits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("text_dup", "media_dup", "sem_dup", "eval_contam"))
      .select(col("doc_id"), col("source"), col("is_train"),
        col("text_dup"), col("media_dup"), col("sem_dup"),
        col("eval_contam"),
        when(col("text_dup") === 1L && col("media_dup") === 1L, "both")
          .when(col("text_dup") === 1L, "text_only")
          .when(col("media_dup") === 1L, "media_only")
          .otherwise("none").as("crossmodal"),
        (col("text_dup") === 0L && col("media_dup") === 0L &&
          col("sem_dup") === 0L).as("keep"),
        // what a TRAINING run may actually consume: unique in every
        // modality, train-side, and not an eval leak
        (col("text_dup") === 0L && col("media_dup") === 0L &&
          col("sem_dup") === 0L && col("is_train") &&
          col("eval_contam") === 0L).as("train_ok"))
  }

  /** File the batch into all three indexes and the split table — each
    * append idempotent under retries via its layout's own discipline. */
  def appendDelta(spark: SparkSession, prefix: String, newDocs: DataFrame,
      newVecs: DataFrame, buckets: Int = 8): Unit = {
    val nd = newDocs.dropDuplicates("doc_id").localCheckpoint(true)
    appendDeltaFrom(spark, prefix, nd, deltaFrames(nd), newVecs, buckets)
  }

  /** [[appendDelta]] off the precomputed [[DeltaFrames]] of the
    * distinct, materialized `nd`. The ANN tier has no shareable
    * per-delta frame: the check consumes the delta as QUERIES
    * (probe-side centroid distances) while the append files the
    * delta's cell assignment + PQ codes. */
  private def appendDeltaFrom(spark: SparkSession, prefix: String,
      nd: DataFrame, f: DeltaFrames, newVecs: DataFrame, buckets: Int): Unit = {
    DedupIndexLayout.appendDeltaDocsFrom(spark, s"${prefix}_dd", f.ids, f.shD,
      f.bD, buckets, Some(DedupIndexLayout.splitOf(nd)))
    MediaIndexLayout.appendDeltaDocsFrom(spark, s"${prefix}_mm", f.ids, f.tD,
      buckets)
    AnnIndexLayout.appendDeltaVectors(spark, s"${prefix}_ann", newVecs,
      buckets)
    DeltaIndex.appendAntiJoined(spark, prefix, Split,
      DedupIndexLayout.splitOf(nd), buckets, Some(f.ids))
  }

  /** The per-source rollup of [[checkDelta]]'s verdicts — the exact
    * column contract of the registered `mm_ingest_accounting` query
    * (IngestGateSpec asserts equality), so a gate deployment and the
    * oracle-checked accounting read the same numbers. */
  def accountingOf(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_new"),
        sum(col("text_dup")).as("n_text_dup"),
        sum(col("media_dup")).as("n_media_dup"),
        sum(col("sem_dup")).as("n_sem_dup"),
        sum(col("text_dup") * col("media_dup")).as("n_both_tm"),
        sum(col("text_dup") * (lit(1L) - col("media_dup")))
          .as("n_text_only"),
        sum((lit(1L) - col("text_dup")) * col("media_dup"))
          .as("n_media_only"),
        sum(col("keep").cast(LongType)).as("n_keep"))
      .orderBy(col("source"))

  /** The COMPOSED snapshot path: gate check + index filing + curated
    * refresh off ONE shared delta-frame definition. A deployment that
    * runs [[checkDelta]]/[[appendDelta]] and then
    * [[CuratedCorpusLayout.refresh]] per snapshot shingles and
    * MinHash-signs the delta twice (once in the gate, once in the
    * refresh); here the delta's doc-dedup, sized-shingle, band, and
    * perceptual signature/tile frames are defined once and threaded
    * through every consumer ([[checkDeltaWith]],
    * [[DedupIndexLayout.appendDeltaDocsFrom]],
    * [[MediaIndexLayout.appendDeltaDocsFrom]],
    * [[CuratedCorpusLayout.refreshWith]]). For deltas within
    * [[ComposeCacheMaxBytes]] the frames are CACHED, so the shingle
    * and `graft_psig` passes are paid once instead of per consumer —
    * two of the sequential path's three per-delta shingle/sign passes
    * removed: measured parity (1.01×) at a 1000-doc delta where the
    * fixed state-maintenance algebra dominates, 0.86× at a 10k-doc
    * delta against a 10× corpus (ComposedIngestBench, composed leg
    * timed first — conservative ordering; 0.92× before the media
    * kernel was shared). ABOVE the byte threshold the frames stay
    * lazy BY DESIGN and each consumer re-derives its own fused pass
    * (the measured 50k-doc inversion, STREAMBENCH round 15) — the
    * pay-once claim holds only under the threshold; the structural
    * guarantees (one split definition, one verdict frame, one filing
    * discipline) hold at every size.
    *
    * Semantics are EXACTLY check → append → refresh on the same delta
    * (IngestAndCurateSpec pins verdicts and curated state byte-equal
    * to the sequential calls, and that the composed plans re-derive
    * neither shingles nor perceptual signatures). `gatePrefix` holds
    * the three gate indexes + split
    * table ([[build]]); `curatedPrefix` the curated layout
    * ([[CuratedCorpusLayout.buildIncremental]]) — distinct prefixes,
    * enforced. A [[buildWithCurated]] deployment additionally SHARES
    * the `_dd` shingle index between them (one storage copy, one
    * filing per snapshot — the refresh's own filing is skipped since
    * the gate's append already landed it). Verdicts are materialized
    * BEFORE any filing (the check-before-append discipline), and every
    * leg inherits its layout's replay idempotence, so a crashed
    * composed run is repaired by re-running it. */
  def ingestAndCurate(spark: SparkSession, dir: String, gatePrefix: String,
      curatedPrefix: String, deltaDocs: DataFrame, deltaVecs0: DataFrame,
      buckets: Int = 8, minCosine: Double = 0.4): DataFrame = {
    distinctPrefixes(gatePrefix, curatedPrefix)
    val nd = deltaDocs.dropDuplicates("doc_id").localCheckpoint(true)
    val f = deltaFrames(nd)
    // pinned: consumed by the gate check, the ANN filing, and the
    // curated cosine-state refresh
    val deltaVecs = deltaVecs0.localCheckpoint(true)
    val verdicts = checkDeltaWith(spark, dir, gatePrefix, nd, f, deltaVecs,
      minCosine).localCheckpoint(true)
    appendDeltaFrom(spark, gatePrefix, nd, f, deltaVecs, buckets)
    // a [[buildWithCurated]] deployment shares the gate's `_dd` index:
    // the append above already filed the delta there, so the refresh
    // skips its (idempotent, but ledger-fallback-priced) re-filing
    val sharedDd =
      CuratedCorpusLayout.ddPrefixOf(spark, curatedPrefix) ==
        s"${gatePrefix}_dd"
    CuratedCorpusLayout.refreshWith(spark, dir, curatedPrefix, nd, f.ids,
      f.shD, f.bD, deltaVecs, buckets, ddFiled = sharedDd)
    verdicts
  }

  /** CONTINUOUS composed ingest+curation: [[ingestAndCurate]] per
    * micro-batch — the nightly-crawl deployment shape with ONE delta
    * pass per snapshot: each batch is checked against all three gate
    * indexes, filed into them, and refreshed into the curated corpus,
    * all off the same materialized shingle/band frames; the verdicts
    * go to `sink`. Convergence and replay safety are inherited leg by
    * leg: every gate append and every curated state table ends
    * byte-equal to the one-shot path over the union of batches, and a
    * replayed batch re-emits identical verdicts while filing nothing
    * (IngestAndCurateStreamSpec pins the curated artifact equal to the
    * full rebuild over corpus ∪ all batches, through a replay). */
  def ingestAndCurateStream(spark: SparkSession, dir: String,
      gatePrefix: String, curatedPrefix: String, assetStream: DataFrame,
      buckets: Int = 8, checkpoint: Option[String] = None,
      minCosine: Double = 0.4)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    distinctPrefixes(gatePrefix, curatedPrefix)
    DeltaIndex.stream(assetStream, checkpoint) { (batch, batchId) =>
      // verdicts are materialized BEFORE any filing inside
      // ingestAndCurate (the check-before-append discipline), so
      // handing them to the sink after the call loses nothing
      sink(ingestAndCurate(spark, dir, gatePrefix, curatedPrefix,
        batch.select(col("doc_id"), col("source"), col("text")),
        batch.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        buckets, minCosine), batchId)
    }
  }

  /** CONTINUOUS composite ingest: a stream of assets — (doc_id,
    * source, text, embedding ARRAY<FLOAT> nullable) — is checked
    * against all three indexes and then filed into them, one
    * micro-batch at a time (check first, then append; the joins are
    * batch plans Structured Streaming forbids on unbounded input —
    * the usual stream-to-batch bridge). A replayed batch re-emits
    * IDENTICAL verdicts while the appends file nothing, so an
    * idempotent sink completes exactly-once end to end.
    *
    * `monitor` gives the composite path the same when-to-retrain
    * signal as [[AnnIndexLayout.maintainStream]]: after each filed
    * batch, the geometry staleness audit runs with that batch's
    * vectors as the freshness probe — the gate keeps FILING under the
    * frozen geometry either way (retraining is a rebuild decision,
    * never a stream's), and an audit failure is reported and
    * swallowed so monitoring can never take down the ingest it
    * observes. */
  def ingestStream(spark: SparkSession, dir: String, prefix: String,
      assetStream: DataFrame, buckets: Int = 8,
      checkpoint: Option[String] = None,
      monitor: Option[graft.streaming.AnnStalenessMonitor] = None,
      minCosine: Double = 0.4)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(assetStream, checkpoint) { (batch, batchId) =>
      val docsB = batch.select(col("doc_id"), col("source"), col("text"))
      // materialized: consumed by the check, the ANN filing, and the
      // monitor tick (whose emptiness probe then reads checkpointed
      // partitions instead of re-running the batch filter)
      val vecsB = batch.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .localCheckpoint(true)
      // one set of materialized delta frames serves the check AND the
      // filing — the per-batch shingle and graft_psig passes are paid
      // once, not per consumer (the ingestAndCurate discipline)
      val nd = docsB.dropDuplicates("doc_id").localCheckpoint(true)
      val f = deltaFrames(nd)
      sink(checkDeltaWith(spark, dir, prefix, nd, f, vecsB, minCosine),
        batchId)
      appendDeltaFrom(spark, prefix, nd, f, vecsB, buckets)
      DeltaIndex.auditTick(spark, monitor, s"${prefix}_ann", vecsB)
    }
}
