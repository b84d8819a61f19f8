package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, sqrt}

import graft.queries.SimilarityQueries

/** Build-once / query-many persistence for the IVF-PQ ANN index — the
  * missing half of `ann_ivfpq_topk`'s "the layout a 100 TB deployment
  * persists" story.
  *
  * The online query (`ann_ivfpq_topk`) re-derives the coarse cell
  * assignment and the PQ codes from raw embeddings on every run; both
  * are pure functions of the corpus, and at scale they are the two
  * expensive linear scans. This layout writes them ONCE, together with
  * the GEOMETRY they were computed under, as managed tables.
  *
  * The tables live under a GENERATION prefix
  * (`<prefix>_g<N>_coarse` …) resolved through the 1-row pointer view
  * `<prefix>_livegen`; a rebuild writes the next generation in full
  * and publishes it by flipping that pointer in one atomic catalog
  * operation ([[build]]), so readers always resolve one complete
  * index generation. Per generation:
  *
  *  - `<prefix>_coarse` (cent_id, cvec, cnrm) and `<prefix>_pqcb`
  *    (cent_id, cvec) — the index geometry (coarse centroids + PQ
  *    codebook), captured at build time. Deltas and serving read the
  *    geometry from HERE, never from the live embeddings table: a
  *    geometry re-derived from a grown corpus would file new vectors
  *    under centroids the old cells were never assigned against
  *    (mixed-geometry index, silent recall loss). Both tables are
  *    broadcast-sized (they bound the codebook by construction).
  *  - `<prefix>_cells` (n_id, cell), bucketed + sorted by `cell` —
  *    the probe equi-join key, so "members of the probed cells" reads
  *    only the matching buckets with no shuffle of the index side;
  *  - `<prefix>_codes` (n_id, s, code), bucketed + sorted by `n_id` —
  *    the ADC join key, so the (small, query-driven) candidate list
  *    shuffles while the corpus-sized code table never does. At rest
  *    this is 16 subspace codes per vector — the 16-byte-per-vector
  *    PQ representation, vs 256 bytes of raw floats.
  *
  * Serving reuses the SAME query-side plan as `ann_ivfpq_topk`
  * ([[SimilarityQueries.ivfpqServeQueriesWith]]): probe window over
  * queries x cells, cell-member ADC join against the persisted codes,
  * exact re-rank via point lookups into raw embeddings. For the
  * registered query subset this is byte-identical to the online query
  * (AnnIndexLayoutSpec asserts it) because build and serve share the
  * exact encode/probe code paths.
  *
  * Reference point: the reference keeps its derived state hot the same
  * way — precomputed tables maintained ahead of queries
  * (consumer/consumer.py:240-293, database/schema.sql:30-59) — rather
  * than recomputing rollups per dashboard refresh.
  */
object AnnIndexLayout {

  private def geometry(spark: SparkSession,
      prefix: String): (DataFrame, DataFrame) =
    (BucketedTables.read(spark, s"${prefix}_coarse"),
      BucketedTables.read(spark, s"${prefix}_pqcb"))

  /** The live generation's physical prefix and its frozen geometry
    * (coarse centroids, PQ codebook), with the vector kernels
    * registered. Resolved ONCE per call: appends and rebuilds are both
    * writers under the single-writer contract — a rebuild publishing
    * mid-append would strand the delta in the superseded generation. */
  private def liveIndex(spark: SparkSession,
      prefix: String): (String, DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val phys = livePrefix(spark, prefix)
    val (cents, pqcb) = geometry(spark, phys)
    (phys, cents, pqcb)
  }

  private val Cells = DeltaIndex.Table("cells", "cell", "n_id")
  private val Codes = DeltaIndex.Table("codes", "n_id", "n_id")

  /** One generation's table set: the geometry, the two delta tables,
    * the audit references and the ledger. */
  private val IndexTables = Seq("coarse", "pqcb", Cells.suffix,
    Codes.suffix, "cellhist", "qref", "ids")

  /** The PHYSICAL prefix of the live generation ([[GenerationPointer]])
    * — the seven index tables are `<livePrefix>_coarse` …
    * `<livePrefix>_ids`. Public so specs and operational tooling can
    * reach the backing tables; everything else should go through
    * [[serve]]/[[query]]. */
  def livePrefix(spark: SparkSession, prefix: String): String =
    GenerationPointer.livePrefix(spark, prefix)

  /** Sweep stale generations ([[GenerationPointer.sweepStale]]): keeps
    * the live generation plus the `keepGenerations` most recent below
    * it; `keepGenerations = 0` after the max query latency is the
    * deferred-drop deployment's reclaim (the recipe in
    * [[GenerationPointer]]'s scaladoc). */
  def sweepStaleGenerations(spark: SparkSession, prefix: String,
      keepGenerations: Int = 1): Unit =
    GenerationPointer.sweepStale(spark, prefix, keepGenerations)

  /** Build the index over the vectors matching `where`: persist the
    * geometry derived from that corpus, then one scan for the coarse
    * assignment and one for the PQ encode — each the
    * partial-aggregable shape from the online query — as bucketed
    * tables under the next generation, published by the atomic pointer
    * flip ([[GenerationPointer.rebuild]]). */
  def build(spark: SparkSession, dir: String, prefix: String,
      buckets: Int = 8, where: Column = lit(true),
      dropSuperseded: Boolean = true): Unit =
    buildImpl(spark, dir, prefix, buckets, where, dropSuperseded, _ => ())

  /** [[build]] with a fault-injection hook for the publish-crash specs
    * (`faultHook` is called at the named points and may throw). */
  private[sources] def buildImpl(spark: SparkSession, dir: String,
      prefix: String, buckets: Int, where: Column, dropSuperseded: Boolean,
      faultHook: String => Unit): Unit = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    GenerationPointer.rebuild(spark, prefix, IndexTables, dropSuperseded,
        dropLegacy = false, faultHook) { tp =>
      SimilarityQueries.coarseCentsOf(spark, dir, where)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tp}_coarse")
      SimilarityQueries.pqSeedCentsOf(spark, dir, where)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tp}_pqcb")
      val (cents, pqcb) = geometry(spark, tp)
      BucketedTables.writeBucketed(
        SimilarityQueries.ivfAssignUsing(spark, dir, cents, where),
        Cells.name(tp), Cells.key, buckets)
      BucketedTables.writeBucketed(
        SimilarityQueries.pqCorpusCodesUsing(spark, dir, pqcb, where),
        Codes.name(tp), Codes.key, buckets)
      // the ingest ledger ([[IngestLedger]]): every built vector is
      // fully filed by definition — deltas split fresh/dirty against
      // this narrow id column instead of scanning the 16-wide codes
      IngestLedger.create(spark.table(Cells.name(tp)).select(col("n_id")),
        tp, buckets)
      // build-time reference state for the staleness audit — captured
      // HERE so "has the index rotted since its build" is a comparison,
      // never a guess. A rebuild recaptures both (re-baselining is part
      // of what a rebuild means).
      //  - `_cellhist` (cell, n_build): the coarse occupancy histogram
      //    of the just-written assignment (codebook-sized).
      //  - `_qref` (avg_qerr, n_sample): mean PQ quantization error over
      //    a deterministic 1-in-8 sample of the build vectors (rate
      //    sample, so the reference pass costs 1/8 of an encode and the
      //    audit can reproduce the exact sample).
      spark.table(Cells.name(tp))
        .groupBy(col("cell"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_build"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tp}_cellhist")
      SimilarityQueries.pqQuantError(
          graft.util.Tables.load(spark, dir, "embeddings")
            .filter(where && QrefSamplePred)
            .select(col("vec_id"), col("embedding")), pqcb)
        .agg(org.apache.spark.sql.functions.avg(col("qerr")).as("avg_qerr"),
          org.apache.spark.sql.functions.count(lit(1)).as("n_sample"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tp}_qref")
      // a degenerate reference makes every future audit meaningless (a
      // NULL avg_qerr would read as "no rise" forever), so refuse to
      // PUBLISH instead of letting the monitor silently go blind — the
      // live index (if any) keeps serving: the 1-in-8 rate sample can
      // be empty only for a corpus too small (or too filtered) to audit
      val nSample = spark.table(s"${tp}_qref").head().getAs[Long]("n_sample")
      require(nSample > 0L,
        s"$prefix: the _qref build sample is empty (corpus too small or " +
          "over-filtered for vec_id%8==1) — the staleness audit would " +
          "silently report qerr_rise_ppm=0 forever; widen `where` or skip " +
          "the audit for this index")
    }
  }

  /** The deterministic 1-in-8 rate sample the `_qref` reference is
    * computed over — exposed so an audit (or spec) can reproduce the
    * exact build-time sample. */
  val QrefSamplePred: Column =
    org.apache.spark.sql.functions.pmod(col("vec_id"), lit(8L)) === 1L

  /** GEOMETRY staleness audit for the vector index: the frozen coarse
    * centroids + PQ
    * codebook stay internally consistent as deltas stream in, but as
    * the corpus distribution shifts they file new vectors into
    * increasingly wrong cells and reconstruct them increasingly badly
    * — recall decays with no error anywhere. One row of alertable
    * levels:
    *  - `occ_skew_ppm`: total-variation distance (in ppm) between the
    *    build-time cell-occupancy SHARES (`_cellhist`) and the current
    *    (tombstone-filtered) shares — 0 on a fresh index, rising as
    *    deltas pile into cells the build never favored (or purges
    *    hollow cells out);
    *  - `qerr_rise_ppm`: how much worse the frozen codebook
    *    reconstructs `recentVecs` than it reconstructed the build
    *    sample — max(0, avg_qerr_recent/avg_qerr_build − 1) in ppm
    *    (falling error is not staleness);
    *  - `n_cells_build` / `n_cells_now`: occupied-cell counts, the
    *    quick shape check.
    *
    * `recentVecs` is (vec_id, embedding) — the ingest path has the
    * latest delta in hand; pass that. Cost: one codebook-sized
    * histogram agg over the bucketed cells table (no shuffle of the
    * index), one delta-sized encode pass, two broadcast scalars —
    * runs per maintenance tick. Consumed by
    * [[graft.streaming.AnnStalenessMonitor]]; a rebuild recaptures
    * the references, so the next audit clears the alert
    * (AnnStalenessSpec: planted shift raises, rebuild clears, fresh
    * index audits zero). */
  def stalenessMetrics(spark: SparkSession, prefix: String,
      recentVecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val (phys, _, pqcb) = liveIndex(spark, prefix)
    val nowHist = DeltaIndex.live(spark, prefix, phys, Cells)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_now"))
    val hist = spark.table(s"${phys}_cellhist")
      .join(nowHist, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_build", "n_now"))
      .localCheckpoint(true) // codebook-sized; feeds totals + the TV sum
    val totals = hist.agg(sum(col("n_build")).as("tot_build"),
      sum(col("n_now")).as("tot_now"),
      count(when(col("n_build") > 0L, lit(1))).as("n_cells_build"),
      count(when(col("n_now") > 0L, lit(1))).as("n_cells_now"))
    val occ = hist.crossJoin(broadcast(totals))
      .agg(
        round(sum(abs(col("n_now").cast("double") / col("tot_now") -
          col("n_build").cast("double") / col("tot_build"))) / 2.0 * 1e6)
          .cast(LongType).as("occ_skew_ppm"),
        first(col("n_cells_build")).as("n_cells_build"),
        first(col("n_cells_now")).as("n_cells_now"))
    val qNow = SimilarityQueries.pqQuantError(
        recentVecs.dropDuplicates("vec_id")
          .select(col("vec_id"), col("embedding")), pqcb)
      .agg(avg(col("qerr")).as("avg_qerr_now"))
    val qRef = spark.table(s"${phys}_qref")
      .select(col("avg_qerr").as("avg_qerr_build"))
    // fail LOUDLY on a degenerate comparison instead of reading
    // healthy: greatest() skips NULL operands, so a NULL build
    // reference (empty _qref sample on a legacy index) or an
    // emptied-out index (tot_now = 0 NULLs the TV sum) would otherwise
    // report 0 ppm — the audit claiming freshness exactly when it has
    // nothing to compare. The build now rejects an empty sample
    // up-front; these guards catch indexes built before that check and
    // probes over an empty recentVecs.
    def orFail(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"stalenessMetrics($prefix): $what is NULL — degenerate " +
          "reference or empty probe; the audit cannot compare"))).otherwise(c)
    occ.crossJoin(broadcast(qNow)).crossJoin(broadcast(qRef))
      .select(orFail(col("occ_skew_ppm"), "occ_skew_ppm (tot_now = 0?)")
          .as("occ_skew_ppm"),
        greatest(lit(0L),
          round((orFail(col("avg_qerr_now"), "avg_qerr_now (empty probe)") /
            orFail(col("avg_qerr_build"), "avg_qerr_build (empty _qref)")
            - 1.0) * 1e6)
            .cast(LongType)).as("qerr_rise_ppm"),
        col("n_cells_build"), col("n_cells_now"))
  }

  /** Incremental maintenance — the operation a 100 TB deployment runs
    * DAILY while full rebuilds stay rare: encode ONLY the vectors
    * matching `where` (e.g. `vec_id >= ingestWatermark`, which prunes
    * at the parquet scan) against the index's FROZEN geometry — the
    * PERSISTED coarse centroids and PQ codebook of the original build,
    * NOT a re-derivation from the (possibly grown) live table — and
    * append them into the bucketed tables. Because per-vector
    * assignment and encoding are independent of every other vector,
    * the result equals encoding the union corpus under the build-time
    * geometry (AnnIndexLayoutSpec asserts it). Retraining the geometry
    * is a rebuild, never an append.
    *
    * Idempotent under retries via the [[IngestLedger]] intent-first
    * protocol: a batch of new vectors never scans the index tables at
    * all (the narrow `_ids` ledger decides), and re-running after a
    * partial failure (cells appended, codes append died) routes the
    * dirty subset through the exact per-table n_id anti-joins, filling
    * exactly the missing half instead of double-filing vectors —
    * duplicated code rows would double d2q sums in the ADC shortlist
    * and silently mis-rank. */
  def appendDelta(spark: SparkSession, dir: String, prefix: String,
      where: Column, buckets: Int = 8): Unit =
    appendDeltaVectors(spark, prefix,
      graft.util.Tables.load(spark, dir, "embeddings").filter(where),
      buckets)

  /** [[appendDelta]] for an ARBITRARY (vec_id, embedding) frame — the
    * encode surface a STREAM of new embeddings feeds micro-batch at a
    * time ([[maintainStream]]). Same frozen geometry; idempotence via
    * the [[IngestLedger]] intent-first protocol: a batch of new
    * vectors appends with NO scan of the cells/codes tables (the
    * ledger's narrow id column decides), while a replayed micro-batch
    * (restart without a committed offset) — or a retry after a
    * partial failure where cells appended and the codes append died —
    * falls back to the exact per-table n_id anti-joins for its dirty
    * subset, so the stream-built index equals the batch-built one
    * over the same data (StreamDeltaIndexSpec). */
  def appendDeltaVectors(spark: SparkSession, prefix: String,
      vecs0: DataFrame, buckets: Int = 8): Unit = {
    val (phys, cents, pqcb) = liveIndex(spark, prefix)
    // the idempotence machinery dedups only against PERSISTED rows; a
    // batch carrying the same vec_id twice would file it twice
    val vecs = vecs0.dropDuplicates("vec_id")
    DeltaIndex.appendLedgered(spark, phys, vecs.select(col("vec_id")),
      buckets, Seq(
        Cells -> SimilarityQueries.ivfAssignWith(cents,
          SimilarityQueries.normedVectors(vecs)),
        Codes -> SimilarityQueries.pqEncode(
          vecs.select(col("vec_id"), col("embedding")), pqcb)))
  }

  /** CONTINUOUS index maintenance: a stream of (vec_id, embedding)
    * rows flows into the persisted index, one idempotent
    * [[appendDeltaVectors]] delta per micro-batch inside `foreachBatch`
    * (encode needs the multi-join batch plans Structured Streaming
    * forbids on unbounded input — the same stream-to-batch bridge as
    * [[serveStream]]). Restart safety needs NO sink-side state: even
    * if the checkpoint replays a batch, the n_id anti-joins file only
    * the missing vectors, so exactly-once lands for free. Geometry
    * stays the frozen build-time set — a stream NEVER retrains (that
    * is a rebuild). */
  def maintainStream(spark: SparkSession, prefix: String,
      vectorStream: DataFrame, buckets: Int = 8,
      checkpoint: Option[String] = None,
      monitor: Option[graft.streaming.AnnStalenessMonitor] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(vectorStream, checkpoint) { (batch, _) =>
      appendDeltaVectors(spark, prefix, batch, buckets)
      DeltaIndex.auditTick(spark, monitor, prefix, batch)
    }

  /** Maintenance pass for a delta-accumulating index: every
    * [[appendDelta]] adds one file set per bucket, so after N deltas
    * each bucket holds N+1 files and the read-side sort-skip degrades.
    * Rewrites cells and codes back to ONE file per bucket (rows and
    * bucket spec unchanged — [[BucketedTables.compact]]'s write-aside
    * + checked-rename swap). Serve results are byte-identical before
    * and after (CompactIndexSpec), and further deltas keep working
    * against the compacted table. Same-JVM delta writers are quiesced
    * by the per-table lock ([[BucketedTables]] header); cross-JVM
    * writers are outside the single-writer contract. */
  def compact(spark: SparkSession, prefix: String, buckets: Int = 8): Unit =
    DeltaIndex.compact(spark, prefix, livePrefix(spark, prefix),
      Seq(Cells, Codes), buckets)

  /** Serve the registered query set from the persisted index: must
    * equal `ann_ivfpq_topk` row-for-row without re-encoding the
    * corpus (self-exclusion on, as the online query's corpus-member
    * queries imply). */
  def query(spark: SparkSession, dir: String, prefix: String): DataFrame = {
    val (phys, cents, pqcb) = liveIndex(spark, prefix)
    SimilarityQueries.ivfpqServeQueriesWith(spark, dir,
      SimilarityQueries.registeredQueryFrame(spark, dir), cents, pqcb,
      DeltaIndex.live(spark, prefix, phys, Cells),
      BucketedTables.read(spark, Codes.name(phys)),
      excludeSelf = true)
  }

  /** Right-to-be-forgotten against the SERVING index: tombstone the
    * given vector ids — [[serve]]/[[query]] exclude them from
    * candidate generation immediately (a purged id never reaches the
    * ADC scan: the cells filter is upstream of every probe); the next
    * [[compact]] erases their cell and code rows physically.
    * Idempotent; the companion of `util_gdpr_purge`'s fact-table
    * accounting. */
  def purgeVectors(spark: SparkSession, prefix: String,
      ids: DataFrame): Unit =
    Tombstones.purge(spark, prefix, ids)

  /** Serve an ARBITRARY query set — (vec_id BIGINT, embedding
    * ARRAY<FLOAT>) — from the persisted index: probe window over the
    * given queries, cell-member ADC join, exact re-rank. The request
    * side is request-sized end to end; the corpus appears only through
    * the index tables and point lookups into raw embeddings. Request
    * ids live in their own id space, so a corpus vector whose n_id
    * happens to equal a request's vec_id stays a legitimate neighbor;
    * pass `excludeSelf = true` only when the requests ARE corpus
    * members (re-querying the index for its own vectors). */
  def serve(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, excludeSelf: Boolean = false): DataFrame = {
    val (phys, cents, pqcb) = liveIndex(spark, prefix)
    val q = queries.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_norm2(embedding)")).as("nrm"))
    SimilarityQueries.ivfpqServeQueriesWith(spark, dir, q, cents, pqcb,
      DeltaIndex.live(spark, prefix, phys, Cells),
      BucketedTables.read(spark, Codes.name(phys)), excludeSelf,
      // request-sized query batches: the exact re-rank's raw-vector
      // lookup must be shortlist-bounded, not a per-request
      // corpus-sized join ([[SimilarityQueries.pqServeQueries]]).
      // Gated: a BULK query frame handed to this public API (a
      // backfill re-scoring the corpus) would make the shortlist —
      // and the forced broadcasts it feeds — |queries|-proportional,
      // past Spark's broadcast hard limit where the plain joins
      // degrade gracefully to shuffle; over the gate the amortized
      // corpus-join form runs instead (same rows, join algebra).
      pointLookup = boundedBatch(spark, queries.select(col("vec_id"))))
  }

  /** Bounded-batch gate shared by [[serve]] and [[semanticDedupDelta]]
    * — the same dial that gates the dedup-verify pruned path
    * ([[ScanPrune.maxDeltaDocs]], default 4096 docs): a request/delta
    * within the gate takes the broadcast-hinted `pointLookup` plan
    * (per-batch cost delta-sized); above it every hint is dropped so
    * the planner's own size checks pick shuffle — the previous
    * behavior before the hints existed, and the right amortized form
    * for bulk backfills anyway. The probe is `limit(gate+1).count()`,
    * so deciding "over the gate" never scans more than gate+1 rows of
    * an arbitrarily large frame. */
  private def boundedBatch(spark: SparkSession, ids: DataFrame): Boolean = {
    val gate = ScanPrune.maxDeltaDocs(spark)
    val probe = math.min(gate + 1L, Int.MaxValue.toLong).toInt
    ids.limit(probe).count() <= gate
  }

  @inline private def hinted(df: DataFrame, on: Boolean): DataFrame =
    if (on) broadcast(df) else df

  /** SEMANTIC dedup at ingest — the third tier of the incremental
    * trio ([[DedupIndexLayout]] exact/MinHash, [[MediaIndexLayout]]
    * perceptual): check a delta of NEW vectors against the persisted
    * IVF-PQ index and return every corpus near-duplicate at cosine ≥
    * `minCosine` (the SemDeDup decision grain) — ADC-probed
    * candidates, exact-cosine verified, at most [[SimilarityQueries]]
    * TopK corpus partners per new vector (enough to decide keep/drop;
    * a vector with MORE than k partners is dropped either way).
    *
    * Scope: delta-vs-CORPUS at index cost. Within-delta semantic dups
    * belong to the batch's own pass (`dedup_cosine_lsh` over the
    * batch) — enforced by construction: the BATCH'S OWN ids are
    * anti-joined out of the index candidates (the
    * [[DedupIndexLayout.dedupDelta]] discipline, applied at the cells
    * grain so top-K semantics are untouched), which also makes the
    * check replay-safe: after the delta has been
    * [[appendDeltaVectors]]'d, a re-run sees the identical
    * corpus-only candidate set and returns the identical pair set.
    * Tombstoned vectors stop appearing immediately (the candidate
    * filter).
    *
    * Oracle twin: `sem_delta_accounting`
    * ([[SimilarityQueries.semDeltaAccounting]]) registers the same
    * decision grain end to end — corpus-frozen geometry, delta-only
    * probes, cosine floor — hash-checked against DuckDB;
    * SemDeltaAccountingSpec pins THIS surface equal to that query's
    * accounting rollup. */
  def semanticDedupDelta(spark: SparkSession, dir: String, prefix: String,
      newVecs: DataFrame, minCosine: Double): DataFrame = {
    val (phys, cents, pqcb) = liveIndex(spark, prefix)
    val delta = newVecs.dropDuplicates("vec_id")
    val dIds = delta.select(col("vec_id").as("__did")).localCheckpoint(true)
    // broadcast/pointLookup gate (see [[boundedBatch]]): a bulk
    // backfill delta must not be force-broadcast with its raw
    // embeddings — over the dial the un-hinted joins run and the
    // planner degrades to shuffle; the pair set is identical either
    // way (join algebra; BoundedBatchGateSpec pins byte-equality)
    val bounded = dIds.count() <= ScanPrune.maxDeltaDocs(spark)
    // serve ranks by exact squared L2 (d2); the dedup decision wants
    // cosine, derived by point lookups on the k-bounded output — the
    // corpus never scans for this
    val q = delta.select(col("vec_id").as("q_id"),
      col("embedding").as("qemb"))
    val c = graft.util.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").as("nemb"))
    val cells = DeltaIndex.live(spark, prefix, phys, Cells)
      .join(hinted(dIds, bounded), col("n_id") === col("__did"), "left_anti")
    val qn = delta.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_norm2(embedding)")).as("nrm"))
    // k-bounded per delta vector — materialized ONCE so the cosine
    // verification below does not re-run the ADC scan, and so its
    // raw-vector lookup can be bounded to the served ids (as a plain
    // join the "point lookup" was a per-BATCH corpus-sized broadcast/
    // shuffle of the raw embeddings — a corpus-linear ingest term the
    // 100× gate slope measured; pointLookup bounds the re-rank's
    // lookup inside the serve the same way)
    val served = SimilarityQueries.ivfpqServeQueriesWith(spark, dir, qn,
        cents, pqcb, cells, BucketedTables.read(spark, Codes.name(phys)),
        excludeSelf = false, pointLookup = bounded)
      .localCheckpoint(true)
    val cNeeded = c.join(
      hinted(served.select(col("n_id")).distinct(), bounded),
      Seq("n_id"), "left_semi")
    served
      .join(hinted(q, bounded), "q_id").join(hinted(cNeeded, bounded), "n_id")
      .select(col("q_id").as("vec_new"), col("n_id").as("vec_corpus"),
        (expr("graft_dot(qemb, nemb)") /
          (sqrt(expr("graft_norm2(qemb)")) * sqrt(expr("graft_norm2(nemb)"))))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** ONLINE serving: a stream of query vectors answered from the
    * persisted index, micro-batch at a time. The ADC scan + re-rank
    * are batch plans (they need windows and multi-joins Structured
    * Streaming forbids on unbounded input), so each micro-batch runs
    * through [[serve]] inside `foreachBatch` — the standard
    * stream-to-batch bridge for serving — and the caller's `sink`
    * decides where results land. Exactly-once is the sink's usual
    * foreachBatch contract (idempotent write keyed on batchId). */
  def serveStream(spark: SparkSession, dir: String, prefix: String,
      queryStream: DataFrame, excludeSelf: Boolean = false)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(queryStream) { (batch, batchId) =>
      sink(serve(spark, dir, prefix, batch, excludeSelf), batchId)
    }
}
