package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.queries.DedupQueries
import graft.util.Tables

/** Build-once / check-many persistence for MinHash near-dup detection —
  * incremental dedup AT INGEST, the operator a continuous-crawl corpus
  * runs daily: instead of re-banding and re-verifying 100 TB per
  * snapshot (`dedup_minhash_pairs` recomputes full-corpus pairs every
  * run), the corpus's band rows and sized shingle index are persisted
  * ONCE and each snapshot of NEW documents is checked against them —
  * delta × (corpus ∪ delta) only, never corpus × corpus.
  *
  * Tables under `prefix`:
  *  - `<prefix>_bands` (doc_id, band_id, key), bucketed + sorted by
  *    `key` — the candidate-generation equi-join key, so a delta's
  *    band rows probe only the matching buckets with NO shuffle of the
  *    corpus side;
  *  - `<prefix>_shingles` (doc_id, s, n), bucketed + sorted by
  *    `doc_id` — the exact-Jaccard verification grain (per-doc shingle
  *    count `n` denormalized onto every row, the [[DedupQueries]]
  *    sized-index shape), read by candidate-driven doc_id point
  *    lookups.
  *
  * There is NO trained geometry to freeze: the shingle width, hash
  * constants, and band layout are fixed code
  * ([[graft.functions.TextFunctions]], [[DedupQueries.minhashBandsOf]]),
  * so a delta's band rows can never drift from their build-time values
  * — the freeze [[AnnIndexLayout]] persists as `_coarse`/`_pqcb` is
  * structural here, exactly like [[HybridIndexLayout]]'s hyperplanes.
  *
  * Checking and appending share the online query's own code paths
  * ([[DedupQueries.deltaPairsCore]]), so [[dedupDelta]]'s result is
  * byte-identical to the full-corpus `dedup_minhash_pairs` restricted
  * to pairs touching the delta (DedupIndexLayoutSpec asserts it in
  * both directions).
  *
  * Lifecycle (stream twin, purge, compaction, coverage gauge):
  * [[DeltaIndex]].
  */
object DedupIndexLayout {

  private val Shingles = DeltaIndex.Table("shingles", "doc_id", "doc_id")
  private val Bands = DeltaIndex.Table("bands", "key", "doc_id")
  private val Cm = DeltaIndex.Table("cm", "s", "doc_id")

  /** The s-keyed inverted sidecar's table name: the SAME sized
    * postings as `<prefix>_shingles` plus the content-hash `is_train`
    * split ([[DedupQueries.isTrainOf]]), re-bucketed + sorted by `s` —
    * the grain the gate's decontamination check joins on
    * ([[DedupQueries.contamDeltaFlagsCm]]). Opt-in at [[build]]
    * (`contamSidecar`): only deployments running the decontamination
    * verdict pay the second postings copy; a pure dedup index skips
    * it. The storage trade is a secondary index's usual one — one more
    * copy of the postings — bought against a per-micro-batch full
    * scan+shuffle of the primary (s is not its bucket key), which at a
    * continuous-ingest deployment is paid forever. */
  def cmTable(prefix: String): String = Cm.name(prefix)

  /** The delta's (doc_id, is_train) split — what the sidecar files
    * next to each posting. */
  private[sources] def splitOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), DedupQueries.isTrainOf.as("is_train"))

  /** The delta's signature pass — sized shingles and MinHash band rows
    * of the doc_id-distinct `docs` — the ONE derivation the check, the
    * filing, the curated refresh and [[IngestGate]] share. `mat` pins
    * each frame (default) or leaves it lazy (the gate's bulk deltas);
    * the content is identical either way. */
  private[sources] def signaturePass(docs: DataFrame,
      mat: DataFrame => DataFrame = _.localCheckpoint(true))
      : (DataFrame, DataFrame) = {
    val shD = mat(DedupQueries.withSizes(DedupQueries.shinglesOf(docs)))
    val bD = mat(DedupQueries.minhashBandsOf(
      DedupQueries.minhashSigFrom(shD.select(col("doc_id"), col("s")))))
    (shD, bD)
  }

  /** Build the index over the documents matching `where`: one
    * tokenize+shingle pass feeds both tables (the expensive stage —
    * md5 per shingle — runs once). `contamSidecar` additionally writes
    * [[cmTable]] from the same pass. */
  def build(spark: SparkSession, dir: String, prefix: String,
      buckets: Int = 8, where: Column = lit(true),
      contamSidecar: Boolean = false): Unit =
    buildDocs(spark, prefix,
      Tables.load(spark, dir, "documents").filter(where)
        .select(col("doc_id"), col("text")), buckets, contamSidecar)

  /** [[build]] for an ARBITRARY (doc_id, text) frame. */
  def buildDocs(spark: SparkSession, prefix: String, docs: DataFrame,
      buckets: Int = 8, contamSidecar: Boolean = false): Unit = {
    val d = docs.dropDuplicates("doc_id")
    val sh = DedupQueries.shinglesOf(d).persist()
    sh.count()
    BucketedTables.writeBucketed(DedupQueries.withSizes(sh),
      Shingles.name(prefix), Shingles.key, buckets)
    BucketedTables.writeBucketed(
      DedupQueries.minhashBandsOf(DedupQueries.minhashSigFrom(sh)),
      Bands.name(prefix), Bands.key, buckets)
    if (contamSidecar)
      // the same sized postings, joined to the per-doc split flag and
      // re-bucketed by s (one more write off the cached shingle pass)
      BucketedTables.writeBucketed(
        DedupQueries.withSizes(sh).join(splitOf(d), Seq("doc_id")),
        Cm.name(prefix), Cm.key, buckets)
    sh.unpersist(false)
    // the ingest ledger: every corpus doc is fully filed by definition
    IngestLedger.create(d.select(col("doc_id")), prefix, buckets)
  }

  /** Incremental maintenance: shingle + sign ONLY the given documents
    * and append their rows into both tables. Idempotent under retries
    * and replays via the [[IngestLedger]] intent-first protocol: a
    * batch of genuinely new docs appends with NO scan of the wide
    * tables (the ledger's O(docs) id column decides), while a replayed
    * delta — or a retry after a partial failure where the shingle
    * append landed and the band append died — falls back to the exact
    * per-table doc_id anti-joins for its dirty subset, filing exactly
    * the missing rows, never a duplicate (duplicated shingle rows
    * would double `common` in every future Jaccard verification;
    * duplicated band rows would re-propose the same candidates).
    * Within-batch duplicate doc_ids collapse first. */
  def appendDeltaDocs(spark: SparkSession, prefix: String,
      docs0: DataFrame, buckets: Int = 8): Unit = {
    val docs = docs0.dropDuplicates("doc_id").localCheckpoint(true)
    val ids = docs.select(col("doc_id")).localCheckpoint(true)
    val (shD, bD) = signaturePass(docs)
    appendDeltaDocsFrom(spark, prefix, ids, shD, bD, buckets,
      Some(splitOf(docs)))
  }

  /** [[appendDeltaDocs]] with the delta's shingle/band passes
    * PRECOMPUTED — the composed snapshot path
    * ([[IngestGate.ingestAndCurate]]) files the same materialized
    * frames the check and the curated refresh consumed, so a snapshot
    * pays the shingle pass exactly once. `trainOf` is the delta's
    * (doc_id, is_train) split, REQUIRED whenever the prefix carries
    * the [[cmTable]] sidecar (which files the same rows keyed by `s`,
    * under the same intent split, so a crash between any two appends
    * is healed per table on retry); a sidecar-equipped index silently
    * going stale on appends would corrupt every future
    * decontamination verdict, so the mismatch fails loudly instead. */
  private[sources] def appendDeltaDocsFrom(spark: SparkSession,
      prefix: String, ids: DataFrame, shD: DataFrame, bD: DataFrame,
      buckets: Int, trainOf: Option[DataFrame] = None): Unit = {
    val hasCm = spark.catalog.tableExists(Cm.name(prefix))
    require(!hasCm || trainOf.isDefined,
      s"$prefix carries the ${cmTable(prefix)} sidecar: appends must " +
        "supply the delta's (doc_id, is_train) split so the sidecar " +
        "files the same rows (a stale sidecar corrupts every future " +
        "decontamination verdict)")
    DeltaIndex.appendLedgered(spark, prefix, ids, buckets,
      Seq(Shingles -> shD, Bands -> bD) ++ trainOf.filter(_ => hasCm).map(
        tr => Cm -> shD.join(org.apache.spark.sql.functions.broadcast(tr),
          Seq("doc_id"))))
  }

  /** Check a delta of NEW documents against corpus + delta: verified
    * (doc_a, doc_b, jaccard) near-dup pairs with ≥1 delta member —
    * [[DedupQueries.deltaPairsCore]] fed from the persisted tables
    * (tombstone-filtered, so a purged doc stops matching immediately).
    * Does NOT append; call [[appendDeltaDocs]] after acting on the
    * result. Safe to re-run after the append: the core anti-joins the
    * index against the delta's own ids, so the already-filed copies
    * are invisible and a replay returns the identical pair set. */
  def dedupDelta(spark: SparkSession, prefix: String,
      newDocs: DataFrame): DataFrame = {
    val docs = newDocs.dropDuplicates("doc_id").localCheckpoint(true)
    val ids = docs.select(col("doc_id")).localCheckpoint(true)
    val (shD, bD) = signaturePass(docs)
    dedupDeltaFrom(spark, prefix, ids, shD, bD)
  }

  /** [[dedupDelta]] with the delta's shingle/band passes PRECOMPUTED —
    * the composed snapshot path shares one delta pass across the gate
    * check and the curated refresh instead of re-shingling per
    * consumer.
    *
    * Bounded deltas (≤ [[ScanPrune.maxDeltaDocs]]) take the PRUNED
    * verify plan: the corpus band scan is restricted to the delta's
    * own band keys before candidate generation, and the corpus shingle
    * scan to the materialized candidates' corpus doc_ids before
    * verification — both filters are exact by join algebra (a band row
    * with a non-delta key, or a shingle row of a non-candidate doc,
    * cannot reach the output), and both engage bucket-file + parquet
    * page pruning because each filter column is its table's
    * bucket/sort key ([[ScanPrune]] header for the full argument;
    * PrunedVerifySpec pins pruned == full). This removes the
    * per-batch corpus-sized read that was the ingest slope's last
    * linear term. */
  private[sources] def dedupDeltaFrom(spark: SparkSession, prefix: String,
      ids: DataFrame, shD: DataFrame, bD: DataFrame): DataFrame = {
    val sized = DeltaIndex.live(spark, prefix, prefix, Shingles)
    val bands = DeltaIndex.live(spark, prefix, prefix, Bands)
    val maxDocs = ScanPrune.maxDeltaDocs(spark)
    if (maxDocs > 0L && ids.count() <= maxDocs) {
      // the delta's band keys bound what candidate generation can
      // match on the corpus side
      val cand = DedupQueries.deltaCandidatesFrom(ScanPrune.pushedInSet(
          spark, bands, "key", bD.select(col("key")).distinct()), ids, bD)
        .localCheckpoint(true)
      // the candidates' CORPUS doc_ids bound what verification can
      // read (the delta side's shingles come from shD); a degenerate
      // delta colliding with a large corpus slice falls back to the
      // full shingle scan rather than an unbounded IN list. The bound
      // is checked with a COUNT before anything reaches the driver — a
      // hot band key shared with a large corpus slice (exactly the
      // case the fallback exists for) must not collect an unbounded id
      // list on its way to being rejected.
      val candCorpus = cand.select(col("doc_a"))
        .unionByName(cand.select(col("doc_b").as("doc_a"))).distinct()
        .join(org.apache.spark.sql.functions.broadcast(ids.toDF("doc_a")),
          Seq("doc_a"), "left_anti")
      val nCand = candCorpus.count()
      val sizedIn =
        // candidate-sized after the filter — materialize ONCE so the two
        // verification legs (sa/sb) read checkpointed rows instead of
        // re-scanning the corpus table per leg: the pruned path's
        // corpus-shingle IO is ONE filtered scan per batch (the
        // unpruned plan paid that scan twice)
        if (nCand <= 16L * maxDocs)
          ScanPrune.pushedInSet(spark, sized, "doc_id", candCorpus)
            .localCheckpoint(true)
        else sized
      DedupQueries.deltaVerifyFrom(cand, sizedIn, ids, shD)
    } else DedupQueries.deltaPairsCoreFrom(sized, bands, ids, shD, bD)
  }

  /** CONTINUOUS ingest: a stream of (doc_id, text) rows is deduped
    * against the corpus-so-far and then filed into it, one micro-batch
    * at a time — check first ([[dedupDelta]] through `sink`), then
    * append ([[appendDeltaDocs]]), off ONE materialized signature pass
    * ([[DeltaIndex]]'s check-then-append contract: a replayed batch
    * re-emits IDENTICAL pairs while the append files nothing). */
  def ingestStream(spark: SparkSession, prefix: String,
      docStream: DataFrame, buckets: Int = 8,
      checkpoint: Option[String] = None)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(docStream, checkpoint) { (batch, batchId) =>
      val docs = batch.dropDuplicates("doc_id").localCheckpoint(true)
      val ids = docs.select(col("doc_id")).localCheckpoint(true)
      val (shD, bD) = signaturePass(docs)
      sink(dedupDeltaFrom(spark, prefix, ids, shD, bD), batchId)
      appendDeltaDocsFrom(spark, prefix, ids, shD, bD, buckets,
        Some(splitOf(docs)))
    }

  /** Right-to-be-forgotten against the dedup state: tombstone the
    * given doc_ids — [[dedupDelta]] stops matching them immediately
    * (both the band probe and the verification read through the
    * tombstone filter); the next [[compact]] erases their rows
    * physically. Idempotent. */
  def purgeDocs(spark: SparkSession, prefix: String,
      docIds: DataFrame): Unit =
    Tombstones.purge(spark, prefix, docIds)

  /** Coverage gauge ([[DeltaIndex.coverage]]) over the shingle index:
    * run before trusting [[dedupDelta]]'s "no duplicates" verdict. */
  def stalenessMetrics(spark: SparkSession, dir: String,
      prefix: String): DataFrame =
    DeltaIndex.coverage(spark, dir, prefix, Shingles)

  /** [[DeltaIndex.compact]] over both tables and the sidecar (so the
    * two postings copies can never disagree after a compact). */
  def compact(spark: SparkSession, prefix: String, buckets: Int = 8): Unit =
    DeltaIndex.compact(spark, prefix, prefix, Seq(Shingles, Bands) ++
      Seq(Cm).filter(t => spark.catalog.tableExists(t.name(prefix))), buckets)
}
