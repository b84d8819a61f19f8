package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.queries.{SimilarityQueries, TextQueries}
import graft.util.Tables

/** Build-once / query-many HYBRID retrieval — the production RAG shape
  * `txt_hybrid_rrf` exists for, served from PERSISTED indexes.
  *
  * The online query fuses a BM25 leg and a multi-probe LSH leg with
  * reciprocal-rank fusion, and pays BOTH leg index builds (tokenize +
  * postings, signature scan) on every invocation — the right shape for
  * a one-off batch audit, and the wrong one for a query stream. This
  * layout completes the build-once story:
  *
  *  - sparse leg: [[TextIndexLayout]]'s bucketed postings + frozen
  *    vocabulary (built separately, under its own prefix);
  *  - dense leg: `<prefix>_sigs` (vec_id, bucket, nrm), bucketed +
  *    sorted by `bucket` — the multi-probe equi-join key, so a query's
  *    Hamming-1 probe ring reads only the matching buckets with no
  *    shuffle of the index side. Unlike IVF-PQ there is NO trained
  *    geometry table: the hyperplane set is a fixed code constant, so
  *    a delta-encoded vector's signature can never drift from its
  *    build-time value — the freeze that [[AnnIndexLayout]] persists
  *    as `_coarse`/`_pqcb` is structural here.
  *
  * Serving answers an arbitrary (q_id, text, embedding) request frame:
  * each leg probes its own persisted index request-sized end to end,
  * and the fusion is [[TextQueries.rrfFuse]] — the online query's own
  * fusion code — over the two ≤k-row/query leg results. For
  * corpus-member requests the result is byte-identical to
  * `txt_hybrid_rrf` (HybridIndexLayoutSpec asserts it) because every
  * stage (tokenize/score, signature/probe/cosine, fusion) is the
  * online query's own code against equal-by-construction index rows.
  *
  * Reference point: the reference's dashboard-read path serves from
  * pre-aggregated tables maintained ahead of queries
  * (consumer/consumer.py:240-293, database/schema.sql:30-59) — never
  * from a per-refresh recomputation; this is that discipline applied
  * to two-legged retrieval.
  */
object HybridIndexLayout {

  // ---- dense leg: persisted LSH signatures ----------------------------

  private val Sigs = DeltaIndex.Table("sigs", "bucket", "vec_id")

  /** The dense leg's table set — one copy per generation (the one
    * publication discipline across every index layout). */
  private val DenseTables = Seq(Sigs.suffix)

  /** The PHYSICAL prefix of the dense leg's live generation
    * ([[GenerationPointer]]). */
  def livePrefixDense(spark: SparkSession, prefix: String): String =
    GenerationPointer.livePrefix(spark, prefix)

  private def physDense(spark: SparkSession, prefix: String): String =
    GenerationPointer.physOrLegacy(spark, prefix, Sigs.suffix)

  /** Build the signature table over the vectors matching `where`: one
    * corpus scan (norm + 8 plane projections per vector), bucketed by
    * the probe key, written under the next generation and published
    * with the atomic pointer flip. */
  def buildDense(spark: SparkSession, dir: String, prefix: String,
      buckets: Int = 8, where: Column = lit(true),
      dropSuperseded: Boolean = true): Unit =
    buildDenseImpl(spark, dir, prefix, buckets, where, dropSuperseded,
      _ => ())

  /** [[buildDense]] with the publish-crash fault hook
    * ([[GenerationPointer.rebuild]]). */
  private[sources] def buildDenseImpl(spark: SparkSession, dir: String,
      prefix: String, buckets: Int, where: Column, dropSuperseded: Boolean,
      faultHook: String => Unit): Unit =
    GenerationPointer.rebuild(spark, prefix, DenseTables, dropSuperseded,
        dropLegacy = true, faultHook) { tp =>
      BucketedTables.writeBucketed(
        SimilarityQueries.lshSignatures(spark, dir, where),
        Sigs.name(tp), Sigs.key, buckets)
    }

  /** Sweep the dense leg's stale generations — [[TextIndexLayout
    * .sweepStaleGenerations]]'s contract. */
  def sweepStaleGenerationsDense(spark: SparkSession, prefix: String,
      keepGenerations: Int = 1): Unit =
    GenerationPointer.sweepStale(spark, prefix, keepGenerations, DenseTables)

  /** Incremental maintenance — encode ONLY the vectors matching
    * `where` and append their signatures. Idempotent under retries via
    * the vec_id anti-join ([[DeltaIndex.appendAntiJoined]]): a replayed
    * delta files nothing twice — a duplicated signature row would
    * duplicate its vector in every future candidate list. */
  def appendDeltaDense(spark: SparkSession, dir: String, prefix: String,
      where: Column, buckets: Int = 8): Unit =
    appendDeltaVectorsDense(spark, prefix,
      Tables.load(spark, dir, "embeddings").filter(where)
        .select(col("vec_id"), col("embedding")), buckets)

  /** [[appendDeltaDense]] for an ARBITRARY (vec_id, embedding) frame —
    * the encode surface a stream of new vectors feeds micro-batch at a
    * time. Within-batch duplicates collapse first (the anti-join dedups
    * only against the PERSISTED signatures). */
  def appendDeltaVectorsDense(spark: SparkSession, prefix: String,
      vecs: DataFrame, buckets: Int = 8): Unit =
    DeltaIndex.appendAntiJoined(spark, physDense(spark, prefix), Sigs,
      SimilarityQueries.lshSignaturesOf(SimilarityQueries.normedVectors(
        vecs.dropDuplicates("vec_id"))), buckets)

  /** [[DeltaIndex.compact]] of the signatures. */
  def compactDense(spark: SparkSession, prefix: String,
      buckets: Int = 8): Unit =
    DeltaIndex.compact(spark, prefix, physDense(spark, prefix), Seq(Sigs),
      buckets)

  /** Right-to-be-forgotten against the dense leg: tombstone the given
    * vector ids — [[serveDense]]/[[serveHybrid]] exclude them from the
    * candidate buckets immediately; the next [[compactDense]] erases
    * their signature rows physically. Idempotent. */
  def purgeDense(spark: SparkSession, prefix: String,
      ids: DataFrame): Unit =
    Tombstones.purge(spark, prefix, ids)

  /** Serve an ARBITRARY dense query set — (vec_id, embedding) — from
    * the persisted signatures: request-side signature + Hamming-1
    * probe ring, bucket equi-join candidates, exact cosine re-rank via
    * point lookups into raw embeddings. Pass `excludeSelf = true` only
    * when the requests ARE corpus members. */
  def serveDense(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, excludeSelf: Boolean = false): DataFrame =
    SimilarityQueries.lshServeQueriesWith(spark, dir, queries,
      DeltaIndex.live(spark, prefix, physDense(spark, prefix), Sigs),
      excludeSelf)

  // ---- fused serving --------------------------------------------------

  /** Right-to-be-forgotten against the FUSED surface: tombstones are
    * per-prefix, so a purge against only one leg would keep serving
    * the document into fused results through the other leg. This
    * helper tombstones the ids on BOTH legs (text postings under
    * `textPrefix`, dense signatures under `densePrefix`) in one call —
    * the only purge entry point a [[serveHybrid]] caller should use.
    * Assumes the hybrid deployment's shared id space (doc_id ==
    * vec_id, the `txt_hybrid_rrf` convention). Idempotent per leg. */
  def purgeHybrid(spark: SparkSession, textPrefix: String,
      densePrefix: String, ids: DataFrame): Unit = {
    TextIndexLayout.purgeDocs(spark, textPrefix, ids)
    purgeDense(spark, densePrefix, ids)
  }

  /** Serve an ARBITRARY hybrid request frame — (q_id BIGINT,
    * text STRING, embedding ARRAY<FLOAT>) — with RRF fusion of the two
    * persisted legs. A request whose text is all-OOV (or null) simply
    * gets no sparse rows and fuses dense-only, and vice versa — the
    * full-outer fusion tolerates a missing leg per query by
    * construction ([[TextQueries.rrfFuse]]).
    *
    * Deletion: purge through [[purgeHybrid]], never a single leg — a
    * half-purged document would still reach fused results via the
    * leg that was skipped. */
  def serveHybrid(spark: SparkSession, dir: String, textPrefix: String,
      densePrefix: String, queries: DataFrame,
      excludeSelf: Boolean = false): DataFrame = {
    val sparse = TextIndexLayout.serve(spark, textPrefix,
        queries.filter(col("text").isNotNull)
          .select(col("q_id"), col("text")), excludeSelf)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = serveDense(spark, dir, densePrefix,
        queries.filter(col("embedding").isNotNull)
          .select(col("q_id").as("vec_id"), col("embedding")), excludeSelf)
      .select(col("q_id"), col("n_id").as("doc_id"),
        col("rank").as("r_dense"))
    TextQueries.rrfFuse(sparse, dense)
  }

  /** Serve the registered corpus query set (every 50th document, text
    * from `documents`, vector from `embeddings`): must equal
    * `txt_hybrid_rrf` row-for-row without rebuilding either leg index. */
  def queryHybrid(spark: SparkSession, dir: String, textPrefix: String,
      densePrefix: String): DataFrame =
    serveHybrid(spark, dir, textPrefix, densePrefix,
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"), col("text"))
        .join(Tables.load(spark, dir, "embeddings")
          .select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id")),
      excludeSelf = true)

  /** ONLINE hybrid serving: a stream of (q_id, text, embedding)
    * requests answered from the two persisted indexes, micro-batch at
    * a time through [[serveHybrid]] inside `foreachBatch` — the same
    * stream-to-batch serving bridge as the per-leg serveStream twins
    * (fusion needs full-outer joins and top-k windows Structured
    * Streaming forbids on unbounded input). Exactly-once is the sink's
    * usual foreachBatch contract (idempotent write keyed on batchId). */
  def serveHybridStream(spark: SparkSession, dir: String,
      textPrefix: String, densePrefix: String, queryStream: DataFrame,
      excludeSelf: Boolean = false)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    DeltaIndex.stream(queryStream) { (batch, batchId) =>
      sink(serveHybrid(spark, dir, textPrefix, densePrefix, batch,
        excludeSelf), batchId)
    }
}
