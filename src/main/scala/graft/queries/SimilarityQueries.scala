package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.util.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors) — BASELINE.json north star.
  *
  * Two paths:
  *  - [[bruteTopK]]: exact cosine top-k. The query set is broadcast
  *    against the full corpus — at 100 TB this is the per-partition
  *    scan pattern (each executor scores its partition against the
  *    broadcast queries, partial top-k via the window per query).
  *  - [[lshTopK]]: random-hyperplane LSH. 8 fixed ±1 hyperplanes give a
  *    256-bucket code; queries only score candidates in their own
  *    bucket, so the shuffle key is the bucket code and the pairwise
  *    work drops by ~256x at the cost of recall. Plane literals are
  *    deterministic (md5-derived, [[graft.functions.TextFunctions.planeSign]])
  *    and identical in the DuckDB oracle.
  */
object SimilarityQueries {

  private val Dim = 64
  private val NPlanes = 8
  private val TopK = 10

  /** PQ geometry, shared by every PQ variant (seed, learned, IVF-PQ)
    * AND interpolated into their oracle SQL — one source of truth so
    * the engines cannot drift. M subspaces of 64/M dims; R is the ADC
    * shortlist fed to the exact re-rank. */
  private val PqM = 16
  private val PqR = 50
  /** Dims per subspace — embeddings are 64-wide. Training (xfSlices)
    * and serving (pqPartials / pqAdcSql) MUST slice with the same d,
    * or a changed PqM would train codebooks whose subspace boundaries
    * disagree with the ADC scorer. */
  private val PqSubDim = 64 / PqM

  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Query subset: every 50th vector. Shared with AnnServeBench and
    * the index specs so the benched/served subset cannot drift from
    * the one the oracle checks. */
  private[graft] val isQuery: Column = col("vec_id") % 50 === 0

  /** Codegen'd dot/norm (graft.functions.VectorExpressions) — bit-
    * identical to the HOF fold, native loop in whole-stage codegen. */
  private def cosine(a: String, b: String): Column =
    expr(s"graft_dot($a.embedding, $b.embedding)") /
      (col(s"$a.nrm") * col(s"$b.nrm"))

  private def withNorm(e: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(e.sparkSession)
    e.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(expr("graft_norm2(embedding)")).as("nrm"))
  }

  /** (vec_id, embedding, nrm) projection of an ARBITRARY vector frame
    * (no label column required) — the encode surface stream-fed index
    * deltas use: a micro-batch of new embeddings goes through the same
    * assignment/encode code paths as a directory read. */
  private[graft] def normedVectors(vecs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(vecs.sparkSession)
    vecs.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_norm2(embedding)")).as("nrm"))
  }

  // ---------------------------------------------------------------------
  // ann_cosine_topk: exact brute-force baseline
  // ---------------------------------------------------------------------

  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embs(spark, dir))
    val q = e.filter(isQuery)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    broadcast(q).as("q").join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("q_id"),
        col("c.vec_id").as("n_id"),
        cosine("q", "c").as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  val bruteTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |ranked AS (
       |  SELECT q_id, n_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cosine, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // ann_lsh_topk: random-hyperplane bucketed scale path
  // ---------------------------------------------------------------------

  /** Signed projection of the embedding onto fixed plane p — the
    * codegen'd native dot against the sign vector as a float-array
    * literal. Bit-identical to the previous HOF fold (and to the
    * DuckDB twin): x.toFloat * ±1.0f is exact, DotFF accumulates
    * left-to-right in double exactly as the fold did, but the hot loop
    * is a native while-loop instead of an interpreted lambda per
    * element — with B×W plane projections per vector this is the LSH
    * index build's dominant term (r9: 24 projections for the banded
    * dedup). Callers all pass through withNorm/ensureRegistered, so
    * graft_dot is registered before resolution. */
  private def proj(p: Int): Column =
    call_function("graft_dot", col("embedding"),
      typedlit(planeSigns(p, Dim).map(_.toFloat)))

  private def projSql(p: Int, e: String): String = {
    val signs = planeSigns(p, Dim).map(s => if (s > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    s"list_sum(list_transform(generate_series(1, $Dim), i -> CAST($e[i] AS DOUBLE) * ($signs)[i]))"
  }

  /** Bucket code from the projection signs of planes
    * [offset, offset+nPlanes) — 2^nPlanes buckets. The offset selects
    * an independent plane set, which is what an OR-construction
    * (banding) needs: band b hashes with planes b*W..b*W+W-1, so two
    * bands never share a projection. */
  private[graft] def bucketCodeFrom(offset: Int, nPlanes: Int): Column =
    (0 until nPlanes).map(j =>
      when(proj(offset + j) > 0.0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  private[graft] def bucketCode(nPlanes: Int): Column =
    bucketCodeFrom(0, nPlanes)

  private[graft] def bucketCodeFromSql(e: String, offset: Int, nPlanes: Int): String =
    (0 until nPlanes)
      .map(j => s"CASE WHEN ${projSql(offset + j, e)} > 0.0 THEN ${1L << j} ELSE 0 END")
      .mkString("(", " + ", ")")

  private[graft] def bucketCodeSql(e: String, nPlanes: Int): String =
    bucketCodeFromSql(e, 0, nPlanes)

  /** Hamming-1 probe set over a `bucket` column — own bucket plus one
    * sign-flip per plane. ONE definition (and its SQL twin below)
    * shared by every multi-probe consumer (lshMultiProbe,
    * ann_filtered_topk, emb_knn_classify): a probe-ring change edited
    * in one place cannot desynchronize a query from its oracle. */
  private def probeSet(nPlanes: Int): Column =
    array(col("bucket") +:
      (0 until nPlanes).map(p => expr(s"bucket ^ ${1L << p}")): _*)

  private def probeSetSql(nPlanes: Int): String =
    ("bucket" +:
      (0 until nPlanes).map(p => s"xor(bucket, ${1L << p})")).mkString(", ")

  /** Scale note: for a FIXED plane count the bucket domain is fixed,
    * so bucket postings grow with corpus/2^planes and the candidate
    * join carries a quadratic term with a 1/2^planes constant (1.22x
    * wall at 10x data on the r7 curve at 8 planes). The re-bound at
    * extreme scale is MORE planes — capacity grows exponentially per
    * plane while recall decays gradually — so the plane count is now a
    * parameter interpolated into BOTH engines: `ann_lsh_topk` runs the
    * 8-plane default, `ann_lsh_topk12` the 12-plane scale point (16x
    * the bucket domain; LshScalingSpec pins candidate-set shrinkage
    * and the recall floor, BENCH_SF1.md the measured curve point).
    * O(log n) planes keeps per-bucket postings constant as the corpus
    * grows. IVF ([[ivfTopK]]) self-scales differently: its centroid
    * count grows with the corpus, holding cell size constant. */
  def lshTopKPlanes(spark: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    val e = withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(nPlanes))
    val q = e.filter(isQuery)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    q.as("q").join(e.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("q_id"),
        col("q.bucket").as("bucket"),
        col("c.vec_id").as("n_id"),
        cosine("q", "c").as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  def lshTopK(spark: SparkSession, dir: String): DataFrame =
    lshTopKPlanes(spark, dir, NPlanes)

  /** (vec_id, bucket) assignment under nPlanes — the index itself;
    * exposed so LshScalingSpec can measure candidate-join volume
    * (sum over buckets of |queries| x |members|) without running the
    * join. */
  private[queries] def lshBuckets(spark: SparkSession, dir: String, nPlanes: Int): DataFrame =
    withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(nPlanes))
      .select(col("vec_id"), col("bucket"))

  def lshTopKSqlPlanes(nPlanes: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
       |         ${bucketCodeSql("embedding", nPlanes)} AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS n_id,
       |         ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |ranked AS (
       |  SELECT q_id, bucket, n_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, bucket, n_id, cosine, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  val lshTopKSql: String = lshTopKSqlPlanes(NPlanes)

  // ---------------------------------------------------------------------
  // ann_lsh_multiprobe: Hamming-1 multi-probe over the LSH buckets
  // ---------------------------------------------------------------------

  /** Multi-probe LSH (the Lv et al. 2007 idea, restricted to the
    * Hamming-1 probe set): each query scans its own bucket PLUS the
    * nPlanes buckets one sign-flip away — the buckets a true neighbor
    * most likely fell into when a single projection straddled zero.
    * This is the missing half of the planes dial: MORE planes shrink
    * buckets exponentially (capacity) but lose recall linearly-ish;
    * probing buys that recall back for a ≤(nPlanes+1)× candidate
    * multiplier instead of the 2× per REMOVED plane. Run more planes
    * + probes at the same recall → smaller candidate volume than
    * fewer planes alone (MultiProbeSpec measures both directions).
    *
    * Shape: a corpus vector lives in exactly ONE bucket, so the probe
    * explode (queries × (nPlanes+1), tiny) joins the corpus index
    * without producing duplicate (q, n) pairs — still one equi-join
    * on the bucket key, no dedup pass needed. */
  def lshMultiProbePlanes(spark: SparkSession, dir: String,
      nPlanes: Int): DataFrame = {
    val e = withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(nPlanes))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"),
        explode(probeSet(nPlanes)).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    q.as("q").join(e.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        cosine("q", "c").as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  def lshMultiProbe(spark: SparkSession, dir: String): DataFrame =
    lshMultiProbePlanes(spark, dir, NPlanes)

  /** Corpus LSH signature grain — (vec_id, bucket, nrm) — the
    * persistable half of [[lshMultiProbe]]: the hyperplane geometry is
    * a fixed code constant ([[planeSigns]]), so unlike IVF-PQ there is
    * no trained geometry to freeze — the signature of a vector can
    * never drift between build and delta. One corpus scan; norms ride
    * along so serving never re-reads a candidate's floats except for
    * the exact dot. Consumed by
    * [[graft.sources.HybridIndexLayout.buildDense]]. */
  private[graft] def lshSignatures(spark: SparkSession, dir: String,
      where: Column = lit(true)): DataFrame =
    lshSignaturesOf(withNorm(embs(spark, dir).filter(where)))

  /** [[lshSignatures]] for an ARBITRARY normed (vec_id, embedding,
    * nrm) frame — the encode surface stream-fed signature deltas use. */
  private[graft] def lshSignaturesOf(normed: DataFrame): DataFrame =
    normed.withColumn("bucket", bucketCode(NPlanes))
      .select(col("vec_id"), col("bucket"), col("nrm"))

  /** Multi-probe LSH serving against a PERSISTED signature table —
    * the dense-leg twin of [[ivfpqServeQueriesWith]]. `queries` is an
    * arbitrary (vec_id, embedding) frame; its signatures + Hamming-1
    * probe ring are computed request-side with the SAME
    * [[bucketCode]]/[[probeSet]] the online query uses, candidates
    * come from the bucket equi-join against `sigs` (bucketed on
    * `bucket`: no index-side shuffle), and the exact cosine re-rank
    * reads candidate floats via point lookups into the raw embeddings
    * — identical arithmetic and tie-breaks to [[lshMultiProbe]], so
    * corpus-member queries get byte-identical rows
    * (HybridIndexLayoutSpec asserts it). */
  private[graft] def lshServeQueriesWith(spark: SparkSession, dir: String,
      queries: DataFrame, sigs: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val q = normedVectors(queries)
      .withColumn("bucket", bucketCode(NPlanes))
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"),
        explode(probeSet(NPlanes)).as("bucket"))
    val self = if (excludeSelf) col("q.q_id") =!= col("c.vec_id") else lit(true)
    val cand = q.as("q")
      .join(sigs.as("c"), col("q.bucket") === col("c.bucket") && self)
      .select(col("q.q_id").as("q_id"), col("q.embedding").as("qemb"),
        col("q.nrm").as("qnrm"),
        col("c.vec_id").as("n_id"), col("c.nrm").as("nnrm"))
    val corpus = embs(spark, dir)
      .select(col("vec_id").as("n_id"), col("embedding").as("nemb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    cand.join(corpus, "n_id")
      .select(col("q_id"), col("n_id"),
        (expr("graft_dot(qemb, nemb)") / (col("qnrm") * col("nnrm")))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  def lshMultiProbeSqlPlanes(nPlanes: Int): String = {
    val probes = probeSetSql(nPlanes)
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
       |         ${bucketCodeSql("embedding", nPlanes)} AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding, nrm,
       |         unnest([$probes]) AS bucket
       |  FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |         ${dotSql("p.embedding", "c.embedding")} / (p.nrm * c.nrm) AS cosine
       |  FROM probes p JOIN e c ON p.bucket = c.bucket AND p.q_id != c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cosine, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  val lshMultiProbeSql: String = lshMultiProbeSqlPlanes(NPlanes)

  // ---------------------------------------------------------------------
  // ann_recall_audit: recall@k of the LSH paths vs the exact baseline
  // ---------------------------------------------------------------------

  /** Recall measurement AS AN OPERATOR: per-query recall@10 of the
    * single-probe and multi-probe LSH paths against the exact
    * brute-force baseline, computed entirely on the cluster. Every
    * production ANN deployment runs exactly this audit on a sampled
    * query set before trusting an index configuration — here it is a
    * first-class, ORACLE-CHECKED query rather than a test-only number
    * (the ScalaTest recall specs assert thresholds; this publishes the
    * per-query numbers those thresholds summarize).
    *
    * Scale: the exact side is the documented Θ(|Q|·|N|) baseline — an
    * audit runs it over a SAMPLED query set (here the shared every-50th
    * subset), never the full corpus; the intersection joins are on
    * (q_id, n_id) pairs, k-bounded per query. recall_bp is exact
    * integer arithmetic (n_hit·10000 is always divisible by n_exact). */
  def recallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = bruteTopK(spark, dir).select(col("q_id"), col("n_id"))
      .persist() // feeds the base counts and both intersections
    val single = lshTopK(spark, dir).select(col("q_id"), col("n_id"))
    val multi = lshMultiProbe(spark, dir).select(col("q_id"), col("n_id"))
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as(name))
    val base = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    Tables.released(
      base
        .join(hits(single, "h1"), Seq("q_id"), "left_outer")
        .join(hits(multi, "hm"), Seq("q_id"), "left_outer")
        .select(col("q_id"), col("n_exact"),
          coalesce(col("h1"), lit(0L)).as("n_hit_single"),
          coalesce(col("hm"), lit(0L)).as("n_hit_multi"),
          floor(coalesce(col("h1"), lit(0L)) * lit(10000L) / col("n_exact"))
            .cast(LongType).as("recall_single_bp"),
          floor(coalesce(col("hm"), lit(0L)) * lit(10000L) / col("n_exact"))
            .cast(LongType).as("recall_multi_bp"))
        .orderBy(col("q_id")),
      exact)
  }

  val recallAuditSql: String =
    s"""WITH exact AS ($bruteTopKSql),
       |approx1 AS ($lshTopKSql),
       |approxm AS ($lshMultiProbeSql),
       |h1 AS (
       |  SELECT x.q_id, count(*) AS h1 FROM exact x
       |  JOIN approx1 a ON x.q_id = a.q_id AND x.n_id = a.n_id
       |  GROUP BY x.q_id),
       |hm AS (
       |  SELECT x.q_id, count(*) AS hm FROM exact x
       |  JOIN approxm a ON x.q_id = a.q_id AND x.n_id = a.n_id
       |  GROUP BY x.q_id),
       |base AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY q_id)
       |SELECT b.q_id, b.n_exact,
       |       COALESCE(h1.h1, 0) AS n_hit_single,
       |       COALESCE(hm.hm, 0) AS n_hit_multi,
       |       CAST(floor(COALESCE(h1.h1, 0) * 10000 / b.n_exact) AS BIGINT) AS recall_single_bp,
       |       CAST(floor(COALESCE(hm.hm, 0) * 10000 / b.n_exact) AS BIGINT) AS recall_multi_bp
       |FROM base b
       |LEFT JOIN h1 ON b.q_id = h1.q_id
       |LEFT JOIN hm ON b.q_id = hm.q_id
       |ORDER BY b.q_id""".stripMargin

  // ---------------------------------------------------------------------
  // ann_ir_metrics: label-relevance IR metrics (nDCG/MRR/P@k) per tier
  // ---------------------------------------------------------------------

  /** Micro-quantized DCG rank weights `round(1e6 / log2(r+1))` for
    * r = 1..[[TopK]], computed ONCE here and interpolated into both
    * engines as integer literals — nDCG becomes exact int64
    * arithmetic, immune to cross-engine log/float drift. */
  private val DcgW: Seq[Long] =
    (1 to TopK).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Prefix sums of [[DcgW]]: `DcgCum(k-1)` is the ideal DCG of k
    * relevant results in the top k positions. */
  private val DcgCum: Seq[Long] = DcgW.scanLeft(0L)(_ + _).tail

  /** Retrieval QUALITY eval as an operator — [[recallAudit]] asks "does
    * the index return what exact search would"; this asks the question
    * before it: "does exact search return anything RELEVANT" — the
    * encoder-eval table (label of neighbor == label of query as the
    * relevance judgment, the kNN-classify cousin). Per query and per
    * tier (exact brute force, deployed multi-probe LSH): relevant-in-
    * top-k, P@k, MRR, nDCG@k. The exact columns grade the EMBEDDING;
    * the LSH deltas price the index in user-facing relevance terms, a
    * stricter currency than recall-vs-exact.
    *
    * Determinism: DCG weights are int64 micro-literals ([[DcgW]]);
    * ideal DCG is a prefix-sum lookup capped by the corpus relevant
    * count; P@k/MRR/nDCG are published in integer bp/micro.
    *
    * Scale: all joins are on the k-bounded (q_id, n_id) pair grain
    * (|Q|·k rows) or the |labels| rollup; the only corpus passes are
    * the tier generators themselves — the audit adds nothing
    * corpus-sized, so it runs wherever the tiers run. */
  def irMetrics(spark: SparkSession, dir: String): DataFrame = {
    val labels = embs(spark, dir).select(col("vec_id"), col("label"))
    val qLab = labels.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val labCnt = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_label"))
    val wArr = array(DcgW.map(lit(_)): _*)
    val cumArr = array(DcgCum.map(lit(_)): _*)

    // (q_id, n_rel, dcg_micro, first_rel) for one tier's ranked pairs
    def tier(pairs: DataFrame): DataFrame =
      pairs.select(col("q_id"), col("n_id"), col("rank"))
        .join(labels.select(col("vec_id").as("n_id"),
          col("label").as("n_label")), "n_id")
        .join(qLab, "q_id")
        .select(col("q_id"),
          (col("n_label") === col("q_label")).cast(LongType).as("rel"),
          col("rank"))
        .groupBy(col("q_id"))
        .agg(
          sum(col("rel")).as("n_rel"),
          coalesce(sum(when(col("rel") === 1L,
            element_at(wArr, col("rank").cast(IntegerType)))), lit(0L))
            .as("dcg_micro"),
          min(when(col("rel") === 1L, col("rank"))).as("first_rel"))

    val ex = tier(bruteTopK(spark, dir))
    val ls = tier(lshMultiProbe(spark, dir))
    def cols(t: String): Seq[Column] = Seq(
      coalesce(col(s"$t.n_rel"), lit(0L)).as(s"n_rel_$t"),
      floor(coalesce(col(s"$t.n_rel"), lit(0L)) * lit(10000L) / lit(TopK.toLong))
        .cast(LongType).as(s"p10_bp_$t"),
      coalesce(floor(lit(1000000L) / col(s"$t.first_rel")), lit(0L))
        .cast(LongType).as(s"mrr_micro_$t"),
      // n_rel_corpus = 0 (a query whose label appears nowhere else)
      // would index the prefix-sum array at 0 — a runtime error in
      // Spark (SQL arrays are 1-based) and NULL in DuckDB. Define
      // nDCG as 0 when there are no relevant results to find, and
      // clamp the index to >= 1 so the division path is total.
      when(col("n_rel_corpus") === 0L, lit(0L))
        .otherwise(floor(coalesce(col(s"$t.dcg_micro"), lit(0L)) * lit(10000L) /
          element_at(cumArr,
            greatest(lit(1L), least(col("n_rel_corpus"), lit(TopK.toLong)))
              .cast(IntegerType))))
        .cast(LongType).as(s"ndcg_bp_$t"))
    qLab
      .join(labCnt, col("q_label") === col("label"))
      .select(col("q_id"), col("q_label"),
        (col("n_label") - 1L).as("n_rel_corpus")) // minus self
      .join(ex.as("exact"), Seq("q_id"), "left_outer")
      .join(ls.as("lsh"), Seq("q_id"), "left_outer")
      .select(Seq(col("q_id"), col("q_label"), col("n_rel_corpus")) ++
        cols("exact") ++ cols("lsh"): _*)
      .orderBy(col("q_id"))
  }

  val irMetricsSql: String = {
    val wList = DcgW.mkString("[", ", ", "]")
    val cumList = DcgCum.mkString("[", ", ", "]")
    def tierSql(src: String): String =
      s"""SELECT e.q_id,
         |       CAST(sum(CASE WHEN l.label = q.q_label THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_rel,
         |       CAST(COALESCE(sum(CASE WHEN l.label = q.q_label
         |         THEN ($wList)[e.rank] END), 0) AS BIGINT) AS dcg_micro,
         |       min(CASE WHEN l.label = q.q_label THEN e.rank END) AS first_rel
         |FROM $src e
         |JOIN lab l ON e.n_id = l.vec_id
         |JOIN q ON e.q_id = q.q_id
         |GROUP BY e.q_id""".stripMargin
    def colsSql(t: String): String =
      s"""COALESCE($t.n_rel, 0) AS n_rel_$t,
         |       CAST(floor(COALESCE($t.n_rel, 0) * 10000 / $TopK) AS BIGINT)
         |         AS p10_bp_$t,
         |       CAST(COALESCE(floor(1000000 / $t.first_rel), 0) AS BIGINT)
         |         AS mrr_micro_$t,
         |       CAST(CASE WHEN b.n_rel_corpus = 0 THEN 0
         |         ELSE floor(COALESCE($t.dcg_micro, 0) * 10000 /
         |           ($cumList)[CAST(greatest(1, least(b.n_rel_corpus, $TopK))
         |             AS INTEGER)]) END
         |         AS BIGINT) AS ndcg_bp_$t""".stripMargin
    s"""WITH exact_pairs AS ($bruteTopKSql),
       |lsh_pairs AS ($lshMultiProbeSql),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label FROM embeddings
       |      WHERE vec_id % 50 = 0),
       |exact AS (${tierSql("exact_pairs")}),
       |lsh AS (${tierSql("lsh_pairs")}),
       |lc AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
       |b AS (
       |  SELECT q.q_id, q.q_label,
       |         CAST(lc.n_label - 1 AS BIGINT) AS n_rel_corpus
       |  FROM q JOIN lc ON q.q_label = lc.label)
       |SELECT b.q_id, b.q_label, b.n_rel_corpus,
       |       ${colsSql("exact")},
       |       ${colsSql("lsh")}
       |FROM b
       |LEFT JOIN exact ON b.q_id = exact.q_id
       |LEFT JOIN lsh ON b.q_id = lsh.q_id
       |ORDER BY b.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ann_ivf_topk: inverted-file (IVF) bucketed ANN
  // ---------------------------------------------------------------------

  /** Every 40th vector serves as a deterministic centroid (k-means
    * omitted: no iterative training in the oracle's reach, and the IVF
    * *plan shape* — assign, probe, in-cell scan — is what scales). */
  private val isCentroid: Column = col("vec_id") % 40 === 7
  private val NProbe = 2

  /** IVF ANN: assign each vector to its nearest centroid (one broadcast
    * of the tiny centroid set against the corpus — at 100 TB this is
    * the one full-corpus pass, and the assignment would be persisted as
    * the index). Queries probe their NProbe nearest cells and score
    * only those cells' members: the shuffle key is the cell id and the
    * pairwise work drops by ~|cells|/NProbe vs brute force. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embs(spark, dir))
    val cents = e.filter(isCentroid)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    // centroid scores for every vector; feeds both the rn=1 assignment
    // and the rn<=NProbe query probes (persist: two consumers)
    val scoredAll = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("nrm"), col("cent_id"),
        (expr("graft_dot(embedding, cvec)") / (col("nrm") * col("cnrm")))
          .as("ccos"))
      .withColumn("crn", row_number().over(aw))
      .persist()
    scoredAll.count()
    val assign = scoredAll.filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val probes = scoredAll.filter((col("vec_id") % 50 === 0) && col("crn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val cv = assign.join(e, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("embedding").as("nvec"), col("nrm").as("nnrm"))
    val qv = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    Tables.released(
      probes.join(cv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .join(qv, Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          (expr("graft_dot(qvec, nvec)") / (col("qnrm") * col("nnrm")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= TopK)
        .orderBy(col("q_id"), col("rank")),
      scoredAll)
  }

  val ivfTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
       |  FROM e WHERE vec_id % 40 = 7),
       |cscored AS (
       |  SELECT vec_id, ccos, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |           ${dotSql("e.embedding", "cvec")} / (e.nrm * cnrm) AS ccos
       |    FROM e, cents)),
       |assign AS (SELECT vec_id, cent_id AS cell FROM cscored WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell
       |  FROM cscored WHERE vec_id % 50 = 0 AND crn <= $NProbe),
       |cand AS (
       |  SELECT p.q_id, a.vec_id AS n_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell
       |  WHERE p.q_id != a.vec_id),
       |scored AS (
       |  SELECT c.q_id, c.n_id,
       |         ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cosine
       |  FROM cand c JOIN e q ON c.q_id = q.vec_id JOIN e n ON c.n_id = n.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cosine, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // emb_label_centroids: element-wise vector aggregation (centroids)
  // ---------------------------------------------------------------------

  /** Fixed-point scaling for centroid sums: 2^27. Power-of-two, so
    * float32 -> double * Fp is exact (no mantissa change); round() then
    * yields the same int64 on both engines (ties away from zero). */
  private val Fp = 134217728.0

  /** Per-label centroid of the embedding column — the element-wise mean
    * every training pipeline needs (class prototypes, IVF training,
    * drift monitoring). Relational form: posexplode to (label, pos, v),
    * one shuffle on (label, pos).
    *
    * Determinism at scale: component values are fixed-pointed to int64
    * (round(v * 2^27)) so the per-group `sum` is exact integer
    * arithmetic — order-free, partial-agg'd map-side, O(1) aggregation
    * buffer. No collect_list / ObjectHashAggregate anywhere (a hot
    * label with 10^9 members costs one long per (label,pos) buffer,
    * not an N-struct array — PlanSpec guards this). The centroid norm
    * folds the 64 per-position means in fixed syntactic order
    * (m0*m0 + m1*m1 + ...), identical left-association in the oracle,
    * so the doubles are bit-identical cross-engine. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val means = embs(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        round(col("col").cast(DoubleType) * lit(Fp)).cast(LongType).as("xfp"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("xfp")).as("sfp"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("n"),
        (col("sfp").cast(DoubleType) / (col("n").cast(DoubleType) * lit(Fp)))
          .as("m"))
    val pivots = (0 until Dim).map(i =>
      max(when(col("pos") === i, col("m"))).as(s"m$i"))
    val norm2 = (0 until Dim).map(i => col(s"m$i") * col(s"m$i")).reduce(_ + _)
    means.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"), pivots: _*)
      .select(col("label"), col("n_vecs"),
        col("m0").as("c0"), col("m31").as("c31"), col("m63").as("c63"),
        sqrt(norm2).as("centroid_norm"))
      .orderBy(col("label"))
  }

  val labelCentroidsSql: String = {
    val pivots = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i")
      .mkString(",\n       ")
    val norm2 = (0 until Dim).map(i => s"m$i * m$i").mkString(" + ")
    s"""WITH x AS (
       |  SELECT label, i - 1 AS pos,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $Fp) AS BIGINT) AS xfp
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |m AS (
       |  SELECT label, pos, count(*) AS n,
       |         CAST(sum(xfp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $Fp) AS m
       |  FROM x GROUP BY 1, 2),
       |p AS (
       |  SELECT label, max(n) AS n_vecs,
       |       $pivots
       |  FROM m GROUP BY label)
       |SELECT label, n_vecs, m0 AS c0, m31 AS c31, m63 AS c63,
       |       sqrt($norm2) AS centroid_norm
       |FROM p
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_drift: centroid shift between deterministic corpus halves
  // ---------------------------------------------------------------------

  /** Per-label centroid L2 distance between the two deterministic
    * halves of the corpus (vec_id parity — in production, yesterday's
    * batch vs today's) — the embedding-distribution drift monitor a
    * training pipeline alarms on. Same scale shape as
    * [[labelCentroids]]: fixed-point int sums (order-free exact, O(1)
    * buffers), per-half conditional aggregates in ONE pass over one
    * shuffle, pivoted means, and the distance folded in fixed pos
    * order so the doubles hash bit-identically cross-engine. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val isB = (col("vec_id") % 2) === 1
    val means = embs(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), isB.as("in_b"),
        round(col("col").cast(DoubleType) * lit(Fp)).cast(LongType).as("xfp"))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(!col("in_b"), col("xfp"))).as("sa"),
        count(when(!col("in_b"), 1)).as("na"),
        sum(when(col("in_b"), col("xfp"))).as("sb"),
        count(when(col("in_b"), 1)).as("nb"))
      .select(col("label"), col("pos"), col("na"), col("nb"),
        (col("sa").cast(DoubleType) / (col("na").cast(DoubleType) * lit(Fp)) -
          col("sb").cast(DoubleType) / (col("nb").cast(DoubleType) * lit(Fp)))
          .as("d"))
    val pivots = (0 until Dim).map(i =>
      max(when(col("pos") === i, col("d"))).as(s"d$i"))
    val dist2 = (0 until Dim).map(i => col(s"d$i") * col(s"d$i")).reduce(_ + _)
    means.groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), (max(col("nb")).as("n_b") +: pivots): _*)
      .select(col("label"), col("n_a"), col("n_b"),
        sqrt(dist2).as("drift_l2"))
      .orderBy(col("label"))
  }

  val driftSql: String = {
    val pivots = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN d END) AS d$i")
      .mkString(",\n       ")
    val dist2 = (0 until Dim).map(i => s"d$i * d$i").mkString(" + ")
    s"""WITH x AS (
       |  SELECT label, i - 1 AS pos, vec_id % 2 = 1 AS in_b,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $Fp) AS BIGINT) AS xfp
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |m AS (
       |  SELECT label, pos,
       |         count(CASE WHEN NOT in_b THEN 1 END) AS na,
       |         count(CASE WHEN in_b THEN 1 END) AS nb,
       |         CAST(sum(CASE WHEN NOT in_b THEN xfp END) AS DOUBLE) / (CAST(count(CASE WHEN NOT in_b THEN 1 END) AS DOUBLE) * $Fp)
       |           - CAST(sum(CASE WHEN in_b THEN xfp END) AS DOUBLE) / (CAST(count(CASE WHEN in_b THEN 1 END) AS DOUBLE) * $Fp) AS d
       |  FROM x GROUP BY 1, 2),
       |p AS (
       |  SELECT label, max(na) AS n_a, max(nb) AS n_b,
       |       $pivots
       |  FROM m GROUP BY label)
       |SELECT label, n_a, n_b, sqrt($dist2) AS drift_l2
       |FROM p
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_quantize: symmetric int8 quantization of the embedding column
  // ---------------------------------------------------------------------

  /** Shared quantization base: (vec_id, max_abs, scale, qvec). Zero
    * vectors get a null scale (and all-null qvec) rather than being
    * dropped — [[quantizeInt8]] reports them; [[int8TopK]] filters
    * them (a zero vector has no cosine direction). */
  private def quantizedBase(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("dv"))
      .select(col("vec_id"), col("dv"),
        array_max(transform(col("dv"), x => abs(x))).as("max_abs"))
      .select(col("vec_id"), col("dv"), col("max_abs"),
        when(col("max_abs") > 0.0, lit(127.0) / col("max_abs")).as("scale"))
      .select(col("vec_id"), col("max_abs"), col("scale"),
        transform(col("dv"),
          x => round(x * col("scale")).cast(IntegerType)).as("qvec"))

  /** SQL twin of [[quantizedBase]]: CTE chain ending in
    * `qv(vec_id, max_abs, scale, qvec)`. */
  private val quantizeCtes: String =
    """d AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS max_abs FROM d),
      |s AS (
      |  SELECT vec_id, dv, max_abs,
      |         CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs END AS scale FROM m),
      |qv AS (
      |  SELECT vec_id, max_abs, scale,
      |         list_transform(dv, x -> CAST(round(x * scale) AS INTEGER)) AS qvec
      |  FROM s)""".stripMargin

  /** Per-vector symmetric int8 quantization (scale = 127 / max|x|,
    * q_i = round(x_i * scale)) — the storage/ANN compression step of a
    * production vector pipeline (4x smaller than float32, SIMD int8
    * dot products downstream). Pure per-row map work: zero shuffles,
    * whole-stage codegen'd array HOFs, embarrassingly parallel at
    * 100 TB. All arithmetic in double with identical association on
    * both engines; round() ties go away from zero in both.
    *
    * The quantized vector is emitted as scalar columns (csv join + an
    * exact position-weighted int64 checksum) rather than a raw array —
    * array cells aren't hashable by the driver's pandas compare; same
    * convention as `ev_customer_view` / `mm_media_features`. Zero
    * vectors (null scale) keep null csv/checksum. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizedBase(spark, dir)
      .select(col("vec_id"), col("max_abs"), col("scale"),
        when(col("scale").isNotNull,
          array_join(transform(col("qvec"), x => x.cast(StringType)), ","))
          .as("qvec_csv"),
        when(col("scale").isNotNull,
          aggregate(
            zip_with(col("qvec"), sequence(lit(1), lit(Dim)),
              (x, i) => x.cast(LongType) * i.cast(LongType)),
            lit(0L), (acc, x) => acc + x))
          .as("qvec_checksum"))
      .orderBy(col("vec_id"))

  val quantizeInt8Sql: String =
    s"""WITH $quantizeCtes
       |SELECT vec_id, max_abs, scale,
       |       CASE WHEN scale IS NOT NULL THEN array_to_string(qvec, ',') END AS qvec_csv,
       |       CASE WHEN scale IS NOT NULL THEN CAST(list_sum(list_transform(generate_series(1, $Dim),
       |              i -> CAST(qvec[i] AS BIGINT) * i)) AS BIGINT) END AS qvec_checksum
       |FROM qv
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // ann_int8_topk: ANN over the quantized vectors (integer hot loop)
  // ---------------------------------------------------------------------

  /** Top-k by cosine over the int8-quantized vectors — the compressed
    * serving path [[quantizeInt8]] feeds: the hot loop is an integer
    * dot product (4x less data moved, SIMD int8 on real hardware), and
    * because cosine normalizes per-vector, the quantization scales
    * CANCEL — score = dot_q / sqrt(n2_q * n2_c) needs no float
    * reconstruction. All pairwise arithmetic is exact int64, so the
    * oracle is bit-identical despite the "approximate" representation;
    * doubles appear only in the final division. */
  def int8TopK(spark: SparkSession, dir: String): DataFrame = {
    val qz = quantizedBase(spark, dir)
      .filter(col("max_abs") > 0.0)
      .select(col("vec_id"), col("qvec"),
        aggregate(col("qvec"), lit(0L),
          (acc, x) => acc + x.cast(LongType) * x.cast(LongType)).as("n2"))
    val q = qz.filter(isQuery)
    val dotQ = aggregate(
      zip_with(col("q.qvec"), col("c.qvec"),
        (x, y) => x.cast(LongType) * y.cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_q8").desc, col("n_id"))
    broadcast(q).as("q").join(qz.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("q_id"),
        col("c.vec_id").as("n_id"),
        (dotQ.cast(DoubleType) /
          sqrt(col("q.n2").cast(DoubleType) * col("c.n2").cast(DoubleType)))
          .as("score_q8"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  val int8TopKSql: String =
    s"""WITH $quantizeCtes,
       |qz AS (
       |  SELECT vec_id, qvec FROM qv WHERE max_abs > 0.0),
       |n AS (
       |  SELECT vec_id, qvec,
       |         CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS n2
       |  FROM qz),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(list_sum(list_transform(generate_series(1, $Dim),
       |                i -> CAST(q.qvec[i] AS BIGINT) * CAST(c.qvec[i] AS BIGINT))) AS DOUBLE)
       |           / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS score_q8
       |  FROM n q JOIN n c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |ranked AS (
       |  SELECT q_id, n_id, score_q8,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_q8 DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, score_q8, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // ann_knn_join: k-nearest-neighbor self-join within blocks
  // ---------------------------------------------------------------------

  /** Per-vector top-3 neighbors within its label block — the kNN
    * self-join that feeds semantic clustering, kNN-graph construction,
    * and near-dup candidate generation. The per-query top-k is a
    * partitioned window over the block pairs, which Spark executes
    * with a WindowGroupLimit partial pass (map-side top-k before the
    * shuffle).
    *
    * Scale shape: label blocks GROW with the corpus (fixed label
    * domain), so an uncapped in-block self-join is quadratic — the r7
    * sf1.0 scale curve measured it 19.8x at 10x data. The neighbor
    * side therefore draws from a bounded deterministic sample per
    * label: an md5 threshold on vec_id keeps ~MaxBlock expected
    * neighbors per label once blocks exceed the cap, and admits ALL
    * vectors below it (every test SF — results and oracle byte-
    * identical there, like the dedup MaxPostingList guard). Past the
    * cap, pair count is corpus x MaxBlock = linear. The query side is
    * never sampled: every vector still gets its top-3. At real 100 TB
    * you would additionally sub-block by LSH bucket (see [[lshTopK]])
    * to concentrate the sample on likely neighbors. */
  /** Neighbor-pool cap for [[knnJoin]] — interpolated into BOTH the
    * DataFrame predicate and the oracle SQL so a tune can never desync
    * the two engines. */
  private val MaxBlock = 1000L

  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val KnnK = 3
    val e = withNorm(embs(spark, dir))
    val nl = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    // h20 uniform in [0, 2^20); pass rate MaxBlock/n_label once the
    // block exceeds the cap, 1.0 below it
    val pool = e.join(broadcast(nl), "label")
      .filter(h60Pool(col("vec_id"), col("n_label"), MaxBlock))
      .drop("n_label")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    e.as("a").join(pool.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("nn_id"),
        cosine("a", "b").as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= KnnK)
      .orderBy(col("vec_id"), col("rank"))
  }

  val knnJoinSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |nl AS (SELECT label, count(*) AS n_label FROM e GROUP BY label),
       |pool AS (
       |  SELECT e.* FROM e JOIN nl USING (label)
       |  WHERE ${h60PoolSql("vec_id", "n_label", MaxBlock)}),
       |scored AS (
       |  SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nn_id,
       |         ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM e a JOIN pool b ON a.label = b.label AND a.vec_id != b.vec_id),
       |ranked AS (
       |  SELECT vec_id, label, nn_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT vec_id, label, nn_id, cosine, rank
       |FROM ranked WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // emb_threshold_calibration: cosine-vs-label calibration curve
  // ---------------------------------------------------------------------

  /** Calibration bins over [-1, 1] — interpolated into BOTH engines. */
  private val CalibBins = 10L

  /** Threshold calibration: bucket the multi-probe candidate pairs'
    * cosines into [[CalibBins]] bins and report the same-label rate
    * per bin — the curve that justifies (or indicts) a similarity
    * threshold before a dedup/labeling pass commits to it. A clean
    * embedding space shows the rate rising with cosine; a flat curve
    * means the threshold encodes nothing.
    *
    * Scale shape: pairs come from the ALREADY-BOUNDED multi-probe
    * shortlists (never an all-pairs sweep); binning is exact integer
    * floor on the shared bit-identical cosines; the rollup is
    * ≤CalibBins+1 groups, map-side combined. */
  def thresholdCalibration(spark: SparkSession, dir: String): DataFrame =
    thresholdCalibrationPlanes(spark, dir, NPlanes)

  /** The planes dial on the calibration consumer: the curve is only
    * trustworthy if it is measured under the SAME index geometry the
    * production pass will run — re-binding the plane count re-bins
    * the same bit-identical cosines. */
  def thresholdCalibrationPlanes(spark: SparkSession, dir: String,
      nPlanes: Int): DataFrame = {
    val labels = embs(spark, dir).select(col("vec_id"), col("label"))
    val pairs = lshMultiProbePlanes(spark, dir, nPlanes)
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "q_label"), "q_id")
      .join(labels.withColumnRenamed("vec_id", "n_id")
        .withColumnRenamed("label", "n_label"), "n_id")
    pairs
      .withColumn("bin",
        least(floor((col("cosine") + 1.0) / 2.0 * CalibBins),
          lit(CalibBins - 1)).cast(LongType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        Tables.countIf(col("q_label") === col("n_label")).as("n_same"))
      .select(col("bin"),
        (col("bin").cast(DoubleType) * 2.0 / CalibBins - 1.0).as("cos_lo"),
        col("n_pairs"), col("n_same"),
        Tables.ratio(col("n_same"), col("n_pairs")).as("same_label_rate"))
      .orderBy(col("bin"))
  }

  val thresholdCalibrationSql: String = thresholdCalibrationSqlPlanes(NPlanes)

  def thresholdCalibrationSqlPlanes(nPlanes: Int): String =
    s"""WITH pairs AS (${lshMultiProbeSqlPlanes(nPlanes)}),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |binned AS (
       |  SELECT least(CAST(floor((p.cosine + 1.0) / 2.0 * $CalibBins) AS BIGINT),
       |               ${CalibBins - 1}) AS bin,
       |         CASE WHEN q.label = n.label THEN 1 END AS same
       |  FROM pairs p
       |  JOIN lab q ON p.q_id = q.vec_id
       |  JOIN lab n ON p.n_id = n.vec_id)
       |SELECT bin,
       |       CAST(bin AS DOUBLE) * 2.0 / $CalibBins - 1.0 AS cos_lo,
       |       count(*) AS n_pairs,
       |       count(same) AS n_same,
       |       CAST(count(same) AS DOUBLE)
       |         / nullif(CAST(count(*) AS DOUBLE), 0.0) AS same_label_rate
       |FROM binned
       |GROUP BY bin
       |ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------------
  // ann_hamming_topk: 1-bit (binary) embedding tier
  // ---------------------------------------------------------------------

  /** Binary-embedding search: each vector compresses to its 64 sign
    * bits (two 32-bit halves so both engines stay in positive int64),
    * and neighbors rank by Hamming distance — the 1-bit tier below
    * int8 and PQ: 8 bytes/vector, XOR+popcount per comparison, the
    * representation a billion-scale first-pass filter stores in RAM.
    * Sign-of-component IS random-hyperplane LSH with axis-aligned
    * planes, so Hamming distance estimates angular distance.
    *
    * Scale shape: the signature build is one narrow scan (64 sign
    * tests folding into two int64s) MATERIALIZED before the pair
    * join — fused into the BNLJ stage Catalyst re-evaluates the
    * 64-term projection inside the pair loop (measured ~25x at the 10x
    * sf1.0 dir: 52.7 s -> 2.1 s), exactly the failure mode the 8-byte code
    * exists to avoid. This exact query is the documented brute
    * baseline over the codes (like ann_int8_topk for its tier) — the
    * composite scale path buckets on a signature prefix exactly as
    * [[lshTopK]] does. Determinism: distances are exact ints; ties
    * break on n_id. */
  /** The 64-bit sign signature grain — (vec_id, sig_lo, sig_hi) —
    * shared by the exact-tier [[hammingTopK]] and the bucketed scale
    * tier [[hammingBucketed]]: one signature definition, so the two
    * tiers can never disagree about what "the signature" is. */
  private def hammingSigs(spark: SparkSession, dir: String): DataFrame = {
    def half(lo: Int): Column =
      (0 until 32).map { j =>
        when(col("embedding").getItem(lo + j) > 0.0f,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    embs(spark, dir).select(col("vec_id"),
      half(0).as("sig_lo"), half(32).as("sig_hi"))
  }

  def hammingTopK(spark: SparkSession, dir: String): DataFrame = {
    val sigs = hammingSigs(spark, dir)
      .persist() // materialize: 16 bytes/vector ONCE, never per pair
    sigs.count()
    val q = sigs.filter(isQuery)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("n_id"))
    Tables.released(
      broadcast(q).as("q")
        .join(sigs.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
          (bit_count(expr("q.sig_lo ^ c.sig_lo")) +
            bit_count(expr("q.sig_hi ^ c.sig_hi")))
            .cast(LongType).as("hamming"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= TopK)
        .orderBy(col("q_id"), col("rank")),
      sigs)
  }

  val hammingTopKSql: String = {
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(1, 32),
         |  i -> CASE WHEN embedding[i + $off] > 0 THEN CAST(1 AS BIGINT) << (i - 1)
         |            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
        .replaceAll("\n\\s*", " ")
    s"""WITH sigs AS (
       |  SELECT vec_id, ${half(0)} AS sig_lo, ${half(32)} AS sig_hi
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(bit_count(xor(q.sig_lo, c.sig_lo))
       |            + bit_count(xor(q.sig_hi, c.sig_hi)) AS BIGINT) AS hamming
       |  FROM sigs q JOIN sigs c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id % 50 = 0),
       |ranked AS (
       |  SELECT q_id, n_id, hamming,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY hamming, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, hamming, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_hard_negatives: retrieval-training negative mining
  // ---------------------------------------------------------------------

  /** Hard-negative cosine band [lo, hi): similar enough to be
    * confusable, below the near-positive region. Interpolated into
    * BOTH engines. */
  private val NegLo = 0.30
  private val NegHi = 0.80

  /** Negatives mined per anchor. */
  private val NegK = 5

  /** Hard-negative mining (the DPR/Contriever training-data pass): for
    * every anchor in the registered query set, the [[NegK]] HARDEST
    * negatives — highest cosine inside [[NegLo]]..[[NegHi]]) — from
    * the multi-probe LSH candidate set. Random negatives are easy and
    * teach a retriever nothing; near-positives (cosine ≥ hi) would
    * poison the contrastive loss as false negatives; the band between
    * is where the training signal lives.
    *
    * Scale shape: candidate generation is [[lshMultiProbe]]'s bucket
    * equi-join verbatim (request-sized probe ring, no corpus pair
    * join); the band filter and per-anchor top-k run on the
    * already-bounded candidate grain. Mining BENEFITS from LSH bias:
    * bucket-colliding vectors skew toward high cosine, which is
    * exactly the hard end of the band. Determinism: IEEE cosine
    * compares, ties on n_id. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesPlanes(spark, dir, NPlanes)

  /** The planes dial on the mining consumer ([[lshTopKPlanes]] note):
    * more planes shrink the candidate buckets exponentially while the
    * multi-probe ring buys back recall — `emb_hard_negatives12` is
    * the registered 12-plane scale point (16× bucket domain), the
    * re-bound a 100× corpus applies to mining without touching the
    * query shape. */
  def hardNegativesPlanes(spark: SparkSession, dir: String,
      nPlanes: Int): DataFrame = {
    val e = withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(nPlanes))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"),
        explode(probeSet(nPlanes)).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    q.as("q").join(e.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        cosine("q", "c").as("cosine"))
      .filter(col("cosine") >= NegLo && col("cosine") < NegHi)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= NegK)
      .orderBy(col("q_id"), col("rank"))
  }

  val hardNegativesSql: String = hardNegativesSqlPlanes(NPlanes)

  def hardNegativesSqlPlanes(nPlanes: Int): String = {
    val probes = probeSetSql(nPlanes)
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
       |         ${bucketCodeSql("embedding", nPlanes)} AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding, nrm,
       |         unnest([$probes]) AS bucket
       |  FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |         ${dotSql("p.embedding", "c.embedding")} / (p.nrm * c.nrm) AS cosine
       |  FROM probes p JOIN e c ON p.bucket = c.bucket AND p.q_id != c.vec_id),
       |banded AS (
       |  SELECT q_id, n_id, cosine FROM scored
       |  WHERE cosine >= $NegLo AND cosine < $NegHi),
       |ranked AS (
       |  SELECT q_id, n_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM banded)
       |SELECT q_id, n_id, cosine, rank
       |FROM ranked WHERE rank <= $NegK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ann_hamming_bucketed: signature-prefix bucketed Hamming tier
  // ---------------------------------------------------------------------

  /** Bucket-key width: the low [[HamPrefixBits]] bits of sig_lo.
    * 2^8 = 256 buckets; with the Hamming-1 probe ring each query
    * touches 9 of them — a candidate set of ~9/256 ≈ 3.5% of the
    * corpus vs [[hammingTopK]]'s all-pairs. Interpolated into BOTH
    * engines. */
  private val HamPrefixBits = 8

  /** The scale tier [[hammingTopK]]'s doc promises: bucket every
    * signature on a [[HamPrefixBits]]-bit prefix, probe a query's own
    * prefix plus its Hamming-1 flips (the [[lshMultiProbe]] ring
    * applied to the signature domain), and rank ONLY the bucket-join
    * candidates by full 64-bit distance. A true neighbor is missed
    * when ≥2 of its differing bits land in the 8-bit prefix, so this
    * is a NEAR-DUP tier: recall ~1 at small distance (sign-identical
    * clusters provably share the bucket — HammingRecallSpec's planted
    * case), falling to a measured 0.10-0.18 for the synthetic
    * corpus's mid-distance (d≥16/64) top-10 — the honest low end of
    * the S-curve, same division of labor as dedup_recall_audit's
    * banding curve; mid-distance top-k belongs to the exact tier or
    * the cosine-LSH family. Same signature definition ([[hammingSigs]]),
    * same distance, same tie-breaks; the join is an equi-join on the
    * prefix, never a =!= pair join, so candidate generation scales as
    * corpus/2^b per probe — and b grows with the corpus exactly like
    * the LSH plane count ([[lshTopKPlanes]] note). */
  /** Probe masks for the Hamming-`radius` ring over the
    * [[HamPrefixBits]]-bit prefix: 9 probes at radius 1, 37 at radius
    * 2 (9 + C(8,2) double flips), 93 at radius 3 (+C(8,3) triples).
    * The ring is the recall dial the `lshMultiProbe` note promises for
    * the signature domain: radius 2 buys back the mid-distance regime
    * (a true neighbor is missed only when ≥3 of its differing bits
    * land in the prefix) for a bounded 37/256 ≈ 14.5% candidate share
    * per query — measured recall 0.10→0.41 at sf0.001, 0.18→0.42 at
    * sf0.01 (HammingRecallSpec) at ~4× the radius-1 candidate volume.
    * Radius 3 probes 93/256 ≈ 36% of the bucket domain — past the
    * point where the bucketed tier can beat the exact scan by much;
    * [[hammingRecall]] publishes exactly that crossover so the radius
    * choice is a read, not a rerun. */
  private def hamProbeMasks(radius: Int): Seq[Long] = {
    val single = (0 until HamPrefixBits).map(p => 1L << p)
    val double =
      if (radius < 2) Nil
      else for {
        p <- 0 until HamPrefixBits
        r <- (p + 1) until HamPrefixBits
      } yield (1L << p) | (1L << r)
    val triple =
      if (radius < 3) Nil
      else for {
        p <- 0 until HamPrefixBits
        r <- (p + 1) until HamPrefixBits
        t <- (r + 1) until HamPrefixBits
      } yield (1L << p) | (1L << r) | (1L << t)
    0L +: (single ++ double ++ triple)
  }

  def hammingBucketed(spark: SparkSession, dir: String): DataFrame =
    hammingBucketedRadius(spark, dir, 1)

  def hammingBucketedRadius(spark: SparkSession, dir: String,
      radius: Int): DataFrame = {
    val mask = (1L << HamPrefixBits) - 1
    val sigs = hammingSigs(spark, dir)
      .withColumn("pfx", col("sig_lo").bitwiseAND(lit(mask)))
      .persist() // one signature pass feeds the query and corpus sides
    sigs.count()
    val q = sigs.filter(isQuery)
      .select(col("vec_id").as("q_id"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"),
        explode(array(hamProbeMasks(radius).map(m =>
          col("pfx").bitwiseXOR(lit(m))): _*)).as("pfx"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("n_id"))
    Tables.released(
      q.join(sigs, Seq("pfx"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (bit_count(col("q_lo").bitwiseXOR(col("sig_lo"))) +
            bit_count(col("q_hi").bitwiseXOR(col("sig_hi"))))
            .cast(LongType).as("hamming"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= TopK)
        .orderBy(col("q_id"), col("rank")),
      sigs)
  }

  val hammingBucketedSql: String = hammingBucketedSqlRadius(1)

  def hammingBucketedSqlRadius(radius: Int): String = {
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(1, 32),
         |  i -> CASE WHEN embedding[i + $off] > 0 THEN CAST(1 AS BIGINT) << (i - 1)
         |            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
        .replaceAll("\n\\s*", " ")
    val mask = (1L << HamPrefixBits) - 1
    val probes = hamProbeMasks(radius)
      .map(m => if (m == 0L) "pfx" else s"xor(pfx, $m)")
      .mkString(", ")
    s"""WITH sigs AS (
       |  SELECT vec_id, sig_lo, sig_hi, sig_lo & $mask AS pfx FROM (
       |    SELECT vec_id, ${half(0)} AS sig_lo, ${half(32)} AS sig_hi
       |    FROM embeddings)),
       |q AS (
       |  SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi,
       |         unnest([$probes]) AS pfx
       |  FROM sigs WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |         CAST(bit_count(xor(q.q_lo, c.sig_lo))
       |            + bit_count(xor(q.q_hi, c.sig_hi)) AS BIGINT) AS hamming
       |  FROM q JOIN sigs c ON q.pfx = c.pfx AND q.q_id != c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, hamming,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY hamming, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, hamming, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ann_hamming_recall: the probe-ring S-curve as an operator
  // ---------------------------------------------------------------------

  /** Ring radii the recall table publishes — radius 3's 93-probe ring
    * covers 36% of the 8-bit bucket domain, the crossover row where
    * the exact tier starts to win. Interpolated into BOTH engines. */
  private val HamRecallRadii = Seq(1, 2, 3)

  /** The Hamming probe-ring dial measured AS AN OPERATOR — the
    * `ann_recall_audit` pattern applied to the signature tier: per
    * ring radius, recall@10 of the bucketed tier against the exact
    * Hamming tier AND the candidate volume that recall cost. This is
    * the table that chooses the radius before a corpus-wide run: the
    * ring multiplies candidates by a CONSTANT (9/256 → 37/256 of the
    * corpus — never a corpus-dependent factor), and the recall lift
    * it buys is measured here (0.10→0.41 at sf0.001), not assumed.
    *
    * Scale shape: the exact-truth side is the audit's deliberate
    * Θ(|Q|·|N|) cost (run on a query SAMPLE at scale, like every
    * audit in the family); the per-radius sides are the bucketed
    * tier's own equi-join plans. All counts exact int64; recall in
    * bp. */
  def hammingRecall(spark: SparkSession, dir: String): DataFrame = {
    val mask = (1L << HamPrefixBits) - 1
    val sigs = hammingSigs(spark, dir)
      .withColumn("pfx", col("sig_lo").bitwiseAND(lit(mask)))
      .persist() // one signature pass feeds truth + every radius
    sigs.count()
    val q = sigs.filter(isQuery)
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("n_id"))
    val truth = broadcast(q).as("q")
      .join(sigs.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        (bit_count(expr("q.sig_lo ^ c.sig_lo")) +
          bit_count(expr("q.sig_hi ^ c.sig_hi"))).cast(LongType).as("hamming"))
      .withColumn("rank", row_number().over(wT).cast(LongType))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"))
      .persist()
    truth.count()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val rows = HamRecallRadii.map { radius =>
      val probes = q.select(col("vec_id").as("q_id"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"),
        explode(array(hamProbeMasks(radius).map(m =>
          col("pfx").bitwiseXOR(lit(m))): _*)).as("pfx"))
      val cand = probes.join(sigs, Seq("pfx"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (bit_count(col("q_lo").bitwiseXOR(col("sig_lo"))) +
            bit_count(col("q_hi").bitwiseXOR(col("sig_hi"))))
            .cast(LongType).as("hamming"))
        .persist() // feeds the volume count and the ranked hits
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      val hits = cand
        .withColumn("rank", row_number().over(wT).cast(LongType))
        .filter(col("rank") <= TopK)
        .select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val row = hits.crossJoin(broadcast(nTruth)).crossJoin(broadcast(nCand))
        .select(lit(radius.toLong).as("radius"), col("n_truth"),
          col("n_hit"),
          floor(col("n_hit") * lit(10000L) / col("n_truth"))
            .cast(LongType).as("recall_bp"),
          col("n_candidates"))
      (row, cand)
    }
    Tables.released(
      rows.map(_._1).reduce(_ unionByName _).orderBy(col("radius")),
      Seq(sigs, truth) ++ rows.map(_._2): _*)
  }

  val hammingRecallSql: String = {
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(1, 32),
         |  i -> CASE WHEN embedding[i + $off] > 0 THEN CAST(1 AS BIGINT) << (i - 1)
         |            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin
        .replaceAll("\n\\s*", " ")
    val mask = (1L << HamPrefixBits) - 1
    def radiusCtes(r: Int): String = {
      val probes = hamProbeMasks(r)
        .map(m => if (m == 0L) "pfx" else s"xor(pfx, $m)").mkString(", ")
      s"""q$r AS (
         |  SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi,
         |         unnest([$probes]) AS pfx
         |  FROM sigs WHERE vec_id % 50 = 0),
         |cand$r AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |         CAST(bit_count(xor(q.q_lo, c.sig_lo))
         |            + bit_count(xor(q.q_hi, c.sig_hi)) AS BIGINT) AS hamming
         |  FROM q$r q JOIN sigs c ON q.pfx = c.pfx AND q.q_id != c.vec_id),
         |ncand$r AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand$r),
         |hit$r AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hit FROM (
         |    SELECT q_id, n_id FROM (
         |      SELECT q_id, n_id,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY hamming, n_id) AS rank
         |      FROM cand$r)
         |    WHERE rank <= $TopK) t
         |  JOIN truth USING (q_id, n_id))""".stripMargin
    }
    def radiusRow(r: Int): String =
      s"""SELECT CAST($r AS BIGINT) AS radius, n_truth, n_hit,
         |       CAST(floor(n_hit * 10000 / n_truth) AS BIGINT) AS recall_bp,
         |       n_candidates
         |FROM hit$r, tcount, ncand$r""".stripMargin
    s"""WITH sigs AS (
       |  SELECT vec_id, sig_lo, sig_hi, sig_lo & $mask AS pfx FROM (
       |    SELECT vec_id, ${half(0)} AS sig_lo, ${half(32)} AS sig_hi
       |    FROM embeddings)),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY bit_count(xor(q.sig_lo, c.sig_lo))
       |                    + bit_count(xor(q.sig_hi, c.sig_hi)), c.vec_id)
       |             AS rank
       |    FROM sigs q JOIN sigs c ON q.vec_id != c.vec_id
       |    WHERE q.vec_id % 50 = 0)
       |  WHERE rank <= $TopK),
       |tcount AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |${HamRecallRadii.map(radiusCtes).mkString(",\n")}
       |${HamRecallRadii.map(radiusRow).mkString("\nUNION ALL\n")}
       |ORDER BY radius""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_mrl_recall: dimension-budget (Matryoshka) recall audit
  // ---------------------------------------------------------------------

  /** Truncation budgets audited against the full Dim. Interpolated
    * into BOTH engines. */
  private val MrlDims = Seq(16, 32)

  /** Matryoshka-style dimension audit: how much top-10 recall
    * survives if only the first 16 / 32 of the 64 dimensions are
    * stored — the measurement behind choosing a truncated-embedding
    * budget (MRL, Kusupati et al. 2022) for a cheaper index tier.
    * For each budget the exact cosine top-10 under the PREFIX of the
    * vector is compared to the full-dimension truth per query.
    *
    * Scale shape: like [[ann_recall_audit]], this is an exact
    * Θ(|Q|·|N|) audit by construction — the number it reports IS the
    * brute-force comparison; at corpus scale it runs on a sampled
    * query set (the isQuery subset already is one). Candidate frames
    * are broadcast-query scans with WindowGroupLimit cuts.
    * Determinism: per-budget hits are exact integer counts; recall
    * is one division at the edge. */
  def mrlRecall(spark: SparkSession, dir: String): DataFrame = {
    def topkAt(d: Int): DataFrame = {
      val e = embs(spark, dir).select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      val en = normedVectors(e)
      val q = en.filter(isQuery)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("n_id"))
      broadcast(q).as("q")
        .join(en.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
          cosine("q", "c").as("cosine"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= TopK)
        .select(col("q_id"), col("n_id"))
    }
    val truth = topkAt(Dim).persist()
    truth.count()
    // denominator from the TRUTH query set, not the hits frame: a
    // query whose truncated top-10 loses every truth neighbor must
    // count 0/10, not vanish from the average (recall would otherwise
    // INFLATE exactly when truncation hurts most)
    val nQ = truth.agg(count_distinct(col("q_id")).as("n_queries"))
    val rows = (MrlDims :+ Dim).map { d =>
      val hits =
        if (d == Dim) truth.select(col("q_id"), col("n_id"))
        else topkAt(d).join(truth, Seq("q_id", "n_id"), "left_semi")
      hits.agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nQ)) // 1-row scalar
        .select(lit(d.toLong).as("dim"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast(DoubleType) /
            (col("n_queries") * TopK).cast(DoubleType)).as("recall"))
    }
    Tables.released(rows.reduce(_ unionByName _).orderBy(col("dim")), truth)
  }

  val mrlRecallSql: String = {
    def cte(d: Int, name: String): String =
      s"""$name AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |           CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             list_sum(list_transform(generate_series(1, $d),
         |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
         |             / (sqrt(list_sum(list_transform(q.embedding[1:$d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |                * sqrt(list_sum(list_transform(c.embedding[1:$d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
         |             c.vec_id) AS BIGINT) AS rank
         |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |    WHERE q.vec_id % 50 = 0)
         |  WHERE rank <= $TopK)""".stripMargin
    val budgets = MrlDims.map(d => cte(d, s"t$d")).mkString(",\n")
    // denominator from the truth query set (see the Scala note): nq
    // is one scalar shared by every budget row
    // scalar-subquery counts: an all-miss budget still yields its row
    // (count over empty = 0), matching Spark's ungrouped agg
    val unions = (MrlDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, nq.n_queries, h.n_hits,
         |       CAST(h.n_hits AS DOUBLE)
         |         / CAST(nq.n_queries * $TopK AS DOUBLE) AS recall
         |FROM nq, (SELECT count(*) AS n_hits FROM t$d
         |          JOIN truth ON t$d.q_id = truth.q_id
         |                    AND t$d.n_id = truth.n_id) h""".stripMargin
    } :+
      s"""SELECT CAST($Dim AS BIGINT) AS dim, nq.n_queries, h.n_hits,
         |       CAST(h.n_hits AS DOUBLE)
         |         / CAST(nq.n_queries * $TopK AS DOUBLE) AS recall
         |FROM nq, (SELECT count(*) AS n_hits FROM truth) h""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${cte(Dim, "truth")},
       |nq AS (SELECT count(DISTINCT q_id) AS n_queries FROM truth),
       |$budgets
       |SELECT dim, n_queries, n_hits, recall FROM (
       |$unions)
       |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ann_filtered_topk: metadata-filtered ANN (pre-filter semantics)
  // ---------------------------------------------------------------------

  /** Filtered vector search: top-10 cosine neighbors among only the
    * corpus vectors satisfying a metadata predicate (label % 3 = 0
    * here — a stand-in for any attribute filter), with candidates
    * from the multi-probe LSH buckets. This is PRE-filter semantics —
    * the filter applies before the index probe, so every query still
    * gets k true in-filter candidates; post-filtering a generic
    * top-k (the naive composition) silently returns fewer-than-k or
    * empty lists whenever the filter is selective, which is why
    * production vector stores build the filter into the probe.
    *
    * Scale shape: the predicate reaches the corpus SCAN (plan-pinned
    * pushdown), the filtered side is then bucketed exactly like
    * [[lshMultiProbe]]'s corpus side — per-query work is bucket
    * occupancy × selectivity. Determinism: ranking ties on n_id. */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(NPlanes))
    val corpus = e.filter(col("label") % 3 === 0)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding"), col("nrm"),
        explode(probeSet(NPlanes)).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    q.as("q").join(corpus.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        col("c.label").as("n_label"), cosine("q", "c").as("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  val filteredTopKSql: String = {
    val probes = probeSetSql(NPlanes)
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
       |         ${bucketCodeSql("embedding", NPlanes)} AS bucket
       |  FROM embeddings),
       |corpus AS (SELECT * FROM e WHERE label % 3 = 0),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding, nrm,
       |         unnest([$probes]) AS bucket
       |  FROM e WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS n_id, c.label AS n_label,
       |         ${dotSql("p.embedding", "c.embedding")} / (p.nrm * c.nrm) AS cosine
       |  FROM probes p JOIN corpus c USING (bucket)
       |  WHERE p.q_id != c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, n_label, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, n_label, cosine, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_ood_audit: out-of-distribution scoring vs class prototypes
  // ---------------------------------------------------------------------

  /** OOD audit size — interpolated into BOTH engines. */
  private val OodTopK = 20

  /** Out-of-distribution audit: every vector scores its cosine to the
    * nearest LABEL CENTROID (class prototype); the [[OodTopK]] vectors
    * farthest from every prototype surface for curation review — the
    * outlier sweep a labeling/ingest pipeline runs to catch mislabeled
    * or corrupted embeddings before they poison training.
    *
    * Scale shape: the prototypes are the [[labelCentroids]] fixed-point
    * pass (one (label,pos) shuffle, k×64 output) pivoted into k
    * broadcast rows; scoring is one corpus scan against the broadcast
    * (k cosines per vector, argmax inline); the output cut is
    * TakeOrdered. Nothing quadratic, no global window. Determinism:
    * centroid components come from exact int64 fixed-point sums; the
    * per-label dot folds sequentially in both engines; argmax ties
    * break on label asc, ranking ties on vec_id. */
  def oodAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val means = embs(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        round(col("col").cast(DoubleType) * lit(Fp)).cast(LongType).as("xfp"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("xfp")).as("sfp"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sfp").cast(DoubleType) / (col("n").cast(DoubleType) * lit(Fp)))
          .as("m"))
    val pivots = (0 until Dim).map(i =>
      max(when(col("pos") === i, col("m"))).as(s"m$i"))
    val cents = means.groupBy(col("label")).agg(pivots.head, pivots.tail: _*)
      .select(col("label").as("c_label"),
        array((0 until Dim).map(i => col(s"m$i")): _*).as("cvec"))
    val e = withNorm(embs(spark, dir))
    // centroid arrays are double-typed, so score with the sequential
    // HOF fold (same association order as the oracle's list_sum) —
    // the codegen'd float-float natives don't apply here, and the
    // corpus×k frame is only k times the scan
    val scored = e.join(broadcast(cents)) // k rows — broadcast expand
      .select(col("vec_id"), col("label"), col("c_label"),
        (dot(col("embedding"), col("cvec")) /
          (col("nrm") * sqrt(norm2(col("cvec"))))).as("cos"))
    val wBest = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_label"))
    scored
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("best_label"),
        col("cos").as("best_cos"))
      .orderBy(col("best_cos").asc, col("vec_id"))
      .limit(OodTopK)
  }

  val oodAuditSql: String = {
    val pivotCols = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i")
      .mkString(",\n|         ")
    val cvec = (0 until Dim).map(i => s"m$i").mkString("[", ", ", "]")
    s"""WITH comp AS (
       |  SELECT label, pos,
       |         CAST(round(CAST(v AS DOUBLE) * $Fp) AS BIGINT) AS xfp
       |  FROM (SELECT label,
       |               unnest(embedding) AS v,
       |               unnest(generate_series(0, ${Dim - 1})) AS pos
       |        FROM embeddings)),
       |means AS (
       |  SELECT label, pos,
       |         CAST(sum(xfp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $Fp) AS m
       |  FROM comp GROUP BY 1, 2),
       |cents AS (
       |  SELECT label AS c_label,
       |         $pivotCols
       |  FROM means GROUP BY label),
       |carr AS (SELECT c_label, $cvec AS cvec FROM cents),
       |e AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |         list_sum(list_transform(generate_series(1, $Dim),
       |             i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
       |           / (e.nrm * sqrt(list_sum(list_transform(c.cvec, x -> x * x))))
       |           AS cos
       |  FROM e, carr c),
       |best AS (
       |  SELECT vec_id, label, c_label AS best_label, cos AS best_cos
       |  FROM (SELECT vec_id, label, c_label, cos,
       |               row_number() OVER (PARTITION BY vec_id
       |                 ORDER BY cos DESC, c_label) AS rk
       |        FROM scored)
       |  WHERE rk = 1)
       |SELECT vec_id, label, best_label, best_cos
       |FROM best
       |ORDER BY best_cos ASC, vec_id
       |LIMIT $OodTopK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_knn_classify: semi-supervised labeling by kNN majority vote
  // ---------------------------------------------------------------------

  /** Votes per unlabeled vector — interpolated into BOTH engines. */
  private val KnnVotes = 5

  /** Auto-labeling: 20% of vectors (vec_id % 5 == 0) act as the
    * labeled seed set; every other vector is treated as UNLABELED and
    * receives the majority label of its [[KnnVotes]] nearest seeds —
    * the semi-supervised pass a labeling pipeline runs to extend a
    * small human-labeled pool over a raw corpus. The true label rides
    * along so the output doubles as its own accuracy audit.
    *
    * Scale shape: the candidate generator is the multi-probe LSH
    * bucket join ([[lshMultiProbe]]'s Hamming-1 probe set) — never a
    * labeled×unlabeled cross join, and the seed side is bucketed by
    * the same planes as the queries, so per-query work is bounded by
    * bucket occupancy at any corpus size. The vote is a ≤KnnVotes-row
    * group per query. Unlabeled vectors whose probe set hits no seed
    * drop out (at production scale: a second probe ring or the IVF
    * path picks them up). Determinism: neighbor ranking ties break on
    * seed id; vote ties break on (votes desc, label asc). */
  def knnClassify(spark: SparkSession, dir: String): DataFrame =
    knnClassifyPlanes(spark, dir, NPlanes)

  /** The planes dial on the labeling consumer — same re-bound as
    * [[hardNegativesPlanes]]. */
  def knnClassifyPlanes(spark: SparkSession, dir: String,
      nPlanes: Int): DataFrame = {
    val e = withNorm(embs(spark, dir)).withColumn("bucket", bucketCode(nPlanes))
    val seeds = e.filter(col("vec_id") % 5 === 0)
    val q = e.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("q_id"), col("label").as("label_true"),
        col("embedding"), col("nrm"), explode(probeSet(nPlanes)).as("bucket"))
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("s_id"))
    val top = q.as("q").join(seeds.as("s"), col("q.bucket") === col("s.bucket"))
      .select(col("q.q_id").as("q_id"), col("q.label_true").as("label_true"),
        col("s.vec_id").as("s_id"), col("s.label").as("label_seed"),
        cosine("q", "s").as("cosine"))
      .withColumn("rk", row_number().over(wCand))
      .filter(col("rk") <= KnnVotes)
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label_seed"))
    top.groupBy(col("q_id"), col("label_true"), col("label_seed"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id").as("vec_id"), col("label_true"),
        col("label_seed").as("label_pred"), col("votes"),
        when(col("label_seed") === col("label_true"), lit(1L)).otherwise(lit(0L))
          .as("correct"))
      .orderBy(col("vec_id"))
  }

  val knnClassifySql: String = knnClassifySqlPlanes(NPlanes)

  def knnClassifySqlPlanes(nPlanes: Int): String = {
    val probes = probeSetSql(nPlanes)
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding, sqrt(${norm2Sql("embedding")}) AS nrm,
       |         ${bucketCodeSql("embedding", nPlanes)} AS bucket
       |  FROM embeddings),
       |seeds AS (SELECT * FROM e WHERE vec_id % 5 = 0),
       |q AS (
       |  SELECT vec_id AS q_id, label AS label_true, embedding, nrm,
       |         unnest([$probes]) AS bucket
       |  FROM e WHERE vec_id % 5 != 0),
       |cand AS (
       |  SELECT q.q_id, q.label_true, s.vec_id AS s_id, s.label AS label_seed,
       |         ${dotSql("q.embedding", "s.embedding")} / (q.nrm * s.nrm) AS cosine
       |  FROM q JOIN seeds s USING (bucket)),
       |top AS (
       |  SELECT q_id, label_true, label_seed FROM (
       |    SELECT q_id, label_true, label_seed,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY cosine DESC, s_id) AS rk
       |    FROM cand)
       |  WHERE rk <= $KnnVotes),
       |votes AS (
       |  SELECT q_id, label_true, label_seed, count(*) AS votes
       |  FROM top GROUP BY 1, 2, 3)
       |SELECT q_id AS vec_id, label_true, label_seed AS label_pred, votes,
       |       CAST(CASE WHEN label_seed = label_true THEN 1 ELSE 0 END
       |            AS BIGINT) AS correct
       |FROM (
       |  SELECT q_id, label_true, label_seed, votes,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY votes DESC, label_seed) AS vr
       |  FROM votes)
       |WHERE vr = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_mmr_rerank: maximal-marginal-relevance diversification of the
  // retrieval shortlist
  // ---------------------------------------------------------------------

  /** MMR trade-off λ and picks — interpolated into BOTH engines. */
  private val MmrLambda = 0.7
  private val MmrPicks = 4

  /** MMR rerank (Carbonell & Goldstein 1998): from each query's
    * multi-probe LSH top-10 shortlist, greedily pick [[MmrPicks]]
    * results maximizing λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s) —
    * the diversification pass a RAG pipeline runs so the context
    * window isn't five copies of the same passage.
    *
    * Scale shape: everything after the (already bounded) shortlist is
    * per-query constant work — the candidate×candidate sim table is
    * ≤10×9 rows per query and the greedy rounds are [[MmrPicks]]−1
    * UNROLLED relational steps (join to picked, max-sim group, argmax
    * window), so the whole rerank is a fixed number of bounded-size
    * shuffles regardless of corpus size. Nothing iterates
    * data-dependently; no driver loop touches rows. Determinism: sims
    * are the shared sequential-fold dot products; score arithmetic is
    * written in the same association order in both engines; ties
    * break on n_id. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embs(spark, dir))
    val cand = lshMultiProbe(spark, dir)
      .join(e.select(col("vec_id").as("n_id"), col("embedding"), col("nrm")),
        "n_id")
      .select(col("q_id"), col("n_id"), col("cosine").as("relevance"),
        col("embedding"), col("nrm"))
      .persist() // feeds the pair table and every greedy round
    cand.count()
    val pairs = cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.n_id") =!= col("b.n_id"))
      .select(col("a.q_id").as("q_id"), col("a.n_id").as("x"),
        col("b.n_id").as("y"), cosine("a", "b").as("sim"))
      .persist() // <= 90 rows per query
    pairs.count()
    val slim = cand.select(col("q_id"), col("n_id"), col("relevance"))
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("relevance").desc, col("n_id"))
    var picked = slim.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), lit(1L).as("pick"),
        col("relevance"), col("relevance").as("mmr_score"))
    for (k <- 2 to MmrPicks) {
      val wk = Window.partitionBy(col("q_id"))
        .orderBy(col("mmr_score").desc, col("n_id"))
      val prev = picked.select(col("q_id"), col("n_id").as("sel_id"))
      val next = slim
        .join(prev, "q_id")
        .filter(col("n_id") =!= col("sel_id"))
        // drop candidates already picked (any matching sel round)
        .groupBy(col("q_id"), col("n_id"), col("relevance"))
        .agg(count(lit(1)).as("n_prev"))
        .filter(col("n_prev") === (k - 1)) // survived every exclusion
        .as("c")
        .join(pairs.as("p"),
          col("c.q_id") === col("p.q_id") && col("c.n_id") === col("p.x"))
        .join(prev.as("s"),
          col("p.q_id") === col("s.q_id") && col("p.y") === col("s.sel_id"))
        .groupBy(col("c.q_id"), col("c.n_id"), col("c.relevance"))
        .agg(max(col("p.sim")).as("max_sel"))
        .select(col("q_id"), col("n_id"), col("relevance"),
          (lit(MmrLambda) * col("relevance") -
            lit(1.0 - MmrLambda) * col("max_sel")).as("mmr_score"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id"), lit(k.toLong).as("pick"),
          col("relevance"), col("mmr_score"))
      picked = picked.unionByName(next).localCheckpoint(true)
    }
    Tables.released(picked.orderBy(col("q_id"), col("pick")), cand, pairs)
  }

  val mmrRerankSql: String = {
    val lam = MmrLambda
    val oneMinus = 1.0 - MmrLambda
    // unrolled greedy rounds: selall{k} accumulates picks 1..k
    val rounds = (2 to MmrPicks).map { k =>
      s"""sel$k AS (
         |  SELECT q_id, n_id, $k AS pick, relevance, mmr_score FROM (
         |    SELECT c.q_id, c.n_id, c.relevance,
         |           $lam * c.relevance - $oneMinus * max(p.sim) AS mmr_score,
         |           row_number() OVER (PARTITION BY c.q_id
         |             ORDER BY $lam * c.relevance - $oneMinus * max(p.sim) DESC,
         |                      c.n_id) AS rn
         |    FROM cand c
         |    JOIN pairs p ON p.q_id = c.q_id AND p.x = c.n_id
         |    JOIN selall${k - 1} s ON p.q_id = s.q_id AND p.y = s.n_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selall${k - 1} e
         |                      WHERE e.q_id = c.q_id AND e.n_id = c.n_id)
         |    GROUP BY c.q_id, c.n_id, c.relevance)
         |  WHERE rn = 1),
         |selall$k AS (SELECT q_id, n_id, pick, relevance, mmr_score
         |             FROM selall${k - 1}
         |             UNION ALL SELECT * FROM sel$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH shortlist AS ($lshMultiProbeSql),
       |e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |cand AS (
       |  SELECT s.q_id, s.n_id, s.cosine AS relevance, e.embedding, e.nrm
       |  FROM shortlist s JOIN e ON s.n_id = e.vec_id),
       |pairs AS (
       |  SELECT a.q_id, a.n_id AS x, b.n_id AS y,
       |         ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id != b.n_id),
       |selall1 AS (
       |  SELECT q_id, n_id, 1 AS pick, relevance, relevance AS mmr_score FROM (
       |    SELECT q_id, n_id, relevance,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY relevance DESC, n_id) AS rn
       |    FROM cand)
       |  WHERE rn = 1),
       |$rounds
       |SELECT q_id, n_id, CAST(pick AS BIGINT) AS pick, relevance, mmr_score
       |FROM selall$MmrPicks
       |ORDER BY q_id, pick""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_kmeans_step: one Lloyd iteration with deterministic seeds
  // ---------------------------------------------------------------------

  /** One k-means (Lloyd) iteration: assign every vector to its nearest
    * of k=8 deterministic seed centroids (the 8 lowest vec_ids — in
    * production, the previous iteration's output), then recompute each
    * cluster's centroid and inertia. This is the per-round body of
    * distributed k-means / IVF training; iterate it the way
    * dedup_clusters iterates (eager localCheckpoint between rounds).
    *
    * Scale shape: the k seeds broadcast (k rows, never the corpus);
    * assignment is a per-partition scan scoring each vector against
    * the broadcast seeds; the recompute is the labelCentroids pattern —
    * fixed-point int64 component sums on one (cluster, pos) shuffle,
    * O(1) aggregation buffers, no collect_list. Inertia is the sum of
    * per-row micro-quantized squared distances (round(d2 * 1e6) —
    * int64 folds order-free, and d2 itself is bit-identical
    * cross-engine because the dot/norm folds are sequential in both
    * engines). Argmin tie-breaks on (d2, cent_id); d2 doubles compare
    * identically because they hash identically. */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    val e = embs(spark, dir)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val seeds = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cent_id"))
    val assigned = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        (expr("graft_norm2(embedding)") + expr("graft_norm2(cvec)") -
          lit(2.0) * expr("graft_dot(embedding, cvec)")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val stats = assigned.groupBy(col("cent_id"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(round(col("d2") * lit(1e6)).cast(LongType)).as("inertia_q"))
    val pivots = (0 until Dim).map(i =>
      max(when(col("pos") === i, col("m"))).as(s"m$i"))
    val norm2 = (0 until Dim).map(i => col(s"m$i") * col(s"m$i")).reduce(_ + _)
    val cents = assigned
      .select(col("cent_id"), posexplode(col("embedding")))
      .select(col("cent_id"), col("pos"),
        round(col("col").cast(DoubleType) * lit(Fp)).cast(LongType).as("xfp"))
      .groupBy(col("cent_id"), col("pos"))
      .agg(sum(col("xfp")).as("sfp"), count(lit(1)).as("n"))
      .select(col("cent_id"), col("pos"),
        (col("sfp").cast(DoubleType) / (col("n").cast(DoubleType) * lit(Fp)))
          .as("m"))
      .groupBy(col("cent_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("cent_id"), sqrt(norm2).as("centroid_norm"))
    stats.join(cents, "cent_id")
      .select(col("cent_id"), col("n_members"), col("inertia_q"),
        col("centroid_norm"))
      .orderBy(col("cent_id"))
  }

  val kmeansStepSql: String = {
    val pivots = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i")
      .mkString(",\n       ")
    val norm2 = (0 until Dim).map(i => s"m$i * m$i").mkString(" + ")
    s"""WITH seeds AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, s.cent_id,
       |         ${norm2Sql("e.embedding")} + ${norm2Sql("s.cvec")}
       |           - 2.0 * ${dotSql("e.embedding", "s.cvec")} AS d2
       |  FROM embeddings e, seeds s),
       |assigned AS (
       |  SELECT vec_id, embedding, cent_id, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY d2, cent_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |stats AS (
       |  SELECT cent_id, count(*) AS n_members,
       |         CAST(sum(CAST(round(d2 * 1e6) AS BIGINT)) AS BIGINT) AS inertia_q
       |  FROM assigned GROUP BY 1),
       |x AS (
       |  SELECT cent_id, i - 1 AS pos,
       |         CAST(round(CAST(embedding[i] AS DOUBLE) * $Fp) AS BIGINT) AS xfp
       |  FROM assigned, generate_series(1, $Dim) t(i)),
       |mm AS (
       |  SELECT cent_id, pos,
       |         CAST(sum(xfp) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $Fp) AS m
       |  FROM x GROUP BY 1, 2),
       |p AS (
       |  SELECT cent_id,
       |       $pivots
       |  FROM mm GROUP BY cent_id)
       |SELECT cent_id, n_members, inertia_q, sqrt($norm2) AS centroid_norm
       |FROM stats JOIN p USING (cent_id)
       |ORDER BY cent_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_power_iteration: leading-direction estimate (one power step)
  // ---------------------------------------------------------------------

  /** One power-iteration step toward the corpus's dominant embedding
    * direction: v1 = normalize( Σ_x (x·v0) x ) with the deterministic
    * all-ones start v0 — the building block of distributed PCA /
    * spectral probes (anisotropy checks, dominant-topic direction).
    * Iterate it the way dedup_clusters iterates, feeding v1 back in.
    *
    * Scale shape: a map-only pass computes each row's projection s =
    * x·v0 (sequential fold, bit-identical cross-engine), then the
    * accumulation Σ s·x is the labelCentroids pattern — per-position
    * fixed-point int64 sums (2^20 scale; s·x ≤ ~2^11 at float32
    * magnitudes, so 500M rows fit int64 headroom), one (pos) shuffle
    * with map-side combine, O(1) buffers. The normalization folds the
    * 64 positions in syntactic order, so the output doubles hash
    * identically on both engines. */
  def powerIteration(spark: SparkSession, dir: String): DataFrame = {
    val Scale = 1048576.0 // 2^20 — power of two keeps the product exact
    val sv = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType))
    // ONE map-side-combinable aggregate computes all 64 per-position
    // fixed-point sums straight off the row — no posexplode, no (pos)
    // exchange, no 64-way max(when) re-pivot, and no corpus-wide
    // barrier repartition (r18: the old shape shuffled the whole
    // (s, embedding) frame just to spread the explode). Each term is
    // the IDENTICAL int64 round(s·x·2^20), and int64 sums are
    // order-free, so the output doubles are bit-identical.
    val sums = (0 until Dim).map(i =>
      sum(round(col("s") * element_at(col("embedding"), i + 1)
        .cast(DoubleType) * lit(Scale)).cast(LongType)).as(s"sq$i"))
    val accum = embs(spark, dir)
      .select(col("embedding"), sv.as("s"))
      .agg(count(lit(1)).as("n_vecs"), sums: _*)
      .select(col("n_vecs") +: (0 until Dim).map(i =>
        (col(s"sq$i").cast(DoubleType) / lit(Scale)).as(s"m$i")): _*)
    val norm2 = (0 until Dim).map(i => col(s"m$i") * col(s"m$i")).reduce(_ + _)
    accum
      .select(col("n_vecs"), sqrt(norm2).as("anorm"),
        (col("m0") / sqrt(norm2)).as("v1_0"),
        (col("m31") / sqrt(norm2)).as("v1_31"),
        (col("m63") / sqrt(norm2)).as("v1_63"))
  }

  val powerIterationSql: String = {
    val pivots = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i")
      .mkString(",\n       ")
    val norm2 = (0 until Dim).map(i => s"m$i * m$i").mkString(" + ")
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS sv
       |  FROM embeddings),
       |x AS (
       |  SELECT i - 1 AS pos,
       |         CAST(round(sv * CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM s, generate_series(1, $Dim) t(i)),
       |a AS (
       |  SELECT pos, count(*) AS n,
       |         CAST(sum(q) AS DOUBLE) / 1048576.0 AS m
       |  FROM x GROUP BY 1),
       |p AS (
       |  SELECT max(n) AS n_vecs,
       |       $pivots
       |  FROM a)
       |SELECT n_vecs, sqrt($norm2) AS anorm,
       |       m0 / sqrt($norm2) AS v1_0,
       |       m31 / sqrt($norm2) AS v1_31,
       |       m63 / sqrt($norm2) AS v1_63
       |FROM p""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_pca2: second spectral direction via deflation
  // ---------------------------------------------------------------------

  /** Second principal-direction estimate by deflation: compute the
    * [[powerIteration]] direction v̂1, project it out of every vector
    * (y = x − (x·v̂1)·v̂1), and take one power step on the residual:
    * v2 = normalize( Σ_y (y·v0) y ). (v̂1, v̂2) span the rank-2
    * subspace a whitening / low-rank-projection pass would use;
    * `v1_dot_v2` (≈0) is emitted as the orthogonality audit.
    *
    * Scale shape: stage A is [[powerIteration]]'s aggregation (one
    * (pos) shuffle, fixed-point int64 sums); v̂1 comes back as ONE
    * 64-wide row broadcast onto the corpus — never a collect. Stage B
    * re-scans the corpus once more: per-row t = x·v̂1 and the deflated
    * y are sequential in-array folds (bit-identical cross-engine),
    * feeding the same fixed-point per-position accumulation. Two
    * linear scans total, no global windows, no driver-side data. */
  /** Shared construction for [[pca2]] and [[whiten2]]: the 1-row v1
    * frame (v1 array, anorm1 = the pre-normalization energy) and the
    * 1-row stage-B aggregate (n_vecs, second-component accumulations
    * m0..m63, v1 pivots v0..v63). All arithmetic is bit-identical to
    * the original inline pca2 — the factoring only ADDS the anorm1
    * column, which pca2's tail never reads. */
  private val Pca2Scale = 1048576.0 // 2^20, as in powerIteration

  /** Stage A: the 1-row v1 frame (v1 array + anorm1). */
  private def pca2StageA(spark: SparkSession, dir: String): DataFrame = {
    val sv = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType))
    // single-aggregate accumulation — same int64 terms, no posexplode/
    // (pos) exchange/pivot/barrier shuffle (see powerIteration)
    val sums = (0 until Dim).map(i =>
      sum(round(col("s") * element_at(col("embedding"), i + 1)
        .cast(DoubleType) * lit(Pca2Scale)).cast(LongType)).as(s"sq$i"))
    val accum = embs(spark, dir)
      .select(col("embedding"), sv.as("s"))
      .agg(sums.head, sums.tail: _*)
      .select((0 until Dim).map(i =>
        (col(s"sq$i").cast(DoubleType) / lit(Pca2Scale)).as(s"m$i")): _*)
    val norm1 =
      sqrt((0 until Dim).map(i => col(s"m$i") * col(s"m$i")).reduce(_ + _))
    accum
      .select(array((0 until Dim).map(i => col(s"m$i") / norm1): _*).as("v1"),
        norm1.as("anorm1"))
  }

  /** The pre-deflation frame (vec_id, v1, embedding, t = x·v1) under a
    * 1-row v1 frame — the NARROW whitening cache: the deflated y is a
    * 64-flop row-local recompute from these columns ([[pca2YExpr]]), so
    * persisting this frame instead of one that also carries y keeps 64
    * doubles per row out of the cache with zero extra corpus passes. */
  private def pca2DeflBase(spark: SparkSession, dir: String,
      v1f: DataFrame): DataFrame = {
    val t = aggregate(
      zip_with(col("embedding"), col("v1"), (x, v) => x.cast(DoubleType) * v),
      lit(0.0), (acc, x) => acc + x)
    embs(spark, dir).crossJoin(broadcast(v1f))
      .select(col("vec_id"), col("v1"), col("embedding"), t.as("t"))
  }

  /** The per-row deflation y = x − (x·v1)v1 over [[pca2DeflBase]]'s
    * columns — ONE definition, so a recompute-from-cache read can never
    * drift from a materialized column. */
  private def pca2YExpr: Column = zip_with(col("embedding"), col("v1"),
    (x, v) => x.cast(DoubleType) - col("t") * v)

  /** The deflated frame x → y = x − (x·v1)v1 under a 1-row v1 frame. */
  private def pca2Deflated(spark: SparkSession, dir: String, v1f: DataFrame,
      keepExtras: Boolean): DataFrame = {
    val base = pca2DeflBase(spark, dir, v1f)
    if (keepExtras)
      base.select(col("vec_id"), col("v1"), col("embedding"), col("t"),
        pca2YExpr.as("y"))
    else base.select(col("vec_id"), col("v1"), pca2YExpr.as("y"))
  }

  /** Stage B: the 1-row pivot aggregate (n_vecs, m0..m63 second-pass
    * accumulations, v0..v63 = v1's components) from a deflated frame. */
  private def pca2StageB(deflated: DataFrame): DataFrame = {
    val s2 = aggregate(col("y"), lit(0.0), (acc, x) => acc + x)
    // single-aggregate accumulation (see powerIteration); the v1
    // pivots are max over a per-row constant (the broadcast v1's own
    // components), identical to the old per-pos max(v1p)
    val aggs = (0 until Dim).map(i =>
      sum(round(col("s2") * element_at(col("y"), i + 1) * lit(Pca2Scale))
        .cast(LongType)).as(s"sq$i")) ++
      (0 until Dim).map(i =>
        max(element_at(col("v1"), i + 1)).as(s"v$i"))
    deflated
      .select(col("v1"), col("y"), s2.as("s2"))
      .agg(count(lit(1)).as("n_vecs"), aggs: _*)
      .select(col("n_vecs") +:
        ((0 until Dim).map(i =>
          (col(s"sq$i").cast(DoubleType) / lit(Pca2Scale)).as(s"m$i")) ++
          (0 until Dim).map(i => col(s"v$i"))): _*)
  }

  private def pca2Frames(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val v1f = pca2StageA(spark, dir)
    (v1f, pca2StageB(pca2Deflated(spark, dir, v1f, keepExtras = false)))
  }

  /** ‖(m0..m63)‖ over the stage-B pivot columns. */
  private def pca2Norm2c: Column =
    sqrt((0 until Dim).map(i => col(s"m$i") * col(s"m$i")).reduce(_ + _))

  def pca2(spark: SparkSession, dir: String): DataFrame = {
    val (_, p2) = pca2Frames(spark, dir)
    val norm2c = pca2Norm2c
    // 64-term dot folded in syntactic (index) order — both engines
    // build the same left-associated + chain, so the double hashes
    val dot = (0 until Dim).map(i => col(s"v$i") * (col(s"m$i") / norm2c))
      .reduce(_ + _)
    p2.select(col("n_vecs"), norm2c.as("anorm2"),
      (col("m0") / norm2c).as("v2_0"),
      (col("m31") / norm2c).as("v2_31"),
      (col("m63") / norm2c).as("v2_63"),
      dot.as("v1_dot_v2"))
  }

  /** Shared CTE prefix for [[pca2Sql]] and [[whiten2Sql]] — the full
    * two-stage power-iteration construction up to p2n (stage-B pivots
    * + anorm2), with the v CTE also carrying anorm1 for the whitening
    * eigenvalue (pca2's tail never reads it). */
  private val pca2CtePrefix: String = {
    val mPivots1 = (0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i")
      .mkString(",\n       ")
    // norms are hoisted into their own CTE column: inlining the
    // 64-term chain into each of the 64 v1 elements (or 64 dot terms)
    // exceeds DuckDB's expression-binder recursion depth
    val norm1 = "sqrt(" +
      (0 until Dim).map(i => s"m$i * m$i").mkString(" + ") + ")"
    val v1List = "[" +
      (0 until Dim).map(i => s"m$i / nrm1").mkString(", ") + "]"
    val mPivots2 = ((0 until Dim)
      .map(i => s"max(CASE WHEN pos = $i THEN m END) AS m$i") ++
      (0 until Dim)
        .map(i => s"max(CASE WHEN pos = $i THEN v1p END) AS v$i"))
      .mkString(",\n       ")
    val norm2 = "sqrt(" +
      (0 until Dim).map(i => s"m$i * m$i").mkString(" + ") + ")"
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS sv
       |  FROM embeddings),
       |x AS (
       |  SELECT i - 1 AS pos,
       |         CAST(round(sv * CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM s, generate_series(1, $Dim) t(i)),
       |a AS (
       |  SELECT pos, CAST(sum(q) AS DOUBLE) / 1048576.0 AS m
       |  FROM x GROUP BY 1),
       |p AS (
       |  SELECT $mPivots1
       |  FROM a),
       |pn AS (
       |  SELECT *, $norm1 AS nrm1 FROM p),
       |v AS (
       |  SELECT $v1List AS v1, nrm1 AS anorm1 FROM pn),
       |d0 AS (
       |  SELECT e.vec_id, e.embedding, v.v1,
       |         list_sum(list_transform(e.embedding,
       |           (ex, j) -> CAST(ex AS DOUBLE) * v.v1[j])) AS t
       |  FROM embeddings e, v),
       |d AS (
       |  SELECT vec_id, v1,
       |         list_transform(embedding,
       |           (ex, i) -> CAST(ex AS DOUBLE) - t * v1[i]) AS y
       |  FROM d0),
       |s2 AS (
       |  SELECT vec_id, v1, y, list_sum(y) AS sy
       |  FROM d),
       |x2 AS (
       |  SELECT i - 1 AS pos, v1[i] AS v1p,
       |         CAST(round(sy * y[i] * 1048576.0) AS BIGINT) AS q
       |  FROM s2, generate_series(1, $Dim) t(i)),
       |a2 AS (
       |  SELECT pos, count(*) AS n,
       |         CAST(sum(q) AS DOUBLE) / 1048576.0 AS m,
       |         max(v1p) AS v1p
       |  FROM x2 GROUP BY 1),
       |p2 AS (
       |  SELECT max(n) AS n_vecs,
       |       $mPivots2
       |  FROM a2),
       |p2n AS (
       |  SELECT *, $norm2 AS anorm2 FROM p2)""".stripMargin
  }

  val pca2Sql: String = {
    val dot = (0 until Dim).map(i => s"v$i * (m$i / anorm2)").mkString(" + ")
    s"""$pca2CtePrefix
       |SELECT n_vecs, anorm2,
       |       m0 / anorm2 AS v2_0,
       |       m31 / anorm2 AS v2_31,
       |       m63 / anorm2 AS v2_63,
       |       $dot AS v1_dot_v2
       |FROM p2n""".stripMargin
  }

  // ---------------------------------------------------------------------
  // emb_whiten: per-vector 2-component whitening under the pca2 basis
  // ---------------------------------------------------------------------

  /** PCA-whitened 2-D coordinates for EVERY vector — the embedding
    * normalization step a PQ/OPQ pipeline runs so the quantizer's
    * budget isn't spent on the dominant directions' scale: w_j =
    * (x·v_j)/std_n(x·v_j), where (v_1, v_2) is the oracle-checked
    * [[pca2]] basis and the scale is the OBSERVED per-direction energy
    * (empirical whitening — exactly what production whitening does,
    * and exact-by-construction: E_n[w_j²] = 1 up to quantization, the
    * property WhitenSpec asserts on a planted anisotropic fixture; the
    * analytic-eigenvalue variant is only equivalent when the basis is
    * an exact fixed point, which a one-step power estimate is not).
    *
    * Scale: the basis is the same two fixed-point corpus passes as
    * emb_pca2 (broadcast-pivoted 1-row frames, never a collect); the
    * whitening adds one persisted projection pass, one int64-quantized
    * energy aggregate (order-free sums — the labelCentroids idiom) and
    * one narrow scale pass under a 1-row broadcast. Output is
    * micro-quantized after the last division, so the per-vector frame
    * hash-matches cross-engine at every SF. */
  def whiten2(spark: SparkSession, dir: String): DataFrame = {
    // TWO corpus scans total: stage A, then ONE deflation pass whose
    // NARROW frame (vec_id, v1, embedding, t = x·v1 — y recomputed
    // row-locally per read, see pca2DeflBase) persists and feeds stage
    // B, the v2 projection, and the scale pass — t1 is stage B's own t,
    // never recomputed, exactly as the SQL twin reads it from the
    // shared d0 CTE. NO eager count fences (r19): every consumer is a
    // broadcast side built strictly before its probe (scales before the
    // final projection, wb before proj, v1f before the deflation), so
    // the one released-checkpoint job fills each cache exactly once in
    // dependency order — the two count() fences were two extra full
    // passes over the cached frames plus two scheduler barriers.
    // The limit that buys: with no fence and AQE off, the whole
    // two-pass chain (stage A, the persisted deflation pass, stage B)
    // runs inside the build of the outermost broadcast, so
    // `spark.sql.broadcastTimeout` bounds all of it. That is Spark's
    // default 300 s; no session regime here (Bench, Verify,
    // util/Sessions, the test session) sets it. All of them run AQE
    // (Spark's default), which materializes the chain bottom-up as
    // separate stages and times each broadcast's own build only: at
    // sf0.1, local[4], a 1 s timeout failed the 3-10 s chain with AQE
    // off and passed with it on. A session with AQE off needs a fence
    // back, or a timeout above the chain, once the corpus outgrows it.
    val v1f = pca2StageA(spark, dir)
    val defl = pca2DeflBase(spark, dir, v1f).persist()
    val p2 = pca2StageB(
      defl.select(col("vec_id"), col("v1"), pca2YExpr.as("y")))
    // hoist the 64-term norm chain into its own projection (the SQL
    // twin's p2n CTE): inlining it into all 64 v2 elements builds a
    // ~4k-node expression tree that costs more to compile than to run
    val wb = p2
      .select((0 until Dim).map(i => col(s"m$i")) :+
        pca2Norm2c.as("anorm2c"): _*)
      .select(
        array((0 until Dim).map(i => col(s"m$i") / col("anorm2c")): _*).as("v2a"))
    val proj = defl.crossJoin(broadcast(wb))
      .select(col("vec_id"), col("t").as("t1"),
        aggregate(
          zip_with(col("embedding"), col("v2a"), (x, c) => x.cast(DoubleType) * c),
          lit(0.0), (acc, x) => acc + x).as("t2"))
      .persist()
    val scales = proj.agg(
      sum(round(col("t1") * col("t1") * lit(Pca2Scale)).cast(LongType)).as("q1"),
      sum(round(col("t2") * col("t2") * lit(Pca2Scale)).cast(LongType)).as("q2"),
      count(lit(1)).as("n"))
      .select(
        sqrt((col("q1").cast(DoubleType) / lit(Pca2Scale)) /
          col("n").cast(DoubleType)).as("s1"),
        sqrt((col("q2").cast(DoubleType) / lit(Pca2Scale)) /
          col("n").cast(DoubleType)).as("s2"))
    Tables.released(
      proj.crossJoin(broadcast(scales))
        .select(col("vec_id"),
          round(col("t1") / col("s1") * lit(1e6)).cast(LongType).as("w1_micro"),
          round(col("t2") / col("s2") * lit(1e6)).cast(LongType).as("w2_micro"))
        .orderBy(col("vec_id")),
      defl, proj)
  }

  val whiten2Sql: String = {
    val v2List = "[" +
      (0 until Dim).map(i => s"m$i / anorm2").mkString(", ") + "]"
    s"""$pca2CtePrefix,
       |wb AS (
       |  SELECT $v2List AS v2a
       |  FROM p2n),
       |proj AS (
       |  SELECT d0.vec_id,
       |         d0.t AS t1,
       |         list_sum(list_transform(d0.embedding, (ex, j) -> CAST(ex AS DOUBLE) * wb.v2a[j])) AS t2
       |  FROM d0, wb),
       |sc AS (
       |  SELECT sqrt((CAST(sum(CAST(round(t1 * t1 * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) / CAST(count(*) AS DOUBLE)) AS s1,
       |         sqrt((CAST(sum(CAST(round(t2 * t2 * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) / CAST(count(*) AS DOUBLE)) AS s2
       |  FROM proj)
       |SELECT proj.vec_id,
       |       CAST(round(t1 / s1 * 1e6) AS BIGINT) AS w1_micro,
       |       CAST(round(t2 / s2 * 1e6) AS BIGINT) AS w2_micro
       |FROM proj, sc
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ann_pq_topk: product-quantization ANN (encode + ADC scan)
  // ---------------------------------------------------------------------

  /** Product-quantization ANN with exact re-ranking: the 64-dim space
    * splits into M=16 4-dim subspaces; each subspace has its own
    * codebook (31 deterministic `vec_id % 16 = 7` seed vectors — in
    * production, per-subspace k-means via [[graft.operators.KMeans]]).
    * Every corpus vector is ENCODED as 16 small codes (its nearest
    * codebook entry per subspace); queries scan candidates via
    * asymmetric distance computation (ADC) — a per-query lookup table
    * of query-to-codebook partial distances, so scoring a candidate is
    * 16 int64 table lookups instead of 64 float multiplies — and the
    * ADC shortlist (R=50) is RE-RANKED with exact distances, the
    * standard IVF-ADC+refine pipeline. On this structure-free
    * synthetic corpus the shortlist recall@10 is ~0.8 (distance
    * concentration makes random vectors the PQ worst case; spec
    * asserts the floor).
    *
    * Scale shape: the codebook broadcasts (k rows); ONE corpus pass
    * builds the code table (the persisted PQ index — 16 codes per
    * vector instead of 256 bytes of floats); the LUT is |queries| x k
    * x M rows and broadcasts; the ADC join+agg never shuffles a raw
    * vector; only the |queries| x R shortlist re-joins the corpus for
    * exact re-rank (point lookups by id). Subspace partials are
    * micro-quantized (round(d2*1e6) int64, the kmeansStep idiom) so
    * the 16-way ADC sum folds order-free and bit-identical in both
    * engines; ties break on (d2q, cent_id) / (d2, n_id). */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val e = embs(spark, dir)
    pqPipeline(e, pqSeedCents(e))
  }

  /** The fixed k=31 seed codebook regardless of corpus size (vec_id <
    * 500 bounds the seed pool — a codebook that grew with the corpus
    * would defeat the whole point of quantization at 100 TB). Shared
    * by [[pqTopK]] and [[ivfpqTopK]]; SQL twin [[pqSeedCentsSql]]. */
  private def pqSeedCents(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 500 && col("vec_id") % 16 === 7)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))

  /** Per-(vector, centroid, subspace) micro-quantized PQ distance
    * partials via the fused kernel — shared by [[pqPipeline]] and the
    * IVF-pruned [[ivfpqTopK]]. */
  private def pqPartials(vecs: DataFrame, cents: DataFrame, M: Int): DataFrame =
    vecs
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        posexplode(expr(s"graft_pq_d2s(embedding, cvec, $M)")))
      .select(col("vec_id"), col("cent_id"), col("pos").as("s"),
        round(col("col") * lit(1e6)).cast(LongType).as("d2q"))

  /** Encode + ADC scan + exact re-rank against a given (cent_id, cvec)
    * codebook — the ONE PQ-ADC pipeline, shared by the seed-codebook
    * [[pqTopK]] (full DuckDB oracle), the trained-codebook
    * [[pqLearnedTopK]], and — via `cand` — the IVF-pruned
    * [[ivfpqTopK]]. `cand` (q_id, n_id), when given, restricts ADC
    * scoring to those candidate pairs (IVF cell members) instead of
    * the whole corpus; a fix to the quantization, shortlist size, or
    * tie-breaks lands in every variant at once. */
  private def pqPipeline(e: DataFrame, cents: DataFrame,
      cand: Option[DataFrame] = None): DataFrame =
    pqServe(e, cents, pqEncode(e, cents), cand)

  /** The PQ index-build half: (n_id, s, code) codes for every corpus
    * vector against `cents`. Argmin as a partial-aggregable groupBy
    * min(struct) — lexicographic struct ordering IS (d2q, cent_id)
    * tie-breaking, and map-side combine collapses the |corpus| x k x M
    * rows per partition instead of shuffling them all into a
    * row_number window. Exposed so `sources.AnnIndexLayout` can
    * PERSIST the codes instead of recomputing them per query. */
  private[graft] def pqEncode(e: DataFrame, cents: DataFrame): DataFrame =
    pqPartials(e, cents, PqM)
      .groupBy(col("vec_id").as("n_id"), col("s"))
      .agg(min(struct(col("d2q"), col("cent_id"))).as("best"))
      .select(col("n_id"), col("s"), col("best.cent_id").as("code"))

  /** Per-vector PQ quantization error against a codebook: the
    * micro-quantized d2 between each vector and its RECONSTRUCTION
    * from the chosen (argmin) code per subspace — sum over subspaces
    * of the winning d2q, i.e. exactly the ADC self-distance the
    * encode chose. The gauge `sources.AnnIndexLayout.stalenessMetrics`
    * tracks: as the corpus distribution shifts away from what the
    * frozen codebook was built for, this rises and ADC ranking quality
    * decays silently. Partial-aggregable min/sum shapes throughout. */
  private[graft] def pqQuantError(vecs: DataFrame,
      cents: DataFrame): DataFrame =
    pqPartials(vecs, cents, PqM)
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d2q")).as("mind2q"))
      .groupBy(col("vec_id"))
      .agg(sum(col("mind2q")).as("qerr"))

  /** The PQ serve half: ADC scan over GIVEN codes + exact re-rank.
    * Codes and LUT use the same fused kernel
    * (functions.VectorExpressions.PqSubD2s): one pass over the two
    * vectors computes all M subspace distances with the same
    * accumulation order as the norm+norm-2dot slice folds kmeansStep
    * uses, so oracle parity is untouched — but each pair costs one
    * kernel call instead of 3 x M slice+fold calls (and the generator
    * arg evaluates ONCE per pair row; a per-subspace "array of 16
    * folds then posexplode of composed slice exprs" form was measured
    * 3.5x slower because the 48 slice allocations stay). The LUT pass
    * runs only over the (tiny) query subset filtered BEFORE the
    * crossJoin. */
  private[graft] def pqServe(e: DataFrame, cents: DataFrame,
      codes: DataFrame, cand: Option[DataFrame]): DataFrame =
    pqServeQueries(e, e.filter(isQuery), cents, codes, cand)

  /** [[pqServe]] for an ARBITRARY query frame (vec_id, embedding) —
    * the online-serving surface: the LUT and the exact re-rank read
    * the given queries (a micro-batch, an external request set)
    * instead of the registered corpus subset. */
  /** `pointLookup`: bound the exact re-rank's raw-vector lookup to the
    * shortlist's own ids. The re-rank comment below says "|queries| ×
    * R id-lookups", but as a plain join Spark executes it against the
    * WHOLE raw embeddings table — a corpus-sized broadcast build (or
    * shuffle) per call, fine for the registered queries' corpus-
    * proportional query sets where it amortizes, a corpus-linear
    * per-batch term on the REQUEST-SIZED serve/delta paths
    * ([[graft.sources.AnnIndexLayout.serve]]/`semanticDedupDelta` pass
    * true). With the flag on, the shortlist (≤ |queries|·R rows) is
    * materialized once and the lookup becomes one broadcast-semi-join
    * SCAN of the embeddings (no shuffle, no corpus broadcast) whose
    * bounded result broadcasts into the re-rank — same rows, the
    * lookup the comment always promised. */
  private[graft] def pqServeQueries(e: DataFrame, queries: DataFrame,
      cents: DataFrame, codes: DataFrame, cand: Option[DataFrame],
      pointLookup: Boolean = false): DataFrame = {
    val R = PqR
    val lut = pqPartials(queries, cents, PqM)
      .select(col("vec_id").as("lq_id"), col("s").as("qs"),
        col("cent_id"), col("d2q"))
    // full scan: every (query, corpus vector) pair flows through the
    // code==LUT-entry equi-join; IVF variant: the cand join restricts
    // it to probed-cell members first, and the LUT key must then also
    // match the pair's own query
    val scoredPairs = cand match {
      case None =>
        codes.join(broadcast(lut),
            col("s") === col("qs") && col("code") === col("cent_id"))
          .withColumn("q_id", col("lq_id"))
          .filter(col("q_id") =!= col("n_id"))
      case Some(c) =>
        c.join(codes, Seq("n_id"))
          .join(broadcast(lut),
            col("s") === col("qs") && col("code") === col("cent_id") &&
              col("q_id") === col("lq_id"))
    }
    val sw = Window.partitionBy(col("q_id"))
      .orderBy(col("d2q_total"), col("n_id"))
    val shortlist0 = scoredPairs
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2q")).as("d2q_total"))
      .withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= R)
      .select(col("q_id"), col("n_id"))
    // materialized ONCE under pointLookup: it feeds both the id-set
    // broadcast and the re-rank join below — lazy it would re-run the
    // whole ADC scan per consumer
    val shortlist =
      if (pointLookup) shortlist0.localCheckpoint(true) else shortlist0
    // exact re-rank of the shortlist: |queries| x R id-lookups
    val qv = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val nvAll = e.select(col("vec_id").as("n_id"), col("embedding").as("nvec"))
    val nv =
      if (pointLookup)
        broadcast(nvAll.join(
          broadcast(shortlist.select(col("n_id")).distinct()),
          Seq("n_id"), "left_semi"))
      else nvAll
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(col("d2"), col("n_id"))
    shortlist
      .join(broadcast(qv), Seq("q_id"))
      .join(nv, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        (expr("graft_norm2(qvec)") + expr("graft_norm2(nvec)") -
          lit(2.0) * expr("graft_dot(qvec, nvec)")).as("d2"))
      .withColumn("rank", row_number().over(rw).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  /** [[pqTopK]] with per-subspace LEARNED codebooks: the 31 seed
    * entries per 4-dim subspace are refined with 2 rounds of grouped
    * Lloyd's ([[graft.operators.KMeans.fitGrouped]] — ONE loop trains
    * all 16 subspace codebooks together), then stitched back into
    * composite centroid vectors so the fused-kernel ADC pipeline is
    * reused unchanged. Training runs on a BOUNDED deterministic sample
    * (vec_id < 8000 with vec_id % 4 = 1 -> at most 2000 vectors at any
    * corpus size): codebook quality converges long before the full
    * corpus is seen, so at 100 TB the training pass must not scale with
    * the corpus. K-means training isn't SQL-expressible, so like the
    * sketch queries this registers rows-only; its correctness contract
    * is the ExtensionOpsSpec floor — trained codebooks must BEAT the
    * seed-codebook recall@10 on the same corpus, plus the driver's
    * rows/schema check. */
  /** (vec_id, xf = double-cast embedding) projection feeding the PQ
    * training slices. */
  private def xfProjection(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("xf"))

  /** (grp = subspace, vec_id, x = [[PqSubDim]]-dim slice) training
    * frame — geometry derived from [[PqM]], never hardcoded, so the
    * trained codebooks always tile the same subspaces the ADC scorer
    * reads. */
  private def xfSlices(src: DataFrame): DataFrame = src
    .select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(PqM - 1)),
        s => slice(col("xf"), s * lit(PqSubDim) + lit(1), lit(PqSubDim)))))
    .select(col("pos").as("grp"), col("vec_id"), col("col").as("x"))

  /** The bounded deterministic training sample (≤2000 vectors at any
    * corpus size) — exposed so PlanSpec can pin that the vec_id bound
    * reaches the parquet scan: if a refactor ever drops it, training
    * cost would silently scale with the corpus. */
  private[graft] def pqTrainingInput(spark: SparkSession, dir: String): DataFrame =
    xfSlices(xfProjection(spark, dir)
      .filter(col("vec_id") < 8000 && col("vec_id") % 4 === 1))

  def pqLearnedTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    pqPipeline(embs(spark, dir), trainedComposite(spark, dir))
  }

  /** The trained composite codebook: per-subspace Lloyd's on the
    * bounded sample, stitched back into full-width centroid vectors —
    * shared by [[pqLearnedTopK]] and [[ivfpqLearnedTopK]]. */
  private def trainedComposite(spark: SparkSession, dir: String): DataFrame = {
    val seeds = xfSlices(xfProjection(spark, dir)
      .filter(col("vec_id") < 500 && col("vec_id") % 16 === 7))
      .select(col("grp"), col("vec_id").as("cent_id"), col("x").as("cvec"))
    // ≤2000 training vectors by construction (vec_id < 8000, %4 == 1)
    // × 16 subspace slices = ≤32000 rows at any corpus size — always
    // within fitGrouped's driver-side gate
    val trained = graft.operators.KMeans.fitGrouped(
      pqTrainingInput(spark, dir), seeds, iters = 2)
    // stitch: composite centroid j = concat of subspace codebooks' entry
    // j in subspace order (identical id sets per group by fitGrouped's
    // empty-cluster carry-forward); cast to float for the fused kernel
    trained.groupBy(col("cent_id"))
      .agg(transform(flatten(transform(
        sort_array(collect_list(struct(col("grp"), col("cvec")))),
        s => s.getField("cvec"))), _.cast("float")).as("cvec"))
  }

  /** The seed-codebook CTE body (k=31 fixed regardless of corpus
    * size), shared by [[pqTopKSql]] and [[ivfpqTopKSql]]. */
  private val pqSeedCentsSql: String =
    """SELECT vec_id AS cent_id, embedding AS cvec
      |  FROM embeddings WHERE vec_id < 500 AND vec_id % 16 = 7""".stripMargin

  /** The ONE PQ-ADC oracle text — scored/codes/lut CTEs over centroid
    * CTE `cents`, then the shortlist/rerank/ranked tail over candidate
    * join `candJoins` — interpolated by BOTH [[pqTopKSql]] (full-scan
    * join) and [[ivfpqTopKSql]] (cand-restricted join), mirroring the
    * Spark-side [[pqPipeline]] sharing: a fix to the quantization,
    * shortlist size, or tie-breaks lands in both oracles at once. */
  private def pqAdcSql(cents: String, candJoins: String): String = {
    val d = PqSubDim // dims per subspace
    def subNorm2(a: String) =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST($a[s.s*$d+i] AS DOUBLE) * CAST($a[s.s*$d+i] AS DOUBLE)))"
    val subDot =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST(e.embedding[s.s*$d+i] AS DOUBLE) * CAST(c.cvec[s.s*$d+i] AS DOUBLE)))"
    s"""scored AS (
       |  SELECT e.vec_id, c.cent_id, s.s,
       |         CAST(round((${subNorm2("e.embedding")}
       |           + ${subNorm2("c.cvec")}
       |           - 2.0 * $subDot) * 1e6) AS BIGINT) AS d2q
       |  FROM embeddings e, $cents c, generate_series(0, ${PqM - 1}) s(s)),
       |codes AS (
       |  SELECT vec_id AS n_id, s, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |                                 ORDER BY d2q, cent_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |lut AS (
       |  SELECT vec_id AS q_id, s, cent_id, d2q
       |  FROM scored WHERE vec_id % 50 = 0),
       |shortlist AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT lut.q_id AS q_id, codes.n_id AS n_id,
       |           row_number() OVER (PARTITION BY lut.q_id
       |             ORDER BY CAST(sum(d2q) AS BIGINT), codes.n_id) AS srn
       |    FROM $candJoins
       |    WHERE lut.q_id != codes.n_id
       |    GROUP BY lut.q_id, codes.n_id) WHERE srn <= $PqR),
       |rerank AS (
       |  SELECT sl.q_id, sl.n_id,
       |         ${norm2Sql("q.embedding")} + ${norm2Sql("n.embedding")}
       |           - 2.0 * ${dotSql("q.embedding", "n.embedding")} AS d2
       |  FROM shortlist sl
       |  JOIN embeddings q ON sl.q_id = q.vec_id
       |  JOIN embeddings n ON sl.n_id = n.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, d2,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY d2, n_id) AS BIGINT) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, d2, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  val pqTopKSql: String =
    s"""WITH cents AS (
       |  $pqSeedCentsSql),
       |${pqAdcSql("cents",
          "codes JOIN lut ON codes.s = lut.s AND codes.code = lut.cent_id")}"""
      .stripMargin

  // ---------------------------------------------------------------------
  // ann_ivfpq_topk: IVF cell pruning + PQ-ADC scoring (the standard
  // 100 TB ANN composite)
  // ---------------------------------------------------------------------

  /** IVF-PQ: [[ivfTopK]]'s self-scaling cell pruning composed with
    * [[pqTopK]]'s fused-kernel ADC scoring. Queries probe their NProbe
    * nearest coarse cells, candidates are the cells' members, and each
    * candidate costs 16 int64 LUT lookups (its PQ codes) instead of a
    * 64-float dot product; the ADC shortlist re-ranks exactly. Both
    * halves are deterministic (seed centroids/codebook, fixed-point
    * partials, exact-int tie-breaks), so unlike [[pqLearnedTopK]] the
    * whole composite is SQL-expressible and hash-checked.
    *
    * Scale shape — strictly better than either parent:
    *  - vs ann_pq_topk: the ADC join touches NProbe cells per query
    *    (candidates ~ NProbe x corpus/|cells|, constant per query as
    *    the corpus grows since |cells| grows with it), not the whole
    *    corpus.
    *  - vs ann_ivf_topk: the coarse assignment here is a
    *    partial-aggregable max(struct) argmin — map-side combined,
    *    never the corpus x |cents| row window shuffle — and in-cell
    *    scoring reads the 16-code PQ index (16 bytes/vector at rest)
    *    instead of raw 256-byte embeddings.
    * At rest the index is (cell, 16 codes) per vector — the layout a
    * 100 TB deployment persists; both index passes are one corpus scan
    * each. */
  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // candidates = members of the probed cells; the shared PQ-ADC
    // pipeline (pqTopK's codebook: fixed k=31 regardless of corpus
    // size) scores those pairs only
    val raw = embs(spark, dir)
    pqPipeline(raw, pqSeedCents(raw), Some(ivfCandidates(spark, dir)))
  }

  /** The coarse centroid frame (cent_id, cvec, cnrm) for the corpus
    * under `pred` — the half of the IVF index GEOMETRY next to the PQ
    * codebook. `sources.AnnIndexLayout.build` persists this frame so
    * deltas and serving stay pinned to the build-time geometry even
    * after the embeddings table grows (a centroid set re-derived from
    * a grown table would silently mix geometries: old vectors filed
    * under old cells, probes computed against new ones). */
  private[graft] def coarseCentsOf(spark: SparkSession, dir: String,
      pred: Column = lit(true)): DataFrame =
    withNorm(embs(spark, dir).filter(pred)).filter(isCentroid)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))

  /** Query-to-coarse-centroid cosines against an EXPLICIT centroid
    * frame. */
  private def coarseCosWith(cents: DataFrame, vecs: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (expr("graft_dot(embedding, cvec)") / (col("nrm") * col("cnrm")))
          .as("ccos"))

  /** Query-to-coarse-centroid cosines for any vector subset, against
    * the live table's own centroid set. */
  private def coarseCosOf(spark: SparkSession, dir: String,
      vecs: DataFrame): DataFrame =
    coarseCosWith(coarseCentsOf(spark, dir), vecs)

  /** IVF index-build half: (n_id, cell) coarse assignment for every
    * corpus vector. Cell assignment WITHOUT a window: argmax as
    * max(struct(ccos, -cent_id)) — same (ccos desc, cent_id asc)
    * selection as the oracle's row_number, but partial-aggregable: the
    * corpus x cents rows collapse map-side to one row per vec_id
    * before any shuffle. Exposed for `sources.AnnIndexLayout`. */
  private[graft] def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    ivfAssignUsing(spark, dir, coarseCentsOf(spark, dir), lit(true))

  /** Coarse assignment of an explicit vector frame against an
    * EXPLICIT centroid frame — the geometry-pinned form behind
    * [[ivfAssign]] and `sources.AnnIndexLayout`'s build/delta. */
  private[graft] def ivfAssignWith(cents: DataFrame,
      vecs: DataFrame): DataFrame =
    coarseCosWith(cents, vecs)
      .groupBy(col("vec_id").as("n_id"))
      .agg(max(struct(col("ccos"), (-col("cent_id")).as("neg"))).as("best"))
      .select(col("n_id"), (-col("best.neg")).as("cell"))

  /** [[ivfAssignWith]] over the vectors of `dir` matching `pred` — the
    * index-DELTA shape: `cents` is the PERSISTED build-time centroid
    * set (delta encoding reuses the frozen geometry; retraining is a
    * rebuild, never an append), and only the matching vectors are
    * scanned, so a `vec_id >= watermark` delta prunes at the parquet
    * scan. */
  private[graft] def ivfAssignUsing(spark: SparkSession, dir: String,
      cents: DataFrame, pred: Column): DataFrame =
    ivfAssignWith(cents, withNorm(embs(spark, dir).filter(pred)))

  /** IVF query half: each registered query's [[NProbe]] nearest cells
    * — the window runs only over the tiny query subset. */
  private[graft] def ivfProbes(spark: SparkSession, dir: String): DataFrame =
    ivfProbesOf(spark, dir, withNorm(embs(spark, dir)).filter(isQuery))

  /** [[ivfProbes]] for an arbitrary (vec_id, embedding, nrm) query
    * frame against an EXPLICIT centroid frame — the online-serving
    * surface (probes must come from the SAME frozen geometry the
    * index's cells were assigned under). */
  private[graft] def ivfProbesWith(cents: DataFrame,
      queries: DataFrame): DataFrame = {
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    coarseCosWith(cents, queries)
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
  }

  /** [[ivfProbesWith]] against the live table's own centroid set. */
  private[graft] def ivfProbesOf(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    ivfProbesWith(coarseCentsOf(spark, dir), queries)

  /** IVF (q_id, n_id) candidate pairs: every query joined to the
    * members of its [[NProbe]] nearest coarse cells — the cell-pruning
    * half shared by [[ivfpqTopK]] and [[ivfpqLearnedTopK]]. */
  private def ivfCandidates(spark: SparkSession, dir: String): DataFrame =
    ivfProbes(spark, dir).join(ivfAssign(spark, dir), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))

  /** The seed-codebook PQ codes for the whole corpus — the second
    * index-build product next to [[ivfAssign]]. */
  private[graft] def pqCorpusCodes(spark: SparkSession, dir: String): DataFrame =
    pqCorpusCodesUsing(spark, dir, pqSeedCentsOf(spark, dir), lit(true))

  /** The seed PQ codebook for the corpus under `pred` — the second
    * half of the persisted index geometry next to [[coarseCentsOf]]. */
  private[graft] def pqSeedCentsOf(spark: SparkSession, dir: String,
      pred: Column = lit(true)): DataFrame =
    pqSeedCents(embs(spark, dir).filter(pred))

  /** PQ codes for the vectors of `dir` matching `pred`, encoded
    * against an EXPLICIT codebook — like [[ivfAssignUsing]], the
    * codebook is the build-time (persisted) geometry while only the
    * delta vectors are scanned and encoded. */
  private[graft] def pqCorpusCodesUsing(spark: SparkSession, dir: String,
      cents: DataFrame, pred: Column): DataFrame =
    pqEncode(embs(spark, dir).filter(pred), cents)

  /** [[ivfpqTopK]] served from PERSISTED index frames: `assign`
    * (n_id, cell) and `codes` (n_id, s, code) come from storage
    * instead of being recomputed, so a query pays only the probe
    * window (queries x cells), the cell-member ADC join, and the
    * point-lookup re-rank — never a corpus encode. Must return the
    * exact ivfpqTopK rows (AnnIndexLayoutSpec asserts byte equality). */
  private[graft] def ivfpqServeFrom(spark: SparkSession, dir: String,
      assign: DataFrame, codes: DataFrame): DataFrame = {
    val raw = embs(spark, dir)
    // registered corpus-member queries: exclude the query's own row,
    // exactly as the online ann_ivfpq_topk does
    ivfpqServeQueriesWith(spark, dir, withNorm(raw).filter(isQuery),
      coarseCentsOf(spark, dir), pqSeedCents(raw), assign, codes,
      excludeSelf = true)
  }

  /** The registered query subset as a serve-shaped frame — shared by
    * `sources.AnnIndexLayout.query` and the index specs. */
  private[graft] def registeredQueryFrame(spark: SparkSession,
      dir: String): DataFrame =
    withNorm(embs(spark, dir)).filter(isQuery)

  /** [[ivfpqServeFrom]] for an ARBITRARY (vec_id, embedding, nrm)
    * query frame — what `sources.AnnIndexLayout.serve/serveStream`
    * feed with external request sets / micro-batches. Geometry
    * (coarse centroids + PQ codebook) is EXPLICIT so serving stays
    * pinned to the frozen build-time geometry the `assign`/`codes`
    * frames were produced under. `excludeSelf` drops candidate pairs
    * whose ids coincide — correct ONLY when the query ids ARE corpus
    * ids (the registered subset); an external request set must keep
    * it false or a corpus vector sharing a request's id silently
    * vanishes from that request's top-K. */
  private[graft] def ivfpqServeQueriesWith(spark: SparkSession, dir: String,
      queries: DataFrame, cents: DataFrame, pqCents: DataFrame,
      assign: DataFrame, codes: DataFrame, excludeSelf: Boolean,
      pointLookup: Boolean = false): DataFrame = {
    val pairs = ivfProbesWith(cents, queries).join(assign, Seq("cell"))
    val cand = (if (excludeSelf) pairs.filter(col("q_id") =!= col("n_id"))
      else pairs).select(col("q_id"), col("n_id"))
    pqServeQueries(embs(spark, dir), queries, pqCents, codes, Some(cand),
      pointLookup)
  }

  /** The full production ANN layout: IVF cell pruning + LEARNED PQ
    * codebooks — [[ivfpqTopK]]'s candidate restriction composed with
    * [[pqLearnedTopK]]'s trained composite codebook, both through the
    * one shared [[pqPipeline]]. Like `ann_pq_learned` the k-means
    * training isn't SQL-expressible, so this registers rows-only; its
    * correctness contract is the IvfPqRecallSpec floor (the learned
    * composite must not lose recall vs the seed-codebook composite)
    * plus the driver's rows/schema check. Scale shape inherits both
    * parents': bounded training sample, cell-pruned ADC join, 16-byte
    * codes at rest. */
  def ivfpqLearnedTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    pqPipeline(embs(spark, dir), trainedComposite(spark, dir),
      Some(ivfCandidates(spark, dir)))
  }

  val ivfpqTopKSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |coarse AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
       |  FROM e WHERE vec_id % 40 = 7),
       |cscored AS (
       |  SELECT vec_id, ccos, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |           ${dotSql("e.embedding", "cvec")} / (e.nrm * cnrm) AS ccos
       |    FROM e, coarse)),
       |assign AS (SELECT vec_id AS n_id, cent_id AS cell FROM cscored WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell
       |  FROM cscored WHERE vec_id % 50 = 0 AND crn <= $NProbe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, a.n_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell
       |  WHERE p.q_id != a.n_id),
       |pqcents AS (
       |  $pqSeedCentsSql),
       |${pqAdcSql("pqcents",
          "cand cd JOIN codes ON cd.n_id = codes.n_id " +
            "JOIN lut ON codes.s = lut.s AND codes.code = lut.cent_id " +
            "AND cd.q_id = lut.q_id")}""".stripMargin

  // ---------------------------------------------------------------------
  // ann_ivfpq_residual: IVF-PQ over RESIDUALS — the FAISS IVFPQ layout
  // ---------------------------------------------------------------------

  /** Float-rounded elementwise difference a - b: both engines compute
    * the subtraction in DOUBLE (exact for float inputs) and round once
    * to FLOAT — IEEE round-to-nearest on both sides, so residual
    * vectors are bit-identical cross-engine. */
  private def residVec(a: Column, b: Column): Column =
    zip_with(a, b, (x, c) =>
      (x.cast(DoubleType) - c.cast(DoubleType)).cast(FloatType))

  private def residVecSql(a: String, b: String): String =
    s"list_transform(generate_series(1, $Dim), i -> " +
      s"CAST(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE) AS FLOAT))"

  /** [[ivfpqTopK]] with RESIDUAL encoding — the standard production
    * IVFPQ layout (FAISS): the PQ codebook quantizes x − centroid(cell)
    * instead of the raw vector. Raw-vector PQ spends its code budget on
    * the coarse position the cell id already captures: every member of
    * a tight cluster quantizes to the SAME codes, ADC ties collapse to
    * the id tie-break, and true neighbors past the shortlist bound are
    * silently dropped (ResidualPqSpec plants exactly that geometry and
    * shows raw recall < 1). Subtracting the cell centroid concentrates
    * the code distribution on the within-cell offsets — the fine
    * structure retrieval actually ranks by — lifting recall at the same
    * 16-byte budget.
    *
    * Mechanics: corpus residuals are computed once (assign join +
    * broadcast centroid lookup, one scan); the residual seed codebook
    * uses the same bounded-id idiom as [[pqSeedCents]]; queries carry
    * one residual PER PROBED CELL, so the LUT key extends to
    * (query, cell) and the ADC join matches a candidate against the
    * LUT of the cell it lives in. Shortlist + exact re-rank (on raw
    * vectors) are unchanged. Fully deterministic — float-rounded
    * residuals, micro-quantized int64 partials, exact-int tie-breaks —
    * so unlike the learned variants the whole composite is
    * SQL-expressible and hash-checked. Scale shape inherits
    * [[ivfpqTopK]]'s: two one-scan index passes at rest, cell-pruned
    * ADC join, NProbe extra LUT rows per query (tiny). */
  def ivfpqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val raw = embs(spark, dir)
    val cents = coarseCentsOf(spark, dir)
    val cellVecs = cents.select(col("cent_id").as("cell"), col("cvec"))
    val assign = ivfAssign(spark, dir)
    // corpus residuals: x - centroid(cell(x))
    val resid = raw.join(assign, col("vec_id") === col("n_id"))
      .join(broadcast(cellVecs), "cell")
      .select(col("vec_id"),
        residVec(col("embedding"), col("cvec")).as("embedding"))
    // residual codebook: the bounded-id seed idiom over the residuals
    val rcents = resid
      .filter(col("vec_id") < 500 && col("vec_id") % 16 === 7)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val codes = pqEncode(resid, rcents)
    // per-(query, probed cell) residuals -> the cell-keyed LUT
    val probes = ivfProbes(spark, dir)
    val qres = raw
      .join(probes, col("vec_id") === col("q_id"))
      .join(broadcast(cellVecs), "cell")
      .select(col("q_id"), col("cell"),
        residVec(col("embedding"), col("cvec")).as("embedding"))
    val lut = qres.crossJoin(broadcast(rcents))
      .select(col("q_id").as("lq_id"), col("cell").as("lcell"),
        col("cent_id"),
        posexplode(expr(s"graft_pq_d2s(embedding, cvec, $PqM)")))
      .select(col("lq_id"), col("lcell"), col("cent_id"),
        col("pos").as("qs"),
        round(col("col") * lit(1e6)).cast(LongType).as("d2q"))
    // candidates keep the cell so the ADC join reads the right LUT
    val cand = probes.join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("cell"), col("n_id"))
    val sw = Window.partitionBy(col("q_id"))
      .orderBy(col("d2q_total"), col("n_id"))
    val shortlist = cand.join(codes, Seq("n_id"))
      .join(broadcast(lut),
        col("s") === col("qs") && col("code") === col("cent_id") &&
          col("q_id") === col("lq_id") && col("cell") === col("lcell"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2q")).as("d2q_total"))
      .withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= PqR)
      .select(col("q_id"), col("n_id"))
    // exact re-rank on RAW vectors (the codes only pick the shortlist)
    val qv = raw.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val nv = raw.select(col("vec_id").as("n_id"), col("embedding").as("nvec"))
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(col("d2"), col("n_id"))
    shortlist
      .join(broadcast(qv), Seq("q_id"))
      .join(nv, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        (expr("graft_norm2(qvec)") + expr("graft_norm2(nvec)") -
          lit(2.0) * expr("graft_dot(qvec, nvec)")).as("d2"))
      .withColumn("rank", row_number().over(rw).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  val ivfpqResidualSql: String = {
    val d = PqSubDim
    def subNorm2(a: String) =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST($a[s.s*$d+i] AS DOUBLE) * CAST($a[s.s*$d+i] AS DOUBLE)))"
    def subDot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST($a[s.s*$d+i] AS DOUBLE) * CAST($b[s.s*$d+i] AS DOUBLE)))"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |coarse AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
       |  FROM e WHERE vec_id % 40 = 7),
       |cscored AS (
       |  SELECT vec_id, ccos, cent_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |           ${dotSql("e.embedding", "cvec")} / (e.nrm * cnrm) AS ccos
       |    FROM e, coarse)),
       |assign AS (SELECT vec_id AS n_id, cent_id AS cell FROM cscored WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell
       |  FROM cscored WHERE vec_id % 50 = 0 AND crn <= $NProbe),
       |resid AS (
       |  SELECT e.vec_id, ${residVecSql("e.embedding", "c.cvec")} AS rvec
       |  FROM e JOIN assign a ON e.vec_id = a.n_id
       |         JOIN coarse c ON a.cell = c.cent_id),
       |rcents AS (
       |  SELECT vec_id AS cent_id, rvec AS cvec
       |  FROM resid WHERE vec_id < 500 AND vec_id % 16 = 7),
       |rscored AS (
       |  SELECT r.vec_id, c.cent_id, s.s,
       |         CAST(round((${subNorm2("r.rvec")}
       |           + ${subNorm2("c.cvec")}
       |           - 2.0 * ${subDot("r.rvec", "c.cvec")}) * 1e6) AS BIGINT) AS d2q
       |  FROM resid r, rcents c, generate_series(0, ${PqM - 1}) s(s)),
       |codes AS (
       |  SELECT vec_id AS n_id, s, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |                                 ORDER BY d2q, cent_id) AS rn
       |    FROM rscored) WHERE rn = 1),
       |qres AS (
       |  SELECT p.q_id, p.cell, ${residVecSql("e.embedding", "c.cvec")} AS rvec
       |  FROM probes p JOIN e ON e.vec_id = p.q_id
       |       JOIN coarse c ON p.cell = c.cent_id),
       |lut AS (
       |  SELECT q.q_id, q.cell, c.cent_id, s.s,
       |         CAST(round((${subNorm2("q.rvec")}
       |           + ${subNorm2("c.cvec")}
       |           - 2.0 * ${subDot("q.rvec", "c.cvec")}) * 1e6) AS BIGINT) AS d2q
       |  FROM qres q, rcents c, generate_series(0, ${PqM - 1}) s(s)),
       |cand AS (
       |  SELECT p.q_id, p.cell, a.n_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell
       |  WHERE p.q_id != a.n_id),
       |shortlist AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT cd.q_id AS q_id, codes.n_id AS n_id,
       |           row_number() OVER (PARTITION BY cd.q_id
       |             ORDER BY CAST(sum(lut.d2q) AS BIGINT), codes.n_id) AS srn
       |    FROM cand cd JOIN codes ON cd.n_id = codes.n_id
       |    JOIN lut ON lut.s = codes.s AND lut.cent_id = codes.code
       |            AND lut.q_id = cd.q_id AND lut.cell = cd.cell
       |    GROUP BY cd.q_id, codes.n_id) WHERE srn <= $PqR),
       |rerank AS (
       |  SELECT sl.q_id, sl.n_id,
       |         ${norm2Sql("q.embedding")} + ${norm2Sql("n.embedding")}
       |           - 2.0 * ${dotSql("q.embedding", "n.embedding")} AS d2
       |  FROM shortlist sl
       |  JOIN embeddings q ON sl.q_id = q.vec_id
       |  JOIN embeddings n ON sl.n_id = n.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, d2,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY d2, n_id) AS BIGINT) AS rank
       |  FROM rerank)
       |SELECT q_id, n_id, d2, rank
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sem_delta_accounting: semantic dedup at ingest, oracled end to end
  // ---------------------------------------------------------------------

  /** The ingest delta split on the vector table — the documents
    * table's `DedupQueries.DeltaPred` discipline (every 5th vector
    * plays "today's snapshot", the rest the already-indexed corpus).
    * Interpolated into BOTH engines. */
  private[graft] val SemDeltaPred: Column = col("vec_id") % 5 === 3
  private val semDeltaPredSql: String = "vec_id % 5 = 3"

  /** SemDeDup decision floor — `dedup_cosine_lsh`'s verify floor, the
    * curation chain's own semantic-stage convention. */
  private val SemMinCos = 0.4

  /** The table a SEMANTIC ingest operator reads — the
    * `dedup_delta_accounting` shape for the vector tier: per label of
    * the NEW vectors, how many have a corpus near-duplicate at cosine
    * ≥ [[SemMinCos]] among their IVF-PQ top-[[TopK]] partners
    * (n_sem_dup), how many partner pairs the index surfaced at all
    * (n_pairs), the strongest observed cosine in basis points
    * (max_cos_bp — pins the probe/ADC/re-rank path even when the
    * threshold passes nothing), and the keep count (n_unique_new).
    *
    * Same decision grain as
    * [[graft.sources.AnnIndexLayout.semanticDedupDelta]]: geometry
    * (coarse centroids + PQ codebook) derives from the CORPUS side
    * only — exactly what a persisted index froze before the snapshot
    * arrived — the corpus is filed under it, and the delta only
    * probes; SemDeltaAccountingSpec asserts this registered query
    * equals the accounting rollup of the index surface served from
    * persisted tables.
    *
    * Scale shape: inherits `ann_ivfpq_topk`'s — the delta probes
    * NProbe cells per vector, candidates cost 16 int64 LUT lookups,
    * only the delta×R shortlist re-joins raw embeddings; the corpus
    * passes (assign, codes) are the ONE-OFF index build a deployment
    * persists ([[graft.sources.AnnIndexLayout]]), never a per-snapshot
    * cost. Exact-int counts; the one double (max cosine) is the
    * bit-identical cosine both engines already hash-match in
    * `dedup_embedding_cosine`, floored to bp. */
  /** The serve-and-score half of [[semDeltaAccounting]] — one row per
    * (delta vector, corpus IVF-PQ top-K partner) with the exact
    * cosine, threshold NOT yet applied. Shared with the unified
    * ingest composite (`mm_ingest_accounting`), which folds this
    * verdict next to the text and perceptual ones. */
  private[graft] def semDeltaPairs(spark: SparkSession,
      dir: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val corpusPred = !SemDeltaPred
    val cents = coarseCentsOf(spark, dir, corpusPred)
    val pqcb = pqSeedCentsOf(spark, dir, corpusPred)
    val assign = ivfAssignUsing(spark, dir, cents, corpusPred)
    val codes = pqCorpusCodesUsing(spark, dir, pqcb, corpusPred)
    val queries = withNorm(embs(spark, dir).filter(SemDeltaPred))
    val served = ivfpqServeQueriesWith(spark, dir, queries, cents, pqcb,
      assign, codes, excludeSelf = false)
    val q = embs(spark, dir).filter(SemDeltaPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qemb"))
    val n = embs(spark, dir).filter(corpusPred)
      .select(col("vec_id").as("n_id"), col("embedding").as("nemb"))
    served.join(q, "q_id").join(n, "n_id")
      .select(col("q_id"),
        (expr("graft_dot(qemb, nemb)") /
          (sqrt(expr("graft_norm2(qemb)")) * sqrt(expr("graft_norm2(nemb)"))))
          .as("cosine"))
  }

  /** The cosine floor the SemDeDup verdict applies — shared with the
    * ingest composite so the two queries cannot drift. */
  private[graft] val SemMinCosFloor: Double = SemMinCos

  def semDeltaAccounting(spark: SparkSession, dir: String): DataFrame = {
    val perQ = semDeltaPairs(spark, dir)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_partners"),
        max(col("cosine")).as("max_cos"),
        max((col("cosine") >= SemMinCos).cast(LongType)).as("is_dup"))
    embs(spark, dir).filter(SemDeltaPred)
      .select(col("vec_id").as("q_id"), col("label").cast(LongType).as("label"))
      .join(perQ, Seq("q_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_new"),
        coalesce(sum(col("n_partners")), lit(0L)).as("n_pairs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_sem_dup"),
        coalesce(floor(max(col("max_cos")) * lit(10000.0)), lit(-1.0))
          .cast(LongType).as("max_cos_bp"))
      .select(col("label"), col("n_new"), col("n_pairs"), col("n_sem_dup"),
        (col("n_new") - col("n_sem_dup")).as("n_unique_new"),
        col("max_cos_bp"))
      .orderBy(col("label"))
  }

  /** SQL twin of [[semDeltaPairs]] — a complete SELECT of (q_id,
    * cosine), embeddable as a subquery (DuckDB allows WITH inside a
    * derived table), shared by [[semDeltaAccountingSql]] and the
    * unified ingest oracle. */
  private[graft] val semPairsSql: String = {
    val d = PqSubDim
    def subNorm2(a: String) =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST($a[s.s*$d+i] AS DOUBLE) * CAST($a[s.s*$d+i] AS DOUBLE)))"
    val subDot =
      s"list_sum(list_transform(generate_series(1, $d), i -> " +
        s"CAST(e.embedding[s.s*$d+i] AS DOUBLE) * CAST(c.cvec[s.s*$d+i] AS DOUBLE)))"
    s"""WITH e AS (
       |  SELECT vec_id, embedding, sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings),
       |coarse AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
       |  FROM e WHERE vec_id % 40 = 7 AND NOT ($semDeltaPredSql)),
       |cscored AS (
       |  SELECT vec_id, ccos, cent_id,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ccos DESC, cent_id) AS crn
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |           ${dotSql("e.embedding", "cvec")} / (e.nrm * cnrm) AS ccos
       |    FROM e, coarse)),
       |assign AS (SELECT vec_id AS n_id, cent_id AS cell FROM cscored
       |           WHERE crn = 1 AND NOT ($semDeltaPredSql)),
       |probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell
       |  FROM cscored WHERE $semDeltaPredSql AND crn <= $NProbe),
       |cand AS (
       |  SELECT DISTINCT p.q_id, a.n_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell),
       |pqcents AS (
       |  SELECT vec_id AS cent_id, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 500 AND vec_id % 16 = 7
       |    AND NOT ($semDeltaPredSql)),
       |scored AS (
       |  SELECT e.vec_id, c.cent_id, s.s,
       |         CAST(round((${subNorm2("e.embedding")}
       |           + ${subNorm2("c.cvec")}
       |           - 2.0 * $subDot) * 1e6) AS BIGINT) AS d2q
       |  FROM embeddings e, pqcents c, generate_series(0, ${PqM - 1}) s(s)),
       |codes AS (
       |  SELECT vec_id AS n_id, s, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |                                 ORDER BY d2q, cent_id) AS rn
       |    FROM scored WHERE NOT ($semDeltaPredSql)) WHERE rn = 1),
       |lut AS (
       |  SELECT vec_id AS q_id, s, cent_id, d2q
       |  FROM scored WHERE $semDeltaPredSql),
       |shortlist AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT lut.q_id AS q_id, codes.n_id AS n_id,
       |           row_number() OVER (PARTITION BY lut.q_id
       |             ORDER BY CAST(sum(d2q) AS BIGINT), codes.n_id) AS srn
       |    FROM cand cd JOIN codes ON cd.n_id = codes.n_id
       |    JOIN lut ON codes.s = lut.s AND codes.code = lut.cent_id
       |            AND cd.q_id = lut.q_id
       |    GROUP BY lut.q_id, codes.n_id) WHERE srn <= $PqR),
       |ranked AS (
       |  SELECT q_id, n_id,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY d2, n_id) AS rank
       |  FROM (
       |    SELECT sl.q_id, sl.n_id,
       |           ${norm2Sql("q.embedding")} + ${norm2Sql("n.embedding")}
       |             - 2.0 * ${dotSql("q.embedding", "n.embedding")} AS d2
       |    FROM shortlist sl
       |    JOIN embeddings q ON sl.q_id = q.vec_id
       |    JOIN embeddings n ON sl.n_id = n.vec_id)),
       |pairs AS (
       |  SELECT r.q_id,
       |         ${dotSql("q.embedding", "n.embedding")}
       |           / (sqrt(${norm2Sql("q.embedding")})
       |              * sqrt(${norm2Sql("n.embedding")})) AS cosine
       |  FROM ranked r
       |  JOIN embeddings q ON r.q_id = q.vec_id
       |  JOIN embeddings n ON r.n_id = n.vec_id
       |  WHERE r.rank <= $TopK)
       |SELECT q_id, cosine FROM pairs""".stripMargin
  }

  val semDeltaAccountingSql: String =
    s"""WITH perq AS (
       |  SELECT q_id, count(*) AS n_partners, max(cosine) AS max_cos,
       |         max(CASE WHEN cosine >= $SemMinCos THEN 1 ELSE 0 END) AS is_dup
       |  FROM ($semPairsSql) GROUP BY 1)
       |SELECT CAST(label AS BIGINT) AS label,
       |       CAST(count(*) AS BIGINT) AS n_new,
       |       CAST(COALESCE(sum(n_partners), 0) AS BIGINT) AS n_pairs,
       |       CAST(COALESCE(sum(is_dup), 0) AS BIGINT) AS n_sem_dup,
       |       CAST(count(*) - COALESCE(sum(is_dup), 0) AS BIGINT)
       |         AS n_unique_new,
       |       CAST(COALESCE(floor(max(max_cos) * 10000.0), -1) AS BIGINT)
       |         AS max_cos_bp
       |FROM (SELECT vec_id, label FROM embeddings WHERE $semDeltaPredSql) nv
       |LEFT JOIN perq ON nv.vec_id = perq.q_id
       |GROUP BY label
       |ORDER BY label""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame), String)] = Seq(
    ("ann_cosine_topk", bruteTopK _, bruteTopKSql),
    ("ann_lsh_topk", lshTopK _, lshTopKSql),
    ("ann_lsh_topk12",
      (s: SparkSession, d: String) => lshTopKPlanes(s, d, 12),
      lshTopKSqlPlanes(12)),
    ("ann_lsh_multiprobe", lshMultiProbe _, lshMultiProbeSql),
    ("ann_recall_audit", recallAudit _, recallAuditSql),
    ("ann_ir_metrics", irMetrics _, irMetricsSql),
    ("ann_ivf_topk", ivfTopK _, ivfTopKSql),
    ("ann_int8_topk", int8TopK _, int8TopKSql),
    ("ann_knn_join", knnJoin _, knnJoinSql),
    ("emb_knn_classify", knnClassify _, knnClassifySql),
    ("emb_mmr_rerank", mmrRerank _, mmrRerankSql),
    ("emb_ood_audit", oodAudit _, oodAuditSql),
    ("emb_mrl_recall", mrlRecall _, mrlRecallSql),
    ("ann_hamming_topk", hammingTopK _, hammingTopKSql),
    ("ann_hamming_bucketed", hammingBucketed _, hammingBucketedSql),
    ("ann_hamming_bucketed2",
      (s: SparkSession, d: String) => hammingBucketedRadius(s, d, 2),
      hammingBucketedSqlRadius(2)),
    ("ann_hamming_recall", hammingRecall _, hammingRecallSql),
    ("emb_hard_negatives", hardNegatives _, hardNegativesSql),
    ("emb_hard_negatives12",
      (s: SparkSession, d: String) => hardNegativesPlanes(s, d, 12),
      hardNegativesSqlPlanes(12)),
    ("emb_threshold_calibration", thresholdCalibration _, thresholdCalibrationSql),
    ("ann_filtered_topk", filteredTopK _, filteredTopKSql),
    ("emb_label_centroids", labelCentroids _, labelCentroidsSql),
    ("emb_drift", drift _, driftSql),
    ("emb_quantize", quantizeInt8 _, quantizeInt8Sql),
    ("emb_kmeans_step", kmeansStep _, kmeansStepSql),
    ("emb_power_iteration", powerIteration _, powerIterationSql),
    ("emb_pca2", pca2 _, pca2Sql),
    ("emb_whiten", whiten2 _, whiten2Sql),
    ("ann_pq_topk", pqTopK _, pqTopKSql),
    ("ann_ivfpq_topk", ivfpqTopK _, ivfpqTopKSql),
    ("sem_delta_accounting", semDeltaAccounting _, semDeltaAccountingSql),
    ("ann_ivfpq_residual", ivfpqResidualTopK _, ivfpqResidualSql),
    ("ann_pq_learned", pqLearnedTopK _, null),
    ("ann_ivfpq_learned", ivfpqLearnedTopK _, null))
}
