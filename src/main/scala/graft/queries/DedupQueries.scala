package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.util.Tables

/** Deduplication operators over `documents` / `embeddings` — exact,
  * n-gram Jaccard, MinHash+LSH banding, SimHash, and embedding-cosine
  * near-dup (BASELINE.json north star).
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on md5(text) — never on the raw
  *    text bytes.
  *  - near-dup candidate generation is *inverted-index* shaped (join on
  *    shingle / band-key / bit-chunk), never a cross join: the shuffle
  *    key is the shingle hash, and pair expansion happens only inside a
  *    posting list. MinHash banding caps posting-list width at the
  *    signature level (b bands of r rows, collision prob j^r per band).
  *  - verification (exact Jaccard / Hamming / cosine) runs only on
  *    candidate pairs.
  *
  * All hash arithmetic is exact int64 (see [[graft.functions.TextFunctions]])
  * so every stage — including the approximate ones — has a DuckDB
  * oracle twin generated from the same constants.
  */
object DedupQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** (doc_id, s) exploded distinct 3-shingle hashes. The repartition
    * before the Generate spreads the md5 shingle hashing across cores —
    * a single parquet file otherwise pins it to one task (and at
    * cluster scale this is the shuffle that co-locates a doc's
    * shingles). Tokenization happens BEFORE the shuffle so the explode
    * generator references a token-array attribute — inlining the split
    * would re-tokenize once per shingle (see shingleHashesOfToks). */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(docs(spark, dir))

  /** [[shingles]] for an ARBITRARY (doc_id, text) frame — shared with
    * the persisted dedup index ([[graft.sources.DedupIndexLayout]]),
    * whose deltas must shingle EXACTLY like the corpus build (the
    * shingle/minhash constants are fixed code, so a signature can
    * never drift between build and delta — the structural freeze). */
  private[graft] def shinglesOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(shingleHashesOfToks(col("toks"), 3)).as("s"))

  private val shinglesCte: String =
    s"""SELECT doc_id, unnest(${shingleHashesSql(3)}) AS s FROM documents"""

  /** Shingle index with the per-doc shingle count carried on every row.
    * The window count runs over the doc_id partitioning the index
    * already has (no exchange); carrying `n` through the posting joins
    * lets Jaccard be computed directly in the pair group-by — no
    * separate sizes table and no post-aggregation re-joins (removing
    * those three joins measured ~1.7x on the ngram query at sf0.1). */
  private[graft] def withSizes(sh: DataFrame): DataFrame =
    sh.withColumn("n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))))

  private def jaccardOf(common: Column, na: Column, nb: Column): Column =
    common.cast(DoubleType) / (na + nb - common).cast(DoubleType)

  /** Exact-Jaccard verification of (doc_a, doc_b) candidate pairs
    * against an ALREADY sized (and ideally cached) index — callers
    * build `withSizes` output once and share it (every consumer needs
    * the per-doc counts anyway).
    *
    * Verification intersects per-doc sorted shingle ARRAYS map-side
    * (the [[containmentPairs]] discipline, r10): each candidate pair
    * pulls two bounded arrays, so no pair×posting grain ever exists —
    * the exploded form shuffled |cand|·|shingles-per-doc| rows into a
    * pair-grain aggregate (~1.5B rows at sf1 when containment hit it).
    * Exactness: per-doc shingles are DISTINCT by construction, so
    * |array_intersect| == the exploded join's per-pair count; a pair
    * with zero common shingles now yields jaccard = 0.0 instead of no
    * row — identical output under every caller's ≥ τ (τ > 0) filter. */
  private[graft] def verifyJaccardSized(cand: DataFrame, shN: DataFrame): DataFrame = {
    val arrs = shN.groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("arr").as("arr_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("arr").as("arr_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(size(array_intersect(col("arr_a"), col("arr_b")))
          .cast(LongType), col("na"), col("nb")).as("jaccard"))
  }

  // ---------------------------------------------------------------------
  // dedup_exact: hash-groupBy duplicate detection
  // ---------------------------------------------------------------------

  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_distinct"),
        (count(lit(1)) - count_distinct(col("h"))).as("n_dup_docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))

  val exactSql: String =
    """SELECT source,
      |       count(*) AS n_docs,
      |       count(DISTINCT md5(text)) AS n_distinct,
      |       count(*) - count(DISTINCT md5(text)) AS n_dup_docs,
      |       min(doc_id) AS first_doc
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_ngram_jaccard: exact near-dup via shingle inverted index
  // ---------------------------------------------------------------------

  /** Posting lists wider than this are dropped from candidate
    * generation (a shingle shared by >1000 docs contributes ~0 to any
    * pair's Jaccard but O(n^2) join rows — the classic skew guard for
    * shingle joins). No posting list in the testdata exceeds 25 docs,
    * so results are unchanged at every test SF; the identical HAVING
    * guard is in the oracle SQL. What the cap drops is never silent:
    * [[postingAudit]] reports dropped-shingle counts and posting share
    * per cap setting. */
  private val MaxPostingList = 1000

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // the posting-list table feeds the df-filter and both self-join
    // sides — persist instead of recomputing the md5 explode 3x
    // (cluster-scale analog: materialize the shingle index once).
    // count() forces the cache build NOW: AQE otherwise launches the
    // consuming subtrees as parallel stages that race to build the
    // same cache, each re-running the md5 explode.
    val sh = shingles(spark, dir).persist()
    sh.count()
    val coldShingles = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxPostingList)
      .select(col("s"))
    // both sides of the pair self-join read the sized+capped posting
    // list; persist it once (same rationale as dedup_contamination),
    // then drop the raw shingle cache it subsumes
    val postings = withSizes(sh).join(coldShingles, "s").persist()
    postings.count()
    sh.unpersist(false)
    // one row per shared shingle -> groupBy counts |A ∩ B| directly;
    // no separate candidate pass (the posting-list join IS the pairs),
    // and the carried na/nb make Jaccard computable in the same group
    postings.as("a").join(postings.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common"))
      .select(col("doc_a"), col("doc_b"),
        jaccardOf(col("common"), col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramJaccardSql: String =
    s"""WITH sh AS ($shinglesCte),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxPostingList),
       |postings AS (SELECT sh.doc_id, sh.s FROM sh JOIN cold USING (s)),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(common AS DOUBLE) / CAST(za.n + zb.n - common AS DOUBLE) AS jaccard
       |FROM common
       |JOIN sizes za ON doc_a = za.doc_id
       |JOIN sizes zb ON doc_b = zb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(za.n + zb.n - common AS DOUBLE) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_prefix_jaccard: EXACT high-threshold join via prefix filtering
  // ---------------------------------------------------------------------

  /** Exact Jaccard ≥ τ pairs via PREFIX FILTERING (the AllPairs/ppjoin
    * family, Bayardo et al. 2007 / Xiao et al. 2008): order each doc's
    * shingles globally rarest-first and index only the first
    * n − ⌈τ·n⌉ + 1 of them — two sets with Jaccard ≥ τ overlap in
    * > (1−τ)·n elements, so they MUST share a prefix shingle
    * (PrefixJaccardSpec asserts zero false negatives against the full
    * inverted join). Complements [[ngramJaccard]]: that query serves
    * the low-τ regime with a capped full index (approximate under the
    * cap); this one serves the high-τ near-dup regime exactly, with
    * candidate volume shrunk twice over — only the (1−τ) rarest tail
    * of each doc is indexed, and rare-first ordering means those
    * postings are the SHORTEST, so no skew cap is needed and
    * exactness survives at scale.
    *
    * Shape: the rank window runs over the doc_id partitioning the
    * index already has; the pair join touches prefix postings only;
    * the τ·max ≤ min size filter prunes before the distinct; exact
    * verification reuses [[verifyJaccard]] on the surviving pairs. */
  def prefixJaccard(spark: SparkSession, dir: String): DataFrame = {
    // ONE sized-index build feeds all three consumers (df counts, the
    // prefix rank, the exact verify) — paying the per-doc count window
    // a second time inside verifyJaccard measured ~1.3x on the whole
    // query at sf0.1
    val shN = withSizes(shingles(spark, dir)).persist()
    shN.count()
    prefixJaccardFromSized(shN)
  }

  /** [[prefixJaccard]] over an ALREADY persisted sized shingle index —
    * lets [[dedupRecallAudit]] share one index build between its exact
    * and banded legs. */
  private def prefixJaccardFromSized(shN: DataFrame): DataFrame = {
    val tau = PrefixTau
    val dfs = shN.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = shN.join(dfs, "s")
      .withColumn("rn", row_number().over(rw))
      .filter(col("rn") <= col("n") - ceil(lit(tau) * col("n")) + lit(1))
      .select(col("doc_id"), col("s"), col("n"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")).cast(DoubleType) >=
            lit(tau) * greatest(col("a.n"), col("b.n")).cast(DoubleType))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardSized(cand, shN)
      .filter(col("jaccard") >= tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private[queries] val PrefixTau = 0.7

  val prefixJaccardSql: String =
    s"""WITH sh AS ($shinglesCte),
       |dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |sized AS (
       |  SELECT doc_id, s,
       |         count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM sh),
       |prefix AS (
       |  SELECT doc_id, s, n FROM (
       |    SELECT z.doc_id, z.s, z.n,
       |           row_number() OVER (PARTITION BY z.doc_id
       |                              ORDER BY d.df, z.s) AS rn
       |    FROM sized z JOIN dfs d USING (s))
       |  WHERE rn <= n - CAST(ceil($PrefixTau * n) AS BIGINT) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM prefix a JOIN prefix b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |   AND CAST(least(a.n, b.n) AS DOUBLE)
       |       >= $PrefixTau * CAST(greatest(a.n, b.n) AS DOUBLE)),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb, count(*) AS common
       |  FROM cand c
       |  JOIN sized sa ON c.doc_a = sa.doc_id
       |  JOIN sized sb ON c.doc_b = sb.doc_id AND sa.s = sb.s
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b,
       |       CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
       |FROM common
       |WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= $PrefixTau
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_containment_pairs: EXACT asymmetric-containment join
  // ---------------------------------------------------------------------

  /** Asymmetric CONTAINMENT ≥ τ pairs — the boilerplate/superset
    * detector Jaccard machinery structurally misses: a 10-shingle doc
    * fully embedded in a 100-shingle doc has containment 1.0 but
    * Jaccard 0.1, below every symmetric threshold (this is how quote
    * farms and template expansions survive near-dup passes).
    * [[contamination]] applies containment across the train/eval
    * split; this is the intra-corpus form, exact via the ASYMMETRIC
    * prefix filter: if |A∩B| ≥ τ|A| then |A\B| ≤ (1−τ)|A|, so A must
    * share one of its ⌊(1−τ)·n⌋+1 globally-rarest shingles with B —
    * only that probe prefix is indexed on the contained side, joined
    * against the full index (zero false negatives proven in
    * ContainmentPairsSpec). No size-ratio pruning, by design: wild
    * size asymmetry is exactly the target.
    *
    * Scale: the probe side indexes ~(1−τ) of each doc's shingles, and
    * rare-first ordering gives those the SHORTEST postings (the
    * [[prefixJaccard]] argument); verification touches candidate
    * pairs only. Output is directional: doc_a is the CONTAINED doc. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val shN = withSizes(shingles(spark, dir)).persist()
    shN.count()
    val dfs = shN.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // every posting carries (n, rn) — rn is the shingle's position in
    // the doc's globally-consistent rarest-first order (df, s); the
    // SAME order in every doc is what makes the positional bound valid
    val ranked = shN.join(dfs, "s")
      .withColumn("rn", row_number().over(rw)).persist()
    // probe length ⌊(1−τ)n⌋+1 = n − ⌈τn⌉ + 1 in PURE int64 (⌈4n/5⌉ =
    // (4n+4) div 5): a float (1−τ) here is 0.19999..96 in one engine
    // and exact decimal 0.2 in the other — one probe short on docs
    // with n divisible by 5, which cost a pair at sf0.1.
    // Candidate row filters, all EXACT (no qualifying pair lost):
    //  - size: containment needs |B| ≥ τ|A| (5·n_b ≥ 4·n_a)
    //  - positional (ppjoin lemma on the pair's rarest COMMON shingle,
    //    always inside A's probe for qualifying pairs): common ≤
    //    1 + min(n_a − rn_a, n_b − rn_b) must still reach ⌈τ·n_a⌉
    val cand = ranked.as("a").join(ranked.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") &&
          expr("a.rn <= a.n - ((4 * a.n + 4) div 5) + 1") &&
          expr("5 * b.n >= 4 * a.n") &&
          expr("1 + least(a.n - a.rn, b.n - b.rn) >= (4 * a.n + 4) div 5"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify on doc-grain sorted shingle ARRAYS: candidate pairs pull
    // two bounded arrays and intersect map-side — no pair×posting
    // explode, no billion-row shuffle+agg (the exploded verify was the
    // @10× wall: see BENCH_SF1.md round 10)
    val arrs = shN.groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
    val common = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("arr").as("arr_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("arr").as("arr_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("arr_a"), col("arr_b")))
          .cast(LongType).as("common"))
    Tables.released(
      common
        // threshold as the exact rational 5·common ≥ 4·n_a — the
        // double is for display only, never compared
        .filter(col("common") * lit(5L) >= col("n_a") * lit(4L))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          (col("common").cast(DoubleType) / col("n_a").cast(DoubleType))
            .as("containment"))
        .orderBy(col("doc_a"), col("doc_b")),
      shN, ranked)
  }

  private[queries] val ContainTau = 0.8

  val containmentPairsSql: String =
    s"""WITH sh AS ($shinglesCte),
       |dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |sized AS (
       |  SELECT doc_id, s,
       |         count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM sh),
       |ranked AS (
       |  SELECT z.doc_id, z.s, z.n,
       |         row_number() OVER (PARTITION BY z.doc_id
       |                            ORDER BY d.df, z.s) AS rn
       |  FROM sized z JOIN dfs d USING (s)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ranked a JOIN ranked b
       |    ON a.s = b.s AND a.doc_id != b.doc_id
       |   AND a.rn <= a.n - ((4 * a.n + 4) // 5) + 1
       |   AND 5 * b.n >= 4 * a.n
       |   AND 1 + least(a.n - a.rn, b.n - b.rn) >= (4 * a.n + 4) // 5),
       |arrs AS (
       |  SELECT doc_id, n, list_sort(list(s)) AS arr
       |  FROM sized GROUP BY doc_id, n),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b,
       |         CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT) AS common
       |  FROM cand c
       |  JOIN arrs sa ON c.doc_a = sa.doc_id
       |  JOIN arrs sb ON c.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, n_a, n_b,
       |       CAST(common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
       |FROM common
       |WHERE common * 5 >= n_a * 4
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_posting_audit: what does the posting-list cap cost?
  // ---------------------------------------------------------------------

  /** The skew guard in [[ngramJaccard]] / [[contamination]] silently
    * drops shingles with df > MaxPostingList from candidate
    * generation. Correct at any scale — but a 100 TB operator needs to
    * SEE what the cap cost, not trust it. One row per candidate cap
    * setting (including the production MaxPostingList) with the count
    * of shingles that would be dropped and the share of all postings
    * they carry. The df grain is one shuffle; the 4-way cap explode is
    * map-side over that aggregated grain. */
  def postingAudit(spark: SparkSession, dir: String): DataFrame = {
    val caps = Seq(5, 10, 25, MaxPostingList)
    val dft = shingles(spark, dir).groupBy(col("s")).agg(count(lit(1)).as("df"))
    dft.select(col("df"), explode(array(caps.map(lit(_)): _*)).as("cap"))
      .groupBy(col("cap"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        Tables.countIf(col("df") > col("cap")).as("n_dropped_shingles"),
        coalesce(sum(when(col("df") > col("cap"), col("df"))), lit(0L))
          .as("n_dropped_postings"))
      .withColumn("dropped_share",
        col("n_dropped_postings").cast(DoubleType) /
          col("n_postings").cast(DoubleType))
      .orderBy(col("cap"))
  }

  val postingAuditSql: String =
    s"""WITH sh AS ($shinglesCte),
       |dft AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |caps AS (SELECT unnest([5, 10, 25, $MaxPostingList]) AS cap)
       |SELECT cap,
       |       count(*) AS n_shingles,
       |       CAST(sum(df) AS BIGINT) AS n_postings,
       |       count(CASE WHEN df > cap THEN 1 END) AS n_dropped_shingles,
       |       CAST(COALESCE(sum(CASE WHEN df > cap THEN df END), 0) AS BIGINT) AS n_dropped_postings,
       |       CAST(COALESCE(sum(CASE WHEN df > cap THEN df END), 0) AS DOUBLE)
       |         / CAST(sum(df) AS DOUBLE) AS dropped_share
       |FROM dft CROSS JOIN caps
       |GROUP BY cap
       |ORDER BY cap""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_minhash_sig: k=16 MinHash signatures
  // ---------------------------------------------------------------------

  /** Unsorted signature (partial-agg'd map-side, one shuffle on doc_id). */
  private[graft] def minhashSigFrom(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(minHash(0, col("s"))).as("m0"),
        (1 until 16).map(i => min(minHash(i, col("s"))).as(s"m$i")): _*)

  def minhashSig(spark: SparkSession, dir: String): DataFrame =
    minhashSigFrom(shingles(spark, dir)).orderBy(col("doc_id"))

  /** Signature SELECT over an `sh` CTE (shared by sig and pairs oracles). */
  private val minhashSigBody: String = {
    val mins = (0 until 16)
      .map(i => s"min(${minHashSql(i, "s")}) AS m$i").mkString(",\n       ")
    s"""SELECT doc_id,
       |       $mins
       |FROM sh
       |GROUP BY doc_id""".stripMargin
  }

  val minhashSigSql: String =
    s"""WITH sh AS ($shinglesCte)
       |$minhashSigBody
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_minhash_pairs: LSH banding (4 bands x 4 rows) + exact verify
  // ---------------------------------------------------------------------

  /** Candidate pairs share at least one band of 4 consecutive minhash
    * values; candidates are then verified with exact Jaccard >= 0.3.
    * At scale this replaces the full shingle self-join: the shuffle is
    * on (band_id, band_key) and posting lists are tiny for j^4-rare
    * collisions. */
  /** Verified (doc_a, doc_b, jaccard) near-dup pairs, unsorted — shared
    * by [[minhashPairs]] and the cluster query. */
  private def minhashPairsBody(spark: SparkSession, dir: String): DataFrame = {
    // ONE sized shingle cache feeds signature build, band join and the
    // array verify (r18: the raw-shingle cache plus a SECOND sized copy
    // built inside verifyJaccard paid an extra cache materialization +
    // eager count per consumer — and this body backs ~10 registered
    // queries). count() serializes the cache build (see ngramJaccard).
    val shN = withSizes(shingles(spark, dir)).persist()
    shN.count()
    minhashPairsFromSized(shN)
  }

  /** (doc_id, band_id, key) LSH band rows of a signature frame — the
    * shipped 4 bands of 4 consecutive minhash values each. ONE
    * definition shared by the online pair queries and the persisted
    * dedup index ([[graft.sources.DedupIndexLayout]]): a banding
    * change edited here cannot desynchronize the index from the
    * queries it serves. */
  private[graft] def minhashBandsOf(sig: DataFrame): DataFrame =
    minhashBandsConfigOf(sig, 4, 4)

  /** Parametric band layout over the k=16 signature: `bands` bands of
    * `rows` consecutive minhash values (bands·rows ≤ 16) — the MinHash
    * geometry dial ([[dedupRecallAudit]] is the audit that chooses
    * it): per-band collision probability is j^rows, so FEWER rows per
    * band shift the S-curve left (recall at lower jaccard, more
    * candidates to verify) while MORE bands buy recall at bands× index
    * cost. `dedup_minhash_pairs_8x2` registers the high-recall 8×2
    * point next to the shipped 4×4. */
  private[graft] def minhashBandsConfigOf(sig: DataFrame, bands: Int,
      rows: Int): DataFrame = {
    require(bands * rows <= 16, s"band layout exceeds k=16: ${bands}x$rows")
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { j =>
        struct(lit(j).as("band_id"),
          concat_ws(":", (0 until rows).map(r => col(s"m${rows * j + r}")): _*)
            .as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id"), col("bk.key"))
  }

  /** [[minhashPairsBody]] over an ALREADY persisted SIZED shingle
    * index — for composites ([[dedupRecallAudit]]) that feed several
    * consumers from ONE tokenize+shingle pass. */
  private def minhashPairsFromSized(shN: DataFrame): DataFrame =
    minhashPairsFromConfigSized(shN, 4, 4)

  /** The FULL verified pair set read from an already PERSISTED dedup
    * index — `sized` the sized shingle table, `bands` the band rows
    * ([[graft.sources.DedupIndexLayout]]'s two tables): the same
    * candidate self-join + exact-Jaccard verify as [[minhashPairs]],
    * with zero shingle/signature recomputation. The build half of the
    * incremental curated layout's `_mh_pairs` state. */
  private[graft] def minhashPairsFromIndex(sized: DataFrame,
      bands: DataFrame): DataFrame = {
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardSized(cand, sized).filter(col("jaccard") >= 0.3)
  }

  private def minhashPairsFromConfigSized(shN: DataFrame, nBands: Int,
      rows: Int): DataFrame = {
    val sig = minhashSigFrom(shN).persist()
    sig.count()
    val bands = minhashBandsConfigOf(sig, nBands, rows)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardSized(cand, shN)
      .filter(col("jaccard") >= 0.3)
  }

  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsBody(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The high-recall geometry point: 8 bands × 2 rows (collision
    * j² per band — the S-curve's 50% point drops from j≈0.69 to
    * j≈0.27), verified at the same 0.3 floor. Near the floor the 4×4
    * table provably under-recalls (catch ≈ 1−(1−0.3⁴)⁴ ≈ 3%); this
    * point is what a recall-critical dedup run ships, at ~2× band
    * rows and a larger candidate volume — the measured trade, next to
    * [[dedupRecallAudit]]'s per-band S-curve. */
  def minhashPairs8x2(spark: SparkSession, dir: String): DataFrame = {
    val shN = withSizes(shingles(spark, dir)).persist()
    shN.count()
    minhashPairsFromConfigSized(shN, 8, 2).orderBy(col("doc_a"), col("doc_b"))
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the SQL twin
    * of [[minhashPairsBody]], shared by the pairs and cluster oracles. */
  private val minhashPairsCtes: String = minhashPairsCtesConfig(4, 4)

  private def minhashPairsCtesConfig(nBands: Int, rows: Int): String = {
    val bandRows = (0 until nBands).map { j =>
      val key = (0 until rows).map(r => s"CAST(m${rows * j + r} AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $j AS band_id, $key AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS ($shinglesCte),
       |sig AS ($minhashSigBody),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |common AS (
       |  SELECT doc_a, doc_b, count(*) AS common
       |  FROM cand JOIN sh sa ON doc_a = sa.doc_id
       |            JOIN sh sb ON doc_b = sb.doc_id AND sa.s = sb.s
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |         CAST(common AS DOUBLE) / CAST(za.n + zb.n - common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes za ON doc_a = za.doc_id
       |  JOIN sizes zb ON doc_b = zb.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(za.n + zb.n - common AS DOUBLE) >= 0.3)""".stripMargin
  }

  val minhashPairsSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  val minhashPairs8x2Sql: String =
    s"""WITH ${minhashPairsCtesConfig(8, 2)}
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_source_overlap: source×source near-dup contamination matrix
  // ---------------------------------------------------------------------

  /** WHERE the near-dups live, not just that they exist: the verified
    * MinHash pair graph rolled up to a directional source×source
    * matrix — row (A, B) reads "this many of A's docs have a verified
    * near-dup in B, this share of A". The diagonal is each source's
    * internal duplication rate; off-diagonal mass is cross-source
    * contamination (mirrored syndicated content, a crawl eating
    * another crawl) — the table that decides WHICH source to drop
    * when two overlap, next to [[contamination]]'s train-vs-eval
    * special case.
    *
    * n_pairs convention: each undirected pair is counted once per
    * DIRECTION, so an intra-source pair contributes 2 to its diagonal
    * cell while a cross-source pair contributes 1 to each of its two
    * off-diagonal cells — every cell is "directed edges out of src_a",
    * symmetric by construction. n_docs_hit/share_bp count distinct
    * docs and are unaffected.
    *
    * Scale shape: pairs come from the banded candidate join (never
    * all-pairs); the rollup output is bounded by |sources|²; the two
    * label attachments are doc_id equi-joins on the k-bounded pair
    * grain. share_bp is exact integer arithmetic. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsBody(spark, dir)
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val nSrc = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs_a"))
    val directed = pairs.select(col("doc_a").as("d"), col("doc_b").as("o"))
      .union(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
    directed
      .join(src.select(col("doc_id").as("d"), col("source").as("src_a")), "d")
      .join(src.select(col("doc_id").as("o"), col("source").as("src_b")), "o")
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("d")).as("n_docs_hit"))
      .join(nSrc, col("src_a") === col("source"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        col("n_docs_hit"), col("n_docs_a"),
        floor(col("n_docs_hit") * lit(10000L) / col("n_docs_a"))
          .cast(LongType).as("share_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH $minhashPairsCtes,
       |src AS (SELECT doc_id, source FROM documents),
       |nsrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_a
       |  FROM src GROUP BY 1),
       |directed AS (
       |  -- one row per DIRECTION: an intra-source pair lands twice in
       |  -- its diagonal cell, a cross-source pair once per off-diagonal
       |  -- cell (n_pairs = directed edges out of src_a)
       |  SELECT doc_a AS d, doc_b AS o FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS d, doc_a AS o FROM pairs),
       |lab AS (
       |  SELECT sa.source AS src_a, sb.source AS src_b, dd.d
       |  FROM directed dd
       |  JOIN src sa ON dd.d = sa.doc_id
       |  JOIN src sb ON dd.o = sb.doc_id),
       |agg AS (
       |  SELECT src_a, src_b,
       |         CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(count(DISTINCT d) AS BIGINT) AS n_docs_hit
       |  FROM lab GROUP BY 1, 2)
       |SELECT src_a, src_b, n_pairs, n_docs_hit, n_docs_a,
       |       CAST(floor(n_docs_hit * 10000 / n_docs_a) AS BIGINT) AS share_bp
       |FROM agg JOIN nsrc ON agg.src_a = nsrc.source
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_recall_audit: the banding S-curve against exact ground truth
  // ---------------------------------------------------------------------

  /** Recall of the MinHash banding against the EXACT prefix-filtered
    * join, per jaccard band — the dedup counterpart of
    * ann_recall_audit, publishing the LSH S-curve the banding formula
    * only predicts: [[prefixJaccard]] is zero-false-negative at
    * τ = 0.7 (proven in PrefixJaccardSpec), so its pairs are ground
    * truth; each is checked against the banded+verified
    * [[minhashPairs]] set and recall is rolled up per 0.1-wide
    * jaccard band. At 100 TB this is the audit that decides band
    * geometry before a corpus-wide dedup run — on a SAMPLE, exactly
    * like the ANN audit (the exact side is the expensive one; both
    * sides here are the already-bounded pair queries).
    *
    * recall_bp floors the ratio EXPLICITLY on both engines: a bare
    * long cast truncates in Spark but DuckDB's CAST rounds, so a band
    * at e.g. 2/3 recall would hash-mismatch without the floor. */
  def dedupRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    // ONE sized shingle index feeds BOTH legs (r18): the exact
    // prefix-filtered truth and the banded MinHash catch previously
    // each built their own tokenize+shingle+window cache
    val shN = withSizes(shingles(spark, dir)).persist()
    shN.count()
    val exact = prefixJaccardFromSized(shN)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val caught = minhashPairsFromSized(shN)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    exact.join(caught, Seq("doc_a", "doc_b"), "left_outer")
      .select(
        least(floor(col("jaccard") * 10), lit(9.0)).cast(LongType).as("band"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_caught"))
      .select(col("band"), col("n_exact"), col("n_caught"),
        floor(col("n_caught") * lit(10000L) / col("n_exact"))
          .cast(LongType).as("recall_bp"))
      .orderBy(col("band"))
  }

  val dedupRecallAuditSql: String =
    s"""WITH exact AS ($prefixJaccardSql),
       |caught AS ($minhashPairsSql),
       |j AS (
       |  SELECT e.jaccard,
       |         CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact e
       |  LEFT JOIN caught c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
       |SELECT CAST(least(floor(jaccard * 10), 9.0) AS BIGINT) AS band,
       |       count(*) AS n_exact,
       |       CAST(sum(hit) AS BIGINT) AS n_caught,
       |       CAST(floor(sum(hit) * 10000 / count(*)) AS BIGINT) AS recall_bp
       |FROM j
       |GROUP BY 1
       |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_clusters: connected components over the near-dup pair graph
  // ---------------------------------------------------------------------

  /** Duplicate clusters: connected components of the verified MinHash
    * near-dup pairs, labeled by the minimum doc_id in the component
    * (the canonical survivor a corpus-dedup pass would keep).
    *
    * Spark side: min-label propagation accelerated with pointer
    * jumping — per round, each node takes the min of its own and its
    * neighbors' labels, then labels are short-circuited through one
    * label-of-label self-join (lbl := lbl(lbl)), which halves chain
    * depth every round, so convergence is O(log diameter) rounds
    * instead of O(diameter). Labels only ever decrease, so the
    * convergence check is a single cheap sum(lbl) comparison (the sum
    * is stationary iff no label moved), not a join. All data stays
    * distributed; the driver sees one scalar per round. Oracle: DuckDB
    * recursive CTE computing per-node reachability and taking min over
    * reachable origins (exponential in component size in general, fine
    * at oracle SF where components are tiny).
    */
  /** Symmetric (src, dst) edge list over the verified MinHash near-dup
    * pairs — the ONE dup-graph construction shared by [[clusters]] and
    * [[pagerank]], so both always see the same graph. The pairs are
    * eagerly localCheckpoint'ed: both iterative consumers feed each
    * round's output back into the next round's LOGICAL plan, and
    * without truncation the analyzed tree re-enters the full minhash
    * pipeline every iteration and driver-side re-optimization dominates
    * runtime within two rounds (on a multi-node cluster this would be a
    * reliable checkpoint instead). */
  private def dupPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsBody(spark, dir)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)

  private def dupEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dupPairs(spark, dir)
    pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
  }

  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = dupEdges(spark, dir)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl")).localCheckpoint(true)
    // convergence scalar: sum of labels, in DECIMAL(38,0) — labels only
    // ever decrease under min-propagation, but an int64 sum of 60-bit
    // doc_ids wraps silently somewhere past ~16 nodes at graph scale,
    // and a wrapped comparison could read "equal" with labels still
    // moving (falsely converged = silently wrong clusters)
    val lblSum = sum(col("lbl").cast(DecimalType(38, 0)))
    // sum() is null on an empty pair graph — nothing to propagate then
    val sum0 = labels.agg(lblSum).first()
    var prevSum =
      if (sum0.isNullAt(0)) BigDecimal(0) else BigDecimal(sum0.getDecimal(0))
    var converged = sum0.isNullAt(0)
    var rounds = 0
    // pointer jumping collapses diameter d in ~log2(d) rounds, so 64
    // covers any physically possible component; the require below turns
    // a failure of that reasoning into a loud error, never a silently
    // unconverged (wrong) clustering
    while (!converged && rounds < 64) {
      val contrib = edges
        .join(labels.select(col("doc_id").as("src"), col("lbl")), "src")
        .select(col("dst").as("doc_id"), col("lbl"))
      // cache (not checkpoint) before the jump self-join that reads
      // `prop` twice: its lineage is already constant-size — one
      // union+agg over the checkpointed labels/edges — so only ONE
      // materialization per round (`next`) pays checkpoint cost, and
      // that one is the lineage-truncation point the loop needs
      val prop = labels.union(contrib)
        .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
        .persist()
      val next = prop.as("a")
        .join(prop.select(col("doc_id").as("lbl"), col("lbl").as("lbl2")).as("b"),
          Seq("lbl"), "left")
        .select(col("doc_id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
      val s = BigDecimal(next.agg(lblSum).first().getDecimal(0))
      prop.unpersist(false)
      labels = next
      converged = s == prevSum
      prevSum = s
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("lbl")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  val clustersSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |r(doc_id, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM r GROUP BY doc_id),
       |csize AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, c.cluster_size,
       |       l.doc_id = l.cluster_id AS is_canonical
       |FROM labels l JOIN csize c USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_pagerank: PageRank over the near-dup pair graph
  // ---------------------------------------------------------------------

  /** Fixed PageRank iteration count — literal in both engines so the
    * DuckDB oracle can unroll the walk as CTEs. */
  private val PrIters = 3
  /** Fixed-point PageRank unit (1 pico = 1e-12 of total mass). */
  private val PrUnit = 1000000000000L

  /** PageRank over the verified MinHash near-dup graph: a
    * centrality-based canonical-document signal — where
    * [[clusters]]' min-label picks the smallest doc_id per component,
    * the top PageRank doc is the one most *connected* within its dup
    * neighborhood (the natural keep-candidate for hub-shaped
    * clusters). d = 0.85, [[PrIters]] rounds, top 20 by rank.
    *
    * Scale shape: each round is one equi-join (edges × current ranks,
    * both edge-grain) + one map-side-combinable aggregate; lineage is
    * truncated per round with eager localCheckpoint (the [[clusters]]
    * discipline); the top-20 is TakeOrdered — no global window, no
    * global sort shuffle.
    *
    * Determinism: the entire iteration is int64 fixed-point — rank
    * mass in picos, per-edge contribution `pr div deg`, damping
    * `(inflow * 85) div 100` — positive-integer division truncates
    * identically in Spark (`div`) and DuckDB (`//`), so both engines
    * are bit-identical with zero float ops. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(spark, dir)
      .select(col("doc_id"), col("pr").as("pr_pico"))
      .orderBy(col("pr_pico").desc, col("doc_id"))
      .limit(20)

  /** Full (doc_id, pr) ranks — exposed for the mass-conservation
    * spec; [[pagerank]] takes the top 20. */
  private[queries] def pagerankRanks(spark: SparkSession, dir: String): DataFrame = {
    // edges are re-consumed every iteration, so checkpoint the union
    // itself too (clusters leaves it lazy because its per-round plan
    // already re-reads only the checkpointed pairs)
    val edges = dupEdges(spark, dir).localCheckpoint(true)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("doc_id")).distinct()
      .localCheckpoint(true)
    val n = math.max(nodes.count(), 1L)
    val base = (PrUnit * 15L / 100L) / n
    var pr = nodes.select(col("doc_id"), lit(PrUnit / n).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to PrIters) {
      val inflow = edges
        .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
        .join(outdeg, "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(expr("pr div deg")).as("inflow"))
      pr = nodes.join(inflow, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(base) +
            expr(s"(coalesce(inflow, 0L) * 85) div 100")).as("pr"))
        .localCheckpoint(true)
    }
    pr
  }

  val pagerankSql: String = {
    val iters = (1 to PrIters).map { r =>
      s"""c$r AS (
         |  SELECT e.dst AS doc_id, CAST(sum(p.pr // o.deg) AS BIGINT) AS inflow
         |  FROM edges e
         |  JOIN pr${r - 1} p ON e.src = p.doc_id
         |  JOIN outdeg o ON e.src = o.src
         |  GROUP BY 1),
         |pr$r AS (
         |  SELECT nd.doc_id,
         |         ((${PrUnit * 15L / 100L} // n.n)
         |           + (COALESCE(c.inflow, 0) * 85) // 100) AS pr
         |  FROM nodes nd CROSS JOIN n LEFT JOIN c$r c ON nd.doc_id = c.doc_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $minhashPairsCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
       |n AS (SELECT greatest(count(*), 1) AS n FROM nodes),
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |pr0 AS (SELECT doc_id, $PrUnit // n.n AS pr FROM nodes CROSS JOIN n),
       |$iters
       |SELECT doc_id, CAST(pr AS BIGINT) AS pr_pico FROM pr$PrIters
       |ORDER BY pr_pico DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dedup_triangles: triangle counts + clustering coefficient over the
  // near-dup pair graph
  // ---------------------------------------------------------------------

  /** Per-node triangle participation and local clustering coefficient
    * over the verified MinHash near-dup graph — third graph signal
    * next to [[clusters]] (membership) and [[pagerank]] (centrality):
    * a high coefficient marks a tight mutual-dup clique (safe to keep
    * one canonical doc), a low one marks a hub whose neighbors are NOT
    * dups of each other (chained near-dups — risky to collapse).
    *
    * Scale shape: the textbook oriented enumeration — pairs are
    * already canonical (doc_a < doc_b), so each triangle a<b<c is
    * found exactly once by closing the 2-path (a,b)+(b,c) with the
    * (a,c) edge. Two equi-joins on node ids, O(m^(3/2)) worst case,
    * on the sparse VERIFIED pair graph (never the candidate graph).
    * Per-node counts are one explode + partial-agg'd groupBy; degree
    * rides the symmetric edge list.
    *
    * Determinism: pure int64 counting; the coefficient
    * 2·tri/(deg·(deg−1)) is emitted micro-quantized via positive-int
    * division (`div` / `//` truncate identically — the [[pagerank]]
    * discipline), so both engines are bit-identical with zero floats. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val p = dupPairs(spark, dir)
    val tri = p.as("e1")
      .join(p.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(p.as("e3"),
        col("e1.doc_a") === col("e3.doc_a") &&
          col("e2.doc_b") === col("e3.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))
    val tcnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("tri_cnt"))
    // degree from the SAME checkpointed pair frame the joins consume —
    // calling dupEdges here would re-run the whole minhash pipeline a
    // second time (its dupPairs call is an independent eager checkpoint)
    val deg = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    deg.join(tcnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .withColumn("cc_micro",
        when(col("deg") >= 2,
          expr("(2 * tri_cnt * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  val trianglesSql: String =
    s"""WITH $minhashPairsCtes,
       |p AS (SELECT doc_a, doc_b FROM pairs),
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM p e1
       |  JOIN p e2 ON e1.doc_b = e2.doc_a
       |  JOIN p e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
       |tcnt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS tri_cnt FROM (
       |    SELECT a AS doc_id FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT doc_a AS doc_id FROM p
       |    UNION ALL SELECT doc_b FROM p)
       |  GROUP BY 1)
       |SELECT d.doc_id, d.deg, COALESCE(t.tri_cnt, 0) AS tri_cnt,
       |       CASE WHEN d.deg >= 2
       |            THEN (2 * COALESCE(t.tri_cnt, 0) * 1000000)
       |                   // (d.deg * (d.deg - 1))
       |            ELSE 0 END AS cc_micro
       |FROM deg d LEFT JOIN tcnt t USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_simhash: 60-bit SimHash per doc + banded Hamming pairs
  // ---------------------------------------------------------------------

  /** Per-doc 60-bit SimHash, relational formulation: explode shingles,
    * one codegen'd aggregation pass computing per-bit one-counts (60
    * conditional sums + total), then reconstruct the majority-vote
    * bits. Semantically identical to the array-lambda form in
    * [[graft.functions.TextFunctions.simHashSql]] (the oracle), but
    * whole-stage-codegen'd and parallel — the HOF form is interpreted
    * per element and was the round's worst hotspot when planner rules
    * (CollapseProject, join null-filter pushdown) duplicated it.
    * The coalesces keep every column non-nullable so downstream joins
    * infer no IsNotNull filters to push around. */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val votes = sh.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n"),
      (0 until 60).map(b =>
        sum(shiftright(col("s"), b) % 2).as(s"c$b")): _*)
    val sig = votes.select(col("doc_id"),
      (0 until 60)
        .map(b => when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(0L))
        .reduce((a, b) => a + b).as("simhash"))
    // docs with <3 tokens have no shingles: the oracle (FROM documents)
    // emits simhash=0 for them, so restore those rows here too
    docs(spark, dir).select(col("doc_id"))
      .join(sig, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).orderBy(col("doc_id"))

  // CAST: DuckDB list_sum(BIGINT) yields HUGEINT, which the driver's
  // pandas compare converts to float64 (losing 60-bit precision);
  // BIGINT keeps both engines int64 end-to-end
  val simhashSql: String =
    s"""SELECT doc_id, CAST(${simHashSql(shingleHashesSql(3))} AS BIGINT) AS simhash
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Parametric SimHash banding: [[SimhashBands]] chunks of
    * [[SimhashWidth]] bits each (bands x width = 60). Pigeonhole: a
    * pair at Hamming distance <= bands-1 differs in at most bands-1
    * chunks, so it SHARES at least one — candidate generation via the
    * chunk-equality join is provably complete for any radius <=
    * bands-1 ([[SimhashRadius]]; SimhashBandingPropertySpec proves the
    * pigeonhole bound over random flips, DedupSpec checks the banded
    * result equals brute-force all-pairs on real data).
    *
    * Scale: the bucket domain is 2^width values, so posting lists grow
    * with corpus/2^width and the candidate join's quadratic term
    * carries a 1/2^width constant. Width trades radius for capacity —
    * the r6/r7 default (6x10: radius 5, 1024-value domain) was the
    * last documented scale-killer at 100x corpus; the 4x15 default
    * (radius 3, 32768-value domain) shrinks the quadratic constant
    * 32x. At even larger corpora, 3x20 (radius 2, ~1M-value domain)
    * or 2x30 (radius 1) continue the same trade without touching the
    * query shape. Unlike the cosine/kNN pools, a posting CAP here
    * would silently void the recall guarantee, so capacity must come
    * from the banding itself. */
  private[queries] val SimhashBands = 4
  private[queries] val SimhashWidth = 60 / SimhashBands
  // Independent of the band count so the pigeonhole guard below has
  // teeth: tightening bands without shrinking the radius must fail fast.
  private[queries] val SimhashRadius = 3
  require(SimhashBands * SimhashWidth == 60,
    s"simhash banding must tile the 60-bit signature: $SimhashBands x $SimhashWidth")
  require(SimhashRadius <= SimhashBands - 1,
    s"pigeonhole recall guarantee needs radius <= bands-1: $SimhashRadius vs $SimhashBands bands")

  /** Near-dup pairs by SimHash: candidates share one of the
    * [[SimhashBands]] [[SimhashWidth]]-bit chunks, verified with
    * bit_count(xor) <= [[SimhashRadius]] — exactly all pairs within
    * the guaranteed-recall radius, so the result set is a property of
    * the signatures alone, not of the banding config. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // both sides of the chunk self-join consume the signature; persist
    // + eager count so the shingle explode + 60-column vote aggregation
    // runs once, not once per join side (see ngramJaccard)
    val sig = simhashSig(spark, dir).persist()
    sig.count()
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBands).map { j =>
        struct(lit(j).as("chunk_id"),
          (shiftright(col("simhash"), SimhashWidth * j) % (1L << SimhashWidth)).as("chunk"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_id"), col("c.chunk"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashRadius)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhashPairsSql: String = {
    val chunkRows = (0 until SimhashBands)
      .map(j => s"SELECT doc_id, simhash, $j AS chunk_id, " +
        s"(simhash >> ${SimhashWidth * j}) % ${1L << SimhashWidth} AS chunk FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sig AS (
       |  SELECT doc_id, CAST(${simHashSql(shingleHashesSql(3))} AS BIGINT) AS simhash FROM documents),
       |chunks AS (
       |  $chunkRows)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashRadius
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dedup_embedding_cosine: near-dup by cosine within label blocks
  // ---------------------------------------------------------------------

  /** Blocked pairwise cosine: pairs only within the same `label`
    * (the blocking key — at scale this is the LSH bucket / IVF cell),
    * kept when cosine >= 0.4. */
  /** Unsorted in-block cosine pairs — shared by [[embeddingCosine]]
    * and [[semanticClean]]. */
  /** Canonical-side pool cap for the cosine pair join — label blocks
    * grow with the corpus (fixed label domain), so the uncapped
    * in-block self-join is quadratic (measured 2.57x at 2x data on the
    * r7 scale curve). Interpolated into BOTH engines' predicates. */
  private val MaxCosinePool = 1000L

  private def cosinePairsBody(spark: SparkSession, dir: String): DataFrame = {
    // codegen'd dot/norm (graft.functions.VectorExpressions): identical
    // accumulation order to the HOF form, ~10x faster on the pair loop
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // zero-norm vectors have no direction: cosine would be 0/0 = NaN,
    // and NaN compares GREATER than every threshold in both engines,
    // so an unfiltered zero vector would read as a near-dup of its
    // whole block. Exclude them from both pair sides.
    val e = embs(spark, dir).select(col("vec_id"), col("label"),
      col("embedding"), sqrt(expr("graft_norm2(embedding)")).as("nrm"))
      .filter(col("nrm") > 0.0)
    // the LOWER-ID (canonical/keeper) side draws from a bounded
    // deterministic md5 sample of ~MaxCosinePool per label once blocks
    // exceed the cap — below it (every test SF) ALL vectors pass and
    // results are byte-identical, the ann_knn_join / MaxPostingList
    // idiom. The higher-id side stays full, so every vector is still
    // tested against the pool and can be flagged as a dup; pair count
    // past the cap is corpus x MaxCosinePool = linear.
    val nl = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val pool = e.join(broadcast(nl), "label")
      .filter(h60Pool(col("vec_id"), col("n_label"), MaxCosinePool))
      .drop("n_label")
    pool.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        (expr("graft_dot(a.embedding, b.embedding)") /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  /** Shared pool CTEs for the cosine-pair oracles. */
  private val cosinePoolCtes: String =
    s"""nl AS (SELECT label, count(*) AS n_label FROM e GROUP BY label),
       |pool AS (
       |  SELECT e.* FROM e JOIN nl USING (label)
       |  WHERE ${h60PoolSql("vec_id", "n_label", MaxCosinePool)})""".stripMargin

  def embeddingCosine(spark: SparkSession, dir: String): DataFrame =
    cosinePairsBody(spark, dir).orderBy(col("vec_a"), col("vec_b"))

  val embeddingCosineSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings
       |  WHERE ${norm2Sql("embedding")} > 0),
       |$cosinePoolCtes
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       |       ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |FROM pool a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_semantic_clean: embedding-level dedup tied to the doc table
  // ---------------------------------------------------------------------

  /** Semantic dedup audited at the document level: a doc is a semantic
    * dup if a lower-id doc in its embedding block (label here; LSH
    * bucket / IVF cell at scale) has cosine >= 0.4 with it — the
    * keep-first policy of [[corpusClean]] applied to meaning instead
    * of bytes. The dup-id set (block-bounded pair join, never
    * all-pairs) left-joins the documents table on the shared id, and
    * the per-source rollup reports what a training mix would retain. */
  def semanticClean(spark: SparkSession, dir: String): DataFrame = {
    val dupIds = cosinePairsBody(spark, dir)
      .select(col("vec_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        Tables.countIf(col("is_dup")).as("n_semantic_dups"),
        Tables.countIf(col("is_dup").isNull).as("n_kept"),
        coalesce(sum(when(col("is_dup").isNull, col("n_chars"))), lit(0L))
          .as("kept_chars"))
      .orderBy(col("source"))
  }

  val semanticCleanSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings
       |  WHERE ${norm2Sql("embedding")} > 0),
       |$cosinePoolCtes,
       |dups AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM pool a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4)
       |SELECT d.source, count(*) AS n_docs,
       |       count(dup.doc_id) AS n_semantic_dups,
       |       count(*) - count(dup.doc_id) AS n_kept,
       |       CAST(COALESCE(sum(CASE WHEN dup.doc_id IS NULL THEN d.n_chars END), 0) AS BIGINT) AS kept_chars
       |FROM documents d LEFT JOIN dups dup ON d.doc_id = dup.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_cosine_lsh: label-free embedding near-dup via hyperplane LSH
  // ---------------------------------------------------------------------

  private[graft] val CosineLshBands = 4
  private[graft] val CosineLshBandPlanes = 6

  /** [[embeddingCosine]] without the label crutch: candidate blocks are
    * fixed random-hyperplane LSH buckets instead of the label column,
    * so near-dups are found ACROSS labels — cross-label duplicates are
    * exactly what label blocking misses, and at corpus scale a curated
    * label column doesn't exist anyway.
    *
    * OR-construction (banding), not a single AND table: a lone W-plane
    * hash catches a pair only when ALL W projections agree — at the
    * 0.4 verify floor each plane splits with p = theta/pi = 0.37, so a
    * single 8-plane table finds only 0.63^8 = 2.5% of qualifying
    * pairs, and even identical-direction-ish pairs at cosine 0.95 land
    * together just 43% of the time. Banding is the same fix MinHash-LSH
    * uses ([[minhashPairs]]): 4 independent bands of 6 planes each —
    * a pair is a candidate when ANY band agrees on all 6 signs, the
    * candidate union is deduped, then the exact cosine verify keeps
    * only true pairs (no false positives ever; the bands only decide
    * who gets VERIFIED). Catch probability 1-(1-(1-p)^6)^4: ~0.95 at
    * cosine 0.95, ~0.86 at 0.90, falling to ~0.23 at the 0.4 verify
    * floor — near-dup recall is concentrated where near-dups live, and
    * CosineLshRecallSpec MEASURES recall per cosine tier against the
    * exact all-pairs ground truth instead of trusting this formula.
    *
    * Scale shape: the banded index is 4 rows per vector (band, code);
    * candidate generation is 4 per-band equi-joins in one join on
    * (band, code) with the same bounded md5 pool per bucket
    * ([[h60Pool]], canonical side only), so pair count past the cap is
    * 4 x corpus x MaxCosinePool = linear. Band width W is the capacity
    * dial (per-bucket postings ~ corpus/2^W); band count B buys recall
    * at B x index cost, the standard LSH tradeoff. The verify joins
    * the deduped candidate LIST (small) back to raw embeddings by id —
    * two equi-joins that shuffle candidates, never the corpus.
    *
    * WHY THE REGISTERED DEFAULT STAYS W=6 (the scale-threshold
    * guidance): the 4x6 geometry is the RECALL-favoring setting — at
    * the 0.4 floor it verifies 12 true pairs at sf0.01 (222 at sf0.1)
    * where the scale-safe 4x8 finds 7 (95) — and its measured curve is
    * 3.01x wall @10x data on the salted universe vs 1.79x for W=8
    * (BENCH_SF1.md round 12; both oracle hash-checked at both SFs).
    * This ad-hoc query is a corpus-build AUDIT run at a bounded SF,
    * where recall is worth the superlinear constant; the DEPLOYMENT
    * path for a growing corpus is the curated layout, where geometry
    * is an explicit build-time dial FROZEN in the `_cos_geom` sidecar
    * ([[graft.sources.CuratedCorpusLayout.buildIncremental]]) — turn W
    * up there (per-bucket postings ~ corpus/2^W: at ~100x this SF,
    * W=8+; each +1 of W quarters-to-halves candidate volume for the
    * S-curve recall cost CosineLshRecallSpec measures). The W=8 point
    * is itself REGISTERED (`dedup_cosine_lsh_w8`) so both ends of the
    * dial stay oracle-pinned.
    *
    * SATURATION CAVEAT, measured (BENCH_SF1 round 15): once per-band
    * bucket postings exceed the md5 pool cap (~corpus/2^W >
    * [[MaxCosinePool]], i.e. ≥50× this SF at W=6), candidate
    * generation is silently TRUNCATED and W=6 returns FEWER true
    * pairs than W=8 while claiming the recall-favoring geometry — the
    * recall trade inverts exactly where the dial should turn. Run the
    * registered companion `dedup_cosine_pool_audit`
    * ([[cosinePoolAudit]]) next to this query: nonzero
    * n_saturated_buckets / n_evicted is the telltale that this pair
    * set is cap-bound and the W dial (or the curated layout's
    * auto-geometry) must take over. */
  def cosineLsh(spark: SparkSession, dir: String): DataFrame =
    cosineLshConfig(spark, dir, CosineLshBands, CosineLshBandPlanes)

  /** The (bands, planes-per-band) dial exposed ([[SimilarityQueries]]
    * lshTopKPlanes note): band width W re-bounds per-bucket postings
    * (~corpus/2^W) for a measured recall cost, band count B buys
    * recall back at B× index cost — the two knobs a 100× corpus turns
    * without touching the query shape. Bands draw disjoint plane sets
    * (band b uses planes b·W..b·W+W−1), so any (B, W) pair keeps the
    * OR-construction's independence. */
  def cosineLshConfig(spark: SparkSession, dir: String,
      nBands: Int, planesPerBand: Int): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val e = normedDirVecs(embs(spark, dir))
    // the banded index feeds THREE consumers (bucket sizing, the pool
    // side, the candidate side) — size it once instead of recomputing
    // the 24 plane projections per consumer (the prefix-jaccard
    // shared-index discipline; r9 bench showed the recompute tripling
    // the query's cost after the OR-construction rewrite)
    val bands = cosineBandsOf(e, nBands, planesPerBand).persist()
    bands.count()
    cosineLshFromBands(e, bands).orderBy(col("vec_a"), col("vec_b"))
  }

  /** (vec_id, embedding, nrm) with the zero-vector guard — the vector
    * frame every cosine-LSH consumer reads. */
  private[graft] def normedDirVecs(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_norm2(embedding)")).as("nrm"))
      .filter(col("nrm") > 0.0) // no direction, no cosine (NaN guard)

  /** (vec_id, band, code) sign-LSH band rows of a normed vector frame
    * — ONE definition shared by the online query and the incremental
    * curated layout's persisted `_cos_bands` index, so a banding
    * change cannot desynchronize the persisted state from the query
    * it serves (the [[minhashBandsOf]] discipline). */
  private[graft] def cosineBandsOf(e: DataFrame,
      nBands: Int = CosineLshBands,
      planesPerBand: Int = CosineLshBandPlanes): DataFrame = {
    val codes = (0 until nBands).map(b =>
      SimilarityQueries.bucketCodeFrom(b * planesPerBand, planesPerBand))
    e.select(col("vec_id"),
      posexplode(array(codes: _*)).as(Seq("band", "code")))
  }

  /** Candidate generation + exact-cosine verify over a GIVEN band
    * frame — [[cosineLshConfig]]'s tail, shared with the incremental
    * layout (which feeds persisted bands instead of a fresh
    * projection). Candidacy rule: the SMALLER id of a pair must
    * survive the per-bucket md5 pool cap for some shared bucket. */
  private[graft] def cosineLshFromBands(e: DataFrame,
      bands: DataFrame): DataFrame = {
    val nb = bands.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("n_bucket"))
    val pool = bands.join(broadcast(nb), Seq("band", "code"))
      .filter(h60Pool(col("vec_id"), col("n_bucket"), MaxCosinePool))
      .drop("n_bucket")
    val cand = pool.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cosineVerify(e, cand)
  }

  /** Exact-cosine verification of (vec_a, vec_b) candidates at the
    * 0.4 floor — id point lookups into the vector frame, never a
    * corpus shuffle. */
  private[graft] def cosineVerify(e: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (expr("graft_dot(emb_a, emb_b)") /
          (col("nrm_a") * col("nrm_b"))).as("cosine"))
      .filter(col("cosine") >= 0.4)

  /** INCREMENTAL maintenance of the verified cosine-LSH pair STATE —
    * the new full pair set over corpus ∪ delta, computed without
    * re-banding the corpus. Exactness argument, bucket by bucket
    * (candidacy = the smaller id survives the per-bucket md5 pool cap
    * for some shared bucket):
    *  - buckets the delta never touches keep their membership AND
    *    their n_bucket, so a stored pair survives iff it still has a
    *    pool-qualified witness among them — checked against the
    *    stored bands with the stored counts;
    *  - buckets the delta DOES touch get their candidates recomputed
    *    under the grown n_bucket (the pool cap can EVICT a corpus
    *    vector from a grown bucket, killing pairs the full rebuild
    *    would also drop — the one non-monotone effect, handled here
    *    exactly, never approximated).
    * The union of witness-surviving stored pairs and the re-verified
    * touched-bucket candidates is the full-rebuild pair set
    * (CuratedDeltaSpec pins it end to end through the curation gate).
    *
    * Scale shape: `deltaBands`/`ab` are delta-sized; the touched-
    * bucket member scan is bounded by the delta's bucket fan-out ×
    * bucket width — the share of the corpus it reads is the band-width
    * dial's job (W grows with the corpus, [[cosineLshConfig]] note);
    * witness checks are stored-pair-driven (4 rows per pair);
    * verification is id point lookups. `storedBands` must already
    * exclude the delta's own ids (replay safety is the caller's
    * anti-join, the [[deltaPairsCore]] discipline). */
  private[graft] def cosPairsState(lookupE: DataFrame, storedBands: DataFrame,
      deltaBands: DataFrame, storedPairs: DataFrame,
      deltaIds: DataFrame): DataFrame = {
    val dSet = broadcast(deltaIds.toDF("vec_id"))
    val ab = deltaBands.select(col("band"), col("code")).distinct()
      .localCheckpoint(true)
    // members + NEW counts of the delta-touched buckets
    val mAB = storedBands.join(broadcast(ab), Seq("band", "code"))
      .unionByName(deltaBands).localCheckpoint(true)
    val nbAB = mAB.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("n_bucket")).localCheckpoint(true)
    val poolAB = mAB.join(broadcast(nbAB), Seq("band", "code"))
      .filter(h60Pool(col("vec_id"), col("n_bucket"), MaxCosinePool))
      .drop("n_bucket")
    // only DELTA-involving candidates can be new: corpus bucket
    // membership is unchanged and the pool only SHRINKS as buckets
    // grow, so a corpus-corpus pair that was not a candidate before
    // cannot become one — and one that was is either stored (witness
    // path below) or failed the 0.4 verify on an unchanged cosine.
    val poolD = poolAB.join(dSet, Seq("vec_id"), "left_semi")
    val poolC = poolAB.join(dSet, Seq("vec_id"), "left_anti")
    val cand = poolD.as("a").join(mAB.as("b"),
        col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .unionByName(poolC.as("a").join(deltaBands.as("b"),
          col("a.band") === col("b.band") && col("a.code") === col("b.code") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")))
      .distinct()
    // stored pairs survive via a pool-qualified WITNESS under the
    // right counts — old counts for untouched buckets, new for
    // touched (a grown bucket can evict the canonical member).
    // Delta-member pairs are dropped from the stored side first so a
    // REPLAYED refresh reconverges (they regenerate through `cand`).
    val storedClean = storedPairs
      .join(broadcast(deltaIds.toDF("__did")),
        col("vec_a") === col("__did"), "left_anti")
      .join(broadcast(deltaIds.toDF("__did")),
        col("vec_b") === col("__did"), "left_anti")
      .localCheckpoint(true)
    // no anti-join against storedClean needed: every `cand` pair has a
    // delta member by construction (both legs keep a poolD/deltaBands
    // side), while storedClean has had ALL delta-member pairs removed —
    // the sets are disjoint, so the join could only add a scan of the
    // stored pair table per refresh. Re-verifying a regenerated pair is
    // exact either way (cosine is a pure function of the two vectors).
    val verifiedNew = cosineVerify(lookupE, cand).localCheckpoint(true)
    val w = storedClean.select(col("vec_a"), col("vec_b"))
      .join(storedBands.as("ba"), col("vec_a") === col("ba.vec_id"))
      .join(storedBands.as("bb"), col("vec_b") === col("bb.vec_id") &&
        col("ba.band") === col("bb.band") && col("ba.code") === col("bb.code"))
      .select(col("vec_a"), col("vec_b"),
        col("ba.band").as("band"), col("ba.code").as("code"))
      .localCheckpoint(true)
    val wb = w.select(col("band"), col("code")).distinct()
    val nbOld = storedBands.join(broadcast(wb), Seq("band", "code"))
      .groupBy(col("band"), col("code")).agg(count(lit(1)).as("n_old"))
    val nbMerged = nbOld
      .join(broadcast(nbAB.withColumnRenamed("n_bucket", "n_new")),
        Seq("band", "code"), "left")
      .select(col("band"), col("code"),
        coalesce(col("n_new"), col("n_old")).as("n_bucket"))
    val keepKeys = w.join(broadcast(nbMerged), Seq("band", "code"))
      .filter(h60Pool(col("vec_a"), col("n_bucket"), MaxCosinePool))
      .select(col("vec_a"), col("vec_b")).distinct()
    val kept = storedClean.join(keepKeys, Seq("vec_a", "vec_b"), "left_semi")
    kept.unionByName(verifiedNew)
  }

  /** INCREMENTAL maintenance of the contamination pair STATE — the
    * new (eval_doc, doc_id, n_eval, common ≥ half) set over corpus ∪
    * delta without re-running the corpus posting self-join. The df
    * posting cap is GLOBAL, so a delta has exactly three effects:
    *  - NEW pairs with ≥1 delta member: their shared shingles are by
    *    definition the delta docs' own shingles, so the posting join
    *    is driven by the delta's shingle set restricted to the
    *    still-cold (union df ≤ cap) subset;
    *  - shingles whose df CROSSES the cap stop counting toward every
    *    pair that shared them — common only DECREASES for stored
    *    pairs, so a pair below the 0.5 floor can never re-enter, and
    *    the affected stored pairs (both members in a crossing
    *    shingle's ≤cap posting list) are recomputed exactly from the
    *    two docs' persisted shingle sets under the union df;
    *  - everything else is untouched.
    *
    * Scale shape: crossing postings are ≤ cap rows per crossing
    * shingle; affected-pair recompute is pair-driven doc point lookups
    * into the doc_id-bucketed shingle index; the delta-shingle semi
    * joins scan the index column-pruned (the documented plain-parquet
    * trade). `corpusSized` must already exclude the delta's ids. */
  private[graft] def contamPairsState(corpusSized: DataFrame, shD: DataFrame,
      allBase: DataFrame, deltaIds: DataFrame,
      storedPairs: DataFrame): DataFrame = {
    val cap = MaxPostingList
    val half = (c: Column, n: Column) =>
      c.cast(DoubleType) / n.cast(DoubleType) >= 0.5
    val deltaCnt = shD.groupBy(col("s")).agg(count(lit(1)).as("d_cnt"))
      .localCheckpoint(true)
    // ONE materialized semi-join feeds the df totals, the new-pair
    // postings, and the crossing-shingle postings — three consumers,
    // one column-pruned scan of the corpus index (bounded: ≤ cap rows
    // per touched shingle by the cap's own definition... plus the
    // shingles ABOUT to cross, which is why the crossing set exists)
    val touchedPost = corpusSized
      .join(deltaCnt.select(col("s")), Seq("s"), "left_semi")
      .select(col("doc_id"), col("s"), col("n"))
      .localCheckpoint(true)
    val oldDf = touchedPost.groupBy(col("s")).agg(count(lit(1)).as("old_df"))
    val touched = deltaCnt.join(oldDf, Seq("s"), "left")
      .na.fill(0L, Seq("old_df"))
      .select(col("s"), col("old_df"),
        (col("old_df") + col("d_cnt")).as("new_df"))
      .localCheckpoint(true)
    val crossingS = touched
      .filter(col("old_df") <= cap && col("new_df") > cap).select(col("s"))
    val coldDeltaS = touched.filter(col("new_df") <= cap).select(col("s"))
    // new pairs: union postings over the delta's still-cold shingles,
    // kept only when a delta doc is on at least one side
    val isDeltaFlag = broadcast(deltaIds.toDF("doc_id")
      .withColumn("is_delta", lit(true)))
    val postD = touchedPost
      .unionByName(shD.select(col("doc_id"), col("s"), col("n")))
      .join(coldDeltaS, Seq("s"))
      .join(allBase.select(col("doc_id"), col("is_train")), "doc_id")
      .join(isDeltaFlag, Seq("doc_id"), "left")
      .na.fill(false, Seq("is_delta"))
      .localCheckpoint(true)
    val pairsNew = postD.as("e").filter(!col("e.is_train"))
      .join(postD.as("t").filter(col("t.is_train")), col("e.s") === col("t.s"))
      .filter(col("e.is_delta") || col("t.is_delta"))
      .groupBy(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"),
        col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .filter(half(col("common"), col("n_eval")))
    // stored pairs hit by a crossing shingle: recompute exactly
    val crossingPost = touchedPost.join(crossingS, Seq("s"))
    val affKeys = crossingPost.as("e").join(crossingPost.as("t"),
        col("e.s") === col("t.s"))
      .select(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"))
      .distinct()
      .join(storedPairs.select(col("eval_doc"), col("doc_id")),
        Seq("eval_doc", "doc_id"), "left_semi")
      .localCheckpoint(true)
    val affDocs = affKeys.select(col("eval_doc").as("doc_id"))
      .unionByName(affKeys.select(col("doc_id"))).distinct()
      .localCheckpoint(true)
    val affSh = corpusSized
      .join(broadcast(affDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val recomputed = {
      val keys = affKeys.select(col("eval_doc"), col("doc_id").as("train_doc"))
      val shared = keys
        .join(affSh.as("se"), col("eval_doc") === col("se.doc_id"))
        .join(affSh.as("st"), col("train_doc") === col("st.doc_id") &&
          col("se.s") === col("st.s"))
        .select(col("eval_doc"), col("train_doc"),
          col("se.n").as("n_eval"), col("se.s").as("s"))
      val sDf = corpusSized
        .join(shared.select(col("s")).distinct(), Seq("s"), "left_semi")
        .groupBy(col("s")).agg(count(lit(1)).as("c_df"))
        .join(deltaCnt, Seq("s"), "left")
        .na.fill(0L, Seq("d_cnt"))
        .filter(col("c_df") + col("d_cnt") <= cap).select(col("s"))
      shared.join(sDf, Seq("s"))
        .groupBy(col("eval_doc"), col("train_doc").as("doc_id"),
          col("n_eval"))
        .agg(count(lit(1)).as("common"))
        .filter(half(col("common"), col("n_eval")))
    }
    // replace: stored minus (delta-member keys ∪ affected keys),
    // plus the recomputed survivors, plus the new delta pairs
    val storedClean = storedPairs
      .join(broadcast(deltaIds.toDF("__did")),
        col("eval_doc") === col("__did"), "left_anti")
      .join(broadcast(deltaIds.toDF("__did")),
        col("doc_id") === col("__did"), "left_anti")
      .join(affKeys, Seq("eval_doc", "doc_id"), "left_anti")
    storedClean.unionByName(recomputed).unionByName(pairsNew)
  }

  /** SATURATION audit for the cosine-LSH md5 pool cap — the
    * `dedup_posting_audit` discipline applied to [[cosineLsh]]'s
    * candidate pool: the per-bucket cap ([[MaxCosinePool]]) keeps
    * candidate volume linear at any scale, but once per-band bucket
    * postings exceed it the CANONICAL side of candidate generation is
    * silently rate-sampled — pairs whose smaller id was evicted from
    * every shared bucket are never verified, so the "recall-favoring"
    * narrow band quietly stops being recall-favoring (BENCH_SF1 round
    * 15 measured W=6 returning FEWER true pairs than W=8 at the ≥50×
    * corpus for exactly this reason). A 100 TB operator needs to SEE
    * that, not infer it: one row per band with the saturated-bucket
    * count, the member mass sitting in saturated buckets, and the
    * evicted (truncation-source) share in ppm. All zeros ⇒ the
    * geometry is below its capacity and [[cosineLsh]]'s pair set is
    * cap-free; any nonzero row ⇒ turn the W dial (the curated layout's
    * [[graft.sources.CuratedCorpusLayout.autoPlanesPerBand]] turns it
    * automatically). Eviction is possible only in saturated buckets
    * (the pool predicate keeps everything when n_bucket ≤ cap), so
    * n_evicted > 0 exactly flags binding truncation.
    * CosinePoolAuditSpec plants a saturated bucket and pins the audit
    * against the pair set it truncates. */
  def cosinePoolAudit(spark: SparkSession, dir: String): DataFrame =
    cosinePoolAuditConfig(spark, dir, CosineLshBands, CosineLshBandPlanes)

  /** [[cosinePoolAudit]] at an explicit (bands, planes-per-band)
    * geometry — audits the same banding [[cosineLshConfig]] queries. */
  def cosinePoolAuditConfig(spark: SparkSession, dir: String,
      nBands: Int, planesPerBand: Int): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val e = normedDirVecs(embs(spark, dir))
    cosinePoolAuditFromBands(cosineBandsOf(e, nBands, planesPerBand))
  }

  /** The saturation rollup over a GIVEN (vec_id, band, code) band
    * frame — shared by the registered query (fresh banding of `dir`'s
    * embeddings) and
    * [[graft.sources.CuratedCorpusLayout.geometryAudit]], which feeds
    * the LIVE persisted `_cos_bands` state so a deployment can watch
    * its frozen W saturate as the corpus grows BETWEEN rebuilds (the
    * [[graft.streaming.GeometrySaturationMonitor]] signal). */
  private[graft] def cosinePoolAuditFromBands(bands: DataFrame)
      : DataFrame = {
    val nb = bands.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("n_bucket"))
    // bucket grain: membership + how much of it survives the pool
    val bkt = bands.join(broadcast(nb), Seq("band", "code"))
      .groupBy(col("band"), col("code"), col("n_bucket"))
      .agg(Tables.countIf(
        h60Pool(col("vec_id"), col("n_bucket"), MaxCosinePool)).as("n_pool"))
    bkt.groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("n_bucket")).as("n_members"),
        max(col("n_bucket")).as("max_bucket"),
        Tables.countIf(col("n_bucket") > MaxCosinePool)
          .as("n_saturated_buckets"),
        coalesce(sum(when(col("n_bucket") > MaxCosinePool,
          col("n_bucket"))), lit(0L)).as("n_sat_members"),
        sum(col("n_bucket") - col("n_pool")).as("n_evicted"))
      .withColumn("evicted_ppm",
        floor(col("n_evicted") * lit(1000000L) / col("n_members"))
          .cast(LongType))
      .orderBy(col("band"))
  }

  val cosinePoolAuditSql: String =
    cosinePoolAuditSqlConfig(CosineLshBands, CosineLshBandPlanes)

  def cosinePoolAuditSqlConfig(bands: Int, planesPerBand: Int): String = {
    val bandCtes = (0 until bands).map { b =>
      s"""SELECT vec_id, $b AS band,
         |         ${SimilarityQueries.bucketCodeFromSql("embedding",
        b * planesPerBand, planesPerBand)} AS code
         |  FROM e""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings
       |  WHERE ${norm2Sql("embedding")} > 0),
       |bands AS (
       |  $bandCtes),
       |nb AS (SELECT band, code, count(*) AS n_bucket
       |       FROM bands GROUP BY band, code),
       |bkt AS (
       |  SELECT band, code, n_bucket,
       |         count(CASE WHEN ${h60PoolSql("vec_id", "n_bucket",
        MaxCosinePool)} THEN 1 END) AS n_pool
       |  FROM bands JOIN nb USING (band, code)
       |  GROUP BY band, code, n_bucket)
       |SELECT band,
       |       count(*) AS n_buckets,
       |       CAST(sum(n_bucket) AS BIGINT) AS n_members,
       |       CAST(max(n_bucket) AS BIGINT) AS max_bucket,
       |       count(CASE WHEN n_bucket > $MaxCosinePool THEN 1 END)
       |         AS n_saturated_buckets,
       |       CAST(COALESCE(sum(CASE WHEN n_bucket > $MaxCosinePool
       |         THEN n_bucket END), 0) AS BIGINT) AS n_sat_members,
       |       CAST(sum(n_bucket - n_pool) AS BIGINT) AS n_evicted,
       |       CAST(floor(sum(n_bucket - n_pool) * 1000000
       |         / sum(n_bucket)) AS BIGINT) AS evicted_ppm
       |FROM bkt
       |GROUP BY band
       |ORDER BY band""".stripMargin
  }

  val cosineLshSql: String =
    cosineLshSqlConfig(CosineLshBands, CosineLshBandPlanes)

  def cosineLshSqlConfig(bands: Int, planesPerBand: Int): String = {
    val bandCtes = (0 until bands).map { b =>
      s"""SELECT vec_id, $b AS band,
         |         ${SimilarityQueries.bucketCodeFromSql("embedding",
        b * planesPerBand, planesPerBand)} AS code
         |  FROM e""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${norm2Sql("embedding")}) AS nrm
       |  FROM embeddings
       |  WHERE ${norm2Sql("embedding")} > 0),
       |bands AS (
       |  $bandCtes),
       |nb AS (SELECT band, code, count(*) AS n_bucket
       |       FROM bands GROUP BY band, code),
       |pool AS (
       |  SELECT bands.* FROM bands JOIN nb USING (band, code)
       |  WHERE ${h60PoolSql("vec_id", "n_bucket", MaxCosinePool)}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM pool a
       |  JOIN bands b ON a.band = b.band AND a.code = b.code
       |              AND a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       |       ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cosine
       |FROM cand c
       |JOIN e ea ON ea.vec_id = c.vec_a
       |JOIN e eb ON eb.vec_id = c.vec_b
       |WHERE ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dedup_corpus_clean: the end-to-end cleaning pipeline in one query
  // ---------------------------------------------------------------------

  /** The composite corpus-cleaning pass a training pipeline runs:
    * quality-gate (score >= 0.5, >= 16 tokens) -> exact dedup keeping
    * the lowest doc_id per content hash -> per-source audit rollup of
    * what survived and why the rest fell. One scan; the dedup step is
    * one shuffle on the 16-byte content hash (never the text); the
    * keep-marker joins back on doc_id. The per-stage attributions sum
    * to n_docs, so the output is its own audit trail. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val nUniq = size(array_distinct(toks)).cast(LongType)
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"), nTok.as("n_tokens"),
        (TextQueries.qualityScore(nTok, nUniq, TextQueries.stopwordCount(toks)) >= 0.5 &&
          nTok >= 16L).as("is_qual"))
    val keepIds = perDoc.filter(col("is_qual"))
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("is_kept"))
    perDoc.join(keepIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        Tables.countIf(!col("is_qual")).as("n_low_quality"),
        Tables.countIf(col("is_qual") && col("is_kept").isNull)
          .as("n_dupes_removed"),
        Tables.countIf(col("is_kept")).as("n_kept"),
        coalesce(sum(when(col("is_kept"), col("n_tokens"))), lit(0L))
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  val corpusCleanSql: String =
    s"""WITH perdoc AS (
       |  SELECT doc_id, source, text,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |         (${TextQueries.qualityScoreSql(
      "CAST(len(string_split(text,' ')) AS BIGINT)",
      "CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)",
      TextQueries.stopwordCountSql("string_split(text,' ')"))} ) >= 0.5
       |           AND len(string_split(text,' ')) >= 16 AS is_qual
       |  FROM documents),
       |keep AS (
       |  SELECT min(doc_id) AS doc_id, true AS is_kept
       |  FROM perdoc WHERE is_qual GROUP BY md5(text))
       |SELECT source,
       |       count(*) AS n_docs,
       |       count(CASE WHEN NOT is_qual THEN 1 END) AS n_low_quality,
       |       count(CASE WHEN is_qual AND is_kept IS NULL THEN 1 END) AS n_dupes_removed,
       |       count(CASE WHEN is_kept THEN 1 END) AS n_kept,
       |       COALESCE(CAST(sum(CASE WHEN is_kept THEN n_tokens END) AS BIGINT), 0) AS kept_tokens
       |FROM perdoc LEFT JOIN keep USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_contamination: train/eval n-gram decontamination
  // ---------------------------------------------------------------------

  /** Eval-set contamination scan: for every valid/test document (by the
    * same content-hash split as util_hash_split), find the training
    * document with the highest 3-gram CONTAINMENT (|A∩B| / |A_eval|) —
    * the GPT-3-style n-gram decontamination pass run before any eval is
    * trusted. Containment, not Jaccard: a short eval doc fully embedded
    * in a long train doc is contaminated even though Jaccard is tiny.
    *
    * Note the interplay with the content-hash split: EXACT duplicates
    * hash to the same split by construction, so cross-split leakage is
    * only ever near-duplicate-shaped — which is exactly what the
    * shingle index catches.
    *
    * Scale shape: identical to ngramJaccard — inverted shingle index,
    * posting-list cap, pair expansion only inside a posting list; the
    * eval side of the join is ~20% of the corpus. Tie-break on the
    * exact int64 (common DESC, train_doc ASC), never the derived
    * double. */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationImpl(spark, dir, bloomPrune = false)

  /** [[contamination]] with a Bloom runtime filter on the train side.
    *
    * The contamination join is asymmetric: the eval side is ~20% of
    * the corpus but the TRAIN side is everything — at 100 TB the
    * dominant cost is shuffling every train posting row to its shingle
    * reducer, even though only train shingles that also occur in some
    * eval document can ever produce a pair. This variant builds a
    * Bloom filter over the eval side's shingle keys
    * ([[graft.functions.SketchExpressions.buildLongBloom]] — one
    * fixed-size sketch per partition, OR-merged by an executor-side
    * treeReduce; the first build's driver star-collect measured +1.0s
    * at sf1.0 and was removed, see BENCH_SF1.md) and
    * probes it in a Filter UNDER the train side of the join
    * (map-side, codegen'd), so the shuffle carries only might-match
    * rows. Bloom false positives are harmless (the equi-join above is
    * exact) and false negatives are impossible, so the output is
    * bit-identical to [[contamination]] — same DuckDB oracle, and
    * BloomPruneSpec asserts result equality, zero false negatives,
    * and the filter-under-join plan shape.
    *
    * This is the hand-rolled twin of Spark's runtime row-level
    * filtering (spark.sql.optimizer.runtime.bloomFilter.*), which
    * only injects when a selective filter exists on the CREATION side
    * and the join is large enough — here the "filter" is the split
    * predicate, invisible to that heuristic, so we place the bloom
    * deliberately. */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame =
    contaminationImpl(spark, dir, bloomPrune = true)

  private def contaminationImpl(spark: SparkSession, dir: String,
      bloomPrune: Boolean): DataFrame = {
    import graft.functions.TextFunctions.h60
    val sh = shingles(spark, dir).persist()
    sh.count()
    val bucket = pmod(h60(col("text")), lit(100L))
    val splits = docs(spark, dir).select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
    val cold = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxPostingList)
      .select(col("s"))
    // both sides of the containment self-join read the same posting
    // list; persist it once instead of re-running the sizes aggregate
    // and both joins per side (count() serializes the cache build, as
    // in ngramJaccard). Join ORDER (r19): splits first, cold LAST —
    // the splits join runs on the doc_id partitioning the sizes window
    // already established (no exchange on the posting side), and the
    // cached frame comes out hash-partitioned by s, so the e×t
    // self-join below reads both sides co-partitioned with NO shuffle
    // of the posting table (the doc→s→doc order paid one more
    // posting-grain exchange and left the cache doc_id-keyed). Inner
    // equi-joins commute: same rows either way.
    val postings = withSizes(sh).join(splits, "doc_id").join(cold, "s")
      .persist()
    postings.count()
    // the raw shingle cache only feeds `cold` and `postings`; once the
    // capped posting list is materialized, drop it so two copies of
    // the index never sit in memory through the heavy self-join
    sh.unpersist(false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("eval_doc"))
      .orderBy(col("common").desc, col("train_doc"))
    val trainSide = {
      val base = postings.as("t").filter(col("t.split") === "train")
      if (!bloomPrune) base
      else {
        import graft.functions.SketchExpressions
        SketchExpressions.ensureRegistered(spark)
        val evalKeys = postings.filter(col("split") =!= "train").select("s")
        // size the sketch by the DISTINCT-key estimate, not the posting
        // row count: rows overcount shared shingles (oversizing the
        // plan-embedded literal every task deserializes) and the exact
        // count was a dedicated job. approx_count_distinct over the
        // cached postings is one cheap pass; fpp only degrades
        // gracefully if the estimate is low, and false negatives stay
        // impossible regardless.
        val n = math.max(evalKeys
          .agg(approx_count_distinct(col("s")).as("nd"))
          .head().getLong(0), 1024L)
        val bloomBytes = SketchExpressions.buildLongBloom(
          evalKeys, "s", n, 0.03)
        base.filter(call_function("graft_bloom_mc",
          lit(bloomBytes), col("t.s")))
      }
    }
    postings.as("e").filter(col("e.split") =!= "train")
      .join(trainSide, col("e.s") === col("t.s"))
      .groupBy(col("e.split").as("split"), col("e.doc_id").as("eval_doc"),
        col("t.doc_id").as("train_doc"), col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        col("common").cast(DoubleType) / col("n_eval").cast(DoubleType))
      .filter(col("containment") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("split"), col("eval_doc"), col("train_doc"),
        col("common"), col("n_eval"), col("containment"))
      .orderBy(col("split"), col("eval_doc"))
  }

  val contaminationSql: String = {
    import graft.functions.TextFunctions.h60Sql
    s"""WITH sh AS ($shinglesCte),
       |splits AS (
       |  SELECT doc_id, CASE WHEN ${h60Sql("text")} % 100 < 80 THEN 'train'
       |                      WHEN ${h60Sql("text")} % 100 < 90 THEN 'valid'
       |                      ELSE 'test' END AS split
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxPostingList),
       |p AS (
       |  SELECT sh.doc_id, sh.s, splits.split, sizes.n
       |  FROM sh JOIN cold USING (s) JOIN splits USING (doc_id)
       |  JOIN sizes USING (doc_id)),
       |common AS (
       |  SELECT e.split AS split, e.doc_id AS eval_doc, t.doc_id AS train_doc,
       |         e.n AS n_eval, count(*) AS common
       |  FROM p e JOIN p t ON e.s = t.s
       |  WHERE e.split <> 'train' AND t.split = 'train'
       |  GROUP BY 1, 2, 3, 4),
       |scored AS (
       |  SELECT split, eval_doc, train_doc, common, n_eval,
       |         CAST(common AS DOUBLE) / CAST(n_eval AS DOUBLE) AS containment,
       |         row_number() OVER (PARTITION BY eval_doc
       |                            ORDER BY common DESC, train_doc) AS rn
       |  FROM common
       |  WHERE CAST(common AS DOUBLE) / CAST(n_eval AS DOUBLE) >= 0.5)
       |SELECT split, eval_doc, train_doc, common, n_eval, containment
       |FROM scored WHERE rn = 1
       |ORDER BY split, eval_doc""".stripMargin
  }

  // ---------------------------------------------------------------------
  // pipeline_curate: the full curation chain with attrition accounting
  // ---------------------------------------------------------------------

  /** Packing bin — [[TextQueries.packSequences]]' B, restated here so
    * the composite's pack row uses the suite's own sequence length. */
  private val CurateBin = 512L

  /** Mix-rate fixed-point scale (micro). */
  private val MixScale = 1000000L

  /** The Dolma/RefinedWeb-shaped END-TO-END curation pass as ONE
    * query: split → quality gate → exact dedup → banded-MinHash
    * near-dup → semantic (cosine-LSH) dedup → eval decontamination →
    * τ=0.5 temperature mix-down → sequence packing, each stage
    * applied to the previous stage's survivors, with a per-stage
    * attrition row (n_in, n_dropped, n_out, tokens_out) whose chain
    * reconciles exactly (n_out(k) = n_in(k+1); PipelineCurateSpec also
    * reconciles stage drops against the standalone queries the stages
    * come from).
    *
    * Stage conventions (each the standalone query's own):
    *  - split/quality/exact: [[contamination]]'s 80/20 content-hash
    *    split, [[corpusClean]]'s gate and keep-min-per-md5;
    *  - near-dup / semantic: a survivor is dropped when a VERIFIED
    *    pair ([[minhashPairs]] jaccard ≥ 0.3 / [[cosineLsh]] cosine ≥
    *    0.4) links it to a smaller-id doc that survived the previous
    *    stage — pair-local keep-first, not transitive closure (the
    *    [[clusters]] query exists for closure; pair-local never drops
    *    a doc without a direct verified duplicate, and two docs kept
    *    together are never themselves a verified pair). Pairs are
    *    generated ONCE on the full corpus and gated to survivors —
    *    at 100 TB the banding passes are the expensive stages, and
    *    restriction to survivors commutes with candidate generation
    *    (signatures and band keys are per-doc; verification is
    *    pair-local), so the one-pass form is exact, not an
    *    approximation. Docs without an embedding pass the semantic
    *    stage untouched.
    *  - decontam: drop a TRAIN survivor when any eval/valid doc's
    *    3-gram containment in it reaches [[contamination]]'s 0.5 —
    *    the flipped (train-side) form of the registered eval scan.
    *  - mix: [[ProfileQueries.temperatureMix]]'s τ=0.5 weights over
    *    SURVIVOR token counts become per-source keep rates
    *    (rate_s = oversample_s / max oversample — the most
    *    under-represented source keeps everything), applied by
    *    deterministic content hash. Downsample-only: temperature
    *    mixing without replication.
    *  - pack: survivor tokens greedily packed per source into
    *    [[CurateBin]]-token sequences (the [[TextQueries.packSequences]]
    *    prefix-sum rule); the row reports sequences out.
    *
    * Scale shape: stage gating is semi/anti joins on doc_id (one
    * shuffle each, all map-side combinable); the heavy passes are the
    * already-banded pair generators and the capped contamination
    * self-join, each reused verbatim from its standalone query. The
    * per-stage survivor frames are eagerly checkpointed — exactly the
    * stage materialization a production curation run persists anyway. */
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame =
    curateChain(spark, dir)._2

  /** The full curation chain, returning BOTH the survivor frame
    * (doc_id, source, h, is_train, mix_u, n_tokens, is_qual,
    * rate_micro — stage-7 survivors, eagerly checkpointed) and the
    * attrition table the registered query publishes. The persisted
    * artifact ([[graft.sources.CuratedCorpusLayout]]) builds from the
    * SAME chain, so the written corpus can never drift from the
    * attrition manifest that describes it. */
  private[graft] def curateChain(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val base = curateBaseOf(docs(spark, dir)).localCheckpoint(true)
    // decontamination thunk: the contamination query's capped posting
    // join, train side keyed by the drop decision instead of the eval
    // report; `post` is released with the returned attrition frame
    var post: DataFrame = null
    val contamThunk = () => {
      val sh = shingles(spark, dir).persist()
      sh.count()
      val (pairs, p) = contamPairsFrom(base, sh)
      sh.unpersist(false)
      post = p
      pairs.select(col("doc_id")).distinct()
    }
    // Stage isolation measured, not assumed: sharing ONE persisted
    // shingle pass with decontamination (postings materialized first,
    // minhashPairsFrom after) showed no benefit at sf0.1 (9.8 s vs
    // 8.9-10.5 s across runs — inside the host's window variance, see
    // BENCH_SF1.md round 10) while forcing four caches to co-reside
    // (capped postings + raw shingles + signatures + sized index).
    // Stages therefore build their own passes and release as they go —
    // the gate invokes each thunk at its stage position so cache
    // lifetimes sequence exactly as they always have.
    val (s7, attrition) = curateGate(base,
      () => minhashPairsBody(spark, dir),
      () => cosineLsh(spark, dir),
      contamThunk)
    (s7, Tables.released(attrition, post))
  }

  /** The per-doc BASE frame of the curation chain — every pure
    * per-doc value the stages gate on (content hash, 80/20 split, mix
    * hash, token count, quality verdict). ONE definition shared by the
    * online chain and [[graft.sources.CuratedCorpusLayout]]'s
    * persisted `_base` state, so an incremental refresh can never
    * compute a different split or quality verdict than the chain. */
  private[graft] def curateBaseOf(d: DataFrame): DataFrame = {
    val nTok = size(col("toks")).cast(LongType)
    d.select(col("doc_id"), col("source"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"),
        md5(col("text")).as("h"),
        (pmod(h60(col("text")), lit(100L)) < 80).as("is_train"),
        pmod(h60(concat(col("text"), lit(":mix"))), lit(MixScale)).as("mix_u"))
      .select(col("doc_id"), col("source"), col("h"), col("is_train"),
        col("mix_u"), nTok.as("n_tokens"),
        (TextQueries.qualityScore(nTok,
          size(array_distinct(col("toks"))).cast(LongType),
          TextQueries.stopwordCount(col("toks"))) >= 0.5 &&
          nTok >= 16L).as("is_qual"))
  }

  /** Capped-posting contamination PAIRS over a raw shingle frame:
    * (eval_doc, doc_id, n_eval, common) with containment ≥ 0.5 — the
    * chain's decontam stage and the incremental layout's `_ct_pairs`
    * state share this one definition. Returns the pairs plus the
    * persisted posting frame the caller must release (it feeds both
    * legs of the e×t self-join). */
  private[graft] def contamPairsFrom(base: DataFrame,
      sh: DataFrame): (DataFrame, DataFrame) = {
    val cold = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxPostingList).select(col("s"))
    // split join first, cold join LAST (see contaminationImpl): cache
    // comes out s-keyed, e×t self-join exchange-free
    val post = withSizes(sh)
      .join(base.select(col("doc_id"), col("is_train")), "doc_id")
      .join(cold, "s")
      .persist()
    post.count()
    val pairs = post.as("e").filter(!col("e.is_train"))
      .join(post.as("t").filter(col("t.is_train")), col("e.s") === col("t.s"))
      .groupBy(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"),
        col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast(DoubleType) / col("n_eval").cast(DoubleType)
        >= 0.5)
    (pairs, post)
  }

  /** The stage-gating + attrition ALGEBRA of the curation chain over
    * GIVEN pair/drop frames — the part of `pipeline_curate` that is
    * pure doc_id-grain set algebra once the heavy passes (MinHash
    * pairs, cosine-LSH pairs, contamination pairs) exist. The online
    * chain passes thunks that compute them from the raw corpus; the
    * incremental layout passes reads of its persisted state tables —
    * byte-equality of the two is then a statement about the PAIR
    * frames alone, which is exactly what the delta maintenance proves.
    * Thunks are invoked at their stage position so the online chain's
    * cache lifetimes sequence exactly as before. */
  private[graft] def curateGate(base: DataFrame,
      mhPairs: () => DataFrame, cosPairs: () => DataFrame,
      contamDrop: () => DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val s1 = base.filter(col("is_train"))
    val s2 = s1.filter(col("is_qual"))
    val keepExact = s2.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s3 = s2.join(keepExact, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val mhDrop = mhPairs()
      .join(s3.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .select(col("doc_b").as("doc_id")).distinct()
    val s4 = s3.join(mhDrop, Seq("doc_id"), "left_anti").localCheckpoint(true)
    val cosDrop = cosPairs()
      .join(s4.select(col("doc_id").as("vec_a")), Seq("vec_a"), "left_semi")
      .select(col("vec_b").as("doc_id")).distinct()
    val s5 = s4.join(cosDrop, Seq("doc_id"), "left_anti").localCheckpoint(true)
    val s6 = s5.join(contamDrop(), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // temperature mix-down: τ=0.5 weights over survivor tokens
    val mixSrc = s6.groupBy(col("source")).agg(sum(col("n_tokens")).as("nt"))
      .select(col("source"),
        (round(sqrt(col("nt").cast(DoubleType)) * lit(1e6)).cast(LongType)
          .cast(DoubleType) / col("nt").cast(DoubleType)).as("o"))
    val omax = mixSrc.agg(max(col("o")).as("omax"))
    val rates = mixSrc.crossJoin(broadcast(omax)) // 1-row scalar
      .select(col("source"),
        round(col("o") / col("omax") * MixScale).cast(LongType)
          .as("rate_micro"))
    val s7 = s6.join(broadcast(rates), "source")
      .filter(col("mix_u") < col("rate_micro"))
      .localCheckpoint(true)
    val lw = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = s7
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(lw), lit(0L)))
      .select(col("source"), expr(s"cum_before div $CurateBin").as("seq_id"))
      .distinct()
      .agg(count(lit(1)).as("n_seq"))
    // attrition stats: ONE union-by-stage aggregate over the stage
    // frames (s3..s7 are checkpointed; base, s1 and s2 are lazy, so
    // this union re-reads base for them), pivoted to a single row —
    // the former shape ran 8 separate scalar aggregates and crossJoined their
    // broadcasts, paying ~9 extra scheduler/AQE stage round-trips per
    // run for the same 16 numbers. count/sum per stage are unchanged
    // (same rows, same int64 sums); a stage with zero survivors simply
    // produces no group, so each pivot coalesces to the same 0 the old
    // empty-frame aggregate returned.
    val perStage = Seq(base, s1, s2, s3, s4, s5, s6, s7).zipWithIndex
      .map { case (df, i) =>
        df.select(lit(i.toLong).as("stage_i"), col("n_tokens")) }
      .reduce(_ unionByName _)
      .groupBy(col("stage_i"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("t"))
    val exprs = (0 to 7).flatMap(i => Seq(
      coalesce(max(when(col("stage_i") === i, col("n"))), lit(0L))
        .as(s"n$i"),
      coalesce(max(when(col("stage_i") === i, col("t"))), lit(0L))
        .as(s"t$i")))
    val all = perStage
      .agg(exprs.head, exprs.tail: _*)
      .crossJoin(broadcast(packed))
      // 1 row; eager-checkpoint so the 8 stage-row projections below
      // scan a tiny RDD instead of re-planning the union subtree 8x
      .localCheckpoint(true)
    val stages = Seq((1L, "split"), (2L, "quality"), (3L, "exact"),
      (4L, "near_dup"), (5L, "semantic"), (6L, "decontam"), (7L, "mix"))
    val rows = stages.map { case (i, nm) =>
      all.select(lit(i).as("stage"), lit(nm).as("stage_name"),
        col(s"n${i - 1}").as("n_in"),
        (col(s"n${i - 1}") - col(s"n$i")).as("n_dropped"),
        col(s"n$i").as("n_out"), col(s"t$i").as("tokens_out"))
    } :+ all.select(lit(8L).as("stage"), lit("pack").as("stage_name"),
      col("n7").as("n_in"), lit(0L).as("n_dropped"),
      col("n_seq").as("n_out"), col("t7").as("tokens_out"))
    (s7, rows.reduce(_ unionByName _).orderBy(col("stage")))
  }

  val pipelineCurateSql: String = {
    import graft.functions.TextFunctions.h60Sql
    val nTokSql = "CAST(len(string_split(text,' ')) AS BIGINT)"
    val qualSql = TextQueries.qualityScoreSql(nTokSql,
      "CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)",
      TextQueries.stopwordCountSql("string_split(text,' ')"))
    val statCtes = (0 to 7).map(i =>
      s"""c$i AS (SELECT count(*) AS n$i,
         |  COALESCE(CAST(sum(n_tokens) AS BIGINT), 0) AS t$i FROM s$i)"""
        .stripMargin.replaceAll("\n\\s*", " ")).mkString(",\n")
    val stageRows = Seq((1, "split"), (2, "quality"), (3, "exact"),
      (4, "near_dup"), (5, "semantic"), (6, "decontam"), (7, "mix"))
      .map { case (i, nm) =>
        s"""SELECT CAST($i AS BIGINT) AS stage, '$nm' AS stage_name,
           |       n${i - 1} AS n_in, n${i - 1} - n$i AS n_dropped,
           |       n$i AS n_out, t$i AS tokens_out
           |FROM c${i - 1}, c$i""".stripMargin
      }.mkString("\nUNION ALL\n")
    s"""WITH s0 AS (
       |  SELECT doc_id, source, md5(text) AS h,
       |         $nTokSql AS n_tokens,
       |         ($qualSql) >= 0.5 AND $nTokSql >= 16 AS is_qual,
       |         ${h60Sql("text")} % 100 < 80 AS is_train,
       |         ${h60Sql("text || ':mix'")} % $MixScale AS mix_u
       |  FROM documents),
       |s1 AS (SELECT * FROM s0 WHERE is_train),
       |s2 AS (SELECT * FROM s1 WHERE is_qual),
       |keep_exact AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
       |s3 AS (SELECT * FROM s2
       |       WHERE doc_id IN (SELECT doc_id FROM keep_exact)),
       |mpairs AS ($minhashPairsSql),
       |mh_drop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM mpairs
       |  WHERE doc_a IN (SELECT doc_id FROM s3)),
       |s4 AS (SELECT * FROM s3
       |       WHERE doc_id NOT IN (SELECT doc_id FROM mh_drop)),
       |cpairs AS ($cosineLshSql),
       |cos_drop AS (
       |  SELECT DISTINCT vec_b AS doc_id FROM cpairs
       |  WHERE vec_a IN (SELECT doc_id FROM s4)),
       |s5 AS (SELECT * FROM s4
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cos_drop)),
       |csh AS ($shinglesCte),
       |csizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
       |ccold AS (SELECT s FROM csh GROUP BY s
       |          HAVING count(*) <= $MaxPostingList),
       |cpost AS (
       |  SELECT csh.doc_id, csh.s, csizes.n, s0.is_train
       |  FROM csh JOIN ccold USING (s) JOIN csizes USING (doc_id)
       |  JOIN s0 USING (doc_id)),
       |contam_pairs AS (
       |  SELECT t.doc_id, e.n AS n_eval, count(*) AS common
       |  FROM cpost e JOIN cpost t ON e.s = t.s
       |  WHERE NOT e.is_train AND t.is_train
       |  GROUP BY e.doc_id, t.doc_id, e.n),
       |contam_drop AS (
       |  SELECT DISTINCT doc_id FROM contam_pairs
       |  WHERE CAST(common AS DOUBLE) / CAST(n_eval AS DOUBLE) >= 0.5),
       |s6 AS (SELECT * FROM s5
       |       WHERE doc_id NOT IN (SELECT doc_id FROM contam_drop)),
       |mix_src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS nt
       |            FROM s6 GROUP BY 1),
       |mix_o AS (
       |  SELECT source,
       |         CAST(CAST(round(sqrt(CAST(nt AS DOUBLE)) * 1e6) AS BIGINT)
       |           AS DOUBLE) / CAST(nt AS DOUBLE) AS o
       |  FROM mix_src),
       |mix_rate AS (
       |  SELECT source,
       |         CAST(round(o / (SELECT max(o) FROM mix_o) * $MixScale)
       |           AS BIGINT) AS rate_micro
       |  FROM mix_o),
       |s7 AS (SELECT s6.* FROM s6 JOIN mix_rate USING (source)
       |       WHERE mix_u < rate_micro),
       |packed AS (
       |  SELECT count(*) AS n_seq FROM (
       |    SELECT DISTINCT source, cum_before // $CurateBin AS seq_id FROM (
       |      SELECT source,
       |             COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY source
       |               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |               AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
       |      FROM s7))),
       |$statCtes
       |$stageRows
       |UNION ALL
       |SELECT CAST(8 AS BIGINT) AS stage, 'pack' AS stage_name,
       |       n7 AS n_in, CAST(0 AS BIGINT) AS n_dropped,
       |       CAST(n_seq AS BIGINT) AS n_out, t7 AS tokens_out
       |FROM c7, packed
       |ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dedup_delta_pairs / dedup_delta_accounting: incremental dedup at ingest
  // ---------------------------------------------------------------------

  /** The delta split: every doc with doc_id % 5 == 3 plays "today's
    * crawl snapshot" (~20%), the rest the already-indexed corpus.
    * Interpolated into BOTH engines. */
  private[graft] val DeltaMod = 5L
  private[graft] val DeltaRes = 3L
  private[graft] val DeltaPred: Column = col("doc_id") % DeltaMod === DeltaRes
  /** [[DeltaPred]] at the VECTOR grain — vec_id == doc_id by the
    * snapshot convention, kept as one definition so the doc and vector
    * halves of a snapshot can never drift onto different splits. */
  private[graft] val DeltaVecPred: Column =
    col("vec_id") % DeltaMod === DeltaRes
  private val deltaPredSql: String = s"doc_id % $DeltaMod = $DeltaRes"

  /** Verified near-dup pairs TOUCHING a delta of new documents — the
    * incremental shape a continuous-crawl corpus runs DAILY instead of
    * re-deduping 100 TB per snapshot: candidate generation starts from
    * the DELTA's band rows only (delta × (corpus ∪ delta) equi-join on
    * the band key — never corpus × corpus), and exact-Jaccard
    * verification runs through the union shingle index on the
    * candidate grain. Because a doc's shingles/signature/bands depend
    * on nothing but its own text, and band-collision candidacy is
    * symmetric per pair, the result equals the full-corpus
    * [[minhashPairs]] restricted to pairs with ≥1 delta member —
    * DedupIndexLayoutSpec asserts byte-equality in both directions.
    *
    * `corpusSized` (doc_id, s, n) / `corpusBands` (doc_id, band_id,
    * key) are computed on the fly by the registered query and read
    * from the persisted bucketed tables by
    * [[graft.sources.DedupIndexLayout.dedupDelta]]. Both are
    * anti-joined against the delta's ids first, so a REPLAYED delta
    * (docs already appended to the index) dedups identically instead
    * of double-counting its own shingle rows — the idempotence the
    * streaming twin leans on. The delta is request-sized relative to
    * the corpus, so the id anti-joins broadcast. */
  private[graft] def deltaPairsCore(corpusSized: DataFrame,
      corpusBands: DataFrame, deltaDocs: DataFrame): DataFrame = {
    // tiny and consumed by THREE anti-joins (bands + both verify
    // legs) — pin it once rather than re-deriving per consumer
    val ids = deltaDocs.select(col("doc_id")).distinct()
      .localCheckpoint(true)
    // eager pin: the delta shingle pass feeds bands + both verify legs;
    // localCheckpoint (not persist) so micro-batch callers leak no
    // cache entries across batches
    val shD = withSizes(shinglesOf(deltaDocs)).localCheckpoint(true)
    val bD = minhashBandsOf(minhashSigFrom(shD.select(col("doc_id"), col("s"))))
      .localCheckpoint(true)
    deltaPairsCoreFrom(corpusSized, corpusBands, ids, shD, bD)
  }

  /** [[deltaPairsCore]] with the delta's per-doc passes PRECOMPUTED —
    * the seam the composed snapshot path (gate check + curated
    * refresh) uses to pay the delta's shingle/sign work exactly once
    * per snapshot instead of once per consumer. `ids` is the delta's
    * distinct doc_ids, `shD` its sized shingles, `bD` its band rows —
    * all materialized (localCheckpoint) or deterministically
    * recomputable from a checkpointed doc frame (the caller's
    * cache-vs-lazy call — [[graft.sources.IngestGate.deltaFrames]]). */
  private[graft] def deltaPairsCoreFrom(corpusSized: DataFrame,
      corpusBands: DataFrame, ids: DataFrame, shD: DataFrame,
      bD: DataFrame): DataFrame =
    deltaVerifyFrom(deltaCandidatesFrom(corpusBands, ids, bD),
      corpusSized, ids, shD)

  /** Candidate-generation half of [[deltaPairsCoreFrom]]: the
    * (doc_a, doc_b) pairs sharing ≥1 band cell with the delta, delta ×
    * (corpus ∪ delta). Split out so a persisted-index caller
    * ([[graft.sources.DedupIndexLayout.dedupDeltaFrom]]) can
    * materialize the candidates FIRST and prune the verification's
    * corpus-shingle read to exactly the candidate doc_ids — the
    * band-key equi-join only ever matches corpus rows whose `key`
    * appears in `bD`, so a corpus side pre-filtered to the delta's
    * band keys is byte-equal by construction. */
  private[graft] def deltaCandidatesFrom(corpusBands: DataFrame,
      ids: DataFrame, bD: DataFrame): DataFrame = {
    val bAll = corpusBands.join(broadcast(ids), Seq("doc_id"), "left_anti")
      .unionByName(bD)
    bD.as("a").join(bAll.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** Verification half of [[deltaPairsCoreFrom]]: exact Jaccard over
    * the union shingle index restricted (by the join itself) to the
    * candidate docs. `corpusSized` may be pre-pruned to any superset
    * of the candidates' corpus doc_ids — verification reads only rows
    * whose doc_id appears in `cand`, so the result is unchanged. */
  private[graft] def deltaVerifyFrom(cand: DataFrame,
      corpusSized: DataFrame, ids: DataFrame, shD: DataFrame): DataFrame = {
    val shAll = corpusSized.join(broadcast(ids), Seq("doc_id"), "left_anti")
      .unionByName(shD)
    verifyJaccardSized(cand, shAll).filter(col("jaccard") >= 0.3)
  }

  /** Registered incremental-dedup query: the [[DeltaPred]] split run
    * through [[deltaPairsCore]], tagged with where each pair lands
    * (new-vs-corpus or new-vs-new). Oracle: the FULL-corpus pairs CTE
    * restricted to delta members — the equality that makes incremental
    * dedup trustworthy. */
  def deltaPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val shC = withSizes(shinglesOf(d.filter(!DeltaPred))).persist()
    shC.count()
    val bC = minhashBandsOf(minhashSigFrom(shC.select(col("doc_id"), col("s"))))
    Tables.released(
      deltaPairsCore(shC, bC, d.filter(DeltaPred))
        .withColumn("pair_kind",
          when(col("doc_a") % DeltaMod === DeltaRes &&
              col("doc_b") % DeltaMod === DeltaRes, "delta_delta")
            .otherwise("delta_corpus"))
        .orderBy(col("doc_a"), col("doc_b")),
      shC)
  }

  val deltaPairsSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard,
       |       CASE WHEN doc_a % $DeltaMod = $DeltaRes
       |              AND doc_b % $DeltaMod = $DeltaRes THEN 'delta_delta'
       |            ELSE 'delta_corpus' END AS pair_kind
       |FROM pairs
       |WHERE doc_a % $DeltaMod = $DeltaRes OR doc_b % $DeltaMod = $DeltaRes
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The table an ingest operator actually reads: per source of the
    * NEW docs, how much of today's snapshot is already in the corpus
    * (n_dup_vs_corpus), self-duplicated within the snapshot
    * (n_dup_in_delta), and genuinely new (n_unique_new) — the
    * keep/drop decision for the append. Rollup over the delta-pair
    * grain; the heavy work is [[deltaPairsCore]] unchanged. */
  def deltaAccounting(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val shC = withSizes(shinglesOf(d.filter(!DeltaPred))).persist()
    shC.count()
    val bC = minhashBandsOf(minhashSigFrom(shC.select(col("doc_id"), col("s"))))
    val pairs = deltaPairsCore(shC, bC, d.filter(DeltaPred))
    val hits = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
      .unionByName(
        pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
      .filter(col("doc_id") % DeltaMod === DeltaRes)
      .groupBy(col("doc_id"))
      .agg(
        max((col("other") % DeltaMod =!= DeltaRes).cast(LongType))
          .as("hit_corpus"),
        max((col("other") % DeltaMod === DeltaRes).cast(LongType))
          .as("hit_delta"))
    Tables.released(
      d.filter(DeltaPred).select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_new_docs"),
          coalesce(sum(col("hit_corpus")), lit(0L)).as("n_dup_vs_corpus"),
          coalesce(sum(col("hit_delta")), lit(0L)).as("n_dup_in_delta"),
          coalesce(sum(greatest(col("hit_corpus"), col("hit_delta"))), lit(0L))
            .as("n_dup_any"))
        .select(col("source"), col("n_new_docs"), col("n_dup_vs_corpus"),
          col("n_dup_in_delta"), col("n_dup_any"),
          (col("n_new_docs") - col("n_dup_any")).as("n_unique_new"),
          floor(col("n_dup_any") * lit(10000L) / col("n_new_docs"))
            .cast(LongType).as("dup_share_bp"))
        .orderBy(col("source")),
      shC)
  }

  /** Eval decontamination AT INGEST — the fourth gate verdict next to
    * the three duplicate checks: a NEW train-side doc that CONTAINS a
    * held-out eval doc (3-gram containment ≥ [[contamination]]'s 0.5,
    * same capped-posting join, same content-hash split) must be
    * flagged before it enters the corpus — afterwards the leak is in
    * the training set and `dedup_contamination` only reports it. Per
    * source of the delta's train-side docs: how many arrived
    * contaminated, in bp.
    *
    * Conventions are the contamination family's own: eval = the
    * corpus's non-train 20% (content-hash split), the posting cap over
    * the union df (a delta can push a shingle past the cap, exactly as
    * the curated refresh handles), delta-vs-CORPUS only (within-delta
    * leakage belongs to the batch's own pass). Scale shape: the pair
    * join is driven by the delta's postings — shared shingles of a
    * (corpus-eval, delta-train) pair are by definition the delta doc's
    * own shingles. Deployment path: [[graft.sources.IngestGate]]'s
    * eval_contam flag over the persisted shingle index,
    * spec-pinned equal to this query's rollup. */
  def contamDelta(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir).persist()
    sh.count()
    val base = docs(spark, dir).select(col("doc_id"), col("source"),
      (pmod(h60(col("text")), lit(100L)) < 80).as("is_train"))
    val cold = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxPostingList).select(col("s"))
    // split join first, cold join LAST: posting side rides the sizes
    // window's doc_id partitioning, and the cache comes out s-keyed so
    // the e×t self-join is exchange-free (see contaminationImpl)
    val post = withSizes(sh)
      .join(base.select(col("doc_id"), col("is_train")), "doc_id")
      .join(cold, "s")
      .persist()
    post.count()
    sh.unpersist(false)
    val contamIds = post.as("e")
      .filter(!col("e.is_train") && !(col("e.doc_id") % DeltaMod === DeltaRes))
      .join(post.as("t").filter(col("t.is_train") &&
          col("t.doc_id") % DeltaMod === DeltaRes),
        col("e.s") === col("t.s"))
      .groupBy(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"),
        col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast(DoubleType) / col("n_eval").cast(DoubleType)
        >= 0.5)
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    Tables.released(
      base.filter(col("is_train") && DeltaPred)
        .join(contamIds, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new_train"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contam"))
        .select(col("source"), col("n_new_train"), col("n_contam"),
          floor(col("n_contam") * lit(10000L) / col("n_new_train"))
            .cast(LongType).as("contam_share_bp"))
        .orderBy(col("source")),
      post)
  }

  /** The content-hash train split as a column over `text` — ONE
    * definition shared by [[contamination]], [[curateBaseOf]],
    * [[contamDelta]], and the ingest gate's persisted split table. */
  private[graft] def isTrainOf: Column =
    pmod(h60(col("text")), lit(100L)) < 80

  /** [[contamDelta]]'s check over a PERSISTED sized shingle index —
    * the ids of the delta's docs that contain a corpus EVAL doc at the
    * 0.5 floor, under the UNION posting cap (delta counts merged into
    * the corpus df, so a delta pushing a shingle past the cap excludes
    * it exactly as the online query would). `corpusSized` must already
    * exclude the delta's ids (replay safety); `corpusSplit` is the
    * corpus (doc_id, is_train); `deltaTrainIds` the delta's TRAIN-side
    * doc_ids — the verdict is defined only for docs that could leak an
    * eval doc into training ([[contamDelta]]'s t.is_train filter; an
    * eval-side delta doc resembling another eval doc is not
    * contamination). The posting-cap df still counts the WHOLE delta
    * (train and eval postings alike), exactly as the online query's
    * union df does. Delta-driven throughout: only the delta's own
    * shingles can be shared with an eval doc. */
  private[graft] def contamDeltaFlags(corpusSized: DataFrame, shD: DataFrame,
      corpusSplit: DataFrame, deltaTrainIds: DataFrame): DataFrame = {
    val deltaCnt = shD.groupBy(col("s")).agg(count(lit(1)).as("d_cnt"))
      .localCheckpoint(true)
    val oldDf = corpusSized
      .join(deltaCnt.select(col("s")), Seq("s"), "left_semi")
      .groupBy(col("s")).agg(count(lit(1)).as("old_df"))
    val coldDelta = deltaCnt.join(oldDf, Seq("s"), "left")
      .na.fill(0L, Seq("old_df"))
      .filter(col("old_df") + col("d_cnt") <= MaxPostingList)
      .select(col("s")).localCheckpoint(true)
    val evalPost = corpusSized
      .join(corpusSplit.filter(!col("is_train")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .join(coldDelta, Seq("s"))
    val deltaPost = shD
      .join(broadcast(deltaTrainIds.toDF("doc_id")), Seq("doc_id"),
        "left_semi")
      .join(coldDelta, Seq("s"))
    evalPost.as("e").join(deltaPost.as("t"), col("e.s") === col("t.s"))
      .groupBy(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"),
        col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast(DoubleType) / col("n_eval").cast(DoubleType)
        >= 0.5)
      .select(col("doc_id")).distinct()
  }

  /** [[contamDeltaFlags]] served from the S-KEYED INVERTED SIDECAR
    * (`<ddPrefix>_cm`: (s, doc_id, n, is_train), bucketed + sorted by
    * `s` — [[graft.sources.DedupIndexLayout]] maintains it next to the
    * doc_id-bucketed shingle table) — the fix for the gate path's last
    * per-batch corpus-sized term. The corpus-scan form semi-joins the
    * doc_id-bucketed shingle table on `s` TWICE per micro-batch: `s`
    * is not that table's bucket key, so each pass is a full scan PLUS
    * a full shuffle of the matched postings, and none of the
    * delta-verify pruning applies. Here both passes run against the
    * s-bucketed sidecar: a bounded delta's shingle keys prune the scan
    * (IN literal → bucket-file + parquet page pruning when the key set
    * fits [[graft.sources.ScanPrune.MaxPushdownIn]]; a broadcast
    * semi-join on the bucket key — scan-only, zero shuffle — above
    * it), the df aggregation groups on the scan's own bucket key (no
    * exchange), and everything downstream of the cap filter is
    * delta-sized. At deployment bucket counts the IN makes the read
    * delta-sized regardless of corpus, exactly the
    * [[graft.sources.ScanPrune]] argument on the dedup-verify path.
    *
    * EXACT twin, not an approximation (ContamSidecarSpec pins
    * byte-equality, including the union-cap boundary and a replayed
    * already-filed delta): restricting the sidecar to the delta's own
    * `s` keys is join algebra — every downstream term (old_df per
    * delta shingle, the cold-shingle eval postings) is keyed by an `s`
    * the delta contains — and the sidecar rows are the SAME postings
    * (one row per (doc_id, s), `n` denormalized, `is_train` the
    * content-hash split [[isTrainOf]]) re-bucketed. Replay exclusion
    * anti-joins the delta's ids row-level (broadcast — no bucket help
    * needed; the slice is already key-pruned).
    *
    * Cost shape, honest: without a bounded delta's IN the two sidecar
    * passes are still corpus-LINEAR scans (narrow, shuffle-free) —
    * linear in sidecar bytes, not in shuffle+scan of the wide shingle
    * table; the slope measurement with this leg ON is
    * GateIngestBench's job (STREAMBENCH.md). */
  private[graft] def contamDeltaFlagsCm(spark: SparkSession, cm: DataFrame,
      shD: DataFrame, deltaIds: DataFrame,
      deltaTrainIds: DataFrame): DataFrame = {
    import graft.sources.ScanPrune
    val deltaCnt = shD.groupBy(col("s")).agg(count(lit(1)).as("d_cnt"))
      .localCheckpoint(true)
    // the delta's shingle-key footprint bounds BOTH corpus-side passes
    val nKeys = deltaCnt.count()
    val slice0 =
      if (nKeys <= ScanPrune.maxPushdownIn(spark))
        ScanPrune.pushedInSet(spark, cm, "s", deltaCnt.select(col("s")))
      else cm.join(broadcast(deltaCnt.select(col("s"))), Seq("s"),
        "left_semi")
    // replay safety: a re-run after the append must not see the
    // delta's own filed copies (contamDeltaFlags' corpusSized contract)
    val slice = slice0.join(broadcast(deltaIds), Seq("doc_id"), "left_anti")
    // pass 1: per-shingle corpus df — groupBy on the scan's bucket
    // key, no exchange; delta-key-sized result
    val oldDf = slice.groupBy(col("s")).agg(count(lit(1)).as("old_df"))
    val coldDelta = deltaCnt.join(oldDf, Seq("s"), "left")
      .na.fill(0L, Seq("old_df"))
      .filter(col("old_df") + col("d_cnt") <= MaxPostingList)
      .select(col("s")).localCheckpoint(true)
    // pass 2: the cold delta shingles' EVAL postings — each shingle
    // contributes ≤ MaxPostingList rows by the cap just computed
    val evalPost = slice.filter(!col("is_train"))
      .join(broadcast(coldDelta), Seq("s"))
    val deltaPost = shD
      .join(broadcast(deltaTrainIds.toDF("doc_id")), Seq("doc_id"),
        "left_semi")
      .join(broadcast(coldDelta), Seq("s"))
    evalPost.as("e").join(deltaPost.as("t"), col("e.s") === col("t.s"))
      .groupBy(col("e.doc_id").as("eval_doc"), col("t.doc_id").as("doc_id"),
        col("e.n").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast(DoubleType) / col("n_eval").cast(DoubleType)
        >= 0.5)
      .select(col("doc_id")).distinct()
  }

  val contamDeltaSql: String = {
    import graft.functions.TextFunctions.h60Sql
    s"""WITH sh AS ($shinglesCte),
       |base AS (
       |  SELECT doc_id, source,
       |         ${h60Sql("text")} % 100 < 80 AS is_train
       |  FROM documents),
       |cold AS (SELECT s FROM sh GROUP BY s
       |         HAVING count(*) <= $MaxPostingList),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |p AS (
       |  SELECT sh.doc_id, sh.s, sizes.n, base.is_train
       |  FROM sh JOIN cold USING (s) JOIN sizes USING (doc_id)
       |  JOIN base USING (doc_id)),
       |contam AS (
       |  SELECT DISTINCT doc_id, 1 AS hit FROM (
       |    SELECT t.doc_id
       |    FROM p e JOIN p t ON e.s = t.s
       |    WHERE NOT e.is_train AND e.doc_id % $DeltaMod != $DeltaRes
       |      AND t.is_train AND t.doc_id % $DeltaMod = $DeltaRes
       |    GROUP BY e.doc_id, t.doc_id, e.n
       |    HAVING CAST(count(*) AS DOUBLE) / CAST(e.n AS DOUBLE) >= 0.5))
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_new_train,
       |       CAST(COALESCE(sum(hit), 0) AS BIGINT) AS n_contam,
       |       CAST(floor(COALESCE(sum(hit), 0) * 10000 / count(*))
       |         AS BIGINT) AS contam_share_bp
       |FROM (SELECT doc_id, source FROM base
       |      WHERE is_train AND $deltaPredSql) nt
       |LEFT JOIN contam USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  val deltaAccountingSql: String =
    s"""WITH $minhashPairsCtes,
       |dpairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  WHERE doc_a % $DeltaMod = $DeltaRes OR doc_b % $DeltaMod = $DeltaRes),
       |hits0 AS (
       |  SELECT doc_a AS doc_id, doc_b AS other FROM dpairs
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_a AS other FROM dpairs),
       |hits AS (
       |  SELECT doc_id,
       |         max(CASE WHEN other % $DeltaMod != $DeltaRes THEN 1 ELSE 0 END)
       |           AS hit_corpus,
       |         max(CASE WHEN other % $DeltaMod = $DeltaRes THEN 1 ELSE 0 END)
       |           AS hit_delta
       |  FROM hits0 WHERE doc_id % $DeltaMod = $DeltaRes GROUP BY 1),
       |new_docs AS (
       |  SELECT doc_id, source FROM documents WHERE $deltaPredSql)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_new_docs,
       |       CAST(COALESCE(sum(hit_corpus), 0) AS BIGINT) AS n_dup_vs_corpus,
       |       CAST(COALESCE(sum(hit_delta), 0) AS BIGINT) AS n_dup_in_delta,
       |       CAST(COALESCE(sum(greatest(hit_corpus, hit_delta)), 0) AS BIGINT)
       |         AS n_dup_any,
       |       CAST(count(*) - COALESCE(sum(greatest(hit_corpus, hit_delta)), 0)
       |         AS BIGINT) AS n_unique_new,
       |       CAST(floor(COALESCE(sum(greatest(hit_corpus, hit_delta)), 0)
       |         * 10000 / count(*)) AS BIGINT) AS dup_share_bp
       |FROM new_docs LEFT JOIN hits USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame), String)] = Seq(
    ("pipeline_curate", pipelineCurate _, pipelineCurateSql),
    ("dedup_exact", exact _, exactSql),
    ("dedup_ngram_jaccard", ngramJaccard _, ngramJaccardSql),
    ("dedup_prefix_jaccard", prefixJaccard _, prefixJaccardSql),
    ("dedup_containment_pairs", containmentPairs _, containmentPairsSql),
    ("dedup_posting_audit", postingAudit _, postingAuditSql),
    ("dedup_minhash_sig", minhashSig _, minhashSigSql),
    ("dedup_minhash_pairs", minhashPairs _, minhashPairsSql),
    ("dedup_minhash_pairs_8x2", minhashPairs8x2 _, minhashPairs8x2Sql),
    ("dedup_delta_pairs", deltaPairs _, deltaPairsSql),
    ("dedup_delta_accounting", deltaAccounting _, deltaAccountingSql),
    ("dedup_contam_delta", contamDelta _, contamDeltaSql),
    ("dedup_source_overlap", sourceOverlap _, sourceOverlapSql),
    ("dedup_recall_audit", dedupRecallAudit _, dedupRecallAuditSql),
    ("dedup_simhash", simhash _, simhashSql),
    ("dedup_simhash_pairs", simhashPairs _, simhashPairsSql),
    ("dedup_embedding_cosine", embeddingCosine _, embeddingCosineSql),
    ("dedup_semantic_clean", semanticClean _, semanticCleanSql),
    ("dedup_cosine_lsh", cosineLsh _, cosineLshSql),
    // the pool-cap saturation telltale for the query above: any
    // nonzero n_saturated_buckets/n_evicted row means the registered
    // geometry's candidate generation is being silently truncated and
    // the W dial must turn (all-zero at the bounded test SFs, where
    // the cap never binds)
    ("dedup_cosine_pool_audit", cosinePoolAudit _, cosinePoolAuditSql),
    // the band-width dial's measured point: W=8 re-bounds per-bucket
    // postings 4x (corpus/2^8 per band) — the knob a growing corpus
    // turns (BENCH_SF1 r12: the salted universe exposed W=6's true
    // uncapped candidate growth once verbatim duplicates stopped
    // saturating the md5 pool cap)
    ("dedup_cosine_lsh_w8",
      (s: SparkSession, d: String) => cosineLshConfig(s, d, 4, 8),
      cosineLshSqlConfig(4, 8)),
    ("dedup_clusters", clusters _, clustersSql),
    ("dedup_pagerank", pagerank _, pagerankSql),
    ("dedup_triangles", triangles _, trianglesSql),
    ("dedup_corpus_clean", corpusClean _, corpusCleanSql),
    ("dedup_contamination", contamination _, contaminationSql),
    // bloom prune is performance-transparent: same exact oracle
    ("dedup_contamination_bloom", contaminationBloom _, contaminationSql))
}
