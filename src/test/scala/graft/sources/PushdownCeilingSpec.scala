package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.DedupQueries

/** Regression net under `ScanPrune.MaxPushdownIn` (= 256): the r17
  * post-mortem's own argument is that parquet's recursive filter-eval
  * stack headroom is PLAN-DEPENDENT, so the ceiling must be exercised
  * where it is shallowest — the composed gate + contamination-sidecar
  * plan, the context in which 4096 was caught overflowing. This spec
  * drives `IngestGate.checkDelta` with a delta whose distinct shingle
  * key count is EXACTLY `MaxPushdownIn` (so the full eq-or-chain of
  * that many literals is pushed into the sidecar scan inside the deepest
  * plan) and asserts (a) completion — a StackOverflowError here means
  * the ceiling must drop, with this spec as the evidence — and (b)
  * byte-equal verdicts vs the over-gate broadcast-semi-join branch
  * (forced on the SAME delta via the lowering-only
  * `graft.scanprune.maxPushdownIn` seam) and vs the corpus-scan twin
  * (`checkDeltaWith`'s `contamScan`). */
class PushdownCeilingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def isTrain(text: String): Boolean =
    Seq(text).toDF("text")
      .select(DedupQueries.isTrainOf.as("t")).head().getBoolean(0)

  private def distinctShingles(text: String): Long =
    DedupQueries.shinglesOf(Seq((1L, text)).toDF("doc_id", "text"))
      .select(col("s")).distinct().count()

  test("composed gate completes at exactly MaxPushdownIn pushed keys; " +
      "IN branch == semi-join branch == corpus scan") {
    val ceiling = ScanPrune.MaxPushdownIn.toLong
    dropPrefix("pcl")
    IngestGate.build(spark, dir, "pcl", buckets = 4)
    try {
      // docA: a full copy of a corpus EVAL doc, nudged onto the TRAIN
      // side of the content-hash split (so the eval-leak verdict can
      // fire and the equality below is not vacuous)
      val evalText = spark.read.parquet(s"$dir/documents.parquet")
        .filter(!DedupQueries.isTrainOf && length(col("text")) > 200)
        .select(col("text")).head().getString(0)
      val docA = Iterator.from(0).map(i => s"$evalText pclpad$i")
        .find(isTrain).get
      val mA = distinctShingles(docA)
      assert(mA < ceiling, s"fixture eval doc too large: $mA shingles")

      // docB: synthetic filler whose (k+2) unique tokens contribute
      // exactly (ceiling - mA) distinct 3-shingles, disjoint from
      // docA's by construction (tokens unique to this spec)
      val nB = (ceiling - mA).toInt
      val docB = (0 until nB + 2).map(i => s"pclqq$i").mkString(" ")
      val delta = Seq((910001L, "synthetic", docA),
        (910002L, "synthetic", docB)).toDF("doc_id", "source", "text")
      val nKeys = DedupQueries.shinglesOf(delta.select("doc_id", "text"))
        .select(col("s")).distinct().count()
      assert(nKeys == ceiling,
        s"delta key footprint $nKeys != ceiling $ceiling (hash collision?)")

      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") === 40L)
        .select(lit(910001L).as("vec_id"), col("embedding"))

      def verdicts(): Seq[org.apache.spark.sql.Row] =
        IngestGate.checkDelta(spark, dir, "pcl", delta, vecs)
          .orderBy("doc_id").collect().toSeq

      def withConf[A](k: String, v: String)(body: => A): A =
        try { spark.conf.set(k, v); body } finally spark.conf.unset(k)

      // the guarded plan: exactly `ceiling` literals pushed into the
      // sidecar's parquet scan inside the full composed-gate plan —
      // completing is the regression assertion
      val inBranch = verdicts()
      assert(inBranch.exists(r =>
          r.getAs[Long]("doc_id") == 910001L &&
            r.getAs[Long]("eval_contam") == 1L),
        s"eval-leak verdict did not fire — equality would be vacuous: " +
          inBranch.toString)

      // same delta, over-gate branch (broadcast semi-join, nothing
      // pushed): byte-equal by join algebra
      val semiBranch =
        withConf("graft.scanprune.maxPushdownIn", "0")(verdicts())
      assert(semiBranch == inBranch)

      // and the pre-sidecar corpus-scan twin agrees too
      val nd = delta.dropDuplicates("doc_id").localCheckpoint(true)
      val corpusScan = IngestGate.checkDeltaWith(spark, dir, "pcl", nd,
          IngestGate.deltaFrames(nd), vecs, 0.4, contamScan = true)
        .orderBy("doc_id").collect().toSeq
      assert(corpusScan == inBranch)
    } finally dropPrefix("pcl")
  }
}
