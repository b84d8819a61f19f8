package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.DedupQueries

/** The composed snapshot path ([[IngestGate.ingestAndCurate]]) must be
  * semantically invisible: identical gate verdicts AND byte-equal
  * curated state vs running checkDelta + appendDelta + refresh
  * sequentially on the same delta — while paying the delta's
  * shingle/band pass once (the consumer plans, fed the materialized
  * frames, derive no shingles of their own). */
class IngestAndCurateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def deltaDocs = spark.read.parquet(s"$dir/documents.parquet")
    .filter(col("doc_id") % 5 === 3)
    .select(col("doc_id"), col("source"), col("text"))

  private def deltaVecs = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter(col("vec_id") % 5 === 3)
    .select(col("vec_id"), col("embedding"))

  test("composed == sequential: verdicts and curated state byte-equal") {
    Seq("iacg", "iacc", "seqg", "seqc").foreach(dropPrefix)
    val whereDocs = !(col("doc_id") % 5 === 3)
    val whereVecs = !(col("vec_id") % 5 === 3)
    try {
      IngestGate.build(spark, dir, "iacg", buckets = 4, whereDocs, whereVecs)
      IngestGate.build(spark, dir, "seqg", buckets = 4, whereDocs, whereVecs)
      CuratedCorpusLayout.buildIncremental(spark, dir, "iacc", buckets = 4,
        where = whereDocs, whereVec = whereVecs)
      CuratedCorpusLayout.buildIncremental(spark, dir, "seqc", buckets = 4,
        where = whereDocs, whereVec = whereVecs)

      val composed = IngestGate.ingestAndCurate(spark, dir, "iacg", "iacc",
        deltaDocs, deltaVecs, buckets = 4)
        .orderBy(col("doc_id")).collect().toSeq

      val sequential = IngestGate.checkDelta(spark, dir, "seqg",
        deltaDocs, deltaVecs).localCheckpoint(true)
      IngestGate.appendDelta(spark, "seqg", deltaDocs, deltaVecs,
        buckets = 4)
      CuratedCorpusLayout.refresh(spark, dir, "seqc", deltaDocs, deltaVecs,
        buckets = 4)
      val seqV = sequential.orderBy(col("doc_id")).collect().toSeq

      assert(composed.nonEmpty && composed == seqV,
        s"composed verdicts drifted: ${composed.size} vs ${seqV.size}; " +
          s"first diff: ${composed.zipAll(seqV, null, null)
            .find(p => p._1 != p._2)}")
      // at least one verdict per class fires or the fixture proves little
      assert(composed.exists(_.getAs[Boolean]("keep")))
      assert(composed.exists(!_.getAs[Boolean]("keep")))

      val gotDocs = CuratedCorpusLayout.serve(spark, "iacc")
        .orderBy(col("doc_id")).collect().toSeq
      val seqDocs = CuratedCorpusLayout.serve(spark, "seqc")
        .orderBy(col("doc_id")).collect().toSeq
      assert(gotDocs.nonEmpty && gotDocs == seqDocs,
        s"curated state drifted: ${gotDocs.size} vs ${seqDocs.size}")
      assert(CuratedCorpusLayout.manifest(spark, "iacc")
        .orderBy(col("stage")).collect().toSeq ==
        CuratedCorpusLayout.manifest(spark, "seqc")
          .orderBy(col("stage")).collect().toSeq)
      assert(CuratedCorpusLayout.verifyHandoff(spark, "iacc")
        .head.getAs[Boolean]("ok"))
      // the gate indexes filed identically (text + media row grains)
      assert(spark.table("iacg_dd_shingles").count() ==
        spark.table("seqg_dd_shingles").count())
      assert(spark.table("iacg_dd_bands").count() ==
        spark.table("seqg_dd_bands").count())
      assert(spark.table("iacg_mm_tiles").count() ==
        spark.table("seqg_mm_tiles").count())

      // ONE shingle pass per snapshot: fed the materialized delta
      // frames, none of the composed consumers re-derives shingles in
      // its plan (the marker is the shingle generator's
      // transform-over-sequence; the control pins the marker itself)
      val nd = deltaDocs.dropDuplicates("doc_id").localCheckpoint(true)
      val ids = nd.select(col("doc_id")).localCheckpoint(true)
      val shD = DedupQueries.withSizes(DedupQueries.shinglesOf(nd))
        .localCheckpoint(true)
      val bD = DedupQueries.minhashBandsOf(
          DedupQueries.minhashSigFrom(shD.select(col("doc_id"), col("s"))))
        .localCheckpoint(true)
      val marker = "transform(sequence("
      assert(DedupQueries.shinglesOf(nd)
          .queryExecution.optimizedPlan.toString.contains(marker),
        "control: the shingle generator no longer plans as " + marker)
      val mhPlan = DedupIndexLayout.dedupDeltaFrom(spark, "iacg_dd",
        ids, shD, bD).queryExecution.optimizedPlan.toString
      assert(!mhPlan.contains(marker),
        "dedupDeltaFrom re-derives shingles despite precomputed shD/bD")
      // the self-computing public path, by contrast, re-shingles
      val mhSelf = DedupIndexLayout.dedupDelta(spark, "iacg_dd", nd)
        .queryExecution.optimizedPlan.toString
      assert(!mhSelf.contains(marker),
        "dedupDelta's own pass should also be materialized (checkpointed)")
      // same pin for the media tier: fed the materialized tile rows,
      // the check plans no second graft_psig kernel pass
      val tD = graft.queries.MultimodalQueries.tileRowsOf(nd)
        .localCheckpoint(true)
      val psig = "graft_psig"
      assert(graft.queries.MultimodalQueries.tileRowsOf(nd)
          .queryExecution.optimizedPlan.toString.contains(psig),
        "control: the perceptual signature no longer plans as " + psig)
      val mmPlan = MediaIndexLayout.dedupDeltaFrom(spark, "iacg_mm",
        ids, tD).queryExecution.optimizedPlan.toString
      assert(!mmPlan.contains(psig),
        "dedupDeltaFrom re-signs the delta despite precomputed tD")
    } finally Seq("iacg", "iacc", "seqg", "seqc").foreach(dropPrefix)
  }

  test("lazy composition (bulk-delta branch) == cached == sequential") {
    // above graft.compose.cacheMaxBytes the shared frames stay lazy
    // (each consumer recomputes, fused into its own pipeline — the
    // measured bulk-backfill crossover); forcing the dial to -1 runs
    // the spec delta through that branch, which must be semantically
    // invisible exactly like the cached one
    Seq("lzg", "lzc", "lsg", "lsc").foreach(dropPrefix)
    val whereDocs = !(col("doc_id") % 5 === 3)
    val whereVecs = !(col("vec_id") % 5 === 3)
    try {
      spark.conf.set("graft.compose.cacheMaxBytes", "-1")
      IngestGate.build(spark, dir, "lzg", buckets = 4, whereDocs, whereVecs)
      IngestGate.build(spark, dir, "lsg", buckets = 4, whereDocs, whereVecs)
      CuratedCorpusLayout.buildIncremental(spark, dir, "lzc", buckets = 4,
        where = whereDocs, whereVec = whereVecs)
      CuratedCorpusLayout.buildIncremental(spark, dir, "lsc", buckets = 4,
        where = whereDocs, whereVec = whereVecs)
      val composed = IngestGate.ingestAndCurate(spark, dir, "lzg", "lzc",
        deltaDocs, deltaVecs, buckets = 4)
        .orderBy(col("doc_id")).collect().toSeq
      val sequential = IngestGate.checkDelta(spark, dir, "lsg",
        deltaDocs, deltaVecs).localCheckpoint(true)
      IngestGate.appendDelta(spark, "lsg", deltaDocs, deltaVecs, buckets = 4)
      CuratedCorpusLayout.refresh(spark, dir, "lsc", deltaDocs, deltaVecs,
        buckets = 4)
      assert(composed.nonEmpty &&
        composed == sequential.orderBy(col("doc_id")).collect().toSeq,
        "lazy-composed verdicts drifted from sequential")
      assert(CuratedCorpusLayout.serve(spark, "lzc")
        .orderBy(col("doc_id")).collect().toSeq ==
        CuratedCorpusLayout.serve(spark, "lsc")
          .orderBy(col("doc_id")).collect().toSeq,
        "lazy-composed curated state drifted from sequential")
      assert(spark.table("lzg_dd_shingles").count() ==
        spark.table("lsg_dd_shingles").count())
      assert(spark.table("lzg_mm_tiles").count() ==
        spark.table("lsg_mm_tiles").count())
    } finally {
      spark.conf.unset("graft.compose.cacheMaxBytes")
      Seq("lzg", "lzc", "lsg", "lsc").foreach(dropPrefix)
    }
  }

  test("replayed composed snapshot changes nothing (crash repair)") {
    Seq("iarg", "iarc").foreach(dropPrefix)
    val whereDocs = !(col("doc_id") % 5 === 3)
    val whereVecs = !(col("vec_id") % 5 === 3)
    try {
      IngestGate.build(spark, dir, "iarg", buckets = 4, whereDocs, whereVecs)
      CuratedCorpusLayout.buildIncremental(spark, dir, "iarc", buckets = 4,
        where = whereDocs, whereVec = whereVecs)
      val first = IngestGate.ingestAndCurate(spark, dir, "iarg", "iarc",
        deltaDocs, deltaVecs, buckets = 4)
        .orderBy(col("doc_id")).collect().toSeq
      val docs1 = CuratedCorpusLayout.serve(spark, "iarc")
        .orderBy(col("doc_id")).collect().toSeq
      val replay = IngestGate.ingestAndCurate(spark, dir, "iarg", "iarc",
        deltaDocs, deltaVecs, buckets = 4)
        .orderBy(col("doc_id")).collect().toSeq
      val docs2 = CuratedCorpusLayout.serve(spark, "iarc")
        .orderBy(col("doc_id")).collect().toSeq
      assert(replay == first, "replayed verdicts drifted")
      assert(docs2 == docs1, "replayed refresh changed the artifact")
      assert(spark.table("iarg_dd_shingles")
        .groupBy(col("doc_id"), col("s")).count()
        .filter(col("count") > 1).isEmpty,
        "replay double-filed shingle rows")
    } finally Seq("iarg", "iarc").foreach(dropPrefix)
  }
}
