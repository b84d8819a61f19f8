package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries
import graft.sources.CuratedCorpusLayout
import graft.util.Sessions

/** The sign-LSH geometry dial, actually turned: at ~100× SF the W=6
  * audit default's per-bucket postings (~corpus/2^W) make the cosine
  * pass the curated build's superlinear term — empirically PAST this
  * host at the 100× decade: the W=6 pass over 200k salted vectors
  * generates ~800M pool-capped candidates, and the verify shuffle's
  * GC pauses exceed Spark's default 120 s executor heartbeat, killing
  * the session (the round-15 measurement log). That failure is the
  * reason [[CuratedCorpusLayout.buildIncremental]] now auto-sizes W
  * ([[CuratedCorpusLayout.AutoPlanes]]). This harness measures the
  * dial actually turned, deployment leg first so its numbers survive
  * a W=6 leg that doesn't:
  *  - ONE full `buildIncremental` at W=8 (timed), proving the
  *    deployment path takes the dial end to end, persists it in
  *    `_cos_geom`, and that [[CuratedCorpusLayout.autoPlanesPerBand]]
  *    resolves the same width at this corpus;
  *  - the focused W=8 cosine pass (bands + verified pairs), timed;
  *  - the W=6 pass LAST, attempted under raised heartbeat/network
  *    timeouts (`SPARK_GRAFT_COS_W6=0` skips it at scales where it is
  *    known not to complete); when both legs finish, the verified
  *    pair sets' overlap — both are exact-cosine-checked, so the diff
  *    is pure candidate-generation recall (what the wider band trades
  *    for its postings bound).
  * JSON is printed per leg, so a killed W=6 attempt still leaves the
  * deployment numbers on record. */
object CosGeomBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val tryW6 = sys.env.getOrElse("SPARK_GRAFT_COS_W6", "1") == "1"
    // sequential legs in one JVM stack their shuffle files until the
    // stale RDD references are GC'd; reclaim between legs
    val spark = Sessions.dev(Sessions.singleHostBroadcast :+
      ("spark.cleaner.periodicGC.interval" -> "60s"): _*)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    import Sessions.timed

    val e = DedupQueries.normedDirVecs(
        graft.util.Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")))
      .localCheckpoint(true)
    val nVecs = e.count()
    val autoW = CuratedCorpusLayout.autoPlanesPerBand(nVecs)
    // the scaladoc claim "autoPlanesPerBand resolves the same width at
    // this corpus" is ASSERTED, not just reported in the JSON: in the
    // 100×-decade bracket (2^17 < nVecs ≤ 2^18 ⇒ W=8 under
    // AutoTargetPostings=1024) a drifted auto resolution fails the run
    // instead of silently benching a different geometry than the
    // deployment would build
    if (nVecs > 131072L && nVecs <= 262144L)
      require(autoW == 8,
        s"autoPlanesPerBand($nVecs) resolved W=$autoW, expected 8 — the " +
          "bench's W=8 legs no longer measure the auto deployment point")

    def cosPass(planes: Int): (org.apache.spark.sql.DataFrame, Double) =
      timed {
        val bands = DedupQueries.cosineBandsOf(e,
          DedupQueries.CosineLshBands, planes).persist()
        bands.count()
        val pairs = DedupQueries.cosineLshFromBands(e, bands)
          .select(col("vec_a"), col("vec_b")).localCheckpoint(true)
        pairs.count() // materialize inside the timed window
        bands.unpersist(false)
        pairs
      }

    // deployment leg FIRST: the full curated build at the turned dial
    val (_, buildSec8) = timed(
      CuratedCorpusLayout.buildIncremental(spark, sfDir, "cosgeom_w8",
        buckets = 8, cosPlanesPerBand = 8))
    val served = CuratedCorpusLayout.serve(spark, "cosgeom_w8").count()
    val geom = spark.table("cosgeom_w8_cos_geom").head()
    require(geom.getAs[Int]("planes_per_band") == 8,
      "the W=8 build did not persist its geometry")

    val (p8, sec8) = cosPass(8)
    val n8 = p8.count()
    println(f"""{"metric":"cos_geom_w8_pass_sec","value":$sec8%.2f,"unit":"sec","pairs_w8":$n8,"build_w8_sec":$buildSec8%.2f,"docs_served":$served,"n_vecs":$nVecs,"auto_planes":$autoW,"sf":${util.Json.quote(sfDir)}}""")

    if (tryW6) {
      val (p6, sec6) = cosPass(6)
      val n6 = p6.count()
      val common = p6.join(p8, Seq("vec_a", "vec_b"), "left_semi").count()
      // both sets are exact-cosine-verified, so union ⊆ truth: recall
      // of each geometry measured against the best available pool
      val union = n6 + n8 - common
      println(f"""{"metric":"cos_geom_w6_pass_sec","value":$sec6%.2f,"unit":"sec","pairs_w6":$n6,"pairs_w8":$n8,"pairs_common":$common,"recall_w8_vs_union":${n8.toDouble / math.max(1L, union)}%.4f,"recall_w6_vs_union":${n6.toDouble / math.max(1L, union)}%.4f,"sf":${util.Json.quote(sfDir)}}""")
    }
    spark.stop()
  }
}
