package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries
import graft.sources.CuratedCorpusLayout
import graft.util.Sessions

/** Incremental-curation benchmark: the refresh-vs-rebuild gap the
  * incremental layout exists for. Builds the stateful layout over the
  * 80% corpus split, refreshes with the 20% delta split, and compares
  * against the full-corpus rebuild cost — plus the served-vs-rebuilt
  * row counts as a smoke check (CuratedDeltaSpec proves byte equality
  * at sf0.001; this measures the money at sf0.1). */
object CuratedDeltaBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.dev()
    import Sessions.timed
    val buckets = 8
    // SPARK_GRAFT_DELTA_BOUND caps the snapshot to DeltaPred docs with
    // doc_id below it — the daily-crawl shape: a BOUNDED delta against
    // a corpus that is everything else (cap the delta, not the corpus:
    // carving out the whole 20% DeltaPred class would strip 4 of the
    // 20 sources from the corpus entirely and turn the temperature-mix
    // stage into a source-skew stress test instead of a refresh bench).
    val bound = sys.env.get("SPARK_GRAFT_DELTA_BOUND").map(_.toLong)
      .getOrElse(Long.MaxValue)
    val deltaDocPred = DedupQueries.DeltaPred && col("doc_id") < bound
    val deltaVecPred = DedupQueries.DeltaVecPred && col("vec_id") < bound
    // the stateful corpus build (pays the chain + state capture)
    val (_, buildSec) = timed(
      CuratedCorpusLayout.buildIncremental(spark, sfDir, "curd_bench",
        buckets, where = !deltaDocPred, whereVec = !deltaVecPred))
    val deltaDocs = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(deltaDocPred)
      .select(col("doc_id"), col("source"), col("text"))
    val deltaVecs = graft.util.Tables.load(spark, sfDir, "embeddings")
      .filter(deltaVecPred)
      .select(col("vec_id"), col("embedding"))
    val nDelta = deltaDocs.count()
    val (_, refreshSec) = timed(
      CuratedCorpusLayout.refresh(spark, sfDir, "curd_bench",
        deltaDocs, deltaVecs, buckets))
    val (nServed, serveSec) = timed(
      CuratedCorpusLayout.serve(spark, "curd_bench").count())
    // the cost the refresh replaces: a stateful rebuild over exactly
    // corpus ∪ delta = the whole dir (buildIncremental, i.e. what a
    // stateful deployment's rebuild actually costs — the chain plus
    // state capture).
    val (_, rebuildSec) = timed(
      CuratedCorpusLayout.buildIncremental(spark, sfDir,
        "curd_bench_full", buckets))
    val nFull = CuratedCorpusLayout.serve(spark, "curd_bench_full").count()
    require(nServed == nFull,
      s"refresh served $nServed rows, full rebuild $nFull")
    println(f"""{"metric":"curate_refresh_sec","value":$refreshSec%.2f,"unit":"sec","build_sec":$buildSec%.2f,"full_rebuild_sec":$rebuildSec%.2f,"delta_docs":$nDelta,"docs_served":$nServed,"serve_sec":$serveSec%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
