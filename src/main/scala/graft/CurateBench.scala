package graft

import graft.sources.CuratedCorpusLayout
import graft.util.Sessions

/** Curated-corpus artifact benchmark: pay the full `pipeline_curate`
  * chain ONCE ([[CuratedCorpusLayout.build]]), then time serving +
  * the checksum handoff gate against the live online query — the
  * build-once/consume-many split the layout exists for. */
object CurateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.dev()
    import Sessions.timed
    val prefix = "curate_bench"
    val (_, buildSec) = timed(
      CuratedCorpusLayout.build(spark, sfDir, prefix, buckets = Sessions.cpus))
    val (nServe, serveSec) = timed(
      CuratedCorpusLayout.serve(spark, prefix).count())
    val (gate, gateSec) = timed(
      CuratedCorpusLayout.verifyHandoff(spark, prefix).collect().head)
    require(gate.getAs[Boolean]("ok"), "handoff gate failed")
    val (_, onlineSec) = timed(
      graft.queries.DedupQueries.pipelineCurate(spark, sfDir).count())
    println(f"""{"metric":"curate_build_sec","value":$buildSec%.2f,"unit":"sec","docs_served":$nServe,"serve_sec":$serveSec%.2f,"gate_sec":$gateSec%.2f,"online_query_sec":$onlineSec%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
