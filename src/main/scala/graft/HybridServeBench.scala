package graft

import org.apache.spark.sql.functions._

import graft.sources.{HybridIndexLayout, TextIndexLayout}
import graft.util.Sessions

/** Hybrid (RRF) online-serving benchmark: build BOTH persisted leg
  * indexes once, then answer the registered query set as a STREAM of
  * (q_id, text, embedding) micro-batches through
  * `HybridIndexLayout.serveHybridStream` and report queries/second.
  * This is the deployment shape `txt_hybrid_rrf` exists for: the
  * online query re-pays both leg index builds per invocation (its
  * 4.39x @10x curve is two build passes), while serving here pays them
  * once, up front, reported separately. For reference the online
  * query's wall time over the same query set is also measured — the
  * per-invocation price serving amortizes away. */
object HybridServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCHES", "4").toInt
    val spark = Sessions.dev()
    import spark.implicits._

    val textPrefix = "hyb_serve_txt"
    val densePrefix = "hyb_serve_ann"
    val (_, textBuildSec) = Sessions.timed(
      TextIndexLayout.build(spark, sfDir, textPrefix))
    val (_, denseBuildSec) = Sessions.timed(
      HybridIndexLayout.buildDense(spark, sfDir, densePrefix))

    // the registered query subset (every 50th doc) with both
    // modalities — the set HybridIndexLayoutSpec pins byte-equal online
    val qs = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
      .join(graft.util.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id"))
      .as[(Long, String, Array[Float])].collect().toSeq

    var served = 0L
    val r = Sessions.replay(spark, Sessions.groups(qs, batches)) { ds =>
      HybridIndexLayout.serveHybridStream(spark, sfDir, textPrefix,
        densePrefix, ds.toDF("q_id", "text", "embedding"),
        excludeSelf = true) {
        (res, _) => served += res.count()
      }
    }
    require(served > 0, "no results served")
    val qps = qs.size / r.wall

    // the per-invocation price serving amortizes: the online query
    // (both leg builds + fusion) over the same registered set
    val (onlineRows, onlineWall) = Sessions.timed(
      graft.queries.TextQueries.hybridRrf(spark, sfDir).count())

    println(f"""{"metric":"hybrid_serve_queries_per_sec","value":$qps%.1f,"unit":"queries/sec","queries":${qs.size},"result_rows":$served,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_avg":${r.avg}%.2f,"batch_sec_max":${r.max}%.2f,"text_build_sec":$textBuildSec%.2f,"dense_build_sec":$denseBuildSec%.2f,"online_wall_sec":$onlineWall%.2f,"online_rows":$onlineRows,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
