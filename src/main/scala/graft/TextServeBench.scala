package graft

import org.apache.spark.sql.functions._

import graft.sources.TextIndexLayout
import graft.util.Sessions

/** BM25 online-serving benchmark: build the persisted text index once,
  * then answer the registered query set as a STREAM of micro-batches
  * through `TextIndexLayout.serveStream` and report queries/second —
  * the retrieval-side complement to `AnnServeBench`. Build time is
  * reported separately: at 100 TB the tokenize + postings build is
  * the rare nightly/delta job while serving is the steady state.
  */
object TextServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCHES", "4").toInt
    val spark = Sessions.dev()
    import spark.implicits._

    val prefix = "txt_serve_bench"
    val (_, buildSec) = Sessions.timed(TextIndexLayout.build(spark, sfDir, prefix))

    // the registered query subset (every 50th doc), as raw text —
    // the same set TextIndexLayoutSpec pins byte-equal online
    val qs = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq

    var served = 0L
    // corpus-member queries: self-exclusion on, like the online query
    val r = Sessions.replay(spark, Sessions.groups(qs, batches)) { ds =>
      TextIndexLayout.serveStream(spark, prefix, ds.toDF("q_id", "text"),
        excludeSelf = true) {
        (res, _) => served += res.count()
      }
    }
    require(served > 0, "no results served")

    val qps = qs.size / r.wall

    // PRF serving: the two-pass RM3 path over the same index + query
    // set — the per-query price of the second probe pass relative to
    // single-pass serving (batch mode; the stream bridge is identical)
    val qdf = qs.toDF("q_id", "text")
    val (prfRows, prfWall) = Sessions.timed(TextIndexLayout.servePrf(spark,
      prefix, qdf, excludeSelf = true).count())
    val prfQps = qs.size / prfWall

    println(f"""{"metric":"txt_serve_queries_per_sec","value":$qps%.1f,"unit":"queries/sec","queries":${qs.size},"result_rows":$served,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_avg":${r.avg}%.2f,"batch_sec_max":${r.max}%.2f,"index_build_sec":$buildSec%.2f,"prf_queries_per_sec":$prfQps%.1f,"prf_result_rows":$prfRows,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
