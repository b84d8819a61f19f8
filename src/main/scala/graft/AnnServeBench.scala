package graft

import graft.sources.AnnIndexLayout
import graft.util.Sessions

/** ANN online-serving benchmark: build the persisted IVF-PQ index once,
  * then answer the registered query set as a STREAM of micro-batches
  * through `AnnIndexLayout.serveStream` and report queries/second —
  * the serving-side complement to perfbench's `events_stream` ingest
  * number.
  * Build time is reported separately: at 100 TB the build is the rare
  * nightly/delta job while serving is the steady state.
  */
object AnnServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCHES", "4").toInt
    val spark = Sessions.dev()
    import spark.implicits._

    val prefix = "ann_serve_bench"
    val (_, buildSec) = Sessions.timed(AnnIndexLayout.build(spark, sfDir, prefix))

    // the registered subset, via the one shared predicate — the bench
    // must measure the same query set the specs pin byte-equal online
    val qs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(graft.queries.SimilarityQueries.isQuery)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq

    var served = 0L
    // corpus-member queries: self-exclusion on, like the online query
    val r = Sessions.replay(spark, Sessions.groups(qs, batches)) { ds =>
      AnnIndexLayout.serveStream(spark, sfDir, prefix,
        ds.toDF("vec_id", "embedding"), excludeSelf = true) {
        (res, _) => served += res.count()
      }
    }
    require(served > 0, "no results served")

    val qps = qs.size / r.wall
    println(f"""{"metric":"ann_serve_queries_per_sec","value":$qps%.1f,"unit":"queries/sec","queries":${qs.size},"result_rows":$served,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_avg":${r.avg}%.2f,"batch_sec_max":${r.max}%.2f,"index_build_sec":$buildSec%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
