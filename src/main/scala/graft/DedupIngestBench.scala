package graft

import org.apache.spark.sql.functions._

import graft.sources.DedupIndexLayout
import graft.util.Sessions

/** Incremental-dedup ingest benchmark: build the persisted MinHash
  * band index once over the corpus split, then stream the delta split
  * through `DedupIndexLayout.ingestStream` (check-then-append per
  * micro-batch) and report documents/second — the daily-crawl number
  * next to perfbench's `events_stream` event ingest and
  * `AnnServeBench`'s query serving. Build time reported separately: at
  * 100 TB the full build happens once while the delta check-and-append
  * is the steady state.
  */
object DedupIngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "4").toInt
    val spark = Sessions.dev()
    import spark.implicits._

    val prefix = "dedup_ingest_bench"
    // the registered dedup_delta_pairs split: 80% corpus, 20% "today's
    // crawl" — same predicate, so the bench measures the spec'd path
    val deltaPred = col("doc_id") % 5 === 3
    val (_, buildSec) = Sessions.timed(DedupIndexLayout.build(spark, sfDir,
      prefix, buckets = Sessions.cpus, where = !deltaPred))

    // SPARK_GRAFT_DELTA_BOUND caps the STREAMED delta (build corpus
    // unchanged): the corpus-slope measurement wants the SAME batch
    // sizes against a 10×/100× corpus, not a 10×/100× delta — without
    // the cap a 100×-corpus run would need 400 batches to keep the
    // 250-doc grain
    val bound = sys.env.get("SPARK_GRAFT_DELTA_BOUND").map(_.toLong)
      .getOrElse(Long.MaxValue)
    val delta = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(deltaPred && col("doc_id") < bound)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    var pairs = 0L
    val r = Sessions.replay(spark, Sessions.groups(delta, batches)) { ds =>
      DedupIndexLayout.ingestStream(spark, prefix, ds.toDF("doc_id", "text"),
        buckets = Sessions.cpus) {
        (res, _) => pairs += res.count()
      }
    }
    require(pairs > 0, "no near-dup pairs found in the delta")

    val dps = delta.length / r.wall
    println(f"""{"metric":"dedup_ingest_docs_per_sec","value":$dps%.1f,"unit":"docs/sec","docs":${delta.length},"pairs_found":$pairs,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_avg":${r.avg}%.2f,"batch_sec_max":${r.max}%.2f,"index_build_sec":$buildSec%.2f,"steal_stream":${r.steal},"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
