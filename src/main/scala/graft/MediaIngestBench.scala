package graft

import org.apache.spark.sql.functions._

import graft.sources.MediaIndexLayout
import graft.util.Sessions

/** Perceptual media ingest benchmark: build the persisted tile index
  * once over the corpus split, stream the delta split through
  * `MediaIndexLayout.ingestStream` (check-then-append per
  * micro-batch), report assets/second — the media twin of
  * `DedupIngestBench`'s number. */
object MediaIngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "4").toInt
    val spark = Sessions.dev()
    import spark.implicits._

    val prefix = "media_ingest_bench"
    val deltaPred = col("doc_id") % 5 === 3
    val (_, buildSec) = Sessions.timed(MediaIndexLayout.build(spark, sfDir,
      prefix, buckets = Sessions.cpus, where = !deltaPred))

    // SPARK_GRAFT_DELTA_BOUND caps the STREAMED delta (build corpus
    // unchanged) — the DedupIngestBench corpus-slope discipline: the
    // same batch sizes against a 10×/100× corpus, not a 10×/100× delta
    val bound = sys.env.get("SPARK_GRAFT_DELTA_BOUND").map(_.toLong)
      .getOrElse(Long.MaxValue)
    val delta = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(deltaPred && col("doc_id") < bound)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    var pairs = 0L
    val r = Sessions.replay(spark, Sessions.groups(delta, batches)) { ds =>
      MediaIndexLayout.ingestStream(spark, prefix, ds.toDF("doc_id", "text"),
        buckets = Sessions.cpus) {
        (res, _) => pairs += res.count()
      }
    }
    require(pairs > 0, "no perceptual near-dup pairs found in the delta")

    val dps = delta.length / r.wall
    println(f"""{"metric":"media_ingest_docs_per_sec","value":$dps%.1f,"unit":"docs/sec","docs":${delta.length},"pairs_found":$pairs,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_avg":${r.avg}%.2f,"batch_sec_max":${r.max}%.2f,"index_build_sec":$buildSec%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
