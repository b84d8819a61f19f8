package graft

import org.apache.spark.sql.functions._

import graft.sources.IngestGate
import graft.util.Sessions

/** GATE-path ingest benchmark — the composed three-index check
  * ([[IngestGate.ingestStream]]: text/media/semantic dedup + the
  * eval-decontamination verdict + the appends) per micro-batch,
  * measured as s/batch. This is the harness for the CONTAMINATION
  * LEG's corpus slope: `DedupIngestBench` (the r16 corpus-flat
  * measurement) runs only the dedup layout and explicitly does not
  * pay `contamDeltaFlags`; this bench pays every gate leg, so a
  * 1×/10×/100× run here measures the slope with the decontamination
  * check ON.
  *
  * The gate's build writes the s-keyed inverted sidecar, so the
  * contamination leg is served from it
  * ([[graft.queries.DedupQueries.contamDeltaFlagsCm]]).
  * `SPARK_GRAFT_DELTA_BOUND` caps the streamed delta so decade runs
  * keep the same batch grain against a 10×/100× corpus.
  */
object GateIngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "4").toInt
    val spark = Sessions.dev(Sessions.singleHostBroadcast: _*)
    import spark.implicits._

    val prefix = "gate_ingest_bench"
    val dPred = graft.queries.DedupQueries.DeltaPred
    val vPred = graft.queries.DedupQueries.DeltaVecPred
    val (_, buildSec) = Sessions.timed(IngestGate.build(spark, sfDir, prefix,
      buckets = Sessions.cpus, whereDocs = !dPred, whereVecs = !vPred))

    val bound = sys.env.get("SPARK_GRAFT_DELTA_BOUND").map(_.toLong)
      .getOrElse(Long.MaxValue)
    // assets: delta docs with their vector riding along (vec_id ==
    // doc_id by the snapshot convention; docs without one get a null
    // embedding and skip the semantic tier, the gate contract)
    val delta = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(dPred && col("doc_id") < bound)
      .select(col("doc_id"), col("source"), col("text"))
      .join(graft.util.Tables.load(spark, sfDir, "embeddings")
          .filter(vPred && col("vec_id") < bound)
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left")
      .as[(Long, String, String, Option[Array[Float]])]
      .collect().sortBy(_._1)

    var verdicts = 0L
    var contam = 0L
    val r = Sessions.replay(spark, Sessions.groups(delta, batches)) { ds =>
      IngestGate.ingestStream(spark, sfDir, prefix,
        ds.toDF("doc_id", "source", "text", "embedding"),
        buckets = Sessions.cpus) { (res, _) =>
        val row = res.agg(count(lit(1)), sum(col("eval_contam"))).head()
        verdicts += row.getLong(0)
        contam += Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      }
    }
    require(verdicts == delta.length,
      s"verdict count $verdicts != delta size ${delta.length}")

    println(f"""{"metric":"gate_ingest_sec_per_batch","value":${r.avg}%.2f,"unit":"sec","docs":${delta.length},"verdicts":$verdicts,"n_contam":$contam,"batches":${r.batchSecs.size},"wall_sec":${r.wall}%.2f,"batch_sec_max":${r.max}%.2f,"index_build_sec":$buildSec%.2f,"steal_stream":${r.steal},"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
