package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.IngestGate

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val batches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-gate-wh").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // decade-scale index builds legitimately stall the one local
      // executor in multi-minute GC; keep the heartbeat from killing
      // the run
      .config("spark.network.timeout", "1200s")
      .config("spark.executor.heartbeatInterval", "120s")
      // the ComposedIngestBench note: at the 100× decade the vector
      // frame must broadcast so the cosine verify joins run
      // broadcast-hash instead of spilling a sort-merge shuffle
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      // r19: the gate slope is re-based under the SAME two shuffle
      // configs the r18 Bench session added (see Bench.scala for the
      // full rationale); the r17 trio row in STREAMBENCH.md was taken
      // without them and stays recorded for comparison. The other
      // per-tier dev benches keep their old sessions so their standing
      // rows remain comparable round-over-round.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val prefix = "gate_ingest_bench"
    val dPred = graft.queries.DedupQueries.DeltaPred
    val vPred = graft.queries.DedupQueries.DeltaVecPred
    val tb0 = System.nanoTime()
    IngestGate.build(spark, sfDir, prefix, buckets = cpus.toInt,
      whereDocs = !dPred, whereVecs = !vPred)
    val buildSec = (System.nanoTime() - tb0) / 1e9

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
    val groups = delta.grouped(
      math.max(1, (delta.length + batches - 1) / batches)).toSeq

    var verdicts = 0L
    var contam = 0L
    val mem = MemoryStream[(Long, String, String, Option[Array[Float]])]
    val q = IngestGate.ingestStream(spark, sfDir, prefix,
      mem.toDF().toDF("doc_id", "source", "text", "embedding"),
      buckets = cpus.toInt) { (res, _) =>
      val r = res.agg(count(lit(1)), sum(col("eval_contam"))).head()
      verdicts += r.getLong(0)
      contam += Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    val st0 = util.Steal.ticks()
    val t0 = System.nanoTime()
    val batchSecs = groups.map { g =>
      val b0 = System.nanoTime()
      mem.addData(g: _*)
      q.processAllAvailable()
      (System.nanoTime() - b0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val stealStream = util.Steal.ticks() - st0
    q.stop()
    require(verdicts == delta.length,
      s"verdict count $verdicts != delta size ${delta.length}")

    println(f"""{"metric":"gate_ingest_sec_per_batch","value":${batchSecs.sum / batchSecs.size}%.2f,"unit":"sec","docs":${delta.length},"verdicts":$verdicts,"n_contam":$contam,"batches":${batchSecs.size},"wall_sec":$wall%.2f,"batch_sec_max":${batchSecs.max}%.2f,"index_build_sec":$buildSec%.2f,"steal_stream":$stealStream,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
