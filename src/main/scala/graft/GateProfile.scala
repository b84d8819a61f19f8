package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries
import graft.sources.{AnnIndexLayout, BucketedTables, DedupIndexLayout,
  IngestGate, MediaIndexLayout}
import graft.util.Sessions

/** Dev-only per-LEG attribution of the gate's per-batch cost — the
  * tool for reading a GateIngestBench slope: times each check leg
  * (text / media / semantic / contamination, sidecar AND corpus-scan)
  * and the first + replayed append over ONE 250-doc batch, so a
  * corpus-decade regression can be pinned on the leg that grew
  * instead of guessed at. Min of `SPARK_GRAFT_PROFILE_ITERS` (default
  * 2) per check leg. */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ITERS", "2").toInt
    val spark = Sessions.dev(Sessions.singleHostBroadcast: _*)
    val cpus = Sessions.cpus

    val prefix = "gate_profile"
    val dPred = DedupQueries.DeltaPred
    val vPred = DedupQueries.DeltaVecPred
    import Sessions.timed
    def best(f: => Any): Double = (1 to iters).map(_ => timed(f)._2).min

    val (_, buildSec) = timed(IngestGate.build(spark, sfDir, prefix,
      buckets = cpus, whereDocs = !dPred, whereVecs = !vPred))

    val docs = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(dPred && col("doc_id") < 1250L)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val vecs = graft.util.Tables.load(spark, sfDir, "embeddings")
      .filter(vPred && col("vec_id") < 1250L)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val nDocs = docs.count()
    val ids = docs.select(col("doc_id")).localCheckpoint(true)
    val shD = DedupQueries.withSizes(DedupQueries.shinglesOf(docs))
      .localCheckpoint(true)
    val trainIds = docs.filter(DedupQueries.isTrainOf)
      .select(col("doc_id")).localCheckpoint(true)

    val text = best(DedupIndexLayout.dedupDelta(spark, s"${prefix}_dd",
      docs).count())
    val media = best(MediaIndexLayout.dedupDelta(spark, s"${prefix}_mm",
      docs).count())
    val sem = best(AnnIndexLayout.semanticDedupDelta(spark, sfDir,
      s"${prefix}_ann", vecs, 0.4).count())
    val contamCm = best(DedupQueries.contamDeltaFlagsCm(spark,
      BucketedTables.read(spark, DedupIndexLayout.cmTable(s"${prefix}_dd")),
      shD, ids, trainIds).count())
    val contamScan = best(DedupQueries.contamDeltaFlags(
      BucketedTables.read(spark, s"${prefix}_dd_shingles")
        .join(broadcast(ids), Seq("doc_id"), "left_anti"),
      shD,
      BucketedTables.read(spark, s"${prefix}_split")
        .join(broadcast(ids), Seq("doc_id"), "left_anti"),
      trainIds).count())
    val (_, appDd) = timed(DedupIndexLayout.appendDeltaDocs(spark,
      s"${prefix}_dd", docs, cpus))
    val (_, appMm) = timed(MediaIndexLayout.appendDeltaDocs(spark,
      s"${prefix}_mm", docs, cpus))
    val (_, appAnn) = timed(AnnIndexLayout.appendDeltaVectors(spark,
      s"${prefix}_ann", vecs, cpus))
    // the split-table leg of IngestGate.appendDelta, inlined
    val (_, appSplit) = timed {
      BucketedTables.appendBucketed(
        docs.select(col("doc_id"), DedupQueries.isTrainOf.as("is_train"))
          .join(BucketedTables.read(spark, s"${prefix}_split")
              .select(col("doc_id"))
              .join(broadcast(ids), Seq("doc_id"), "left_semi").distinct(),
            Seq("doc_id"), "left_anti"),
        s"${prefix}_split", "doc_id", cpus)
      spark.catalog.refreshTable(s"${prefix}_split")
    }
    val (_, appendReplay) = timed(IngestGate.appendDelta(spark, prefix, docs,
      vecs, cpus))

    println(f"""{"metric":"gate_profile","unit":"sec","docs":$nDocs,"build_sec":$buildSec%.2f,"text_check":$text%.2f,"media_check":$media%.2f,"sem_check":$sem%.2f,"contam_sidecar":$contamCm%.2f,"contam_scan":$contamScan%.2f,"append_dd":$appDd%.2f,"append_mm":$appMm%.2f,"append_ann":$appAnn%.2f,"append_split":$appSplit%.2f,"append_replay":$appendReplay%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
