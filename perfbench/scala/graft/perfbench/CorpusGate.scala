package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, SimilarityQueries}
import graft.sources.{AnnIndexLayout, IngestGate}

/** The LLM-data corpus behind the dashboards' ANN panel.
  *
  * Set-up builds the index over the corpus split. An untraced run builds
  * only the `_ann` index the requests read (`AnnIndexLayout.build`). A
  * traced run builds all of the snapshot gate's indexes
  * (`IngestGate.build`) and files one delta batch through
  * `IngestGate.ingestStream` (text, media, semantic and decontamination
  * checks, then the dd/mm/ann appends) for its per-layer figures; the
  * run budget does not hold those in every run. Requests are
  * `AnnIndexLayout.serve` calls against the `_ann` index. */
object CorpusGate {
  val Prefix = "pb_gate"
  val BatchDocs = 100
  val TopK = 10

  /** Build the index (traced: the gate, and file a batch); the request: every
    * registered query vector (`isQuery`), so every call does the same
    * work. */
  def setup(spark: SparkSession, run: Run): Seq[(Long, Array[Float])] = {
    import spark.implicits._
    val dir = run.dataDir
    val (_, buildS) = Run.timed(
      if (run.trace.enabled) IngestGate.build(spark, dir, Prefix, buckets = run.cores,
        whereDocs = !DedupQueries.DeltaPred, whereVecs = !DedupQueries.DeltaVecPred)
      else AnnIndexLayout.build(spark, dir, s"${Prefix}_ann", buckets = run.cores,
        where = !DedupQueries.DeltaVecPred))
    run.extra += "build_s" -> Json.num(buildS)
    if (run.trace.enabled) fileDeltaBatch(spark, run, new scala.util.Random(run.seed))
    run.extra += "index_files" -> AnnIndexFiles.count(spark, Prefix).toString
    graft.util.Tables.load(spark, dir, "embeddings")
      .filter(SimilarityQueries.isQuery).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
  }

  /** File one seeded delta batch (docs split off by `DeltaPred`, each
    * with its vector when it has one) through the gate and record it. */
  private def fileDeltaBatch(spark: SparkSession, run: Run, rnd: scala.util.Random): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val dir = run.dataDir
    val delta = graft.util.Tables.load(spark, dir, "documents")
      .filter(DedupQueries.DeltaPred).select(col("doc_id"), col("source"), col("text"))
      .join(graft.util.Tables.load(spark, dir, "embeddings").filter(DedupQueries.DeltaVecPred)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
      .as[(Long, String, String, Option[Array[Float]])].collect().sortBy(_._1)
    val batch = rnd.shuffle(delta.toSeq).take(BatchDocs)

    val mem = MemoryStream[(Long, String, String, Option[Array[Float]])]
    @volatile var checkMs = 0.0
    @volatile var verdicts: Array[org.apache.spark.sql.Row] = Array()
    val q = IngestGate.ingestStream(spark, dir, Prefix,
      mem.toDF().toDF("doc_id", "source", "text", "embedding"), buckets = run.cores) { (res, b) =>
      val c0 = Clock.nowMs()
      verdicts = run.trace.span(sc, "sources.IngestGate.check", b)(
        res.select("doc_id", "text_dup", "media_dup", "sem_dup", "eval_contam").collect())
      checkMs = Clock.nowMs() - c0
    }
    val b0 = Clock.nowMs()
    mem.addData(batch: _*)
    q.processAllAvailable()
    val wall = Clock.nowMs() - b0
    q.stop()
    def flagged(c: String) = verdicts.count(_.getAs[Long](c) == 1L)
    val ids = verdicts.map(_.getLong(0)).toSet
    run.ops += Json.obj("kind" -> "\"gate_batch\"", "op" -> "0",
        "docs" -> batch.size.toString, "wall_ms" -> Json.num(wall),
        "check_ms" -> Json.num(checkMs), "verdicts" -> verdicts.length.toString,
        "flagged_text" -> flagged("text_dup").toString,
        "flagged_media" -> flagged("media_dup").toString,
        "flagged_sem" -> flagged("sem_dup").toString,
        "flagged_contam" -> flagged("eval_contam").toString,
        "ok" -> (verdicts.length == batch.size && ids == batch.map(_._1).toSet).toString)
    run.extra += "gate_query_id" -> Json.str(q.id.toString)
  }

  /** One ANN serve call; its op record. */
  def serveOnce(spark: SparkSession, run: Run, qs: Seq[(Long, Array[Float])],
      op: Long): String = {
    import spark.implicits._
    val sc = spark.sparkContext
    val t0 = Clock.nowMs()
    var t1, t2 = 0.0
    val ok = try run.trace.span(sc, "serve", op) {
      val df = run.trace.span(sc, "sources.AnnIndexLayout.serve_construct", op)(
        AnnIndexLayout.serve(spark, run.dataDir, s"${Prefix}_ann",
          qs.toDF("vec_id", "embedding"), excludeSelf = true))
      t1 = Clock.nowMs()
      run.trace.span(sc, "serve_plan", op)(df.queryExecution.executedPlan)
      t2 = Clock.nowMs()
      val rows = run.trace.span(sc, "serve_exec", op)(df.collect())
      val perQuery = rows.groupBy(_.getAs[Long]("q_id")).map(_._2.length)
      perQuery.size == qs.map(_._1).distinct.size && perQuery.forall(_ == TopK)
    } catch { case scala.util.control.NonFatal(_) => false }
    val t3 = Clock.nowMs()
    Json.obj("kind" -> "\"serve\"", "op" -> op.toString, "queries" -> qs.size.toString,
      "start_ms" -> Json.num(t0), "construct_ms" -> Json.num(t1 - t0),
      "plan_ms" -> Json.num(t2 - t1), "exec_ms" -> Json.num(t3 - t2),
      "end_ms" -> Json.num(t3), "ok" -> ok.toString)
  }
}

/** Data files under the ANN index's live generation. */
object AnnIndexFiles {
  def count(spark: SparkSession, prefix: String): Long = {
    val phys = AnnIndexLayout.livePrefix(spark, s"${prefix}_ann")
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(phys.toLowerCase + "_"))
      .map(t => spark.table(t).inputFiles.length.toLong).sum
  }
}
