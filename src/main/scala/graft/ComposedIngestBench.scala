package graft

import org.apache.spark.sql.functions._

import graft.sources.{CuratedCorpusLayout, IngestGate}
import graft.util.Sessions

/** Composed-vs-sequential snapshot ingest: the win
  * [[graft.sources.IngestGate.ingestAndCurate]] exists for, measured.
  *
  * A deployment that runs the gate (checkDelta + appendDelta) and then
  * the curated refresh per snapshot pays the delta's doc-dedup /
  * shingle / MinHash-sign passes once PER CONSUMER; the composed path
  * materializes them once and threads them through all consumers.
  * Two independent prefix-set builds (identical state), then the
  * COMPOSED path is timed FIRST — the ordering bias (JIT, page cache)
  * favors the sequential leg, so the reported ratio is conservative.
  * IngestAndCurateSpec pins the two paths byte-equal; this measures
  * the gap. */
object ComposedIngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.dev(Sessions.singleHostBroadcast: _*)
    import Sessions.timed
    val buckets = 8
    // the daily-crawl shape (CuratedDeltaBench's bound): a bounded
    // delta against a corpus that is everything else
    val bound = sys.env.get("SPARK_GRAFT_DELTA_BOUND").map(_.toLong)
      .getOrElse(Long.MaxValue)
    // both grains from the ONE split definition, so a retuned
    // DeltaMod/DeltaRes can never pair a doc delta with a stale
    // vector split (the two would drift silently — every internal
    // require() still passes on an incoherent snapshot)
    val dPred = graft.queries.DedupQueries.DeltaPred && col("doc_id") < bound
    val vPred = graft.queries.DedupQueries.DeltaVecPred &&
      col("vec_id") < bound
    val deltaDocs = graft.util.Tables.load(spark, sfDir, "documents")
      .filter(dPred).select(col("doc_id"), col("source"), col("text"))
    val deltaVecs = graft.util.Tables.load(spark, sfDir, "embeddings")
      .filter(vPred).select(col("vec_id"), col("embedding"))
    val nDelta = deltaDocs.count()

    def buildSet(g: String, c: String): Double = timed {
      IngestGate.build(spark, sfDir, g, buckets, whereDocs = !dPred,
        whereVecs = !vPred)
      CuratedCorpusLayout.buildIncremental(spark, sfDir, c, buckets,
        where = !dPred, whereVec = !vPred)
    }._2
    val build1 = buildSet("cib_g1", "cib_c1")
    val build2 = buildSet("cib_g2", "cib_c2")

    // composed FIRST (conservative ordering)
    val (nV1, composedSec) = timed(
      IngestGate.ingestAndCurate(spark, sfDir, "cib_g1", "cib_c1",
        deltaDocs, deltaVecs, buckets).count())
    // sequential: check (materialized) -> file -> refresh
    val (nV2, sequentialSec) = timed {
      val v = IngestGate.checkDelta(spark, sfDir, "cib_g2", deltaDocs,
        deltaVecs).localCheckpoint(true)
      val n = v.count()
      IngestGate.appendDelta(spark, "cib_g2", deltaDocs, deltaVecs, buckets)
      CuratedCorpusLayout.refresh(spark, sfDir, "cib_c2", deltaDocs,
        deltaVecs, buckets)
      n
    }
    require(nV1 == nV2, s"verdict counts diverged: $nV1 vs $nV2")
    val n1 = CuratedCorpusLayout.serve(spark, "cib_c1").count()
    val n2 = CuratedCorpusLayout.serve(spark, "cib_c2").count()
    require(n1 == n2, s"served counts diverged: $n1 vs $n2")
    println(f"""{"metric":"composed_ingest_sec","value":$composedSec%.2f,"unit":"sec","sequential_sec":$sequentialSec%.2f,"ratio":${composedSec / sequentialSec}%.3f,"delta_docs":$nDelta,"verdicts":$nV1,"docs_served":$n1,"build1_sec":$build1%.2f,"build2_sec":$build2%.2f,"sf":${util.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
