package graft.util

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The one session profile of the dev mains, and the pieces of code
  * they share. A dev main builds its session through [[dev]], so what
  * it measures runs under the regime [[graft.Bench]] measures; an
  * override stays at the call site with its reason. `SessionsSpec`
  * checks that every literal config of `Bench.scala` (frozen, so it
  * cannot call this) is in [[profile]] with the same value. */
object Sessions {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, else the
    * host's core count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** graft.Bench's four plan-affecting configs (rationale at
    * Bench.scala): no static broadcast, AQE broadcast from the
    * materialized shuffle side, the sort-based shuffle writer always,
    * size-based AQE coalescing. Plus settings that leave plans alone;
    * the network timeout and heartbeat keep a decade-scale build's
    * multi-minute GC stall of the one local executor from killing the
    * run. */
  val profile: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64m",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.network.timeout" -> "1200s",
    "spark.executor.heartbeatInterval" -> "120s")

  /** Single-host fitting, not engine tuning, for the corpus-decade
    * mains: at the 100× decade the ~60 MB vector frame (~200k × 260 B)
    * must broadcast so the cosine verify joins run broadcast-hash. As
    * sort-merge, each candidate row drags its embedding through a
    * shuffle (~80 GB spill at W=8, ~220 GB at W=6) that filled this
    * host's disk; a cluster's aggregate shuffle capacity absorbs that
    * by design. Both thresholds are set: the adaptive one defaulted to
    * the static one before the profile pinned it. */
  val singleHostBroadcast: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "256m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "256m")

  /** A `local[cpus]` session under [[profile]] with a fresh warehouse
    * directory; `overrides` win over the profile. */
  def dev(overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-dev-wh").toString)
    (profile ++ overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drop what a query left cached, so a later query or rep never times
    * against a warm cache: `persist` lives in the cache manager,
    * `localCheckpoint` blocks at the RDD layer outside it. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Untimed warm-up: parquet file indexes, codegen compiler and JIT
    * are one-time costs that would otherwise land on the first query. */
  def warm(spark: SparkSession, dirs: String*): Unit =
    for (dir <- dirs; n <- Tables.names)
      try Tables.load(spark, dir, n).count()
      catch { case _: Throwable => () }

  /** `rows` in order, split into exactly min(batches, rows) micro-batches
    * whose sizes differ by at most one. Floor division would yield more
    * batches than asked (85 / 4 -> groups of 21 -> 5 batches) and ceil
    * division fewer (9 / 4 -> groups of 3 -> 3 batches), either way
    * skewing per-batch stats across runs of different row counts. */
  def groups[T](rows: collection.Seq[T], batches: Int): Seq[Seq[T]] = {
    val (n, k) = (rows.size, math.min(math.max(batches, 1), rows.size))
    (0 until k).map(i => rows.slice(i * n / k, (i + 1) * n / k).toSeq)
  }

  /** Per-batch seconds, wall seconds and steal ticks of a [[replay]]. */
  case class Replay(batchSecs: Seq[Double], wall: Double, steal: Long) {
    def avg: Double = batchSecs.sum / batchSecs.size
    def max: Double = batchSecs.max
  }

  /** Replay `groups` through a `MemoryStream`: `start` turns its stream
    * into the query under test, then each group is one micro-batch
    * (`addData` + `processAllAvailable`). The query is stopped after. */
  def replay[T: Encoder](spark: SparkSession, groups: Seq[Seq[T]])(
      start: Dataset[T] => StreamingQuery): Replay = {
    val mem = MemoryStream[T](implicitly[Encoder[T]], spark)
    val q = start(mem.toDS())
    try {
      val st0 = Steal.ticks()
      val (secs, wall) = timed(groups.map { g =>
        timed { mem.addData(g); q.processAllAvailable() }._2
      })
      Replay(secs, wall, Steal.ticks() - st0)
    } finally q.stop()
  }
}
