package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide instance). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      // deploy-time registration path for the custom expressions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Deterministic teardown: at JVM exit, Spark's own shutdown hook
    // (Hadoop priority 40 = FileSystem.SHUTDOWN_HOOK_PRIORITY + 30)
    // stops the SparkContext even while local tasks are still
    // reporting, and every late statusUpdate then hits the terminated
    // TaskResultGetter pool — the RejectedExecutionException spew that
    // made a full green `sbt test` run exit dirty. This hook runs
    // FIRST (higher Hadoop priority): stop any streaming query a spec
    // leaked, wait for in-flight jobs to drain (bounded), give the
    // local endpoint a beat to deliver the final status updates if a
    // job was still running, then stop the session cleanly so Spark's
    // own hook finds the context already stopped.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = try {
          s.streams.active.foreach(q =>
            try q.stop() catch { case _: Throwable => () })
          val deadline = System.currentTimeMillis() + 20000L
          var drained = false
          while (s.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
              System.currentTimeMillis() < deadline) {
            drained = true
            Thread.sleep(50L)
          }
          if (drained) Thread.sleep(200L)
          s.stop()
        } catch { case _: Throwable => () }
      }, 60, 30L, java.util.concurrent.TimeUnit.SECONDS)
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Write a fixture table as `<dir>/<name>.parquet` for query fns. */
  def writeFixture(dir: java.nio.file.Path, name: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(s"$name.parquet").toString)

  /** Drop EVERY catalog table/view named `<prefix>_*` and delete every
    * matching warehouse directory the catalog does not own — including
    * orphans stranded by a previous session/JVM (whose `DROP TABLE IF
    * EXISTS` is a no-op) and `.compact.old` swap leftovers. Enumerating
    * table names per suite leaks whenever a layout grows a sidecar;
    * sweeping the prefix cannot.
    *
    * NESTED-PREFIX HAZARD: the match is `startsWith(prefix + "_")`, so
    * dropPrefix("curd") also sweeps a sibling suite's "curd_ref_docs"
    * (prefix "curd_ref"). Suites whose prefixes extend each other must
    * either drop them together (every current call site does) or pick
    * non-extending prefixes. */
  def dropPrefix(prefix: String): Unit = {
    val pfx = prefix.toLowerCase + "_"
    spark.catalog.listTables().collect()
      .filter(_.name.toLowerCase.startsWith(pfx))
      .foreach { t =>
        // a VIEW (the ANN generation pointer) refuses DROP TABLE
        if (t.tableType == "VIEW") spark.sql(s"DROP VIEW IF EXISTS ${t.name}")
        else spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
      }
    val wh = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath)
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(wh)) {
      val live = spark.catalog.listTables().collect()
        .map(_.name.toLowerCase).toSet
      fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName.toLowerCase
        if (n.startsWith(pfx) && !live.contains(n))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** A fresh directory holding `srcDir`'s events table rewritten as
    * `files` parquet files, same columns and physical types: Spark plans
    * it as `files` splits where the one-file table is one. */
  def multiSplitEvents(srcDir: String, files: Int): String = {
    val out = tmpDir("graft-split").toString
    // the raw columns as stored: a nanos `ts` stays int64 nanos, as
    // graft.util.Tables.load expects to find it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$srcDir/events.parquet").repartition(files)
      .write.parquet(s"$out/events.parquet")
    out
  }

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }
}
