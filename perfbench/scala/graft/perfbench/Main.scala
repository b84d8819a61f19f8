package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  * `graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *  <dataDir> <workDir> <outJson>`.
  * Sets up the workload, measures it for `seconds`, checks its outputs
  * and writes every raw sample to `outJson`; `perfbench/run.py` turns
  * the samples into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, dataDir, workDir, outJson) = args
    val run = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      coresS.toInt, dataDir, workDir)
    val spark = session(run)
    run.sessionReady()
    try {
      workload match {
        case "events_stream" => EventsStream.run(spark, run)
        case "dashboards" => Dashboards.run(spark, run)
        case other => sys.error(s"unknown workload $other")
      }
      Files.write(Paths.get(outJson), run.json(spark).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** The session regime `graft.Bench` measures under (see Bench.scala for
    * why each setting is there), at `cores` local cores. */
  def session(run: Run): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${run.cores}]")
      .config("spark.sql.shuffle.partitions", run.cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${run.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${run.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (run.trace.enabled) spark.sparkContext.addSparkListener(run.trace.listener)
    spark
  }
}

/** State shared by a run: timings, samples, checks, trace. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    traced: Boolean, val cores: Int, val dataDir: String, val workDir: String) {
  val trace = new Trace(traced)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val stealAtStart = graft.util.Steal.ticks()
  private var sessionS = Double.NaN
  private val setupRepsS = ArrayBuffer[Double]()
  private var setupOnceS = 0.0
  private var stealSetup, stealMeasure = 0L
  private var windowS = Double.NaN
  private var stealMark = 0L
  private var windowStart = 0.0

  /** Operation records (one JSON object each) and output checks. */
  val ops = ArrayBuffer[String]()
  val checks = ArrayBuffer[String]()
  val extra = ArrayBuffer[(String, String)]()

  def sessionReady(): Unit =
    sessionS = (Clock.nowMs() - jvmStartMs) / 1e3

  /** One repetition of the workload's repeatable set-up step. */
  def setupRep[A](body: => A): A = {
    val (a, s) = Run.timed(body); setupRepsS += s; a
  }

  /** Set-up work done once per run (index build, warm-up pass). */
  def setupOnce[A](body: => A): A = {
    val (a, s) = Run.timed(body); setupOnceS += s; a
  }

  def startWindow(): Unit = {
    stealSetup = graft.util.Steal.ticks() - stealAtStart
    stealMark = graft.util.Steal.ticks()
    windowStart = Clock.nowMs()
  }

  def endWindow(): Unit = {
    windowS = (Clock.nowMs() - windowStart) / 1e3
    stealMeasure = graft.util.Steal.ticks() - stealMark
  }

  /** Still inside the measurement window? */
  def inWindow: Boolean = Clock.nowMs() - windowStart < seconds * 1e3

  def windowStartMs: Double = windowStart

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Json.obj("name" -> Json.str(name), "ok" -> ok.toString,
      "detail" -> Json.str(detail))

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def json(spark: SparkSession): String = {
    if (trace.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val med = {
      val s = setupRepsS.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> trace.enabled.toString,
      "cores" -> cores.toString,
      "host" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "java" -> Json.str(System.getProperty("java.version")),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString),
      "session_s" -> Json.num(sessionS),
      "setup_reps_s" -> Json.arr(setupRepsS.map(Json.num)),
      "setup_once_s" -> Json.num(setupOnceS),
      "setup_s" -> Json.num(sessionS + med + setupOnceS),
      "steal_setup" -> stealSetup.toString,
      "steal_measure" -> stealMeasure.toString,
      "window_s" -> Json.num(windowS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "ops" -> Json.arr(ops),
      "checks" -> Json.arr(checks),
      "extra" -> Json.obj(extra.toSeq: _*),
      "spans" -> trace.spansJson,
      "engine" -> (if (trace.enabled) trace.listener.json else "{}"))
  }
}

object Run {
  /** `body`'s result and its wall time in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
