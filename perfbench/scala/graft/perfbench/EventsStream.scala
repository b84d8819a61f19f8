package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.EventsPipeline

/** `events_stream`: the reference's core path, open loop.
  *
  * A generator thread moves pre-rendered JSONL files into the input
  * directory on a fixed schedule (live phase); `EventsPipeline.start`
  * runs with `Trigger.ProcessingTime(0)`; a reader thread reads the live
  * sink on its own schedule. Then the rest of the input lands in a few
  * waves, each at once (catch-up), and the stream drains each alone. Each
  * file is timed from when it was due to the commit of the batch that
  * read it. */
object EventsStream {
  val LiveFileEvents = 250
  val LiveIntervalMs = 125.0 // 2,000 events/s
  val CatchupFileEvents = 2500
  val ReadIntervalMs = 500.0
  val InvalidShare = 0.01
  val QuietMs = 1000.0 // no progress this long: the stream is idle
  // the catch-up throughput is the median over this many waves: one
  // wave is a single batch, and a second of host noise moved it by 30%
  val CatchupWaves = 3
  val LiveShare = 0.8 // of --seconds; the catch-up takes about the rest
  // the set-up's warm-up streams this many batches of about the size of
  // a live batch: after a single small batch the first live batches ran
  // up to 20% slower than the last
  val WarmBatches = 4
  val WarmFilesPerBatch = 8

  /** One rendered input file. */
  final case class InFile(name: String, lines: Seq[String], invalid: Int, catchup: Boolean)

  /** Reference-shaped invalid lines (FIXTURES.md A.4). */
  private val invalidLines = Seq(
    "not a valid json",
    """{"event_type": "user_login"}""",
    """{"event_type": "", "event_time": "2024-01-01T00:00:00", "payload": {}}""",
    """{"event_type": "bill_payment", "event_time": "invalid-date", "payload": {"customer_id": "CUST1", "session_id": 1, "channel": "web_portal", "payment_amount": 1.0}}""",
    """{"event_type": "tariff_switch", "event_time": "2024-01-01T00:00:00", "payload": {"customer_id": "CUST1", "session_id": 1, "channel": "web_portal"}}""",
    """{"event_type": "meter_reboot", "event_time": "2024-01-01T00:00:00", "payload": {"customer_id": "CUST1"}}""")

  /** Cut `lines` into live files then catch-up files; shuffle each file
    * (seeded; a file spans well under the 24 h watermark) and insert
    * about 1% seeded invalid lines. */
  def render(lines: Array[String], liveFiles: Int, seed: Long): Seq[InFile] = {
    val rnd = new scala.util.Random(seed)
    val live = math.min(liveFiles * LiveFileEvents, lines.length)
    val cuts = (0 until live by LiveFileEvents).map(i => (i, math.min(i + LiveFileEvents, live), false)) ++
      (live until lines.length by CatchupFileEvents)
        .map(i => (i, math.min(i + CatchupFileEvents, lines.length), true))
    cuts.zipWithIndex.map { case ((a, b, catchup), n) =>
      val valid = lines.slice(a, b).toSeq
      val bad = (0 until valid.size).count(_ => rnd.nextDouble() < InvalidShare)
      val mixed = rnd.shuffle(valid ++ Seq.fill(bad)(invalidLines(rnd.nextInt(invalidLines.size))))
      InFile(f"part-$n%05d.json", mixed, bad, catchup)
    }
  }

  private def write(dir: Path, f: InFile): Unit =
    Files.write(dir.resolve(f.name), f.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  private def moveIn(staging: Path, in: Path, f: InFile): Unit =
    Files.move(staging.resolve(f.name), in.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)

  private def dir(p: String): Path = Files.createDirectories(Paths.get(p))

  /** Run the pipeline over `files` to completion (AvailableNow, in
    * batches of live size) and read the sink once: the set-up's
    * warm-up. */
  private def warmUp(spark: SparkSession, base: String, files: Seq[InFile]): Unit = {
    val in = dir(s"$base/in")
    files.foreach(write(in, _))
    val q = EventsPipeline.start(spark, in.toString, s"$base/ckpt", s"$base/out",
      Trigger.AvailableNow(), maxFilesPerTrigger = Some(WarmFilesPerBatch))
    q.awaitTermination()
    EventsPipeline.readHourlyMetrics(spark, s"$base/out").collect()
  }

  /** Progress events of one query, as Spark's own JSON. */
  final class Progress(id: java.util.UUID) extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var lastLogOffset = -1L
    @volatile var lastEventMs = Clock.nowMs()
    @volatile var lastRows = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == id) {
        lastEventMs = Clock.nowMs()
        lastRows = e.progress.numInputRows
        events.add(e.progress.json)
        e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(o => "\\d+".r.findFirstIn(o).get.toLong)
          .foreach(o => lastLogOffset = math.max(lastLogOffset, o))
      }
  }

  /** Source-log batch of each file the stream has read. */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val log = Paths.get(s"$ckpt/agg/sources/0")
    val entry = """\{"path":"([^"]+)".*"batchId":(\d+)""".r
    listDir(log).filter(_.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => Files.readAllLines(p).asScala.flatMap(l => entry.findFirstMatchIn(l))
        .map(m => m.group(1).split('/').last -> m.group(2).toLong))
      .toMap
  }

  private def listDir(d: Path): Seq[Path] =
    if (!Files.exists(d)) Nil
    else scala.util.Using.resource(Files.list(d))(_.iterator.asScala.toList)

  def run(spark: SparkSession, run: Run): Unit = {
    // the events as reference envelopes (perfbench/gen.py), in event order
    val lines = run.setupOnce(Files.readAllLines(Paths.get(s"${run.dataDir}/events.jsonl")).asScala.toArray)
    val liveFiles = math.max(10, (run.seconds * LiveShare * 1000 / LiveIntervalMs).toInt)
    val w = run.workDir
    // repeatable set-up: render and stage the inputs; then warm the
    // pipeline up once
    var files: Seq[InFile] = Nil
    for (rep <- 0 until 3) run.setupRep {
      files = render(lines, liveFiles, run.seed)
      val staging = dir(s"$w/staging$rep")
      files.foreach(write(staging, _))
    }
    run.setupOnce(warmUp(spark, s"$w/warm", files.take(WarmBatches * WarmFilesPerBatch)))
    val staging = Paths.get(s"$w/staging2")
    val in = dir(s"$w/in")
    val ckpt = s"$w/ckpt"
    val out = s"$w/out"
    val sink = Paths.get(s"$out/hourly_business_metrics")

    val q = EventsPipeline.start(spark, in.toString, ckpt, out, Trigger.ProcessingTime(0))
    val progress = new Progress(q.id)
    spark.streams.addListener(progress)
    val sc = spark.sparkContext
    val reads = ArrayBuffer[String]()
    @volatile var reading = true
    val (live, catchup) = files.partition(!_.catchup)
    val due = new Array[Double](files.size)
    val moved = new Array[Double](files.size)
    Thread.sleep(500)

    run.startWindow()
    val t0 = run.windowStartMs + 100
    val generator = new Thread(() => live.indices.foreach { i =>
      due(i) = t0 + i * LiveIntervalMs
      val wait = due(i) - Clock.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      moveIn(staging, in, live(i))
      moved(i) = Clock.nowMs()
    }, "perfbench-generator")
    val reader = new Thread(() => {
      var n = 0L
      while (reading) {
        val dueR = t0 + n * ReadIntervalMs
        val wait = dueR - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong)
        val nFiles = listDir(sink).count(_.toString.endsWith(".parquet"))
        // the table exists once the first batch has committed into it
        if (reading && nFiles > 0) {
          val op = 1000000L + n
          val s0 = Clock.nowMs()
          var p0, p1 = 0.0
          var err = ""
          val ok = try {
            run.trace.span(sc, "read", op) {
              val df = run.trace.span(sc, "read.construct", op)(
                EventsPipeline.readHourlyMetrics(spark, out))
              p0 = Clock.nowMs()
              run.trace.span(sc, "read.plan", op)(df.queryExecution.executedPlan)
              p1 = Clock.nowMs()
              run.trace.span(sc, "read.exec", op)(df.collect())
            }
            true
          } catch { case scala.util.control.NonFatal(x) => err = x.toString; false }
          val e = Clock.nowMs()
          reads += Json.obj("kind" -> "\"read\"", "op" -> op.toString,
            "start_ms" -> Json.num(s0), "plan_ms" -> Json.num(p1 - p0),
            "exec_ms" -> Json.num(e - p1), "end_ms" -> Json.num(e),
            "sink_files" -> nFiles.toString, "ok" -> ok.toString, "error" -> Json.str(err))
        }
        n += 1
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join()

    /** Wait until the first `nFiles` files are read and their batches
      * committed. */
    def drained(nFiles: Int, limitS: Double): Boolean = {
      val give = Clock.nowMs() + limitS * 1e3
      def done: Boolean = {
        val m = fileBatches(ckpt)
        m.size >= nFiles && progress.lastLogOffset >= m.values.max
      }
      while (!done) {
        if (Clock.nowMs() > give || q.exception.isDefined) return false
        Thread.sleep(20)
      }
      true
    }
    /** Wait until the stream is idle. A data batch that moved the
      * watermark is followed by a no-data batch: let that end too, so
      * the next wave's clock never starts behind it. */
    def awaitIdle(): Unit = {
      val give = Clock.nowMs() + 5000
      while (progress.lastRows != 0 && Clock.nowMs() - progress.lastEventMs < QuietMs &&
        Clock.nowMs() < give) Thread.sleep(20)
    }
    val liveOk = drained(live.size, 60)
    // the reader serves the live phase; the catch-up drains alone, so its
    // throughput is the stream's per-event cost
    reading = false
    reader.join()
    // catch-up: the rest lands in CatchupWaves outages, each wave at once
    // and drained before the next lands
    var catchOk = liveOk
    catchup.indices.grouped(math.ceil(catchup.size.toDouble / CatchupWaves).toInt).foreach { wave =>
      if (catchOk) {
        awaitIdle()
        val land = Clock.nowMs()
        wave.foreach { i =>
          due(live.size + i) = land
          moveIn(staging, in, catchup(i))
          moved(live.size + i) = Clock.nowMs()
        }
        catchOk = drained(live.size + wave.last + 1, 60)
      }
    }
    run.endWindow()
    q.stop()
    spark.streams.removeListener(progress)

    val batchOf = fileBatches(ckpt)
    files.zipWithIndex.foreach { case (f, i) =>
      run.ops += Json.obj("kind" -> "\"file\"", "op" -> i.toString,
        "phase" -> Json.str(if (f.catchup) "catchup" else "live"),
        "events" -> (f.lines.size - f.invalid).toString, "invalid" -> f.invalid.toString,
        "due_ms" -> Json.num(due(i)), "moved_ms" -> Json.num(moved(i)),
        "log_batch" -> batchOf.get(f.name).map(_.toString).getOrElse("null"),
        "ok" -> batchOf.contains(f.name).toString)
    }
    run.ops ++= reads
    run.extra += "query_id" -> Json.str(q.id.toString)
    run.extra += "progress" -> Json.arr(progress.events.asScala)
    run.check("stream drained every file", liveOk && catchOk,
      s"${batchOf.size}/${files.size} files read; ${q.exception.map(_.toString).getOrElse("")}")

    // outputs: the live sink equals the batch computation over the same
    // files, and the dead-letter counter equals what was injected
    val batch = EventsPipeline.batchHourlyMetrics(spark, in.toString)
    val cols = batch.columns.toSeq
    def rows(df: DataFrame) = df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    val want = rows(batch)
    val got = rows(EventsPipeline.readHourlyMetrics(spark, out))
    val extraRows = got.diff(want).size
    val missing = want.diff(got).size
    run.check("readHourlyMetrics equals batchHourlyMetrics",
      catchOk && extraRows == 0 && missing == 0,
      s"${got.size} rows streamed, $extraRows extra, $missing missing")
    val injected = files.map(_.invalid).sum
    run.extra += "invalid_injected" -> injected.toString
  }
}
