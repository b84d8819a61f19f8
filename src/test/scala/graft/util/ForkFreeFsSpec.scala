package graft.util

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.IngestGate
import graft.streaming.EventsPipeline

/** Stream checkpoints and sink writes start no child process, and keep
  * Hadoop's local-file-system guarantees: the same mode bits, `.crc`
  * checksums verified on read, and no silent overwrite by an atomic
  * create. Process starts are counted by an in-process flight recording
  * of `jdk.ProcessStart`. */
class ForkFreeFsSpec extends SparkSpec {

  private def event(time: String, cust: String, session: Int): String =
    s"""{"event_type": "bill_payment", "event_time": "$time", "payload": {"customer_id": "$cust", "session_id": $session, "channel": "web_portal", "payment_amount": 12.5}}"""

  private def wave(i: Int): String = (6 to 9).map(h =>
    event(f"2025-06-04T$h%02d:${10 + i}%02d:00Z", s"CUST$i$h", i)).mkString("\n")

  private def put(in: JPath, i: Int): Unit =
    Files.write(in.resolve(s"part$i.jsonl"), wave(i).getBytes("UTF-8"))

  /** The `jdk.ProcessStart` events recorded while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { r.close(); Files.delete(f) }
  }

  private def frames(e: RecordedEvent): Seq[String] =
    e.getStackTrace.getFrames.asScala.toSeq.map(f =>
      s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  private def describe(es: Seq[RecordedEvent]): String =
    es.groupBy(e => (e.getString("command").takeWhile(_ != ' '),
        frames(e).find(f => f.startsWith("org.apache.spark") || f.startsWith("graft"))))
      .map { case (k, v) => s"${v.size} × $k" }.mkString("; ")

  private def hourly(spark: SparkSession, out: JPath): Set[Row] =
    EventsPipeline.readHourlyMetrics(spark, out.toString).collect().toSet

  test("three batches, three reads and a backfill start no process") {
    val in = tmpDir("graft-ff-in")
    val ckpt = tmpDir("graft-ff-ck")
    val out = tmpDir("graft-ff-out")
    val session = spark
    val starts = processStarts {
      val q = EventsPipeline.start(session, in.toString, ckpt.toString,
        out.toString, Trigger.ProcessingTime(0))
      try (1 to 3).foreach { i => put(in, i); q.processAllAvailable() }
      finally q.stop()
      (1 to 3).foreach(_ => hourly(session, out))
      EventsPipeline.backfillHourlyMetrics(session, in.toString, out.toString,
        "2025-06-04 00:00:00", "2025-06-05 00:00:00")
      EventsPipeline.compactHourlyMetrics(session, out.toString)
    }
    // a JVM's first session runs one-time probes (Hadoop's `setsid`
    // check, the executor's page size); they fork outside the file system
    val fsStarts = starts.filter(frames(_).exists(_.startsWith("org.apache.hadoop.fs.")))
    info(s"process starts: ${starts.size} (${describe(starts)}), ${fsStarts.size} from the file system")
    assert(fsStarts.isEmpty, describe(fsStarts))
    assert(hourly(spark, out).size == 4)
    assert(spark.conf.get(ForkFreeFs.ManagerKey) ==
      classOf[ForkFreeCheckpointFileManager].getName, "manager not left set")
  }

  test("files and directories get stock LocalFileSystem's mode bits") {
    def modes(fs: LocalFileSystem, umask: String): Seq[String] = {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      fs.initialize(URI.create("file:///"), conf)
      val root = tmpDir("graft-ff-mode")
      val file = new Path(root.toUri.toString + "d/e/f.bin")
      val os = fs.create(file)
      os.write(1); os.close()
      fs.mkdirs(new Path(root.toUri.toString + "g"))
      Seq("d", "d/e", "d/e/f.bin", "d/e/.f.bin.crc", "g").map(p =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(root.resolve(p))))
    }
    for (umask <- Seq("022", "027", "077")) {
      val stock = modes(new LocalFileSystem(), umask)
      assert(modes(new ForkFreeLocalFileSystem(), umask) == stock, s"umask $umask")
    }
  }

  test("a corrupted offsets file fails the restart with a checksum error") {
    val in = tmpDir("graft-ff-crc-in")
    val ckpt = tmpDir("graft-ff-crc-ck")
    val out = tmpDir("graft-ff-crc-out")
    put(in, 1)
    EventsPipeline.start(spark, in.toString, ckpt.toString, out.toString,
      Trigger.AvailableNow()).awaitTermination()
    val offsets = ckpt.resolve("agg/offsets")
    val latest = scala.util.Using.resource(Files.list(offsets))(_.iterator.asScala
      .map(_.getFileName.toString).filter(_.matches("\\d+")).maxBy(_.toLong))
    assert(Files.exists(offsets.resolve(s".$latest.crc")))
    // one digit of the batch timestamp: still a well-formed offsets
    // file, so only its checksum can tell
    val f = offsets.resolve(latest)
    val text = new String(Files.readAllBytes(f), "UTF-8")
    val at = """"batchTimestampMs":\d+""".r.findFirstMatchIn(text).get.end - 1
    val digit = text.charAt(at)
    Files.write(f, text.updated(at, if (digit == '9') '8' else (digit + 1).toChar)
      .getBytes("UTF-8"))
    put(in, 2)
    val e = intercept[Exception](EventsPipeline.start(spark, in.toString,
      ckpt.toString, out.toString, Trigger.AvailableNow()).awaitTermination())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ChecksumException]), causes.mkString("\n"))
  }

  test("createAtomic without overwrite onto an existing file throws") {
    val conf = spark.sessionState.newHadoopConf()
    for (manager <- Seq[(Path, Configuration) => CheckpointFileManager](
        new ForkFreeCheckpointFileManager(_, _),
        new FileContextBasedCheckpointFileManager(_, _))) {
      val dir = tmpDir("graft-ff-atomic")
      val fm = manager(new Path(dir.toUri), conf)
      val p = new Path(dir.toUri.toString + "a")
      def write(b: Int, overwrite: Boolean): Unit = {
        val s = fm.createAtomic(p, overwrite)
        s.write(b); s.close()
      }
      write(1, overwrite = false)
      intercept[FileAlreadyExistsException](write(2, overwrite = false))
      assert(Files.readAllBytes(dir.resolve("a")).toSeq == Seq(1.toByte), fm)
      // the losing temp file and its .crc are gone (Spark's own stream,
      // under the stock manager, leaves both behind)
      if (fm.isInstanceOf[ForkFreeCheckpointFileManager]) {
        val left = dir.toFile.list().toSet
        assert(left == Set("a", ".a.crc"), left)
      }
      write(3, overwrite = true)
      assert(Files.readAllBytes(dir.resolve("a")).toSeq == Seq(3.toByte), fm)
      assert(Files.exists(dir.resolve(".a.crc")), fm)
    }
  }

  test("a checkpoint written by Spark's default manager resumes unchanged") {
    def session(manager: Option[String]): SparkSession = {
      val s = spark.newSession()
      s.conf.unset(ForkFreeFs.ManagerKey)
      manager.foreach(s.conf.set(ForkFreeFs.ManagerKey, _))
      s
    }
    val stockName = classOf[FileContextBasedCheckpointFileManager].getName
    val stock = session(Some(stockName))
    val in = tmpDir("graft-ff-mix-in")
    val (ckA, outA) = (tmpDir("graft-ff-mix-cka"), tmpDir("graft-ff-mix-outa"))
    val (ckB, outB) = (tmpDir("graft-ff-mix-ckb"), tmpDir("graft-ff-mix-outb"))
    def run(s: SparkSession, ck: JPath, out: JPath): Unit =
      EventsPipeline.start(s, in.toString, ck.toString, out.toString,
        Trigger.AvailableNow()).awaitTermination()
    put(in, 1)
    run(stock, ckA, outA)
    run(stock, ckB, outB)
    put(in, 2)
    run(stock, ckA, outA)
    val forkFree = session(None)
    run(forkFree, ckB, outB)
    assert(stock.conf.get(ForkFreeFs.ManagerKey) == stockName, "caller's manager replaced")
    assert(forkFree.conf.get(ForkFreeFs.ManagerKey) ==
      classOf[ForkFreeCheckpointFileManager].getName)
    val expected = hourly(stock, outA)
    assert(expected.size == 4)
    assert(hourly(forkFree, outB) == expected)
  }

  test("a gate batch's checkpoint starts no process") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    dropPrefix("ffg")
    IngestGate.build(spark, dir, "ffg", buckets = 4,
      whereDocs = !(col("doc_id") % 5 === 3),
      whereVecs = !(col("vec_id") % 5 === 3))
    try {
      val rows = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("source"), col("text"))
        .join(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
        .as[(Long, String, String, Option[Array[Float]])].collect().toSeq
      val mem = MemoryStream[(Long, String, String, Option[Array[Float]])]
      var verdicts = 0L
      val starts = processStarts {
        val q = IngestGate.ingestStream(spark, dir, "ffg",
          mem.toDF().toDF("doc_id", "source", "text", "embedding"), buckets = 4,
          checkpoint = Some(tmpDir("graft-ff-gate-ck").toString)) { (b, _) =>
          verdicts += b.count()
        }
        try { mem.addData(rows); q.processAllAvailable() } finally q.stop()
      }
      assert(verdicts == rows.size)
      val checkpointForks = starts.filter(frames(_).exists(_.contains("CheckpointFileManager")))
      info(s"process starts over one gate batch: ${starts.size} " +
        s"(${describe(starts)}), ${checkpointForks.size} from checkpoint files")
      assert(checkpointForks.isEmpty, describe(checkpointForks))
    } finally dropPrefix("ffg")
  }
}
