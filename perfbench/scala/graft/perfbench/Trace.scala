package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around each call into a layer, plus Spark engine
  * counters scoped to them. A span's id travels to Spark as the local
  * property [[SpanKey]], so every job a layer call launches is charged
  * to that span; jobs a streaming query launches carry the engine's own
  * query and batch-id properties instead and are charged to
  * `batch:<queryId>:<batchId>`.
  * Disabled (the untraced end-to-end run), [[span]] only runs its body. */
final class Trace(val enabled: Boolean) {
  import Trace._
  import Clock.nowMs

  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer[Span]()
  private val current = new ThreadLocal[Span]

  /** Time `body` as a span named `name`, child of the thread's current
    * span, belonging to operation `op`. */
  def span[A](sc: SparkContext, name: String, op: Long)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val s = Span(nextId.getAndIncrement(), name, op,
        if (parent == null) 0L else parent.id, nowMs())
      spans.synchronized(spans += s)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        current.set(parent)
        sc.setLocalProperty(SpanKey, if (parent == null) null else parent.id.toString)
      }
    }

  val listener = new EngineListener

  def spansJson: String = spans.synchronized(spans.map(_.json).mkString("[", ",", "]"))
}

object Trace {
  val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val QueryKey = "sql.streaming.queryId"

  final case class Span(id: Long, name: String, op: Long, parent: Long,
      startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    def json: String =
      s"""{"id":$id,"name":${Json.str(name)},"op":$op,"parent":$parent,"start_ms":$startMs,"end_ms":${Json.num(endMs)}}"""
  }

  /** Engine work charged to one span or one streaming batch. */
  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleWriteBytes, spillBytes = 0L
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_run_ms":$runMs,"gc_ms":$gcMs,"shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes}"""
  }

  /** Listener that charges jobs, stages and task metrics to the span or
    * streaming batch that launched them. */
  final class EngineListener extends SparkListener {
    private val byKey = new ConcurrentHashMap[String, Counters]()
    private val stageKey = new ConcurrentHashMap[Integer, String]()

    private def counters(key: String): Counters =
      byKey.computeIfAbsent(key, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val key = prop(SpanKey).map("span:" + _)
        .orElse(prop(BatchKey).map(b => s"batch:${prop(QueryKey).orNull}:$b"))
        .getOrElse("other")
      e.stageIds.foreach(id => stageKey.put(id, key))
      val c = counters(key)
      c.synchronized(c.jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val c = counters(stageKey.getOrDefault(e.stageInfo.stageId, "other"))
      c.synchronized(c.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageKey.getOrDefault(e.stageId, "other"))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def json: String = byKey.asScala.toSeq.sortBy(_._1)
      .map { case (k, c) => s"${Json.str(k)}:${c.json}" }.mkString("{", ",", "}")
  }
}
