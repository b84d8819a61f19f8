package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.util.Sessions

/** Dev-only: profile named queries from [[SparkEntry.queries]] under the
  * dev session profile ([[util.Sessions]], graft.Bench's regime). Per
  * query and rep it prints the wall seconds split into build (query
  * construction, eager fences included) and plan, plus scheduler-level
  * counters (jobs launched, stages, tasks, summed task time, summed
  * executor run+GC time, host steal ticks) — separating
  * driver/planning overhead from actual cluster work. `--explain` first
  * prints each query's formatted physical plan.
  *
  * Usage: runMain graft.Profile <q1,q2,...> [sfDir] [reps] [--explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.Profile <q1,q2,...> [sfDir] [reps] [--explain]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val explain = args.contains("--explain")
    val spark = Sessions.dev()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var runMs = 0L
    @volatile var gcMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
        if (t.taskMetrics != null) {
          runMs += t.taskMetrics.executorRunTime
          gcMs += t.taskMetrics.jvmGCTime
        }
      }
    })
    Sessions.warm(spark, sfDir)

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (explain) {
        // queries that end in Tables.released return a checkpointed RDD
        // scan; the plan that actually ran is stashed by released —
        // print that one when present (reset first: it is sticky across
        // queries in one session)
        graft.util.Tables.lastReleasedPlan = None
        val df = fn(spark, sfDir)
        graft.util.Tables.lastReleasedPlan match {
          case Some(qe) => println(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          case None => df.explain("formatted")
        }
        Sessions.dropCaches(spark)
      }
      (1 to reps).foreach { i =>
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L; runMs = 0L; gcMs = 0L
        val steal0 = graft.util.Steal.ticks()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimize+planning
        val tPlan = System.nanoTime()
        val n = df.count()
        val tEnd = System.nanoTime()
        Sessions.dropCaches(spark)
        // listener events are async; drain by waiting until the
        // counters go quiet (a fixed sleep undercounts on a loaded
        // host; the listener bus itself is private[spark])
        var snap = (jobs, stages, tasks)
        var quiet = 0
        val drainDeadline = System.currentTimeMillis() + 5000L
        while (quiet < 2 && System.currentTimeMillis() < drainDeadline) {
          Thread.sleep(100)
          val now = (jobs, stages, tasks)
          if (now == snap) quiet += 1 else { quiet = 0; snap = now }
        }
        println(f"[profile] $name rep $i: wall ${(tEnd - t0) / 1e9}%.2f s " +
          f"(build ${(tBuild - t0) / 1e9}%.2f plan ${(tPlan - tBuild) / 1e9}%.2f) " +
          f"rows $n jobs $jobs stages $stages " +
          f"tasks $tasks taskSum ${taskMs / 1e3}%.1f s run ${runMs / 1e3}%.1f s gc ${gcMs / 1e3}%.1f s " +
          f"steal ${graft.util.Steal.ticks() - steal0}")
      }
    }
    spark.stop()
  }
}
