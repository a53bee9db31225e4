package graft.tools

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap

/** Per-JOB wall-time profile of one catalog query (optimization-round
  * instrumentation, guide §1: measure first). The heavy gate queries
  * are sequential chains of driver actions (Lloyd collects, walk
  * rungs), so the first question is not "which stage shuffles most"
  * (ShuffleAudit answers that) but "how many jobs run, how long is
  * each, and how much wall time is BETWEEN jobs" — driver-side
  * planning/collect gaps that no stage metric shows.
  *
  * Run: sbt "runMain graft.tools.JobProfile <query> [sfDir] [reps]"
  * Prints one line per job (start-offset, duration, gap since the
  * previous job's end, #tasks, callsite) and a summary: total wall,
  * Σjob, Σgap, and Σoverlap (the time a job started before the previous
  * one ended, which the gap clamps to 0). The session is
  * [[graft.SessionTuning.session]], the one the bench measures; set
  * other confs with `SPARK_GRAFT_JVM_OPTS="-Dspark.k=v"`.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = graft.SessionTuning.session(cpus, sfDir)
    case class J(id: Int, start: Long, var end: Long, var tasks: Int,
      site: String)
    val jobs = new ConcurrentHashMap[Int, J]()
    @volatile var order = Vector.empty[Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage (highest id) is named after the job's short
        // call site; nothing sets the `callSite.short` local property
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        jobs.put(e.jobId, J(e.jobId, e.time, -1L,
          e.stageInfos.map(_.numTasks).sum, site))
        order = order :+ e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      jobs.clear(); order = Vector.empty
      val t0 = System.nanoTime()
      val n = graft.Measure.force(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.releaseAll(blocking = true)
      org.apache.spark.sql.graft.ListenerDrain.drain(spark.sparkContext)
      // a job whose onJobEnd never arrived (end = -1) would turn into a
      // large negative duration silently corrupting Σjob/Σgap — drop it
      // loudly. A job that starts before the previous one ended adds
      // its negative gap to Σoverlap, not to Σgap.
      val (js, unfinished) = order.flatMap(id => Option(jobs.get(id)))
        .partition(_.end >= 0)
      if (unfinished.nonEmpty)
        println(s"  [jobprofile] WARNING: ${unfinished.size} jobs never " +
          s"reported onJobEnd (ids ${unfinished.map(_.id).mkString(",")}) — excluded")
      var prevEnd = -1L
      var sumJob = 0.0; var sumGap = 0.0; var sumOverlap = 0.0
      val base = js.headOption.map(_.start).getOrElse(0L)
      println(f"== rep $r: $name $n rows in $wall%.2fs, ${js.size} jobs ==")
      js.foreach { j =>
        val dur = (j.end - j.start) / 1e3
        val raw = if (prevEnd < 0) 0.0 else (j.start - prevEnd) / 1e3
        val gap = math.max(0.0, raw)
        sumJob += dur; sumGap += gap; sumOverlap -= math.min(0.0, raw)
        if (r == reps)
          println(f"  job ${j.id}%3d +${(j.start - base) / 1e3}%7.2fs dur $dur%6.3fs gap $gap%6.3fs tasks ${j.tasks}%4d  ${j.site}")
        prevEnd = j.end
      }
      println(f"  [jobprofile] wall $wall%.2fs  sum_job $sumJob%.2fs  sum_gap $sumGap%.2fs  sum_overlap $sumOverlap%.2fs  pre_first ${if (js.nonEmpty) (js.head.start - base) / 1e3 else 0.0}%.2fs")
      // cumulative Janino compile time/count (driver-wide): reveals
      // per-iteration codegen cache misses — a plan whose only change
      // is an inlined literal VALUE recompiles every job
      val cm = org.apache.spark.metrics.source.CodegenMetrics
      println(s"  [jobprofile] codegen compiled ${cm.METRIC_COMPILATION_TIME.getCount} units, " +
        f"total ${cm.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum / 1e3}%.2fs-ish compile time (cumulative histogram)")
    }
    spark.stop()
  }
}
