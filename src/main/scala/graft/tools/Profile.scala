package graft.tools

import graft.{Bench, CacheScope, Measure, SessionTuning, SparkEntry, Verify}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.util.control.NonFatal

/** Layered profile of catalog queries: one JSON line per query and rep.
  *
  * Each line splits the query's wall into driver planning
  * (`plan.analysis_s` / `plan.optimizer_s` / `plan.physical_s`, from
  * the outer QueryExecution's tracker plus every Dataset action an
  * operator runs while building its plan), Janino compile
  * (`codegen.units`, `codegen.compile_s`: JVM-wide deltas across the
  * run), scheduling (`sched.jobs`, `sched.tasks`, and `sched.job_s` =
  * the union of the job intervals, `sched.gap_s` = wall − union, the
  * driver time between jobs, `sched.overlap_s` = Σ job durations −
  * union) and data movement (`shuffle.write_mb`, `shuffle.read_mb`,
  * `spill.mb`, printed with 6 decimals, so byte-exact). The names and
  * the arithmetic are the benchmark trace's, so a program-side profile
  * and a benchmark trace compare field by field.
  *
  * Listeners are attached around each measurement and detached after
  * it, so [[measure]] also runs inside a shared session. A failing
  * query reports its cause in `error` and the sweep goes on; the last
  * rep of each query also prints one line per job (start offset,
  * duration, tasks, call site).
  *
  * Run: sbt "runMain graft.tools.Profile <sfDir> [reps] [qNN,…]"
  * (reps default 2: cold then warm; the prefix list selects queries
  * as SPARK_GRAFT_BENCH_ONLY does for Bench). The session is
  * [[graft.SessionTuning.session]] with SPARK_GRAFT_CPUS cores.
  */
object Profile {
  /** One finished job: epoch-millisecond interval, tasks, call site. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Int, site: String)

  /** One measurement of one query. `metrics` holds the dotted fields
    * in print order; `rows` is -1 when the query failed. */
  final case class Result(query: String, rows: Long, wallS: Double,
      metrics: Seq[(String, Double)], jobs: Seq[Job], error: Option[String])

  /** (job_s, gap_s, overlap_s) of job intervals in epoch ms over a
    * wall of `wallS` seconds: job_s is the length of their union,
    * gap_s the wall outside it (never negative: job stamps are whole
    * milliseconds and a job's end is posted just after its action
    * returns), overlap_s the time jobs ran concurrently. */
  def sched(wallS: Double, jobs: Seq[(Long, Long)]): (Double, Double, Double) = {
    var union = 0L
    var cur: Option[(Long, Long)] = None
    jobs.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case _ =>
          cur.foreach { case (cs, ce) => union += ce - cs }
          cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => union += ce - cs }
    val jobS = union / 1e3
    (jobS, math.max(0.0, wallS - jobS), jobs.map { case (s, e) => e - s }.sum / 1e3 - jobS)
  }

  private final class Recorder(spark: SparkSession) {
    private val started = mutable.Map.empty[Int, (Long, Int, String)]
    val jobs = mutable.ArrayBuffer.empty[Job]
    var tasks, written, read, spilled = 0L
    var analysisS, optimizerS, physicalS = 0.0
    private val codegenUnits0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    private val codegenNs0 = CodeGenerator.compileTime

    def phases(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def d(k: String): Double =
        ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      analysisS += d("analysis"); optimizerS += d("optimization"); physicalS += d("planning")
    }

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        // the result stage (highest id) is named after the job's call site
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        started(e.jobId) = (e.time, e.stageInfos.map(_.numTasks).sum, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
        started.remove(e.jobId).foreach { case (t0, n, site) =>
          jobs += Job(e.jobId, t0, e.time, n, site)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Recorder.this.synchronized { tasks += e.stageInfo.numTasks }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        Recorder.this.synchronized {
          written += m.shuffleWriteMetrics.bytesWritten
          read += m.shuffleReadMetrics.totalBytesRead
          spilled += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
    // actions an operator runs while building its plan (centroid
    // collects, counts) are Dataset actions and report here
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)

    /** Deliver queued events, detach, and report a job whose end never
      * arrived (it is left out of every sum). */
    def detach(query: String): Unit = {
      org.apache.spark.sql.graft.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      synchronized {
        if (started.nonEmpty)
          System.err.println(s"[profile] $query: ${started.size} jobs never " +
            s"reported their end (ids ${started.keys.toSeq.sorted.mkString(",")}), excluded")
      }
    }

    def codegen: (Double, Double) =
      ((CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenUnits0).toDouble,
        (CodeGenerator.compileTime - codegenNs0) / 1e9)
  }

  /** Build and run catalog query `name` on `dir` once, forced as Bench
    * forces it, with the profile listeners attached only meanwhile. */
  def measure(spark: SparkSession, name: String, dir: String): Result = {
    val rec = new Recorder(spark)
    var rows = -1L
    var error: Option[String] = None
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      rows = Measure.force(df)
      rec.phases(df.queryExecution)
    } catch { case NonFatal(e) => error = Some(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    try CacheScope.releaseAll(blocking = true) finally rec.detach(name)
    val (units, compileS) = rec.codegen
    val jobs = rec.jobs.sortBy(_.start).toSeq
    val (jobS, gapS, overlapS) = sched(wall, jobs.map(j => (j.start, j.end)))
    Result(name, rows, wall, Seq(
      "plan.analysis_s" -> rec.analysisS,
      "plan.optimizer_s" -> rec.optimizerS,
      "plan.physical_s" -> rec.physicalS,
      "codegen.units" -> units,
      "codegen.compile_s" -> compileS,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.tasks" -> rec.tasks.toDouble,
      "sched.job_s" -> jobS,
      "sched.gap_s" -> gapS,
      "sched.overlap_s" -> overlapS,
      "shuffle.write_mb" -> rec.written / 1e6,
      "shuffle.read_mb" -> rec.read / 1e6,
      "spill.mb" -> rec.spilled / 1e6), jobs, error)
  }

  private val Counts = Set("codegen.units", "sched.jobs", "sched.tasks")

  /** The JSON line of one measurement. */
  def line(r: Result, rep: Int): String = Bench.obj(Seq(
      "query" -> Verify.jsonString(r.query),
      "rep" -> rep.toString,
      "rows" -> r.rows.toString,
      "wall_s" -> Bench.num(r.wallS, 3)) ++
    r.metrics.map { case (k, v) => k -> Bench.num(v, if (Counts(k)) 0 else 6) } ++
    r.error.map(e => "error" -> Verify.jsonString(e)))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [reps] [qNN,…]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    val spark = SessionTuning.session(cpus, sfDir)
    try names.foreach { name =>
      (1 to reps).foreach { rep =>
        val r = measure(spark, name, sfDir)
        println(line(r, rep))
        if (rep == reps) {
          val base = r.jobs.headOption.map(_.start).getOrElse(0L)
          r.jobs.foreach { j =>
            println(f"  job ${j.id}%4d +${(j.start - base) / 1e3}%8.3fs " +
              f"dur ${(j.end - j.start) / 1e3}%7.3fs tasks ${j.tasks}%5d  ${j.site}")
          }
        }
      }
    } finally spark.stop()
  }
}
