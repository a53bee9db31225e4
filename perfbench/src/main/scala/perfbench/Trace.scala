package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

import scala.collection.mutable

/** One traced span: `start`/`end` are epoch milliseconds. */
final case class Span(id: String, parent: String, layer: String, name: String,
    start: Long, end: Long)

/** Listeners the harness attaches around a traced pass, and detaches
  * after it, so untraced passes run with none of them registered.
  *
  * Everything here reads Spark's public listener APIs; the program
  * under test is not instrumented. Counters are summed over the pass;
  * job and stage intervals are kept as spans so the union arithmetic
  * (overlapping jobs, self time per layer) happens on raw intervals.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def snapshot: Map[String, Double] = synchronized(counters.toMap)
  private val jobs = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, Seq[Int])]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]

  def add(key: String, v: Double): Unit = synchronized { counters(key) += v }
  def peak(key: String, v: Double): Unit = synchronized { counters(key) = math.max(counters(key), v) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.remove(e.jobId).foreach { case (t0, st) => jobSpans += ((e.jobId, t0, e.time, st)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) Trace.this.synchronized {
        stageSpans += ((i.stageId, i.attemptNumber(), s, c))
      }
      add("sched.tasks", i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("scan.mb", m.inputMetrics.bytesRead / 1e6)
      add("scan.rows", m.inputMetrics.recordsRead)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.mb", (m.diskBytesSpilled + m.memoryBytesSpilled) / 1e6)
    }
  }

  // Actions an operator runs while building its plan (collects of
  // centroids, counts) are Dataset actions, reported here; the outer
  // query's own phases are read from its QueryExecution by the caller.
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.add_batch_s", d("addBatch"))
      add("stream.plan_s", d("queryPlanning"))
      add("stream.wal_s", d("walCommit"))
      p.stateOperators.foreach { s =>
        add("stream.state_commit_s", s.commitTimeMs / 1e3)
        add("stream.late_rows", s.numRowsDroppedByWatermark)
        peak("stream.state_rows", s.numRowsTotal)
        peak("stream.state_mb", s.memoryUsedBytes / 1e6)
      }
    }
  }

  /** Add the analysis / optimization / physical-planning phase times of
    * one QueryExecution to the pass counters. */
  def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String): Double = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    add("plan.analysis_s", d("analysis"))
    add("plan.optimizer_s", d("optimization"))
    add("plan.physical_s", d("planning"))
  }

  private var codegenCount = 0L
  private var codegenNs = 0L

  def attach(): Unit = {
    codegenCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNs = CodeGenerator.compileTime
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for queued listener events, then detach. The codegen counters
    * are JVM-global, so the pass gets the delta across it. */
  def detach(): Unit = {
    Trace.drain(spark)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    add("codegen.units", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount)
    add("codegen.compile_s", (CodeGenerator.compileTime - codegenNs) / 1e9)
  }

  /** Job spans parented to the innermost enclosing span in `parents`
    * (a call or a micro-batch), stage spans to their job. Jobs that ran
    * outside every parent window (harness bookkeeping) are dropped. */
  def spans(parents: Seq[Span]): Seq[Span] = synchronized {
    val stageJob = mutable.Map.empty[Int, Int]
    val out = mutable.ArrayBuffer.empty[Span]
    for ((id, t0, t1, stages) <- jobSpans.sortBy(_._2)) {
      val enclosing = parents.filter(p => p.start <= t0 && t0 <= p.end)
      if (enclosing.nonEmpty) {
        val parent = enclosing.maxBy(_.start)
        out += Span(s"j$id", parent.id, "job", s"job $id", t0, t1)
        stageJob ++= stages.map(_ -> id)
      }
    }
    for ((sid, att, t0, t1) <- stageSpans; job <- stageJob.get(sid))
      out += Span(s"s$sid.$att", s"j$job", "stage", s"stage $sid", t0, t1)
    out.toSeq
  }
}

object Trace {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.ListenerDrain.drain(spark.sparkContext)
}
