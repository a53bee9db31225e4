package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Shuffle-payload audit: runs each query and reports the MEASURED
  * shuffle write/read bytes and spill — the resources that actually
  * cap a 1000-executor run (SCALE.md reasons about shuffle payload
  * qualitatively; this is the number). Complements PlanAudit (shape)
  * and Bench (wall time): three views of the same plans.
  *
  * Run: sbt "runMain graft.ShuffleAudit [sfDir]"
  * One JSON line per query + a total line.
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = SessionTuning.session(cpus, sfDir)
    val write = new AtomicLong; val read = new AtomicLong
    val spill = new AtomicLong; val records = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    def snap(): (Long, Long, Long, Long) =
      (write.get, read.get, spill.get, records.get)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = snap()
      try Measure.force(fn(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"shuffle-audit: $name FAILED: $e")
      }
      finally CacheScope.releaseAll(blocking = true)
      // listener events are async — drain before reading the counters
      org.apache.spark.sql.graft.ListenerDrain.drain(spark.sparkContext)
      val after = snap()
      val w = after._1 - before._1
      val r = after._2 - before._2
      val sp = after._3 - before._3
      println(s"""{"query":"$name","shuffle_write_bytes":$w,""" +
        s""""shuffle_read_bytes":$r,""" +
        s""""shuffle_records":${after._4 - before._4},"spill_bytes":$sp}""")
      (name, w)
    }
    val total = rows.map(_._2).sum
    println(s"""{"query":"TOTAL","shuffle_write_bytes":$total,"sf":"$sfDir"}""")
    spark.stop()
  }
}
