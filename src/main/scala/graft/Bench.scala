package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Driver-run benchmark: times every catalog line at the sf dir in
  * SPARK_GRAFT_SF_DIR and prints two JSON lines on stdout, a verbose
  * one for readers, then the compact one the artifact capture parses.
  *
  * Every line is measured fresh; nothing is read from earlier runs:
  *  - warmup: each line once at the sibling sf0.001 (else the target
  *    dir), so codegen and JIT happen outside the timed region;
  *  - suite: each line timed [[Reps]] times, INTERLEAVED across lines
  *    (A,B,C,A,B,C), and committed as its min. A burst of load from
  *    other processes then hits different lines on different reps, and
  *    since contention only ever adds time, the min estimates the
  *    line's own cost;
  *  - quiet: with the suite session stopped, the [[QuietN]] slowest
  *    lines are timed again, each in its own fresh RunOne JVM (min of
  *    [[Reps]]), started once other processes leave the cores idle. The
  *    suite carries ~100 queries of within-JVM cache/JIT/GC state; the
  *    quiet numbers do not.
  *
  * Local subset: SPARK_GRAFT_BENCH_ONLY=q43,q36 times just those
  * prefixes. Cores: SPARK_GRAFT_CPUS (default: all).
  */
object Bench {
  val Reps = 3
  val QuietN = 10
  // Quiet gate: a child starts once other processes burned < 2 cores
  // over a 3 s CPU-load window (< ~7% inflation on 32 cores, inside a
  // 15% agreement bar). The 1-minute load average lags an exited burst
  // by ~2 min, so it is only the fallback when CPU load is unsupported.
  private val QuietCores = 2.0
  private val QuietLoad = 6.0
  private val GateCapMs = 240000L // longest gate wait per child
  private val SectionCapMs = 1500000L // whole quiet section: 25 min
  private val ChildCapMinutes = 15L // a hung child is killed

  /** A catalog name's unique qNN prefix, the key of every JSON map. */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** Min and median of one line's rep times. */
  def summary(reps: Seq[Double]): (Double, Double) = {
    require(reps.nonEmpty, "a line needs at least one rep")
    val s = reps.sorted
    val m = s.size / 2
    (s.head, if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2)
  }

  // Locale-independent fixed-point rendering: the JVM default locale
  // could otherwise print "3,49", invalid JSON for the whole line.
  private def round(v: Double, decimals: Int): BigDecimal =
    BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
  private def num(v: Double, decimals: Int): String =
    round(v, decimals).bigDecimal.toPlainString
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def nums(kv: Seq[(String, Double)], decimals: Int): String =
    obj(kv.map { case (k, v) => k -> num(v, decimals) })
  private def strs(ss: Seq[String]): String =
    ss.map(Verify.jsonString).mkString("[", ",", "]")

  /** The machine-read line. `value` is the sum of the printed
    * 2-decimal `queries` values. The artifact capture keeps only the
    * last ~2 KB of output, sbt's epilogue included, so the line must stay under
    * ~1.9 KB (BenchOutputSpec pins it for the whole catalog), and the
    * timings go last so that a clipped head loses no number. */
  def compactLine(sf: String, mins: Seq[(String, Double)],
      quiet: Seq[(String, Double)], failed: Seq[String],
      quietShare: Double): String = {
    val qs = mins.map { case (k, v) => k -> round(v, 2) }
    obj(Seq(
      "metric" -> "\"total\"",
      "value" -> qs.map(_._2).sum.bigDecimal.toPlainString,
      "unit" -> "\"sec\"",
      "sf" -> Verify.jsonString(sf),
      "quiet_share" -> num(quietShare, 2),
      "failed" -> strs(failed),
      "quiet" -> nums(quiet, 2),
      "queries" -> obj(qs.map { case (k, v) => k -> v.bigDecimal.toPlainString })))
  }

  private final case class Line(name: String, key: String, min: Double,
      median: Double, extAtMin: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val warmupDir = Some(new java.io.File(new java.io.File(sfDir).getParent, "sf0.001"))
      .filter(_.isDirectory).map(_.getPath).getOrElse(sfDir)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val fns = SparkEntry.queries
    val names = fns.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // fail here, not after the timed passes: colliding keys would
    // discard every measurement
    require(names.map(shortKey).distinct.size == names.size,
      "qNN short keys must stay unique against the catalog")

    val osBean = ManagementFactory.getOperatingSystemMXBean
    def loadAvg(): Double = osBean.getSystemLoadAverage
    // Cores OTHER processes burned since the previous call: CPU load
    // is integrated over the window since the last read, so
    // (system − this process) × cores is external contention alone.
    // -1 when the JVM cannot tell.
    def extCores(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val (system, proc) = (b.getCpuLoad, b.getProcessCpuLoad)
        if (system.isNaN || proc.isNaN || system < 0 || proc < 0) -1.0
        else math.max(0.0, (system - proc) * Runtime.getRuntime.availableProcessors())
      case _ => -1.0
    }
    extCores() // the first read only opens the window

    val spark = SessionTuning.session(cpus, sfDir)
    var warmupFailures = 0
    names.foreach { name =>
      try Measure.force(fns(name)(spark, warmupDir))
      catch { case NonFatal(e) =>
        warmupFailures += 1
        System.err.println(s"bench: warmup $name failed: $e")
      }
      finally CacheScope.releaseAll()
    }
    // per line: (seconds, external cores) of each rep
    val runs = names.map(_ -> mutable.ArrayBuffer.empty[(Double, Double)]).toMap
    val failed = mutable.Set.empty[String]
    for (_ <- 1 to Reps; name <- names) {
      extCores()
      val t0 = System.nanoTime()
      // a failed line reports in `failed`, never as a fast time alone
      try Measure.force(fns(name)(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"bench: $name FAILED: $e")
        failed += name
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val ext = extCores()
      // evict and collect outside the timed region, so neither bleeds
      // into the next rep
      CacheScope.releaseAll(blocking = true)
      runs(name) += ((elapsed, ext))
      System.gc()
    }
    spark.stop()
    val lines = names.map { n =>
      val (min, median) = summary(runs(n).map(_._1).toSeq)
      Line(n, shortKey(n), min, median, runs(n).minBy(_._1)._2)
    }
    // share of winning reps that saw < 5 external cores
    val extKnown = lines.filter(_.extAtMin >= 0)
    val quietShare =
      if (extKnown.isEmpty) -1.0
      else extKnown.count(_.extAtMin < 5.0).toDouble / extKnown.size

    System.gc()
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getPath
    val childCmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.RunOne")
    // min of the child's RunOne timings; -1 when the child fails
    def quietChild(name: String): Double = {
      val pb = new ProcessBuilder((childCmd ++ Seq(name, sfDir, "time")): _*)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
      pb.environment().put("SPARK_GRAFT_RUNS", Reps.toString)
      try {
        val p = pb.start()
        val killer = new Thread(() =>
          if (!p.waitFor(ChildCapMinutes, TimeUnit.MINUTES)) p.destroyForcibly())
        killer.setDaemon(true); killer.start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val secs = "in ([0-9.]+)s".r.findAllMatchIn(out).map(_.group(1).toDouble).toSeq
        if (p.waitFor() == 0 && secs.nonEmpty) secs.min else -1.0
      } catch { case NonFatal(e) =>
        System.err.println(s"bench: quiet $name failed: $e"); -1.0
      }
    }
    // the parent is idle here, so a 3 s window reads other processes
    def busyCores(): Double = { extCores(); Thread.sleep(3000); extCores() }
    def now = System.currentTimeMillis
    val sectionEnd = now + SectionCapMs
    val heavies = lines.filterNot(l => failed(l.name)).sortBy(-_.min).take(QuietN)
    // (key, quiet seconds, busy-core reading that opened the gate);
    // a line past the section cap keeps only its suite number
    val quiet = heavies.iterator.takeWhile(_ => now < sectionEnd).map { l =>
      val gateEnd = now + GateCapMs
      var busy = busyCores()
      while (now < gateEnd &&
          (if (busy >= 0) busy >= QuietCores else loadAvg() >= QuietLoad))
        busy = busyCores()
      (l.key, quietChild(l.name), if (busy >= 0) busy else loadAvg())
    }.toList

    val failedKeys = lines.filter(l => failed(l.name)).map(_.key)
    val warmupNote =
      if (warmupFailures > 0)
        s"INCOMPLETE: $warmupFailures queries failed warmup at $warmupDir"
      else s"all queries once at $warmupDir, so codegen and JIT stay outside the timed region"
    println(obj(Seq(
      "metric" -> "\"total\"",
      "value" -> num(lines.map(_.min).sum, 3),
      "unit" -> "\"sec\"",
      "sf" -> Verify.jsonString(sfDir),
      "timing" -> Verify.jsonString(s"each line is the min of $Reps reps interleaved across lines (A,B,C,A,B,C), fully materialized via queryExecution.toRdd; min_median is [min, median] of those reps and ext_cores_at_min_rep the cores other processes burned during the fastest one."),
      "warmup" -> Verify.jsonString(warmupNote),
      "min_median" -> obj(lines.map(l => l.key -> s"[${num(l.min, 3)},${num(l.median, 3)}]")),
      "ext_cores_at_min_rep" -> nums(lines.map(l => l.key -> l.extAtMin), 1),
      "quiet_share" -> num(quietShare, 2),
      "quiet_note" -> Verify.jsonString(s"quiet = the ${quiet.size} slowest lines re-timed after the suite, each as the min of $Reps reps in a fresh RunOne JVM started once other processes' busy cores over 3 s fall below $QuietCores (quiet_gate_load; ${GateCapMs / 1000} s gate cap per child, ${SectionCapMs / 60000} min for the section), -1 = child failed."),
      "quiet_gate_load" -> nums(quiet.map(q => q._1 -> q._3), 1),
      "quiet" -> nums(quiet.map(q => q._1 -> q._2), 3),
      "failed" -> strs(failedKeys),
      "queries" -> nums(lines.map(l => l.key -> l.min), 3))))
    println(compactLine(sfDir, lines.map(l => l.key -> l.min),
      quiet.map(q => q._1 -> q._2), failedKeys, quietShare))
  }
}
