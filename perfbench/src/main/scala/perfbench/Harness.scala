package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Random, Try}

/** Drives one workload through the program's public entry points from a
  * single client thread, closed loop: each query call (or streaming
  * query) starts when the previous one has finished.
  *
  *   perfbench.Harness --kind batch|stream --queries q01,q02,.. --tables DIR
  *     --stream DIR --work DIR --verify DIR --seed N --seconds S --trace 0|1
  *     --out FILE
  *
  * It warms up for `WarmupPasses` passes, then runs passes until `--seconds`
  * have elapsed (and at least three untraced passes exist). With `--trace 1`
  * untraced and traced passes alternate; listeners exist only during
  * traced passes. The first warm-up pass writes every oracle-backed
  * query's output to `--verify` for the DuckDB compare; after measuring,
  * untimed, it checks that every pass returned the same row count and
  * each stream output against its batch twin. Raw samples go to `--out`
  * as JSON; the statistics are computed by the caller.
  */
object Harness {
  /** Untimed passes before measuring. The first pass in a fresh JVM takes
    * 2-4x a warm one, and pass times keep falling for about four more
    * passes on both workloads while the JIT catches up. */
  private val WarmupPasses = 5

  private final case class Call(name: String, wall: Double, rows: Long, error: String,
      start: Long, end: Long, batches: Seq[Double], progress: Seq[(Long, Long)])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val tables = a("tables")
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.currentTimeMillis()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", graft.SessionTuning.shufflePartitionsConf(tables, cpus))
      .config("spark.sql.codegen.cache.maxEntries", graft.SessionTuning.codegenCacheConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0) / 1e3

    val workload: Workload = kind match {
      case "batch" => new BatchWorkload(spark, tables, a("queries").split(',').toSeq, a("verify"))
      case "stream" => new StreamWorkload(spark, tables, a("stream"), work)
    }
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    def pass(idx: Int, trace: Boolean): Seq[Call] = {
      val order = new Random(seed * 1000003L + idx).shuffle(workload.names)
      val tr = if (trace) Some(new Trace(spark)) else None
      tr.foreach(_.attach())
      val c0 = cpu.getProcessCpuTime
      val calls = order.map { n =>
        val c = workload.call(n, idx, tr)
        workload.release(tr)
        c
      }
      val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
      tr.foreach(_.detach())
      val wall = calls.map(_.wall).sum
      val base = Map("index" -> idx, "traced" -> trace, "wall_s" -> wall, "cpu_s" -> cpuS,
        "calls" -> calls.map(c => Map("name" -> c.name, "wall_s" -> c.wall, "rows" -> c.rows,
          "error" -> c.error, "batches_s" -> c.batches)))
      passes += (tr match {
        case None => base
        case Some(t) =>
          val pid = s"p$idx"
          val callSpans = calls.zipWithIndex.map { case (c, i) =>
            Span(s"$pid.c$i", pid, "call", c.name, c.start, c.end)
          }
          val batchSpans = calls.zipWithIndex.flatMap { case (c, i) =>
            c.progress.zipWithIndex.map { case ((s, e), b) =>
              Span(s"$pid.c$i.b$b", s"$pid.c$i", "batch", s"${c.name} batch $b", s, e)
            }
          }
          val passSpan = Span(pid, "w", "pass", s"pass $idx",
            calls.head.start, calls.last.end)
          spans ++= passSpan +: (callSpans ++ batchSpans ++ t.spans(callSpans ++ batchSpans))
          base ++ Map("counters" -> t.snapshot)
      })
      calls
    }

    val warm = (0 until WarmupPasses).flatMap(i => pass(i, trace = false))
    passes.clear()
    val readyMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var idx = WarmupPasses
    def count(t: Boolean) = passes.count(_("traced") == t)
    while (System.nanoTime() < deadline || count(false) < 3 || (traced && count(true) < 2)) {
      pass(idx, trace = traced && (idx - WarmupPasses) % 2 == 1)
      idx += 1
    }
    spans += Span("w", "", "workload", kind, readyMs, System.currentTimeMillis())
    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

    val v0 = System.nanoTime()
    val checks = workload.verify()
    val verifyS = (System.nanoTime() - v0) / 1e9
    spark.stop()

    val out = Map(
      "session_s" -> sessionS,
      "warmup_s" -> warm.map(_.wall).sum,
      "warmup_calls" -> warm.size,
      "verify_s" -> verifyS,
      "warmup_errors" -> warm.filter(_.error != null).map(c => s"${c.name}: ${c.error}"),
      "ready_ms" -> readyMs,
      "cpus" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "peak_rss_mb" -> peakRssKb / 1024.0,
      "passes" -> passes.toSeq,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)).toSeq,
      "checks" -> checks)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(out))
  }

  /** One workload's calls. `call` times one operation; `release` drops
    * what the call left cached before the next one starts. */
  private trait Workload {
    def names: Seq[String]
    def call(name: String, pass: Int, tr: Option[Trace]): Call
    def release(tr: Option[Trace]): Unit
    /** Untimed correctness work after the measured passes. Returns one
      * entry per check: name, ok, detail. */
    def verify(): Seq[Map[String, Any]]
  }

  private def timed[T](body: => T): (Try[T], Double, Long, Long) = {
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = Try(body)
    (r, (System.nanoTime() - n0) / 1e9, s, System.currentTimeMillis())
  }

  /** A call must produce the same number of rows on every pass. */
  private def sameRows(name: String, seen: collection.Set[Long]): Map[String, Any] =
    Map("name" -> s"rows:$name", "ok" -> (seen.size == 1), "detail" -> seen.toSeq.sorted.mkString(","))

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Catalog queries by their `qNN` prefix, each materialized through
    * `Measure.force` exactly as the program's own bench does. In pass 0
    * an oracle-backed query is written to `outDir` the way the program's
    * `Verify` writes it, and its row count read back. */
  private final class BatchWorkload(spark: SparkSession, dir: String, short: Seq[String],
      outDir: String) extends Workload {
    private val byShort = graft.QueryCatalog.all.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    private val queries = short.map(byShort)
    val names: Seq[String] = queries.map(_.name)
    private val rowsSeen = mutable.Map.empty[String, mutable.Set[Long]]

    def call(name: String, pass: Int, tr: Option[Trace]): Call = {
      val q = graft.QueryCatalog.byName(name)
      var df: DataFrame = null
      val (r, wall, s, e) = timed {
        df = q.run(spark, dir)
        if (pass == 0 && q.oracle.isDefined) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          spark.read.parquet(s"$outDir/$name").count()
        } else graft.Measure.force(df)
      }
      tr.foreach { t => if (df != null) t.phases(df.queryExecution) }
      r.foreach(n => rowsSeen.getOrElseUpdate(name, mutable.Set.empty) += n)
      Call(name, wall, r.getOrElse(-1L), r.failed.map(describe).toOption.orNull, s, e, Nil, Nil)
    }

    def release(tr: Option[Trace]): Unit = {
      tr.foreach { t =>
        t.add("cache.tracked", graft.CacheScope.trackedCount)
        t.peak("cache.mb", spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum / 1e6)
      }
      graft.CacheScope.releaseAll(blocking = true)
    }

    /** Every pass, the checked output included, returned one row count. */
    def verify(): Seq[Map[String, Any]] = {
      val oracle = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), mapper.writeValueAsString(oracle))
      names.map(n => sameRows(n, rowsSeen.getOrElse(n, mutable.Set.empty)))
    }
  }

  /** Structured Streaming ingest: three streaming queries over one file
    * per trigger (`Trigger.AvailableNow`, one file per micro-batch),
    * each drained from a fresh checkpoint into a memory sink. */
  private final class StreamWorkload(spark: SparkSession, dir: String, streamDir: String,
      work: String) extends Workload {
    import graft.streaming.EventStreams
    val names: Seq[String] = Seq("windowed_counts", "sessionize", "bloom_admitted")
    private val docSchema = spark.read.parquet(s"$streamDir/docs").schema
    private val corpus = spark.read.parquet(s"$streamDir/corpus")
    private val bloom = graft.operators.Dedup.fingerprintBloom(corpus, "text", numBits = 1L << 16)
      .collect()(0).getAs[Array[Byte]]("bloom")
    private val corpusFps = corpus.select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    private val sinkRows = mutable.Map.empty[String, mutable.Set[Long]]
    private var lastTables = Map.empty[String, String]

    private def source(sub: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$streamDir/$sub")

    private def plan(name: String): (DataFrame, OutputMode) = name match {
      case "windowed_counts" =>
        (EventStreams.windowedCounts(source("events", EventStreams.eventSchema)), OutputMode.Update())
      case "sessionize" =>
        (EventStreams.sessionize(spark, source("events", EventStreams.eventSchema)), OutputMode.Append())
      case "bloom_admitted" =>
        (EventStreams.bloomAdmittedStream(source("docs", docSchema), "text", "ts", bloom, corpusFps),
          OutputMode.Append())
    }

    def call(name: String, pass: Int, tr: Option[Trace]): Call = {
      val table = s"${name}_p$pass"
      var q: StreamingQuery = null
      val (r, wall, s, e) = timed {
        val (df, mode) = plan(name)
        q = df.writeStream.outputMode(mode).format("memory").queryName(table)
          .option("checkpointLocation", s"$work/checkpoints/$table")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val progress = Option(q).map(_.recentProgress.toSeq).getOrElse(Nil)
      val rows = progress.map(_.sink.numOutputRows).sum
      if (r.isSuccess) sinkRows.getOrElseUpdate(name, mutable.Set.empty) += rows
      lastTables.get(name).foreach(t => spark.catalog.dropTempView(t))
      lastTables += name -> table
      val spans = progress.map { p =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli
        (st, st + p.batchDuration)
      }
      Call(name, wall, rows, r.failed.map(describe).toOption.orNull, s, e,
        progress.map(_.batchDuration / 1e3), spans)
    }

    def release(tr: Option[Trace]): Unit = graft.CacheScope.releaseAll(blocking = true)

    /** Parity of the last pass's outputs with their batch twins. */
    def verify(): Seq[Map[String, Any]] = {
      def check(name: String)(body: => (Boolean, String)): Map[String, Any] = {
        val r = Try(body)
        Map("name" -> name, "ok" -> r.map(_._1).getOrElse(false),
          "detail" -> r.map(_._2).recover { case e => describe(e) }.get)
      }
      val rowChecks = names.map(n => sameRows(n, sinkRows.getOrElse(n, mutable.Set.empty)))
      val windowed = check("parity:windowed_counts~q24_tumbling_window") {
        // Update mode re-emits a window each time it grows: its final
        // value is the emission with the largest count.
        val got = spark.table(lastTables("windowed_counts"))
          .groupBy("win_start", "event_type")
          .agg(max(struct(col("n_events"), col("sum_value"))).as("m"))
          .select(col("win_start"), col("event_type"), col("m.n_events").as("n_events"),
            col("m.sum_value").as("sum_value"))
        val want = graft.QueryCatalog.byName("q24_tumbling_window").run(spark, dir)
        val joined = got.as("g").join(want.as("w"), Seq("win_start", "event_type"), "full_outer")
        val bad = joined.filter(
          col("g.n_events").isNull || col("w.n_events").isNull ||
            col("g.n_events") =!= col("w.n_events") ||
            abs(col("g.sum_value") - col("w.sum_value")) > lit(1e-6) * greatest(lit(1.0), abs(col("w.sum_value"))))
          .count()
        (bad == 0L, s"${want.count()} windows, $bad differ")
      }
      val admitted = check("parity:bloom_admitted~Dedup.admitNewExact") {
        val feed = spark.read.parquet(s"$streamDir/docs").drop("ts")
        val want = graft.operators.Dedup.admitNewExact(feed, corpus, "doc_id", "text")
          .select("doc_id", "fp")
        val got = spark.table(lastTables("bloom_admitted")).select("doc_id", "fp")
        val extra = got.exceptAll(want).count()
        val missing = want.exceptAll(got).count()
        graft.CacheScope.releaseAll(blocking = true)
        (extra == 0L && missing == 0L, s"${got.count()} admitted, $extra extra, $missing missing")
      }
      val sessions = check("parity:sessionize~gap_sessions") {
        // Every emitted session is a batch gap session; only each user's
        // last (still open) session may be missing.
        import spark.implicits._
        val gapMs = 30L * 60 * 1000
        val byUser = spark.read.parquet(s"$streamDir/events")
          .select(col("user_id"), unix_millis(col("ts")).as("t"))
          .as[(Long, Long)].collect().groupBy(_._1)
        val truth = byUser.flatMap { case (u, rows) =>
          val ts = rows.map(_._2).sorted
          val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var start = ts.head; var last = ts.head; var n = 1L
          for (t <- ts.tail) {
            if (t - last <= gapMs) { last = t; n += 1 }
            else { out += ((u, start, last, n)); start = t; last = t; n = 1 }
          }
          out += ((u, start, last, n))
          out
        }.toSet
        val emitted = spark.table(lastTables("sessionize"))
          .as[(Long, Long, Long, Long)].collect().toSet
        val lastPerUser = truth.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
        val phantom = (emitted -- truth).size
        val lost = ((truth -- lastPerUser) -- emitted).size
        (phantom == 0 && lost == 0, s"${emitted.size} emitted, $phantom phantom, $lost closed sessions missing")
      }
      rowChecks ++ Seq(windowed, admitted, sessions)
    }
  }
}
