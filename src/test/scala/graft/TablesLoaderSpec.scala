package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerDrain
import org.apache.spark.sql.types.{LongType, StringType, TimestampNTZType, TimestampType}

/** Guards the `Tables.events` loader against parquet-timestamp
  * inference drift across Spark engine versions (SURVEY §2; VERDICT r6
  * item 2). The events table has shipped as parquet TIMESTAMP(NANOS)
  * (Spark ≤4.0 + nanosAsLong → LongType; Spark 4.1+ → TIMESTAMP_NTZ
  * with native ns→µs truncation) and as TIMESTAMP(MICROS, ntz). The
  * loader must land every shape on the same micro-truncated
  * TimestampType column, and must fail LOUDLY — not mis-type — on a
  * shape it has never seen.
  *
  * Ground truth is read with parquet-mr's example reader (raw int64 +
  * the footer's TimeUnit annotation), fully independent of Spark's
  * timestamp inference path.
  *
  * Also pins the loader's schema cache: a repeat read of unchanged
  * files launches no Spark job, a rewritten table is re-inferred, and a
  * missing table still fails with Spark's own error.
  */
class TablesLoaderSpec extends SparkSpec {

  /** (event_id, ts) rows; ts deliberately not µs-aligned so ns→µs
    * truncation is actually exercised (…549123 ns → …549 µs), and
    * PRE-EPOCH rows so floor-vs-truncate division divergence is too
    * (-1500 ns must floor to -2 µs, as the native 4.1+ read and
    * DuckDB do — `div` truncation toward zero would give -1). */
  private val nanosRows: Seq[(Long, Long)] = Seq(
    1L -> 1704067798778549123L,
    2L -> 1704067200000000000L,
    3L -> 1704067200000000999L,
    4L -> 1735689599999999501L,
    5L -> -1500L,
    6L -> -1000000001L)

  private def eventsMessageType(unit: TimeUnit): MessageType =
    Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, unit))
      .named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")

  /** Write an events-shaped parquet with `ts` in the given unit into a
    * fresh dir laid out the way Tables expects (`$dir/events.parquet`);
    * returns the dir. */
  private def writeEventsParquet(unit: TimeUnit, tsValues: Seq[(Long, Long)]): String = {
    val dir = Files.createTempDirectory("graft-loader").toString
    val msg = eventsMessageType(unit)
    val factory = new SimpleGroupFactory(msg)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(msg).build()
    try tsValues.foreach { case (id, ts) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", ts)
      g.add("user_id", id % 7)
      g.add("event_type", "click")
      g.add("value", 1.5)
      g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
    dir
  }

  private def loadedMicros(dir: String): Map[Long, Long] = {
    val ev = Tables(spark, dir).events
    assert(ev.schema("ts").dataType === TimestampType,
      "loader must normalize ts to session-TZ TimestampType")
    ev.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("TIMESTAMP(NANOS) parquet loads micro-truncated under whatever the engine infers") {
    val dir = writeEventsParquet(TimeUnit.NANOS, nanosRows)
    val expect = nanosRows.map { case (id, ns) => id -> Math.floorDiv(ns, 1000L) }.toMap
    assert(loadedMicros(dir) === expect)
  }

  test("TIMESTAMP(MICROS) parquet loads value-identical") {
    val micros = nanosRows.map { case (id, ns) => (id, Math.floorDiv(ns, 1000L)) }
    val dir = writeEventsParquet(TimeUnit.MICROS, micros)
    assert(loadedMicros(dir) === micros.toMap)
  }

  test("committed testdata-shaped fixture matches parquet-mr raw ground truth") {
    // Source-tree path first (test working dir is the repo root; the
    // classpath copy may live inside a jar under some sbt run modes,
    // where File(uri) can't reach it).
    val file = new java.io.File("src/test/resources/events_ts_fixture/events.parquet")
    assert(file.isFile, "committed fixture missing from test resources")
    val hPath = new Path(file.getAbsolutePath)

    // Unit from the footer, values from the example reader — no Spark.
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf))
    val tsField =
      try footer.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType()
      finally footer.close()
    val unit = tsField.getLogicalTypeAnnotation
      .asInstanceOf[TimestampLogicalTypeAnnotation].getUnit
    val toMicros: Long => Long = unit match {
      case TimeUnit.NANOS  => v => Math.floorDiv(v, 1000L)
      case TimeUnit.MICROS => v => v
      case TimeUnit.MILLIS => v => Math.multiplyExact(v, 1000L)
    }
    val reader = ParquetReader.builder(new GroupReadSupport(), hPath).build()
    val truth = Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(g => g.getLong("event_id", 0) -> toMicros(g.getLong("ts", 0)))
      .toMap
    reader.close()
    assert(truth.nonEmpty)

    assert(loadedMicros(file.getParent) === truth)
  }

  /** Spark jobs launched by `f` on this thread, counted through a job
    * group so jobs of other threads cannot leak into the count. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = f
      ListenerDrain.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String = Files.createTempDirectory("graft-tables").toString

  test("a repeat accessor call reuses the inferred schema and launches no Spark job") {
    val dir = tempDir()
    spark.range(5).withColumnRenamed("id", "l_orderkey").write.parquet(s"$dir/lineitem.parquet")
    val (miss, missJobs) = jobsDuring(Tables(spark, dir).lineitem)
    assert(missJobs > 0, "the first read infers the schema with a Spark job")
    val (hit, hitJobs) = jobsDuring(Tables(spark, dir).lineitem)
    assert(hitJobs === 0)
    assert(hit.schema === miss.schema)
    // only the schema is shared: each call is its own relation, so a
    // self-join of two reads resolves
    assert(hit.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(miss.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    assert(miss.join(hit, miss("l_orderkey") === hit("l_orderkey")).count() === 5)
  }

  test("a table rewritten in place is re-inferred on the next accessor call") {
    val dir = tempDir()
    spark.range(3).withColumnRenamed("id", "r_regionkey").write.parquet(s"$dir/region.parquet")
    assert(Tables(spark, dir).region.columns.toSeq === Seq("r_regionkey"))
    Tables(spark, dir).region // served from the cache
    spark.range(4).select(col("id").as("a"), col("id").cast("string").as("b"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val rewritten = Tables(spark, dir).region
    assert(rewritten.columns.toSeq === Seq("a", "b"))
    assert(rewritten.count() === 4)
  }

  test("events on TIMESTAMP(NANOS) read the same on the inferring and the cached call") {
    val dir = writeEventsParquet(TimeUnit.NANOS, nanosRows)
    val expect = nanosRows.map { case (id, ns) => id -> Math.floorDiv(ns, 1000L) }.toMap
    assert(loadedMicros(dir) === expect)
    val (_, hitJobs) = jobsDuring(Tables(spark, dir).events)
    assert(hitJobs === 0)
    assert(loadedMicros(dir) === expect)
  }

  test("a missing or empty table still fails with Spark's own error") {
    val dir = tempDir()
    val missing = intercept[AnalysisException](Tables(spark, dir).lineitem)
    assert(missing.getCondition === "PATH_NOT_FOUND")
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/orders.parquet"))
    val empty = intercept[AnalysisException](Tables(spark, dir).orders)
    assert(empty.getCondition === "UNABLE_TO_INFER_SCHEMA")
  }

  test("eventsNormalizeTs: nanos-Long branch truncates; NTZ branch casts; Timestamp passes through") {
    import spark.implicits._
    val ns = 1704067798778549123L

    val fromLong = Tables.eventsNormalizeTs(Seq((1L, ns)).toDF("event_id", "ts"))
    assert(fromLong.schema("ts").dataType === TimestampType)
    assert(fromLong.select(unix_micros(col("ts"))).head().getLong(0) === ns / 1000L)

    val ntz = Seq((1L, ns / 1000L)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(ntz.schema("ts").dataType === TimestampNTZType)
    val fromNtz = Tables.eventsNormalizeTs(ntz)
    assert(fromNtz.schema("ts").dataType === TimestampType)
    // Session TZ is pinned UTC, so the NTZ cast is bit-identical to the long path.
    assert(fromNtz.select(unix_micros(col("ts"))).head().getLong(0) === ns / 1000L)

    val ts = Seq((1L, ns / 1000L)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
    assert(Tables.eventsNormalizeTs(ts).select(unix_micros(col("ts"))).head().getLong(0) === ns / 1000L)
  }

  test("eventsNormalizeTs fails loudly on an unrecognized ts type") {
    import spark.implicits._
    val bad = Seq((1L, "2024-01-01")).toDF("event_id", "ts")
    assert(bad.schema("ts").dataType === StringType)
    val e = intercept[IllegalStateException](Tables.eventsNormalizeTs(bad))
    assert(e.getMessage.contains("unexpected type"))
  }
}
