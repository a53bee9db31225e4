package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One accessor per table; every query takes the sf directory as a
  * parameter so the same code runs at any scale factor. At 100 TB the
  * only change is the directory (and partition discovery); all
  * downstream plans are declarative so Catalyst re-plans per scale.
  *
  * Every accessor reads through [[Tables.parquet]], which infers a
  * table's schema once per set of input files (see there for the key).
  */
final class Tables(spark: SparkSession, dir: String) {
  /** The table `$dir/<name>.parquet`, for callers that pick a table by name. */
  def table(name: String): DataFrame = Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces that
    * depends on the engine version: ≤4.0 with
    * `spark.sql.legacy.parquet.nanosAsLong=true` infers a LongType of
    * nanos-since-epoch; 4.1+ reads it natively as TIMESTAMP_NTZ with
    * ns→µs truncation (ignoring the legacy conf). Both paths must land
    * on the same micro-truncated TimestampType values — exactly how
    * DuckDB truncates ns→µs, so oracle ordering/values agree. We branch
    * on the INFERRED type rather than the Spark version so any future
    * inference change fails loudly (MatchError with the unexpected
    * type) instead of silently producing a mis-typed column.
    */
  def events: DataFrame = Tables.eventsNormalizeTs(Tables.parquet(spark,
    s"$dir/events.parquet", Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** What a cached schema was inferred from: the sorted leaf files
    * (path, length, modification time) and the effective
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
    conf: Seq[(String, String)])

  /** Fully qualified table path → the schema inferred for it and the
    * fingerprint it was inferred under. One entry per path. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** Read a parquet table, inferring its schema only when nothing is
    * cached for it.
    *
    * Invariant: a cached schema is reused only when the table's fully
    * qualified path, its sorted leaf-file list (path, length,
    * modification time, listed through Hadoop FileSystem with the
    * session's Hadoop conf) and the session's `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` settings, with `inferConf` laid over
    * them, all equal those it was inferred under. A hit reads with
    * `spark.read.schema(cached)`, which launches no Spark job; any other
    * call, including one whose listing fails or finds no files, is a
    * plain `spark.read.parquet(path)`, so errors stay Spark's own, and
    * its schema replaces the path's entry. Only the `StructType` is
    * shared: every call builds a fresh relation with fresh attribute
    * ids, so self-joins behave as with uncached reads.
    *
    * `inferConf` is session conf that only inference consults (such as
    * `nanosAsLong`). It is set on the session just around a miss's
    * inference and then restored; a hit leaves the session conf alone.
    */
  private[graft] def parquet(spark: SparkSession, path: String,
      inferConf: Map[String, String] = Map.empty): DataFrame = {
    val conf = (spark.conf.getAll ++ inferConf).toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val listed = leafFiles(spark, path).map { case (qualified, files) =>
      qualified -> Fingerprint(files, conf)
    }
    val cached = listed.flatMap { case (qualified, fp) =>
      Option(schemas.get(qualified)).filter(_._1 == fp).map(_._2)
    }
    cached match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = withConf(spark, inferConf)(spark.read.parquet(path))
        listed.foreach { case (qualified, fp) => schemas.put(qualified, fp -> df.schema) }
        df
    }
  }

  /** The fully qualified path and its sorted leaf files, or None when
    * the path cannot be listed or holds no files. */
  private def leafFiles(spark: SparkSession,
      path: String): Option[(String, Seq[(String, Long, Long)])] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // listStatus, not listFiles: a LocatedFileStatus reads each file's
      // permissions, which the local FileSystem does by forking `ls`
      def leaves(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
        .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
      val files = leaves(p)
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
      if (files.isEmpty) None else Some(fs.makeQualified(p).toString -> files)
    } catch { case NonFatal(_) => None } // the plain read that follows reports the cause

  private def withConf[A](spark: SparkSession, settings: Map[String, String])(body: => A): A = {
    val prev = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Normalize an events frame whose `ts` arrived as either
    * nanos-since-epoch LongType (legacy nanosAsLong inference) or
    * TIMESTAMP_NTZ (Spark 4.1+ native nanos read, already µs-truncated)
    * to a session-TZ TimestampType. The session TZ is pinned UTC
    * everywhere in this repo, so the NTZ cast is value-identical to the
    * long path bit-for-bit. Exposed for the loader spec, which feeds it
    * both shapes regardless of what the runtime engine infers.
    */
  private[graft] def eventsNormalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      // FLOOR division, not `div` (truncation toward zero): Spark
      // 4.1+'s native ns→µs read and DuckDB both floor, so a
      // pre-epoch nanos value like -1500 ns must land on -2 µs on
      // this path too. pmod(ts, 1000) ≥ 0 makes (ts - pmod) the
      // largest 1000-multiple ≤ ts — exact floorDiv in pure integer
      // arithmetic.
      case LongType => raw.withColumn("ts",
        expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts inferred as unexpected type $other; expected nanos Long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
