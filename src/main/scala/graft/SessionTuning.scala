package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Session-level tuning shared by the runner entrypoints (Bench,
  * Verify, RunOne, ShuffleAudit, tools.JobProfile), measured and
  * justified in OPTIMIZATION_r15.md.
  *
  * 1. INITIAL SHUFFLE PARTITIONS DERIVED FROM INPUT SIZE (guide §2:
  *    "make partitioning scale-adaptive ... rather than a constant
  *    tuned for either local mode or the cluster"). The previous
  *    constant (= core count) is a local-mode artifact: at the bench's
  *    15.7 MB input it fans every tiny aggregation out to 32 map-side
  *    shuffle writers, and AQE can only coalesce the READ side —
  *    measured 17% of the heavy-subset wall (126.5 → 105.4 s at 8
  *    partitions, per-query table in OPTIMIZATION_r15.md). The rule
  *    targets ~2 MB per partition in the overhead-bound small regime
  *    and ~256 MB of shuffle payload per partition at scale (the guide
  *    §2.2/§9 band), never dropping below 1 or the size-derived floor:
  *
  *      parts = clamp(bytes / 2 MB, 1, max(cores, bytes * 4 / 256 MB))
  *
  *    15.7 MB → 8; 2 MB → 1; 100 GB → 1,600; 100 TB → ~1.6M. The
  *    byte-derived cap overtakes the core cap at cores × 64 MB of
  *    input (~2 GB at 32 cores), so cores only cap the small regime
  *    and nothing here is tuned to local[32]. A dir resolving to zero
  *    bytes falls back to the core count (never 1) with a warning;
  *    sizes resolve through Hadoop FileSystem with the `spark.hadoop.*`
  *    settings applied, so remote URIs size with their credentials.
  *    Override: SPARK_GRAFT_SHUFFLE_PARTITIONS.
  *
  * 2. CODEGEN CACHE SIZED TO THE ENGINE (spark.sql.codegen.cache
  *    .maxEntries, default 100): one heavy gate query alone generates
  *    ~114 codegen units, so the default LRU thrashes to ZERO hits —
  *    measured: every rep of q93 recompiled all 114 units (~2 s of
  *    Janino per rep) until the cache was raised, after which reps
  *    2..n compiled nothing. A long-running deployment's driver has
  *    the same working set; the entries are compiled classes (small),
  *    so 8192 costs a few tens of MB. Override: SPARK_GRAFT_CODEGEN_CACHE.
  */
object SessionTuning {
  private val SmallTarget = 2L << 20 // 2 MB/partition: overhead-bound regime
  private val LargeTarget = 256L << 20 // 256 MB/partition at scale (guide §9)
  // The large-regime cap sizes SHUFFLE partitions from PARQUET bytes,
  // so each input byte is charged as this many shuffle bytes: a
  // "256 MB" partition is then ~64 MB of parquet. The factor is
  // unmeasured; row-format shuffle data of a parquet scan is commonly
  // 3–6× its compressed size. AQE's advisory size still splits or
  // coalesces outliers at runtime.
  private val ShuffleExpansion = 4L

  /** The local session every runner entrypoint measures with:
    * `local[cpus]`, input-derived shuffle partitions for `dir`, the
    * codegen cache size, AQE on, UTC, no UI, WARN logging. */
  def session(cpus: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitionsConf(dir, cpus))
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheConf)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Recursive byte size of the inputs under `dir`, resolved through
    * the Hadoop FileSystem for the path's own scheme, configured with
    * the `spark.hadoop.*` entries of the Spark conf as a session's own
    * Hadoop conf would be. Returns 0 when the path is missing; an
    * unreadable path also returns 0 and prints its cause. */
  def inputBytes(dir: String): Long =
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      new SparkConf().getAllWithPrefix("spark.hadoop.")
        .foreach { case (k, v) => conf.set(k, v) }
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    } catch { case NonFatal(e) =>
      System.err.println(s"[graft] SessionTuning: cannot size $dir: $e")
      0L
    }

  /** Input-derived initial shuffle partition count (rule above). A
    * dir that resolves to zero bytes (missing, empty, unreadable)
    * falls back to the CORE COUNT with a warning — never to 1, which
    * would serialize every shuffle of a misconfigured runner. */
  def shufflePartitions(dir: String, cpus: Int): Int = {
    val bytes = inputBytes(dir)
    if (bytes <= 0L) {
      System.err.println(s"[graft] SessionTuning: no readable input bytes" +
        s" under $dir — falling back to $cpus shuffle partitions")
      math.max(1, cpus)
    } else {
      val target = math.max(1L, (bytes + SmallTarget - 1) / SmallTarget)
      val cap = math.max(cpus.toLong,
        (bytes * ShuffleExpansion + LargeTarget - 1) / LargeTarget)
      math.min(target, cap).toInt
    }
  }

  /** The env-overridable shuffle-partition setting for a runner whose
    * data directory is `dir`. */
  def shufflePartitionsConf(dir: String, cpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      shufflePartitions(dir, cpus).toString)

  /** Codegen cache entries (static conf — set before session start). */
  def codegenCacheConf: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")
}
