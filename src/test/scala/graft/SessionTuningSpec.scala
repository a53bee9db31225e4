package graft

import org.scalatest.funsuite.AnyFunSuite

/** A local FileSystem answering under its own scheme with a fixed
  * size: reachable only through `fs.graftsized.impl`. */
class SizedFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsized:///")
  override def getScheme: String = "graftsized"
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = true
  override def getContentSummary(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.ContentSummary.Builder().length(SizedFs.Bytes).build()
}
object SizedFs { val Bytes: Long = 42L << 20 }

/** The input-derived shuffle-partition rule: ~2 MB per partition in
  * the overhead-bound small regime, capped by
  * max(cores, bytes * 4 / 256 MB) so cluster-scale inputs land in the
  * guide's 100 MB – 1 GB band of SHUFFLE bytes (the ×4
  * parquet→row-format expansion factor) — nothing is a local[32]
  * constant. A dir with no readable bytes falls back to the core
  * count, never to 1. */
class SessionTuningSpec extends AnyFunSuite {
  private def parts(bytes: Long, cpus: Int): Int = {
    // mirror of the rule, driven through the public entry by a temp dir
    val dir = java.nio.file.Files.createTempDirectory("st").toFile
    val f = new java.io.File(dir, "x.parquet")
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(bytes); raf.close()
    try SessionTuning.shufflePartitions(dir.getPath, cpus)
    finally { f.delete(); dir.delete() }
  }

  test("small inputs get ~2 MB partitions, never 0") {
    assert(parts(1L << 20, 32) === 1) // 1 MB -> 1
    assert(parts(15700000L, 32) === 8) // the sf0.1 bench shape -> 8
    assert(parts(63L << 20, 32) === 32) // 63 MB -> capped at cores
  }

  test("zero-byte or missing dirs fall back to the core count, not 1") {
    // ADVICE r15 medium: a runner pointed at a nonexistent path must
    // not degrade to fully serial shuffles
    assert(parts(0L, 32) === 32)
    assert(SessionTuning.shufflePartitions("/no/such/dir/graft", 16) === 16)
  }

  test("large inputs land in the 256 MB shuffle band, above the core count") {
    val gb100 = 100L << 30
    val p = parts(gb100, 32)
    // 100 GB of parquet ≈ 400 GB of shuffle → 1600 partitions of
    // ~64 MB parquet / ~256 MB shuffle each (ADVICE r15 low: the cap
    // sizes shuffle partitions, and parquet compresses ~4x)
    assert(p === 1600)
    assert(p > 32)
  }

  test("the core count only caps the small regime") {
    // 64 MB at 8 cores: 2 MB rule says 32, cap max(8, 1) = 8
    assert(parts(64L << 20, 8) === 8)
  }

  test("inputs are sized with the spark.hadoop.* settings of the Spark conf") {
    val key = "spark.hadoop.fs.graftsized.impl"
    sys.props(key) = classOf[SizedFs].getName
    try assert(SessionTuning.inputBytes("graftsized:///corpus") === SizedFs.Bytes)
    finally sys.props.remove(key)
  }

  test("an unreadable input prints its cause before falling back") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val p = try SessionTuning.shufflePartitions("graftnofs://host/corpus", 16)
      finally System.setErr(saved)
    assert(p === 16)
    val msg = err.toString("UTF-8")
    assert(msg.contains("graftnofs"), msg)
    assert(msg.contains("UnsupportedFileSystemException"), msg)
  }
}
