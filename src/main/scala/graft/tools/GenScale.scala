package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic STRUCTURE-PRESERVING corpus scaler — the SCALE.md
  * measurement input (VERDICT r8 item 1: "produce one measured
  * scaling curve"; seeded synthesis in the spirit of TESTDATA.md's
  * generators, no driver dependency).
  *
  * Strategy: block replication with per-block bijective transforms,
  * so every block is DISTRIBUTION-IDENTICAL to the source corpus and
  * blocks never interact:
  *
  *   - documents: doc_id += rep·10⁶; every whitespace token gets a
  *     per-block suffix ("x<rep>") — an injective token map, so
  *     within-block token-set Jaccard, fingerprints, bucket keys and
  *     shingle structure are EXACTLY the source's, while cross-block
  *     token spaces are disjoint (no cross-block dups, buckets, or
  *     candidate pairs — workload grows linearly by construction,
  *     and any super-linear runtime is the ENGINE's, which is the
  *     thing being measured);
  *   - embeddings: vec_id += rep·10⁶; per-block HASH PERMUTATION of
  *     the dimensions COMPOSED WITH per-dimension SIGN FLIPS (both
  *     md5-derived from the block index): a signed permutation
  *     applied uniformly inside a block preserves every within-block
  *     dot/norm EXACTLY (terms x_i·y_i·s² = x_i·y_i, decimal sums
  *     order-free), while cross-block cosines of replicated vectors
  *     collapse to ~N(0, 1/√dim) — the permutation breaks the
  *     per-vector energy-spike alignment sign flips alone leave
  *     (measured: signs-only left 4.3% of copy pairs above the 0.35
  *     near-dup threshold; dimension ROTATION alone left most of
  *     them there). A ~0.3% residual tail of copy pairs still
  *     crosses 0.35 — disclosed in SCALE.md, a few-percent pair
  *     inflation that perturbs only the verify stage.
  *   - orders/lineitem: keys += rep·7,700,000 (divisible by 7 and 11
  *     so q41's modular edge pattern repeats identically per block;
  *     the gap exceeds the chain reach, so components never bridge
  *     blocks).
  *
  * The MEDIA corpora scale for free (round 11): the q83/q84/q88/q89/
  * q94 frame, envelope and video universes are deterministic
  * functions of documents.doc_id (md5-derived pixels/windows, ~19%
  * md5-gated variants), so scaling documents IS the frame-corpus
  * scaler — every block's ids draw fresh md5 frames with the same
  * variant rate and hamming distribution (id-independent by
  * construction), unrelated frames sit near hamming 30, and blocks
  * never pair. Workload grows linearly; measure the media gates
  * directly against these dirs (SCALE.md round 11).
  *
  * Because BOTH measurement points (1× and N×) are generated by the
  * SAME transform, the transform's effect on absolute time cancels
  * in the ratio — the curve isolates engine scaling.
  *
  * Run: sbt "runMain graft.tools.GenScale <srcSfDir> <outDir> <reps>"
  */
object GenScale {

  val DocOffset = 1000000L
  val KeyOffset = 7700000L // divisible by 7 and 11 (q41 edge pattern)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScale <srcSfDir> <outDir> <reps>")
    val src = args(0)
    val out = args(1)
    val reps = args(2).toInt
    require(reps >= 1 && reps * DocOffset < Long.MaxValue / 4)
    val spark = graft.SessionTuning.session(
      Runtime.getRuntime.availableProcessors(), src)

    val tables = graft.Tables(spark, src)
    def replicated(name: String): DataFrame =
      tables.table(name)
        .crossJoin(spark.range(reps).select(col("id").cast("int").as("rep")))

    // Block offsets are only bijective if every source key fits UNDER
    // its offset — an over-range source (a bigger SF, or GenScale
    // chained on its own output) would silently collide ids across
    // blocks and corrupt the linear-workload construction the SCALE.md
    // curves rest on. Fail loudly instead (review r9).
    def requireKeyRange(name: String, keyCol: String, offset: Long): Unit = {
      val mx = tables.table(name)
        .agg(max(col(keyCol))).collect()(0).getLong(0)
      require(mx >= 0 && mx < offset,
        s"$name.$keyCol max $mx must fit in [0, $offset): block " +
          "replication would collide ids across blocks")
    }
    requireKeyRange("documents", "doc_id", DocOffset)
    requireKeyRange("embeddings", "vec_id", DocOffset)
    requireKeyRange("orders", "o_orderkey", KeyOffset)
    requireKeyRange("lineitem", "l_orderkey", KeyOffset)

    val docs = replicated("documents")
      .withColumn("text",
        expr("regexp_replace(text, '(\\\\S+)', concat('$1x', cast(rep as string)))"))
      .select(
        (col("doc_id") + col("rep") * DocOffset).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

    // Per-block signed permutation, PRECOMPUTED once per rep on the
    // driver (review r9: deriving it inside the per-element lambda
    // re-ran a dim·log·dim sort with dim md5 calls for EVERY output
    // element — dim² md5s per row). The derivation reproduces the
    // previous in-SQL one bit-for-bit: perm = indices sorted by
    // (lowercase md5 hex of "rep:i", i) — Spark md5() is lowercase
    // hex, array_sort on struct(h, i) is (h, i) lexicographic, and
    // Scala's String ordering agrees on ASCII hex; sign(rep, j) =
    // parity of the first md5 byte of "s<rep>:<j>".
    val dim = tables.embeddings
      .select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xFF}%02x").mkString
    val perms: Seq[Seq[Int]] = (0 until reps).map { rep =>
      (0 until dim).map(i => (md5Hex(s"$rep:$i"), i)).sorted.map(_._2)
    }
    val signs: Seq[Seq[Float]] = (0 until reps).map { rep =>
      (0 until dim).map { j =>
        val parity = Integer.parseInt(md5Hex(s"s$rep:$j").substring(0, 2), 16) % 2
        (1 - 2 * parity).toFloat
      }
    }
    val embs = replicated("embeddings")
      .withColumn("__perm", element_at(typedLit(perms), col("rep") + 1))
      .withColumn("__sign", element_at(typedLit(signs), col("rep") + 1))
      .select(
        (col("vec_id") + col("rep") * DocOffset).as("vec_id"),
        expr("transform(sequence(0, size(embedding) - 1), j -> " +
          "element_at(embedding, element_at(__perm, CAST(j AS INT) + 1) + 1) " +
          "* element_at(__sign, CAST(j AS INT) + 1))")
          .as("embedding"),
        col("label"))

    val orders = replicated("orders")
      .select(
        (col("o_orderkey") + col("rep") * KeyOffset).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))

    val lineitem = replicated("lineitem")
      .select(
        (col("l_orderkey") + col("rep") * KeyOffset).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    write(docs, "documents", math.max(2, reps))
    write(embs, "embeddings", math.max(2, reps))
    write(orders, "orders", math.max(2, reps * 2))
    write(lineitem, "lineitem", math.max(4, reps * 4))
    println(s"[genscale] wrote ${reps}x of $src to $out")
    spark.stop()
  }
}
