package graft.operators

import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RhpKernels

/** Vector aggregation + chamfer similarity (SURVEY A10/A11, P6/E7).
  *
  * Mean/max pooling over per-track chunk embeddings is a custom
  * `Aggregator` with a fixed-size mutable buffer — O(dim) state per
  * group instead of `collect_list`'s O(chunks·dim), which is the
  * difference between streaming partial aggregation and OOM at the
  * reference's 9.7M-chunk scale (chunk_store.py:15-17).
  *
  * The chamfer rerank follows the reference's two-stage plan
  * (Docs/SIMILARITY-PLAN.md:55-75): cheap pooled-cosine recall bounds
  * the candidate set, and the expensive chunk-level chamfer runs only
  * on K candidates per anchor — never the O(n²·c²) brute force.
  */
object VectorAgg {

  /** Buffer: element-wise running sum + max + count. */
  case class PoolBuf(var sum: Array[Double], var max: Array[Double],
      var n: Long)

  case class Pooled(mean: Array[Double], max: Array[Double], n: Long)

  /** A10: one-pass element-wise mean+max pooling Aggregator over an
    * ARRAY<FLOAT/DOUBLE> column (export_pooled_from_store.py:44-48 —
    * mean[1024] and mean+max[2048] pooled vectors). */
  class PoolAggregator extends Aggregator[Seq[Double], PoolBuf, Pooled] {
    def zero: PoolBuf = PoolBuf(Array.empty, Array.empty, 0L)
    def reduce(b: PoolBuf, v: Seq[Double]): PoolBuf = {
      if (b.n == 0L) {
        PoolBuf(v.toArray, v.toArray, 1L)
      } else {
        var i = 0
        while (i < b.sum.length) {
          b.sum(i) += v(i)
          if (v(i) > b.max(i)) b.max(i) = v(i)
          i += 1
        }
        b.n += 1
        b
      }
    }
    def merge(a: PoolBuf, c: PoolBuf): PoolBuf = {
      if (a.n == 0L) c
      else if (c.n == 0L) a
      else {
        var i = 0
        while (i < a.sum.length) {
          a.sum(i) += c.sum(i)
          if (c.max(i) > a.max(i)) a.max(i) = c.max(i)
          i += 1
        }
        a.n += c.n
        a
      }
    }
    def finish(b: PoolBuf): Pooled =
      Pooled(b.sum.map(_ / math.max(b.n, 1L)), b.max, b.n)
    def bufferEncoder: Encoder[PoolBuf] = Encoders.product[PoolBuf]
    def outputEncoder: Encoder[Pooled] = Encoders.product[Pooled]
  }

  /** Buffer for [[DecimalVecMeanAggregator]]: per-dimension 128-bit
    * signed accumulators (hi/lo two's-complement limbs) of the
    * decimal-scaled elements, plus the member count. O(dim) state
    * per group — the PoolBuf discipline at the decimal tier. */
  case class DecBuf(var hi: Array[Long], var lo: Array[Long],
      var n: Long)

  /** A cell's exact-decimal mean and its member count. */
  case class CellMean(mean: Array[Double], n: Long)

  /** Element-wise vector mean under exact decimal-sum parity: the
    * value of `sum(round(x, 12).cast(decimal(38,12))).cast(double) /
    * count` per dimension, as one bounded O(dim) buffer per cell
    * instead of rows×dim exploded rows through a (cell, d)-keyed
    * aggregate.
    *
    * Element by element:
    *   1. `round(x, 12)` then its decimal(38,12) cast —
    *      [[RhpKernels.round12]], as an exact integer in 10⁻¹² units
    *      (elements past ~9.2×10⁶ in magnitude overflow the scaled
    *      long and throw);
    *   2. exact 128-bit integer accumulation of those units, so the
    *      sum is partitioning-proof;
    *   3. finish: the exact BigDecimal (scale 12) to double, divided
    *      by the count.
    * Parity with the relational decimal aggregate is spec-pinned
    * (VectorAggSpec).
    *
    * Every vector must be `dim` wide (`dim` = 0: as wide as the
    * cell's first); a null, empty or other-width vector fails with an
    * error that starts with `site`. The check runs here, not as a
    * column expression, so the generated code does not depend on
    * `dim`. */
  class DecimalVecMeanAggregator(site: String, dim: Int)
      extends Aggregator[(Int, Array[Double]), DecBuf, CellMean] {
    private def add128(b: DecBuf, d: Int, s: Long): Unit = {
      val sum = b.lo(d) + s
      val carry = ((b.lo(d) & s) | ((b.lo(d) | s) & ~sum)) >>> 63
      b.hi(d) += (s >> 63) + carry
      b.lo(d) = sum
    }
    def zero: DecBuf = DecBuf(Array.empty, Array.empty, 0L)
    def reduce(b: DecBuf, row: (Int, Array[Double])): DecBuf = {
      val v = row._2
      // one count per cell is only a per-dimension count when every
      // vector has the cell's width
      require(v != null && v.length > 0,
        s"$site: null or empty vector in cell ${row._1}")
      val buf = if (b.n == 0L && b.hi.isEmpty) {
        val w = if (dim > 0) dim else v.length
        DecBuf(new Array[Long](w), new Array[Long](w), 0L)
      } else b
      require(v.length == buf.lo.length,
        s"$site: ragged vector in cell ${row._1} has width ${v.length}, " +
          s"expected ${buf.lo.length}")
      var d = 0
      while (d < v.length) { add128(buf, d, RhpKernels.round12(v(d))); d += 1 }
      buf.n += 1
      buf
    }
    def merge(a: DecBuf, c: DecBuf): DecBuf = {
      if (a.n == 0L) c
      else if (c.n == 0L) a
      else {
        require(a.lo.length == c.lo.length,
          s"$site: ragged partitions — ${a.lo.length} vs " +
            s"${c.lo.length}")
        var d = 0
        while (d < a.lo.length) {
          val sum = a.lo(d) + c.lo(d)
          val carry =
            ((a.lo(d) & c.lo(d)) | ((a.lo(d) | c.lo(d)) & ~sum)) >>> 63
          a.hi(d) = a.hi(d) + c.hi(d) + carry
          a.lo(d) = sum
          d += 1
        }
        a.n += c.n
        a
      }
    }
    def finish(b: DecBuf): CellMean = {
      if (b.n == 0L) return null
      val out = new Array[Double](b.lo.length)
      var d = 0
      while (d < out.length) {
        val big = java.math.BigInteger.valueOf(b.hi(d)).shiftLeft(64)
          .add(new java.math.BigInteger(
            java.lang.Long.toUnsignedString(b.lo(d))))
        out(d) = new java.math.BigDecimal(big, 12).doubleValue() / b.n
        d += 1
      }
      CellMean(out, b.n)
    }
    def bufferEncoder: Encoder[DecBuf] = Encoders.product[DecBuf]
    def outputEncoder: Encoder[CellMean] = Encoders.product[CellMean]
  }

  /** Per-cell decimal-parity mean over a (cell, vec) relation — the
    * [[DecimalVecMeanAggregator]] behind a DataFrame door: returns
    * (cell, __newc mean, __n member count). The Lloyd mean kernel of
    * every k-means trainer ([[KMeansPortable]]); `site` and `dim` as
    * in [[DecimalVecMeanAggregator]]. */
  def decimalVecMeans(assigned: DataFrame, site: String = "decimalVecMeans",
      dim: Int = 0): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select(col("cell").cast("int"), col("vec").cast("array<double>"))
      .as[(Int, Array[Double])]
      .groupByKey(_._1)
      .agg(new DecimalVecMeanAggregator(site, dim).toColumn.name("__m"))
      .toDF("cell", "__m")
      .select(col("cell"), col("__m.mean").as("__newc"),
        col("__m.n").as("__n"))
  }

  /** Pool chunk rows (idCol, vecCol ARRAY<numeric>) → one row per id
    * with mean, max, n_chunks, and L2-normalized mean (the recall
    * vector — Docs/SIMILARITY-PLAN.md:40-42). */
  def poolChunks(chunks: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .select(col(idCol).cast("string").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(String, Seq[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new PoolAggregator().toColumn.name("pooled"))
      .toDF("id", "pooled")
      .select(col("id"), col("pooled.mean").as("mean_vec"),
        col("pooled.max").as("max_vec"), col("pooled.n").as("n_chunks"))
  }

  private def cosineArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Symmetric chamfer similarity of two chunk sets: mean over each
    * side's best-match cosine to the other
    * (precompute_similar_tracks.py:129-155 semantics). Inputs are
    * unboxed to primitive arrays once — the inner loop is then pure
    * double arithmetic (the BLAS-in-UDF shape from SURVEY §4).
    */
  private[graft] def chamfer(a: Seq[Seq[Double]],
      b: Seq[Seq[Double]]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val xa = a.map(_.toArray).toArray
    val xb = b.map(_.toArray).toArray
    def oneWay(xs: Array[Array[Double]], ys: Array[Array[Double]]): Double = {
      var s = 0.0; var i = 0
      while (i < xs.length) {
        var best = Double.MinValue; var j = 0
        while (j < ys.length) {
          val c = cosineArr(xs(i), ys(j)); if (c > best) best = c; j += 1
        }
        s += best; i += 1
      }
      s / xs.length
    }
    (oneWay(xa, xb) + oneWay(xb, xa)) / 2.0
  }

  case class ChamferScore(anchor_id: String, neighbor_id: String,
      rank: Int, score: Double)

  /** Exact-decimal per-id mean vectors: each component is an exact
    * DECIMAL sum / count, rounded to 6 — BIT-REPRODUCIBLE on any
    * engine regardless of accumulation order (the q21 centroid
    * formulation). The recall stage of [[similarByChamfer]] ranks on
    * cosines of these, so its candidate sets survive a cross-engine
    * re-derivation; the one-pass [[PoolAggregator]] (A10) remains the
    * streaming-scale pooling variant where bit-parity isn't needed. */
  private def exactMeanVectors(chunks: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    meanVectors(chunks, col(idCol).cast("string"), col(vecCol))
      .select(col("grp").as("vec_id"), col("mean_vec"))

  /** The shared exact-mean kernel behind [[exactMeanVectors]] and
    * [[SimilaritySearch.centroids]] — previously two near-identical
    * posexplode → decimal-sum → array_sort reassembly pipelines whose
    * rounding could drift apart under maintenance. Each component is
    * round(exact DECIMAL sum / count, 6): order-free, so the map-side
    * partial aggregation cannot change a value, and bit-reproducible
    * cross-engine (the q21/q30 oracle discipline). Returns
    * (grp, mean_vec ARRAY<DOUBLE>); the caller names/casts the group
    * key. */
  private[operators] def meanVectors(vectors: DataFrame, grp: Column,
      vecCol: Column): DataFrame =
    vectors
      .select(grp.as("grp"),
        posexplode(vecCol.cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos"))
      .agg(round(sum(Num.dec9(col("v"))).cast("double")
        / count(lit(1)), 6).as("mv"))
      .groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        s => s.getField("mv")).as("mean_vec"))

  /** P6/E7: two-stage similar-tracks — recall top `recallK` by pooled
    * mean cosine (via [[SimilaritySearch.cosineTopK]] over
    * [[exactMeanVectors]]), then chamfer rerank on chunk sets, keep
    * `keepK`. Chunks subsampled to the `maxChunks` smallest vectors in
    * array order per track (pad-96 analog,
    * precompute_similar_tracks.py:80-96) to bound the expansion.
    *
    * The rerank is fully RELATIONAL (the q31 GroupSimilarity
    * formulation): candidate pairs × maxChunks² cosine rows, rounded
    * to 4 decimals once, per-chunk best via groupBy max, chamfer mean
    * via exact DECIMAL sums — map-side partial aggregation keeps any
    * single group from materializing a matrix, and every number is
    * bit-reproducible cross-engine, so the whole two-stage plan sits
    * under a full DuckDB oracle (gate q30). The earlier flatMapGroups
    * + Scala-loop rerank computed the same chamfer but with raw
    * double accumulation no other engine could replay. */
  def similarByChamfer(chunks: DataFrame, idCol: String, vecCol: String,
      anchorPred: org.apache.spark.sql.Column, recallK: Int, keepK: Int,
      maxChunks: Int = 96): Dataset[ChamferScore] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val pooled = exactMeanVectors(chunks, idCol, vecCol)
    val recall = SimilaritySearch.cosineTopK(
      pooled, pooled.filter(anchorPred), recallK,
      idCol = "vec_id", vecCol = "mean_vec")
    // deterministic chunk cap with a per-chunk ORDINAL: row_number
    // over the array ordering keeps the same maxChunks-smallest set
    // BoundedSortedCollect gathered, but as rows — the identity each
    // relational max-per-chunk group needs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("v"))
    val capped = graft.CacheScope.track(chunks
      .select(col(idCol).cast("string").as("cid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("mi", row_number().over(w))
      .filter(col("mi") <= maxChunks))
    val cross = recall
      .select(col("anchor_id").cast("string").as("a_gid"),
        col("neighbor_id").cast("string").as("b_gid"))
      .join(capped.select(col("cid").as("a_gid"), col("mi").as("ai"),
        col("v").as("a_vec")), "a_gid")
      .join(capped.select(col("cid").as("b_gid"), col("mi").as("bi"),
        col("v").as("b_vec")), "b_gid")
      .select(col("a_gid"), col("b_gid"), col("ai"), col("bi"),
        round(org.apache.spark.sql.graft.VectorExpressions.cosine(
          col("a_vec"), col("b_vec")), 4).as("c"))
    def side(mCol: String, sName: String, nName: String) =
      cross.groupBy(col("a_gid"), col("b_gid"), col(mCol))
        .agg(max(col("c")).as("best"))
        .groupBy(col("a_gid"), col("b_gid"))
        .agg(sum(Num.dec(col("best"), 28, 10)).cast("double").as(sName),
          count(lit(1)).as(nName))
    val scored = side("ai", "sum_a", "na")
      .join(side("bi", "sum_b", "nb"), Seq("a_gid", "b_gid"))
      .select(col("a_gid"), col("b_gid"),
        round(lit(0.5) * (col("sum_a") / col("na")
          + col("sum_b") / col("nb")), 6).as("score"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_gid")).orderBy(col("score").desc, col("b_gid"))
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= keepK)
      .select(col("a_gid").as("anchor_id"), col("b_gid").as("neighbor_id"),
        col("rank"), col("score"))
      .as[ChamferScore]
  }

  /** A11-lite group similarity: cosine of group mean vectors plus the
    * dup-collapse the reference applies (identical members count
    * once — precompute_similar_groups.py:15-44 shape). */
  def groupCentroidSimilarity(members: DataFrame, groupCol: String,
      vecCol: String, anchorPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val pooled = poolChunks(
      members.dropDuplicates(groupCol, vecCol), groupCol, vecCol)
      .withColumnRenamed("id", "vec_id")
    SimilaritySearch.cosineTopK(pooled, pooled.filter(anchorPred), k,
      idCol = "vec_id", vecCol = "mean_vec")
  }
}
