package graft.operators

import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A11: group-level similarity with the reference's three score
  * flavors (Experimental/vector_search/precompute_similar_groups.py):
  *
  *  - `score_raw`   — symmetric chamfer over the two groups' member
  *    vectors (mean over each side's best-match cosine, averaged).
  *  - `score_style` — the same chamfer with member pairs at/above
  *    `dupThresh` masked out of both maxes; a member whose every
  *    counterpart is a duplicate contributes 0 (the reference's
  *    nan_to_num on the -inf max, py:222-235). Demotes pure
  *    re-releases.
  *  - `score_kde`   — cosine of RBF kernel mean embeddings
  *    (py:181-221): kernel k(x,y) = exp(γ·(cos(x,y) − 1)), cross mean
  *    over all n·m member pairs normalized by both groups' self
  *    kernel mass (diagonal included), so identical groups score
  *    exactly 1. γ from the median heuristic ([[calibrateGamma]]),
  *    "1/median cosine distance over anchor-candidate member pairs"
  *    (py:156-178).
  *
  * Everything is RELATIONAL: candidate pairs × pad² member pairs is
  * the only expansion, aggregated with map-side partial aggregation —
  * no group ever materializes a matrix. At 100 TB the knobs are
  * recallK (candidates per anchor) and pad (member cap per group),
  * exactly the reference's --k/--pad. Score arithmetic accumulates in
  * exact DECIMAL over 4-decimal-rounded cosines so results are
  * bit-reproducible across engines (the DuckDB oracle runs the same
  * math).
  *
  * Deliberate parameter simplifications vs the reference (documented,
  * not semantic): members are capped to the first `pad` by id (vs
  * linspace subsample), and γ calibration samples the smallest ids
  * (vs seeded RNG) — both deterministic under Spark's execution
  * model where a seeded global RNG is not.
  */
object GroupSimilarity {

  private def fastCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosine(a, b)

  /** Member relation capped to the first `pad` members per group in
    * `idCol` order: (gid, mi, vec). One window pass; the cap bounds
    * every downstream join (py:120-146 build_groups pad semantics).
    */
  def cappedMembers(members: DataFrame, groupCol: String, idCol: String,
      vecCol: String, pad: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("gid")).orderBy(col("mid"))
    members
      .select(col(groupCol).as("gid"), col(idCol).as("mid"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("mi", row_number().over(w))
      .filter(col("mi") <= pad)
      .select(col("gid"), col("mi"), col("vec"))
  }

  /** Median-heuristic RBF bandwidth: γ = 1 / median(1 − cos) over
    * member pairs of up to `sampleAnchors` anchors × their first
    * `perAnchor` candidates — the pairs the kernel has to
    * discriminate, not global random pairs (py:156-178). The kernel
    * evaluates to e⁻¹ at the median distance. */
  def calibrateGamma(capped: DataFrame, pairs: DataFrame,
      sampleAnchors: Int = 256, perAnchor: Int = 4): Double = {
    val sampledAnchors = pairs.select(col("a_gid")).distinct()
      .orderBy(col("a_gid")).limit(sampleAnchors)
    val sampled = pairs.join(sampledAnchors, "a_gid")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("a_gid")).orderBy(col("b_gid"))))
      .filter(col("__rn") <= perAnchor)
      .select(col("a_gid"), col("b_gid"))
    val dists = sampled
      .join(capped.select(col("gid").as("a_gid"), col("vec").as("a_vec")), "a_gid")
      .join(capped.select(col("gid").as("b_gid"), col("vec").as("b_vec")), "b_gid")
      .select((lit(1.0) - fastCosine(col("a_vec"), col("b_vec"))).as("dist"))
    // Empty sample (no anchors matched / no recall candidates) →
    // percentile yields NULL; fail with the actual cause rather than
    // an opaque NullPointerException downstream.
    val medRow = dists.agg(expr("percentile(dist, 0.5)")).head()
    require(!medRow.isNullAt(0),
      "calibrateGamma: empty distance sample (no anchor-candidate pairs); " +
        "check anchorPred/recallK or pass gamma explicitly")
    1.0 / math.max(medRow.getDouble(0), 1e-4)
  }

  /** Per-group self kernel mass <μ,μ>: mean kernel over ALL n²
    * ordered member pairs, diagonal included (py:181-192).
    * Returns (gid, kmass DOUBLE). */
  private def selfKernelMass(capped: DataFrame, gamma: Double): DataFrame = {
    val x = capped.select(col("gid"), col("vec").as("x_vec"))
    val y = capped.select(col("gid"), col("vec").as("y_vec"))
    x.join(y, "gid")
      .withColumn("c", round(fastCosine(col("x_vec"), col("y_vec")), 4))
      .withColumn("kern",
        Num.dec(round(exp(lit(gamma) * (col("c") - 1.0)), 6), 38, 12))
      .groupBy(col("gid"))
      .agg(sum(col("kern")).cast("double").as("ksum"), count(lit(1)).as("nn"))
      .select(col("gid"), (col("ksum") / col("nn")).as("kmass"))
  }

  /** The three scores for explicit candidate pairs (a_gid, b_gid).
    * Output: (a_gid, b_gid, score_style, score_raw, score_kde), each
    * rounded to 6 decimals (the reference's CSV precision). */
  def scores(capped: DataFrame, pairs: DataFrame, gamma: Double,
      dupThresh: Double = 0.9985): DataFrame = {
    val a = capped.select(col("gid").as("a_gid"), col("mi").as("ai"),
      col("vec").as("a_vec"))
    val b = capped.select(col("gid").as("b_gid"), col("mi").as("bi"),
      col("vec").as("b_vec"))
    // |pairs| × pad² rows — the bounded expansion; cosines rounded to
    // 4 decimals once, every downstream stat derives from them
    val cross = pairs.join(a, "a_gid").join(b, "b_gid")
      .select(col("a_gid"), col("b_gid"), col("ai"), col("bi"),
        round(fastCosine(col("a_vec"), col("b_vec")), 4).as("c"))
    val kernSums = cross
      .withColumn("kern",
        Num.dec(round(exp(lit(gamma) * (col("c") - 1.0)), 6), 38, 12))
      .groupBy(col("a_gid"), col("b_gid"))
      .agg(sum(col("kern")).cast("double").as("ksum"), count(lit(1)).as("nm"))
    // chamfer sides: per-member best (raw) and best-non-duplicate
    // (style, 0 when every counterpart is a dup) — exact decimal sums
    def side(mCol: String, aName: String, sName: String, nName: String) =
      cross.groupBy(col("a_gid"), col("b_gid"), col(mCol))
        .agg(max(col("c")).as("best"),
          coalesce(max(when(col("c") < dupThresh, col("c"))), lit(0.0))
            .as("best_style"))
        .groupBy(col("a_gid"), col("b_gid"))
        .agg(sum(Num.dec(col("best"), 28, 10)).cast("double").as(aName),
          sum(Num.dec(col("best_style"), 28, 10)).cast("double").as(sName),
          count(lit(1)).as(nName))
    val aSide = side("ai", "sum_a", "sum_a_style", "na")
    val bSide = side("bi", "sum_b", "sum_b_style", "nb")
    val mass = selfKernelMass(capped, gamma)
    kernSums
      .join(aSide, Seq("a_gid", "b_gid"))
      .join(bSide, Seq("a_gid", "b_gid"))
      .join(mass.select(col("gid").as("a_gid"), col("kmass").as("a_mass")), "a_gid")
      .join(mass.select(col("gid").as("b_gid"), col("kmass").as("b_mass")), "b_gid")
      .select(col("a_gid"), col("b_gid"),
        round(lit(0.5) * (col("sum_a_style") / col("na")
          + col("sum_b_style") / col("nb")), 6).as("score_style"),
        round(lit(0.5) * (col("sum_a") / col("na")
          + col("sum_b") / col("nb")), 6).as("score_raw"),
        round((col("ksum") / col("nm"))
          / sqrt(col("a_mass") * col("b_mass")), 6).as("score_kde"))
  }

  /** End-to-end similar-groups: centroid-cosine recall of `recallK`
    * candidates per anchor group, then all three scores, ranked per
    * anchor by kde (the reference emits one ranked file per flavor;
    * re-rank by score_raw/score_style downstream as needed). */
  def similarGroups(members: DataFrame, groupCol: String, idCol: String,
      vecCol: String, anchorPred: Column, recallK: Int, pad: Int = 64,
      dupThresh: Double = 0.9985, gamma: Option[Double] = None): DataFrame = {
    val capped = graft.CacheScope.track(
      cappedMembers(members, groupCol, idCol, vecCol, pad))
    // group centroids: element-wise mean (normalization is irrelevant
    // to the cosine ranking that consumes them). The shared
    // exact-decimal kernel, NOT a float sum(v)/count: an unordered
    // double sum varies with partition/merge order, and a centroid
    // bit-difference can flip a rounded cosine at the recallK
    // boundary — the determinism discipline everything else in this
    // file already follows.
    val cent = VectorAgg.meanVectors(capped, col("gid"), col("vec"))
      .select(col("grp").as("gid"), col("mean_vec").as("cvec"))
    val recall = SimilaritySearch.cosineTopK(
        cent, cent.filter(anchorPred), recallK, idCol = "gid", vecCol = "cvec")
      .select(col("anchor_id").as("a_gid"), col("neighbor_id").as("b_gid"))
    val g = gamma.getOrElse(calibrateGamma(capped, recall))
    val w = Window.partitionBy(col("a_gid"))
      .orderBy(col("score_kde").desc, col("b_gid"))
    scores(capped, recall, g, dupThresh)
      .withColumn("rank", row_number().over(w))
  }
}
