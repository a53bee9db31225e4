package graft.operators

import graft.functions.TextFunctions.tokens
import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Importance-resampling data selection (DSIR — Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * given a small TARGET sample of the distribution you want (a
  * trusted domain, a benchmark-adjacent corpus) and a large RAW
  * candidate pool, score every candidate by how target-like its
  * hashed n-gram profile is and keep the top fraction per domain.
  * This is the distribution-matching sibling of the discriminative
  * quality classifier ([[QualityClassifier]], q68/q77): where that
  * learns "does this look GOOD" from labels, DSIR learns "does this
  * look like THE TARGET" from the target sample alone — generative
  * bag-of-features likelihood ratios, no labels and no
  * gradient-descent trainer, which is why the WHOLE pipeline
  * (training included) fits under one exact oracle (q87, the
  * q80/q85/q86 zero-fixture discipline).
  *
  * Mechanics: features are hashed unigrams ∪ bigrams (the hashing
  * trick over the [[graft.functions.TextFunctions.tokens]] whitespace
  * surface; md5-bucketed like every portable feature map here, the
  * q68 recipe); per-bucket add-1-smoothed log-likelihood-ratio
  * weights w_b = ln p̂_target(b) − ln p̂_raw(b) are learned from the
  * bucket totals, ROUNDED TO 6 before use (the q75/q77 ln()/exp()
  * discipline: the one transcendental call's sub-ulp cross-engine
  * variation is absorbed by the rounding; everything downstream of
  * the rounded weights is exact DECIMAL); a candidate's score is the
  * exact decimal dot product Σ_b n_b·w_b of its bucket counts with
  * the weight vector (each term rounded to 12, summed in
  * DECIMAL(38,12) — order-free, partitioning-proof); selection is
  * rank-based per domain ([[Sampling.qualityFilter]] — rank ≤
  * ceil(frac·n) on (score desc, id), the integer-exact selection the
  * threshold-based alternative is not).
  *
  * Scale shape: ONE corpus-wide shuffle (repartition by id) feeds
  * the per-doc bucket counts, whose hash partitioning is a prefix of
  * every downstream clustering — the (id, bucket) aggregation, the
  * weight attach (a ≤`buckets`-row broadcast), and the per-doc score
  * aggregation all reuse it (the q36 prefix-partitioning
  * discipline). The training branch is a map-side-combining
  * aggregation down to ≤`buckets` rows — model state is
  * bucket-count-sized, corpus-size-independent (the Lloyd
  * discipline), and never touches the driver: the weight relation
  * stays a DataFrame end-to-end. The candidate-count and rank
  * windows shuffle on the domain key only.
  */
object DataSelection {

  private val dec12 = DecimalType(38, 12)

  /** Unigram ∪ bigram surface features of a token array: the tokens
    * themselves plus space-joined adjacent pairs (whitespace cannot
    * survive inside a token, so the joined form is collision-free
    * against unigrams and other pairs). */
  private[graft] def featuresOf(toks: Column): Column =
    concat(toks, transform(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      (t, i) => concat(t, lit(" "), element_at(toks, i + 2))))

  /** The q68-recipe md5 bucket of a feature string (single-sited in
    * [[graft.functions.TextFunctions.md5Bucket]]). */
  private def bucketOf(f: Column, buckets: Int): Column =
    graft.functions.TextFunctions.md5Bucket(md5(f), buckets.toLong)

  /** Select the most target-like `keepNum/keepDenom` fraction of
    * each domain's candidates. `targetPred` marks the target sample
    * (excluded from the output — it is the reference, not a
    * candidate). Returns (id, domain, score) for kept candidates;
    * `score` is the log-likelihood-ratio dot product (cast to double
    * for presentation; ranking happens on the exact decimal).
    * Candidates with no tokens score 0 and rank by id like any
    * other (`explode_outer` keeps their row through the chain).
    */
  def importanceResample(corpus: DataFrame, targetPred: Column,
      idCol: String, textCol: String, domainCol: String,
      buckets: Int = 256, keepNum: Int = 1, keepDenom: Int = 4): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(keepNum > 0 && keepDenom >= keepNum,
      s"keep fraction $keepNum/$keepDenom must be in (0, 1]")
    // per-doc bucket counts, CACHED: consumed by the training branch
    // (bucket totals) and the scoring branch. The no-feature row an
    // empty document keeps through explode_outer carries f = NULL →
    // bucket = NULL, n = count(f) = 0 — it rides to the score
    // aggregation (score 0) but contributes nothing to training.
    // the feature STRING is hashed to its int bucket and projected
    // away INSIDE this select, before the repartition — `n` counts
    // the (null iff f was null) bucket column, so nothing forces `f`
    // to survive above the exchange and the corpus-wide shuffle
    // payload is (id, domain, tgt, bucket) (review r9: counting `f`
    // itself kept the strings alive through the shuffle)
    val fc = graft.CacheScope.track(
      Par.ensureWide(corpus)
        .select(col(idCol).as("id"), col(domainCol).as("domain"),
          targetPred.as("tgt"), tokens(col(textCol)).as("__toks"))
        .select(col("id"), col("domain"), col("tgt"),
          explode_outer(featuresOf(col("__toks"))).as("f"))
        .select(col("id"), col("domain"), col("tgt"),
          bucketOf(col("f"), buckets).as("bucket"))
        .repartition(col("id"))
        .groupBy(col("id"), col("domain"), col("tgt"), col("bucket"))
        .agg(count(col("bucket")).as("n")))
    // training: add-1-smoothed per-bucket log-likelihood ratios from
    // the target/raw totals — ≤ `buckets` rows after map-side combine
    val totals = fc.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), col("n")).otherwise(0L)).as("tp"),
        sum(when(!col("tgt"), col("n")).otherwise(0L)).as("rq"))
      .filter(col("bucket").isNotNull)
    val scalars = totals.agg(sum(col("tp")).as("np"), sum(col("rq")).as("nq"))
    val b = lit(buckets.toLong)
    val weights = totals.crossJoin(broadcast(scalars)) // 1-row scalar attach
      .select(col("bucket"),
        round(log((col("tp") + 1L) / (col("np") + b).cast("double")) -
          log((col("rq") + 1L) / (col("nq") + b).cast("double")), 6).as("w"))
    // scoring: candidates only; the weight attach broadcasts and the
    // per-doc aggregation reuses the id partitioning (zero shuffles
    // past the fc build). A bucket absent from training cannot occur
    // on a candidate (candidates fed the totals), so the left join
    // only passes NULL w for the no-feature sentinel row.
    val scores = graft.CacheScope.track(fc.filter(!col("tgt"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("id"), col("domain"))
      .agg(coalesce(sum(when(col("w").isNotNull,
          Num.round12(col("w") * col("n")))),
        lit(0).cast(dec12)).as("score")))
    Sampling.qualityFilter(scores, "domain", col("score"),
        keepNum, keepDenom, "id")
      .select(col("id"), col("domain"), col("score").cast("double").as("score"))
  }
}
