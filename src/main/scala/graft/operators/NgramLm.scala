package graft.operators

import graft.functions.TextFunctions.{bindArray, tokens}
import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model fluency scoring — the CCNet quality signal
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data", LREC 2020 scores documents by the
  * perplexity of a KenLM n-gram model trained on a trusted corpus and
  * keeps the fluent tail; Gopher/FineWeb run the same discipline).
  * Re-expressed relationally: the model IS two aggregated relations —
  * bigram counts and bigram-head counts — and scoring is a keyed join
  * + one aggregation, so the whole pass distributes without any
  * model-server dependency.
  *
  * Smoothing: add-one (Laplace) over the conditional,
  * P(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V), with c1 the HEAD count
  * (Σ_w2 c(w1,w2), so the conditional normalizes exactly) and V the
  * training vocabulary size. Unseen heads degrade smoothly to 1/V.
  *
  * Cross-engine determinism (the q31 discipline): every per-bigram
  * surprisal is rounded — bits = −round(log2 P, 6) — then summed in
  * EXACT DECIMAL, so document scores are bit-reproducible on any
  * engine with log2/md5-grade determinism; the q60 oracle re-derives
  * the model AND the scores in DuckDB.
  *
  * Scale shape: training = one shuffle of (w1, w2) pairs with
  * map-side combine (Zipf collapses hot bigrams per partition before
  * the exchange), head counts a second tiny aggregation OF THE FIRST's
  * output, vocabulary a 1-row distinct count attached by broadcast.
  * Scoring joins dwarf-side model relations (vocab², heavily pruned in
  * practice) into the corpus bigram stream — AQE broadcasts them when
  * they fit, else they hash-join on uniformly-distributed word keys.
  * Token text never aggregates: only (w1, w2) pairs and counts move.
  */
object NgramLm {

  /** The trained model: all lazy relations, so a deployment persists
    * them as parquet artifacts (like the bloom/IVF/PQ artifacts) and
    * every scoring run reuses them.
    *
    * @param bigrams  (w1, w2, c)   — bigram counts over the train set
    * @param heads    (w1, c1)      — Σ_w2 c(w1, w2)
    * @param vocab    1 row, (V)    — distinct training tokens
    */
  final case class Model(bigrams: DataFrame, heads: DataFrame, vocab: DataFrame)

  /** (w1, w2) struct array of a document — one bound-array projection,
    * empty for docs with fewer than 2 tokens. */
  private[graft] def bigramArray(text: Column): Column = bindArray(tokens(text)) { ts =>
    when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => struct(element_at(ts, i).as("w1"), element_at(ts, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Train a bigram model over `docs`. */
  def train(docs: DataFrame, textCol: String): Model = {
    val bg = docs.select(explode(bigramArray(col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigrams = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val heads = bigrams.groupBy(col("w1"))
      .agg(sum(col("c")).as("c1"))
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .agg(countDistinct(col("w")).as("V"))
    Model(bigrams, heads, vocab)
  }

  /** Score every document: surprisal under the model.
    *
    * Returns (doc_id, n_bigrams, n_oov, sum_bits, avg_bits) — docs
    * with fewer than 2 tokens score (0, 0, null, null); `n_oov`
    * counts bigrams unseen in training.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    val bg = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(bigramArray(col(textCol))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val p = (coalesce(col("c"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("V")).cast("double")
    val terms = bg
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.heads, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab)) // declared 1-row scalar attach
      .select(col("doc_id"), col("c").isNull.as("oov"),
        (-round(log2(p), 6)).as("bits"))
    val agg = terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov").cast("long")).as("n_oov"),
        sum(Num.dec(col("bits"), 28, 6)).cast("double").as("sum_bits"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("sum_bits"),
        (col("sum_bits") / col("n_bigrams")).as("avg_bits"))
  }
}
