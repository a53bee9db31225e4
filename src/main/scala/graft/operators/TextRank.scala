package graft.operators

import graft.functions.TextFunctions.{normalized, tokens}
import graft.queries.Num
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistics text scoring: TF-IDF weights and BM25 ranking —
  * the retrieval/quality-filter staple of training-data pipelines
  * (score documents against a topic term list, keep the tail).
  *
  * Scale shape: candidate rows are FILTERED to the query vocabulary
  * before any shuffle (the explode emits only query-term hits), so the
  * expensive relations are |docs|×|query| at most, never |corpus
  * tokens|. Corpus constants (N, avgdl) and per-term document
  * frequencies are tiny aggregates broadcast back; the whole plan is
  * two scans + keyed aggregations — no windows, no driver loops.
  *
  * Cross-engine parity (the DuckDB oracle runs the same math): the
  * only non-IEEE-specified operation (ln) is rounded to 6 decimals,
  * per-term contributions multiply as exact DECIMALs, and the per-doc
  * sum is exact decimal arithmetic cast to double at the end —
  * identical bits on both engines (same discipline as the A11 kernel
  * scores).
  */
object TextRank {

  /** Per-(doc, term) TF-IDF weights over the whole vocabulary:
    * (doc_id, term, tf, df, weight) with
    * weight = round(tf · round(ln((N+1)/(df+1)) + 1, 6), 6) — the
    * smoothed formulation that keeps corpus-universal terms positive. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(normalized(col(textCol)))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    // NO broadcast hint on df: it has one row per distinct corpus
    // term, which at web scale is 10⁸⁺ rows — a forced broadcast
    // collects the whole vocabulary to the driver (8 GB hard limit /
    // OOM). A plain equi-join on term lets AQE broadcast when the
    // vocabulary actually is small; bm25's dfreq is the legitimately
    // tiny (query-bounded) case and keeps its hint.
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf", round(log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0, 6))
      .withColumn("weight",
        round(col("tf").cast("double") * col("idf"), 6))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("weight"))
  }

  /** BM25 score of every document against a fixed query term set
    * (Robertson–Spärck Jones idf, k1/b defaults from the literature).
    * Returns (doc_id, n_hit, score) for documents matching ≥1 term.
    *
    * Only query-term hits ever leave the scan: the token explode
    * filters to `queryTerms` inline, so tf/df/score relations are
    * bounded by |docs|·|query|. Document length statistics come from a
    * separate full-scan aggregate (token counts only — no explode). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val qlit = array(queryTerms.map(lit): _*)
    val lens = docs.select(col(idCol).as("doc_id"),
      size(tokens(normalized(col(textCol)))).as("dl"))
    val stats = lens.select(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val hits = docs.select(col(idCol).as("doc_id"),
        explode(filter(tokens(normalized(col(textCol))),
          t => array_contains(qlit, t))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // identical operation order to the oracle SQL — every op except ln
    // is IEEE-bit-specified, and ln is rounded
    val idf6 = round(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val w6 = round((col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))), 6)
    hits
      .join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        Num.dec(idf6, 18, 6) * Num.dec(w6, 18, 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum(col("contrib")).cast("double").as("score"))
  }
}
