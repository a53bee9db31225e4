package graft.operators

import graft.functions.TextFunctions.tokens
import graft.queries.Num
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trained quality classification — the discriminative sibling of the
  * q60 n-gram LM: a linear classifier over hashed bag-of-token
  * features, the fastText-style quality filter of the GPT-3/DataComp/
  * phi lineage (classify "does this look like the trusted corpus /
  * pass the heuristic", then keep the confident tail). Where q60
  * models FLUENCY generatively, this learns any labeling — including
  * distilling a hand-tuned heuristic into a model that generalizes
  * past the heuristic's blind spots (the q68 gate trains exactly
  * that way: labels from the q13 quality score, features from raw
  * tokens the heuristic never sees individually).
  *
  * Spark-first shape: featurization is `HashingTF` over the token
  * array (fixed-width sparse vectors, no vocabulary state — the
  * hashing trick is what makes the featurizer corpus-size-free);
  * training is spark.ml LogisticRegression (distributed L-BFGS: each
  * iteration is one treeAggregate of gradient partials — map-side
  * combined, model-sized not corpus-sized); scoring broadcasts the
  * coefficient vector and is a zero-shuffle per-row projection. The
  * model artifact (coefficients) persists like the LM relations and
  * the bloom/IVF/PQ codebooks.
  */
object QualityClassifier {

  /** (id, toks, features) — hashed bag-of-tokens featurization. */
  private def featurize(docs: DataFrame, idCol: String, textCol: String,
      numFeatures: Int): DataFrame =
    new HashingTF().setInputCol("__toks").setOutputCol("features")
      .setNumFeatures(numFeatures)
      .transform(docs.withColumn("__toks", tokens(col(textCol))))

  /** Train on (textCol, labelCol ∈ {0, 1}) rows. */
  def train(labeled: DataFrame, textCol: String, labelCol: String,
      numFeatures: Int = 1 << 12, maxIter: Int = 50,
      regParam: Double = 0.01): LogisticRegressionModel =
    new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("__label")
      .setMaxIter(maxIter).setRegParam(regParam)
      .fit(featurize(
        labeled.withColumn("__label", col(labelCol).cast("double")),
        "", textCol, numFeatures))

  /** Score: (idCol, p_quality) — the model's P(label = 1), rounded
    * to 6 (scores feed threshold filters; sub-ulp noise must not). */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: LogisticRegressionModel,
      numFeatures: Int = 1 << 12): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    model.setFeaturesCol("features")
      .transform(featurize(docs, idCol, textCol, numFeatures))
      .select(col(idCol),
        round(element_at(vector_to_array(col("probability")), 2), 6)
          .as("p_quality"))
  }

  // ---------------------------------------------------------------
  // engine-portable scoring path (the q77 oracle twin)
  // ---------------------------------------------------------------

  /** md5-bucket feature counts: (groupCols…=id, bucket, n) — the
    * portable stand-in for HashingTF's murmur3 buckets (identical
    * hashing-trick semantics, re-derivable in any engine with md5). */
  def portableFeatureCounts(docs: DataFrame, idCol: String,
      textCol: String, numFeatures: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("id"),
        graft.functions.TextFunctions.md5Bucket(md5(col("tok")),
          numFeatures.toLong).as("bucket"))
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Portable LR scoring against FIXED weights (a committed
    * artifact — training stays offline, the q73/q76 deployment
    * split): margin = intercept + Σ_b w_b·n_b with each term rounded
    * to 12 and summed in exact DECIMAL (order-free — a raw double
    * sum varies with partitioning), p = σ(margin) rounded to 6 (the
    * one exp() call's sub-ulp cross-engine variation is absorbed, the
    * q75 ln() discipline). Docs with NO tokens score at the intercept
    * alone, like an all-zero feature vector. Returns (id, p_quality).
    */
  def scorePortable(docs: DataFrame, idCol: String, textCol: String,
      weights: Array[Double], intercept: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wDf = broadcast(weights.zipWithIndex
      .map { case (w, b) => (b, w) }.toSeq.toDF("bucket", "w"))
    val margins = portableFeatureCounts(docs, idCol, textCol, weights.length)
      .join(wDf, Seq("bucket"))
      .groupBy(col("id"))
      .agg((sum(Num.round12(col("w") * col("n")))
        .cast("double") + lit(intercept)).as("__margin"))
    docs.select(col(idCol).as("id")).distinct()
      .join(margins, Seq("id"), "left")
      .select(col("id"),
        round(lit(1.0) / (lit(1.0) +
          exp(-coalesce(col("__margin"), lit(intercept)))), 6)
          .as("p_quality"))
  }

  /** Plain-text weight artifact: `meta numFeatures intercept`, then
    * `w b value` per bucket (shortest-repr doubles — round-trip
    * exact, diffable). */
  def saveWeights(weights: Array[Double], intercept: Double,
      out: java.io.Writer): Unit = {
    out.write(s"meta ${weights.length} " +
      java.lang.Double.toString(intercept) + "\n")
    weights.zipWithIndex.foreach { case (w, b) =>
      out.write(s"w $b " + java.lang.Double.toString(w) + "\n")
    }
  }

  def loadWeights(in: java.io.InputStream): (Array[Double], Double) = {
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    val meta = lines.head.split(" ")
    require(meta(0) == "meta" && meta.length == 3,
      s"bad weights header: ${lines.head}")
    val n = meta(1).toInt
    val intercept = meta(2).toDouble
    val w = new Array[Double](n)
    val seen = new Array[Boolean](n)
    var assigned = 0
    lines.tail.foreach { ln =>
      val p = ln.split(" ")
      require(p(0) == "w", s"bad weights line: $ln")
      val i = p(1).toInt
      require(i >= 0 && i < n,
        s"weight bucket $i out of range [0, $n) — header/body mismatch")
      // concatenated/partially-rewritten artifacts assign buckets
      // twice with possibly conflicting values — reject, don't let
      // the last line silently win (review r8)
      require(!seen(i), s"duplicate weight line for bucket $i")
      seen(i) = true; assigned += 1
      w(i) = p(2).toDouble
    }
    // a truncated or partially corrupt file must fail loudly, not
    // silently zero-fill the missing buckets (ADVICE r7)
    require(assigned == n,
      s"weights file assigns $assigned of $n buckets — truncated?")
    (w, intercept)
  }

  /** The committed fixture weights (tools.TrainQualityLrFixture —
    * trained once on the sf0.01 documents with the PORTABLE md5
    * featurization, labels from the q13 heuristic). */
  def loadFixtureWeights(): (Array[Double], Double) = {
    val in = getClass.getResourceAsStream("/graft/fixtures/quality_lr.txt")
    require(in != null, "fixture /graft/fixtures/quality_lr.txt missing")
    try loadWeights(in) finally in.close()
  }
}
