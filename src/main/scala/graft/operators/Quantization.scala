package graft.operators

import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) embedding quantization — the dimension-level
  * compression every vector store ships (FAISS `SQ8`, pgvector
  * halfvec/int8, Milvus SQ): per-vector min/max affine map of each
  * float32 dimension onto 0..255, cutting memory 4× so 4× more
  * corpus fits behind an ANN index. Complements [[SimilaritySearch]]'s
  * product quantization (vector-level codebooks, ~32×): SQ8 is the
  * cheap first rung — no training, exact per-dimension bounds, decode
  * is two FMAs — and the usual pairing is SQ8 for the rerank pool and
  * PQ for the coarse sweep.
  *
  * Everything here is a ZERO-SHUFFLE projection (encode and decode
  * are per-row array transforms); [[sq8ErrorStats]] adds one bounded
  * aggregation of per-dimension errors for the accuracy audit a
  * deployment runs before flipping the index to quantized storage.
  *
  * Determinism: codes are `floor(t + 0.5)` (no engine-variant
  * round-half rule), arithmetic is elementwise double (float32 →
  * double widening is exact), and the error aggregation rounds each
  * term then sums in exact decimal — the q31/q60 cross-engine float
  * discipline — so the whole audit sits under a value-level oracle.
  */
object Quantization {

  /** Encode: (id, qmin, qscale, codes ARRAY<INT> in 0..255).
    * Flat vectors (max == min) encode to all-zero codes with scale 1,
    * decoding exactly to the constant. */
  def sq8Encode(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xs = col(vecCol).cast("array<double>")
    vectors.select(col(idCol).as("id"), xs.as("__xs"))
      .withColumn("qmin", array_min(col("__xs")))
      .withColumn("qscale",
        when(array_max(col("__xs")) > col("qmin"),
          (array_max(col("__xs")) - col("qmin")) / 255.0).otherwise(1.0))
      .select(col("id"), col("qmin"), col("qscale"),
        transform(col("__xs"),
          x => floor((x - col("qmin")) / col("qscale") + 0.5).cast("int"))
          .as("codes"))
  }

  /** Decode codes back to doubles: qmin + code · qscale. */
  def sq8Decode(encoded: DataFrame): DataFrame =
    encoded.withColumn("decoded",
      transform(col("codes"), c => col("qmin") + c * col("qscale")))

  /** Round-trip accuracy audit, one row per vector:
    * (id, n_dims, max_abs_err, mse) — max |x − x̂| and mean squared
    * error, both computed on rounded terms with decimal accumulation
    * so any engine re-derives them bit-for-bit. The error bound is
    * structural: |x − x̂| ≤ qscale/2 = (max−min)/510. */
  def sq8ErrorStats(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // encode → decode → per-dimension |err| in ONE projection (no
    // join back: the original vector rides alongside its codes), then
    // one bounded aggregation of (id, err) rows
    val xs = col(vecCol).cast("array<double>")
    val errRows = vectors.select(col(idCol).as("id"), xs.as("__xs"))
      .withColumn("qmin", array_min(col("__xs")))
      .withColumn("qscale",
        when(array_max(col("__xs")) > col("qmin"),
          (array_max(col("__xs")) - col("qmin")) / 255.0).otherwise(1.0))
      .select(col("id"), explode(transform(col("__xs"), x =>
        abs(x - (col("qmin") +
          floor((x - col("qmin")) / col("qscale") + 0.5) * col("qscale")))))
        .as("err"))
    errRows.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dims"),
        max(round(col("err"), 9)).as("max_abs_err"),
        (sum(Num.round12(col("err") * col("err")))
          .cast("double") / count(lit(1))).as("mse"))
  }
}
