package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RhpExpressions.exactDecimalCast
import org.apache.spark.sql.types.DecimalType

/** A named query: Spark implementation + (optionally) an equivalent
  * ANSI SQL statement the driver runs in DuckDB over the same parquet
  * tables. Column names/order must match between the two (the compare
  * sorts columns by name before hashing values).
  *
  * `headline` marks queries timed by Bench.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Cross-engine float parity helpers.
  *
  * DuckDB and Spark sum doubles in different orders, so raw double
  * aggregates hash-mismatch in the last ulps. The fix: do the math in
  * exact DECIMAL (both engines implement exact decimal arithmetic),
  * then cast the exact result to DOUBLE — identical input decimal →
  * identical nearest double → identical bits. Source columns hold
  * money-like 2-decimal values, so DECIMAL(18,2) casts are lossless.
  * A double's casts go through `exactDecimalCast`, which rounds
  * without building `Double.toString` per row, to the same value.
  */
object Num {
  /** `c` as exact DECIMAL(precision, scale), through
    * `exactDecimalCast`. */
  def dec(c: Column, precision: Int, scale: Int): Column =
    exactDecimalCast(c.cast(DecimalType(precision, scale)))
  /** Money-ish column → exact decimal. */
  def dec2(c: Column): Column = dec(c, 18, 2)
  /** Higher-scale exact decimal (e.g. event values, embedding floats). */
  def dec9(c: Column): Column = dec(c.cast("double"), 28, 9)
  /** `round(c, 12)` as exact DECIMAL(38,12): the decimal-parity term
    * of the Lloyd mean and of the weighted scores. */
  def round12(c: Column): Column = dec(round(c, 12), 38, 12)
  /** Exact decimal sum rendered as a bit-stable double. */
  def dsum(c: Column): Column = sum(c).cast("double")
}
