package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.GapFillNumber

/** Grouped-decision operators from the reference's catalog build:
  * majority vote (A1), vote-based imputation (A2), per-group ordinal
  * gap-fill (A3), duplicate-group canonicalization (A4/A5).
  *
  * Each is keyed by its group columns: its aggregations and windows
  * partition by them and its joins match on them. None holds a
  * single-partition window or collects to the driver, and per-group
  * state is bounded by the group's size.
  */
object Grouping {

  /** A1: modal value of `valueCol` per group with pinned tie-break
    * (higher count wins, then smaller value — Counter-first-seen made
    * deterministic). Returns (groupCols..., majority, votes).
    * Reference: info_scanner_ph2.py:296-326. */
  def majorityVote(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    // blank-string exclusion only applies to string columns: on a
    // typed column Spark coerces "" to the column type → null, making
    // the =!= predicate null for EVERY row and silently emptying the
    // vote table
    val nonBlank = df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        col(valueCol).isNotNull && col(valueCol) =!= ""
      case _ => col(valueCol).isNotNull
    }
    val counts = df.filter(nonBlank)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("votes").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumnRenamed(valueCol, "majority")
  }

  /** A2: fill blank/null `valueCol` with the group's majority value
    * (convention→date imputation). Blank = null or "". NULL-KEY
    * GROUPS pass through unimputed: the majority join is a plain
    * equi-join (NULL never equals NULL), so rows with a null group
    * key keep their blank value — the defensible reading, since a
    * "majority of the keyless group" is not a meaningful imputation
    * source. */
  def imputeByMajority(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val maj = majorityVote(df, groupCols, valueCol)
      .select((groupCols.map(col) :+ col("majority")): _*)
    // same type-aware blank rule as majorityVote: on a typed column
    // `=== ""` coerces to null and the when-branch would never fire
    val blank = df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        col(valueCol).isNull || col(valueCol) === ""
      case _ => col(valueCol).isNull
    }
    df.join(maj, groupCols, "left")
      .withColumn(valueCol,
        when(blank, col("majority")).otherwise(col(valueCol)))
      .drop("majority")
  }

  /** A3: per-group track-number gap fill
    * (reference: info_scanner_ph3.py:40-84). Per group of `groupCols`:
    *   - a `numberCol` value < 1 or null is missing;
    *   - each missing row, in `orderCol` order, takes the lowest
    *     positive integer not used by a valid row of the group and
    *     not given to an earlier missing row;
    *   - valid numbers keep their value, duplicates included;
    *   - a valid number beyond Int range fails (`exceeds Int range`)
    *     instead of wrapping;
    *   - a missing row with a null group key fails (`null group key`).
    * The output has the input's columns in the input's order, with
    * `numberCol` as int.
    *
    * One keyed pass: a window partitioned by the group keys (no
    * single-partition window, no driver collect; an input already
    * hash-partitioned on some of the keys is not shuffled again)
    * sorts each group valid numbers first, ascending, then the missing
    * rows by `orderCol`, and [[GapFillNumber]] walks it once, holding
    * only the group's distinct used numbers — bounded by the group's
    * size, never by its largest number.
    */
  def gapFillNumbers(df: DataFrame, groupCols: Seq[String],
      numberCol: String, orderCol: String): DataFrame = {
    val number = col(numberCol).cast("long")
    val valid = number.isNotNull && number >= 1
    val walk = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(when(valid, lit(0)).otherwise(lit(1)), when(valid, number),
        col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = when(!valid && groupCols.map(col(_).isNull).reduce(_ || _),
        raise_error(lit("gapFillNumbers: null group key (group keys must " +
          "be non-null; a null-key row has no group to fill from)")).cast("int"))
      .otherwise(GapFillNumber.column(number).over(walk))
    df.select(df.columns.toSeq.map(c =>
      if (c == numberCol) filled.as(c) else col(c)): _*)
  }

  /** A4/A5: canonical representative per duplicate group — pick by
    * ascending struct of `preferenceCols` (first field wins, etc.),
    * and attach it to every member. NULL-KEY GROUPS get null
    * canonical_* columns (the equi-join never matches them): a null
    * dedup key asserts no group membership, so there is no
    * representative to attach. */
  def canonicalize(df: DataFrame, groupCols: Seq[String],
      preference: Seq[Column], payload: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(preference: _*)
    val first = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((groupCols.map(col) ++
        payload.map(p => col(p).as(s"canonical_$p"))): _*)
    df.join(first, groupCols, "left")
  }
}
