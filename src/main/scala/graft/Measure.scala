package graft

import org.apache.spark.sql.DataFrame

/** How Bench / RunOne / tools.Profile trigger a query.
  *
  * NOT `df.count()`: wrapping a plan in Aggregate(count(1)) lets
  * Catalyst optimize away exactly the work being measured — unused
  * projections are column-pruned (a pure scoring query like q13/q53
  * degenerates to a parquet row count), unique-side joins are
  * eliminated (q52's survivor join vanished entirely: its measured
  * shuffle was 59 bytes), and the presentation sort is dropped.
  * Verify, and any real consumer, executes the full plan.
  *
  * `queryExecution.toRdd.count()` materializes the physical plan
  * as-is — every output column is computed and serialized, the final
  * sort runs — while still discarding rows executor-side (no driver
  * collect). This is the honest cost of producing the query's result.
  */
object Measure {
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
