package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graft.{ExactDecimalCast, RhpKernels}
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Contract spec for the driver: every registered query runs at
  * sf0.001 without error and passes the generic plan sweep; oracle
  * coverage is declared for every SQL-expressible query; the flagship
  * entry returns rows.
  */
class QueryCatalogSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Window operators with no PARTITION BY anywhere in `p`: its
    * subqueries, adaptive plans and cached relations included. Such a
    * window moves its whole input onto one task. */
  private def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] =
    p.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.inputPlan)
      case m: InMemoryTableScanExec => unpartitionedWindows(m.relation.cachedPlan)
    }.flatten

  /** Double/float → DECIMAL casts in `node` that [[ExactDecimalCast]]
    * does not wrap, among the shapes it serves (precision ≥ 15 and
    * scale ≤ 15; it leaves the others plain by design). Such a cast
    * pays `Double.toString` and a `BigDecimal` per row. Walks the
    * expression trees of every node, subquery and cached relation. */
  private def rawDecimalCasts(node: QueryPlan[_]): Seq[Cast] = {
    def walk(e: Expression): Seq[Cast] = e match {
      case x: ExactDecimalCast => x.child.children.flatMap(walk)
      case c: Cast => (c.dataType match {
        case d: DecimalType if Set[Any](DoubleType, FloatType)(c.child.dataType) &&
            d.precision >= RhpKernels.MaxFastScale &&
            d.scale <= RhpKernels.MaxFastScale => Seq(c)
        case _ => Nil
      }) ++ walk(c.child)
      case _ => e.children.flatMap(walk)
    }
    val nested = node match {
      case m: InMemoryRelation => Seq(m.cacheBuilder.cachedPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cacheBuilder.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _ => Nil
    }
    node.expressions.flatMap(walk) ++
      (node.children ++ node.subqueries ++ nested).flatMap(n =>
        rawDecimalCasts(n.asInstanceOf[QueryPlan[_]]))
  }

  test("catalog names are unique and oracles reference only known queries") {
    val names = QueryCatalog.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q55 approx quantiles sit inside the exact neighboring-quantile band") {
    import org.apache.spark.sql.functions._
    val approx = QueryCatalog.byName("q55_approx_quantiles").run(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // rank-error bound: approx_percentile(p) must land between the
    // exact quantiles at p ± 0.02 (GK guarantees N/accuracy ranks,
    // far tighter than this band)
    val bands = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.48)").as("lo50"),
        expr("percentile(l_extendedprice, 0.52)").as("hi50"),
        expr("percentile(l_extendedprice, 0.88)").as("lo90"),
        expr("percentile(l_extendedprice, 0.92)").as("hi90"),
        expr("percentile(l_extendedprice, 0.97)").as("lo99"),
        expr("percentile(l_extendedprice, 1.0)").as("hi99"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.nonEmpty)
    approx.foreach { case (flag, (p50, p90, p99)) =>
      val b = bands(flag)
      assert(p50 >= b.getDouble(1) && p50 <= b.getDouble(2), s"$flag p50")
      assert(p90 >= b.getDouble(3) && p90 <= b.getDouble(4), s"$flag p90")
      assert(p99 >= b.getDouble(5) && p99 <= b.getDouble(6), s"$flag p99")
    }
  }

  QueryCatalog.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.run(spark, sf)
      // generic plan sweep: NO query may contain a cartesian product,
      // an unpartitioned window or a raw double→DECIMAL cast, and only
      // the declared brute-force baselines may broadcast-NL-join
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"), s"${q.name}: CartesianProduct\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") ||
        PlanAuditSpec.bnljAllowed.contains(q.name),
        s"${q.name}: undeclared BroadcastNestedLoopJoin\n$plan")
      val windows = unpartitionedWindows(df.queryExecution.sparkPlan)
      assert(windows.isEmpty, s"${q.name}: unpartitioned window\n" +
        windows.map(_.treeString).mkString("\n"))
      val casts = rawDecimalCasts(df.queryExecution.optimizedPlan)
      assert(casts.isEmpty, s"${q.name}: double→DECIMAL cast outside " +
        "ExactDecimalCast (route it through Num.dec)\n" + casts.mkString("\n"))
      val n = df.count()
      // queries that can legitimately be empty on tiny synthetic data
      val mayBeEmpty = Set("q10_set_except", "q16_exact_dup_groups",
        "q18_minhash_lsh", "q19_simhash_pairs", "q09_collision_groups")
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      // Persist lifecycle: operator-internal caches are registered in
      // CacheScope; after the consuming action + release, NOTHING may
      // remain cached (a leaked persist accumulates across a
      // long-lived session's query loop).
      CacheScope.releaseAll()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name} left cached blocks behind after CacheScope.releaseAll")
    }
  }
}
