package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}

/** Parallelism guard for CPU-heavy projections (shingling, hash
  * signatures, PQ encoding). A small corpus arrives as ONE scan
  * partition (a sub-128 MB parquet file is a single split), which
  * serializes the whole projection on one core of the box — measured
  * 4× on q72's salted-md5 signatures at sf0.1. At cluster scale the
  * same scan is already thousands of splits, and the unconditional
  * `repartition(defaultParallelism)` the round-4 operators used would
  * pay a pointless full-text exchange (and, worse, would COLLAPSE a
  * many-thousand-partition scan down to the core count). Widen only
  * when the scan is narrower than the session's parallelism: a no-op
  * at 100 TB, full-box utilization at bench scale.
  *
  * Known trade: the guard keys on partition COUNT, not balance — an
  * input that is wide-but-skewed (one huge split among many small
  * ones) passes through unbalanced, where the old unconditional
  * repartition would have round-robined it. That case is AQE's to
  * fix at the next exchange; re-introducing an unconditional
  * full-data shuffle to pre-balance every input costs more than it
  * saves at either scale.
  */
object Par {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def ensureWide(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (planWidth(df) < target) df.repartition(target) else df
  }

  /** Broadcast `df` only while it is provably small: count `probe` —
    * a semantically identical relation rebuilt from the RAW input
    * with a dodge column appended — through a pushed LIMIT (the scan
    * stops at cap+1 rows), and above the cap return the relation
    * UNHINTED (a plain hash-partitioned join: same rows, a shuffled
    * exchange instead of a driver-resident build side). The probe
    * must NOT be the (possibly cached) relation itself: counting
    * through a cached plan MATERIALIZES it during plan construction,
    * and a sibling query sharing the cached relation then plans from
    * known in-memory stats instead of estimates — flipping
    * broadcast↔shuffled joins session-order-dependently (observed:
    * q71's pinned 5-exchange plan gained a 6th when q74's guard ran
    * first). The dodge column keeps the probe's Project from
    * semantically matching any cached plan root. Single-sited
    * (review r9): the anchor paths and the q86 bench side formerly
    * carried two copies of this subtlety.
    */
  def boundedBroadcast(df: DataFrame, probe: DataFrame, cap: Int): DataFrame = {
    require(cap >= 0 && cap < Int.MaxValue,
      s"broadcast cap must be in [0, Int.MaxValue): $cap")
    if (probe.limit(cap + 1).count() > cap) df
    else org.apache.spark.sql.functions.broadcast(df)
  }

  /** Estimated output width of the DataFrame, computed STRUCTURALLY
    * from the pre-adaptive physical plan — no jobs run.
    *
    * Why not simpler probes: `df.rdd` under AQE finalizes the
    * adaptive plan, which EXECUTES every upstream shuffle stage just
    * to read a count, and the caller's real action then re-runs them.
    * The previous probe, `sparkPlan.execute().getNumPartitions`, ran
    * no jobs but predates EnsureRequirements — any join-bearing input
    * THREW (no exchanges inserted yet) and fell back to the shuffle
    * width, which wrongly reported a 1-partition broadcast-join
    * stream as wide and disabled the guard for exactly the
    * CPU-serialized case it exists to catch.
    *
    * The walk mirrors what EnsureRequirements will do:
    *   - a node demanding a real distribution gets exchanges: AllTuples
    *     → 1 partition, clustered/ordered → the shuffle width;
    *   - broadcast children contribute nothing (the streamed side
    *     carries the width — the BroadcastHashJoin case);
    *   - narrow nodes pass their children's width through (summed:
    *     exact for union, and a one-child sum is just that child);
    *   - leaves answer from their own lazily-built RDD (scan splits).
    * A probe that throws falls back to the shuffle width, logged at
    * WARN with its cause: that width decides how many partitions the
    * caller's relation (and every job over it) runs on.
    */
  private def planWidth(df: DataFrame): Int = {
    val shuffleWidth = df.sparkSession.sessionState.conf.numShufflePartitions
    def fallback(what: String, e: Throwable): Int = {
      log.warn(s"Par.planWidth: $what failed; assuming the shuffle width " +
        s"$shuffleWidth", e)
      shuffleWidth
    }
    def widthOf(p: SparkPlan): Int = p match {
      case leaf: LeafExecNode =>
        try leaf.execute().getNumPartitions
        catch { case NonFatal(e) => fallback(s"the width of ${leaf.nodeName}", e) }
      // width-SETTING narrow nodes: their partition count is their
      // own, not their child's
      case c: org.apache.spark.sql.execution.CoalesceExec =>
        math.min(widthOf(c.child), c.numPartitions)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions
      case _ =>
        val dists = p.requiredChildDistribution
        val needsExchange = dists.exists {
          case UnspecifiedDistribution => false
          case _: BroadcastDistribution => false
          case _ => true
        }
        if (needsExchange) {
          if (dists.contains(AllTuples)) 1 else shuffleWidth
        } else {
          val streamed = p.children.zip(dists).collect {
            case (c, d) if !d.isInstanceOf[BroadcastDistribution] => c
          }
          if (streamed.isEmpty) 1 else streamed.map(widthOf).sum
        }
    }
    try widthOf(df.queryExecution.sparkPlan)
    catch { case NonFatal(e) => fallback("the plan walk", e) }
  }
}
