package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the dedup-cluster endgame: near-dup PAIRS (MinHash/SimHash/cosine)
  * become duplicate GROUPS by transitive closure, and the component
  * id (min member id) is the canonical-survivor key (§2.7 / A4's
  * group-then-canonicalize at corpus scale).
  *
  * Algorithm: min-label propagation with POINTER DOUBLING. Each
  * iteration a node takes the min of (its label, its neighbors'
  * labels, its label's label — the grandparent hop). The grandparent
  * join doubles how far a small label has travelled, so convergence is
  * O(log diameter) iterations instead of O(diameter) — on a 1M-node
  * chain that is ~20 rounds, not 1M. Every iteration is two
  * hash-partitioned equi-joins + one aggregation (all keyed shuffles,
  * AQE-balanced); lineage is cut per round with a LAZY localCheckpoint
  * whose materialization is driven by the convergence aggregate — one
  * job per round, and plans stay flat. Convergence is the monotone
  * scalar Σlabels (labels only ever decrease): one tiny aggregate,
  * not a diff join.
  *
  * Reference analog: the duplicate-circle resolution groups (SURVEY
  * A4/J11) built per-key in Python; re-expressed as the standard
  * distributed CC formulation (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC 2014 — the large-star/small-star
  * family; this is its dataframe-algebra sibling).
  */
object ConnectedComponents {

  /** Components of the undirected graph given by (aCol, bCol) pairs.
    * Returns (node, component) for every node incident to an edge;
    * component = min node id reachable. Deterministic for any
    * partitioning (min is order-free).
    *
    * `collectThreshold` > 0 enables the BOUNDED local fallback: if the
    * (doubled, distinct) edge relation has at most that many rows, the
    * closure solves as a driver union-find instead of iterating
    * distributed rounds. Rationale, measured: each propagation round
    * costs two joins + an aggregation + a checkpoint in fixed job
    * overhead — ~6 s for a 1k-edge graph at local[32] — while the
    * thresholded near-dup pair set of a deduplicated corpus is
    * typically tiny relative to the corpus (pairs are the RARE case).
    * The threshold makes the driver memory bound explicit — edges
    * land as PACKED primitive longs (executor-side packing, no boxed
    * tuples reach the driver), union-find state is index arrays:
    * 16 bytes/edge + ~20 bytes/node persistent, so 10⁶ edges ≈ 16 MB
    * + node arrays — the same bounded-collect class as the IVF
    * centroids and skew-key lists; graphs above it take the
    * distributed path, which q41 gates at 600k nodes.
    * Default 0 = always distributed.
    *
    * Every eager job runs under the description `cc:<site>:<step>`
    * ([[JobTag]]): `edges` for the threshold count, `local` for the
    * union-find collect, `round=<i>` for the seed (0) and each
    * propagation round. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, collectThreshold: Long = 0L,
      site: String = "components"): DataFrame = {
    val spark = pairs.sparkSession
    val edges = graft.CacheScope.track(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .unionByName(pairs.select(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))
        .distinct())
    if (collectThreshold > 0 &&
        JobTag.during(s"cc:$site:edges")(edges.count()) <= collectThreshold)
      return JobTag.during(s"cc:$site:local")(componentsLocal(spark, edges))
    // seed with the neighbor-min instead of the identity: label₀ =
    // min(node, incident neighbors) — the same one aggregation shape
    // as a propagation round, but it replaces what would otherwise BE
    // the first round, so every run converges one round earlier
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("__nmin")).as("label"))
      .localCheckpoint(true)
    // sum(empty) is NULL: a pair set with no edges (nothing near-dup)
    // must yield an empty component frame, not an NPE. DECIMAL sum —
    // Σ of 2^63-scale labels over a large id space can exceed Long.
    def labelSum(df: DataFrame): BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) BigDecimal(-1) else BigDecimal(r.getDecimal(0))
    }
    var prevSum = JobTag.during(s"cc:$site:round=0")(labelSum(labels))
    if (prevSum == BigDecimal(-1))
      return labels.select(col("node"), col("label").as("component"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighbor = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      val grandparent = labels.select(col("node"), col("label").as("mid"))
        .join(labels.select(col("node").as("mid"), col("label").as("glabel")), "mid")
        .select(col("node"), col("glabel").as("label"))
      // LAZY checkpoint: the convergence-sum action below materializes
      // it, so each round runs ONE job (eager + separate sum was two)
      val next = labels.unionByName(neighbor).unionByName(grandparent)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      // labels decrease monotonically → Σ is a complete change detector
      i += 1
      val s = JobTag.during(s"cc:$site:round=$i")(labelSum(next))
      labels = next
      converged = s == prevSum
      prevSum = s
    }
    require(converged, s"components did not converge in $maxIter iterations")
    labels.select(col("node"), col("label").as("component"))
  }

  /** The default bounded local-closure threshold the dedup pipelines
    * use (DedupPipeline, Dedup.semanticDedup): 10⁶ doubled edges ≈
    * 16 MB packed on the driver. Callers with tighter driver heaps
    * pass their own bound. */
  val DefaultLocalClosureThreshold: Long = 1000000L

  /** Driver union-find over a collected (src, dst) edge relation —
    * the small-graph path of [[components]]. All driver state is
    * PRIMITIVE: edges arrive as per-partition packed Array[Long]
    * (boxing happens streaming on executors, never accumulates on the
    * driver), node ids dedup via sort + unique into one Array[Long],
    * and union-find runs over an Array[Int] parent-index table with
    * path halving + union-by-min. The component id is the MIN member,
    * matching the distributed formulation exactly (spec-pinned on
    * random graphs against the distributed path). */
  private def componentsLocal(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    // pack (src, dst) pairs executor-side: one primitive Array[Long]
    // per partition crosses the wire, 16 bytes/edge on the driver
    val packed: Array[Long] = edges.select(col("src"), col("dst")).rdd
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect().flatten
    // sorted-unique node table → index-based union-find (no boxed map)
    val nodes = {
      val sorted = java.util.Arrays.copyOf(packed, packed.length)
      java.util.Arrays.sort(sorted)
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < sorted.length) {
        if (i == 0 || sorted(i) != sorted(i - 1)) out += sorted(i)
        i += 1
      }
      out.result()
    }
    val n = nodes.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var e = 0
    while (e < packed.length) {
      val ra = find(idx(packed(e)))
      val rb = find(idx(packed(e + 1)))
      // attach the larger root under the smaller: nodes are sorted, so
      // the root index IS the min member index of its set
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      e += 2
    }
    (0 until n).iterator.map(i => (nodes(i), nodes(find(i))))
      .toSeq.toDF("node", "component")
  }

  /** Dedup clustering: near-dup pairs → (doc, dup_group, group_size),
    * group id = min doc id (the canonical survivor). Singletons are
    * not emitted — docs absent from `pairs` are their own group. */
  def dupGroups(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = components(pairs, aCol, bCol)
    // plain keyed join: #components is data-dependent (AQE may still
    // broadcast it at runtime when small)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("group_size"))
    comp.join(sizes, "component")
      .select(col("node").as("doc"), col("component").as("dup_group"),
        col("group_size"))
  }
}
