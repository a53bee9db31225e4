package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{RhpExpressions, RhpKernels}

/** ENGINE-PORTABLE Lloyd k-means — the oracle twin of the coarse
  * quantizer training that [[Dedup.semanticDedup]] (q54) and the IVF
  * index (q73, `reference Experimental/vector_search/
  * precompute_similar_tracks.py:116-126` — the coarse-quantizer role)
  * delegate to Spark ML `KMeans`. Spark ML's k-means|| init and
  * float-order-dependent distance sums are engine-specific; these
  * trainers replace both with committed deterministic arithmetic, so
  * the whole training loop re-derives value for value in SQL
  * ([[oracleSql]], [[twoLevelCtes]]).
  *
  * Every trainer runs the same Lloyd step ([[lloydOnDriver]] or
  * [[lloydAsRelation]]), which states the arithmetic once. The
  * assignment is argmin_j of n2(v) − 2·dot(v,c_j) + n2(c_j) with
  * every dot an exact-decimal sum (the q71/q76 kernels).
  *
  * Scale shape — the driver holds the k × dim centroid matrix, the
  * irreducible state of Lloyd's algorithm, and nothing corpus-sized.
  * A driver-state iteration ([[lloydOnDriver]]) is ONE `treeAggregate`
  * job over the cached base's rows, planned once per trainer call:
  * each task assigns its rows with a per-row kernel ([[flatKernel]],
  * [[childKernel]]: [[cellExpr]]'s arithmetic and order) and adds
  * them into exact 128-bit per-cell buffers, allocated only for the
  * cells its partition touches. No Catalyst plan is built and no row
  * is shuffled per iteration; the driver receives ≤ k·dim sums per
  * tree branch. The relation-resident trainers ([[lloydAsRelation]])
  * keep the child level as a relation and run one means aggregation
  * per iteration.
  *
  * [[train]]'s output: one row per (cell, dimension) of the final
  * centroid matrix — (cell, d, c, n_members), n_members from the last
  * assignment (0 for a cell that ended empty).
  */
object KMeansPortable {

  final case class Model(centroids: Array[Array[Double]],
      counts: Array[Long])

  /** Default expected-cell-population target for [[nlistFor]]. 256
    * keeps the within-cell pair scan at ≤ ~256 decimal cosines per
    * item while leaving cells statistically meaningful, and — not by
    * accident — reproduces the hand-tuned operating points of the
    * round-9 scaling study: nlistFor(2 000) = 8 (the 1× gate value)
    * and nlistFor(20 000) = 79 ≈ the measured-linear nlist=80 at 10×
    * (SCALE.md, α 0.86 vs α 1.92 at fixed nlist).
    */
  val DefaultTargetCellSize: Int = 256

  /** Hard clamp for [[nlistFor]]: the coarse-assignment argmin is a
    * single expression over nlist centroid literals and the Lloyd
    * driver state is nlist·dim scalars — both stop being "small"
    * past ~10⁴ cells. Beyond the clamp (n > ~4M at the default
    * target) cell population grows past the target again; the right
    * structure at that scale is a two-level (hierarchical) coarse
    * quantizer — route to √nlist super-cells, then √nlist cells
    * within — which is an index-layout change, not a knob. The clamp
    * makes the auto path degrade loudly-documentedly rather than
    * emit a megabyte-scale codegen expression.
    */
  val MaxAutoNlist: Int = 16384

  /** Structure-dispatch boundary for the AUTO front doors (VERDICT
    * r10 item 2 — the clamp above was a documented cliff: past it the
    * flat auto path silently re-entered growing-cell-population
    * territory). At nlist ≤ this the flat argmin is measured at
    * parity-or-better with the two-level quantizer; past it the
    * two-level structure wins and the auto paths SWITCH instead of
    * clamping (SCALE.md round 10: structures at parity around
    * nlist ≈ 80, two-level 3.8× ahead by ≈ 800 — 128 sits inside the
    * measured window, flat-side of the knee).
    */
  val FlatAutoMaxNlist: Int = 128

  /** Auto clamp for the TWO-LEVEL structure: driver state is
    * (S + nlist)·dim doubles (~134 MB at dim 64 here) and the super
    * argmin is a √nlist-literal expression, so the structure extends
    * the flat path's ~10³-literal codegen ceiling quadratically
    * (√262144 = 512 supers). Past ~67M vectors at the default target
    * the child level must leave the driver entirely — which, since
    * round 14, it CAN: [[graft.operators.SimilaritySearch
    * .trainThreeLevel]] trains children as a relation (measured at
    * 2× this clamp, ScaleProbe `reltrain`) and
    * [[graft.operators.SimilaritySearch
    * .ivfCosineTopKRelationalIndexed]] serves from the bucketed
    * stores. The AUTO doors (`ivfCosineTopKAuto`, `ivfPqTopKAuto`,
    * `semanticDedupAuto`) dispatch onto the relational tier past this
    * value by default (their `relationalPastNlist` knob defaults to
    * this clamp), so the clamp is a DISPATCH boundary, not a refusal:
    * below it the two-level driver-resident structure, above it the
    * relational trainer/probe — still the loud, documented boundary
    * ([[MaxAutoNlist]]'s contract, three orders of magnitude later).
    */
  val MaxAutoNlistTwoLevel: Int = 262144

  /** Corpus-sized nlist for the structure-dispatching auto paths —
    * [[nlistFor]]'s sizing rule under the two-level clamp (ONE
    * sizing/overflow implementation, two clamp constants). */
  def autoNlist(n: Long,
      targetCellSize: Int = DefaultTargetCellSize): Int =
    sizedNlist(n, targetCellSize, MaxAutoNlistTwoLevel)

  private def sizedNlist(n: Long, targetCellSize: Int,
      maxNlist: Int): Int =
    math.min(autoNlistUnclamped(n, targetCellSize), maxNlist.toLong).toInt

  /** The UNCLAMPED corpus-sized nlist — what [[autoNlist]] would
    * choose with no driver-state ceiling. This is the relational
    * (third) tier's sizing input: past [[MaxAutoNlistTwoLevel]] the
    * child level lives as a relation
    * ([[graft.operators.SimilaritySearch.trainThreeLevel]]), so the
    * cell-population contract (nlist = ⌈n / target⌉) keeps holding
    * where the clamped structures stop. */
  def autoNlistUnclamped(n: Long,
      targetCellSize: Int = DefaultTargetCellSize): Long = {
    require(targetCellSize > 0, s"targetCellSize must be positive; " +
      s"got $targetCellSize")
    require(n >= 0, s"corpus size must be non-negative; got $n")
    // overflow-safe ceiling division (ADVICE r10): n + target - 1
    // wraps negative for n within target of Long.MaxValue and would
    // clamp DOWN to 1 — the opposite of the intended direction
    val raw = n / targetCellSize + (if (n % targetCellSize > 0) 1L else 0L)
    math.max(raw, 1L)
  }

  /** Auto-STRUCTURE training front door: size the quantizer to the
    * corpus ([[autoNlist]] over `n` — pass the FULL corpus size when
    * `vectors` is a training sample; -1 counts `vectors`) and train
    * the structure the measured crossover picks — flat at nlist ≤
    * [[FlatAutoMaxNlist]] (Left), two-level past it (Right).
    * Replaces the old behavior where the flat auto path clamped at
    * [[MaxAutoNlist]] and silently re-entered the quadratic regime
    * for n ≳ 4.2M.
    */
  def trainAuto(vectors: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Int = DefaultTargetCellSize,
      n: Long = -1L): Either[Model, TwoLevelModel] = {
    val sized = autoNlist(if (n >= 0) n else vectors.count(),
      targetCellSize)
    if (sized <= FlatAutoMaxNlist)
      Left(trainModel(vectors, sized, iters, idCol, vecCol))
    else
      Right(trainTwoLevel(vectors, sized, iters, idCol, vecCol))
  }

  /** Quantizer resolution sized to the corpus — the SemDeDup-family
    * SCALE contract (VERDICT r9 item 1). At fixed nlist the
    * within-cell pair scan is O(N²/nlist) — measured α 1.92
    * quadratic at 10× (SCALE.md); holding the EXPECTED cell
    * population at `targetCellSize` (nlist = ⌈n / target⌉) keeps
    * per-item pair work constant and restores measured ~linearity
    * (α 0.86). This mirrors the reference sizing its IVF index to
    * the corpus (`Docs/SIMILARITY-PLAN.md:55-75`,
    * `Experimental/vector_search/precompute_similar_tracks.py:116-126`).
    * Clamped to [1, [[MaxAutoNlist]]]; see the clamp note above.
    */
  def nlistFor(n: Long,
      targetCellSize: Int = DefaultTargetCellSize): Int =
    sizedNlist(n, targetCellSize, MaxAutoNlist)

  /** The loud half of the scale contract: fail fast when a caller
    * hands a corpus to a quantizer too coarse for it. `bound` is the
    * caller's cell-population ceiling (for the dedup paths, their
    * `maxCellSize` cull threshold: an EXPECTED population above the
    * cull bound means the TYPICAL cell is culled wholesale — recall
    * collapses silently; for the decontamination path, the bound the
    * uncullable corpus×bench scan must stay under). One integer
    * division — callers supply `n` from a count they already pay for.
    */
  def requireBoundedCells(site: String, n: Long, nlist: Int,
      bound: Long): Unit = {
    require(nlist > 0, s"$site: nlist must be positive; got $nlist")
    val expected = n / nlist
    require(expected <= bound,
      s"$site: expected cell population n/nlist = $n/$nlist = " +
        s"$expected exceeds the bound $bound — the fixed-nlist " +
        s"quadratic regime (SCALE.md: measured α 1.92 at 10×). Size " +
        s"the quantizer to the corpus: nlist >= nlistFor(n) = " +
        s"${nlistFor(n)}, or raise the bound explicitly if the " +
        "pair-work cost is intended.")
  }

  /** The (id, vec, n2) shaping every trainer and assignment
    * consumes — factored so composed operators (IvfPqPortable) can
    * train from the SAME cached base they assign/encode from instead
    * of re-materializing an identical relation (round 11: one fewer
    * corpus-wide norm pass + cache copy per e2e IVF gate). */
  private[graft] def shapedBase(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    graft.CacheScope.track(Par.ensureWide(vectors)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))

  /** Run `iters` Lloyd iterations from the k lowest-id vectors and
    * return the final centroid matrix with the last assignment's
    * member counts. Driver state is the k×dim matrix only. */
  def trainModel(vectors: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model =
    trainModelFromBase(shapedBase(vectors, idCol, vecCol), k, iters)

  /** [[trainModel]] over an already-shaped cached (id, vec, n2)
    * base — same values, zero re-shaping. `trainer` names the caller
    * in job descriptions and input errors. */
  private[graft] def trainModelFromBase(base: DataFrame, k: Int,
      iters: Int, trainer: String = "trainModel"): Model = {
    require(k > 0 && iters >= 1, s"need k>0, iters>=1; got k=$k iters=$iters")
    // a bounded k-row collect: the seed matrix IS driver state
    val seeds = base.orderBy(col("id")).select(col("vec")).limit(k)
      .collect().map(r => Option(r.getSeq[Double](0)).map(_.toArray).orNull)
    require(seeds.length == k,
      s"k=$k seeds requested but input has only ${seeds.length} vectors")
    lloydOnDriver(trainer, seeds, iters,
      base.select(col("vec"), col("n2")).queryExecution.toRdd)(flatKernel)
  }

  /** [[trainModel]] rendered relationally: one row per (cell, d) of
    * the final centroid matrix. The result is driver-assembled —
    * legitimately: the centroid matrix is Lloyd's algorithmic state
    * and is k·dim scalars regardless of corpus size.
    */
  def train(vectors: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = trainModel(vectors, k, iters, idCol, vecCol)
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = for {
      j <- m.centroids.indices
      d <- m.centroids(j).indices
    } yield (j, d, m.centroids(j)(d), m.counts(j))
    rows.toDF("cell", "d", "c", "n_members")
  }

  /** Exact-decimal argmin cell assignment against a fixed centroid
    * matrix — the [[Dedup.semanticDedupPortable]] assignment rule,
    * shared so trained centroids plug straight into the SemDeDup
    * application. Input must carry (vec array<double>, n2 double from
    * the decimal self-dot); adds an integer `cell` column.
    */
  private[graft] def assignCells(base: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    base.withColumn("cell", cellExpr(col("vec"), col("n2"), centroids))

  /** The (j, centroid, nc2) candidate array as ONE reference-typed
    * literal — the flat-matrix sibling of [[childCands]]'s per-super
    * arrays. Round-15 optimization: the previous form built k
    * separate struct expressions with the centroid self-dots INLINED
    * as double literals, so the generated code CHANGED whenever the
    * centroid VALUES did — every Lloyd iteration, every scale factor
    * — and Janino recompiled the assignment kernel each time (the
    * warmup pass precompiled nothing for the training loops). A
    * complex-typed literal rides in codegen as a reference object:
    * the generated source is now independent of both the values and
    * k, so one compiled kernel serves every iteration, every SF and
    * every centroid count (this also removes the nlist-sized codegen
    * body that capped the flat path — the measured ceiling of
    * SCALE.md round 10; the auto-dispatch boundaries stay, as
    * policies over pair-work, not codegen). */
  private def candArray(centroids: Array[Array[Double]]): Column = {
    val nc2 = centroids.map(c =>
      RhpKernels.decimalDot(new GenericArrayData(c), new GenericArrayData(c)))
    typedLit(centroids.indices.map(j =>
      (j, centroids(j).toSeq, nc2(j))))
  }

  /** (dist, j) struct ARRAY for one vector column against a fixed
    * centroid matrix — dist = n2 − 2·decimalDot(vec, c_j) +
    * decimalSelfDot(c_j), the [[assignmentCtes]] arithmetic as a
    * Spark expression ([[childDistArray]] over the [[candArray]]
    * literal). Struct comparison orders by (d, j), so `array_min` IS
    * argmin-with-lowest-index-ties and a full `array_sort` IS the
    * nprobe ranking (the q85 IVF probe) — both provably the same
    * total order as the oracle's `ORDER BY dist, j` window. */
  private[graft] def distArray(vec: Column, n2: Column,
      centroids: Array[Array[Double]]): Column =
    childDistArray(candArray(centroids), vec, n2)

  /** Argmin cell id for one vector column — [[distArray]] composed
    * with the lowest-index tie rule. The single Spark-side site of
    * the assignment arithmetic (coarse assignment, q85 per-subspace
    * PQ encoding). */
  private[graft] def cellExpr(vec: Column, n2: Column,
      centroids: Array[Array[Double]]): Column =
    array_min(distArray(vec, n2, centroids)).getField("j")

  /** [[cellExpr]] as a per-row kernel over (vec, n2) rows: the same
    * distance (n2 − 2·decimalDot(vec, c_j)) + nc2_j under the same
    * (d, j) order, so every row gets [[cellExpr]]'s cell. */
  private[graft] def flatKernel(
      centroids: Array[Array[Double]]): InternalRow => Int = {
    val cents = new KernelCentroids(centroids)
    val all = centroids.indices.toArray
    row => cents.nearest(row, all)
  }

  /** [[assignChildren]] as a per-row kernel over (vec, n2, super)
    * rows: the argmin over the routed super's children `groups(super)`
    * under [[flatKernel]]'s order, and the childless super's
    * pseudo-cell `children.length + super`. */
  private[graft] def childKernel(children: Array[Array[Double]],
      groups: Array[Array[Int]]): InternalRow => Int = {
    val cents = new KernelCentroids(children)
    row => {
      val s = row.getInt(2)
      if (groups(s).isEmpty) children.length + s else cents.nearest(row, groups(s))
    }
  }

  /** A centroid matrix as the row kernels read it: each centroid as an
    * `ArrayData` for [[RhpKernels.decimalDot]], with its self-dot. */
  private final class KernelCentroids(centroids: Array[Array[Double]])
      extends Serializable {
    private val cs: Array[ArrayData] =
      centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c))
    private val nc2 = cs.map(c => RhpKernels.decimalDot(c, c))

    /** The (d, j)-least of `cands` for a row leading with (vec, n2),
      * doubles compared as Spark's struct order compares them. A null
      * vec scores every candidate null, so the lowest index wins. */
    def nearest(row: InternalRow, cands: Array[Int]): Int =
      if (row.isNullAt(0)) cands.min
      else {
        val vec = row.getArray(0)
        val n2 = row.getDouble(1)
        var best = -1
        var bestD = 0.0
        var i = 0
        while (i < cands.length) {
          val j = cands(i)
          val d = (n2 - 2.0 * RhpKernels.decimalDot(vec, cs(j))) + nc2(j)
          val o = if (best < 0) -1 else SQLOrderingUtil.compareDoubles(d, bestD)
          if (o < 0 || (o == 0 && j < best)) { best = j; bestD = d }
          i += 1
        }
        best
      }
  }

  // ---------------------------------------------------------------
  // THE LLOYD STEP, shared by every trainer: [[trainModel]] and
  // [[trainTwoLevel]] keep centroids on the driver
  // ([[lloydOnDriver]]: one treeAggregate job per iteration, rows
  // assigned by a per-row kernel); [[trainTwoLevelRelationalFromBase]]
  // and [[SimilaritySearch.trainThreeLevel]] keep the child level as
  // a relation ([[lloydAsRelation]]: one means aggregation per
  // iteration), so children never become driver state. The
  // invariants every trainer inherits from here:
  //   - seeds are committed: the lowest ids, in id order (per super
  //     for a child level, [[seedChildren]]) — no RNG, no engine
  //     state;
  //   - assignment is argmin_j (n2 − 2·decimalDot(v, c_j)) + nc2_j,
  //     ties to the lowest centroid index (each kernel's (d, j)
  //     order), and a row kernel assigns every row to the cell its
  //     Column twin ([[cellExpr]], [[assignChildren]]) does;
  //   - update: per-dimension mean = Σ round(x, 12)::DECIMAL(38,12)
  //     cast to double, divided by the member count, summed in exact
  //     128-bit per-cell buffers
  //     ([[VectorAgg.DecimalVecMeanAggregator]]), so neither
  //     partitioning nor the tree's merge order can move a bit;
  //   - an emptied cell keeps its previous centroid (no re-seeding);
  //   - a fixed iteration count, no convergence test (a float
  //     tolerance would re-introduce engine-specific behavior);
  //   - a null, empty or ragged training vector fails the first
  //     iteration (or the seed collect) with an error naming the
  //     trainer and the cause.
  // Every job an iteration launches carries the job description
  // `lloyd:<trainer>:iter=<i>` ([[JobTag]]).
  // ---------------------------------------------------------------

  /** Driver-state Lloyd: `iters` iterations from `seeds` over
    * `points`, the trainer's rows (leading with vec, n2) planned once
    * per trainer call. Each iteration is one `treeAggregate` job:
    * `kernel(centroids)` assigns every row, which is added into its
    * cell's [[VectorAgg.DecimalVecMeanAggregator]] buffer (allocated
    * only for the cells a partition touches). Returns the final
    * centroids and the last iteration's member counts. */
  private[graft] def lloydOnDriver(trainer: String,
      seeds: Array[Array[Double]], iters: Int, points: RDD[InternalRow])(
      kernel: Array[Array[Double]] => InternalRow => Int): Model = {
    require(!seeds.contains(null), s"$trainer: null training vector among the seeds")
    val dim = seeds(0).length
    require(dim > 0, s"$trainer: empty training vector among the seeds")
    val agg = new VectorAgg.DecimalVecMeanAggregator(trainer, dim)
    var cents = seeds
    var counts = new Array[Long](seeds.length)
    for (it <- 0 until iters) {
      val cellOf = kernel(cents)
      val sums = JobTag.during(s"lloyd:$trainer:iter=$it")(
        points.treeAggregate(new Array[VectorAgg.DecBuf](seeds.length))(
          (bufs, row) => {
            val j = cellOf(row)
            val v = if (row.isNullAt(0)) null else row.getArray(0).toDoubleArray()
            bufs(j) = agg.reduce(if (bufs(j) == null) agg.zero else bufs(j), (j, v))
            bufs
          },
          (a, b) => {
            var j = 0
            while (j < a.length) {
              if (b(j) != null) a(j) = if (a(j) == null) b(j) else agg.merge(a(j), b(j))
              j += 1
            }
            a
          }))
      cents = cents.clone()
      counts = new Array[Long](seeds.length)
      sums.indices.filter(sums(_) != null).foreach { j =>
        val m = agg.finish(sums(j))
        cents(j) = m.mean
        counts(j) = m.n
      }
    }
    Model(cents, counts)
  }

  /** Relation-state Lloyd over a (super, cell, cvec) child relation:
    * `iters` iterations from `seeds`, each assigning with
    * `assign(childRel)` (a relation carrying id, cell and vec) and
    * updating the children by a left join on the cell means
    * ([[VectorAgg.decimalVecMeans]]).
    *
    * Each iteration's relation is localCheckpoint'd, not merely
    * cached: a cache keeps the full logical lineage, so after i
    * iterations every downstream plan embeds an i-deep
    * self-referencing join tree (measured to blow plan strings past
    * the driver heap on a 5-iteration structure). The checkpoint
    * truncates lineage to the materialized ≤ nlist × dim blocks; the
    * trade is that losing an executor's blocks mid-training re-runs
    * the training. The resident state is one child relation. */
  private[graft] def lloydAsRelation(trainer: String, seeds: DataFrame,
      dim: Int, iters: Int)(assign: DataFrame => DataFrame): DataFrame = {
    var childRel = graft.CacheScope.trackPersisted(seeds.localCheckpoint())
    for (it <- 0 until iters) {
      val prev = childRel
      childRel = JobTag.during(s"lloyd:$trainer:iter=$it") {
        val means = VectorAgg.decimalVecMeans(assign(prev), trainer, dim)
        graft.CacheScope.trackPersisted(
          prev.join(means, Seq("cell"), "left")
            .select(col("super"), col("cell"),
              coalesce(col("__newc"), col("cvec")).as("cvec"))
            .localCheckpoint()) // eager: forced before prev drops
      }
      prev.unpersist()
    }
    childRel
  }

  /** Committed child seeds over a routed (id, vec, super) relation:
    * per super, its [[allocateChildren]] share of lowest-id members;
    * cell ids consecutive within supers, supers in index order (an
    * S-int offset prefix sum — the oracle's `seedids` numbering).
    * Returns (super, cell, cvec), not yet materialized. */
  private[graft] def seedChildren(trainer: String, routed: DataFrame,
      s: Int, nlist: Int): DataFrame = {
    val counts = routed.groupBy(col("super")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(counts.values.sum > 0, s"$trainer needs a non-empty vector set")
    val ks = allocateChildren(counts, s, nlist)
    val offsets = ks.scanLeft(0)(_ + _)
    val spark = routed.sparkSession
    import spark.implicits._
    val ksDf = (0 until s).map(i => (i, ks(i), offsets(i)))
      .toDF("super", "__k", "__off")
    val w = Window.partitionBy(col("super")).orderBy(col("id"))
    routed.join(broadcast(ksDf), Seq("super"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__k"))
      .select(col("super"),
        (col("__off") + col("__rn") - 1).cast("int").as("cell"),
        col("vec").as("cvec"))
  }

  // ---------------------------------------------------------------
  // TWO-LEVEL (hierarchical) quantizer — the structure past the
  // flat-argmin ceiling. The flat path's assignment is a single
  // expression over nlist centroid literals: O(N·nlist·dim) work and
  // a codegen body that grows with nlist — measured unusable at
  // nlist ≈ 800 (the 100× ∝N point, SCALE.md round 10). The fix is
  // the classic two-level coarse quantizer (the IMI/FAISS shape):
  // route each row to one of S ≈ √nlist SUPER-cells (flat argmin
  // over S literals — cheap), then argmin only over that super's
  // ~nlist/S child centroids (a broadcast-joined candidate array +
  // one higher-order fold) — O(N·2√nlist·dim) total, no
  // nlist-sized codegen body anywhere.
  //
  // The assignment is APPROXIMATE vs the flat global argmin: a row
  // whose true nearest child lives under a different super mis-
  // routes (the documented IVF trade; SemDeDup cells are a recall
  // heuristic, not a correctness surface). S = 1 degenerates to the
  // flat argmin EXACTLY (spec-pinned), which is why the gates can
  // stay on the flat path while the scale path changes structure.
  // ---------------------------------------------------------------

  /** Two-level quantizer state: S super-centroids (routing layer,
    * fixed after their own Lloyd), the global child-centroid matrix
    * (cell j's centroid at `children(j)`), and each super's child
    * cell ids (`groups(s)` — consecutive, supers in index order). */
  final case class TwoLevelModel(supers: Array[Array[Double]],
      children: Array[Array[Double]], groups: Array[Array[Int]]) {
    def nlist: Int = children.length
  }

  /** Largest-remainder proportional child allocation — the ONE site
    * of the two-level family's count arithmetic (the portable
    * trainers' [[seedChildren]] and the native
    * [[SimilaritySearch.trainTwoLevelCoarse]] share it, and
    * [[twoLevelCtes]] replays it decision-for-decision in window
    * SQL). Per populated super: base = max(1, ⌊nlist·n/total⌋); a
    * positive remainder bumps eligible supers (n > base) by 1 in
    * (frac DESC, super ASC) order; an over-allocation (low-population
    * supers riding the ≥1 floor — ADVICE r10) is reclaimed from
    * donors with base > 1 by cumulative capacity in (frac ASC, super
    * ASC) order; finally each super caps at its own population.
    * Returns the child count per super index (0 for empty supers).
    */
  private[graft] def allocateChildren(counts: Map[Int, Long], s: Int,
      nlist: Int): Array[Int] = {
    val total = counts.values.sum.toDouble
    val raw = (0 until s).map { i =>
      val n = counts.getOrElse(i, 0L)
      if (n == 0L) (i, 0, 0.0)
      else {
        val exact = nlist * n / total
        (i, math.max(1, exact.toInt), exact - exact.toInt)
      }
    }
    var remaining = nlist - raw.map(_._2).sum
    val ks = scala.collection.mutable.Map(raw.map(r => r._1 -> r._2): _*)
    raw.sortBy(-_._3).foreach { case (i, _, _) =>
      if (remaining > 0 && counts.getOrElse(i, 0L) > ks(i)) {
        ks(i) += 1; remaining -= 1
      }
    }
    // reclaim: donor capacity Σ(base−1) = Σbase − #populated ≥
    // Σbase − nlist = the excess whenever supers ≤ nlist (the
    // trainers' require), so one cumulative pass restores Σ = nlist
    var over = -remaining
    if (over > 0) {
      raw.filter(_._2 > 1).sortBy(r => (r._3, r._1)).foreach {
        case (i, base, _) =>
          if (over > 0) {
            val take = math.min(over, base - 1)
            ks(i) -= take; over -= take
          }
      }
    }
    // clamp in Long BEFORE narrowing (ADVICE r11): a super population
    // above Int.MaxValue would wrap negative through .toInt —
    // unreachable under the documented two-level clamp, but this is
    // the shared one-site for both trainers
    (0 until s).map(i =>
      math.min(ks(i).toLong, counts.getOrElse(i, 0L))
        .min(Int.MaxValue).toInt).toArray
  }

  /** Train a two-level quantizer: Lloyd over S = ⌈√nlist⌉ supers,
    * route, then Lloyd over per-super children seeded by
    * [[seedChildren]] (child count proportional to super population,
    * ≥ 1, Σ = nlist whenever supers ≤ nlist; a starved super keeps
    * fewer). Driver state: (S + nlist)·dim scalars, independent of
    * corpus size.
    */
  def trainTwoLevel(vectors: DataFrame, nlist: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0): TwoLevelModel =
    trainTwoLevelFromBase(shapedBase(vectors, idCol, vecCol), nlist,
      iters, supers)

  /** [[trainTwoLevel]] over an already-shaped cached (id, vec, n2)
    * base — same values, zero re-shaping (the IvfPqPortable share). */
  private[graft] def trainTwoLevelFromBase(base: DataFrame, nlist: Int,
      iters: Int, supers: Int = 0): TwoLevelModel = {
    val trainer = "trainTwoLevel"
    val (sup, routed) = routeToSupers(trainer, base, nlist, iters, supers)
    // one bounded collect of ≤ nlist seed rows, in cell order
    val seeds = seedChildren(trainer, routed, sup.length, nlist).collect()
      .sortBy(_.getInt(1))
    val bySuper = seeds.groupBy(_.getInt(0))
    val groups = Array.tabulate(sup.length)(i =>
      bySuper.get(i).fold(Array.empty[Int])(_.map(_.getInt(1))))
    val m = lloydOnDriver(trainer, seeds.map(_.getSeq[Double](2).toArray),
      iters, routed.select(col("vec"), col("n2"), col("super"))
        .queryExecution.toRdd)(childKernel(_, groups))
    TwoLevelModel(sup, m.centroids, groups)
  }

  /** Two-level training with the child level as a relation: the
    * portable twin of [[SimilaritySearch.trainThreeLevel]]'s
    * structure. Supers, routing and seeds are
    * [[trainTwoLevelFromBase]]'s; the loop assigns through the
    * super-keyed equi-join argmin ([[assignChildrenRelational]]), so
    * the child centroids never become driver or broadcast state.
    * Value-identical to [[trainTwoLevelFromBase]] (spec-pinned,
    * KMeansPortableSpec), which is what lets [[twoLevelCtes]]'s
    * oracle text re-derive this trainer unchanged: the q104 gate.
    */
  private[graft] def trainTwoLevelRelationalFromBase(base: DataFrame,
      nlist: Int, iters: Int, supers: Int = 0):
      SimilaritySearch.RelationalCoarse = {
    val trainer = "trainTwoLevelRelational"
    val (sup, routed) = routeToSupers(trainer, base, nlist, iters, supers)
    val childRel = lloydAsRelation(trainer,
      seedChildren(trainer, routed, sup.length, nlist), sup(0).length,
      iters)(assignChildrenRelational(routed, _))
    SimilaritySearch.RelationalCoarse(sup, childRel)
  }

  /** The portable two-level trainers' first level: S supers by the
    * flat Lloyd loop, and the base routed to them ([[withSuper]],
    * cached). */
  private def routeToSupers(trainer: String, base: DataFrame,
      nlist: Int, iters: Int,
      supers: Int): (Array[Array[Double]], DataFrame) = {
    require(nlist > 0 && iters >= 1,
      s"need nlist>0, iters>=1; got nlist=$nlist iters=$iters")
    require(supers >= 0, s"supers must be >= 0 (0 = auto ⌈√nlist⌉)")
    // supers = 1 degenerates to the flat trainModel EXACTLY (same
    // seeds, same argmin, same means — spec-pinned)
    val s = if (supers > 0) supers else defaultSupers(nlist)
    // allocateChildren's Σ children = nlist needs every populated
    // super's ≥1 floor to fit inside nlist
    require(s <= nlist, s"supers=$s must not exceed nlist=$nlist")
    val sup = trainModelFromBase(base, s, iters, s"$trainer/supers")
      .centroids
    (sup, graft.CacheScope.track(withSuper(base, sup)))
  }

  /** Routes (vec, n2) rows to their nearest super ([[cellExpr]] over
    * `supers`); adds `super`. The one routing expression of the
    * portable two-level family: the trainers, [[assignCellsTwoLevel]]
    * and the IVF chains all route through it, so a base routed twice
    * against the same supers is the same plan and one cache. */
  private[graft] def withSuper(rows: DataFrame,
      supers: Array[Array[Double]]): DataFrame =
    rows.withColumn("super", cellExpr(col("vec"), col("n2"), supers))

  /** The super-restricted child argmin as a RELATIONAL equi-join —
    * [[assignChildren]]'s values through [[childAssignCtes]]'s shape:
    * the child store arrives by a join on the routed super (never a
    * driver collect, never an nlist-sized broadcast array), every
    * (row, candidate) pair scores the shared decimal distance
    * n2 − 2·decimalDot(v, c) + decimalDot(c, c), and a struct-min
    * groupBy keeps the (dist, cell)-lowest candidate — provably the
    * oracle's `ORDER BY dist, j ... rn = 1` total order. Emits
    * (id, cell, vec, n2). Training-corpus rows always route to a
    * populated super, so the inner join drops nothing (the
    * application-side childless fallback lives in
    * [[assignChildren]], which relational training never needs).
    */
  private[graft] def assignChildrenRelational(routed: DataFrame,
      childRel: DataFrame): DataFrame =
    routed.join(
        childRel.select(col("super"), col("cell"), col("cvec"),
          RhpExpressions.decimalScaledDot(col("cvec"), col("cvec"))
            .as("__cn2")),
        Seq("super"))
      .withColumn("__d", col("n2") - lit(2.0) *
        RhpExpressions.decimalScaledDot(col("vec"), col("cvec"))
        + col("__cn2"))
      .groupBy(col("id"))
      .agg(min(struct(col("__d"), col("cell"))).as("__m"),
        first(col("vec")).as("vec"), first(col("n2")).as("n2"))
      .select(col("id"), col("__m").getField("cell").as("cell"),
        col("vec"), col("n2"))

  /** Per-row child argmin over the row's routed super-group: the
    * candidate (j, c, nc2) array rides in via ONE broadcast hash
    * join keyed on the super id, and the argmin is a higher-order
    * fold over ~nlist/S candidates — the same (d, j) struct-min
    * total order as [[cellExpr]], never an nlist-sized expression.
    * Input must carry (vec, n2, super); adds `cell`.
    */
  private[graft] def assignChildren(routed: DataFrame,
      children: Array[Array[Double]],
      groups: Array[Array[Int]]): DataFrame =
    routed.join(broadcast(childCands(routed, children, groups)),
        Seq("super"), "left")
      .withColumn("cell",
        when(col("cands").isNotNull && size(col("cands")) > 0,
          array_min(childDistArray(col("cands"), col("vec"), col("n2")))
            .getField("j"))
          // childless super (ended empty in training): a distinct
          // out-of-range cell PER super — rows there still share a
          // coarse region legitimately, but two different childless
          // supers must not collapse into one pseudo-cell
          .otherwise(lit(children.length) + col("super")))
      .drop("cands")

  /** The (super → candidate (j, centroid, nc2) array) relation — the
    * broadcast side of the hash joins the child argmin
    * ([[assignChildren]]) and the child ranking ([[probeChildrenMulti]])
    * ride; one row per super index, ≤ nlist candidates in all. */
  private def childCands(routed: DataFrame,
      children: Array[Array[Double]],
      groups: Array[Array[Int]]): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val nc2 = children.map(c =>
      RhpKernels.decimalDot(new GenericArrayData(c), new GenericArrayData(c)))
    groups.indices.map { sIdx =>
      (sIdx, groups(sIdx).map(j =>
        (j, children(j).toSeq, nc2(j))).toSeq)
    }.toDF("super", "cands")
  }

  /** The per-candidate (d, j) struct array over a routed row's
    * super-group — struct comparison orders by (d, j), so `array_min`
    * IS the child argmin and `array_sort` IS the nprobe child ranking
    * (the [[distArray]] total order, candidate-array form). */
  private def childDistArray(cands: Column, vec: Column,
      n2: Column): Column =
    transform(cands, c =>
      struct((n2 - lit(2.0) *
          RhpExpressions.decimalScaledDot(vec, c.getField("_2"))
          + c.getField("_3")).as("d"),
        c.getField("_1").as("j")))

  /** The multi-super probe's OPERATING RULE as code (round 12 — the
    * measured recall table's arithmetic, SCALE.md): a top-p probe
    * can only rank the ~p·nlist/S children under its supers, so once
    * nprobe exceeds that pool the probe is CAPPED regardless of
    * nprobe — p must satisfy p ≥ nprobe·S/nlist. Measured at both
    * violations (nprobe = nlist/5 held across scale): p = 2 reads
    * 0.459 vs flat 0.630 at 10× and 0.306 vs 0.817 at 100×, where
    * this rule picks p = 6. Callers holding the swept fraction as
    * nlist ∝ N grows should size p with it. */
  def autoProbeSupers(nprobe: Int, nlist: Int, supers: Int): Int = {
    require(nprobe >= 1 && nlist >= 1 && supers >= 1,
      s"need nprobe/nlist/supers >= 1; got $nprobe/$nlist/$supers")
    math.min(supers,
      math.max(1, math.ceil(nprobe.toDouble * supers / nlist).toInt))
  }

  /** The two-level trainers' auto super count — ⌈√nlist⌉, the
    * balanced split that makes both routing stages O(√nlist). ONE
    * site (round 12 — it was inlined at three: both trainers and the
    * native coarse trainer), because the auto front doors' default
    * [[autoProbeSupers]] resolution must see the SAME S the trainer
    * they dispatch to will build. */
  def defaultSupers(nlist: Int): Int = {
    require(nlist >= 1, s"nlist must be >= 1; got $nlist")
    math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
  }

  /** The two-level PROBE, the query-side sibling of
    * [[assignChildren]]: per row, rank the UNION of its top-
    * `probeSupers` supers' children under the shared (d, j) struct
    * order and explode the top `nprobe` cells, one row each (fewer
    * when the union holds fewer children). At probeSupers = 1 the
    * top-1 super is the routed argmin ([[withSuper]]), so the probe
    * ranks only the routed super's children; a row routed to a
    * childless super probes nothing and drops. probeSupers = S ranks
    * ALL children: the flat probe over the same child centroids
    * (both spec-pinned). Widening p recovers the neighbors one-super
    * routing loses across super boundaries, at p× the ranking cost
    * (the IMI/FAISS multi-probe; measured in SCALE.md round 12).
    *
    * Plan shape: the top-p supers are one S-literal sort (the routing
    * expression at slice p instead of array_min), and the union's
    * candidates arrive through p chained broadcast hash joins of the
    * same ≤ S-row candidate relation. p is a plan-time constant, so
    * the probe never shuffles. Children partition across supers, so
    * the union has no duplicates. Input must carry (vec, n2);
    * `supers` is the super-centroid matrix. Adds `cell`.
    */
  private[graft] def probeChildrenMulti(anchors: DataFrame,
      supers: Array[Array[Double]], children: Array[Array[Double]],
      groups: Array[Array[Int]], nprobe: Int,
      probeSupers: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    require(probeSupers >= 1 && probeSupers <= supers.length,
      s"probeSupers must be 1..${supers.length}; got $probeSupers")
    val topSups = slice(array_sort(
      distArray(col("vec"), col("n2"), supers)), 1, probeSupers)
    var df = anchors.withColumn("__sups", topSups)
    val cands = childCands(anchors, children, groups)
    (0 until probeSupers).foreach { i =>
      df = df
        .withColumn(s"__sup$i",
          element_at(col("__sups"), i + 1).getField("j"))
        .join(broadcast(cands
          .select(col("super").as(s"__sup$i"),
            col("cands").as(s"__cands$i"))), Seq(s"__sup$i"))
    }
    val unioned = concat((0 until probeSupers)
      .map(i => col(s"__cands$i")): _*)
    df.withColumn("__pc",
        explode(slice(array_sort(
          childDistArray(unioned, col("vec"), col("n2"))), 1, nprobe)))
      .withColumn("cell", col("__pc.j"))
      .drop(Seq("__sups", "__pc") ++
        (0 until probeSupers).flatMap(i =>
          Seq(s"__sup$i", s"__cands$i")): _*)
  }

  /** Route + child argmin: the two-level sibling of [[assignCells]].
    * Rows routed to a CHILDLESS super (only possible when applying
    * the model to data OTHER than the training corpus — a super that
    * ended empty in training received no children) get the distinct
    * out-of-range pseudo-cell `children.length + super`: they pair
    * only among themselves, which is the coarse-region semantics
    * routing already asserts for them. [[twoLevelCtes]] replays the
    * same fallback, so an artifact-split gate stays hash-exact. */
  def assignCellsTwoLevel(base: DataFrame, m: TwoLevelModel): DataFrame =
    assignChildren(withSuper(base, m.supers), m.children, m.groups)

  /** The DuckDB re-derivation of [[train]] — `iters` unrolled Lloyd
    * iterations over the same decimal arithmetic. Generated, not
    * hand-written, so the iteration count stays a single source of
    * truth with the Spark side.
    */
  def oracleSql(table: String, idCol: String, vecCol: String,
      k: Int, iters: Int): String =
    s"""WITH ${lloydCtes(table, idCol, vecCol, k, iters)}
       |cnt AS (SELECT j, any_value(n) AS n FROM mm$iters GROUP BY j)
       |SELECT CAST(p.j AS INTEGER) AS cell, CAST(p.d AS INTEGER) AS d,
       |  p.c, CAST(coalesce(c.n, 0) AS BIGINT) AS n_members
       |FROM cd$iters p LEFT JOIN cnt c ON c.j = p.j
       |ORDER BY cell, d""".stripMargin

  /** The exact-decimal argmin assignment as SQL, parameterized on the
    * centroid relation (j, d, c): emits `cn<sfx>` (centroid norms),
    * `dot<sfx>` (vector·centroid decimal dots) and `as<sfx>`
    * (id → cell), trailing comma. The ONE source of the assignment
    * arithmetic for every oracle that assigns cells — q78's Lloyd
    * iterations, q76's fixture application, q80's end-to-end chain
    * and q85's IVF-PQ coarse/subspace assignments all compose this,
    * so an arithmetic change reaches every oracle or none. Reads
    * `dimsRel` (id, d, x) and `normsRel` (id, n2) — overridable so
    * multiple composed Lloyd chains (the q85 coarse + m subspace
    * trainings) can coexist in one statement without CTE-name
    * collisions; the defaults keep the q78/q80 oracle text
    * byte-identical.
    */
  def assignmentCtes(sfx: String, centroidRel: String,
      dimsRel: String = "dims", normsRel: String = "norms"): String =
    s"""cn$sfx AS MATERIALIZED (
       |  SELECT j, CAST(sum(CAST(round(c * c, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS nc2
       |  FROM $centroidRel GROUP BY j),
       |dot$sfx AS MATERIALIZED (
       |  SELECT m.id, cd.j,
       |    CAST(sum(CAST(round(m.x * cd.c, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM $dimsRel m JOIN $centroidRel cd ON cd.d = m.d GROUP BY 1, 2),
       |as$sfx AS MATERIALIZED (
       |  SELECT id, j AS cell FROM (
       |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
       |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
       |    FROM dot$sfx d
       |    JOIN $normsRel n ON n.id = d.id
       |    JOIN cn$sfx c ON c.j = d.j) WHERE rn = 1),
       |""".stripMargin

  /** The shared CTE chain: `v` (vectors), `dims`, `norms`, seeds and
    * `iters` Lloyd rounds ending in `cd<iters>` (j, d, c — the final
    * centroid matrix) and `mm<iters>` (the last mean update), with a
    * TRAILING comma so callers append their own CTEs. Consumed by
    * [[oracleSql]] (q78) and composed with the SemDeDup application
    * CTEs by the q80 end-to-end oracle. No WITH keyword — the caller
    * owns it (q80 needs WITH RECURSIVE for its closure).
    */
  /** The DuckDB re-derivation of [[trainTwoLevel]] +
    * [[assignCellsTwoLevel]] as a generated CTE chain (q90): super
    * Lloyd (composing [[lloydCtes]] at S = ⌈√nlist⌉), the routing
    * assignment (`asr`, from the same [[assignmentCtes]] generator),
    * the largest-remainder child ALLOCATION replayed in window SQL,
    * per-super child Lloyd with the super-restricted argmin, and the
    * final application assignment ending in `askf` (id → cell).
    * Trailing comma; the caller owns WITH RECURSIVE and appends the
    * application tail (the q80 shape).
    *
    * The allocation replay mirrors [[trainTwoLevel]] decision for
    * decision: exact = nlist·n/total in DOUBLE (BIGINT product, then
    * IEEE division — identical in both engines), base =
    * max(1, trunc(exact)) per populated super, +1 to the first
    * `remaining` supers eligible (n > base) in (frac DESC, super ASC)
    * order — the Scala stable-sort tie-break — an over-allocation
    * (negative remaining) reclaimed from donors with base > 1 by
    * cumulative capacity in (frac ASC, super ASC) order (the `don`
    * CTE — the ADVICE-r10 reclaim, decision-for-decision the Scala
    * walk), then a final cap at
    * the super's population. Child ids are global and consecutive in
    * (super, id) seed order, exactly the Scala seed walk. Empty
    * supers never appear in `scnt`, so they contribute 0 to the base
    * sum and are never eligible — the getOrElse(0) branch.
    */
  def twoLevelCtes(table: String, idCol: String, vecCol: String,
      nlist: Int, iters: Int, supers: Int = 0,
      probeSupers: Int = 1): String = {
    val s = if (supers > 0) supers else defaultSupers(nlist)
    // the ONE probeSupers contract (round-12 review): without this,
    // p > S silently capped (psup's rn ranking runs out of supers)
    // and p ≤ 0 silently degenerated to the p = 1 relation, while
    // the Spark twins throw — a gate pairing oracle and operator at
    // an out-of-range p would crash on one side only
    require(probeSupers >= 1 && probeSupers <= s,
      s"probeSupers must be 1..$s; got $probeSupers")
    val sb = new StringBuilder
    sb ++= lloydCtes(table, idCol, vecCol, s, iters)
    sb ++= assignmentCtes("r", s"cd$iters")
    sb ++=
      s"""scnt AS MATERIALIZED (
         |  SELECT cell AS super, count(*) AS n FROM asr GROUP BY cell),
         |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM scnt),
         |alloc0 AS MATERIALIZED (
         |  SELECT sc.super, sc.n,
         |    GREATEST(1, CAST(floor($nlist * sc.n / t.total) AS INT)) AS base,
         |    $nlist * sc.n / t.total
         |      - floor($nlist * sc.n / t.total) AS frac
         |  FROM scnt sc, tot t),
         |rem AS (SELECT $nlist - CAST(sum(base) AS INT) AS remaining
         |  FROM alloc0),
         |elig AS (
         |  SELECT super, row_number() OVER (ORDER BY frac DESC, super) AS rk
         |  FROM alloc0 WHERE n > base),
         |don AS (
         |  SELECT super, base - 1 AS cap,
         |    sum(base - 1) OVER (ORDER BY frac, super
         |      ROWS UNBOUNDED PRECEDING) AS cumcap
         |  FROM alloc0 WHERE base > 1),
         |alloc AS MATERIALIZED (
         |  SELECT a.super,
         |    LEAST(CAST(a.n AS INT), a.base + CASE
         |      WHEN e.rk IS NOT NULL AND e.rk <= GREATEST(r.remaining, 0)
         |      THEN 1 ELSE 0 END
         |      - CAST(coalesce(GREATEST(LEAST(d.cap,
         |          GREATEST(-r.remaining, 0) - (d.cumcap - d.cap)), 0), 0)
         |        AS INT)) AS k
         |  FROM alloc0 a LEFT JOIN elig e ON e.super = a.super
         |  LEFT JOIN don d ON d.super = a.super, rem r),
         |seedids AS MATERIALIZED (
         |  SELECT q.super, q.id,
         |    row_number() OVER (ORDER BY q.super, q.id) - 1 AS j
         |  FROM (
         |    SELECT r.id, r.cell AS super,
         |      row_number() OVER (PARTITION BY r.cell ORDER BY r.id) AS rn
         |    FROM asr r) q
         |  JOIN alloc a ON a.super = q.super
         |  WHERE q.rn <= a.k),
         |childsup AS MATERIALIZED (SELECT j, super FROM seedids),
         |ccd0 AS MATERIALIZED (
         |  SELECT sd.j, m.d, m.x AS c
         |  FROM seedids sd JOIN dims m ON m.id = sd.id),
         |""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"ccd${i - 1}"
      sb ++= childAssignCtes(s"k$i", prev, "dims", "norms", "asr")
      sb ++=
        s"""cmm$i AS MATERIALIZED (
           |  SELECT a.cell AS j, m.d,
           |    CAST(sum(CAST(round(m.x, 12) AS DECIMAL(38,12))) AS DOUBLE)
           |      / count(*) AS c
           |  FROM ask$i a JOIN dims m ON m.id = a.id GROUP BY 1, 2),
           |ccd$i AS MATERIALIZED (
           |  SELECT p.j, p.d, coalesce(m.c, p.c) AS c
           |  FROM $prev p LEFT JOIN cmm$i m ON m.j = p.j AND m.d = p.d),
           |""".stripMargin
    }
    sb ++= childAssignCtes("kf", s"ccd$iters", "dims", "norms", "asr",
      withFallback = true)
    // the MULTI-SUPER probe relations (round 12 — the SQL image of
    // [[probeChildrenMulti]]): `psup` re-reads the SAME super
    // dot/norm relations the routing argmin used at rn <= p instead
    // of rn = 1 (top-p supers per row, the shared (dist, j) order),
    // and `dotp` is childAssignCtes' dot arithmetic with the routing
    // join widened from the argmin super to the top-p set — dots
    // exist ONLY for a row's top-p supers' children, so the caller's
    // rn <= nprobe over (dotp, cnkf) IS the union probe,
    // structurally. p = 1 callers keep reading dotkf (byte-identical
    // oracle text). KNOWN COST (round-12 review): psup/dotp cover
    // EVERY id although the consumer filters to anchors — restricting
    // them needs the anchor-id relation threaded in ahead of these
    // fragments (tailSql defines it later in the statement). Oracle
    // machinery runs at gate scale where the factor is small; the
    // Spark operators probe anchors only.
    if (probeSupers > 1) sb ++=
      s"""psup AS MATERIALIZED (
         |  SELECT id, j AS super FROM (
         |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
         |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
         |    FROM dotr d
         |    JOIN norms n ON n.id = d.id
         |    JOIN cnr c ON c.j = d.j) WHERE rn <= $probeSupers),
         |dotp AS MATERIALIZED (
         |  SELECT m.id, cd.j,
         |    CAST(sum(CAST(round(m.x * cd.c, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS dot
         |  FROM dims m
         |  JOIN psup r ON r.id = m.id
         |  JOIN childsup cs ON cs.super = r.super
         |  JOIN ccd$iters cd ON cd.j = cs.j AND cd.d = m.d
         |  GROUP BY 1, 2),
         |""".stripMargin
    sb.toString
  }

  /** The multi-super probe relations for SEVERAL p values in one
    * statement (round 13 — the recall-walk oracle probes the same
    * trained structure at every rung of its ladder): for each p > 1
    * emits `psup{p}`/`dotp{p}`, the [[twoLevelCtes]] `psup`/`dotp`
    * text with the width suffixed. p = 1 rungs read the existing
    * `dotkf` (the routed-super relation) — no relation is emitted
    * for them. Must be appended AFTER [[twoLevelCtes]] (reads its
    * dotr/cnr/norms/dims/childsup/ccd relations); the p ≤ S contract
    * is the caller's ([[graft.operators.SimilaritySearch
    * .recallLadder]] guarantees it by construction). */
  def multiProbeCtes(ps: Seq[Int], iters: Int): String = {
    val sb = new StringBuilder
    ps.filter(_ > 1).distinct.sorted.foreach { p =>
      sb ++=
        s"""psup$p AS MATERIALIZED (
           |  SELECT id, j AS super FROM (
           |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
           |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
           |    FROM dotr d
           |    JOIN norms n ON n.id = d.id
           |    JOIN cnr c ON c.j = d.j) WHERE rn <= $p),
           |dotp$p AS MATERIALIZED (
           |  SELECT m.id, cd.j,
           |    CAST(sum(CAST(round(m.x * cd.c, 12) AS DECIMAL(38,12)))
           |      AS DOUBLE) AS dot
           |  FROM dims m
           |  JOIN psup$p r ON r.id = m.id
           |  JOIN childsup cs ON cs.super = r.super
           |  JOIN ccd$iters cd ON cd.j = cs.j AND cd.d = m.d
           |  GROUP BY 1, 2),
           |""".stripMargin
    }
    sb.toString
  }

  /** The super-restricted child argmin as SQL — candidates for a row
    * are ONLY the children of its routed super (`childsup` ⋈
    * `routeRel`), the SQL image of [[assignChildren]]'s broadcast
    * candidate-array fold; same (dist, j) total order as
    * [[assignmentCtes]]. Emits `cn<sfx>`/`dot<sfx>`/`as<sfx>`,
    * trailing comma. Reads the vector relation through (`dimsRel`,
    * `normsRel`) and its routing through `routeRel` (id, cell =
    * super) — overridable so a SECOND vector set (q92's bench side)
    * can two-level-assign against the same trained `childsup`/child
    * centroids in one statement. `withFallback` adds
    * [[assignChildren]]'s childless-super branch (pseudo-cell =
    * child count + routed super) — needed for APPLICATION
    * assignments only: training-corpus rows always route to a
    * populated super (each super's members include themselves), so
    * the training iterations never take it. Suffixes k1..kf avoid
    * the lloydCtes/assignmentCtes namespace (cn1/dot1/as1, *r).
    */
  def childAssignCtes(sfx: String, centRel: String,
      dimsRel: String, normsRel: String, routeRel: String,
      withFallback: Boolean = false): String = {
    val fallback = if (!withFallback) ""
    else s"""
       |  UNION ALL
       |  SELECT r.id, (SELECT count(*) FROM childsup) + r.cell AS cell
       |  FROM $routeRel r
       |  WHERE r.cell NOT IN (SELECT super FROM childsup)""".stripMargin
    s"""cn$sfx AS MATERIALIZED (
       |  SELECT j, CAST(sum(CAST(round(c * c, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS nc2
       |  FROM $centRel GROUP BY j),
       |dot$sfx AS MATERIALIZED (
       |  SELECT m.id, cd.j,
       |    CAST(sum(CAST(round(m.x * cd.c, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM $dimsRel m
       |  JOIN $routeRel r ON r.id = m.id
       |  JOIN childsup cs ON cs.super = r.cell
       |  JOIN $centRel cd ON cd.j = cs.j AND cd.d = m.d
       |  GROUP BY 1, 2),
       |as$sfx AS MATERIALIZED (
       |  SELECT id, j AS cell FROM (
       |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
       |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
       |    FROM dot$sfx d
       |    JOIN $normsRel n ON n.id = d.id
       |    JOIN cn$sfx c ON c.j = d.j) WHERE rn = 1$fallback),
       |""".stripMargin
  }

  /** The (v, dims, norms) relation triple over `table` — the shaped
    * base every oracle reads vectors through. Factored from
    * [[lloydCtes]] (byte-identical text) so a generator that needs a
    * SECOND vector domain in one statement — the q98 admission split
    * trains on the corpus rows but assigns/encodes the full relation
    * — emits the application-side triple under its own prefix
    * without a training chain attached. Trailing comma. */
  def baseCtes(table: String, idCol: String, vecCol: String,
      prefix: String = ""): String = {
    val p = prefix
    s"""${p}v AS MATERIALIZED (
       |  SELECT $idCol AS id, [CAST(x AS DOUBLE) for x in $vecCol] AS xs
       |  FROM $table),
       |${p}dims AS MATERIALIZED (
       |  SELECT id, generate_subscripts(xs, 1) - 1 AS d, unnest(xs) AS x
       |  FROM ${p}v),
       |${p}norms AS MATERIALIZED (
       |  SELECT id, CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS n2
       |  FROM ${p}dims GROUP BY id),
       |""".stripMargin
  }

  def lloydCtes(table: String, idCol: String, vecCol: String,
      k: Int, iters: Int, prefix: String = ""): String = {
    val p = prefix
    val sb = new StringBuilder
    sb ++= baseCtes(table, idCol, vecCol, prefix)
    sb ++=
      s"""${p}seeds AS (
         |  SELECT row_number() OVER (ORDER BY id) - 1 AS j, id
         |  FROM (SELECT id FROM ${p}v ORDER BY id LIMIT $k)),
         |${p}cd0 AS MATERIALIZED (
         |  SELECT s.j, m.d, m.x AS c FROM ${p}seeds s JOIN ${p}dims m ON m.id = s.id),
         |""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"${p}cd${i - 1}"
      sb ++= assignmentCtes(s"$p$i", prev, s"${p}dims", s"${p}norms")
      sb ++=
        s"""${p}mm$i AS MATERIALIZED (
           |  SELECT a.cell AS j, m.d,
           |    CAST(sum(CAST(round(m.x, 12) AS DECIMAL(38,12))) AS DOUBLE)
           |      / count(*) AS c,
           |    count(*) AS n
           |  FROM as$p$i a JOIN ${p}dims m ON m.id = a.id GROUP BY 1, 2),
           |${p}cd$i AS MATERIALIZED (
           |  SELECT p.j, p.d, coalesce(m.c, p.c) AS c
           |  FROM $prev p LEFT JOIN ${p}mm$i m ON m.j = p.j AND m.d = p.d),
           |""".stripMargin
    }
    sb.toString
  }
}
