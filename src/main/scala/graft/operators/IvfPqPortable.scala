package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RhpExpressions

/** ENGINE-PORTABLE IVF-PQ (IVFADC): the oracle twin of the deployment
  * path (`SimilaritySearch.ivfPqTopKScore`, q73), end to end:
  * coarse-quantizer training, residuals, per-subspace codebook
  * training, PQ encoding, nprobe candidate routing, ADC approximation,
  * shortlist rerank and the exact final top-k, every stage under
  * committed deterministic arithmetic, so the whole pipeline
  * re-derives value for value in SQL from the parquet bytes, with no
  * fixtures. Reference anchor: the IVF index build and ANN query of
  * `Experimental/vector_search/precompute_similar_tracks.py:116-150`,
  * whose float k-means/FAISS internals can only ever gate rows-only.
  *
  * Portability invariants:
  *   - both trainers are [[KMeansPortable]] Lloyd loops (first-k-ids
  *     init, exact-decimal argmin, DECIMAL(38,12) means, fixed
  *     iteration count): coarse on raw vectors, codebooks on the
  *     IVFADC residuals v − c(v) (Jégou et al. §IV), one exact IEEE
  *     subtraction per dimension;
  *   - PQ encoding is the Lloyd assignment rule per subspace
  *     ([[KMeansPortable.cellExpr]] on the residual slice);
  *   - ADC scores by reconstruction: approx(a, v) = decimalDot(a,
  *     c_cell + concat_j cb_j[code_j]), the per-subspace lookup-table
  *     sum as one fused decimal dot with a single rounding site (the
  *     native path keeps the table-lookup form for speed);
  *   - every ranking breaks ties by id (probe cells by index,
  *     shortlist and top-k by neighbor id).
  *
  * Scale shape, as in the native path: training state is
  * (nlist·dim + m·ksub·dsub) scalars on the driver; assignment,
  * encoding and reconstruction are one zero-shuffle projection;
  * candidate routing is an equi-join on the cell id; only the
  * nprobe/nlist fraction of the corpus is scored per anchor, and the
  * rerank set is `rerank` ids per anchor.
  *
  * Two coarse structures. [[topK]] is the flat argmin, one
  * nlist-candidate expression, for small nlist. The two-level
  * quantizer routes to S ≈ √nlist supers and ranks only the routed
  * supers' children through broadcast candidate-array joins:
  * O(N·2√nlist·dim), no nlist-sized expression. Every two-level entry
  * point ([[topKTwoLevel]], [[topKTwoLevelAdmit]], the recall walks)
  * serves from one index build ([[twoLevelIndex]]) through one probe
  * ([[KMeansPortable.probeChildrenMulti]]); supers = 1 degenerates to
  * the flat path exactly (spec-pinned). The subspace codebooks are
  * flat in both: ksub is bounded by construction (256 at 8-bit codes).
  *
  * Eager work outside a Lloyd iteration or a walk rung (the dim probe,
  * the training seeds, the codebook training) runs under the job
  * description `ivf:<entry point>:<stage>` ([[JobTag]]).
  */
object IvfPqPortable {

  /** Probe the vector width and build the cached uniform-checked
    * (id, vec, n2) base every entry point reads. A ragged corpus
    * (mixed widths) or null vectors would otherwise slice residuals
    * silently wrong downstream; the per-row guard costs nothing on the
    * happy path and fails the first job that reads the base. Both
    * errors name the entry point `site`. */
  private def checkedBase(vectors: DataFrame, idCol: String,
      vecCol: String, site: String): (DataFrame, Int) = {
    // one head row answers the (m, dim) contract before any training
    val dimRow = JobTag.during(s"ivf:$site:dim")(
      vectors.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect())
    require(dimRow.nonEmpty,
      s"IvfPqPortable.$site: empty or all-null vector set")
    val dim = dimRow(0).getInt(0)
    val checkedVec = when(col(vecCol).isNotNull &&
        size(col(vecCol)) === lit(dim), col(vecCol).cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"IvfPqPortable.$site: non-uniform vector set — probed dim=$dim, "),
        lit("but id "), col(idCol).cast("string"), lit(" has "),
        when(col(vecCol).isNull, lit("NULL"))
          .otherwise(size(col(vecCol)).cast("string"))))
        .cast("array<double>"))
    val base = graft.CacheScope.track(Par.ensureWide(vectors)
      .select(col(idCol).cast("long").as("id"),
        checkedVec.as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
    (base, dim)
  }

  /** Per-subspace codebook training on the `trainRes` residuals and
    * the fused encode + reconstruct projection over `withRes`, both
    * carrying (id, cell, rvec); `centsLit` is the per-cell centroid
    * matrix the residuals were taken against. Returns (nid, cell,
    * recon). The admission split passes its corpus rows as `trainRes`;
    * every other caller passes `withRes` itself.
    */
  private def trainAndEncode(withRes: DataFrame, trainRes: DataFrame,
      centsLit: Column, m: Int, ksub: Int, subIters: Int,
      dsub: Int): DataFrame = {
    // Sequential on purpose: running the m Lloyd chains concurrently
    // measured slower at local[32] (q93 12.4 s vs 8.0 s), as each
    // thread's first touch of the shared cached residuals recomputes
    // every partition and 4 × 32-task jobs oversubscribe the box.
    val codebooks = (0 until m).map { j =>
      KMeansPortable.trainModel(
        trainRes.select(col("id"),
          slice(col("rvec"), j * dsub + 1, dsub).as("svec")),
        ksub, subIters, "id", "svec").centroids
    }.toArray

    // ---- encode + reconstruct: ONE zero-shuffle projection — each
    // code is the Lloyd assignment of the residual slice, the
    // reconstruction re-adds the cell centroid
    val codeCols = (0 until m).map { j =>
      val sl = slice(col("rvec"), j * dsub + 1, dsub)
      KMeansPortable.cellExpr(sl,
        RhpExpressions.decimalScaledDot(sl, sl), codebooks(j))
    }
    val cwCols = (0 until m).map { j =>
      element_at(typedLit(codebooks(j).map(_.toSeq).toSeq),
        codeCols(j) + 1)
    }
    withRes.select(col("id").as("nid"), col("cell"),
      zip_with(element_at(centsLit, col("cell") + 1),
        concat(cwCols: _*), (c, w) => c + w).as("recon"))
  }

  /** The per-probe half: ADC of the `encoded` rows in the probed
    * cells (anchor_id, a_vec, cell), shortlist, exact decimal rerank,
    * final top-k. */
  private def probeScore(base: DataFrame, encoded: DataFrame,
      probeCells: DataFrame, k: Int, rerank: Int): DataFrame = {
    // ---- ADC approximation + shortlist (top `rerank` per anchor by
    // approx DESC, neighbor id ASC — TopKByScore's tie rule)
    val approx = encoded.join(probeCells, "cell")
      .filter(col("anchor_id") =!= col("nid"))
      .select(col("anchor_id"), col("nid").as("neighbor_id"),
        RhpExpressions.decimalScaledDot(col("a_vec"), col("recon"))
          .as("score"))
    val shortlist = SimilaritySearch.rankTopK(approx, rerank)
      .select(col("anchor_id"), col("neighbor_id"))

    // ---- exact rerank: decimal cosine, the q74 scoring rule
    val scored = shortlist
      .join(base.select(col("id").as("anchor_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2")), "anchor_id")
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("n_vec"),
        col("n2").as("b_n2")), "neighbor_id")
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("a_vec"), col("n_vec")) /
          (sqrt(col("a_n2")) * sqrt(col("b_n2"))), 6))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    SimilaritySearch.rankTopK(scored, k)
  }

  /** End-to-end portable IVF-PQ top-k with the FLAT coarse quantizer:
    * (anchor_id, rank, neighbor_id, score), score = round(cosine, 6),
    * rank 1..k per anchor. `anchorPred` is evaluated against the
    * renamed `id` column (the [[SimilaritySearch]] convention). dim
    * must be divisible by `m`.
    */
  def topK(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val site = "topK"
    val (base, dim) = checkedBase(vectors, idCol, vecCol, site)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    // training reads the checked cached base the encode reads, so the
    // ragged-vector guard covers its first job
    val coarse = JobTag.during(s"ivf:$site:seed")(
      KMeansPortable.trainModelFromBase(base, nlist, coarseIters)).centroids
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    // residuals once, shared by all m subspace trainings + encoding
    val withRes = graft.CacheScope.track(
      KMeansPortable.assignCells(base, coarse)
        .withColumn("rvec", zip_with(col("vec"),
          element_at(centsLit, col("cell") + 1), (x, c) => x - c)))

    // ---- candidate routing: each anchor probes its nprobe nearest
    // cells under the SAME decimal distance + lowest-index tie rule
    // as the assignment (array_sort on (d, j) structs == the oracle's
    // ORDER BY dist, j window)
    val anchors = base.filter(anchorPred)
    val probeCells = anchors.select(col("id").as("anchor_id"),
        col("vec").as("a_vec"),
        explode(slice(array_sort(
          KMeansPortable.distArray(col("vec"), col("n2"), coarse)),
          1, nprobe)).as("pc"))
      .select(col("anchor_id"), col("a_vec"), col("pc.j").as("cell"))
    val encoded = JobTag.during(s"ivf:$site:encode")(
      trainAndEncode(withRes, withRes, centsLit, m, ksub, subIters, dim / m))
    probeScore(base, encoded, probeCells, k, rerank)
  }

  /** [[topK]] with the TWO-LEVEL coarse quantizer, the structure for
    * corpus-sized nlist (the reference sizes its index to the corpus,
    * `Docs/SIMILARITY-PLAN.md:55-75`). The quantizer trains on the
    * whole corpus; each anchor probes the top-`nprobe` children of its
    * top-`probeSupers` supers ([[KMeansPortable.probeChildrenMulti]]).
    * At probeSupers = 1 that is its routed super's children only: a
    * neighbor under another super is invisible, the same
    * approximation the routing makes. Residuals and reconstruction
    * use the child centroid, the cell the vector lives in. supers = 1
    * degenerates to [[topK]] exactly: one super holds every child, so
    * routing is constant and the child ranking covers all nlist cells
    * under the same (d, j) order (spec-pinned).
    */
  def topKTwoLevel(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0, probeSupers: Int = 1): DataFrame =
    twoLevelIndex("topKTwoLevel", vectors, idCol, vecCol, None, nlist,
      coarseIters, m, ksub, subIters, supers)
      .topK(anchorPred, k, nprobe, probeSupers, rerank)

  /** [[topKTwoLevel]] under the ADMISSION split: every trained
    * artifact (super centroids, child allocation, child centroids,
    * subspace codebooks) derives from the `trainPred` rows alone (the
    * historical corpus), and the index (routing, child assignment, PQ
    * codes) covers all rows, corpus ∪ admitted batch, against that
    * fixed state. Under fixed quantizers encoding is a per-row
    * function, so this is "build the index over the corpus, admit the
    * batch without retraining, query": the deployment split
    * ([[SimilaritySearch.encodeIvfPqTwoLevel]] /
    * [[SimilaritySearch.admitIvfPqBatchTwoLevel]]) made
    * oracle-derivable (q98). `trainPred` ≡ all rows degenerates to
    * [[topKTwoLevel]] exactly, at every `probeSupers` (spec-pinned).
    * A batch row routed to a CHILDLESS super (possible only off the
    * training corpus) is dropped from the index, as the oracle's
    * centroid join drops it; an anchor routed there probes nothing at
    * probeSupers = 1 and is absent from the output, and at
    * probeSupers > 1 that super adds no candidates to the union.
    */
  def topKTwoLevelAdmit(vectors: DataFrame, trainPred: Column,
      anchorPred: Column, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0, probeSupers: Int = 1): DataFrame =
    twoLevelIndex("topKTwoLevelAdmit", vectors, idCol, vecCol,
      Some(trainPred), nlist, coarseIters, m, ksub, subIters, supers)
      .topK(anchorPred, k, nprobe, probeSupers, rerank)

  /** A built two-level IVF-PQ index: the checked `base`, the trained
    * quantizer, the cached `routed` base (adds `super`) and the
    * `encoded` (nid, cell, recon) rows. */
  private final case class TwoLevelIndex(base: DataFrame,
      model: KMeansPortable.TwoLevelModel, routed: DataFrame,
      encoded: DataFrame) {

    /** (anchor_id, a_vec, cell): each `anchorPred` row's top-`nprobe`
      * children over its top-`p` supers. */
    def probe(anchorPred: Column, nprobe: Int, p: Int): DataFrame =
      KMeansPortable.probeChildrenMulti(routed.filter(anchorPred),
          model.supers, model.children, model.groups, nprobe, p)
        .select(col("id").as("anchor_id"), col("vec").as("a_vec"),
          col("cell"))

    def topK(anchorPred: Column, k: Int, nprobe: Int, p: Int,
        rerank: Int): DataFrame =
      probeScore(base, encoded, probe(anchorPred, nprobe, p), k, rerank)
  }

  /** The one two-level index build. The quantizer and the codebooks
    * train on `trainPred`'s rows (all rows when None); routing, child
    * assignment and encoding cover every row of the checked base.
    * Rows routed to a childless super get a pseudo-cell ≥ nlist and
    * leave the index; that never happens on the training rows, where
    * every routed super received at least one child. With no
    * `trainPred` the route is the trainer's own cached plan, so
    * [[graft.CacheScope.track]] keeps one cache of it.
    */
  private def twoLevelIndex(site: String, vectors: DataFrame,
      idCol: String, vecCol: String, trainPred: Option[Column],
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      supers: Int): TwoLevelIndex = {
    val (base, dim) = checkedBase(vectors, idCol, vecCol, site)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val tl = JobTag.during(s"ivf:$site:seed")(
      KMeansPortable.trainTwoLevelFromBase(
        trainPred.fold(base)(p => base.filter(p)), nlist, coarseIters,
        supers))
    val childLit = typedLit(tl.children.map(_.toSeq).toSeq)
    val routed = graft.CacheScope.track(
      KMeansPortable.withSuper(base, tl.supers))
    val withRes = graft.CacheScope.track(
      KMeansPortable.assignChildren(routed, tl.children, tl.groups)
        .filter(col("cell") < lit(tl.nlist))
        .withColumn("rvec", zip_with(col("vec"),
          element_at(childLit, col("cell") + 1), (x, c) => x - c)))
    val encoded = JobTag.during(s"ivf:$site:encode")(
      trainAndEncode(withRes, trainPred.fold(withRes)(p => withRes.filter(p)),
        childLit, m, ksub, subIters, dim / m))
    TwoLevelIndex(base, tl, routed, encoded)
  }

  /** IVF-FLAT top-k over the RELATIONAL two-level structure (round 15
    * — VERDICT r14 item 1: the round-14 relational tier's first
    * hard-gate row). The coarse structure trains with the child level
    * AS A RELATION ([[KMeansPortable.trainTwoLevelRelationalFromBase]]
    * — the [[SimilaritySearch.trainThreeLevel]] loop under the
    * portable decimal arithmetic), the corpus assignment runs the
    * relational equi-join argmin, the probe ranks the routed super's
    * children by the shared (dist, cell) order at rn ≤ nprobe, and
    * candidates exact-rerank under the decimal cosine (the extop
    * arithmetic). Because the relational trainer is value-identical
    * to [[KMeansPortable.trainTwoLevelFromBase]], the EXISTING
    * [[KMeansPortable.twoLevelCtes]] oracle text re-derives every
    * stage — training through serving — from the parquet bytes
    * ([[oracleSqlCoarseRelational]]): the q104 gate proves the
    * children-as-a-relation training loop and the child-store serving
    * path end-to-end against DuckDB, the missing hard signal for the
    * tier the auto doors dispatch to past the broadcast clamp.
    *
    * Scale shape — the real tier's: no child centroid ever becomes
    * driver/broadcast state; training's per-iteration exchange is the
    * super-keyed candidate join + the (cell, dim) mean aggregation;
    * serving streams the child store once against the anchor set and
    * probes the assignment through a cell equi-join (bucketed by cell
    * in a stored deployment — the q91 discipline).
    */
  def topKCoarseRelational(vectors: DataFrame, anchorPred: Column,
      k: Int, nlist: Int, iters: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0): DataFrame = {
    val site = "topKCoarseRelational"
    val (base, _) = checkedBase(vectors, idCol, vecCol, site)
    val rel = JobTag.during(s"ivf:$site:seed")(
      KMeansPortable.trainTwoLevelRelationalFromBase(
        base, nlist, iters, supers))
    val routed = graft.CacheScope.track(
      KMeansPortable.withSuper(base, rel.supers))
    val assigned = graft.CacheScope.track(
      KMeansPortable.assignChildrenRelational(routed, rel.childRel))
    topKCoarseRelationalIndexed(assigned, anchorPred, k, rel, nprobe)
  }

  /** The q104 SERVE against a STORED relational assignment (the
    * deployment split — build the (id, cell, vec, n2) store once,
    * bucket it by `cell`, serve from it): anchors re-route through
    * the shared portable super argmin (the same [[KMeansPortable
    * .cellExpr]] expression the build used, so the routed super is
    * identical by determinism), probe the child store at rn ≤ nprobe
    * under the (dist, cell) order, and the candidate join reads the
    * bucketed assignment with NO corpus-side exchange — the q91
    * discipline on the portable relational chain, spec-asserted over
    * a real bucketed table (IvfPqPortableSpec). ONE serve site:
    * [[topKCoarseRelational]] delegates here, so the gate verifies
    * the same plan a stored deployment runs. */
  def topKCoarseRelationalIndexed(assigned: DataFrame,
      anchorPred: Column, k: Int,
      rel: SimilaritySearch.RelationalCoarse, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val candRel = rel.childRel.select(col("super"), col("cell"),
      col("cvec"),
      RhpExpressions.decimalScaledDot(col("cvec"), col("cvec"))
        .as("__cn2"))
    val anchors = KMeansPortable.withSuper(assigned.filter(anchorPred)
      .select(col("id"), col("vec"), col("n2")), rel.supers)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__d"), col("cell"))
    val probeCells = anchors
      .join(candRel, Seq("super"))
      .withColumn("__d", col("n2") - lit(2.0) *
        RhpExpressions.decimalScaledDot(col("vec"), col("cvec"))
        + col("__cn2"))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nprobe)
      .select(col("id").as("anchor_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2"), col("cell"))
    val cands = probeCells
      .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("n_vec"), col("n2").as("n_n2")), Seq("cell"))
      .filter(col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("a_vec"), col("n_vec")) /
          (sqrt(col("a_n2")) * sqrt(col("n_n2"))), 6))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    SimilaritySearch.rankTopK(cands, k)
  }

  /** The DuckDB re-derivation of [[topKCoarseRelational]] — the
    * [[KMeansPortable.twoLevelCtes]] training chain (its `askf`
    * assignment and `dotkf`/`cnkf` probe relations are exactly the
    * relational trainer's outputs, by the trainer parity contract)
    * plus the anchor probe at rn ≤ nprobe and the exact decimal
    * cosine rerank over the probed cells' members. */
  def oracleSqlCoarseRelational(table: String, idCol: String,
      vecCol: String, k: Int, nlist: Int, iters: Int, nprobe: Int,
      anchorPredSql: String, supers: Int = 0): String = {
    val chain = KMeansPortable.twoLevelCtes(table, idCol, vecCol,
      nlist, iters, supers)
    s"""WITH $chain
       |aset AS (SELECT id FROM v WHERE $anchorPredSql),
       |pcell AS (
       |  SELECT id AS anchor_id, j AS cell FROM (
       |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
       |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
       |    FROM dotkf d
       |    JOIN norms n ON n.id = d.id
       |    JOIN cnkf c ON c.j = d.j
       |    WHERE d.id IN (SELECT id FROM aset)) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.anchor_id, a.id AS neighbor_id
       |  FROM pcell p JOIN askf a ON a.cell = p.cell
       |  WHERE a.id <> p.anchor_id),
       |cdot AS (
       |  SELECT c.anchor_id, c.neighbor_id,
       |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM cand c
       |  JOIN dims da ON da.id = c.anchor_id
       |  JOIN dims db ON db.id = c.neighbor_id AND db.d = da.d
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.anchor_id, d.neighbor_id,
       |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
       |  FROM cdot d
       |  JOIN norms na ON na.id = d.anchor_id
       |  JOIN norms nb ON nb.id = d.neighbor_id)
       |SELECT anchor_id, rank, neighbor_id, score FROM (
       |  SELECT anchor_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY anchor_id
       |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored) WHERE rank <= $k
       |ORDER BY anchor_id, rank""".stripMargin
  }

  /** Recall walk over the portable two-level tier: build the index
    * once ([[twoLevelIndex]], the one [[topKTwoLevel]] serves from),
    * then climb `ladder`, the (probeSupers, nprobe) rungs of
    * [[SimilaritySearch.recallLadder]], under the [[RecallWalk]] rule.
    * Each rung's recall@k is measured
    * against the exact decimal-cosine ground truth of ALL `anchorPred`
    * anchors ([[exactTopKDecimal]]: `round(decimal cosine, 6)`, ties by
    * `neighbor_id`), the oracle's `extop` relation. Output: one row per
    * evaluated rung (rung, probe_supers, nprobe, recall, chosen);
    * `chosen` marks the last rung. The oracle replays the same stop
    * rule, so the early stop is value-derivable from the parquet
    * bytes: this is the sizing walk as a relation, the trail a
    * deployment prices its floor against.
    */
  def topKTwoLevelWalk(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      rerank: Int, ladder: Seq[(Int, Int)], floor: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0): DataFrame =
    walkImpl(vectors, anchorPred, k, nlist, coarseIters, m, ksub,
      subIters, ladder.map { case (p, np) => (p, np, rerank) }, floor,
      idCol, vecCol, supers, "topKTwoLevelWalk", emitRerank = false)

  /** [[topKTwoLevelWalk]] over the full-chain (probeSupers, nprobe,
    * rerank) ladder of [[SimilaritySearch.pqRecallLadder]] — super
    * pool, then nprobe and rerank in lockstep, then the rerank-only
    * tail — so the rung recalls measure the chain a PQ deployment
    * serves (coarse probe + ADC + rerank). Output adds the `rerank`
    * column; [[oracleSqlTwoLevelWalkPq]] re-derives the whole walk,
    * per-rung rerank included, from the parquet bytes (the q105
    * gate). */
  def topKTwoLevelWalkPq(vectors: DataFrame, anchorPred: Column,
      k: Int, nlist: Int, coarseIters: Int, m: Int, ksub: Int,
      subIters: Int, ladder: Seq[(Int, Int, Int)], floor: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Int = 0): DataFrame =
    walkImpl(vectors, anchorPred, k, nlist, coarseIters, m, ksub,
      subIters, ladder, floor, idCol, vecCol, supers,
      "topKTwoLevelWalkPq", emitRerank = true)

  private def walkImpl(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      ladder: Seq[(Int, Int, Int)], floor: Double,
      idCol: String, vecCol: String,
      supers: Int, site: String, emitRerank: Boolean): DataFrame = {
    RecallWalk.checkWalk(ladder, floor)
    val built = twoLevelIndex(site, vectors, idCol, vecCol, None, nlist,
      coarseIters, m, ksub, subIters, supers)
    // every rung re-reads the encoded rows
    val ix = built.copy(encoded = graft.CacheScope.track(built.encoded))
    // exact ground truth: the rung tail's own decimal-cosine rule
    // over ALL (anchor, corpus) pairs — the oracle's extop relation,
    // structurally (anchors broadcast, the cosineTopK shape); lazy, so
    // rung 0 fills its cache under rung 0's job description
    val exact = graft.CacheScope.track(
      exactTopKDecimalFromBase(ix.base, anchorPred, k))
    val c = RecallWalk.climb(site, ladder, floor) { case (p, np, rr) =>
      SimilaritySearch.meanRecall(ix.topK(anchorPred, k, np, p, rr), exact)
    }
    val rows = c.trail.zipWithIndex.map { case (((p, np, rr), r), i) =>
      (i, p, np, rr, r, i == c.trail.length - 1) }
    val walk = vectors.sparkSession.createDataFrame(rows)
      .toDF("rung", "probe_supers", "nprobe", "rerank", "recall", "chosen")
      .withColumn("recall", round(col("recall"), 4))
      .orderBy(col("rung"))
    if (emitRerank) walk else walk.drop("rerank")
  }

  /** EXACT top-k under the portable family's own decimal-cosine
    * arithmetic (score = round(decimalDot/(‖a‖‖b‖), 6), ties by
    * neighbor id) — the recall walk's ground truth and the oracle's
    * `extop` relation. Exposed private[graft] so specs can pin walk
    * rung recalls against independently-run tiers under the SAME
    * arithmetic. */
  private[graft] def exactTopKDecimal(vectors: DataFrame,
      anchorPred: Column, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    exactTopKDecimalFromBase(
      checkedBase(vectors, idCol, vecCol, "exactTopKDecimal")._1,
      anchorPred, k)

  private def exactTopKDecimalFromBase(base: DataFrame,
      anchorPred: Column, k: Int): DataFrame = {
    val aset = base.filter(anchorPred)
      .select(col("id").as("anchor_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2"))
    SimilaritySearch.rankTopK(
      base.select(col("id").as("neighbor_id"), col("vec").as("n_vec"),
        col("n2").as("b_n2"))
        .join(broadcast(aset), col("anchor_id") =!= col("neighbor_id"))
        .withColumn("score", round(
          RhpExpressions.decimalScaledDot(col("a_vec"), col("n_vec")) /
            (sqrt(col("a_n2")) * sqrt(col("b_n2"))), 6))
        .select(col("anchor_id"), col("neighbor_id"), col("score")),
      k)
  }

  /** The DuckDB re-derivation of [[topKTwoLevelWalk]] — ONE statement
    * that trains/encodes the q93 chain, derives the exact ground
    * truth, probes EVERY ladder rung through its own [[rungCtes]]
    * chain (p = 1 rungs read `dotkf`, p > 1 rungs the suffixed
    * [[KMeansPortable.multiProbeCtes]] relations), measures each
    * rung's recall, and replays the early stop: rungs after the first
    * floor hit are filtered out, so the emitted rows are exactly the
    * rungs the Spark walk evaluated. */
  def oracleSqlTwoLevelWalk(table: String, idCol: String,
      vecCol: String, k: Int, nlist: Int, coarseIters: Int, m: Int,
      ksub: Int, subIters: Int, rerank: Int, dim: Int,
      anchorPredSql: String, ladder: Seq[(Int, Int)], floor: Double,
      supers: Int = 0): String =
    oracleWalkImpl(table, idCol, vecCol, k, nlist, coarseIters, m,
      ksub, subIters, dim, anchorPredSql,
      ladder.map { case (p, np) => (p, np, rerank) }, floor, supers,
      emitRerank = false)

  /** The DuckDB re-derivation of [[topKTwoLevelWalkPq]] — the
    * [[oracleSqlTwoLevelWalk]] statement with each rung's
    * [[rungCtes]] chain taking ITS OWN rerank width (the full-chain
    * ladder's third knob) and the rung table carrying the `rerank`
    * column; the recall aggregation and the early-stop replay are
    * unchanged. */
  def oracleSqlTwoLevelWalkPq(table: String, idCol: String,
      vecCol: String, k: Int, nlist: Int, coarseIters: Int, m: Int,
      ksub: Int, subIters: Int, dim: Int, anchorPredSql: String,
      ladder: Seq[(Int, Int, Int)], floor: Double,
      supers: Int = 0): String =
    oracleWalkImpl(table, idCol, vecCol, k, nlist, coarseIters, m,
      ksub, subIters, dim, anchorPredSql, ladder, floor, supers,
      emitRerank = true)

  private def oracleWalkImpl(table: String, idCol: String,
      vecCol: String, k: Int, nlist: Int, coarseIters: Int, m: Int,
      ksub: Int, subIters: Int, dim: Int,
      anchorPredSql: String, ladder: Seq[(Int, Int, Int)],
      floor: Double, supers: Int, emitRerank: Boolean): String = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(ladder.nonEmpty, "walk ladder must be non-empty")
    val dsub = dim / m
    val sb = new StringBuilder("WITH ")
    sb ++= KMeansPortable.twoLevelCtes(table, idCol, vecCol, nlist,
      coarseIters, supers)
    sb ++= KMeansPortable.multiProbeCtes(ladder.map(_._1), coarseIters)
    sb ++= encodeCtes(m, dsub, ksub, subIters, "dims",
      s"ccd$coarseIters", "askf")
    sb ++=
      s"""aset AS (SELECT id FROM v WHERE $anchorPredSql),
         |exadims AS MATERIALIZED (
         |  SELECT id, d, x FROM dims
         |  WHERE id IN (SELECT id FROM aset)),
         |exdote AS (
         |  SELECT da.id AS anchor_id, db.id AS neighbor_id,
         |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS dot
         |  FROM exadims da
         |  JOIN dims db ON db.d = da.d AND db.id <> da.id
         |  GROUP BY 1, 2),
         |exscored AS (
         |  SELECT d.anchor_id, d.neighbor_id,
         |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
         |  FROM exdote d
         |  JOIN norms na ON na.id = d.anchor_id
         |  JOIN norms nb ON nb.id = d.neighbor_id),
         |extop AS (
         |  SELECT anchor_id, neighbor_id FROM (
         |    SELECT anchor_id, neighbor_id, row_number() OVER (
         |      PARTITION BY anchor_id
         |      ORDER BY score DESC, neighbor_id) AS rn
         |    FROM exscored) WHERE rn <= $k),
         |""".stripMargin
    ladder.zipWithIndex.foreach { case ((p, np, rr), i) =>
      val probeDot = if (p == 1) "dotkf" else s"dotp$p"
      sb ++= rungCtes(s"r${i}_", np, rr, k, "dims", "norms",
        "askf", probeDot, "cnkf")
      sb ++=
        s""",
           |r${i}_rec AS (
           |  SELECT avg(CAST(hits AS DOUBLE) / truth) AS recall FROM (
           |    SELECT e.anchor_id, count(a.neighbor_id) AS hits,
           |      count(*) AS truth
           |    FROM extop e LEFT JOIN r${i}_top a
           |      ON a.anchor_id = e.anchor_id
           |      AND a.neighbor_id = e.neighbor_id
           |    GROUP BY e.anchor_id)),
           |""".stripMargin
    }
    val rrCol = (rr: Int) =>
      if (emitRerank) s"\n    CAST($rr AS INT) AS rerank," else ""
    val walkRows = ladder.zipWithIndex.map { case ((p, np, rr), i) =>
      s"""  SELECT CAST($i AS INT) AS rung, CAST($p AS INT) AS probe_supers,
         |    CAST($np AS INT) AS nprobe,${rrCol(rr)}
         |    (SELECT recall FROM r${i}_rec) AS recall""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val rrSel = if (emitRerank) " rerank," else ""
    sb ++=
      s"""walkall AS (
         |$walkRows),
         |hit AS (SELECT coalesce(min(rung), ${ladder.size - 1}) AS r
         |  FROM walkall WHERE recall >= $floor)
         |SELECT rung, probe_supers, nprobe,$rrSel
         |  round(recall, 4) AS recall,
         |  rung = (SELECT r FROM hit) AS chosen
         |FROM walkall WHERE rung <= (SELECT r FROM hit)
         |ORDER BY rung""".stripMargin
    sb.toString
  }

  /** AUTO-STRUCTURE front door for the portable IVF-PQ family (round
    * 12 — VERDICT r11 item 4, the [[Dedup.semanticDedupAuto]]
    * precedent at the ANN site): size the coarse quantizer to the
    * corpus ([[KMeansPortable.autoNlist]] — expected cell population
    * held at `targetCellSize`) and DISPATCH the structure at the
    * measured crossover — [[topK]]'s flat argmin at nlist ≤
    * [[KMeansPortable.FlatAutoMaxNlist]], [[topKTwoLevel]] past it
    * (flat at the ∝N operating point is the measured 703.7 s vs
    * 101.8 s bottleneck, SCALE.md round 11). A caller that already
    * counted passes `n`; -1 counts here. The dispatch boundary and
    * both-sides parity with the manual calls are spec-pinned
    * (IvfPqPortableSpec); the front door tracks the manual choice at
    * 100× (ScaleProbe `ivfauto`, SCALE.md round 12). `probeSupers =
    * -1` (default) resolves by the measured pool rule
    * ([[KMeansPortable.autoProbeSupers]] at [[KMeansPortable
    * .defaultSupers]]'s S) on the two-level side — p = 1 at small
    * nprobe, growing with nprobe·S/nlist so the door cannot silently
    * cap its own recall when a caller holds the swept fraction.
    * COST NOTE (ADVICE r12): that default multiplies two-level
    * candidate-ranking cost by the resolved p at large nprobe —
    * `probeSupers = 1` pins the old cost profile and accepts the
    * measured recall cap (SCALE.md round-12 table).
    *
    * `recallFloor > 0` (round 13) recall-sizes the door instead:
    * [[topKTwoLevelWalk]] climbs [[SimilaritySearch.recallLadder]]
    * from the caller's nprobe on THIS tier (PQ + rerank included —
    * the portable walk sizes the very chain it then runs) and the
    * door re-runs the query at the chosen (p, nprobe). Costs one
    * extra train+walk pass — the portable family is gate/oracle
    * machinery, where that price buys full value-derivability.
    */
  def topKAuto(vectors: DataFrame, anchorPred: Column, k: Int,
      coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Int = KMeansPortable.DefaultTargetCellSize,
      probeSupers: Int = -1, n: Long = -1L,
      recallFloor: Double = 0.0): DataFrame = {
    val n0 = if (n >= 0) n else vectors.count()
    val nlist = KMeansPortable.autoNlist(n0, targetCellSize)
    // the chosen (p, nprobe) of a recall walk at `supers` structure —
    // one bounded 1-row collect (the walk's stopping rung)
    def walkPoint(sup: Int): (Int, Int) = {
      val s = if (sup > 0) sup else KMeansPortable.defaultSupers(nlist)
      // clamp the caller's nprobe hint into [1, nlist] — the
      // non-floor path tolerates an over-range hint (ranking all
      // cells), so the walk must too (round-13 review)
      val np0 = math.min(math.max(1, nprobe), nlist)
      val ladder = SimilaritySearch.recallLadder(nlist, s, np0)
      val row = topKTwoLevelWalk(vectors, anchorPred, k, nlist,
        coarseIters, m, ksub, subIters, rerank, ladder, recallFloor,
        idCol, vecCol, supers = sup)
        .filter(col("chosen"))
        .select(col("probe_supers"), col("nprobe")).collect()(0)
      (row.getInt(0), row.getInt(1))
    }
    if (nlist <= KMeansPortable.FlatAutoMaxNlist) {
      // probeSupers is moot on the flat side: the flat probe ranks
      // ALL cells globally — at least the recall of any p — so a
      // p > 1 policy set for growth is honored, not refused.
      // recallFloor walks nprobe at supers = 1, where the two-level
      // trainer IS the flat trainer (parity spec-pinned)
      val np = if (recallFloor > 0) walkPoint(1)._2 else nprobe
      topK(vectors, anchorPred, k, nlist, coarseIters, m, ksub,
        subIters, np, rerank, idCol, vecCol)
    } else {
      val (p, np) =
        if (recallFloor > 0) walkPoint(0)
        else (if (probeSupers > 0) probeSupers
          else KMeansPortable.autoProbeSupers(nprobe, nlist,
            KMeansPortable.defaultSupers(nlist)), nprobe)
      topKTwoLevel(vectors, anchorPred, k, nlist, coarseIters, m, ksub,
        subIters, np, rerank, idCol, vecCol, probeSupers = p)
    }
  }

  /** The shared SQL back half of both oracle generators: residuals
    * against the assigned cell's centroid, per-subspace Lloyd chains
    * + PQ encode, reconstruction, the nprobe probe (the SAME
    * dot/norm/centroid-norm relations the assignment used — rn ≤
    * nprobe instead of rn = 1, so the probe ranking and the
    * assignment argmin share one arithmetic), ADC, shortlist, exact
    * rerank, final top-k. Parameterized on the vector relations
    * (`dims`/`norms`/`v`), the cell-centroid relation, the corpus
    * assignment, and the probe's dot/cn relations — the flat oracle
    * passes its `ca`-suffixed global-argmin relations, the two-level
    * one its `kf`-suffixed super-restricted relations, which is
    * exactly the structural difference between the engines' paths.
    */
  private def tailSql(m: Int, dsub: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int, k: Int, anchorPredSql: String,
      dimsRel: String, normsRel: String, vRel: String,
      centRel: String, assignRel: String, probeDotRel: String,
      probeCnRel: String,
      // the ADMISSION split (round 12, q98): codebooks TRAIN on the
      // corpus rows' residuals (trainDimsRel × trainAssignRel) while
      // encode/probe/rerank run over the full relation (dimsRel …) —
      // null (the default) keeps the one-domain text byte-identical
      // for every existing oracle
      trainDimsRel: String = null,
      trainAssignRel: String = null): String = {
    val sb = new StringBuilder
    sb ++= encodeCtes(m, dsub, ksub, subIters, dimsRel, centRel,
      assignRel, trainDimsRel, trainAssignRel)
    sb ++=
      s"""aset AS (SELECT id FROM $vRel WHERE $anchorPredSql),
         |""".stripMargin
    sb ++= rungCtes("", nprobe, rerank, k, dimsRel, normsRel,
      assignRel, probeDotRel, probeCnRel)
    sb ++=
      s"""
         |SELECT anchor_id, rank, neighbor_id, score FROM top
         |ORDER BY anchor_id, rank""".stripMargin
    sb.toString
  }

  /** The rung-INDEPENDENT front of [[tailSql]] (factored in round 13
    * for the recall-walk oracle, text byte-identical through the
    * split): residuals, per-subspace Lloyd + encode, reconstruction.
    * Ends after `recdims`, trailing comma. */
  private def encodeCtes(m: Int, dsub: Int, ksub: Int, subIters: Int,
      dimsRel: String, centRel: String, assignRel: String,
      trainDimsRel: String = null,
      trainAssignRel: String = null): String = {
    val split = trainDimsRel != null
    val sb = new StringBuilder
    sb ++=
      s"""rdims AS (
         |  SELECT m.id, m.d, m.x - cd.c AS x
         |  FROM $dimsRel m
         |  JOIN $assignRel a ON a.id = m.id
         |  JOIN $centRel cd ON cd.j = a.cell AND cd.d = m.d),
         |""".stripMargin
    if (split) sb ++=
      s"""rdimst AS (
         |  SELECT m.id, m.d, m.x - cd.c AS x
         |  FROM $trainDimsRel m
         |  JOIN $trainAssignRel a ON a.id = m.id
         |  JOIN $centRel cd ON cd.j = a.cell AND cd.d = m.d),
         |""".stripMargin
    for (j <- 0 until m) {
      sb ++=
        s"""s${j}_src AS (
           |  SELECT id, list(x ORDER BY d) AS xs
           |  FROM ${if (split) "rdimst" else "rdims"} WHERE d >= ${j * dsub} AND d < ${(j + 1) * dsub}
           |  GROUP BY id),
           |""".stripMargin
      sb ++= KMeansPortable.lloydCtes(s"s${j}_src", "id", "xs", ksub,
        subIters, s"s${j}_")
      if (split) {
        // the all-row residual slice, shaped exactly like the
        // training slice (baseCtes with the slice as the vector) —
        // the encode reads THESE against the corpus-trained codebook
        sb ++=
          s"""s${j}_asrc AS (
             |  SELECT id, list(x ORDER BY d) AS xs
             |  FROM rdims WHERE d >= ${j * dsub} AND d < ${(j + 1) * dsub}
             |  GROUP BY id),
             |""".stripMargin
        sb ++= KMeansPortable.baseCtes(s"s${j}_asrc", "id", "xs",
          s"s${j}_a")
        sb ++= KMeansPortable.assignmentCtes(s"e$j",
          s"s${j}_cd$subIters", s"s${j}_adims", s"s${j}_anorms")
      } else
        sb ++= KMeansPortable.assignmentCtes(s"e$j",
          s"s${j}_cd$subIters", s"s${j}_dims", s"s${j}_norms")
    }
    val cwUnion = (0 until m).map { j =>
      s"""  SELECT e.id, ${j * dsub} + cb.d AS d, cb.c AS cw
         |  FROM ase$j e JOIN s${j}_cd$subIters cb ON cb.j = e.cell""".stripMargin
    }.mkString("\n  UNION ALL\n")
    sb ++=
      s"""cwdims AS (
         |$cwUnion),
         |recdims AS (
         |  SELECT w.id, w.d, cd.c + w.cw AS x
         |  FROM cwdims w
         |  JOIN $assignRel a ON a.id = w.id
         |  JOIN $centRel cd ON cd.j = a.cell AND cd.d = w.d),
         |""".stripMargin
    sb.toString
  }

  /** One probe→ADC→rerank→top-k chain as prefixed CTEs (the former
    * [[tailSql]] tail, factored in round 13 so the recall-walk oracle
    * can probe the ONE trained/encoded structure at every rung of its
    * ladder — prefix "" keeps the single-rung oracles' relation names
    * and arithmetic unchanged). Emits `{pfx}probe` … `{pfx}top`
    * (anchor_id, rank, neighbor_id, score at rank ≤ k), NO trailing
    * comma — the caller appends "," when more CTEs follow, or the
    * final SELECT directly. Reads the shared `aset`/`recdims`
    * relations. */
  private def rungCtes(pfx: String, nprobe: Int, rerank: Int, k: Int,
      dimsRel: String, normsRel: String, assignRel: String,
      probeDotRel: String, probeCnRel: String): String =
    s"""${pfx}probe AS (
       |  SELECT id AS anchor_id, j AS cell FROM (
       |    SELECT d.id, d.j, row_number() OVER (PARTITION BY d.id
       |      ORDER BY (n.n2 - 2.0 * d.dot + c.nc2), d.j) AS rn
       |    FROM $probeDotRel d
       |    JOIN $normsRel n ON n.id = d.id
       |    JOIN $probeCnRel c ON c.j = d.j
       |    WHERE d.id IN (SELECT id FROM aset)) WHERE rn <= $nprobe),
       |${pfx}cands AS (
       |  SELECT p.anchor_id, a.id AS nid
       |  FROM ${pfx}probe p JOIN $assignRel a ON a.cell = p.cell
       |  WHERE a.id <> p.anchor_id),
       |${pfx}approx AS (
       |  SELECT c.anchor_id, c.nid,
       |    CAST(sum(CAST(round(ad.x * r.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS ap
       |  FROM ${pfx}cands c
       |  JOIN $dimsRel ad ON ad.id = c.anchor_id
       |  JOIN recdims r ON r.id = c.nid AND r.d = ad.d
       |  GROUP BY 1, 2),
       |${pfx}short AS (
       |  SELECT anchor_id, nid FROM (
       |    SELECT anchor_id, nid, row_number() OVER (
       |      PARTITION BY anchor_id ORDER BY ap DESC, nid) AS rn
       |    FROM ${pfx}approx) WHERE rn <= $rerank),
       |${pfx}dote AS (
       |  SELECT s.anchor_id, s.nid,
       |    CAST(sum(CAST(round(da.x * db.x, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS dot
       |  FROM ${pfx}short s
       |  JOIN $dimsRel da ON da.id = s.anchor_id
       |  JOIN $dimsRel db ON db.id = s.nid AND db.d = da.d
       |  GROUP BY 1, 2),
       |${pfx}scored AS (
       |  SELECT d.anchor_id, d.nid AS neighbor_id,
       |    round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS score
       |  FROM ${pfx}dote d
       |  JOIN $normsRel na ON na.id = d.anchor_id
       |  JOIN $normsRel nb ON nb.id = d.nid),
       |${pfx}top AS (
       |  SELECT anchor_id, rank, neighbor_id, score FROM (
       |    SELECT anchor_id, neighbor_id, score,
       |      CAST(row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |    FROM ${pfx}scored)
       |  WHERE rank <= $k)""".stripMargin

  /** The DuckDB re-derivation of [[topK]] — composes one prefixed
    * [[KMeansPortable.lloydCtes]] chain for the coarse quantizer and
    * one per subspace (over the residual-slice relations), the shared
    * [[KMeansPortable.assignmentCtes]] for corpus assignment and PQ
    * encoding, then reconstruction, routing, ADC, rerank and top-k as
    * plain SQL over the same decimal arithmetic (the shared
    * [[tailSql]]). `anchorPredSql` is a predicate over `id`.
    */
  def oracleSql(table: String, idCol: String, vecCol: String, k: Int,
      nlist: Int, coarseIters: Int, m: Int, ksub: Int, subIters: Int,
      nprobe: Int, rerank: Int, dim: Int,
      anchorPredSql: String): String = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val cCd = s"c_cd$coarseIters"
    val sb = new StringBuilder("WITH ")
    sb ++= KMeansPortable.lloydCtes(table, idCol, vecCol, nlist,
      coarseIters, "c_")
    // corpus cell assignment against the trained coarse centroids;
    // the probe reads the SAME dotca/cnca relations at rn <= nprobe
    sb ++= KMeansPortable.assignmentCtes("ca", cCd, "c_dims", "c_norms")
    sb ++= tailSql(m, dsub, ksub, subIters, nprobe, rerank, k,
      anchorPredSql, "c_dims", "c_norms", "c_v", cCd, "asca",
      "dotca", "cnca")
    sb.toString
  }

  /** The DuckDB re-derivation of [[topKTwoLevel]] — the coarse
    * structure comes from [[KMeansPortable.twoLevelCtes]] (super
    * Lloyd, routing, largest-remainder allocation replay, per-super
    * child Lloyd, the super-restricted application assignment
    * `askf`), and the probe reads the SAME `dotkf`/`cnkf` relations —
    * dots exist ONLY for a row's routed super's children, so rn ≤
    * nprobe IS the two-level probe, structurally, not by analogy.
    * The subspace/encode/ADC/rerank tail is the shared [[tailSql]].
    */
  def oracleSqlTwoLevel(table: String, idCol: String, vecCol: String,
      k: Int, nlist: Int, coarseIters: Int, m: Int, ksub: Int,
      subIters: Int, nprobe: Int, rerank: Int, dim: Int,
      anchorPredSql: String, supers: Int = 0,
      probeSupers: Int = 1): String = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sb = new StringBuilder("WITH ")
    sb ++= KMeansPortable.twoLevelCtes(table, idCol, vecCol, nlist,
      coarseIters, supers, probeSupers)
    // probeSupers > 1 reads the widened `dotp` union-probe relation
    // (dots over the top-p supers' children); the cell-norm relation
    // is shared — cnkf covers every child in both cases
    sb ++= tailSql(m, dsub, ksub, subIters, nprobe, rerank, k,
      anchorPredSql, "dims", "norms", "v", s"ccd$coarseIters", "askf",
      if (probeSupers > 1) "dotp" else "dotkf", "cnkf")
    sb.toString
  }

  /** The DuckDB re-derivation of [[topKTwoLevelAdmit]] — the q93
    * statement under the ADMISSION split: the ENTIRE training chain
    * ([[KMeansPortable.twoLevelCtes]]: super Lloyd, routing,
    * allocation, child Lloyd) runs over `trn` (the `trainPredSql`
    * rows), and a SECOND vector domain — the full relation, shaped by
    * [[KMeansPortable.baseCtes]] under the `a` prefix — is routed
    * (`asra`), child-assigned (`asaf`, with the childless-super
    * fallback batch rows can hit) and encoded against the
    * corpus-trained state. [[tailSql]]'s split mode trains each
    * subspace codebook on the corpus residuals (`rdimst` =
    * train dims × train assignment) while encoding all rows
    * (`rdims`); rows in fallback pseudo-cells drop at the centroid
    * join exactly as the Spark side filters them.
    */
  def oracleSqlTwoLevelAdmit(table: String, idCol: String,
      vecCol: String, k: Int, nlist: Int, coarseIters: Int, m: Int,
      ksub: Int, subIters: Int, nprobe: Int, rerank: Int, dim: Int,
      anchorPredSql: String, trainPredSql: String,
      supers: Int = 0): String = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sb = new StringBuilder("WITH ")
    sb ++=
      s"""trn AS MATERIALIZED (
         |  SELECT * FROM $table WHERE $trainPredSql),
         |""".stripMargin
    sb ++= KMeansPortable.twoLevelCtes("trn", idCol, vecCol, nlist,
      coarseIters, supers)
    // the application-side vector domain: the FULL relation
    sb ++= KMeansPortable.baseCtes(table, idCol, vecCol, "a")
    // route all rows to supers, then child-assign against the
    // trained children (fallback pseudo-cells for childless supers)
    sb ++= KMeansPortable.assignmentCtes("ra", s"cd$coarseIters",
      "adims", "anorms")
    sb ++= KMeansPortable.childAssignCtes("af", s"ccd$coarseIters",
      "adims", "anorms", "asra", withFallback = true)
    sb ++= tailSql(m, dsub, ksub, subIters, nprobe, rerank, k,
      anchorPredSql, "adims", "anorms", "av", s"ccd$coarseIters",
      "asaf", "dotaf", "cnaf",
      trainDimsRel = "dims", trainAssignRel = "askf")
    sb.toString
  }
}
