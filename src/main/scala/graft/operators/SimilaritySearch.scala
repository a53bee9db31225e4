package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate/exact nearest-neighbor search over an embedding
  * column (`ARRAY<FLOAT>`).
  *
  * Two-tier design mirroring the reference's recall→rerank plan
  * (SURVEY §3.3, Docs/SIMILARITY-PLAN.md): a brute-force cosine
  * baseline (broadcast anchors × linear scan — exact, O(A·N)), and a
  * random-hyperplane LSH path whose candidate generation is a
  * hash-partitioned band join (the 100 TB shape — never a cross
  * join). Scores are computed as ordered double folds and rounded to
  * 4 decimals so ranks are reproducible cross-engine.
  */
object SimilaritySearch {

  // Native fused-loop cosine (whole-stage codegen); semantically
  // identical to graft.functions.VectorFunctions.cosine — equivalence
  // pinned by SimilaritySpec.
  private def fastCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosine(a, b)

  /** Anchor sets are small by contract on the top-k paths, but an
    * `anchorPred` that unexpectedly matches a large corpus fraction
    * must not build an unbounded driver broadcast (ADVICE r8 — the
    * id-only banding era never materialized anchors separately, so
    * the restored vector-predicate support reintroduced the risk).
    * Mechanics and the probe-not-cached-base subtlety are
    * single-sited in [[Par.boundedBroadcast]]; the probe here is the
    * anchor filter rebuilt from the RAW input with a dodge column.
    */
  private val MaxBroadcastAnchors = 100000
  private def boundedBroadcast(anchors: DataFrame, probe: DataFrame): DataFrame =
    Par.boundedBroadcast(anchors, probe, MaxBroadcastAnchors)

  private def scored(vectors: DataFrame, anchors: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"))
      .join(broadcast(
        anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("a_vec"))),
        col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4))

  /** Rank the scored (anchor, neighbor) relation down to k per anchor
    * with the bounded top-k aggregate: partial aggregation keeps ≤ k
    * rows per anchor per map task, so the shuffle carries
    * O(anchors·k·tasks) rows instead of every scored row — the
    * window-rank formulation this replaced shuffled and fully sorted
    * anchors × N (row-identical output, pinned by the q20/q22
    * oracles). */
  private[graft] def rankTopK(scoredRel: DataFrame, k: Int): DataFrame =
    scoredRel
      .groupBy(col("anchor_id"))
      .agg(org.apache.spark.sql.graft.TopKExpressions
        .topKByScore(col("score"), col("neighbor_id"), k).as("topk"))
      .select(col("anchor_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("anchor_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("score"))

  /** Per-anchor recall of an approximate ANN result against an exact
    * ground truth (round 12 — VERDICT r11 item 3: every tier's
    * approximation QUALITY becomes a measured, assertable number
    * instead of prose). Both inputs carry (anchor_id, neighbor_id) —
    * any tier's output and [[cosineTopK]]'s fit directly. Returns
    * (anchor_id, truth, hits, recall = hits/truth); anchors absent
    * from `approx` score 0 (a tier that drops an anchor is a recall
    * failure, not a missing row). Distributed: one semi-join + two
    * bounded aggregates — run it on the full anchor set, not a
    * collected sample.
    *
    * Reference anchor: the validation harness of
    * `Experimental/vector_search/precompute_similar_tracks.py:158-193`
    * (approximate kernel vs reference implementation, top-10 overlap
    * gated ≥ 0.9, hard exit) — [[requireRecall]] is that gate as an
    * operator.
    */
  def recallPerAnchor(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select(col("anchor_id"), col("neighbor_id"))
      .join(approx.select(col("anchor_id"), col("neighbor_id")),
        Seq("anchor_id", "neighbor_id"), "left_semi")
      .groupBy(col("anchor_id")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("anchor_id")).agg(count(lit(1)).as("truth"))
      .join(hits, Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("truth"))
          .as("recall"))
  }

  /** Mean recall@k over all anchors — the one scalar the tier tables
    * report (SCALE.md round 12). */
  def meanRecall(approx: DataFrame, exact: DataFrame): Double =
    recallPerAnchor(approx, exact)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)

  /** The recall CONTRACT: fail loudly when a tier's measured mean
    * recall against the exact ground truth drops below `floor` — the
    * reference's ≥ 0.9-overlap-or-exit validation gate as a reusable
    * operator. Deployments run it on a sampled anchor set after
    * (re)building an index; the per-tier floors the gate corpus
    * supports are pinned in AnnRecallSpec, where callers choosing
    * tiers can read them.
    */
  def requireRecall(site: String, approx: DataFrame, exact: DataFrame,
      floor: Double): Double = {
    val r = meanRecall(approx, exact)
    require(r >= floor,
      f"$site: measured mean recall $r%.4f is below the contract " +
        f"floor $floor%.4f — the approximate tier is losing true " +
        "neighbors; raise nprobe/probeSupers/planes (the tier's " +
        "recall knob) or re-validate the index build")
    r
  }

  /** One evaluated rung of a recall-targeted sizing walk: the probe
    * shape tried and the mean recall@k it measured. */
  final case class RecallRung(probeSupers: Int, nprobe: Int,
      recall: Double)

  /** The operating point a recall-targeted walk chose ([[RecallWalk]]
    * states the stop rule and what `floorMet = false` means). `walk`
    * is every rung evaluated, in order, for the caller's cost report:
    * candidate-ranking cost scales with probeSupers/S and swept
    * corpus fraction with nprobe/nlist. */
  final case class AnnOperatingPoint(probeSupers: Int, nprobe: Int,
      recall: Double, floorMet: Boolean, walk: Seq[RecallRung]) {
    /** The SWEEP cost of the chosen point — the corpus fraction the
      * candidate join reads per anchor (the dominant cost knob). */
    def sweptFraction(nlist: Int): Double = nprobe.toDouble / nlist
    /** The candidate-RANKING cost share — the fraction of supers
      * whose children the probe ranks (p broadcast joins over the
      * ≤ nlist-row centroid relation). */
    def rankedSuperShare(supers: Int): Double =
      probeSupers.toDouble / supers
  }

  /** One evaluated rung of a FULL-CHAIN (coarse probe + ADC shortlist
    * + exact rerank) PQ recall walk — [[RecallRung]] with the PQ
    * tier's third knob. */
  final case class PqRecallRung(probeSupers: Int, nprobe: Int,
      rerank: Int, recall: Double)

  /** The operating point a full-chain PQ recall walk chose. Its
    * `recall` is measured on the same chain the query runs, ADC
    * shortlist and rerank included, so the floor is end-to-end (a
    * coarse-only walk measures only the PQ tier's ceiling). Cost
    * report: sweep scales
    * with nprobe/nlist, ranking with probeSupers/S, and the
    * rerank-stage exact re-scores with `rerank` per anchor. */
  final case class PqOperatingPoint(probeSupers: Int, nprobe: Int,
      rerank: Int, recall: Double, floorMet: Boolean,
      walk: Seq[PqRecallRung]) {
    def sweptFraction(nlist: Int): Double = nprobe.toDouble / nlist
    def rankedSuperShare(supers: Int): Double =
      probeSupers.toDouble / supers
    /** Exact re-scores per anchor at the chosen point — the PQ
      * tier's own cost knob, absent from the coarse walk. */
    def rerankPerAnchor: Int = rerank
  }

  /** The deterministic (probeSupers, nprobe) ladder a recall-targeted
    * walk climbs. Two phases, cheapest knob first:
    *
    *  1. widen the SUPER pool at fixed nprobe — start at the measured
    *     pool rule [[KMeansPortable.autoProbeSupers]] (below it the
    *     probe is capped by arithmetic, so starting lower is wasted
    *     work) and double p until every super is ranked. Cost grows
    *     only in the candidate-RANKING stage (p broadcast joins over
    *     the ≤ nlist-row centroid relation); the expensive
    *     cell-sweep stays fixed.
    *  2. at p = S (the flat probe over the same child centroids),
    *     double nprobe until nlist. Cost grows in the SWEEP — the
    *     nprobe/nlist corpus fraction the candidate join reads.
    *
    * The terminal rung (S, nlist) ranks every cell — exact search,
    * recall 1.0 by construction — so a walk over this ladder HITS any
    * floor ≤ 1.0. Pure arithmetic (no data), so gates and specs can
    * pin the rung list.
    */
  def recallLadder(nlist: Int, supers: Int, nprobe0: Int): Seq[(Int, Int)] = {
    require(nlist >= 1 && supers >= 1 && supers <= nlist,
      s"need 1 <= supers <= nlist; got supers=$supers nlist=$nlist")
    require(nprobe0 >= 1 && nprobe0 <= nlist,
      s"nprobe0 must be 1..$nlist; got $nprobe0")
    val p0 = KMeansPortable.autoProbeSupers(nprobe0, nlist, supers)
    val ps = scala.collection.mutable.ArrayBuffer(p0)
    while (ps.last < supers) ps += math.min(supers, ps.last * 2)
    val nps = scala.collection.mutable.ArrayBuffer(nprobe0)
    while (nps.last < nlist) nps += math.min(nlist, nps.last * 2)
    (ps.toSeq.map(p => (p, nprobe0)) ++
      nps.toSeq.drop(1).map(np => (supers, np)))
  }

  /** The deterministic (probeSupers, nprobe, rerank) ladder a
    * FULL-CHAIN PQ recall walk climbs (round 14 — ADVICE r13). Three
    * phases, cheapest knob first, extending [[recallLadder]] with the
    * PQ tier's own knob:
    *
    *  1. widen the SUPER pool at (nprobe0, rerank0) — the coarse
    *     ladder's phase 1 (ranking cost only).
    *  2. at p = S, double nprobe AND rerank in LOCKSTEP until nprobe
    *     reaches nlist — rerank stays a constant fraction of the
    *     swept set, which is the measured shape of the PQ tier
    *     (ScaleProbe `recallwalk`, SCALE.md round 13: ~10–15% of the
    *     swept set buys ~90% of the coarse ceiling; holding rerank
    *     fixed while the sweep doubles is how the round-13 coarse
    *     sizer's 0.80 ceiling decayed to 0.28 measured).
    *  3. at nprobe = nlist, keep doubling rerank until `maxRerank`
    *     (the corpus bound) — the terminal rung reranks every
    *     candidate of an all-cell sweep, which IS exact search, so a
    *     walk over this ladder hits any floor ≤ 1.0 by construction.
    *
    * Pure arithmetic (no data); specs pin the rung list. */
  def pqRecallLadder(nlist: Int, supers: Int, nprobe0: Int,
      rerank0: Int, maxRerank: Int): Seq[(Int, Int, Int)] = {
    require(rerank0 >= 1 && maxRerank >= rerank0,
      s"need 1 <= rerank0 <= maxRerank; got $rerank0/$maxRerank")
    val coarse = recallLadder(nlist, supers, nprobe0)
    val (ph1, ph2) = coarse.partition(_._2 == nprobe0)
    val rungs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    rungs ++= ph1.map { case (p, np) => (p, np, rerank0) }
    // Overflow-safe doubling (ADVICE r14): at r = 2^30 the naive r*2
    // wraps negative and math.min latches it — the walk then never
    // reaches maxRerank (hang at the sizers' maxRerank = corpus count
    // > 2^30, in-scope for the relational tier). Saturate instead.
    def dbl(r: Int): Int = if (r > maxRerank / 2) maxRerank else r * 2
    var r = rerank0
    ph2.foreach { case (p, np) =>
      r = dbl(r)
      rungs += ((p, np, r))
    }
    while (r < maxRerank) {
      r = dbl(r)
      rungs += ((supers, nlist, r))
    }
    rungs.toSeq
  }

  /** Recall-targeted sizing for the two-level IVF tier: trains the
    * coarse structure once, then climbs [[recallLadder]] under the
    * [[RecallWalk]] rule, re-using the cached corpus assignment at
    * every rung. Candidates score by `round(fastCosine, 4)`.
    *
    * `supers = 1` sizes the FLAT tier: the child level then trains
    * exactly like [[ivfCosineTopK]]'s quantizer (same ML fit, same
    * seed — the trainTwoLevelCoarse parity contract), so the chosen
    * nprobe transfers to the flat door unchanged. The returned point
    * carries the full rung table so deployments can price the floor.
    * `nprobe0` is clamped into [1, nlist], as in the other sizers.
    */
  def sizeTwoLevelForRecall(vectors: DataFrame, anchorPred: Column,
      k: Int, floor: Double, nlist: Int, nprobe0: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0,
      supers: Int = 0, maxAnchors: Int = 64): AnnOperatingPoint = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val spark = vectors.sparkSession
    import spark.implicits._
    RecallWalk.checkFloor(floor)
    val s0 = if (supers > 0) supers else KMeansPortable.defaultSupers(nlist)
    val ladder = recallLadder(nlist, s0, math.min(math.max(1, nprobe0), nlist))
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val sample = RecallWalk.anchorSample(feat, anchorPred, maxAnchors, k,
      "sizeTwoLevelForRecall")
    val coarse = trainTwoLevelCoarse(vectors, nlist, vecCol, seed,
      trainFraction, s0)
    val cB = spark.sparkContext.broadcast(coarse)
    val assigned = graft.CacheScope.track(feat.as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, nearestChild(v, cB.value)) }
      .toDF("id", "vec", "cell"))
    val centDf = childCentDf(spark, coarse)
    def approxAt(p: Int, np: Int): DataFrame = {
      val anchorsRouted = sample.rows.as[(Long, Array[Double])]
        .flatMap { case (id, v) =>
          routeSupersTopP(v, cB.value, p).map(su => (id, v, su)) }
        .toDF("id", "a_vec", "super")
      val probeCells = anchorsRouted.join(broadcast(centDf), Seq("super"))
        .withColumn("cs", fastCosine(col("a_vec"), col("cvec")))
        .groupBy(col("id"))
        .agg(topKByScore(col("cs"), col("cell"), np).as("pc"))
        .select(col("id").as("anchor_id"), explode(col("pc.id")).as("cell"))
      val anch = sample.rows.select(col("id").as("anchor_id"),
        col("vec").as("a_vec"))
      val cands = probeCells.join(anch, "anchor_id")
        .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
          col("vec").as("n_vec")), "cell")
        .filter(col("anchor_id") =!= col("neighbor_id"))
        .withColumn("score",
          round(fastCosine(col("a_vec"), col("n_vec")), 4))
        .select(col("anchor_id"), col("neighbor_id"), col("score"))
      rankTopK(cands, k)
    }
    annPoint(RecallWalk.climb("sizeTwoLevelForRecall", ladder, floor) {
      case (p, np) => meanRecall(approxAt(p, np), sample.exact)
    })
  }

  private def annPoint(c: RecallWalk.Climb[(Int, Int)]): AnnOperatingPoint = {
    val walk = c.trail.map { case ((p, np), r) => RecallRung(p, np, r) }
    AnnOperatingPoint(walk.last.probeSupers, walk.last.nprobe,
      walk.last.recall, c.floorMet, walk)
  }

  /** Full-chain recall sizing for the IVF-PQ tier: climbs
    * [[pqRecallLadder]] under the [[RecallWalk]] rule on the real
    * serving chain — the stored index's coarse probe, ADC shortlist
    * and exact rerank ([[serveIvfPqIndexed]], the path every query
    * runs) — so the floor it meets is end-to-end. A coarse-only sizer
    * scores candidates with exact cosine, so its floor is only the PQ
    * tier's ceiling. Trains nothing and re-encodes nothing: it sizes
    * the query knobs of a prebuilt index. The terminal rung's
    * shortlist is |index| ids per sample anchor, the one place the
    * walk's cost is corpus-sized, and only a floor unreachable below
    * it gets there. */
  def sizeIvfPqForRecall(index: DataFrame, vectors: DataFrame,
      anchorPred: Column, k: Int, floor: Double,
      artifacts: TwoLevelIvfPqArtifacts, nprobe0: Int = 4,
      rerank0: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxAnchors: Int = 64): PqOperatingPoint =
    sizePqChain(index, vectors, anchorPred, k, floor,
      (artifacts.coarse.nlist, artifacts.coarse.supers.length), nprobe0,
      rerank0, idCol, vecCol, maxAnchors, "sizeIvfPqForRecall") {
      (pred, p, np, r) => serveIvfPqIndexed(index, vectors, pred, k,
        artifacts, np, r, idCol, vecCol, p)
    }

  /** The PQ sizers' shared body: `shape` is the index's (nlist,
    * supers), read after the argument checks; `probe(samplePred, p,
    * nprobe, rerank)` serves the sample anchors at one rung. */
  private def sizePqChain(index: DataFrame, vectors: DataFrame,
      anchorPred: Column, k: Int, floor: Double, shape: => (Int, Int),
      nprobe0: Int, rerank0: Int, idCol: String, vecCol: String,
      maxAnchors: Int, site: String)(
      probe: (Column, Int, Int, Int) => DataFrame): PqOperatingPoint = {
    RecallWalk.checkFloor(floor)
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val sample = RecallWalk.anchorSample(feat, anchorPred, maxAnchors, k,
      site)
    val (nlist, supers) = shape
    val n = index.count()
    val maxRerank = math.max(rerank0,
      math.min(n, Int.MaxValue.toLong).toInt)
    val ladder = pqRecallLadder(nlist, supers,
      math.min(math.max(1, nprobe0), nlist), rerank0, maxRerank)
    val c = RecallWalk.climb(site, ladder, floor) { case (p, np, r) =>
      meanRecall(probe(sample.pred, p, np, r), sample.exact)
    }
    val walk = c.trail.map { case ((p, np, r), rec) =>
      PqRecallRung(p, np, r, rec) }
    PqOperatingPoint(walk.last.probeSupers, walk.last.nprobe,
      walk.last.rerank, walk.last.recall, c.floorMet, walk)
  }

  /** (nlist, populated supers) of a relational coarse structure. */
  private def relationalShape(coarse: RelationalCoarse): (Int, Int) = {
    val nlistL = coarse.childRel.count()
    require(nlistL >= 1 && nlistL <= Int.MaxValue,
      s"child relation must hold 1..Int.MaxValue cells; got $nlistL")
    (nlistL.toInt, populatedOf(coarse.childRel).length)
  }

  /** Recall-targeted sizing for the RELATIONAL (third) tier: the
    * [[sizeTwoLevelForRecall]] walk with the relational probe
    * ([[ivfCosineTopKRelationalIndexed]]) as its instrument — nothing
    * here holds the children; the corpus assignment store `assigned`
    * (id, vec, cell) and the trained [[RelationalCoarse]] are probed
    * per rung. */
  def sizeRelationalForRecall(assigned: DataFrame, anchorPred: Column,
      k: Int, floor: Double, coarse: RelationalCoarse,
      nprobe0: Int = 4, maxAnchors: Int = 64): AnnOperatingPoint = {
    RecallWalk.checkFloor(floor)
    val feat = assigned.select(col("id").cast("long").as("id"),
      col("vec"))
    val sample = RecallWalk.anchorSample(feat, anchorPred, maxAnchors, k,
      "sizeRelationalForRecall")
    val (nlist, pop) = relationalShape(coarse)
    val ladder = recallLadder(nlist, pop,
      math.min(math.max(1, nprobe0), nlist))
    annPoint(RecallWalk.climb("sizeRelationalForRecall", ladder, floor) {
      case (p, np) => meanRecall(ivfCosineTopKRelationalIndexed(assigned,
        sample.pred, k, coarse, np, p), sample.exact)
    })
  }

  /** Exact top-k cosine neighbors of each anchor. Anchors must be
    * small enough to broadcast (the reference's anchor batches are
    * ~200 rows); the scan over `vectors` is embarrassingly parallel
    * and the per-anchor ranking is a bounded top-k aggregate.
    */
  def cosineTopK(vectors: DataFrame, anchors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(scored(vectors, anchors, idCol, vecCol), k)

  /** All near-duplicate pairs with cosine ≥ threshold, anchors
    * broadcast. Symmetry dedup: an anchor–anchor pair is reported
    * once with anchor_id < neighbor_id; an anchor–non-anchor pair is
    * reported regardless of id order (the non-anchor side never gets
    * its own anchor row, so ordering would silently LOSE the pair for
    * any anchor set that is not an id-prefix — e.g. anchorPred
    * selecting only id 10 must still surface its near-dup id 5). The
    * anchor-id marker join broadcasts the same small set the scoring
    * join already broadcasts. For all-pairs dedup at scale use
    * `lshCosineTopK` buckets or MinHash on content first.
    */
  def cosinePairs(vectors: DataFrame, anchorPred: Column, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val anchors = vectors.filter(anchorPred)
    val anchorIds = anchors.select(col(idCol).as("__n_anchor_id"))
    scored(vectors, anchors, idCol, vecCol)
      .join(broadcast(anchorIds),
        col("neighbor_id") === col("__n_anchor_id"), "left")
      .filter(col("score") >= threshold &&
        (col("anchor_id") < col("neighbor_id") || col("__n_anchor_id").isNull))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
  }

  /** Sign-bit signature of a vector for table t: numPlanes bits.
    * Native fused-loop expression (xxhash64-derived pseudo-random
    * planes, no RNG state — reproducible across runs/engines);
    * byte-identical to the interpreted `aggregate(zip_with(...))`
    * fold it replaced (pinned by SimilaritySpec), but codegen'd and
    * allocation-free — the round-1 HOF form paid numPlanes × dim
    * interpreted lambda calls per row. */
  private def lshKey(vec: Column, t: Int, numPlanes: Int): Column =
    org.apache.spark.sql.graft.SignatureExpressions
      .randomHyperplaneSignature(vec, numPlanes, t)

  /** LSH-bucketed approximate top-k: `numTables` independent
    * random-hyperplane signatures; candidates = pairs sharing a
    * bucket in any table; exact cosine rerank of candidates.
    * Recall rises with tables, cost with 2^-numPlanes bucket size.
    * This is the scale path: both sides shuffle on (table, bucket) —
    * at 1000 executors the band join stays co-partitioned end-to-end.
    * ID-ONLY banding (the [[cosineNearDupPairs]] discipline): the
    * band join and the candidate dedup exchange carry (id, table,
    * bucket) longs only — numTables full-embedding copies of the
    * corpus would otherwise cross the shuffle — and vectors join back
    * from the cached (id, vec) base exactly once per candidate end.
    * `anchorPred` is evaluated over the cached (id, vec) base — id
    * AND vector predicates both work (the round-7 id-only banding
    * had narrowed this to band columns; restored per ADVICE r7 via a
    * broadcast semi-join of the anchor ids, which the top-k use case
    * sizes small by contract).
    *
    * TIER CHOICE (measured, round 12 — AnnRecallSpec / SCALE.md):
    * random-hyperplane LSH recall on a near-UNIFORM corpus is NOT
    * boundable at useful levels (recall@10 ≈ 0.07–0.11 at the gate
    * knobs, 1×/10×) — random planes cut uniform mass evenly, so
    * bucket collision ≈ random. This tier is for CLUSTERED/near-dup
    * data, where planted duplicates collide with prob ≈ 1; a caller
    * needing bulk recall on spread data takes [[ivfCosineTopK]] (or
    * the two-level/auto doors) and buys recall with nprobe — the
    * swept fraction IS the recall knob there. [[requireRecall]] turns
    * either choice into a tested floor.
    */
  def lshCosineTopK(vectors: DataFrame, anchorPred: Column, k: Int,
      numPlanes: Int = 8, numTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = graft.CacheScope.track(
      vectors.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val keyed = base.select(col("id"),
      posexplode(array((0 until numTables).map(t =>
        lshKey(col("vec"), t, numPlanes)): _*)).as(Seq("table", "bucket")))
    val anchorIds = base.filter(anchorPred).select(col("id").as("anchor_id"))
    val anchorProbe = vectors
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        lit(1).as("__cache_dodge"))
      .filter(anchorPred)
    val anchorBands = keyed
      .join(boundedBroadcast(anchorIds, anchorProbe),
        col("id") === col("anchor_id"))
      .select(col("anchor_id"), col("table"), col("bucket"))
    val candIds = keyed.join(anchorBands,
        Seq("table", "bucket")).filter(col("anchor_id") =!= col("id"))
      .select(col("anchor_id"), col("id").as("neighbor_id"))
      .distinct()
    val cands = candIds
      .join(base.select(col("id").as("anchor_id"), col("vec").as("a_vec")),
        "anchor_id")
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("n_vec")),
        "neighbor_id")
    rankTopK(
      cands.withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4)),
      k)
  }

  /** ALL-pairs embedding near-dup candidates — the corpus-scale twin
    * of [[cosinePairs]] (which broadcasts a fixed anchor set and is
    * O(anchors·N)): `numTables` random-hyperplane signatures band the
    * corpus, candidates are a SELF equi-join on (table, bucket) —
    * hash-partitioned, never a cross join — and exact cosine verifies
    * each candidate once. The same plan family as MinHash-LSH (q18)
    * and SimHash (q19), for the embedding modality: at 1000 executors
    * the band join stays co-partitioned and the verify cost is
    * |candidates|, not N². Oversized buckets (degenerate embeddings —
    * zero vectors, collapsed models) are culled by `maxBucketSize`
    * via a broadcast anti-join, the standard LSH skew guard.
    *
    * Probabilistic recall: a pair at angle θ shares one table's
    * bucket with prob (1 − θ/π)^numPlanes; tables are independent, so
    * misses decay exponentially in `numTables` (near-identical pairs
    * are found with prob ≈ 1 — spec-pinned against the brute-force
    * baseline on planted duplicates).
    */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
      numPlanes: Int = 8, numTables: Int = 4, maxBucketSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // base (id, vec) persisted via CacheScope: read by the signature
    // scan and by both verify-side joins. keyed (id, table, bucket) is
    // persisted SEPARATELY and vector-free — the oversized aggregate,
    // the anti-join input and BOTH self-join sides read an all-longs
    // relation, and the candidate distinct exchanges (id, id) pairs
    // only; vectors join back from `base` once per verified candidate
    // (the minhashLshPairs shape). Carrying vecs through the banded
    // self-join shuffled up to numTables copies of two full embeddings
    // per candidate — at 1024-dim that is shuffling the corpus.
    val base = graft.CacheScope.track(
      Par.ensureWide(vectors)
        .select(col(idCol).as("id"), col(vecCol).as("vec")))
    val keyed = graft.CacheScope.track(
      base.select(col("id"),
        posexplode(array((0 until numTables).map(t =>
          lshKey(col("vec"), t, numPlanes)): _*)).as(Seq("table", "bucket"))))
    graft.operators.Lsh.bandedCandidatePairs(keyed, Seq("table", "bucket"),
        maxBucketSize)
      .join(base.select(col("id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(base.select(col("id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .withColumn("score", round(fastCosine(col("a_vec"), col("b_vec")), 4))
      .filter(col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  /** RHP cosine near-dup with ENGINE-PORTABLE arithmetic — the
    * q69/q70 companion completing the LSH-family trilogy. Hyperplane
    * component (t, p, d) is the CENTERED md5-60 hash of "t:p:d"
    * (signed ~±2⁵⁹ long, cast to double — both engines' long→double
    * is the same IEEE rounding), per-dimension products are rounded
    * then summed in EXACT DECIMAL (order-free, so the map-side
    * partial aggregation cannot flip a sign bit), the bucket is the
    * sign-bit integer, and the verify cosine uses the same
    * rounded-product decimal dot/norms — every stage integer- or
    * decimal-deterministic, so signatures, banding, cull, candidates
    * AND scores hash-match a SQL engine (q71 full oracle). The
    * native [[cosineNearDupPairs]] (fused signature expression, q42)
    * stays the scale path; it differs only in hash family and float
    * summation. Shape: the (vec, table, plane, dim) product stream
    * is generated by a broadcast join against the 48-row plane
    * relation and collapses map-side to one row per (vec, table,
    * plane) — nothing vector-sized shuffles.
    */
  def cosineNearDupPairsPortable(vectors: DataFrame, threshold: Double,
      numPlanes: Int = 8, numTables: Int = 4, maxBucketSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{RhpExpressions, RhpKernels}
    require(numPlanes <= 30, "bucket is an int of numPlanes sign bits")
    // Round-7 rework: the round-5 relational formulation (64×-row
    // posexplode product stream → broadcast plane join → conditional
    // DECIMAL plane sums → two (id, dim) sort-merge verify joins)
    // spent 9.5 s at sf0.1 on plumbing for arithmetic that is
    // per-row. The fused RhpDecimalBuckets / DecimalScaledDot kernels
    // compute the IDENTICAL scaled-integer values (same roundings,
    // same decimal casts, loud on overflow — see RhpKernels) inside
    // whole-stage codegen, so the q71 oracle SQL is untouched and the
    // hash gate proves value identity. The corpus never inflates 64×
    // and nothing vector-shaped shuffles: signatures are a zero-
    // shuffle projection, verification joins two array columns back
    // by id (AQE broadcasts the side that fits).
    // dimension probe tolerant of empty / all-null inputs: an
    // upstream filter that matched nothing must yield an empty pair
    // relation like every sibling operator, not a head() crash
    val dimRow = vectors.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty)
      return vectors.select(col(idCol).as("a_id"), col(idCol).as("b_id"),
        lit(0.0).as("score")).where(lit(false))
    val vecDim = dimRow(0).getInt(0)
    // driver-computed centered md5-60 plane matrix (3k digests) —
    // value-identical to the round-5 range+md5 broadcast relation
    val planes = RhpKernels.planeMatrix(numTables, numPlanes, vecDim)
    // (id, vec, n2) is consumed by banding AND both verify sides —
    // cached once; n2 lives HERE so the exact norm fold runs once per
    // vector, not once per candidate pair; ensureWide so the folds
    // use the whole box
    val base = graft.CacheScope.track(Par.ensureWide(vectors)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
    // cached too: the signature fold is the CPU cost of this operator
    // (numPlanes·numTables·dim exact decimal terms per row) and the
    // cull + both self-join sides consume it — uncached, it ran three
    // times and cost MORE than the round-5 relational plan
    val keyed = graft.CacheScope.track(base.select(col("id"),
      posexplode(RhpExpressions.rhpDecimalBuckets(col("vec"), planes,
        numPlanes)).as(Seq("t", "bucket"))))
    val cands = graft.operators.Lsh.bandedCandidatePairs(keyed,
      Seq("t", "bucket"), maxBucketSize)
    // verify: one exact per-pair dot (decimalDot ≡ the decimal
    // Σ round(xa·xb, 12) the round-5 aggregation produced); norms ride
    // in from the cache
    cands
      .join(base.select(col("id").as("a_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2")), "a_id")
      .join(base.select(col("id").as("b_id"), col("vec").as("b_vec"),
        col("n2").as("b_n2")), "b_id")
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("a_vec"), col("b_vec")) /
          (sqrt(col("a_n2")) * sqrt(col("b_n2"))), 6))
      .filter(col("score") >= threshold)
      .select(col("a_id"), col("b_id"), col("score"))
  }

  /** LSH top-k with ENGINE-PORTABLE arithmetic — the anchored
    * (top-k) sibling of [[cosineNearDupPairsPortable]], closing the
    * last native-only similarity path: q23's native `lshCosineTopK`
    * is rows-only forever (xxhash64 planes exist in no other engine),
    * while this variant's md5-60 plane matrix, decimal bucket sums,
    * and decimal verify cosines are all re-derivable in SQL, so the
    * ENTIRE candidate set AND the ranked scores hash-match a DuckDB
    * oracle (gate q74). Same shape as the native path: id-only
    * banding, oversized-bucket cull, vectors join back from the
    * cached base, bounded TopKByScore rank (row-identical to the
    * window formulation — the tie rule is (score DESC, id ASC) in
    * both engines). `anchorPred` sees the cached (id, vec) base —
    * the [[lshCosineTopK]] contract; anchor bands still come from
    * the CULLED relation, so an anchor's oversized buckets stay
    * excluded exactly as before.
    */
  def lshCosineTopKPortable(vectors: DataFrame, anchorPred: Column, k: Int,
      numPlanes: Int = 8, numTables: Int = 4, maxBucketSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // rerankTopKExact re-derives the (id, vec, n2) base the candidate
    // tier also builds — IDENTICAL plan, so Spark's CacheManager
    // dedupes the persist (one materialization, one storage copy; the
    // "already cached" warning is that dedup working); measured: the
    // composed q74 path times at the pre-split number (1.5 s quiet
    // at sf0.1, round 11)
    rerankTopKExact(
      lshCandidatesPortable(vectors, anchorPred, numPlanes, numTables,
        maxBucketSize, idCol, vecCol),
      vectors, k, budget = 0, idCol, vecCol)

  /** The PORTABLE LSH RECALL TIER as a composable surface (round 11
    * stretch — the reference's plan is recall → rerank,
    * `Docs/SIMILARITY-PLAN.md:55-75`, and every tier should compose):
    * the md5-60 banded candidate relation (anchor_id, neighbor_id) of
    * [[lshCosineTopKPortable]], un-scored — feed it (or any other
    * recall tier's candidates) to [[rerankTopKExact]]. Same
    * mechanics as always: id-only banding, oversized-bucket cull,
    * bounded anchor broadcast, distinct id pairs. */
  def lshCandidatesPortable(vectors: DataFrame, anchorPred: Column,
      numPlanes: Int = 8, numTables: Int = 4, maxBucketSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{RhpExpressions, RhpKernels}
    require(numPlanes <= 30, "bucket is an int of numPlanes sign bits")
    val dimRow = vectors.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty)
      return vectors.select(col(idCol).as("anchor_id"),
        col(idCol).as("neighbor_id")).where(lit(false))
    val planes = RhpKernels.planeMatrix(numTables, numPlanes,
      dimRow(0).getInt(0))
    val base = graft.CacheScope.track(Par.ensureWide(vectors)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
    val keyed = graft.CacheScope.track(base.select(col("id"),
      posexplode(RhpExpressions.rhpDecimalBuckets(col("vec"), planes,
        numPlanes)).as(Seq("t", "bucket"))))
    val oversized = keyed.groupBy(col("t"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .select(col("t"), col("bucket"))
    val sized = keyed.join(broadcast(oversized), Seq("t", "bucket"), "left_anti")
    val anchorIds = base.filter(anchorPred).select(col("id").as("anchor_id"))
    val anchorProbe = vectors
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"),
        lit(1).as("__cache_dodge"))
      .filter(anchorPred)
    val anchorBands = sized
      .join(boundedBroadcast(anchorIds, anchorProbe),
        col("id") === col("anchor_id"))
      .select(col("anchor_id"), col("t"), col("bucket"))
    sized.join(anchorBands, Seq("t", "bucket"))
      .filter(col("anchor_id") =!= col("id"))
      .select(col("anchor_id"), col("id").as("neighbor_id"))
      .distinct()
  }

  /** BUDGETED EXACT RERANK over ANY recall tier's candidates — the
    * final tier of the recall → rerank plan as its own operator
    * (q95): `candidates` is any (anchor_id, neighbor_id) relation
    * (the portable LSH tier above, an IVF probe, banded hamming
    * survivors…); at most `budget` candidates per anchor are scored
    * (0 = un-budgeted). The budget take is by NEIGHBOR ID ASC —
    * deterministic and oracle-able; a score-ordered cap would re-pay
    * the exact scoring cost the budget exists to bound — and runs as
    * the bounded TopKByScore aggregate with a constant score (the
    * (score DESC, id ASC) tie rule IS id-ascending take — partial
    * aggregation, no per-anchor sort). Scoring is the exact decimal
    * cosine rounded to 6 (the q74 rule), ranking the shared bounded
    * top-k. [[lshCosineTopKPortable]] IS this operator at budget 0
    * over [[lshCandidatesPortable]] — one scoring site, so the q74
    * and q95 oracles pin the same arithmetic. */
  def rerankTopKExact(candidates: DataFrame, vectors: DataFrame,
      k: Int, budget: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    require(k >= 1, s"k must be >= 1; got $k")
    require(budget == 0 || budget >= k,
      s"budget=$budget must be 0 (off) or >= k=$k")
    val base = graft.CacheScope.track(Par.ensureWide(vectors)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
    val capped =
      if (budget <= 0) candidates
      else candidates.groupBy(col("anchor_id"))
        .agg(topKByScore(lit(0.0), col("neighbor_id"), budget).as("c"))
        .select(col("anchor_id"), explode(col("c.id")).as("neighbor_id"))
    val scored = capped
      .join(base.select(col("id").as("anchor_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2")), "anchor_id")
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("n_vec"),
        col("n2").as("b_n2")), "neighbor_id")
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("a_vec"), col("n_vec")) /
          (sqrt(col("a_n2")) * sqrt(col("b_n2"))), 6))
    rankTopK(scored, k)
  }

  /** AUTO-STRUCTURE front door for the native IVF tier (round 12 —
    * VERDICT r11 item 4, the [[Dedup.semanticDedupAuto]] precedent
    * at the ANN site): nlist sized to the corpus
    * ([[KMeansPortable.autoNlist]]), structure dispatched at the
    * measured crossover — [[ivfCosineTopK]]'s flat argmin at nlist ≤
    * [[KMeansPortable.FlatAutoMaxNlist]], [[ivfCosineTopKTwoLevel]]
    * past it. `probeSupers` applies on the two-level side (the flat
    * probe already ranks all cells — at least any p's recall); the
    * default -1 resolves it by the measured pool rule
    * ([[KMeansPortable.autoProbeSupers]] at the S the dispatched
    * trainer will build — p ≥ nprobe·S/nlist, so the door cannot
    * silently cap its own recall when a caller holds the swept
    * fraction by scaling nprobe with nlist; at small nprobe the rule
    * IS p = 1). Pass `n` when already counted; -1 counts here.
    * Boundary, parity and the default-p resolution spec-pinned
    * (SimilaritySpec).
    *
    * COST NOTE (ADVICE r12): the -1 default multiplies the two-level
    * candidate-RANKING cost by the resolved p at large nprobe — the
    * price of not silently capping recall. Callers who want the old
    * p = 1 cost profile pass `probeSupers = 1` explicitly and accept
    * the measured recall cap (SCALE.md round-12 table).
    *
    * `recallFloor > 0` switches the door from policy-sized to
    * RECALL-sized: [[sizeTwoLevelForRecall]] climbs [[recallLadder]]
    * under the [[RecallWalk]] rule on at most `recallAnchors` anchors,
    * and the door runs the found (probeSupers, nprobe) instead of the
    * caller's (a hint past nlist is clamped). Costs one extra coarse
    * training pass plus one sample probe per rung.
    *
    * WHICH REGIME BELONGS TO WHICH STRUCTURE (measured, ScaleProbe
    * `recallwalk`, SCALE.md round 13): the p-phase saturates AT p = S
    * (p = S is the flat probe over the same children — 0.76 at 100×
    * held fraction), so past the pool rule the two-level/flat recall
    * gap is CELL QUALITY, not probe width. On the same instrument the
    * gap is −0.04 to −0.08 recall at equal sweep — at most ONE ×2
    * nprobe rung (flat's 0.8-threshold sits at ~0.2 sweep at 100×,
    * two-level's inside (0.2, 0.4]; both walks choose 0.4 at the
    * ladder's granularity). Deployments needing flat-level recall at
    * minimum sweep pick the flat structure (and pay its O(N·nlist)
    * assignment or the clamp); deployments buying the 7–8× two-level
    * speedup state a floor here and pay the walk's found sweep.
    *
    * THIRD TIER (round 14): past `relationalPastNlist` (default the
    * broadcast clamp) the door no longer clamps the cell-population
    * contract — it trains the children as a RELATION
    * ([[trainThreeLevel]]), assigns through the fused cogroup, and
    * serves from the child store ([[ivfCosineTopKRelationalIndexed]]);
    * `recallFloor` walks the same ladder on the relational
    * instrument ([[sizeRelationalForRecall]]). The PQ door
    * ([[ivfPqTopKAuto]]) carries the same tier over
    * [[RelationalIvfPqArtifacts]].
    */
  def ivfCosineTopKAuto(vectors: DataFrame, anchorPred: Column, k: Int,
      nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0,
      targetCellSize: Int = KMeansPortable.DefaultTargetCellSize,
      probeSupers: Int = -1, n: Long = -1L,
      recallFloor: Double = 0.0, recallAnchors: Int = 64,
      relationalPastNlist: Int = KMeansPortable.MaxAutoNlistTwoLevel): DataFrame = {
    val n0 = if (n >= 0) n else vectors.count()
    val unclamped = KMeansPortable.autoNlistUnclamped(n0, targetCellSize)
    if (unclamped > relationalPastNlist) {
      // THIRD TIER (round 14 — the trainThreeLevel dispatch): past
      // the broadcast clamp the cell-population contract (nlist =
      // ⌈n/target⌉) would silently stop holding — the round-12
      // ceiling — so the door now trains the children AS A RELATION,
      // assigns the corpus through the fused cogroup, and probes
      // from the child store. `relationalPastNlist` defaults to the
      // clamp; deployments preferring the relational structure
      // earlier (driver memory pressure) lower it, and specs pin the
      // tier's parity at gate scale through it. recallFloor walks
      // the same ladder on the relational instrument
      // (sizeRelationalForRecall) — no tier refuses the floor.
      require(unclamped <= Int.MaxValue,
        s"auto nlist $unclamped exceeds Int cells — lower the sizing " +
          s"target (targetCellSize=$targetCellSize)")
      val nl = unclamped.toInt
      val rel = trainThreeLevel(vectors, nl, vecCol, seed,
        trainFraction, idCol = idCol)
      val assigned = graft.CacheScope.track(
        assignCellsViaRelationFusedKeepVec(vectors, rel.supers,
          rel.childRel, idCol, vecCol))
      val npc = math.min(math.max(1, nprobe), nl)
      if (recallFloor > 0) {
        val pt = sizeRelationalForRecall(assigned, anchorPred, k,
          recallFloor, rel, npc, recallAnchors)
        ivfCosineTopKRelationalIndexed(assigned, anchorPred, k, rel,
          pt.nprobe, pt.probeSupers)
      } else {
        val p = if (probeSupers > 0) probeSupers
          else KMeansPortable.autoProbeSupers(npc, nl, rel.supers.length)
        ivfCosineTopKRelationalIndexed(assigned, anchorPred, k, rel,
          npc, p)
      }
    } else {
    val nlist = KMeansPortable.autoNlist(n0, targetCellSize)
    if (nlist <= KMeansPortable.FlatAutoMaxNlist) {
      // recallFloor on the FLAT side walks nprobe only (the flat
      // probe already ranks all cells): sizing at supers = 1 trains
      // the identical quantizer (the trainTwoLevelCoarse parity
      // contract), so the found nprobe transfers exactly
      val np =
        if (recallFloor > 0)
          sizeTwoLevelForRecall(vectors, anchorPred, k, recallFloor,
            math.max(2, nlist), nprobe, idCol, vecCol, seed,
            trainFraction, supers = 1, recallAnchors).nprobe
        else nprobe
      // ML KMeans requires k >= 2 (the semanticDedup convention)
      ivfCosineTopK(vectors, anchorPred, k, math.max(2, nlist), np,
        idCol, vecCol, seed, trainFraction)
    } else {
      val (p, np) =
        if (recallFloor > 0) {
          val pt = sizeTwoLevelForRecall(vectors, anchorPred, k,
            recallFloor, nlist, nprobe, idCol, vecCol, seed,
            trainFraction, supers = 0, recallAnchors)
          (pt.probeSupers, pt.nprobe)
        } else (resolveProbeSupers(probeSupers, nprobe, nlist), nprobe)
      ivfCosineTopKTwoLevel(vectors, anchorPred, k, nlist, np,
        idCol, vecCol, seed, trainFraction, probeSupers = p)
    }
    }
  }

  /** The auto doors' `probeSupers = -1` resolution: the measured pool
    * rule [[KMeansPortable.autoProbeSupers]] at the ⌈√nlist⌉ supers
    * the dispatched two-level trainer builds ([[KMeansPortable
    * .defaultSupers]] — the same ONE site). Explicit p passes
    * through. */
  private def resolveProbeSupers(probeSupers: Int, nprobe: Int,
      nlist: Int): Int =
    if (probeSupers > 0) probeSupers
    else KMeansPortable.autoProbeSupers(nprobe, nlist,
      KMeansPortable.defaultSupers(nlist))

  /** IVF-flat approximate top-k — the second scale path beside LSH:
    * a coarse k-means quantizer (Spark ML, fixed seed) partitions the
    * corpus into `nlist` cells; each anchor probes its `nprobe`
    * nearest cells and exact-reranks only those candidates. At scale
    * the candidate join is a hash-partitioned equi-join on the cell
    * id (vectors cluster by content, so cells ARE the partitioning),
    * centroids broadcast (nlist ≪ N), and both rankings use the
    * bounded [[org.apache.spark.sql.graft.TopKByScore]] aggregate.
    * `nprobe = nlist` degenerates to exact search (spec-pinned
    * against [[cosineTopK]]); recall/cost scales with nprobe/nlist
    * exactly like the reference's IVF sizing discussion
    * (SIMILARITY-PLAN.md recall stage). `anchorPred` is evaluated
    * against the renamed `id` column (as in [[lshCosineTopK]]).
    */
  def ivfCosineTopK(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val spark = vectors.sparkSession
    val feat = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    // at corpus scale the quantizer trains on a sample — centroids
    // need distribution shape, not every vector (assignment below
    // still covers the full corpus)
    val trainSet =
      if (trainFraction >= 1.0) feat else feat.sample(trainFraction, seed)
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").fit(trainSet)
    val assigned = model.transform(feat)
      .select(col("id"), col("vec"), col("prediction").as("cell"))
    val centDf = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray) }).toDF("cell", "cvec")
    val anchors = assigned.filter(anchorPred)
      .select(col("id").as("anchor_id"), col("vec").as("a_vec"))
    // nprobe nearest cells per anchor: centroid table broadcast
    val probeCells = anchors.crossJoin(broadcast(centDf))
      .withColumn("cs", fastCosine(col("a_vec"), col("cvec")))
      .groupBy(col("anchor_id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("anchor_id"), explode(col("pc.id")).as("cell"))
    val cands = probeCells.join(anchors, "anchor_id")
      .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("n_vec")), "cell")
      .filter(col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    rankTopK(cands, k)
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split
    * dim into `m` subspaces, k-means each subspace to `ksub`
    * centroids. Codebooks are m·ksub·(dim/m) doubles — driver-sized
    * by construction, broadcast for encoding. Training runs one
    * Spark ML KMeans per subspace over (optionally sampled) slices —
    * m small jobs, each over an (n × dim/m) projection. */
  def pqCodebooks(vectors: DataFrame, m: Int, ksub: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dv = vectors.select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    // loud, pointed failure on an empty/all-null training set —
    // KMeans would otherwise die deep inside ML with an opaque error
    val dimRow = dv.select(size(col("v"))).limit(1).collect()
    require(dimRow.nonEmpty,
      "pqCodebooks: cannot train on an empty or all-null vector set")
    val dim = dimRow(0).getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sampled =
      if (trainFraction >= 1.0) dv else dv.sample(trainFraction, seed)
    (0 until m).map { j =>
      val sliceDf = sampled.select(
        array_to_vector(slice(col("v"), j * dsub + 1, dsub)).as("features"))
      new KMeans().setK(ksub).setSeed(seed + j).setFeaturesCol("features")
        .fit(sliceDf).clusterCenters.map(_.toArray)
    }.toArray
  }

  /** PQ-encode every vector: (id, code ARRAY<INT> of length m) —
    * nearest codebook centroid per subspace by L2. The 100 TB point:
    * the encoded corpus is m·log2(ksub) bits per vector (m=8,
    * ksub=256 → 8 bytes vs 256 for a 64-dim float vector), so the
    * candidate-scoring working set fits in memory where raw vectors
    * cannot. Zero shuffles; codebooks broadcast. */
  /** Encode one vector against PQ codebooks: nearest centroid per
    * subspace by L2, ties to the lowest index. */
  private def pqEncodeVec(v: Array[Double],
      cb: Array[Array[Array[Double]]]): Array[Int] = {
    val m = cb.length
    val dsub = v.length / m
    val code = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb(j).length) {
        var d = 0.0; var t = 0
        while (t < dsub) {
          val diff = v(j * dsub + t) - cb(j)(c)(t); d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(j) = best
      j += 1
    }
    code
  }

  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebooks)
    vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, pqEncodeVec(v, cbB.value)) }
      .toDF("id", "code")
  }

  /** ADC scoring of (nid, code, anchor_id, a_vec) candidate rows:
    * inner-product lookup tables memoized per anchor within each
    * partition; m table lookups per candidate, never touching the raw
    * corpus vectors. */
  private def adcScores(cands: DataFrame,
      cbB: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("nid"), col("code"), col("anchor_id"), col("a_vec"))
      .as[(Long, Array[Int], Long, Array[Double])]
      .mapPartitions { it =>
        val cb = cbB.value
        val mm = cb.length
        val tables = scala.collection.mutable.Map.empty[Long, Array[Array[Double]]]
        it.map { case (nid, code, aid, avec) =>
          val tab = tables.getOrElseUpdate(aid, adcTable(avec, cb))
          var s = 0.0; var j = 0
          while (j < mm) { s += tab(j)(code(j)); j += 1 }
          (aid, nid, s)
        }
      }.toDF("anchor_id", "neighbor_id", "approx")
  }

  /** Per-anchor inner-product lookup table: dot of each anchor
    * subspace slice with each codebook centroid. */
  private def adcTable(avec: Array[Double],
      cb: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val mm = cb.length
    val dsub = avec.length / mm
    Array.tabulate(mm, cb(0).length) { (j, c) =>
      var s = 0.0; var t = 0
      while (t < dsub) { s += avec(j * dsub + t) * cb(j)(c)(t); t += 1 }
      s
    }
  }

  /** Residual-variant ADC: candidate rows additionally carry the
    * coarse `cell`, and approx dot(a, v) = dot(a, c_cell) + Σⱼ
    * tab(j)(code(j)) since code quantizes v − c_cell. Both the
    * lookup table AND the nlist anchor·centroid dots memoize per
    * anchor within the partition. */
  private def adcScoresResidual(cands: DataFrame,
      cbB: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
      centB: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("nid"), col("code"), col("cell"), col("anchor_id"),
        col("a_vec"))
      .as[(Long, Array[Int], Int, Long, Array[Double])]
      .mapPartitions { it =>
        val cb = cbB.value
        val cc = centB.value
        val mm = cb.length
        val memo = scala.collection.mutable
          .Map.empty[Long, (Array[Array[Double]], Array[Double])]
        it.map { case (nid, code, cell, aid, avec) =>
          val (tab, cdots) = memo.getOrElseUpdate(aid, {
            val cd = cc.map { c =>
              var s = 0.0; var t = 0
              while (t < avec.length) { s += avec(t) * c(t); t += 1 }
              s
            }
            (adcTable(avec, cb), cd)
          })
          var s = cdots(cell); var j = 0
          while (j < mm) { s += tab(j)(code(j)); j += 1 }
          (aid, nid, s)
        }
      }.toDF("anchor_id", "neighbor_id", "approx")
  }

  /** Shortlist by approximate score, re-score exactly, bounded top-k. */
  private def rerankTopK(approx: DataFrame, anchors: DataFrame,
      vectors: DataFrame, k: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val shortlist = approx.groupBy(col("anchor_id"))
      .agg(topKByScore(col("approx"), col("neighbor_id"), rerank).as("cand"))
      .select(col("anchor_id"), explode(col("cand.id")).as("neighbor_id"))
    val rescored = shortlist
      .join(anchors.select(col("id").as("anchor_id"), col("v").as("a_vec")),
        "anchor_id")
      .join(vectors.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("n_vec")), "neighbor_id")
      .withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    rankTopK(rescored, k)
  }

  /** PQ top-k by asymmetric distance computation over the WHOLE
    * encoded corpus: anchors broadcast, candidate scores are m table
    * lookups per encoded vector, the `rerank` best per anchor
    * re-score exactly, and the final top-k comes from the bounded
    * TopKByScore aggregate. Approximate by design — recall is
    * spec-measured against [[cosineTopK]]; the precision/memory dial
    * is (m, ksub, rerank). */
  def pqCosineTopK(vectors: DataFrame, anchorPred: Column, k: Int,
      m: Int = 8, ksub: Int = 16, rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0): DataFrame = {
    val spark = vectors.sparkSession
    val codebooks = pqCodebooks(vectors, m, ksub, vecCol, seed, trainFraction)
    val cbB = spark.sparkContext.broadcast(codebooks)
    val encoded = pqEncode(vectors, codebooks, idCol, vecCol)
    val anchors = vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(anchorPred)
    val approx = adcScores(
      encoded.toDF("nid", "code")
        .crossJoin(broadcast(anchors.select(col("id").as("anchor_id"),
          col("v").as("a_vec"))))
        .filter(col("anchor_id") =!= col("nid")), cbB)
    rerankTopK(approx, anchors, vectors, k, rerank, idCol, vecCol)
  }

  /** Pre-trained IVF-PQ index artifacts — what a deployment builds
    * OFFLINE (one training job over a corpus sample) and ships to
    * every query job: PQ codebooks (m × ksub × dim/m) and
    * coarse-quantizer centroids (nlist × dim). Driver-sized by
    * construction (m·ksub·dim + nlist·dim doubles), broadcast at
    * query time. Reference analog: the chunk store + pgvector index
    * built once and served many times (Docs/SIMILARITY-PLAN.md:9-30).
    */
  case class IvfPqArtifacts(codebooks: Array[Array[Array[Double]]],
      coarseCentroids: Array[Array[Double]],
      residual: Boolean = false) {
    require(codebooks.nonEmpty && coarseCentroids.nonEmpty)
    val m: Int = codebooks.length
    val ksub: Int = codebooks(0).length
    val dsub: Int = codebooks(0)(0).length
    val nlist: Int = coarseCentroids.length
    val dim: Int = coarseCentroids(0).length
    require(m * dsub == dim,
      s"codebook subspaces (m=$m × dsub=$dsub) must cover dim=$dim")
    require(codebooks.forall(b => b.length == ksub && b.forall(_.length == dsub)))
    require(coarseCentroids.forall(_.length == dim))
  }

  /** Train IVF-PQ artifacts: a coarse k-means quantizer + PQ
    * codebooks per subspace. The offline half of [[ivfPqTopKScore]].
    *
    * `residual = true` trains the codebooks on v − c(v) (each vector
    * minus its coarse centroid) instead of raw vectors — the
    * classical IVFADC refinement (Jégou et al. §IV): residuals
    * concentrate near 0 regardless of which cell a vector lives in,
    * so the same m·log₂(ksub) bits quantize a much smaller support
    * and the ADC approximation sharpens at equal code size. Costs one
    * extra corpus map at train time, nothing at query time. */
  def trainIvfPqArtifacts(vectors: DataFrame, nlist: Int = 16,
      m: Int = 8, ksub: Int = 16, vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0,
      residual: Boolean = false): IvfPqArtifacts = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    import spark.implicits._
    val feat = vectors.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val trainSet =
      if (trainFraction >= 1.0) feat else feat.sample(trainFraction, seed)
    val coarse = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").fit(trainSet)
    val cents = coarse.clusterCenters.map(_.toArray)
    val cbInput =
      if (!residual) vectors
      else {
        val centB = spark.sparkContext.broadcast(cents)
        val allIdx = cents.indices.toArray
        vectors.select(col(vecCol).cast("array<double>").as("v"))
          .as[Array[Double]]
          .map { v =>
            val c = centB.value(routeAmong(v, centB.value, allIdx))
            val r = new Array[Double](v.length)
            var t = 0
            while (t < v.length) { r(t) = v(t) - c(t); t += 1 }
            r
          }.toDF(vecCol)
      }
    val codebooks = pqCodebooks(cbInput, m, ksub, vecCol, seed, trainFraction)
    IvfPqArtifacts(codebooks, cents, residual)
  }

  /** Plain-text artifact serialization (no deps, diffable):
    * `meta m ksub dsub nlist dim [residual]`, then `cb j c v…` per
    * codebook centroid and `cent i v…` per coarse centroid. The
    * 5-field header (pre-residual fixtures) loads as residual=0. */
  def saveArtifacts(a: IvfPqArtifacts, out: java.io.Writer): Unit = {
    val res = if (a.residual) 1 else 0
    out.write(s"meta ${a.m} ${a.ksub} ${a.dsub} ${a.nlist} ${a.dim} $res\n")
    for (j <- 0 until a.m; c <- 0 until a.ksub)
      out.write(s"cb $j $c " +
        a.codebooks(j)(c).map(java.lang.Double.toString).mkString(" ") + "\n")
    for (i <- 0 until a.nlist)
      out.write(s"cent $i " +
        a.coarseCentroids(i).map(java.lang.Double.toString).mkString(" ") + "\n")
  }

  def loadArtifacts(in: java.io.InputStream): IvfPqArtifacts = {
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    val meta = lines.head.split(" ")
    require(meta(0) == "meta" && (meta.length == 6 || meta.length == 7),
      s"bad artifact header: ${lines.head}")
    val Array(m, ksub, dsub, nlist, dim) = meta.slice(1, 6).map(_.toInt)
    val residual = meta.length == 7 && meta(6) == "1"
    val cb = Array.ofDim[Array[Double]](m, ksub)
    val cent = new Array[Array[Double]](nlist)
    lines.tail.foreach { ln =>
      val p = ln.split(" ")
      p(0) match {
        case "cb" =>
          cb(p(1).toInt)(p(2).toInt) = p.drop(3).map(_.toDouble)
        case "cent" => cent(p(1).toInt) = p.drop(2).map(_.toDouble)
        case other => throw new IllegalArgumentException(s"bad line tag $other")
      }
    }
    val a = IvfPqArtifacts(cb.map(_.toArray), cent, residual)
    require(a.dsub == dsub && a.dim == dim, "artifact meta/body mismatch")
    a
  }

  /** The committed fixture trained once on the sf0.01 embeddings table
    * (tools.TrainIvfPqFixture) — the q73 deployment-path gate loads
    * this instead of timing artifact training inside the query. */
  def loadFixtureArtifacts(): IvfPqArtifacts = {
    val in = getClass.getResourceAsStream("/graft/fixtures/ivfpq_artifacts.txt")
    require(in != null, "fixture /graft/fixtures/ivfpq_artifacts.txt missing")
    try loadArtifacts(in) finally in.close()
  }

  /** IVF+PQ QUERY path against pre-trained [[IvfPqArtifacts]] — the
    * deployment shape: artifacts broadcast, cell assignment and PQ
    * encoding are zero-shuffle maps over the corpus, the coarse
    * quantizer restricts each anchor's sweep to its `nprobe` nearest
    * cells (hash-partitioned equi-join on cell id, as in
    * [[ivfCosineTopK]]) and WITHIN those cells candidates score by PQ
    * lookup tables instead of raw vectors (as in [[pqCosineTopK]]) —
    * so the scan cost is nprobe/nlist of the corpus and the scanned
    * payload is m small codes per vector, not the embedding. With
    * `artifacts.residual` the codes quantize v − c_cell and ADC adds
    * the dot(a, c_cell) term back (classical IVFADC); otherwise raw
    * vectors are quantized. At deployment scale the encode+assign
    * products are themselves offline artifacts (a stored encoded
    * corpus); recomputing them here keeps the gate self-contained
    * while the timed cost stays the cheap map side. */
  def ivfPqTopKScore(vectors: DataFrame, anchorPred: Column, k: Int,
      artifacts: IvfPqArtifacts, nprobe: Int = 4, rerank: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val spark = vectors.sparkSession
    import spark.implicits._
    val residual = artifacts.residual
    val cbB = spark.sparkContext.broadcast(artifacts.codebooks)
    val centB = spark.sparkContext.broadcast(artifacts.coarseCentroids)
    val allIdx = artifacts.coarseCentroids.indices.toArray
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // encode + cell-assign FUSED in one zero-shuffle pass (joining two
    // separate maps of the same corpus would be a pointless
    // corpus-sized sort-merge join)
    val encoded = feat.as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cell = routeAmong(v, centB.value, allIdx)
        val enc =
          if (!residual) v
          else {
            val c = centB.value(cell)
            val r = new Array[Double](v.length)
            var t = 0
            while (t < v.length) { r(t) = v(t) - c(t); t += 1 }
            r
          }
        (id, pqEncodeVec(enc, cbB.value), cell)
      }.toDF("nid", "code", "cell")
    val centDf = spark.createDataFrame(
      artifacts.coarseCentroids.zipWithIndex.toSeq
        .map { case (c, i) => (i, c) }).toDF("cell", "cvec")
    val anchors = feat.filter(anchorPred)
    val probeCells = anchors.crossJoin(broadcast(centDf))
      .withColumn("cs", fastCosine(col("v"), col("cvec")))
      .groupBy(col("id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("id").as("anchor_id"), explode(col("pc.id")).as("cell"))
    val cands = probeCells
      .join(anchors.select(col("id").as("anchor_id"), col("v").as("a_vec")),
        "anchor_id")
      .join(encoded, "cell")
      .filter(col("anchor_id") =!= col("nid"))
    val approx =
      if (residual) adcScoresResidual(cands, cbB, centB)
      else adcScores(cands, cbB)
    rerankTopK(approx, anchors, vectors, k, rerank, idCol, vecCol)
  }

  // ---------------------------------------------------------------
  // TWO-LEVEL (hierarchical) coarse quantizer — the native siblings
  // of KMeansPortable.trainTwoLevel/assignCellsTwoLevel (VERDICT r10
  // item 1: the ANN family was the last flat-only site). The flat
  // native assignment is a JVM argmin over ALL nlist centroids per
  // row — O(N·nlist·dim); at the reference's corpus-sized nlist
  // (Docs/SIMILARITY-PLAN.md:55-75) that is the same ∝N·nlist wall
  // the SemDeDup family measured (SCALE.md round 10). Two-level:
  // route to one of S ≈ √nlist supers, then argmin only that super's
  // ~nlist/S children — O(N·2√nlist·dim); the probe becomes an
  // equi-join on the routed super instead of a crossJoin against the
  // full nlist-row centroid relation. supers = 1 degenerates to the
  // flat path exactly (spec-pinned).
  // ---------------------------------------------------------------

  /** Two-level coarse structure: S super-centroids (routing), the
    * global child matrix (the IVF cells), each super's child ids
    * (consecutive, supers in order). Driver-sized: (S + nlist)·dim
    * doubles. */
  case class TwoLevelCoarse(supers: Array[Array[Double]],
      children: Array[Array[Double]], groups: Array[Array[Int]]) {
    require(supers.nonEmpty && children.nonEmpty &&
      groups.length == supers.length)
    val nlist: Int = children.length
    val dim: Int = children(0).length
    require(children.forall(_.length == dim) &&
      supers.forall(_.length == dim))
    /** Super indices that received children — the routing domain
      * ([[groups]] entries may be empty for supers that trained
      * empty; routing targets only populated ones so every routed
      * vector has a child to land in). */
    val populated: Array[Int] = groups.indices.filter(groups(_).nonEmpty).toArray
    require(populated.nonEmpty, "two-level coarse has no populated super")
    /** cell → owning super (the groups inverted) — the probe-side
      * join key derivation, single-sited for both query paths. */
    lazy val superOf: Array[Int] = {
      val arr = new Array[Int](nlist)
      groups.indices.foreach(i => groups(i).foreach(j => arr(j) = i))
      arr
    }
  }

  /** The (cell, cvec, super) probe relation of a two-level coarse
    * structure — ≤ nlist rows, broadcast onto routed anchors by both
    * two-level query paths. */
  private def childCentDf(spark: org.apache.spark.sql.SparkSession,
      coarse: TwoLevelCoarse): DataFrame =
    spark.createDataFrame(
      coarse.children.zipWithIndex.toSeq
        .map { case (c, j) => (j, c, coarse.superOf(j)) })
      .toDF("cell", "cvec", "super")

  /** Train the two-level coarse structure natively (Spark ML KMeans
    * at both levels): Lloyd over S = ⌈√nlist⌉ supers (supers = 0 →
    * auto; supers = 1 skips super training — routing is constant, so
    * the child level trains EXACTLY like the flat quantizer, which is
    * what makes the parity spec possible), route the (sampled)
    * training set, allocate child counts by the shared
    * largest-remainder rule ([[KMeansPortable.allocateChildren]] —
    * one arithmetic for the portable and native trainers), then one
    * ML KMeans per super over its routed members (a ks = 1 super
    * takes the member mean — the k = 1 Lloyd solution ML refuses to
    * fit). S small jobs over disjoint slices: training cost matches
    * the flat trainer's at equal nlist while the ASSIGNMENT drops
    * from O(nlist) to O(2√nlist) per row.
    */
  /** The ML-KMeans super stage shared by [[trainTwoLevelCoarse]] and
    * [[trainThreeLevel]] — ONE site so the two trainers' routing
    * layers are the same fit (the parity anchor). `dv` carries a
    * single `v` array column; s = 1 skips the fit (routing is
    * constant). */
  private def trainSupersML(dv: DataFrame, s: Int, dim: Int,
      seed: Long): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    if (s == 1) Array(Array.fill(dim)(0.0)) // routing is constant
    else new KMeans().setK(s).setSeed(seed)
      .setFeaturesCol("features")
      .fit(dv.select(array_to_vector(col("v")).as("features")))
      .clusterCenters.map(_.toArray)
  }

  def trainTwoLevelCoarse(vectors: DataFrame, nlist: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0, supers: Int = 0): TwoLevelCoarse = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    import spark.implicits._
    require(nlist > 0, s"nlist must be positive; got $nlist")
    val s = if (supers > 0) supers
      else KMeansPortable.defaultSupers(nlist)
    require(s <= nlist, s"supers=$s must not exceed nlist=$nlist")
    val dv = graft.CacheScope.track {
      val raw = vectors.select(col(vecCol).cast("array<double>").as("v"))
        .filter(col("v").isNotNull)
      if (trainFraction >= 1.0) raw else raw.sample(trainFraction, seed)
    }
    val dimRow = dv.select(size(col("v"))).limit(1).collect()
    require(dimRow.nonEmpty,
      "trainTwoLevelCoarse: empty or all-null vector set")
    val dim = dimRow(0).getInt(0)
    val superCents = trainSupersML(dv, s, dim, seed)
    val scB = spark.sparkContext.broadcast(superCents)
    val allIdx = superCents.indices.toArray
    val routed = graft.CacheScope.track(
      dv.as[Array[Double]].map(v => (routeAmong(v, scB.value, allIdx), v))
        .toDF("super", "v"))
    val counts = routed.groupBy(col("super")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ks = KMeansPortable.allocateChildren(counts, s, nlist)
    val groups = Array.fill(s)(scala.collection.mutable.ArrayBuffer[Int]())
    val children = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    (0 until s).foreach { i =>
      val cents: Array[Array[Double]] =
        if (ks(i) == 0) Array.empty
        else if (ks(i) == 1)
          // the k = 1 Lloyd solution is the member mean; ML's k > 1
          // contract forces the closed form (the allocation guarantees
          // a populated super gets >= 1, so this branch is common for
          // small supers)
          Array(routed.filter(col("super") === i)
            .select(posexplode(col("v")).as(Seq("d", "x")))
            .groupBy(col("d")).agg(avg(col("x")).as("c"))
            .orderBy(col("d")).collect().map(_.getDouble(1)))
        else new KMeans().setK(ks(i)).setSeed(seed)
          .setFeaturesCol("features")
          .fit(routed.filter(col("super") === i)
            .select(array_to_vector(col("v")).as("features")))
          .clusterCenters.map(_.toArray)
      cents.foreach { c => groups(i) += children.length; children += c }
    }
    TwoLevelCoarse(superCents, children.toArray, groups.map(_.toArray))
  }

  /** Route `v` to its nearest POPULATED super, then to the nearest
    * child within that super's group (ties to the lowest index at
    * both levels — the [[routeAmong]] rule). Routing targets
    * populated supers only, so both the encode/assign map and the
    * probe's equi-join see the same domain and no vector is ever
    * cell-less. O(S + nlist/S) per row vs the flat O(nlist). */
  private[graft] def nearestChild(v: Array[Double], c: TwoLevelCoarse): Int =
    routeAmong(v, c.children, c.groups(routeAmong(v, c.supers, c.populated)))

  /** The (cell, cvec, super) child relation of a coarse structure as
    * a public DataFrame — the probe relation both two-level query
    * paths broadcast, and the RELATION the past-the-clamp assignment
    * path joins against ([[assignCellsViaRelation]]). Write it
    * bucketed by `super` ([[graft.sources.Sinks.writeBucketed]]) and
    * the assignment join reads the store with zero child-side
    * exchanges. */
  def childRelation(spark: org.apache.spark.sql.SparkSession,
      coarse: TwoLevelCoarse): DataFrame = childCentDf(spark, coarse)

  /** The BROADCAST two-level assignment — the fused route+child-argmin
    * map every two-level path uses inline, exposed so the relation
    * path below has a named parity partner. O(S + nlist/S) per row
    * against driver/broadcast centroid state; state is nlist·dim
    * doubles (128 MB at the [[KMeansPortable.MaxAutoNlistTwoLevel]]
    * clamp — the measured ceiling, SCALE.md round 12). */
  def assignCellsBroadcast(vectors: DataFrame, coarse: TwoLevelCoarse,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(coarse)
    vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, nearestChild(v, cB.value)) }
      .toDF("id", "cell")
  }

  /** THIRD-LEVEL DESIGN, first rung (round 13 — VERDICT r12 item 6,
    * the SCALE.md round-12 ceiling note made concrete): past the
    * 262144 clamp the child-centroid matrix stops fitting as
    * driver/broadcast state (128 MB at dim 64; the next decade is
    * GB), so the children become a RELATION keyed by super and
    * assignment becomes
    *
    *   route (broadcast SUPERS only — S ≈ √nlist, always driver-tiny)
    *   → equi-JOIN on super against the child relation
    *   → bounded per-id argmin (one partial-aggregating min-struct).
    *
    * Candidate fan-out is nlist/S rows per vector — the same
    * arithmetic the broadcast path walks in its fused loop, now as a
    * join the planner can hash-partition; stored bucketed by super
    * the child side joins with ZERO exchanges (plan-asserted,
    * SimilaritySpec). Distances accumulate in index order exactly
    * like [[assignCellsBroadcast]]'s loop, ties to the lowest cell —
    * the two paths are value-identical (parity spec-pinned at small
    * nlist; one measured point past the broadcast-comfort boundary
    * in ScaleProbe `relassign`). Full three-level TRAINING stays out
    * of scope this round — routing/assignment is the half every
    * query and admission path needs first; the training loop reuses
    * this join as its assignment step when it lands.
    */
  /** The native L2 argmin: `v`'s nearest centroid among the `pop`
    * indexes of `sup` (every index, a populated-super set, or a
    * super's child group). Squared distances accumulate in index
    * order and ties go to the first of `pop` (strict <), the lowest
    * index for the ascending sets every caller passes — the Spark ML
    * KMeans assignment rule, so a query path needs artifacts only, no
    * fitted model object. Restricting `pop` to populated supers keeps
    * a vector from routing to a childless super, where it would join
    * zero child rows and vanish. */
  private[graft] def routeAmong(v: Array[Double], sup: Array[Array[Double]],
      pop: Array[Int]): Int = {
    var best = pop(0); var bestD = Double.MaxValue
    var pi = 0
    while (pi < pop.length) {
      val d = sqDist(v, sup(pop(pi)))
      if (d < bestD) { bestD = d; best = pop(pi) }
      pi += 1
    }
    best
  }

  /** The `p` nearest of the `pop` indexes of `sup` to `v`, by
    * (distance, index): the multi-super probe's map-side routing. */
  private def nearestAmong(v: Array[Double], sup: Array[Array[Double]],
      pop: Array[Int], p: Int): Array[Int] =
    pop.map(i => (sqDist(v, sup(i)), i)).sorted.take(p).map(_._2)

  /** Squared L2 distance, accumulated in index order. */
  private def sqDist(v: Array[Double], c: Array[Double]): Double = {
    var d = 0.0; var t = 0
    while (t < v.length) { val x = v(t) - c(t); d += x * x; t += 1 }
    d
  }

  /** The populated-super domain of a child relation — one bounded
    * ≤ S-row collect shared by both relation-assignment paths. */
  private[graft] def populatedOf(childRel: DataFrame): Array[Int] = {
    val populated = childRel.select(col("super")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(populated.nonEmpty, "child relation has no supers")
    populated
  }

  def assignCellsViaRelation(vectors: DataFrame,
      supers: Array[Array[Double]], childRel: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val populated = populatedOf(childRel)
    val sB = spark.sparkContext.broadcast(supers)
    val pB = spark.sparkContext.broadcast(populated)
    val routed = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, routeAmong(v, sB.value, pB.value)) }
      .toDF("id", "vec", "super")
    // index-ordered squared distance — the same accumulation order as
    // nearestChild's loop, so the argmin cannot diverge on fp ties
    val d2 = aggregate(
      zip_with(col("vec"), col("cvec"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)
    routed.join(childRel, Seq("super"))
      .groupBy(col("id"))
      .agg(min(struct(d2.as("d"), col("cell"))).as("m"))
      .select(col("id"), col("m.cell").as("cell"))
  }

  /** [[assignCellsViaRelation]] with the per-super argmin FUSED
    * (round 13 — the follow-on the relassign measurement named): the
    * declarative join materializes a (vec, cvec) array pair per
    * candidate and folds a non-codegen zip_with distance over it —
    * measured ~550–620 rows/s at nlist = 2^20 (SCALE.md round 13).
    * This variant cogroups vectors and children BY SUPER instead:
    * each group materializes its own super's children once
    * (nlist/S × dim doubles — ~512 KB at the 2^20 point, the bounded
    * state) and runs the broadcast path's exact tight loop over its
    * vectors. Same routing, same index-ordered accumulation, same
    * lowest-cell ties — value-identical to both siblings
    * (parity spec), distance cost back at the fused-loop rate; the
    * shuffle is one exchange of each side keyed by super, which is
    * exactly the join's own shuffle. Still nothing driver-sized,
    * nothing broadcast beyond the supers.
    */
  def assignCellsViaRelationFused(vectors: DataFrame,
      supers: Array[Array[Double]], childRel: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignCellsViaRelationFusedKeepVec(vectors, supers, childRel,
      idCol, vecCol).select(col("id"), col("cell"))

  /** The fused cogroup assignment CARRYING the vector through —
    * (id, cell, vec) — so a consumer that needs both (the relational
    * Lloyd update step, [[trainThreeLevel]]) pays no second id-keyed
    * shuffle to rejoin vectors onto assignments. Same routing, same
    * index-ordered accumulation, same lowest-cell ties as the
    * (id, cell) public face above, which is a column-pruned view of
    * this. */
  private[graft] def assignCellsViaRelationFusedKeepVec(
      vectors: DataFrame, supers: Array[Array[Double]],
      childRel: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val populated = populatedOf(childRel)
    val sB = spark.sparkContext.broadcast(supers)
    val pB = spark.sparkContext.broadcast(populated)
    val routed = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .as[(Long, Array[Double])]
      .map(r => (r._1, r._2, routeAmong(r._2, sB.value, pB.value)))
      .toDF("id", "vec", "super")
    assignPreRoutedFused(routed, childRel)
  }

  /** The fused cogroup argmin over an ALREADY-ROUTED (id, vec, super)
    * relation — the shared kernel of [[assignCellsViaRelationFused]]
    * and [[trainThreeLevel]]'s Lloyd loop (where routing is constant
    * across iterations — cells never change super — so re-routing
    * per iteration would double the per-row distance work for
    * nothing). Each cogroup group materializes its super's children
    * once (nlist/S × dim doubles of bounded state) and runs the
    * broadcast path's argmin ([[routeAmong]] over the cell-sorted
    * children): index-ordered accumulation, lowest-cell ties. */
  private[graft] def assignPreRoutedFused(routedDf: DataFrame,
      childRel: DataFrame): DataFrame = {
    val spark = routedDf.sparkSession
    import spark.implicits._
    val routed = routedDf.select(col("id"), col("vec"), col("super"))
      .as[(Long, Array[Double], Int)]
      .groupByKey(_._3)
    val children = childRel
      .select(col("super"), col("cell"), col("cvec"))
      .as[(Int, Int, Array[Double])]
      .groupByKey(_._1)
    routed.cogroup(children) { (_, vs, cs) =>
      val cands = cs.map { case (_, cell, cv) => (cell, cv) }
        .toArray.sortBy(_._1)
      val cvecs = cands.map(_._2)
      val all = cvecs.indices.toArray
      if (cands.isEmpty) Iterator.empty
      else vs.map { case (id, v, _) =>
        (id, cands(routeAmong(v, cvecs, all))._1, v) }
    }.toDF("id", "cell", "vec")
  }

  /** A coarse structure whose CHILD LEVEL lives as a relation, never
    * as driver/broadcast state — what [[trainThreeLevel]] returns and
    * the relational query path ([[ivfCosineTopKRelationalIndexed]])
    * serves from. `childRel` is (super, cell, cvec); write it
    * bucketed by `super` for exchange-free assignment joins and keep
    * the corpus assignment bucketed by `cell` for exchange-free
    * probes (the q91 discipline, both halves). */
  final case class RelationalCoarse(supers: Array[Array[Double]],
      childRel: DataFrame)

  /** THREE-LEVEL training: the two-level trainer with the child
    * level never driver-resident — the trainer past the
    * [[KMeansPortable.MaxAutoNlistTwoLevel]] clamp (128 MB of child
    * centroids at dim 64; the next decade is GB).
    *
    *   1. supers: the same ML fit as [[trainTwoLevelCoarse]]'s super
    *      stage ([[trainSupersML]]); driver state S·dim.
    *   2. route once by [[routeAmong]] (cells never change super, so
    *      routing is constant across iterations).
    *   3. seeds and Lloyd iterations: [[KMeansPortable.seedChildren]]
    *      and the relation-state step
    *      [[KMeansPortable.lloydAsRelation]], assigning through the
    *      fused cogroup ([[assignPreRoutedFused]]).
    *
    * Training on a `trainFraction` sample mirrors the family's
    * convention; the returned childRel serves full-corpus assignment.
    */
  def trainThreeLevel(vectors: DataFrame, nlist: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0, supers: Int = 0, iters: Int = 5,
      idCol: String = "vec_id"): RelationalCoarse =
    trainThreeLevelWith(vectors, nlist, vecCol, seed, trainFraction,
      supers, iters, idCol)((_, routed, childRel) =>
      assignPreRoutedFused(routed, childRel))

  /** [[trainThreeLevel]] with its Lloyd assignment kernel as an
    * argument: `assign(supers, routed, childRel)` maps the routed
    * (id, vec, super) relation and the current (super, cell, cvec)
    * children to (id, cell, vec). */
  private[graft] def trainThreeLevelWith(vectors: DataFrame, nlist: Int,
      vecCol: String, seed: Long, trainFraction: Double, supers: Int,
      iters: Int, idCol: String)(
      assign: (Array[Array[Double]], DataFrame, DataFrame) => DataFrame)
      : RelationalCoarse = {
    val trainer = "trainThreeLevel"
    val spark = vectors.sparkSession
    import spark.implicits._
    require(nlist > 0 && iters >= 1,
      s"need nlist > 0, iters >= 1; got nlist=$nlist iters=$iters")
    val s = if (supers > 0) supers else KMeansPortable.defaultSupers(nlist)
    require(s <= nlist, s"supers=$s must not exceed nlist=$nlist")
    val feat = graft.CacheScope.track(vectors
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .transform(f => if (trainFraction >= 1.0) f
        else f.sample(trainFraction, seed)))
    // the ML super fit would fail on a null or ragged vector without
    // naming its cause: check the input's shape first, in one pass
    val shape = feat.agg(count(lit(1)), count(col("vec")),
      min(size(col("vec"))), max(size(col("vec")))).head()
    require(shape.getLong(0) > 0, s"$trainer: empty vector set")
    require(shape.getLong(0) == shape.getLong(1),
      s"$trainer: ${shape.getLong(0) - shape.getLong(1)} null training vectors")
    val dim = shape.getInt(2)
    require(dim > 0 && dim == shape.getInt(3),
      s"$trainer: ragged or empty training vectors, widths $dim to ${shape.getInt(3)}")
    val superCents = trainSupersML(feat.select(col("vec").as("v")),
      s, dim, seed)
    val scB = spark.sparkContext.broadcast(superCents)
    val allIdx = (0 until s).toArray
    val routed = graft.CacheScope.track(
      feat.as[(Long, Array[Double])]
        .map { case (id, v) => (id, v, routeAmong(v, scB.value, allIdx)) }
        .toDF("id", "vec", "super"))
    val childRel = KMeansPortable.lloydAsRelation(trainer,
      KMeansPortable.seedChildren(trainer, routed, s, nlist), dim,
      iters)(assign(superCents, routed, _))
    RelationalCoarse(superCents, childRel)
  }

  /** IVF-flat top-k SERVED FROM the relational structure (round 14 —
    * the "probe path reading the bucketed child store" of VERDICT
    * r13 item 4): nothing here is driver/broadcast state except the
    * supers and the anchors themselves.
    *
    *   - anchors (filtered from the stored assignment by
    *     `anchorPred`) route to their top-`probeSupers` supers in a
    *     map over the broadcast supers;
    *   - candidate CELLS arrive by streaming the child store once
    *     through a broadcast-anchor join keyed on super — the child
    *     side has ZERO exchanges, bucketed or not, because the
    *     anchors are the build side — and each anchor keeps its
    *     `nprobe` best cells by the bounded topKByScore rule;
    *   - candidate VECTORS arrive through the cell equi-join against
    *     the stored assignment (id, vec, cell) — bucketed by `cell`
    *     the corpus side joins with zero exchanges (the q91
    *     discipline), the probe side (anchors × nprobe rows)
    *     shuffles to meet it;
    *   - exact cosine rerank, bounded top-k.
    *
    * `nprobe = nlist` with `probeSupers = S` degenerates to exact
    * search (the family's invariant, spec-pinned against
    * [[cosineTopK]]). */
  def ivfCosineTopKRelationalIndexed(assigned: DataFrame,
      anchorPred: Column, k: Int, coarse: RelationalCoarse,
      nprobe: Int, probeSupers: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val spark = assigned.sparkSession
    import spark.implicits._
    val populated = populatedOf(coarse.childRel)
    require(probeSupers >= 1 && probeSupers <= coarse.supers.length,
      s"probeSupers must be 1..${coarse.supers.length}; got $probeSupers")
    val sB = spark.sparkContext.broadcast(coarse.supers)
    val pB = spark.sparkContext.broadcast(populated)
    val p = probeSupers
    val anchors = graft.CacheScope.track(assigned
      .select(col("id").cast("long").as("id"), col("vec"))
      .filter(anchorPred))
    val anchorsRouted = anchors.as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        nearestAmong(v, sB.value, pB.value, p).map(su => (id, v, su))
      }.toDF("anchor_id", "a_vec", "super")
    val probeCells = coarse.childRel
      .join(broadcast(anchorsRouted), Seq("super"))
      .withColumn("cs", fastCosine(col("a_vec"), col("cvec")))
      .groupBy(col("anchor_id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("anchor_id"), explode(col("pc.id")).as("cell"))
    val cands = probeCells
      .join(anchors.select(col("id").as("anchor_id"),
        col("vec").as("a_vec")), "anchor_id")
      .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("n_vec")), "cell")
      .filter(col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    rankTopK(cands, k)
  }

  /** IVF-PQ artifacts for the RELATIONAL (third) tier: the bounded
    * PQ codebooks (m·ksub·dsub doubles — always driver-sized, 8-bit
    * codes cap ksub at 256) plus the relational coarse structure.
    * GLOBAL-codes flavor only: the residual flavor's ADC needs the
    * per-cell centroid dot, which is exactly the nlist-sized
    * broadcast state this tier exists to avoid — a residual
    * deployment stays on [[TwoLevelIvfPqArtifacts]] under the clamp
    * (the documented bound). */
  final case class RelationalIvfPqArtifacts(
      codebooks: Array[Array[Array[Double]]],
      coarse: RelationalCoarse) {
    require(codebooks.nonEmpty)
    val m: Int = codebooks.length
    val ksub: Int = codebooks(0).length
    val dsub: Int = codebooks(0)(0).length
    require(codebooks.forall(b =>
      b.length == ksub && b.forall(_.length == dsub)))
  }

  /** Train the relational-tier IVF-PQ artifacts: [[trainThreeLevel]]
    * for the coarse structure (children as a relation), the SAME
    * [[pqCodebooks]] fit as every PQ tier for the codes. */
  def trainIvfPqArtifactsRelational(vectors: DataFrame, nlist: Int,
      m: Int = 8, ksub: Int = 16, vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0, supers: Int = 0,
      iters: Int = 5,
      idCol: String = "vec_id"): RelationalIvfPqArtifacts = {
    val coarse = trainThreeLevel(vectors, nlist, vecCol, seed,
      trainFraction, supers, iters, idCol)
    val codebooks = pqCodebooks(vectors, m, ksub, vecCol, seed,
      trainFraction)
    RelationalIvfPqArtifacts(codebooks, coarse)
  }

  /** BUILD the stored relational-tier IVF-PQ index: the
    * [[encodeIvfPqTwoLevel]] deployment artifact (nid, code, cell)
    * with the cell assignment running through the fused cogroup
    * against the child RELATION instead of a broadcast coarse —
    * per-row state is the codebooks only. Store bucketed by `cell`
    * and the probe's equi-join reads it exchange-free (the q91
    * discipline, unchanged). */
  def encodeIvfPqRelational(vectors: DataFrame,
      artifacts: RelationalIvfPqArtifacts, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(artifacts.codebooks)
    assignCellsViaRelationFusedKeepVec(vectors,
        artifacts.coarse.supers, artifacts.coarse.childRel, idCol,
        vecCol)
      .select(col("id"), col("cell"), col("vec"))
      .as[(Long, Int, Array[Double])]
      .map { case (id, cell, v) =>
        (id, pqEncodeVec(v, cbB.value), cell) }
      .toDF("nid", "code", "cell")
  }

  /** The QUERY half over a relational-tier index — the
    * [[ivfPqTopKScoreTwoLevelIndexed]] statement with BOTH
    * broadcast-coarse touches replaced by their relational twins:
    * anchors route top-p over the broadcast SUPERS (driver-tiny) and
    * candidate cells arrive by streaming the child store once
    * through a broadcast-anchor join ([[ivfCosineTopKRelationalIndexed]]'s
    * probe); ADC from the stored codes and the exact rerank from the
    * raw relation are the shared machinery, so at equal structure
    * the two doors are value-identical (parity spec: the relational
    * path vs the broadcast path over the SAME trained structure,
    * collected to driver state at spec scale). */
  def ivfPqTopKScoreRelationalIndexed(index: DataFrame,
      vectors: DataFrame, anchorPred: Column, k: Int,
      artifacts: RelationalIvfPqArtifacts, nprobe: Int = 4,
      rerank: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", probeSupers: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    require(nprobe >= 1, s"nprobe must be >= 1; got $nprobe")
    val spark = vectors.sparkSession
    import spark.implicits._
    val coarse = artifacts.coarse
    val populated = populatedOf(coarse.childRel)
    require(probeSupers >= 1 && probeSupers <= coarse.supers.length,
      s"probeSupers must be 1..${coarse.supers.length}; got $probeSupers")
    val cbB = spark.sparkContext.broadcast(artifacts.codebooks)
    val sB = spark.sparkContext.broadcast(coarse.supers)
    val pB = spark.sparkContext.broadcast(populated)
    val p = probeSupers
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val anchors = graft.CacheScope.track(feat.filter(anchorPred))
    val anchorsRouted = anchors.as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        nearestAmong(v, sB.value, pB.value, p).map(su => (id, v, su))
      }.toDF("anchor_id", "a_vec", "super")
    val probeCells = coarse.childRel
      .join(broadcast(anchorsRouted), Seq("super"))
      .withColumn("cs", fastCosine(col("a_vec"), col("cvec")))
      .groupBy(col("anchor_id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("anchor_id"), explode(col("pc.id")).as("cell"))
    val cands = probeCells
      .join(anchors.select(col("id").as("anchor_id"),
        col("v").as("a_vec")), "anchor_id")
      .join(index, "cell")
      .filter(col("anchor_id") =!= col("nid"))
    val approx = adcScores(cands, cbB)
    rerankTopK(approx, anchors, vectors, k, rerank, idCol, vecCol)
  }

  /** [[sizeIvfPqForRecall]]'s relational-tier sibling: the same
    * full-chain [[pqRecallLadder]] walk, instrumented on
    * [[ivfPqTopKScoreRelationalIndexed]] over a prebuilt relational
    * index — nothing nlist-sized leaves the executors.
    *
    * REGIME NOTE (measured — ScaleProbe `relidxfloor`, SCALE.md): at
    * the relational tier's tiny-cell shape (cell population ≲ 10) the
    * p-phase reads FLAT — with nprobe0 cells the binding constraint,
    * widening the super pool only swaps which nprobe0 cells get ranked
    * (recall ~0.33 at every p on the measured shape) and each flat
    * rung still costs a sample probe. The lockstep phase then jumps
    * the walk to the floor, but a caller who KNOWS the shape starts
    * `nprobe0` higher so the p-phase starts past the flat region. */
  def sizeIvfPqRelationalForRecall(index: DataFrame,
      vectors: DataFrame, anchorPred: Column, k: Int, floor: Double,
      artifacts: RelationalIvfPqArtifacts, nprobe0: Int = 4,
      rerank0: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxAnchors: Int = 64): PqOperatingPoint =
    sizePqChain(index, vectors, anchorPred, k, floor,
      relationalShape(artifacts.coarse), nprobe0, rerank0, idCol, vecCol,
      maxAnchors, "sizeIvfPqRelationalForRecall") {
      (pred, p, np, r) => ivfPqTopKScoreRelationalIndexed(index, vectors,
        pred, k, artifacts, np, r, idCol, vecCol, p)
    }

  /** The top-`p` populated supers of `v` by (distance, index) — the
    * MULTI-SUPER probe's map-side half (round 12): one-super routing
    * systematically loses a boundary anchor's neighbors under the
    * runner-up super, so the probe may fan an anchor across p supers
    * and rank the union of their children (the IMI/FAISS multi-probe
    * discipline; the measured recall curve is SCALE.md round 12's).
    * p = 1 picks [[nearestChild]]'s routed super: the least (d, i) is the
    * first strict-< minimum, also when every distance is NaN or
    * infinite (both then pick the first populated super).
    * O(S·(dim + log S)) per anchor — anchors only, never the corpus. */
  private def routeSupersTopP(v: Array[Double], c: TwoLevelCoarse,
      p: Int): Array[Int] = {
    // the ONE probeSupers contract (round-12 review): 1 ≤ p ≤ S at
    // every tier — the portable probeChildrenMulti and the oracle
    // generators enforce the same range, so no tier silently caps
    // or degenerates where a sibling throws
    require(p >= 1 && p <= c.supers.length,
      s"probeSupers must be 1..${c.supers.length}; got $p")
    nearestAmong(v, c.supers, c.populated, p)
  }

  /** IVF-flat top-k over the two-level structure — the
    * [[ivfCosineTopK]] sibling with O(2√nlist) assignment and an
    * equi-join probe: each anchor routes to its super and ranks ONLY
    * that super's children (broadcast (cell, cvec, super) relation —
    * never a crossJoin against all nlist rows), probing its `nprobe`
    * best by the same topKByScore rule; candidates and rerank are the
    * flat path's. supers = 1 ≡ the flat path's semantics exactly
    * (every child in one group); spec-pinned via the nprobe = nlist
    * ≡ exact-search invariant the flat path itself carries.
    */
  def ivfCosineTopKTwoLevel(vectors: DataFrame, anchorPred: Column,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0,
      supers: Int = 0, probeSupers: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val spark = vectors.sparkSession
    import spark.implicits._
    val coarse = trainTwoLevelCoarse(vectors, nlist, vecCol, seed,
      trainFraction, supers)
    val cB = spark.sparkContext.broadcast(coarse)
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // fused route+assign: one zero-shuffle map, O(2√nlist) per row
    val assigned = feat.as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, nearestChild(v, cB.value)) }
      .toDF("id", "vec", "cell")
    val centDf = childCentDf(spark, coarse)
    // probeSupers > 1 fans each anchor across its top-p supers; the
    // per-anchor topKByScore below already ranks the UNION of
    // whatever (cell, cvec) rows arrive, so the widening is confined
    // to this map (p = 1 ≡ nearestChild's routed super)
    val anchorsRouted = feat.filter(anchorPred)
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        routeSupersTopP(v, cB.value, probeSupers).map(s => (id, v, s)) }
      .toDF("id", "a_vec", "super")
    val probeCells = anchorsRouted.join(broadcast(centDf), Seq("super"))
      .withColumn("cs", fastCosine(col("a_vec"), col("cvec")))
      .groupBy(col("id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("id").as("anchor_id"), explode(col("pc.id")).as("cell"))
    val anchors = assigned.filter(anchorPred)
      .select(col("id").as("anchor_id"), col("vec").as("a_vec"))
    val cands = probeCells.join(anchors, "anchor_id")
      .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("n_vec")), "cell")
      .filter(col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(fastCosine(col("a_vec"), col("n_vec")), 4))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    rankTopK(cands, k)
  }

  /** Two-level IVF-PQ index artifacts — [[IvfPqArtifacts]] with the
    * hierarchical coarse structure. Driver-sized:
    * m·ksub·dsub + (S + nlist)·dim doubles. */
  case class TwoLevelIvfPqArtifacts(
      codebooks: Array[Array[Array[Double]]],
      coarse: TwoLevelCoarse, residual: Boolean = false) {
    require(codebooks.nonEmpty)
    val m: Int = codebooks.length
    val ksub: Int = codebooks(0).length
    val dsub: Int = codebooks(0)(0).length
    require(m * dsub == coarse.dim,
      s"codebook subspaces (m=$m × dsub=$dsub) must cover dim=${coarse.dim}")
    require(codebooks.forall(b => b.length == ksub && b.forall(_.length == dsub)))
  }

  /** Train two-level IVF-PQ artifacts: the hierarchical coarse
    * quantizer + the flat PQ codebooks (ksub is bounded by
    * construction — 256 at 8-bit codes — so the codebook level never
    * needs the structure). `residual = true` trains on v − c(v)
    * against the CHILD centroid (the cell the vector actually lives
    * in — the classical IVFADC refinement at the two-level site).
    * supers = 1 reproduces [[trainIvfPqArtifacts]]'s centroids and
    * codebooks exactly (same fits, same inputs — the parity spec). */
  def trainIvfPqArtifactsTwoLevel(vectors: DataFrame, nlist: Int = 16,
      m: Int = 8, ksub: Int = 16, vecCol: String = "embedding",
      seed: Long = 42L, trainFraction: Double = 1.0,
      residual: Boolean = false,
      supers: Int = 0): TwoLevelIvfPqArtifacts = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val coarse = trainTwoLevelCoarse(vectors, nlist, vecCol, seed,
      trainFraction, supers)
    val cbInput =
      if (!residual) vectors
      else {
        val cB = spark.sparkContext.broadcast(coarse)
        vectors.select(col(vecCol).cast("array<double>").as("v"))
          .as[Array[Double]]
          .map { v =>
            val c = cB.value.children(nearestChild(v, cB.value))
            val r = new Array[Double](v.length)
            var t = 0
            while (t < v.length) { r(t) = v(t) - c(t); t += 1 }
            r
          }.toDF(vecCol)
      }
    val codebooks = pqCodebooks(cbInput, m, ksub, vecCol, seed, trainFraction)
    TwoLevelIvfPqArtifacts(codebooks, coarse, residual)
  }

  /** Plain-text serialization for the two-level artifacts — the
    * [[saveArtifacts]] format with the hierarchy appended:
    * `meta2 m ksub dsub nlist dim S [residual]`, `cb j c v…` per
    * codebook centroid, `sup i v…` per super centroid, `cent j v…`
    * per child centroid, `grp i j…` per super's child ids (empty
    * groups emit a bare `grp i`). Same deployment split as the flat
    * path: train once offline, ship the text artifact to every query
    * job. */
  def saveArtifactsTwoLevel(a: TwoLevelIvfPqArtifacts,
      out: java.io.Writer): Unit = {
    val c = a.coarse
    val res = if (a.residual) 1 else 0
    out.write(s"meta2 ${a.m} ${a.ksub} ${a.dsub} ${c.nlist} ${c.dim} " +
      s"${c.supers.length} $res\n")
    for (j <- 0 until a.m; k <- 0 until a.ksub)
      out.write(s"cb $j $k " +
        a.codebooks(j)(k).map(java.lang.Double.toString).mkString(" ") + "\n")
    for (i <- c.supers.indices)
      out.write(s"sup $i " +
        c.supers(i).map(java.lang.Double.toString).mkString(" ") + "\n")
    for (j <- 0 until c.nlist)
      out.write(s"cent $j " +
        c.children(j).map(java.lang.Double.toString).mkString(" ") + "\n")
    for (i <- c.groups.indices)
      out.write((s"grp $i " + c.groups(i).mkString(" ")).trim + "\n")
  }

  def loadArtifactsTwoLevel(
      in: java.io.InputStream): TwoLevelIvfPqArtifacts = {
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    val meta = lines.head.split(" ")
    require(meta(0) == "meta2" && meta.length == 8,
      s"bad two-level artifact header: ${lines.head}")
    val Array(m, ksub, dsub, nlist, dim, s) = meta.slice(1, 7).map(_.toInt)
    val residual = meta(7) == "1"
    val cb = Array.ofDim[Array[Double]](m, ksub)
    val sup = new Array[Array[Double]](s)
    val cent = new Array[Array[Double]](nlist)
    val grp = Array.fill(s)(Array.empty[Int])
    lines.tail.foreach { ln =>
      val p = ln.split("\\s+")
      p(0) match {
        case "cb"   => cb(p(1).toInt)(p(2).toInt) = p.drop(3).map(_.toDouble)
        case "sup"  => sup(p(1).toInt) = p.drop(2).map(_.toDouble)
        case "cent" => cent(p(1).toInt) = p.drop(2).map(_.toDouble)
        case "grp"  => grp(p(1).toInt) = p.drop(2).map(_.toInt)
        case other => throw new IllegalArgumentException(s"bad line tag $other")
      }
    }
    // completeness check (ADVICE r11): a TRUNCATED artifact (missing
    // cb/sup/cent lines) must fail HERE as a parse error, not later
    // as an NPE inside TwoLevelCoarse/scoring — the loud-mismatch
    // contract the meta/body dim check below already sets
    for (j <- 0 until m; kk <- 0 until ksub)
      require(cb(j)(kk) != null,
        s"truncated two-level artifact: missing cb $j $kk")
    for (i <- 0 until s)
      require(sup(i) != null, s"truncated two-level artifact: missing sup $i")
    for (j <- 0 until nlist)
      require(cent(j) != null,
        s"truncated two-level artifact: missing cent $j")
    val a = TwoLevelIvfPqArtifacts(cb.map(_.toArray),
      TwoLevelCoarse(sup, cent, grp), residual)
    require(a.dsub == dsub && a.coarse.dim == dim,
      "two-level artifact meta/body mismatch")
    a
  }

  /** BUILD the stored two-level IVF-PQ index relation: route + assign
    * + encode FUSED in one zero-shuffle pass (the flat path's
    * discipline — per-row cost O(2√nlist), not O(nlist)), emitting
    * (nid, code, cell) — the deployment artifact a query job reads
    * instead of re-encoding the corpus per query (round 12: the
    * train-once/ship split extended to the INDEX itself, which is
    * what makes batch ADMISSION a per-batch cost — see
    * [[admitIvfPqBatchTwoLevel]]). Store it bucketed by `cell`
    * ([[graft.sources.Sinks.writeBucketed]]) and the probe's cell
    * equi-join reads it without a corpus-side exchange (the q91
    * bucketed-admission discipline at the ANN site; spec-asserted).
    */
  def encodeIvfPqTwoLevel(vectors: DataFrame,
      artifacts: TwoLevelIvfPqArtifacts, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val residual = artifacts.residual
    val cbB = spark.sparkContext.broadcast(artifacts.codebooks)
    val cB = spark.sparkContext.broadcast(artifacts.coarse)
    vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cell = nearestChild(v, cB.value)
        val enc =
          if (!residual) v
          else {
            val c = cB.value.children(cell)
            val r = new Array[Double](v.length)
            var t = 0
            while (t < v.length) { r(t) = v(t) - c(t); t += 1 }
            r
          }
        (id, pqEncodeVec(enc, cbB.value), cell)
      }.toDF("nid", "code", "cell")
  }

  /** ADMIT a batch into a stored two-level IVF-PQ index WITHOUT
    * retraining (round 12 — VERDICT r11 item 5, the q91 equivalence
    * statement at the ANN site): assign + encode the batch against
    * the FIXED artifacts and append. Under fixed quantizers the
    * encoding is a pure per-row function, so the admitted index is
    * VALUE-IDENTICAL to [[encodeIvfPqTwoLevel]] over corpus ∪ batch
    * — and therefore every query over it is too (spec-pinned,
    * SimilaritySpec). Nightly cost: O(|batch| · 2√nlist · dim) — the
    * corpus is never re-encoded, never re-shuffled (append a new
    * bucketed partition set alongside the stored index). Quantizer
    * DRIFT is the documented operational bound: artifacts fixed at
    * train time serve until the corpus distribution moves enough
    * that measured recall ([[requireRecall]] on a sampled anchor
    * set) breaches the contract floor — then retrain, rebuild,
    * re-admit; the recall gate is what makes the degradation loud.
    */
  def admitIvfPqBatchTwoLevel(index: DataFrame, batch: DataFrame,
      artifacts: TwoLevelIvfPqArtifacts, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    index.unionByName(
      encodeIvfPqTwoLevel(batch, artifacts, idCol, vecCol))

  /** IVF+PQ QUERY path over [[TwoLevelIvfPqArtifacts]] — the
    * [[ivfPqTopKScore]] statement with the O(2√nlist) route+assign
    * map and the equi-join probe ([[ivfCosineTopKTwoLevel]]'s): the
    * structural difference is confined to how a row finds its cell
    * and how an anchor finds its probe cells; encode, ADC, shortlist
    * and rerank are the flat machinery. Encodes `vectors` inline —
    * the one-shot convenience; deployments build the index once
    * ([[encodeIvfPqTwoLevel]]) and query it via
    * [[ivfPqTopKScoreTwoLevelIndexed]]. supers = 1 is
    * value-identical to the flat score path over
    * [[trainIvfPqArtifacts]]'s artifacts (spec-pinned). */
  def ivfPqTopKScoreTwoLevel(vectors: DataFrame, anchorPred: Column,
      k: Int, artifacts: TwoLevelIvfPqArtifacts, nprobe: Int = 4,
      rerank: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", probeSupers: Int = 1): DataFrame =
    ivfPqTopKScoreTwoLevelIndexed(
      encodeIvfPqTwoLevel(vectors, artifacts, idCol, vecCol),
      vectors, anchorPred, k, artifacts, nprobe, rerank, idCol,
      vecCol, probeSupers)

  /** The QUERY half over a PREBUILT index relation (nid, code, cell —
    * [[encodeIvfPqTwoLevel]]'s output, possibly grown by
    * [[admitIvfPqBatchTwoLevel]]): anchors route + probe against the
    * broadcast child-centroid relation, candidates arrive through
    * the cell equi-join against the stored index (bucketed storage
    * makes it exchange-free on the index side), ADC from the codes,
    * exact rerank from `vectors` (the stored raw relation — rerank
    * needs true vectors, the index carries codes only).
    *
    * Round 14 (VERDICT r13 item 3 — the validate-then-serve sizing
    * discipline of the reference's similarity plan, now at the
    * STORED-index door, the actual 100 TB serving shape):
    *  - `probeSupers = -1` resolves by the measured pool rule
    *    against the artifacts' OWN super count (p ≥ nprobe·S/nlist —
    *    [[KMeansPortable.autoProbeSupers]]), so a caller holding the
    *    swept fraction no longer inherits the round-11 recall cap.
    *  - `recallFloor > 0` recall-sizes the door END-TO-END on this
    *    very index ([[sizeIvfPqForRecall]] — no retraining, no
    *    re-encode: the walk probes a bounded anchor sample through
    *    the stored index at each [[pqRecallLadder]] rung, ADC and
    *    rerank included), then serves the found (p, nprobe, rerank).
    *    Cost: one bounded sample probe per rung; the corpus-side
    *    work per rung is the swept cells of ≤ `recallAnchors`
    *    anchors. COST OPT-OUT: `probeSupers = 1, recallFloor = 0`
    *    pins the round-13 cost profile and accepts its measured
    *    recall.
    * Callers who already hold a walked [[PqOperatingPoint]] pass it
    * via the overload below. */
  def ivfPqTopKScoreTwoLevelIndexed(index: DataFrame,
      vectors: DataFrame, anchorPred: Column,
      k: Int, artifacts: TwoLevelIvfPqArtifacts, nprobe: Int = 4,
      rerank: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", probeSupers: Int = 1,
      recallFloor: Double = 0.0, recallAnchors: Int = 64): DataFrame = {
    val s = artifacts.coarse.supers.length
    val nlist = artifacts.coarse.nlist
    if (recallFloor > 0) {
      val pt = sizeIvfPqForRecall(index, vectors, anchorPred, k,
        recallFloor, artifacts, nprobe, rerank, idCol, vecCol,
        recallAnchors)
      serveIvfPqIndexed(index, vectors, anchorPred, k, artifacts,
        pt.nprobe, pt.rerank, idCol, vecCol, pt.probeSupers)
    } else {
      val p =
        if (probeSupers == -1)
          KMeansPortable.autoProbeSupers(nprobe, nlist, s)
        else probeSupers
      serveIvfPqIndexed(index, vectors, anchorPred, k, artifacts,
        nprobe, rerank, idCol, vecCol, p)
    }
  }

  /** [[ivfPqTopKScoreTwoLevelIndexed]] at a walked operating point —
    * the deployment shape: walk once ([[sizeIvfPqForRecall]]), ship
    * the point, serve every query at it. */
  def ivfPqTopKScoreTwoLevelIndexed(index: DataFrame,
      vectors: DataFrame, anchorPred: Column, k: Int,
      artifacts: TwoLevelIvfPqArtifacts, point: PqOperatingPoint,
      idCol: String, vecCol: String): DataFrame =
    serveIvfPqIndexed(index, vectors, anchorPred, k, artifacts,
      point.nprobe, point.rerank, idCol, vecCol, point.probeSupers)

  private def serveIvfPqIndexed(index: DataFrame,
      vectors: DataFrame, anchorPred: Column,
      k: Int, artifacts: TwoLevelIvfPqArtifacts, nprobe: Int,
      rerank: Int, idCol: String,
      vecCol: String, probeSupers: Int): DataFrame = {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    val spark = vectors.sparkSession
    import spark.implicits._
    val residual = artifacts.residual
    val coarse = artifacts.coarse
    val cbB = spark.sparkContext.broadcast(artifacts.codebooks)
    val cB = spark.sparkContext.broadcast(coarse)
    val childB = spark.sparkContext.broadcast(coarse.children)
    val feat = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val centDf = childCentDf(spark, coarse)
    // probeSupers > 1 fans each anchor across its top-p supers (the
    // ivfCosineTopKTwoLevel widening — the per-anchor topKByScore
    // ranks the union; p = 1 ≡ nearestChild's routed super)
    val anchorsRouted = feat.filter(anchorPred)
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        routeSupersTopP(v, cB.value, probeSupers).map(s => (id, v, s)) }
      .toDF("id", "v", "super")
    val probeCells = anchorsRouted.join(broadcast(centDf), Seq("super"))
      .withColumn("cs", fastCosine(col("v"), col("cvec")))
      .groupBy(col("id"))
      .agg(topKByScore(col("cs"), col("cell"), nprobe).as("pc"))
      .select(col("id").as("anchor_id"), explode(col("pc.id")).as("cell"))
    val anchors = feat.filter(anchorPred)
    val cands = probeCells
      .join(anchors.select(col("id").as("anchor_id"), col("v").as("a_vec")),
        "anchor_id")
      .join(index, "cell")
      .filter(col("anchor_id") =!= col("nid"))
    val approx =
      if (residual) adcScoresResidual(cands, cbB, childB)
      else adcScores(cands, cbB)
    rerankTopK(approx, anchors, vectors, k, rerank, idCol, vecCol)
  }

  /** AUTO-STRUCTURE front door for the native IVF-PQ tier — the
    * [[ivfCosineTopKAuto]] dispatch over the artifact trainers:
    * flat [[trainIvfPqArtifacts]]+[[ivfPqTopKScore]] at auto nlist ≤
    * [[KMeansPortable.FlatAutoMaxNlist]],
    * [[trainIvfPqArtifactsTwoLevel]]+[[ivfPqTopKScoreTwoLevel]] past
    * it — GLOBAL codes both sides, matching [[ivfPqTopK]]'s flavor,
    * so only the coarse structure changes across the boundary (a
    * residual deployment trains artifacts manually — the flavor is a
    * train-time choice). Deployments that train once and ship
    * artifacts make the structural choice at TRAIN time too; this
    * door is the inline-training convenience with the same crossover.
    * `probeSupers = -1` (default) resolves by the measured pool rule
    * on the two-level side ([[resolveProbeSupers]] — p = 1 at small
    * nprobe, grows when a caller holds the swept fraction). COST NOTE
    * (ADVICE r12): that default multiplies candidate-ranking cost by
    * the resolved p at large nprobe; `probeSupers = 1` pins the old
    * cost profile and accepts the measured recall cap.
    *
    * `recallFloor > 0` (round 14 — ADVICE r13) recall-sizes the door
    * END-TO-END: [[sizeIvfPqForRecall]] walks [[pqRecallLadder]] on
    * the full serving chain — coarse probe, ADC shortlist AND exact
    * rerank — so the floor binds the result this door returns, not
    * just its coarse ceiling. (The round-13 door sized the coarse
    * probe only; MEASURED at its chosen ~0.38 sweep on the
    * near-uniform recallwalk corpus: rerank 64 → 0.28, 256 → 0.50,
    * 1024 → 0.73 under the 0.80 coarse ceiling — exactly the gap the
    * full-chain walk now closes by climbing rerank with the sweep.)
    * One training pass, one encode pass, one bounded sample probe
    * per rung; `recallAnchors` bounds the sample.
    */
  def ivfPqTopKAuto(vectors: DataFrame, anchorPred: Column, k: Int,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0,
      targetCellSize: Int = KMeansPortable.DefaultTargetCellSize,
      probeSupers: Int = -1, n: Long = -1L,
      recallFloor: Double = 0.0, recallAnchors: Int = 64,
      relationalPastNlist: Int = KMeansPortable.MaxAutoNlistTwoLevel): DataFrame = {
    val n0 = if (n >= 0) n else vectors.count()
    val unclamped = KMeansPortable.autoNlistUnclamped(n0, targetCellSize)
    if (unclamped > relationalPastNlist) {
      // THIRD TIER (round 14 — the ivfCosineTopKAuto dispatch at the
      // PQ door): train/encode relationally, size the floor on the
      // same relational chain, serve from the stored index
      require(unclamped <= Int.MaxValue,
        s"auto nlist $unclamped exceeds Int cells — lower the sizing " +
          s"target (targetCellSize=$targetCellSize)")
      val nl = unclamped.toInt
      val art = trainIvfPqArtifactsRelational(vectors, nl, m, ksub,
        vecCol, seed, trainFraction, idCol = idCol)
      val index = graft.CacheScope.track(
        encodeIvfPqRelational(vectors, art, idCol, vecCol))
      val npc = math.min(math.max(1, nprobe), nl)
      val (pp, np, rr) =
        if (recallFloor > 0) {
          val pt = sizeIvfPqRelationalForRecall(index, vectors,
            anchorPred, k, recallFloor, art, npc, rerank, idCol,
            vecCol, recallAnchors)
          (pt.probeSupers, pt.nprobe, pt.rerank)
        } else {
          val p = if (probeSupers > 0) probeSupers
            else KMeansPortable.autoProbeSupers(npc, nl,
              art.coarse.supers.length)
          (p, npc, rerank)
        }
      return ivfPqTopKScoreRelationalIndexed(index, vectors,
        anchorPred, k, art, np, rr, idCol, vecCol, pp)
    }
    val nlist = KMeansPortable.autoNlist(n0, targetCellSize)
    if (recallFloor > 0) {
      // END-TO-END floor (round 14 — ADVICE r13: the round-13 door
      // sized only the coarse probe, so the returned PQ result could
      // land far below the requested floor — 0.28 measured under a
      // 0.80 coarse ceiling). Train the artifacts ONCE (supers = 1
      // below the flat boundary — value-identical to the flat
      // trainer, the trainIvfPqArtifactsTwoLevel parity contract),
      // encode ONCE, then walk the FULL chain (coarse probe + ADC +
      // rerank) on a bounded anchor sample and serve at the found
      // (p, nprobe, rerank) — one training pass FEWER than the
      // round-13 coarse-sized door, which trained a sizing
      // instrument beside the artifacts.
      val flat = nlist <= KMeansPortable.FlatAutoMaxNlist
      val nl = math.max(2, nlist)
      val art = trainIvfPqArtifactsTwoLevel(vectors, nl, m, ksub,
        vecCol, seed, trainFraction, residual = false,
        supers = if (flat) 1 else 0)
      val index = graft.CacheScope.track(
        encodeIvfPqTwoLevel(vectors, art, idCol, vecCol))
      val pt = sizeIvfPqForRecall(index, vectors, anchorPred, k,
        recallFloor, art, nprobe, rerank, idCol, vecCol,
        recallAnchors)
      serveIvfPqIndexed(index, vectors, anchorPred, k, art,
        pt.nprobe, pt.rerank, idCol, vecCol, pt.probeSupers)
    } else if (nlist <= KMeansPortable.FlatAutoMaxNlist) {
      ivfPqTopK(vectors, anchorPred, k, math.max(2, nlist), nprobe, m,
        ksub, rerank, idCol, vecCol, seed, trainFraction)
    } else {
      val p = resolveProbeSupers(probeSupers, nprobe, nlist)
      val art = trainIvfPqArtifactsTwoLevel(vectors, nlist, m, ksub,
        vecCol, seed, trainFraction, residual = false)
      ivfPqTopKScoreTwoLevel(vectors, anchorPred, k, art, nprobe,
        rerank, idCol, vecCol, probeSupers = p)
    }
  }

  /** IVF+PQ fusion, training inline — [[trainIvfPqArtifacts]] then
    * [[ivfPqTopKScore]]. nprobe = nlist degenerates to
    * [[pqCosineTopK]] exactly (spec-pinned). Deployments train once
    * and call the score path with saved artifacts (the q73 gate). */
  def ivfPqTopK(vectors: DataFrame, anchorPred: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame = {
    val artifacts = trainIvfPqArtifacts(vectors, nlist, m, ksub, vecCol,
      seed, trainFraction)
    ivfPqTopKScore(vectors, anchorPred, k, artifacts, nprobe, rerank,
      idCol, vecCol)
  }

  /** k-NN majority-vote classification: label each anchor by the
    * modal label among its exact top-k neighbors (tie → smaller
    * label). Composition of cosineTopK + the A1 majority pattern.
    */
  def knnClassify(vectors: DataFrame, anchors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val topk = cosineTopK(vectors, anchors, k, idCol, vecCol)
    val labeled = topk.join(
      vectors.select(col(idCol).as("neighbor_id"), col(labelCol).as("n_label")),
      "neighbor_id")
    val votes = labeled.groupBy(col("anchor_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("n_label").as("predicted_label"), col("votes"))
  }

  /** A10 analog: per-group element-wise mean of embeddings
    * (posexplode → grouped avg → re-assemble ordered). Exact decimal
    * accumulation for cross-engine determinism — the shared
    * [[VectorAgg.meanVectors]] kernel (value-identical: rounding the
    * per-component double before vs after reassembly is the same
    * operation on the same number).
    */
  def centroids(vectors: DataFrame, groupCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    VectorAgg.meanVectors(vectors, col(groupCol), col(vecCol))
      .select(col("grp"), col("mean_vec").as("centroid"))
}
