package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, xxhash64}

/** The recall-sizing rule every ANN tier shares: size the recall stage
  * by measured overlap against exact top-k on sampled anchors
  * (Docs/SIMILARITY-PLAN.md:55-75), not by a policy guess. The native
  * sizers ([[SimilaritySearch.sizeTwoLevelForRecall]],
  * [[SimilaritySearch.sizeIvfPqForRecall]] and their relational
  * siblings) and the portable walk ([[IvfPqPortable.topKTwoLevelWalk]])
  * all climb through [[climb]]; each keeps its own probe, scoring and
  * tie-break. The sizers measure recall on [[anchorSample]]; the
  * portable walk measures it on every `anchorPred` anchor against its
  * decimal-cosine ground truth, which its DuckDB replay re-derives.
  *
  * Invariants:
  *
  *  - STOP RULE. Rungs are evaluated in ladder order and the walk
  *    stops at the first whose measured mean recall@k is ≥ the floor.
  *    Recall is measured at every rung, never assumed monotone in the
  *    ladder: a dip followed by a hit stops at the hit. The trail holds
  *    exactly the evaluated rungs, and its last rung is the chosen one
  *    (the floor hit, or the terminal rung when even it missed).
  *  - REACHABILITY. Every ladder the tiers climb
  *    ([[SimilaritySearch.recallLadder]],
  *    [[SimilaritySearch.pqRecallLadder]]) ends at an exact rung: all
  *    cells swept and, for PQ, every candidate reranked. Its recall is
  *    1.0 when the ground truth and the tier score the same corpus, so
  *    any floor ≤ 1 is met; `floorMet = false` flags a caller bug such
  *    as an anchor set the tier drops.
  *  - KNIFE EDGE. A rung whose true recall sits a float epsilon below
  *    a floor that is itself a reachable rational (0.8000 to 4 dp
  *    against 0.8) does not stop the walk: it climbs one more rung,
  *    the safe direction (recall only improves, cost at most doubles).
  *    Callers who care about the marginal rung set the floor a hair
  *    under the target (0.799); gate floors sit ≥ 0.02 from every
  *    measured rung.
  *  - SAMPLE. [[anchorSample]] takes the `maxAnchors` anchors with the
  *    smallest seeded hash of the id, ties broken by id. The sample is
  *    the same on every call and at every partitioning, and it is
  *    decorrelated from content: the lowest-id prefix of a
  *    time-ordered or cluster-ordered corpus would sample one region,
  *    and a floor met there need not transfer to the whole anchor set.
  *  - COST. Each evaluated rung collects one scalar and probes only
  *    the anchors; training, corpus assignment and encoding are shared
  *    across rungs.
  *  - TAGS. Rung i's jobs carry the job description
  *    `walk:<site>:rung=<i>` and the sample's `walk:<site>:sample`
  *    ([[JobTag]]); the caller's description is restored afterwards.
  */
private[graft] object RecallWalk {

  /** The evaluated prefix of a ladder with each rung's recall, and
    * whether its last rung met the floor. */
  final case class Climb[R](trail: Seq[(R, Double)], floorMet: Boolean)

  /** Fails unless `floor ∈ (0, 1]`. Walks call it on entry, before
    * their training or sampling, and [[climb]] calls it again. */
  def checkFloor(floor: Double): Unit =
    require(floor > 0.0 && floor <= 1.0,
      s"recall floor must be in (0, 1]; got $floor")

  /** [[checkFloor]] plus a non-empty `ladder`. */
  def checkWalk(ladder: Seq[_], floor: Double): Unit = {
    checkFloor(floor)
    require(ladder.nonEmpty, "walk ladder must be non-empty")
  }

  /** Evaluates `recallAt` on `ladder` in order, up to and including
    * the first rung with recall ≥ `floor`. `site` names the caller in
    * the rungs' job descriptions. */
  def climb[R](site: String, ladder: Seq[R], floor: Double)(
      recallAt: R => Double): Climb[R] = {
    checkWalk(ladder, floor)
    val measured = LazyList.from(ladder).zipWithIndex.map { case (r, i) =>
      (r, JobTag.during(s"walk:$site:rung=$i")(recallAt(r)))
    }
    val hit = measured.indexWhere(_._2 >= floor)
    if (hit < 0) Climb(measured.toVector, floorMet = false)
    else Climb(measured.take(hit + 1).toVector, floorMet = true)
  }

  /** A bounded anchor sample of a `(id: long, vec: array<double>)`
    * relation and its exact cosine top-k ground truth. `pred` selects
    * the sample by `id`; `rows` and `exact` are cached for the walk. */
  final case class AnchorSample(ids: Seq[Long], pred: Column,
      rows: DataFrame, exact: DataFrame)

  /** The `maxAnchors` anchors of `feat` matching `anchorPred` under
    * the seeded-hash order (see SAMPLE above). `site` names the caller
    * in the empty-sample error and the sample's job description. */
  def anchorSample(feat: DataFrame, anchorPred: Column, maxAnchors: Int,
      k: Int, site: String): AnchorSample = {
    require(maxAnchors >= 1, s"maxAnchors must be >= 1; got $maxAnchors")
    val ids = JobTag.during(s"walk:$site:sample")(feat.filter(anchorPred)
      .orderBy(xxhash64(col("id")), col("id")).limit(maxAnchors)
      .select(col("id")).collect().map(_.getLong(0)).toSeq)
    require(ids.nonEmpty, s"$site: empty anchor sample")
    val pred = col("id").isin(ids: _*)
    val rows = graft.CacheScope.track(feat.filter(pred))
    AnchorSample(ids, pred, rows, graft.CacheScope.track(
      SimilaritySearch.cosineTopK(feat, rows, k, "id", "vec")))
  }
}
