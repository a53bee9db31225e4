package graft

import graft.operators.{Dedup, KMeansPortable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Portable Lloyd k-means (q78's operator): invariants a SQL oracle
  * alone can't state, plus the integration the VERDICT asked for —
  * trained centroids feeding the SemDeDup application.
  */
class KMeansPortableSpec extends SparkSpec {

  import spark.implicits._

  // three tight planted clusters around (0,0), (10,0), (0,10) plus
  // one straggler; ids chosen so the first-k seeds straddle clusters
  private def planted = Seq(
    (0L, Array(0.1, 0.0)), (1L, Array(9.9, 0.1)), (2L, Array(0.0, 10.1)),
    (3L, Array(0.0, 0.2)), (4L, Array(10.1, -0.1)), (5L, Array(0.2, 9.9)),
    (6L, Array(0.2, 0.1)), (7L, Array(9.8, 0.2)), (8L, Array(-0.1, 10.0)),
    (9L, Array(0.0, 0.0))
  ).toDF("vec_id", "embedding")

  test("member counts cover every input exactly once") {
    val m = KMeansPortable.trainModel(planted, k = 3, iters = 4)
    assert(m.counts.sum === 10L)
    assert(m.centroids.length === 3 && m.centroids.forall(_.length === 2))
  }

  test("planted clusters recover their centers") {
    val m = KMeansPortable.trainModel(planted, k = 3, iters = 4)
    // each planted center must be within 0.3 of some trained centroid
    val centers = Seq(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0))
    centers.foreach { c =>
      val best = m.centroids.map(t =>
        math.hypot(t(0) - c(0), t(1) - c(1))).min
      assert(best < 0.3, s"no centroid near (${c(0)}, ${c(1)})")
    }
  }

  test("empty cell keeps its previous centroid, count 0") {
    // two coincident far points + seeds that collapse: k=3 over a
    // 3-point set where two points are identical — one cell must end
    // empty (both identical points assign to the lower seed index)
    val df = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.0, 0.0)), (2L, Array(5.0, 5.0))
    ).toDF("vec_id", "embedding")
    val m = KMeansPortable.trainModel(df, k = 3, iters = 2)
    assert(m.counts.sum === 3L)
    val empty = m.counts.indexOf(0L)
    assert(empty >= 0)
    // the empty cell's centroid is its (unchanged) seed vector
    assert(m.centroids(empty).sameElements(Array(0.0, 0.0)))
  }

  test("train output matches trainModel row-for-row") {
    val rows = KMeansPortable.train(planted, k = 3, iters = 4)
      .orderBy(col("cell"), col("d")).collect()
    val m = KMeansPortable.trainModel(planted, k = 3, iters = 4)
    assert(rows.length === 3 * 2)
    rows.foreach { r =>
      val (j, d) = (r.getInt(0), r.getInt(1))
      assert(r.getDouble(2) === m.centroids(j)(d))
      assert(r.getLong(3) === m.counts(j))
    }
  }

  test("trained centroids plug into the SemDeDup application") {
    // near-dup pair (0, 3) within the (0,0) cluster; trained (not
    // fixture) centroids drive the portable SemDeDup end-to-end
    val df = Seq(
      (0L, Array(1.0, 0.0)), (3L, Array(0.999, 0.01)),
      (1L, Array(9.9, 0.1)), (2L, Array(0.0, 10.1)),
      (4L, Array(-1.0, 0.2))
    ).toDF("vec_id", "embedding")
    val m = KMeansPortable.trainModel(df, k = 3, iters = 3)
    val out = Dedup.semanticDedupPortable(df, m.centroids, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(3L) === ((0L, false)), "3 groups under representative 0")
    assert(out(0L) === ((0L, true)))
    assert(Seq(1L, 2L, 4L).forall(i => out(i) === ((i, true))))
  }

  test("training is partitioning-proof: repartition(13) gives identical centroids") {
    // the decimal-mean claim made falsifiable: every sum is exact
    // integer arithmetic, so shard boundaries cannot move a single
    // bit of any centroid coordinate
    val m1 = KMeansPortable.trainModel(planted, k = 3, iters = 4)
    val m2 = KMeansPortable.trainModel(planted.repartition(13), k = 3,
      iters = 4)
    assert(m1.centroids.flatten[Double].toSeq ===
      m2.centroids.flatten[Double].toSeq)
    assert(m1.counts.toSeq === m2.counts.toSeq)
  }

  test("nlistFor: ceil to the target cell population, floor 1, hard clamp") {
    val t = KMeansPortable.DefaultTargetCellSize
    assert(KMeansPortable.nlistFor(0L) === 1)
    assert(KMeansPortable.nlistFor(1L) === 1)
    assert(KMeansPortable.nlistFor(t.toLong) === 1)
    assert(KMeansPortable.nlistFor(t + 1L) === 2)
    // the round-9 operating points the default was chosen to hit:
    // 1× gate (2 000 embeddings) → 8; 10× (20 000) → 79 ≈ the
    // hand-tuned measured-linear nlist=80 (SCALE.md)
    assert(KMeansPortable.nlistFor(2000L) === 8)
    assert(KMeansPortable.nlistFor(20000L) === 79)
    // monotone in n, inverse-monotone in target
    assert(KMeansPortable.nlistFor(100000L) > KMeansPortable.nlistFor(50000L))
    assert(KMeansPortable.nlistFor(100000L, 64) >
      KMeansPortable.nlistFor(100000L, 1024))
    // clamp: past MaxAutoNlist·target the resolution stops growing
    assert(KMeansPortable.nlistFor(Long.MaxValue / 4) ===
      KMeansPortable.MaxAutoNlist)
    intercept[IllegalArgumentException](KMeansPortable.nlistFor(10L, 0))
    intercept[IllegalArgumentException](KMeansPortable.nlistFor(-1L))
  }

  test("requireBoundedCells: in-bound passes, out-of-bound names the fix") {
    KMeansPortable.requireBoundedCells("spec", n = 10000L, nlist = 40,
      bound = 256L) // 250 <= 256
    val e = intercept[IllegalArgumentException](
      KMeansPortable.requireBoundedCells("spec", n = 200000L, nlist = 8,
        bound = 10000L)) // the 100×-at-fixed-nlist deployment mistake
    assert(e.getMessage.contains("nlistFor"))
    assert(e.getMessage.contains("25000"))
  }

  test("semanticDedupPortable rejects a quantizer too coarse for the corpus") {
    // 40 vectors into ONE cell with maxCellSize 8: expected
    // population 40 > 8 means the typical cell would be culled
    // wholesale — the contract fails loudly instead
    val df = (0L until 40L).map(i => (i, Array(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Dedup.semanticDedupPortable(df, Array(Array(0.0, 0.0)),
        threshold = 0.99, maxCellSize = 8))
    assert(e.getMessage.contains("semanticDedupPortable"))
    assert(e.getMessage.contains("nlistFor"))
  }

  test("auto-nlist semanticDedup: sized quantizer dedupes the planted pair") {
    // default nlist (AutoNlist) derives k from the corpus size —
    // 5 vectors → max(2, nlistFor(5)) = 2 cells (Spark ML's k >= 2
    // floor); the near-identical planted pair lands in one cell and
    // dedupes; the call site passes NO resolution at all
    val df = Seq(
      (0L, Array(1.0, 0.0)), (3L, Array(0.999, 0.01)),
      (1L, Array(9.9, 0.1)), (2L, Array(0.0, 10.1)),
      (4L, Array(-1.0, 0.2))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(3L) === ((0L, false)) && out(0L) === ((0L, true)))
    assert(Seq(1L, 2L, 4L).forall(i => out(i) === ((i, true))))
  }

  test("two-level quantizer: supers=1 degenerates to the flat trainer EXACTLY") {
    val flat = KMeansPortable.trainModel(planted, k = 3, iters = 4)
    val two = KMeansPortable.trainTwoLevel(planted, nlist = 3, iters = 4,
      supers = 1)
    assert(two.supers.length === 1 &&
      two.groups.map(_.toSeq).toSeq === Seq(Seq(0, 1, 2)))
    assert(two.children.flatten[Double].toSeq ===
      flat.centroids.flatten[Double].toSeq)
    // and the assignment degenerates too: every row lands in the
    // same cell under both paths
    val base = planted
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("n2", org.apache.spark.sql.graft.RhpExpressions
        .decimalScaledDot(col("vec"), col("vec")))
    val a1 = KMeansPortable.assignCells(base, flat.centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = KMeansPortable.assignCellsTwoLevel(base, two)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2)
  }

  test("two-level quantizer: auto supers recovers planted clusters; partitioning-proof; dedup catches the planted pair") {
    val m = KMeansPortable.trainTwoLevel(planted, nlist = 3, iters = 4)
    assert(m.supers.length === 2, "ceil(sqrt(3)) = 2 routing cells")
    assert(m.children.length === 3 &&
      m.groups.map(_.length).sum === 3)
    val m2 = KMeansPortable.trainTwoLevel(planted.repartition(13),
      nlist = 3, iters = 4)
    assert(m.children.flatten[Double].toSeq ===
      m2.children.flatten[Double].toSeq,
      "decimal training is partitioning-proof in the two-level path too")
    // dedup over the two-level assignment: near-identical planted
    // pair collapses, the rest survive
    val df = Seq(
      (0L, Array(1.0, 0.0)), (3L, Array(0.999, 0.01)),
      (1L, Array(9.9, 0.1)), (2L, Array(0.0, 10.1)),
      (4L, Array(-1.0, 0.2))
    ).toDF("vec_id", "embedding")
    val tm = KMeansPortable.trainTwoLevel(df, nlist = 3, iters = 3)
    val out = Dedup.semanticDedupTwoLevel(df, tm, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(3L) === ((0L, false)) && out(0L) === ((0L, true)))
    assert(Seq(1L, 2L, 4L).forall(i => out(i) === ((i, true))))
    // the scale contract holds on this path too
    val e = intercept[IllegalArgumentException](
      Dedup.semanticDedupTwoLevel(df,
        KMeansPortable.TwoLevelModel(Array(Array(0.0, 0.0)),
          Array(Array(0.0, 0.0)), Array(Array(0))),
        threshold = 0.99, maxCellSize = 2))
    assert(e.getMessage.contains("nlistFor"))
  }

  /** `planted` with id `id`'s vector replaced by `v`. */
  private def plantedWith(id: Long, v: Array[Double]) =
    planted.as[(Long, Array[Double])]
      .map { case (i, x) => (i, if (i == id) v else x) }
      .toDF("vec_id", "embedding")

  /** The messages along `e`'s cause chain, joined. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("trainModel fails on a null or ragged vector, naming the trainer and the cause") {
    // id 9 is no seed at k = 3: the first iteration's mean step fails
    val late = intercept[Exception](
      KMeansPortable.trainModel(plantedWith(9L, null), k = 3, iters = 2))
    assert(messages(late).contains("trainModel: null or empty vector in cell"),
      messages(late))
    // id 0 is a seed: the seed collect fails before any iteration
    val seed = intercept[IllegalArgumentException](
      KMeansPortable.trainModel(plantedWith(0L, null), k = 3, iters = 2))
    assert(seed.getMessage.contains("trainModel: null training vector"))
    val ragged = intercept[Exception](KMeansPortable.trainModel(
      plantedWith(5L, Array(0.2, 9.9, 1.0)), k = 3, iters = 2))
    assert(messages(ragged).contains("trainModel: ragged vector in cell") &&
      messages(ragged).contains("has width 3, expected 2"), messages(ragged))
  }

  test("trainTwoLevel fails on a null or ragged vector, naming the trainer and the cause") {
    val nul = intercept[Exception](KMeansPortable.trainTwoLevel(
      plantedWith(7L, null), nlist = 3, iters = 2))
    assert(messages(nul).contains("trainTwoLevel/supers: null or empty vector in cell"),
      messages(nul))
    val ragged = intercept[Exception](KMeansPortable.trainTwoLevel(
      plantedWith(8L, Array(-0.1)), nlist = 3, iters = 2))
    assert(messages(ragged).contains("trainTwoLevel/supers: ragged vector in cell") &&
      messages(ragged).contains("has width 1, expected 2"), messages(ragged))
  }

  test("trainThreeLevel checks its input before the ML super fit") {
    import graft.operators.SimilaritySearch
    val nul = intercept[IllegalArgumentException](SimilaritySearch
      .trainThreeLevel(plantedWith(7L, null), nlist = 3, iters = 2))
    assert(nul.getMessage.contains("trainThreeLevel: 1 null training vectors"))
    val ragged = intercept[IllegalArgumentException](SimilaritySearch
      .trainThreeLevel(plantedWith(8L, Array(-0.1)), nlist = 3, iters = 2))
    assert(ragged.getMessage.contains(
      "trainThreeLevel: ragged or empty training vectors, widths 1 to 2"))
  }

  test("iteration count is the only knob: 1 iter != 3 iters under bad init") {
    // both first-k seeds start inside cluster A, so the first mean
    // update drags seed 1 toward cluster B and later iterations
    // re-assign — guards against an implementation that ignores
    // `iters` (the well-seeded `planted` set converges in one step)
    val badInit = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.4, 0.0)),
      (2L, Array(10.0, 10.0)), (3L, Array(10.2, 9.8)),
      (4L, Array(9.8, 10.2)), (5L, Array(0.1, 0.1))
    ).toDF("vec_id", "embedding")
    val m1 = KMeansPortable.trainModel(badInit, k = 2, iters = 1)
    val m3 = KMeansPortable.trainModel(badInit, k = 2, iters = 3)
    assert(m1.centroids.flatten[Double].toSeq !=
      m3.centroids.flatten[Double].toSeq)
  }

  test("relational two-level trainer: children-as-a-relation Lloyd ≡ trainTwoLevelFromBase exactly, and the relational argmin ≡ assignChildren (round 15 — the q104 parity contract)") {
    import graft.operators.SimilaritySearch
    // 30 vectors in 3 direction clusters; nlist = 5 with auto supers
    // = 3 exercises a non-trivial allocation and grouping
    val df = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4) { d =>
        (if (d == c) 10.0 else 0.0) + 0.01 * ((i * 7 + d * 3) % 11)
      })
    }.toDF("vec_id", "embedding")
    val base = KMeansPortable.shapedBase(df, "vec_id", "embedding")
    val tl = KMeansPortable.trainTwoLevelFromBase(base, nlist = 5,
      iters = 3)
    val rel = KMeansPortable.trainTwoLevelRelationalFromBase(base,
      nlist = 5, iters = 3)
    // supers are the SAME fit (one trainModelFromBase site)
    assert(rel.supers.flatten.toSeq === tl.supers.flatten.toSeq)
    // the child relation IS the driver-resident child matrix: same
    // cells, same centroids, same super grouping
    val rows = rel.childRel.collect()
      .map(r => r.getInt(1) -> (r.getInt(0), r.getSeq[Double](2).toSeq))
      .toMap
    assert(rows.keySet === tl.children.indices.toSet)
    tl.children.indices.foreach { j =>
      assert(rows(j)._2 === tl.children(j).toSeq, s"cell $j centroid")
    }
    tl.groups.indices.foreach { s =>
      assert(rows.filter(_._2._1 == s).keys.toSeq.sorted ===
        tl.groups(s).toSeq.sorted, s"super $s group")
    }
    // the relational equi-join argmin assigns every row to the SAME
    // cell as the broadcast candidate-array fold
    val routed = base.withColumn("super",
      KMeansPortable.cellExpr(col("vec"), col("n2"), tl.supers))
    val a1 = KMeansPortable.assignChildren(routed, tl.children,
        tl.groups)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = KMeansPortable.assignChildrenRelational(routed,
        rel.childRel)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2)
    // decimal arithmetic keeps the relational loop partitioning-proof
    val rel2 = KMeansPortable.trainTwoLevelRelationalFromBase(
      KMeansPortable.shapedBase(df.repartition(13), "vec_id",
        "embedding"), nlist = 5, iters = 3)
    val rows2 = rel2.childRel.collect()
      .map(r => r.getInt(1) -> r.getSeq[Double](2).toSeq).toMap
    tl.children.indices.foreach { j =>
      assert(rows2(j) === tl.children(j).toSeq)
    }
    assert(rel.isInstanceOf[SimilaritySearch.RelationalCoarse])
  }

  test("autoProbeSupers: the p >= nprobe*S/nlist operating rule, clamped to [1, S]") {
    import KMeansPortable.autoProbeSupers
    // small nprobe: one super's pool suffices
    assert(autoProbeSupers(2, 8, 3) === 1)
    // the measured 100x held-fraction point: nprobe=156, nlist=782,
    // S=28 -> ceil(156*28/782) = 6 (SCALE.md round 12: p=2 reads
    // 0.306 vs flat 0.817 there — the capped-pool violation)
    assert(autoProbeSupers(156, 782, 28) === 6)
    // the 10x point: nprobe=15, nlist=79, S=9 -> 2 is already tight
    assert(autoProbeSupers(15, 79, 9) === 2)
    // nprobe = nlist wants every super
    assert(autoProbeSupers(8, 8, 3) === 3)
    // clamped at S even when the arithmetic asks for more
    assert(autoProbeSupers(100, 10, 4) === 4)
  }
}
