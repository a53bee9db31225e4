package graft

import graft.operators.{IvfPqPortable, RecallWalk, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one recall-sizing walk: the stop rule on stub recalls (no
  * corpus), and the seeded-hash anchor sample on a small relation. */
class RecallWalkSpec extends SparkSpec {

  /** `climb` over `recalls` (rung i has recall `recalls(i)`), with the
    * rungs the stub was asked for. */
  private def walk(recalls: Seq[Double], floor: Double) = {
    val asked = Vector.newBuilder[Int]
    val c = RecallWalk.climb("spec", recalls.indices, floor) { i =>
      asked += i; recalls(i)
    }
    (c, asked.result())
  }

  test("climb stops at the first rung >= floor and probes only the evaluated prefix") {
    val (c, asked) = walk(Seq(0.2, 0.5, 0.91, 0.95, 1.0), floor = 0.91)
    assert(c.floorMet)
    assert(c.trail === Seq((0, 0.2), (1, 0.5), (2, 0.91)))
    assert(asked === Seq(0, 1, 2))
    // a first rung already at the floor is the whole walk
    val (first, askedFirst) = walk(Seq(0.95, 0.99), floor = 0.9)
    assert(first.trail === Seq((0, 0.95)) && first.floorMet)
    assert(askedFirst === Seq(0))
  }

  test("a ladder that never meets the floor returns every rung with floorMet = false") {
    val recalls = Seq(0.1, 0.3, 0.6, 0.89)
    val (c, asked) = walk(recalls, floor = 0.9)
    assert(!c.floorMet)
    assert(c.trail === recalls.zipWithIndex.map(_.swap))
    assert(asked === recalls.indices)
    // NaN never meets a floor
    val (nan, _) = walk(Seq(Double.NaN, 1.0), floor = 1.0)
    assert(nan.trail.map(_._1) === Seq(0, 1) && nan.floorMet)
  }

  test("a dip then a hit stops at the hit: recall is never assumed monotone") {
    val (c, asked) = walk(Seq(0.3, 0.7, 0.5, 0.92, 0.4, 0.99), floor = 0.9)
    assert(c.floorMet)
    assert(c.trail.map(_._2) === Seq(0.3, 0.7, 0.5, 0.92))
    assert(asked === Seq(0, 1, 2, 3))
  }

  test("climb rejects a floor outside (0, 1] and an empty ladder before probing") {
    var probed = 0
    Seq(0.0, -0.1, 1.0001, Double.NaN).foreach { f =>
      val e = intercept[IllegalArgumentException] {
        RecallWalk.climb("spec", Seq(1, 2), f) { _ => probed += 1; 1.0 }
      }
      assert(e.getMessage.contains("recall floor must be in (0, 1]"))
    }
    val e = intercept[IllegalArgumentException] {
      RecallWalk.climb("spec", Seq.empty[Int], 0.5) { _ => probed += 1; 1.0 }
    }
    assert(e.getMessage.contains("non-empty"))
    assert(probed === 0)
  }

  private def feat: DataFrame = {
    import spark.implicits._
    (0L until 200L).map { i =>
      (i, Array(math.sin(i.toDouble), math.cos(i * 0.5), 1.0 + i % 7))
    }.toDF("id", "vec")
  }

  test("anchorSample: seeded-hash order, the same ids at 1 and at 4 partitions, cached exact top-k") {
    val pred = col("id") < 150
    val one = RecallWalk.anchorSample(feat.repartition(1), pred, 10, 3, "spec")
    val four = RecallWalk.anchorSample(feat.repartition(4), pred, 10, 3, "spec")
    assert(one.ids === four.ids)
    // the reference: the 10 anchors with the smallest (xxhash64(id), id)
    val expected = feat.filter(pred)
      .select(col("id"), xxhash64(col("id")).as("h")).collect()
      .map(r => (r.getLong(1), r.getLong(0))).sorted.take(10).map(_._2)
    assert(one.ids.toSet === expected.toSet)
    assert(one.ids.toSet !== (0L until 10L).toSet,
      "the sample must not be the lowest-id prefix")
    assert(four.rows.filter(four.pred).count() === 10L)
    val truth = four.exact.select("anchor_id", "neighbor_id").collect()
    assert(truth.map(_.getLong(0)).toSet === expected.toSet)
    assert(truth.length === 30)
  }

  test("anchorSample rejects maxAnchors < 1 and names the site on an empty sample") {
    val e = intercept[IllegalArgumentException] {
      RecallWalk.anchorSample(feat, lit(true), 0, 3, "spec")
    }
    assert(e.getMessage.contains("maxAnchors must be >= 1"))
    val empty = intercept[IllegalArgumentException] {
      RecallWalk.anchorSample(feat, col("id") < 0, 8, 3, "sizeSpecSite")
    }
    assert(empty.getMessage.contains("sizeSpecSite: empty anchor sample"))
  }

  test("sizers and the portable walk check floor and ladder before reading any row") {
    // a row read fails in a task (a SparkException), not as the argument error
    val boom = feat.select(udf { (i: Long) =>
      if (i >= 0) throw new IllegalStateException("row read"); i
    }.apply(col("id")).as("id"), col("vec"))
    def argError(f: => Any) = intercept[IllegalArgumentException](f).getMessage
    def walk(ladder: Seq[(Int, Int)], floor: Double) =
      IvfPqPortable.topKTwoLevelWalk(boom, lit(true), 3, 4, 2, 1, 2, 2, 4,
        ladder, floor, idCol = "id", vecCol = "vec")
    assert(argError(SimilaritySearch.sizeTwoLevelForRecall(boom, lit(true),
      3, 1.5, 4, idCol = "id", vecCol = "vec")).contains("recall floor"))
    assert(argError(walk(Seq((1, 1)), 0.0)).contains("recall floor"))
    assert(argError(walk(Seq.empty, 0.9)).contains("non-empty"))
  }

  test("sizeTwoLevelForRecall clamps nprobe0 into [1, nlist] as the other sizers do") {
    val pt = SimilaritySearch.sizeTwoLevelForRecall(feat, col("id") < 150,
      3, floor = 1.0, nlist = 2, nprobe0 = 4, idCol = "id", vecCol = "vec",
      maxAnchors = 8)
    assert(pt.walk.head.nprobe === 2 && pt.floorMet && pt.recall === 1.0)
  }
}
