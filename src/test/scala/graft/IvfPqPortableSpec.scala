package graft

import graft.operators.IvfPqPortable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Portable end-to-end IVF-PQ (q85's operator): the invariants its SQL
  * oracle can't state — degeneration to exact search, partitioning
  * determinism, planted-duplicate recall, and the loud dim/m guard.
  */
class IvfPqPortableSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 8

  /** 30 deterministic vectors in 3 well-separated direction clusters
    * (axis bundles 0-1, 2-3, 4-5), each member a slightly rotated copy
    * — cosine structure is unambiguous and no rounded score sits near
    * a tie boundary. */
  private def corpus = (0 until 30).map { i =>
    val c = i % 3
    val v = Array.tabulate(dim) { d =>
      val base = if (d == 2 * c) 10.0 else if (d == 2 * c + 1) 3.0 else 0.0
      base + 0.01 * ((i * 7 + d * 3) % 11)
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  private def localTopK(rows: Seq[(Long, Array[Double])], anchors: Seq[Long],
      k: Int): Map[Long, Seq[(Long, Double)]] = {
    def score(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = rows.toMap
    anchors.map { a =>
      a -> rows.filter(_._1 != a)
        .map { case (id, v) => (id, score(byId(a), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
    }.toMap
  }

  test("nprobe=nlist + rerank>=corpus degenerates to exact top-k") {
    val out = IvfPqPortable.topK(corpus, col("id") < 3, k = 5,
        nlist = 3, coarseIters = 2, m = 4, ksub = 4, subIters = 2,
        nprobe = 3, rerank = 30)
      .orderBy(col("anchor_id"), col("rank")).collect()
    val expect = localTopK(
      corpus.as[(Long, Array[Double])].collect().toSeq, Seq(0L, 1L, 2L), 5)
    assert(out.length === 15)
    out.foreach { r =>
      val (a, rk) = (r.getLong(0), r.getInt(1))
      val (eid, es) = expect(a)(rk - 1)
      assert(r.getLong(2) === eid, s"anchor $a rank $rk neighbor")
      assert(math.abs(r.getDouble(3) - es) < 2e-6, s"anchor $a rank $rk score")
    }
  }

  test("partitioning-proof: repartition(13) gives identical rows") {
    def run(df: org.apache.spark.sql.DataFrame) =
      IvfPqPortable.topK(df, col("id") < 3, k = 4, nlist = 3,
          coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 2,
          rerank = 8)
        .orderBy(col("anchor_id"), col("rank")).collect().toSeq
    assert(run(corpus) === run(corpus.repartition(13)))
  }

  test("planted near-duplicate surfaces at rank 1 even at nprobe=1") {
    // id 100 is a tiny perturbation of id 0: same cell by
    // construction, so the narrowest probe still finds it first
    val planted = corpus.union(Seq(
      (100L, Array.tabulate(dim)(d =>
        (if (d == 0) 10.0 else if (d == 1) 3.0 else 0.0) + 0.001 * d))
    ).toDF("vec_id", "embedding"))
    val out = IvfPqPortable.topK(planted, col("id") === 100L, k = 3,
        nlist = 3, coarseIters = 3, m = 4, ksub = 4, subIters = 2,
        nprobe = 1, rerank = 16)
      .orderBy(col("rank")).collect()
    assert(out.nonEmpty)
    assert(out(0).getLong(2) % 3 === 0L,
      "rank-1 neighbor must come from the planted axis-0 cluster")
    assert(out(0).getDouble(3) > 0.999, "near-dup cosine")
  }

  test("m must divide dim, loudly") {
    val e = intercept[IllegalArgumentException] {
      IvfPqPortable.topK(corpus, col("id") < 3, k = 2, nlist = 2,
        coarseIters = 1, m = 3, ksub = 2, subIters = 1, nprobe = 1,
        rerank = 4)
    }
    assert(e.getMessage.contains("must divide dim"))
  }

  test("a null or ragged vector fails the walk and the relational tier with an error naming the entry point") {
    def withVec(id: Long, v: Array[Double]) =
      corpus.as[(Long, Array[Double])]
        .map { case (i, x) => (i, if (i == id) v else x) }
        .toDF("vec_id", "embedding")
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    val entryPoints = Seq[(String, org.apache.spark.sql.DataFrame => Unit)](
      "topKTwoLevelWalkPq" -> (df => IvfPqPortable.topKTwoLevelWalkPq(df,
        col("id") < 3, k = 2, nlist = 4, coarseIters = 1, m = 2, ksub = 4,
        subIters = 1, ladder = Seq((1, 2, 8)), floor = 1.0).collect()),
      "topKCoarseRelational" -> (df => IvfPqPortable.topKCoarseRelational(
        df, col("id") < 3, k = 2, nlist = 4, iters = 1, nprobe = 2)
        .collect()))
    for ((site, run) <- entryPoints;
         (bad, cause) <- Seq((null, "has NULL"), (Array(1.0, 2.0, 3.0), "has 3"))) {
      val e = intercept[Exception](run(withVec(29L, bad)))
      assert(messages(e).contains(s"IvfPqPortable.$site: non-uniform vector " +
        s"set — probed dim=$dim, but id 29 $cause"), messages(e))
    }
  }

  test("ranks are dense 1..k per anchor") {
    val out = IvfPqPortable.topK(corpus, col("id") < 4, k = 6,
        nlist = 2, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 2, rerank = 12)
      .collect().groupBy(_.getLong(0))
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    out.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to 6))
    }
  }

  test("topKTwoLevelAdmit: trainPred ≡ all degenerates to topKTwoLevel exactly; a corpus-trained index finds batch-side near-dups both ways") {
    val r = new scala.util.Random(31)
    val base = (0 until 120).map(i =>
      (i.toLong, Array.fill(4)(r.nextDouble() * 2 - 1)))
    // a batch-side near-dup pair: 118 ≈ 5 (batch echoes a corpus
    // vector), plus 119 ≈ 118 (batch echoes batch)
    val rows = base.map { case (i, v) =>
      if (i == 118) (i, base(5)._2.map(_ + 1e-3))
      else if (i == 119) (i, base(5)._2.map(_ + 2e-3))
      else (i, v)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    // trainPred ≡ all rows: the admission statement degenerates to
    // the one-domain operator value-for-value
    assert(collect(IvfPqPortable.topKTwoLevelAdmit(emb, lit(true),
        col("id") < 6, k = 3, nlist = 4, coarseIters = 2, m = 2,
        ksub = 4, subIters = 2, nprobe = 2, rerank = 8))
      === collect(IvfPqPortable.topKTwoLevel(emb, col("id") < 6, k = 3,
        nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 2, rerank = 8)))
    // and the degeneracy holds at probeSupers > 1 — the multi-super
    // knob threads the admission split like every other two-level
    // query path
    assert(collect(IvfPqPortable.topKTwoLevelAdmit(emb, lit(true),
        col("id") < 6, k = 3, nlist = 4, coarseIters = 2, m = 2,
        ksub = 4, subIters = 2, nprobe = 2, rerank = 8,
        probeSupers = 2))
      === collect(IvfPqPortable.topKTwoLevel(emb, col("id") < 6, k = 3,
        nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 2, rerank = 8, probeSupers = 2)))
    // corpus-trained (id < 110), batch admitted (110+): a CORPUS
    // anchor finds its admitted near-dup, and an ADMITTED anchor
    // finds both its corpus original and its batch sibling — the
    // admitted rows are full citizens of the index
    val admit = IvfPqPortable.topKTwoLevelAdmit(emb, col("id") < 110,
      col("id") === 5 || col("id") === 118, k = 2, nlist = 4,
      coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 2,
      rerank = 8).collect()
    val by = admit.groupBy(_.getAs[Long]("anchor_id"))
    assert(by(5L).map(_.getAs[Long]("neighbor_id")).toSet === Set(118L, 119L))
    assert(by(118L).map(_.getAs[Long]("neighbor_id")).toSet === Set(5L, 119L))
    emb.unpersist()
  }

  test("topKAuto: flat at the dispatch boundary, two-level past it, door ≡ the manual calls (the semanticDedupAuto pattern at the ANN site)") {
    val r = new scala.util.Random(17)
    def bigCorpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(4)(r.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    val pred = col("id") < 5
    // n = 512 at targetCellSize 4 → auto nlist 128 = the boundary →
    // FLAT: the door must reproduce the manual flat call exactly
    val at = bigCorpus(512).cache()
    assert(rows(IvfPqPortable.topKAuto(at, pred, k = 3, coarseIters = 2,
        m = 2, ksub = 4, subIters = 2, nprobe = 2, rerank = 8,
        targetCellSize = 4))
      === rows(IvfPqPortable.topK(at, pred, k = 3, nlist = 128,
        coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 2,
        rerank = 8)))
    // n = 520 → auto nlist 130 > 128 → TWO-LEVEL, probeSupers
    // threaded through
    val past = bigCorpus(520).cache()
    assert(rows(IvfPqPortable.topKAuto(past, pred, k = 3,
        coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 2,
        rerank = 8, targetCellSize = 4, probeSupers = 2))
      === rows(IvfPqPortable.topKTwoLevel(past, pred, k = 3,
        nlist = 130, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 2, rerank = 8, probeSupers = 2)))
    // default probeSupers = -1 resolves by the POOL RULE at the S
    // the dispatched trainer builds: nlist = 130 → S = ⌈√130⌉ = 12;
    // nprobe = 22 → p = ⌈22·12/130⌉ = 3 — the door must equal the
    // manual p = 3 call (and NOT the p = 1 it would silently cap at
    // before round 12's rule became the default)
    assert(graft.operators.KMeansPortable.autoProbeSupers(22, 130,
      graft.operators.KMeansPortable.defaultSupers(130)) === 3)
    assert(rows(IvfPqPortable.topKAuto(past, pred, k = 3,
        coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 22,
        rerank = 8, targetCellSize = 4))
      === rows(IvfPqPortable.topKTwoLevel(past, pred, k = 3,
        nlist = 130, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 22, rerank = 8, probeSupers = 3)))
    at.unpersist(); past.unpersist()
  }

  test("topKTwoLevelWalk: rung recalls equal the independently-run tiers' under the same decimal arithmetic; the early stop and chosen replay the sizing rule") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("id") < 20
    val ladder = Seq((1, 2), (2, 2))
    // floor 1.0: PQ distortion keeps these knobs' recall well under 1
    // (the AnnRecallSpec-measured 0.3 band), so both rungs evaluate
    // and the exhausted walk marks its LAST rung chosen
    val walk = IvfPqPortable.topKTwoLevelWalk(emb, pred, 5, 8, 2, 4, 8,
      2, 16, ladder, floor = 1.0).collect()
    assert(walk.length == 2)
    assert(walk.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(walk.map(r => (r.getInt(1), r.getInt(2))).toSeq == ladder)
    assert(!walk(0).getBoolean(4) && walk(1).getBoolean(4))
    // parity: each rung's recall IS the independently-run tier's
    // recall against the walk's own decimal-exact ground truth
    val exact = IvfPqPortable.exactTopKDecimal(emb, pred, 5)
    ladder.zipWithIndex.foreach { case ((p, np), i) =>
      val tier = IvfPqPortable.topKTwoLevel(emb, pred, 5, 8, 2, 4, 8,
        2, np, 16, probeSupers = p)
      val expect = BigDecimal(
        graft.operators.SimilaritySearch.meanRecall(tier, exact))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(walk(i).getDouble(3) == expect,
        s"rung $i recall ${walk(i).getDouble(3)} != tier's $expect")
    }
    // a floor below rung 0's recall stops the walk immediately: one
    // row, chosen, later rungs never evaluated
    val one = IvfPqPortable.topKTwoLevelWalk(emb, pred, 5, 8, 2, 4, 8,
      2, 16, ladder, floor = 0.01).collect()
    assert(one.length == 1 && one(0).getBoolean(4) &&
      one(0).getInt(0) == 0)
  }

  test("topKTwoLevelWalkPq: a constant-rerank ladder reproduces topKTwoLevelWalk rung-for-rung (plus the rerank column); per-rung rerank changes the measured recall (round 15 — the q105 generalization)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("id") < 20
    val ladder2 = Seq((1, 2), (2, 2), (2, 4))
    val a = IvfPqPortable.topKTwoLevelWalk(emb, pred, 5, 8, 2, 4, 8,
      2, 16, ladder2, floor = 1.0).collect()
    val b = IvfPqPortable.topKTwoLevelWalkPq(emb, pred, 5, 8, 2, 4, 8,
      2, ladder2.map { case (p, np) => (p, np, 16) }, floor = 1.0)
      .collect()
    assert(b.length == a.length)
    a.indices.foreach { i =>
      assert((b(i).getInt(0), b(i).getInt(1), b(i).getInt(2)) ===
        ((a(i).getInt(0), a(i).getInt(1), a(i).getInt(2))))
      assert(b(i).getInt(3) === 16) // the new knob column
      assert(b(i).getDouble(4) === a(i).getDouble(3))
      assert(b(i).getBoolean(5) === a(i).getBoolean(4))
    }
    // the third knob is live: a rung at rerank = 1 cannot out-recall
    // the same (p, nprobe) rung at rerank = corpus (monotone in the
    // shortlist width, and on this corpus strictly better)
    val narrow = IvfPqPortable.topKTwoLevelWalkPq(emb, pred, 5, 8, 2,
      4, 8, 2, Seq((1, 2, 1)), floor = 1.0).collect()
    val wide = IvfPqPortable.topKTwoLevelWalkPq(emb, pred, 5, 8, 2,
      4, 8, 2, Seq((1, 2, 1000)), floor = 1.0).collect()
    assert(narrow(0).getDouble(4) < wide(0).getDouble(4),
      s"rerank 1 recall ${narrow(0).getDouble(4)} !< " +
        s"rerank 1000 recall ${wide(0).getDouble(4)}")
  }

  test("topKCoarseRelational ≡ the driver-resident twin (trainTwoLevelFromBase + probeChildrenMulti at p=1 + exact decimal rerank) — the q104 serve parity") {
    import graft.operators.{KMeansPortable, SimilaritySearch}
    import org.apache.spark.sql.graft.RhpExpressions
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("id") < 10
    val out = IvfPqPortable.topKCoarseRelational(emb, pred, k = 5,
        nlist = 8, iters = 2, nprobe = 2)
      .orderBy(col("anchor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // the twin: driver-resident training + the portable probe/argmin
    // kernels + the same decimal cosine rerank
    val base = KMeansPortable.shapedBase(emb, "vec_id", "embedding")
    val tl = KMeansPortable.trainTwoLevelFromBase(base, 8, 2)
    val routed = base.withColumn("super",
      KMeansPortable.cellExpr(col("vec"), col("n2"), tl.supers))
    val assigned = KMeansPortable.assignChildren(routed, tl.children,
      tl.groups)
    val probe = KMeansPortable.probeChildrenMulti(routed.filter(pred),
        tl.supers, tl.children, tl.groups, nprobe = 2, probeSupers = 1)
      .select(col("id").as("anchor_id"), col("vec").as("a_vec"),
        col("n2").as("a_n2"), col("cell"))
    val cands = probe.join(assigned.select(col("cell"),
        col("id").as("neighbor_id"), col("vec").as("n_vec"),
        col("n2").as("n_n2")), Seq("cell"))
      .filter(col("anchor_id") =!= col("neighbor_id"))
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("a_vec"), col("n_vec")) /
          (sqrt(col("a_n2")) * sqrt(col("n_n2"))), 6))
      .select(col("anchor_id"), col("neighbor_id"), col("score"))
    val twin = SimilaritySearch.rankTopK(cands, 5)
      .orderBy(col("anchor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === twin.toSeq)
    assert(out.nonEmpty)
    // deployment split: the SAME serve from a STORED assignment
    // bucketed by cell — identical values, and the candidate join
    // reads the bucketed store with NO corpus-side exchange (the
    // q91 discipline on the portable relational chain)
    val rel = KMeansPortable.trainTwoLevelRelationalFromBase(base, 8, 2)
    val assignedRel = KMeansPortable.assignChildrenRelational(
      base.withColumn("super",
        KMeansPortable.cellExpr(col("vec"), col("n2"), rel.supers)),
      rel.childRel)
    val t = "b_q104_assigned"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (loc.exists()) rm(loc)
    graft.sources.Sinks.writeBucketed(assignedRel, t, "cell", 4)
    val stored = spark.table(t)
    val fromStore = IvfPqPortable.topKCoarseRelationalIndexed(stored,
        pred, 5, rel, nprobe = 2)
      .orderBy(col("anchor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(fromStore.toSeq === out.toSeq)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val q = IvfPqPortable.topKCoarseRelationalIndexed(stored, pred,
        5, rel, nprobe = 2)
      def bucketed(p: SparkPlan): Boolean = p.collectFirst {
        case s: FileSourceScanExec if s.bucketedScan => s
      }.isDefined
      val plan = q.queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "cell")) &&
            (bucketed(j.left) || bucketed(j.right)) => j
        case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "cell")) &&
            (bucketed(j.left) || bucketed(j.right)) => j
      }
      assert(joins.nonEmpty,
        s"expected a shuffled cell join over the bucketed store in:\n$plan")
      joins.foreach { j =>
        val side = if (bucketed(j.left)) j.left else j.right
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"corpus-side exchange:\n$side")
      }
    }
  }
}
