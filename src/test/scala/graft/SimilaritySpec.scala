package graft

import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** Dual-implementation validation (the reference's own pattern:
  * precompute_similar_tracks.py:158-193 — GPU kernel vs numpy, tol
  * 5e-3): Spark results checked against a plain-Scala brute force.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def mkVec(seed: Int, dim: Int = 8): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2 - 1)
  }

  // 40 random vectors + planted structure: 100≈101 (near-identical),
  // labels split by seed parity.
  private lazy val data: Seq[(Long, Array[Float], Int)] = {
    val base = (0 until 40).map(i => (i.toLong, mkVec(i), i % 2))
    val nearDup = {
      val v = mkVec(100)
      val w = v.clone(); w(0) += 0.001f
      Seq((100L, v, 0), (101L, w, 0))
    }
    base ++ nearDup
  }
  private lazy val emb = data.toDF("vec_id", "embedding", "label")

  private def refCosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  test("cosineTopK matches scala brute force (tol 5e-3, top-5 overlap)") {
    val anchors = emb.filter($"vec_id" < 3 || $"vec_id" === 100)
    val got = SimilaritySearch.cosineTopK(emb, anchors, 5)
      .collect().groupBy(_.getAs[Long]("anchor_id"))
    val byId = data.map(d => d._1 -> d._2).toMap
    for (aid <- Seq(0L, 1L, 2L, 100L)) {
      val ref = data.filter(_._1 != aid)
        .map(d => (d._1, refCosine(byId(aid), d._2)))
        .sortBy(x => (-x._2, x._1)).take(5)
      val gotRows = got(aid).sortBy(_.getAs[Int]("rank"))
      assert(gotRows.map(_.getAs[Long]("neighbor_id")).toSeq === ref.map(_._1),
        s"anchor $aid neighbor order")
      gotRows.zip(ref).foreach { case (r, (_, s)) =>
        assert(math.abs(r.getAs[Double]("score") - s) < 5e-3)
      }
    }
  }

  test("planted near-dup is its anchor's top neighbor with score≈1") {
    val got = SimilaritySearch.cosineTopK(emb, emb.filter($"vec_id" === 100), 1)
      .collect()(0)
    assert(got.getAs[Long]("neighbor_id") === 101L)
    assert(got.getAs[Double]("score") > 0.999)
  }

  test("lshCosineTopK finds the near-identical pair (recall on dups)") {
    val got = SimilaritySearch.lshCosineTopK(emb, col("id") === 100, 3)
      .collect()
    // identical vectors share every LSH bucket → guaranteed candidate
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("lshCosineTopK: VECTOR-referencing anchor predicates work (ADVICE r7 restored)") {
    // anchor selected by a property of the embedding itself, not the
    // id — the pre-id-only-banding contract, restored via the
    // broadcast anchor-id semi-join; id 100's planted dup must
    // surface exactly as with the id predicate
    val idPred = SimilaritySearch.lshCosineTopK(emb, col("id") === 100, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val vec100 = data.find(_._1 == 100L).get._2
    val vecPred = SimilaritySearch.lshCosineTopK(emb,
        abs(element_at(col("vec"), 1) - vec100(0)) < 1e-12 &&
          col("id") =!= 101L, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // the vector predicate selects id 100 (its first component is
    // unique among non-dups); same anchor → same ranked neighbors
    assert(vecPred === idPred)
  }

  test("knnClassify labels an anchor by neighbor majority") {
    val anchorVec = data.find(_._1 == 100L).get._2
    val top3 = data.filter(_._1 != 100L)
      .map(d => (d._1, refCosine(anchorVec, d._2), d._3))
      .sortBy(x => (-x._2, x._1)).take(3)
    // majority label, tie → smaller label (mirrors the operator's pin)
    val expected = top3.groupBy(_._3).toSeq
      .maxBy { case (lbl, rows) => (rows.size, -lbl) }._1
    val got = SimilaritySearch.knnClassify(emb, emb.filter($"vec_id" === 100), 3)
      .collect()(0)
    assert(got.getAs[Int]("predicted_label") === expected)
  }

  test("native CosineSimilarity expression matches the HOF formulation") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.graft.VectorExpressions
    val pairs = emb.as("a").crossJoin(emb.as("b")).select(
      VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("hof"),
      VectorExpressions.cosine(col("a.embedding"), col("b.embedding")).as("native"))
    val bad = pairs.filter(abs(col("hof") - col("native")) > 1e-12).count()
    assert(bad === 0)
    // SQL registration path
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      "SELECT max(graft_cosine(a.embedding, b.embedding)) FROM emb_t a JOIN emb_t b ON a.vec_id <> b.vec_id")
      .collect()(0).getDouble(0)
    assert(viaSql > 0.999)  // the planted near-dup pair
  }

  test("native RandomHyperplaneSignature is byte-identical to the HOF fold") {
    import org.apache.spark.sql.graft.SignatureExpressions
    val numPlanes = 8
    // the interpreted formulation the native expression replaced
    def planeComponent(t: Int, m: Int, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(t), lit(m), i), lit(2001L)) - 1000L)
        .cast("double") / 1000.0
    def hofKey(vec: org.apache.spark.sql.Column, t: Int) =
      (0 until numPlanes).map { m =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * planeComponent(t, m, i)),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1 << m)).otherwise(lit(0))
      }.reduce(_ + _)
    for (t <- 0 until 3) {
      val bad = emb.select(
          hofKey(col("embedding"), t).as("hof"),
          SignatureExpressions.randomHyperplaneSignature(
            col("embedding"), numPlanes, t).as("native"))
        .filter(col("hof") =!= col("native")).count()
      assert(bad === 0, s"table $t")
    }
  }

  test("ivfCosineTopK: nprobe=nlist is exact; partial probe finds the dup") {
    // probing every cell must reproduce the exact brute force
    val exact = SimilaritySearch.cosineTopK(emb, emb.filter($"vec_id" < 3), 5)
      .collect().map(_.toSeq).toSet
    val full = SimilaritySearch.ivfCosineTopK(emb, col("id") < 3, 5,
        nlist = 4, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(full === exact)
    // near-identical vectors share a cell → found even at nprobe=1
    val partial = SimilaritySearch.ivfCosineTopK(emb, col("id") === 100, 1,
        nlist = 4, nprobe = 1)
      .collect()
    assert(partial.nonEmpty)
    assert(partial(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("ivfCosineTopKTwoLevel: supers=1 + nprobe=nlist is exact; partial probe finds the dup at auto supers") {
    // one super holds every child, probing every cell → the exact
    // brute force (the flat path's own invariant, at the two-level
    // structure's degenerate point)
    val exact = SimilaritySearch.cosineTopK(emb, emb.filter($"vec_id" < 3), 5)
      .collect().map(_.toSeq).toSet
    val full = SimilaritySearch.ivfCosineTopKTwoLevel(emb, col("id") < 3, 5,
        nlist = 4, nprobe = 4, supers = 1)
      .collect().map(_.toSeq).toSet
    assert(full === exact)
    // the real structure (auto supers = 2): near-identical vectors
    // route to the same super and share a child cell → found at
    // nprobe=1 with the probe restricted to the routed super
    val partial = SimilaritySearch.ivfCosineTopKTwoLevel(emb,
        col("id") === 100, 1, nlist = 4, nprobe = 1)
      .collect()
    assert(partial.nonEmpty)
    assert(partial(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("ivfPqTopKScoreTwoLevel: supers=1 query path ≡ flat ivfPqTopKScore over the same centroids; auto supers recalls the dup") {
    val pred = col("id") < 3 || col("id") === 100
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // supers=1 pins QUERY-path parity on shared artifacts: the
    // route+assign map, the equi-join probe, residual-ADC against
    // child centroids, shortlist and rerank must reproduce the flat
    // path value-for-value when one super holds every child
    val tl = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
      nlist = 4, m = 2, ksub = 4, residual = true, supers = 1)
    assert(tl.coarse.supers.length === 1)
    val flat = SimilaritySearch.IvfPqArtifacts(tl.codebooks,
      tl.coarse.children, residual = true)
    val a = rows(SimilaritySearch.ivfPqTopKScoreTwoLevel(emb, pred,
      k = 3, tl, nprobe = 2, rerank = 8))
    val b = rows(SimilaritySearch.ivfPqTopKScore(emb, pred, k = 3,
      flat, nprobe = 2, rerank = 8))
    assert(a === b)
    // the real structure: planted dup survives routing + PQ + rerank
    val auto = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
      nlist = 4, m = 2, ksub = 4, residual = true)
    val got = SimilaritySearch.ivfPqTopKScoreTwoLevel(emb,
        col("id") === 100, 1, auto, nprobe = 2, rerank = 8)
      .collect()
    assert(got.nonEmpty && got(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("TopKByScore is row-identical to window-rank, ties included") {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    import org.apache.spark.sql.expressions.Window
    // many ties (score quantized to 1 decimal) + string ids to force
    // the id tiebreak and the non-long buffer path
    val r = new scala.util.Random(7)
    val rows = (0 until 500).map(i =>
      (s"a${i % 7}", s"n$i", math.rint(r.nextDouble() * 10) / 10))
    val df = rows.toDF("anchor_id", "neighbor_id", "score")
    val viaAgg = df.groupBy($"anchor_id")
      .agg(topKByScore($"score", $"neighbor_id", 5).as("topk"))
      .select($"anchor_id", posexplode($"topk").as(Seq("pos", "e")))
      .select($"anchor_id", ($"pos" + 1).cast("int").as("rank"),
        $"e.id".as("neighbor_id"), $"e.score".as("score"))
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"anchor_id", $"rank", $"neighbor_id", $"score")
    assert(viaAgg.collect().map(_.toSeq).toSet
      === viaWindow.collect().map(_.toSeq).toSet)
    assert(viaAgg.count() === viaWindow.count())
  }

  test("TopKByScore orders NaN like the window formulation (NaN largest)") {
    import org.apache.spark.sql.graft.TopKExpressions.topKByScore
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, Double.NaN), ("a", 3L, 0.5),
      ("a", 4L, Double.NaN), ("a", 5L, 1.0))
      .toDF("anchor_id", "neighbor_id", "score")
    val viaAgg = df.groupBy($"anchor_id")
      .agg(topKByScore($"score", $"neighbor_id", 3).as("topk"))
      .select($"anchor_id", posexplode($"topk").as(Seq("pos", "e")))
      .select($"anchor_id", ($"pos" + 1).cast("int").as("rank"),
        $"e.id".as("neighbor_id"))
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"anchor_id", $"rank", $"neighbor_id")
    // Spark SQL sorts NaN as the largest double: ranks 1,2 are the two
    // NaN rows (id ties ascending), rank 3 the 1.0 row
    assert(viaWindow.collect().map(_.toSeq).toSet ===
      Set(Seq("a", 1, 2L), Seq("a", 2, 4L), Seq("a", 3, 5L)))
    assert(viaAgg.collect().map(_.toSeq).toSet
      === viaWindow.collect().map(_.toSeq).toSet)
  }

  test("cosineNearDupPairs: precision ⊆ brute force; planted dups recalled") {
    import graft.operators.SimilaritySearch
    // brute-force truth over ALL pairs at the same rounded threshold
    val all = emb.select($"vec_id".as("a_id"), $"embedding".as("a_vec"))
      .crossJoin(emb.select($"vec_id".as("b_id"), $"embedding".as("b_vec")))
      .filter($"a_id" < $"b_id")
      .withColumn("score", round(
        org.apache.spark.sql.graft.VectorExpressions.cosine(
          $"a_vec".cast("array<double>"), $"b_vec".cast("array<double>")), 4))
      .filter($"score" >= 0.35)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // recall-tuned banding for this geometry: the 0.35-threshold pairs
    // sit near 70° where per-table match prob is (1−θ/π)^planes —
    // 4 planes × 8 tables ⇒ ~70% bulk recall expectation; 8×6 (the
    // q42 default) trades recall for smaller buckets
    val got = SimilaritySearch.cosineNearDupPairs(emb, threshold = 0.35,
        numPlanes = 4, numTables = 8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // every emitted pair is exact-verified → no false positives
    assert(got.subsetOf(all))
    // the planted near-identical pair (100, 101) shares a bucket with
    // probability ≈ 1 under 8 independent tables
    assert(got.contains((100L, 101L)))
    // and bulk recall on this corpus is substantial, not token
    assert(got.size >= all.size / 2, s"recall ${got.size}/${all.size}")
  }

  test("cosinePairs: non-prefix anchor surfaces its lower-id near-dup; empty input yields empty") {
    // anchor set = {101} alone: its near-identical partner is 100,
    // whose id is SMALLER — the old anchor_id < neighbor_id dedup
    // silently lost the pair for any non-prefix anchor set
    val solo = SimilaritySearch.cosinePairs(emb, $"vec_id" === 101, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(solo === Set((101L, 100L)))
    // both ends anchors: reported exactly once, anchor_id < neighbor_id
    val both = SimilaritySearch.cosinePairs(emb,
        $"vec_id" === 100 || $"vec_id" === 101, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both === Set((100L, 101L)))
    // empty-corpus guard on the portable variant: no head() crash
    val none = SimilaritySearch.cosineNearDupPairsPortable(
      emb.filter($"vec_id" < 0), threshold = 0.35,
      numPlanes = 4, numTables = 2)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("a_id", "b_id", "score"))
  }

  test("portable LSH top-k (q74): planted recall, true-cosine scores, ranked ties") {
    import graft.operators.SimilaritySearch
    // anchor 100's near-identical partner 101 shares every bucket
    // under any plane family — guaranteed candidate, rank 1
    val got = SimilaritySearch.lshCosineTopKPortable(emb,
        col("id") === 100, k = 3, numPlanes = 4, numTables = 8)
      .orderBy(col("rank")).collect()
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("neighbor_id") === 101L)
    assert(got(0).getAs[Double]("score") > 0.999)
    // every emitted score is the true cosine within the decimal
    // discipline's rounding
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    got.foreach { r =>
      val (va, vb) = (vecs(100L), vecs(r.getAs[Long]("neighbor_id")))
      val cos = va.zip(vb).map { case (x, y) => x * y }.sum /
        (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      assert(math.abs(cos - r.getAs[Double]("score")) < 1e-6)
    }
    // ranks are dense from 1 in score order
    assert(got.map(_.getAs[Int]("rank")).toSeq === (1 to got.length))
    // empty input → empty result, correct shape
    val none = SimilaritySearch.lshCosineTopKPortable(
      emb.filter($"vec_id" < 0), col("id") === 0, k = 3,
      numPlanes = 4, numTables = 2)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("anchor_id", "rank", "neighbor_id", "score"))
  }

  test("portable SemDeDup (q76): planted pair groups, survivor is min member") {
    import graft.operators.{Dedup, SimilaritySearch}
    // fixed tiny quantizer — two orthogonal-ish centroids; the planted
    // near-identical pair (100, 101) lands in ONE cell and groups
    val cents = Array(
      Array.tabulate(8)(i => if (i < 4) 1.0 else 0.0),
      Array.tabulate(8)(i => if (i >= 4) 1.0 else 0.0))
    val got = Dedup.semanticDedupPortable(emb, cents, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got.size === emb.count(), "every vector appears exactly once")
    assert(got(100L) === ((100L, true)), "min member keeps")
    assert(got(101L) === ((100L, false)), "near-dup joins 100's group")
    // non-dups are their own singletons
    assert(got(0L) === ((0L, true)))
    // the committed fixture centroids drive the gate — shape sanity
    val fx = SimilaritySearch.loadFixtureArtifacts().coarseCentroids
    assert(fx.length === 16 && fx(0).length === 64)
  }

  test("portable RHP near-dup (q71): planted recall, scores are true cosines") {
    import graft.operators.SimilaritySearch
    val got = SimilaritySearch.cosineNearDupPairsPortable(emb,
        threshold = 0.35, numPlanes = 4, numTables = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the planted near-identical pair is found and scores ≈ 1
    assert(got.contains((100L, 101L)) && got((100L, 101L)) > 0.999)
    // every emitted score is the true cosine to the rounding the
    // operator promises (decimal-summed rounded products vs a plain
    // double computation differ below 1e-9)
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    got.foreach { case ((a, b), s) =>
      val (va, vb) = (vecs(a), vecs(b))
      val cos = va.zip(vb).map { case (x, y) => x * y }.sum /
        (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      assert(math.abs(cos - s) < 1e-6, s"($a,$b): $cos vs $s")
      assert(s >= 0.35)
    }
  }

  test("PQ: codebook shape, compact codes, ADC top-k recalls the planted dup") {
    import graft.operators.SimilaritySearch
    val cb = SimilaritySearch.pqCodebooks(emb, m = 4, ksub = 8)
    assert(cb.length === 4)
    assert(cb.forall(sub => sub.length === 8 && sub.forall(_.length === 2)))
    val codes = SimilaritySearch.pqEncode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size === 42)
    assert(codes.values.forall(c => c.length === 4 &&
      c.forall(x => x >= 0 && x < 8)))
    // near-identical vectors quantize to the same code word
    assert(codes(100L) === codes(101L))
    // ADC + exact rerank finds the planted neighbor at rank 1
    val top = SimilaritySearch.pqCosineTopK(emb, col("id") === 100, k = 3,
        m = 4, ksub = 8, rerank = 16)
      .orderBy($"rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("PQ recall@k vs exact search is substantial at small rerank") {
    import graft.operators.SimilaritySearch
    val k = 5
    val exact = SimilaritySearch.cosineTopK(emb, emb.filter($"vec_id" < 10), k)
      .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    val pq = SimilaritySearch.pqCosineTopK(emb, col("id") < 10, k,
        m = 4, ksub = 8, rerank = 16)
      .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    val recalls = exact.map { case (a, truth) =>
      pq.getOrElse(a, Set.empty).intersect(truth).size.toDouble / truth.size }
    val mean = recalls.sum / recalls.size
    // 8-dim vectors, 4×8 codebooks, rerank 16 of 41: deterministic
    // (fixed seeds) and measured ≈0.8+; floor set conservatively
    assert(mean >= 0.6, s"mean recall@$k = $mean")
  }

  test("IVF+PQ: nprobe=nlist ≡ whole-corpus PQ; partial probe finds the dup") {
    import graft.operators.SimilaritySearch
    val full = SimilaritySearch.pqCosineTopK(emb, col("id") < 5, k = 3,
        m = 4, ksub = 8, rerank = 16)
      .collect().map(_.toSeq).toSet
    val fused = SimilaritySearch.ivfPqTopK(emb, col("id") < 5, k = 3,
        nlist = 4, nprobe = 4, m = 4, ksub = 8, rerank = 16)
      .collect().map(_.toSeq).toSet
    // probing every cell sweeps the same candidates with the same
    // codebooks → identical output
    assert(fused === full)
    // near-identical vectors share a coarse cell → found at nprobe=1
    val partial = SimilaritySearch.ivfPqTopK(emb, col("id") === 100, k = 1,
        nlist = 4, nprobe = 1, m = 4, ksub = 8, rerank = 8)
      .collect()
    assert(partial.nonEmpty)
    assert(partial(0).getAs[Long]("neighbor_id") === 101L)
  }

  test("two-level IVF+PQ artifacts: save/load round-trips bit-exactly; score path unchanged through the text form") {
    import graft.operators.SimilaritySearch
    val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
      nlist = 4, m = 2, ksub = 4, residual = true)
    val sw = new java.io.StringWriter()
    SimilaritySearch.saveArtifactsTwoLevel(art, sw)
    val back = SimilaritySearch.loadArtifactsTwoLevel(
      new java.io.ByteArrayInputStream(sw.toString.getBytes("UTF-8")))
    assert(back.residual === art.residual)
    assert(back.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      art.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(back.coarse.supers.map(_.toSeq).toSeq ===
      art.coarse.supers.map(_.toSeq).toSeq)
    assert(back.coarse.children.map(_.toSeq).toSeq ===
      art.coarse.children.map(_.toSeq).toSeq)
    assert(back.coarse.groups.map(_.toSeq).toSeq ===
      art.coarse.groups.map(_.toSeq).toSeq)
    val direct = SimilaritySearch.ivfPqTopKScoreTwoLevel(emb,
      col("id") < 5, k = 3, art, nprobe = 2, rerank = 16)
      .collect().map(_.toSeq).toSet
    val loaded = SimilaritySearch.ivfPqTopKScoreTwoLevel(emb,
      col("id") < 5, k = 3, back, nprobe = 2, rerank = 16)
      .collect().map(_.toSeq).toSet
    assert(direct === loaded)
  }

  test("IVF+PQ artifacts: save/load round-trips; score path ≡ inline training") {
    import graft.operators.SimilaritySearch
    val art = SimilaritySearch.trainIvfPqArtifacts(emb, nlist = 4, m = 4,
      ksub = 8)
    // text round trip is bit-exact (Double.toString ↔ toDouble)
    val sw = new java.io.StringWriter()
    SimilaritySearch.saveArtifacts(art, sw)
    val back = SimilaritySearch.loadArtifacts(
      new java.io.ByteArrayInputStream(sw.toString.getBytes("UTF-8")))
    assert(back.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      art.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(back.coarseCentroids.map(_.toSeq).toSeq ===
      art.coarseCentroids.map(_.toSeq).toSeq)
    // the deployment path (artifacts in) produces exactly what the
    // train-inline wrapper produces with the same seeds
    val viaArtifacts = SimilaritySearch.ivfPqTopKScore(emb, col("id") < 5,
        k = 3, art, nprobe = 4, rerank = 16)
      .collect().map(_.toSeq).toSet
    val inline = SimilaritySearch.ivfPqTopK(emb, col("id") < 5, k = 3,
        nlist = 4, nprobe = 4, m = 4, ksub = 8, rerank = 16)
      .collect().map(_.toSeq).toSet
    assert(viaArtifacts === inline)
  }

  test("q73 fixture: loads, matches the embeddings dim, recall floor vs exact") {
    import graft.operators.SimilaritySearch
    val art = SimilaritySearch.loadFixtureArtifacts()
    assert(art.m === 8 && art.ksub === 16 && art.nlist === 16 && art.dim === 64)
    val sfEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 5
    val anchors = sfEmb.filter($"vec_id" % 50 === 0)
    val exact = SimilaritySearch.cosineTopK(sfEmb, anchors, k)
      .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    val approx = SimilaritySearch.ivfPqTopKScore(sfEmb, col("id") % 50 === 0,
        k, art, nprobe = 8, rerank = 64)
      .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    // exact k rows per anchor — the deterministic q73 row-count shape
    assert(approx.keySet === exact.keySet)
    approx.values.foreach(ns => assert(ns.size === k))
    val recalls = exact.map { case (a, truth) =>
      approx.getOrElse(a, Set.empty).intersect(truth).size.toDouble / truth.size }
    val mean = recalls.sum / recalls.size
    // measured 0.68 on the committed fixture at sf0.001 (nprobe 8/16,
    // rerank 64): the synthetic embeddings are near-UNIFORM, so a
    // random anchor's true neighbors spread across cells and recall is
    // bounded by the swept fraction — the clustered-corpus regime IVF
    // exists for looks like the planted-dup pins in the IVF+PQ specs
    // above, not this bulk number. Floor set under the measured
    // value's noise band.
    assert(mean >= 0.55, s"fixture recall@$k = $mean")
  }

  test("IvfPqPortable.topKTwoLevel: supers=1 ≡ flat topK EXACTLY; auto supers recalls the planted dup") {
    import graft.operators.IvfPqPortable
    val pred = col("id") < 3 || col("id") === 100
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(r =>
        (r.getAs[Long]("anchor_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toSeq
    val flat = rows(IvfPqPortable.topK(emb, pred, k = 3, nlist = 4,
      coarseIters = 2, m = 2, ksub = 4, subIters = 2, nprobe = 2,
      rerank = 8))
    // one super holds every child: routing is constant, the child
    // argmin/probe candidates are all nlist cells under the same
    // (d, j) order, training seeds/means coincide — value-identical
    val one = rows(IvfPqPortable.topKTwoLevel(emb, pred, k = 3,
      nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
      nprobe = 2, rerank = 8, supers = 1))
    assert(one === flat)
    // the real structure (auto supers = 2): cells differ — the IVF
    // routing approximation — but the planted near-identical pair
    // lands in the same cell and stays the top neighbor
    val auto = rows(IvfPqPortable.topKTwoLevel(emb, pred, k = 3,
      nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
      nprobe = 2, rerank = 8))
    val top100 = auto.find(r => r._1 == 100L && r._2 == 1).get
    assert(top100._3 === 101L && top100._4 > 0.999)
  }

  test("multi-super probe: p=1 ranks the routed super's children; p=S ranks ALL children; q97 widening changes only the probe") {
    import graft.operators.{IvfPqPortable, KMeansPortable}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.{RhpExpressions, RhpKernels}
    val base = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec")))
    val m = KMeansPortable.trainTwoLevel(emb, nlist = 8, iters = 2)
    val routed = base.withColumn("super",
      KMeansPortable.cellExpr(col("vec"), col("n2"), m.supers))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    // p = 1: the top-1 super IS the routed argmin, so the probe is,
    // per row, the top-2 of its routed super's `groups` entry by
    // (d, j), d = (n2 − 2·decimalDot(v, c_j)) + nc2_j — computed
    // here on the driver from the collected rows
    def dot(a: Array[Double], b: Array[Double]) =
      RhpKernels.decimalDot(new GenericArrayData(a), new GenericArrayData(b))
    val byDj = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val single = routed.select(col("id"), col("vec"), col("n2"),
        col("super")).collect().flatMap { r =>
      val v = r.getSeq[Double](1).toArray
      m.groups(r.getInt(3)).map { j =>
        val c = m.children(j)
        ((r.getDouble(2) - 2.0 * dot(v, c)) + dot(c, c), j)
      }.sorted(byDj).take(2).map(dj => (r.getLong(0), dj._2))
    }.toSet
    assert(single.nonEmpty)
    val multi1 = cells(KMeansPortable.probeChildrenMulti(
      routed, m.supers, m.children, m.groups, nprobe = 2,
      probeSupers = 1))
    assert(multi1 === single)
    // p = S: the union is ALL children — the flat probe over the
    // same child centroids, computed here as the global (d, j) sort
    val s = m.supers.length
    val flatProbe = cells(routed.withColumn("__pc",
        explode(slice(array_sort(
          KMeansPortable.distArray(col("vec"), col("n2"),
            m.children)), 1, 2)))
      .withColumn("cell", col("__pc.j")))
    val multiS = cells(KMeansPortable.probeChildrenMulti(
      routed, m.supers, m.children, m.groups, nprobe = 2,
      probeSupers = s))
    assert(multiS === flatProbe)
    // the q97 statement: probeSupers widens the PROBE only — at
    // p = 1 topKTwoLevel is byte-identical to the q93 default
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(r =>
        (r.getAs[Long]("anchor_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toSeq
    val p1 = rows(IvfPqPortable.topKTwoLevel(emb, col("id") < 3, k = 3,
      nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
      nprobe = 2, rerank = 8, probeSupers = 1))
    val default = rows(IvfPqPortable.topKTwoLevel(emb, col("id") < 3,
      k = 3, nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
      nprobe = 2, rerank = 8))
    assert(p1 === default)
    // out-of-range p is refused loudly
    val e = intercept[IllegalArgumentException] {
      KMeansPortable.probeChildrenMulti(routed, m.supers, m.children,
        m.groups, nprobe = 2, probeSupers = s + 1)
    }
    assert(e.getMessage.contains("probeSupers"))
  }

  test("native multi-super probe: p=1 ≡ one-super routing; recall is monotone in p up to the flat probe") {
    import graft.operators.SimilaritySearch
    val pred = col("id") < 10
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("anchor_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    val exact = neighborSets(SimilaritySearch.cosineTopK(
      emb, emb.filter(col("vec_id") < 10), 5))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = neighborSets(df)
      val rs = exact.map { case (a, truth) =>
        approx.getOrElse(a, Set.empty).intersect(truth).size.toDouble /
          truth.size }
      rs.sum / rs.size
    }
    val p1 = SimilaritySearch.ivfCosineTopKTwoLevel(emb, pred, k = 5,
      nlist = 16, nprobe = 4)
    val p1Explicit = SimilaritySearch.ivfCosineTopKTwoLevel(emb, pred,
      k = 5, nlist = 16, nprobe = 4, probeSupers = 1)
    assert(p1Explicit.orderBy("anchor_id", "rank").collect().toSeq ===
      p1.orderBy("anchor_id", "rank").collect().toSeq)
    // widening the super fan-out can only ADD candidate cells, and
    // the probe keeps the best nprobe of the union — recall vs the
    // exact ground truth is monotone (measured, not assumed)
    val r1 = recall(p1)
    val r2 = recall(SimilaritySearch.ivfCosineTopKTwoLevel(emb, pred,
      k = 5, nlist = 16, nprobe = 4, probeSupers = 2))
    val rAll = recall(SimilaritySearch.ivfCosineTopKTwoLevel(emb, pred,
      k = 5, nlist = 16, nprobe = 4, probeSupers = 4))
    assert(r2 >= r1, s"recall p=2 ($r2) must not lose to p=1 ($r1)")
    assert(rAll >= r2, s"recall p=S ($rAll) must not lose to p=2 ($r2)")
  }

  test("native auto front doors: flat at the boundary, two-level past it, door ≡ the manual calls") {
    import graft.operators.SimilaritySearch
    val r = new scala.util.Random(23)
    def bigCorpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(4)(r.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    val pred = col("id") < 5
    // boundary (auto nlist 128 at targetCellSize 4) → flat
    val at = bigCorpus(512).cache()
    assert(rows(SimilaritySearch.ivfCosineTopKAuto(at, pred, 3,
        nprobe = 2, targetCellSize = 4))
      === rows(SimilaritySearch.ivfCosineTopK(at, pred, 3,
        nlist = 128, nprobe = 2)))
    assert(rows(SimilaritySearch.ivfPqTopKAuto(at, pred, 3, nprobe = 2,
        m = 2, ksub = 4, rerank = 8, targetCellSize = 4))
      === rows(SimilaritySearch.ivfPqTopK(at, pred, 3, nlist = 128,
        nprobe = 2, m = 2, ksub = 4, rerank = 8)))
    // past it (auto nlist 130) → two-level, probeSupers threaded
    val past = bigCorpus(520).cache()
    assert(rows(SimilaritySearch.ivfCosineTopKAuto(past, pred, 3,
        nprobe = 2, targetCellSize = 4, probeSupers = 2))
      === rows(SimilaritySearch.ivfCosineTopKTwoLevel(past, pred, 3,
        nlist = 130, nprobe = 2, probeSupers = 2)))
    val art2 = SimilaritySearch.trainIvfPqArtifactsTwoLevel(past,
      nlist = 130, m = 2, ksub = 4, residual = false)
    assert(rows(SimilaritySearch.ivfPqTopKAuto(past, pred, 3,
        nprobe = 2, m = 2, ksub = 4, rerank = 8, targetCellSize = 4))
      === rows(SimilaritySearch.ivfPqTopKScoreTwoLevel(past, pred, 3,
        art2, nprobe = 2, rerank = 8)))
    // default probeSupers = -1 resolves by the pool rule: nlist 130
    // → S = ⌈√130⌉ = 12, nprobe = 22 → p = ⌈22·12/130⌉ = 3 — the
    // door must equal the manual p = 3 call, not silently cap at 1
    assert(rows(SimilaritySearch.ivfCosineTopKAuto(past, pred, 3,
        nprobe = 22, targetCellSize = 4))
      === rows(SimilaritySearch.ivfCosineTopKTwoLevel(past, pred, 3,
        nlist = 130, nprobe = 22, probeSupers = 3)))
    at.unpersist(); past.unpersist()
  }

  test("IVF-PQ admission: admitted index ≡ rebuilt over corpus ∪ batch under fixed artifacts; queries identical") {
    import graft.operators.SimilaritySearch
    // the q91 equivalence statement at the ANN site (VERDICT r11 item
    // 5): under FIXED quantizers the encoding is a pure per-row
    // function, so assign+encode+append must equal a full rebuild —
    // value-for-value at the index AND at every query over it
    val corpus = emb.filter($"vec_id" < 30)
    val batch = emb.filter($"vec_id" >= 30)
    val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(corpus,
      nlist = 4, m = 2, ksub = 4, residual = true)
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toSeq, r.getInt(2))).toSet
    val admitted = SimilaritySearch.admitIvfPqBatchTwoLevel(
      SimilaritySearch.encodeIvfPqTwoLevel(corpus, art), batch, art)
    val rebuilt = SimilaritySearch.encodeIvfPqTwoLevel(emb, art)
    assert(idxRows(admitted) === idxRows(rebuilt))
    // and therefore every query is too: the batch's planted dup
    // (100≈101, both batch-side) is findable through the ADMITTED
    // index exactly as through the rebuild
    val pred = col("id") < 3 || col("id") === 100
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val viaAdmit = rows(SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(
      admitted, emb, pred, k = 3, art, nprobe = 2, rerank = 8,
      probeSupers = 2))
    assert(viaAdmit === rows(SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(
      rebuilt, emb, pred, k = 3, art, nprobe = 2, rerank = 8,
      probeSupers = 2)))
    assert(viaAdmit === rows(SimilaritySearch.ivfPqTopKScoreTwoLevel(
      emb, pred, k = 3, art, nprobe = 2, rerank = 8, probeSupers = 2)))
  }

  test("stored bucketed IVF-PQ index: probe's cell join reads it with ZERO index-side exchanges") {
    import graft.operators.SimilaritySearch
    import graft.sources.Sinks
    // the SinksSpec bucketed-corpus discipline at the ANN site: the
    // index is built once (encodeIvfPqTwoLevel), stored bucketBy(cell),
    // and a query job's candidate equi-join never moves it — only the
    // anchor side shuffles
    val t = "b_ivfpq_index"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (loc.exists()) rm(loc)
    val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
      nlist = 4, m = 2, ksub = 4, residual = true)
    Sinks.writeBucketed(SimilaritySearch.encodeIvfPqTwoLevel(emb, art),
      t, "cell", 4)
    val pred = col("id") < 3 || col("id") === 100
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // storage layout, not semantics: stored-index query ≡ inline
    val stored = SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(
      spark.table(t), emb, pred, k = 3, art, nprobe = 2, rerank = 8)
    assert(rows(stored) === rows(SimilaritySearch.ivfPqTopKScoreTwoLevel(
      emb, pred, k = 3, art, nprobe = 2, rerank = 8)))
    // plan: with broadcast off (the join would otherwise shuffle both
    // sides) the candidate join's index subtree is the bucketed scan
    // with NO shuffle exchange
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val q = SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(
        spark.table(t), emb, pred, k = 3, art, nprobe = 2, rerank = 8)
      def bucketed(p: SparkPlan): Boolean = p.collectFirst {
        case s: FileSourceScanExec if s.bucketedScan => s
      }.isDefined
      val plan = q.queryExecution.executedPlan
      // the CELL equi-join specifically — joins above it (rerank,
      // anchor re-attach) transitively contain the scan but key on
      // other columns and legitimately exchange their own inputs
      def onCell(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "cell"))
      val idxJoins = plan.collect {
        case j: SortMergeJoinExec
          if onCell(j.leftKeys) && (bucketed(j.left) || bucketed(j.right)) => j
        case j: ShuffledHashJoinExec
          if onCell(j.leftKeys) && (bucketed(j.left) || bucketed(j.right)) => j
      }
      assert(idxJoins.nonEmpty,
        s"expected a shuffled cell join over the bucketed index in:\n$plan")
      idxJoins.foreach { j =>
        val side = if (bucketed(j.left)) j.left else j.right
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"index-side exchange:\n$side")
      }
    }
  }

  test("assignCellsViaRelation ≡ assignCellsBroadcast (the third-level design's assignment join); bucketed child store joins with zero child-side exchanges") {
    import graft.operators.SimilaritySearch
    import graft.sources.Sinks
    val coarse = SimilaritySearch.trainTwoLevelCoarse(emb, nlist = 6)
    val childRel = SimilaritySearch.childRelation(spark, coarse)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val viaBroadcast = cells(
      SimilaritySearch.assignCellsBroadcast(emb, coarse))
    val viaRelation = cells(
      SimilaritySearch.assignCellsViaRelation(emb, coarse.supers,
        childRel))
    assert(viaRelation.nonEmpty && viaRelation === viaBroadcast)
    // the FUSED sibling (cogroup by super, tight-loop argmin) is
    // value-identical too
    assert(cells(SimilaritySearch.assignCellsViaRelationFused(emb,
      coarse.supers, childRel)) === viaBroadcast)
    // the deployment shape: children stored bucketBy(super) — the
    // assignment equi-join reads the store with NO child-side
    // exchange (the writeBucketed discipline AT the quantizer)
    val t = "b_child_centroids"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (loc.exists()) rm(loc)
    Sinks.writeBucketed(childRel, t, "super", 4)
    assert(cells(SimilaritySearch.assignCellsViaRelation(emb,
      coarse.supers, spark.table(t))) === viaBroadcast)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val q = SimilaritySearch.assignCellsViaRelation(emb,
        coarse.supers, spark.table(t))
      def bucketed(p: SparkPlan): Boolean = p.collectFirst {
        case s: FileSourceScanExec if s.bucketedScan => s
      }.isDefined
      val plan = q.queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec if bucketed(j.left) || bucketed(j.right) => j
        case j: ShuffledHashJoinExec if bucketed(j.left) || bucketed(j.right) => j
      }
      assert(joins.nonEmpty,
        s"expected a shuffled join over the bucketed child store in:\n$plan")
      joins.foreach { j =>
        val side = if (bucketed(j.left)) j.left else j.right
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"child-side exchange:\n$side")
      }
    }
  }

  test("trainThreeLevel: relational Lloyd ≡ its driver-resident twin; supers are the two-level trainer's own fit; the relational probe path degenerates to exact search and reads a bucketed store exchange-free") {
    import graft.operators.SimilaritySearch
    import graft.sources.Sinks
    val rel = SimilaritySearch.trainThreeLevel(emb, nlist = 6, iters = 3)
    // the driver-resident twin: the same loop with the broadcast
    // assignment kernel over the collected children
    val twin = SimilaritySearch.trainThreeLevelWith(emb, nlist = 6,
        vecCol = "embedding", seed = 42L, trainFraction = 1.0,
        supers = 0, iters = 3, idCol = "vec_id") { (sup, routed, childRel) =>
      val rows = childRel.select("cell", "super", "cvec").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .sortBy(_._1)
      val groups = Array.tabulate(sup.length)(i =>
        rows.filter(_._2 == i).map(_._1))
      val cB = spark.sparkContext.broadcast(
        SimilaritySearch.TwoLevelCoarse(sup, rows.map(_._3), groups))
      routed.select("id", "vec").as[(Long, Array[Double])]
        .map { case (id, v) => (id, SimilaritySearch.nearestChild(v, cB.value), v) }
        .toDF("id", "cell", "vec")
    }
    // supers: the SAME ML fit as trainTwoLevelCoarse's super stage
    // (trainSupersML — one site, the parity anchor)
    val coarse = SimilaritySearch.trainTwoLevelCoarse(emb, nlist = 6)
    assert(rel.supers.map(_.toSeq).toSeq ==
      coarse.supers.map(_.toSeq).toSeq)
    // children: the relational loop and the driver-resident twin are
    // value-identical BY INDUCTION — same seeds, same decimal means,
    // and the round-13 assignment parity pair as the per-iteration
    // kernels
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.select("super", "cell", "cvec").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .sortBy(_._2).toSeq
    val relCents = cents(rel.childRel)
    assert(relCents.nonEmpty && relCents == cents(twin.childRel))
    // cell ids dense and consecutive within supers (the offset rule)
    assert(relCents.map(_._2) == relCents.indices.map(identity))
    // probe path: nprobe = nlist at probeSupers = S ranks every cell
    // of every super — exact search (the family's invariant)
    val assigned = graft.CacheScope.track(
      SimilaritySearch.assignCellsViaRelationFusedKeepVec(emb,
        rel.supers, rel.childRel))
    val pred = col("id") % 7 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    val exact = SimilaritySearch.cosineTopK(emb,
      emb.filter(col("vec_id") % 7 === 0), 5)
    assert(rows(SimilaritySearch.ivfCosineTopKRelationalIndexed(
        assigned, pred, 5, rel, nprobe = 6,
        probeSupers = rel.supers.length))
      === rows(exact))
    // deployment shape: the corpus assignment stored bucketBy(cell) —
    // the probe's candidate join reads it with NO corpus-side
    // exchange (the q91 discipline at the relational probe)
    val t = "b_rel_assigned"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    if (loc.exists()) rm(loc)
    Sinks.writeBucketed(assigned, t, "cell", 4)
    val stored = spark.table(t)
    assert(rows(SimilaritySearch.ivfCosineTopKRelationalIndexed(
        stored, pred, 5, rel, nprobe = 6,
        probeSupers = rel.supers.length))
      === rows(exact))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val q = SimilaritySearch.ivfCosineTopKRelationalIndexed(stored,
        pred, 5, rel, nprobe = 2, probeSupers = 1)
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
        s"expected a shuffled cell join over the bucketed assignment in:\n$plan")
      joins.foreach { j =>
        val side = if (bucketed(j.left)) j.left else j.right
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"corpus-side exchange:\n$side")
      }
    }
  }

  test("ivfCosineTopKAuto THIRD tier: past relationalPastNlist the door serves relationally ≡ the manual calls; recallFloor walks the relational ladder") {
    import graft.operators.{KMeansPortable, SimilaritySearch}
    val pred = col("id") % 7 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    // 42 rows at targetCellSize 4 → unclamped nlist 11 > the lowered
    // dispatch bound → the relational tier fires at gate scale (the
    // knob exists exactly so this parity is testable without a
    // 67M-row corpus; production keeps the clamp default)
    val door = SimilaritySearch.ivfCosineTopKAuto(emb, pred, 5,
      nprobe = 2, targetCellSize = 4, relationalPastNlist = 4)
    val nl = KMeansPortable.autoNlistUnclamped(42, 4).toInt
    assert(nl == 11)
    val rel = SimilaritySearch.trainThreeLevel(emb, nl)
    val assigned = graft.CacheScope.track(
      SimilaritySearch.assignCellsViaRelationFusedKeepVec(emb,
        rel.supers, rel.childRel))
    val p = KMeansPortable.autoProbeSupers(2, nl, rel.supers.length)
    assert(rows(door) === rows(
      SimilaritySearch.ivfCosineTopKRelationalIndexed(assigned, pred,
        5, rel, nprobe = 2, probeSupers = p)))
    // the floor holds END-TO-END on the relational tier too — no
    // tier refuses recallFloor
    val res = SimilaritySearch.ivfCosineTopKAuto(emb, pred, 5,
      nprobe = 1, targetCellSize = 4, relationalPastNlist = 4,
      recallFloor = 0.9)
    val exact = SimilaritySearch.cosineTopK(emb,
      emb.filter(col("vec_id") % 7 === 0), 5)
    val r = SimilaritySearch.meanRecall(res, exact)
    assert(r >= 0.9 - 1e-9, f"relational-tier floor result $r%.4f")
  }

  test("relational IVF-PQ: encode and query ≡ the broadcast-coarse siblings over the SAME trained structure") {
    import graft.operators.SimilaritySearch
    val pred = col("id") % 7 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    val art = SimilaritySearch.trainIvfPqArtifactsRelational(emb,
      nlist = 6, m = 2, ksub = 4)
    val index = graft.CacheScope.track(
      SimilaritySearch.encodeIvfPqRelational(emb, art))
    // the driver-resident twin of the SAME structure (legal at spec
    // scale): childRel collected into a TwoLevelCoarse, the same
    // codebooks — so any divergence is the relational machinery's
    val cr = art.coarse.childRel.select("cell", "super", "cvec")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    val groups = Array.fill(art.coarse.supers.length)(
      scala.collection.mutable.ArrayBuffer[Int]())
    cr.foreach { case (c, s, _) => groups(s) += c }
    val twin = SimilaritySearch.TwoLevelIvfPqArtifacts(art.codebooks,
      SimilaritySearch.TwoLevelCoarse(art.coarse.supers,
        cr.map(_._3), groups.map(_.toArray)), residual = false)
    val index2 = SimilaritySearch.encodeIvfPqTwoLevel(emb, twin)
    def enc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toSeq, r.getInt(2))).sortBy(_._1).toSeq
    assert(enc(index) === enc(index2))
    // query parity at equal knobs, multi-super probe included
    assert(rows(SimilaritySearch.ivfPqTopKScoreRelationalIndexed(
        index, emb, pred, 3, art, nprobe = 2, rerank = 8,
        probeSupers = 2))
      === rows(SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(
        index2, emb, pred, 3, twin, nprobe = 2, rerank = 8,
        probeSupers = 2)))
  }

  test("ivfPqTopKAuto THIRD tier: past relationalPastNlist the PQ door serves relationally ≡ the manual calls; recallFloor walks the relational PQ chain") {
    import graft.operators.{KMeansPortable, SimilaritySearch}
    val pred = col("id") % 7 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("anchor_id", "rank").collect().map(_.toSeq).toSeq
    val door = SimilaritySearch.ivfPqTopKAuto(emb, pred, 3,
      nprobe = 2, m = 2, ksub = 4, rerank = 8, targetCellSize = 4,
      relationalPastNlist = 4)
    val nl = KMeansPortable.autoNlistUnclamped(42, 4).toInt
    val art = SimilaritySearch.trainIvfPqArtifactsRelational(emb,
      nl, m = 2, ksub = 4)
    val index = graft.CacheScope.track(
      SimilaritySearch.encodeIvfPqRelational(emb, art))
    val p = KMeansPortable.autoProbeSupers(2, nl,
      art.coarse.supers.length)
    assert(rows(door) === rows(
      SimilaritySearch.ivfPqTopKScoreRelationalIndexed(index, emb,
        pred, 3, art, nprobe = 2, rerank = 8, probeSupers = p)))
    // the end-to-end floor holds through the relational PQ chain
    val res = SimilaritySearch.ivfPqTopKAuto(emb, pred, 3,
      nprobe = 1, m = 2, ksub = 4, rerank = 2, targetCellSize = 4,
      relationalPastNlist = 4, recallFloor = 0.9)
    val exact = SimilaritySearch.cosineTopK(emb,
      emb.filter(col("vec_id") % 7 === 0), 3)
    val r = SimilaritySearch.meanRecall(res, exact)
    assert(r >= 0.9 - 1e-9, f"relational PQ floor result $r%.4f")
  }

  test("residual IVF+PQ (IVFADC): sharper codes at equal bits on clustered data") {
    import graft.operators.SimilaritySearch
    // 4 tight clusters at distant centers: a GLOBAL codebook of 4
    // centroids per subspace spends them separating clusters, so all
    // members of one cluster share a code and ADC cannot rank within
    // the cluster; RESIDUALS pool to a small support around 0 and the
    // same bits resolve intra-cluster geometry — the classical IVFADC
    // argument, made measurable
    // unit-normalized: ADC approximates the DOT product while truth and
    // rerank rank by cosine — on the sphere the two orders coincide, so
    // the measurement isolates code resolution, not norm skew
    val r = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(r.nextGaussian() * 5))
    val pts = (0 until 120).map { i =>
      val c = centers(i % 4)
      val raw = Array.tabulate(dim)(d => c(d) + r.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / n).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val k = 5
    val exact = SimilaritySearch.cosineTopK(df, df.filter($"vec_id" < 8), k)
      .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
    def recallOf(res: Boolean, rerank: Int): Double = {
      val art = SimilaritySearch.trainIvfPqArtifacts(df, nlist = 4, m = 4,
        ksub = 4, residual = res)
      assert(art.residual === res)
      val got = SimilaritySearch.ivfPqTopKScore(df, col("id") < 8, k, art,
          nprobe = 2, rerank = rerank)
        .select($"anchor_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (a, ns) => a -> ns.map(_._2).toSet }
      val rs = exact.map { case (a, truth) =>
        got.getOrElse(a, Set.empty).intersect(truth).size.toDouble / truth.size }
      rs.sum / rs.size
    }
    // measured (rerank → plain / residual recall@5): 8 → 0.175/0.375,
    // 16 → 0.55/0.70, 24 → 0.775/0.875, 32 → 1.0/1.0. At rerank=8 the
    // plain codebook collapses each cluster to ONE code (ties broken by
    // id — the classical failure), while residual codes rank within the
    // cluster. 8-bit codes can't hit an absolute 0.7 at a tight
    // shortlist — the honest claim is comparative at equal bits, plus a
    // floor under the measured value's k-means noise band.
    val plain = recallOf(res = false, rerank = 8)
    val residual = recallOf(res = true, rerank = 8)
    assert(residual >= plain + 0.1,
      s"residual recall $residual not > plain $plain at equal bits")
    assert(residual >= 0.3, s"residual recall@$k = $residual")
    // a wide-enough shortlist recovers exact top-k for BOTH (the
    // rerank dial works): the probed cells contain the whole cluster
    assert(recallOf(res = true, rerank = 32) === 1.0)
    // the flag survives the artifact file round trip
    val art = SimilaritySearch.trainIvfPqArtifacts(df, nlist = 4, m = 4,
      ksub = 4, residual = true)
    val sw = new java.io.StringWriter()
    SimilaritySearch.saveArtifacts(art, sw)
    val back = SimilaritySearch.loadArtifacts(
      new java.io.ByteArrayInputStream(sw.toString.getBytes("UTF-8")))
    assert(back.residual === true)
  }

  test("centroids: element-wise mean per group") {
    val two = Seq(
      (1L, Array(1.0f, 3.0f), "g"),
      (2L, Array(3.0f, 5.0f), "g")).toDF("vec_id", "embedding", "label")
    val c = SimilaritySearch.centroids(two, "label")
      .select("centroid").as[Seq[Double]].collect()(0)
    assert(c === Seq(2.0, 4.0))
  }
  test("rerankTopKExact: the constant-score budget take ≡ the id-ordered window take; budget 0 = un-budgeted") {
    import graft.operators.SimilaritySearch
    import org.apache.spark.sql.expressions.Window
    // synthetic candidate relation with per-anchor fan-out far above
    // the budget, ids deliberately unsorted in the input
    val r = new scala.util.Random(23)
    val cands = r.shuffle((0 until 4).flatMap(a =>
      (0 until 30).map(n => (a.toLong, (n * 7 + a).toLong % 41))))
      .distinct.toDF("anchor_id", "neighbor_id")
    val vecs = (0 until 41).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding")
    val b = 6
    val got = SimilaritySearch.rerankTopKExact(cands, vecs, k = 3,
      budget = b).collect().map(_.toSeq).toSet
    // reference: window-rank the candidates by neighbor id, keep b,
    // then the un-budgeted operator over that relation
    val w = Window.partitionBy($"anchor_id").orderBy($"neighbor_id")
    val taken = cands.withColumn("__rn", row_number().over(w))
      .filter($"__rn" <= b).drop("__rn")
    val ref = SimilaritySearch.rerankTopKExact(taken, vecs, k = 3)
      .collect().map(_.toSeq).toSet
    assert(got === ref)
    // budget >= fan-out degenerates to un-budgeted exactly
    val all = SimilaritySearch.rerankTopKExact(cands, vecs, k = 3,
      budget = 1000).collect().map(_.toSeq).toSet
    val unb = SimilaritySearch.rerankTopKExact(cands, vecs, k = 3)
      .collect().map(_.toSeq).toSet
    assert(all === unb)
    // contract: a budget below k is a loud error
    intercept[IllegalArgumentException] {
      SimilaritySearch.rerankTopKExact(cands, vecs, k = 3, budget = 2)
    }
  }
}
