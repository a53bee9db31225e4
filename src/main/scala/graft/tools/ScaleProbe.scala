package graft.tools

import org.apache.spark.sql.functions.{col, expr}

/** Parameterized scaling probe for the SemDeDup pipeline — the
  * SCALE.md evidence runner for the one knob the fixed-parameter q80
  * gate cannot turn: the quantizer resolution `nlist`.
  *
  * At fixed nlist, the within-cell pair scan is O(N²/nlist): every
  * same-cell pair is a candidate whether or not it is similar, so a
  * 10× corpus in the same 8 cells pays ~100× pair work. The scale
  * discipline (SemDeDup's own: cells of BOUNDED size) is nlist ∝ N —
  * this probe measures the q80 chain at any (dir, nlist) so the 10×
  * corpus can be run at 10× nlist and the restored ~linearity is a
  * measured number, not prose.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe <sfDir> <mode> [runs] [rows]"
  * where <mode> is a literal nlist, or one of: auto, auto2, autod,
  * ivf, ivf2, ivfauto, video, videowide, videoauto, recall,
  * recallwalk, admit, ceiling, packing, relassign, reltrain,
  * idxfloor (each documented at its branch below; [rows] applies to
  * ceiling/relassign/reltrain, recallwalk and idxfloor read a floor
  * from args(2) (default 0.8), and reltrain reads its Lloyd
  * iteration count there (default 2)).
  *
  * `auto` sizes the quantizer with [[graft.operators.KMeansPortable
  * .nlistFor]] — the round-10 default-contract check: the auto
  * operating point must land within ~1.2× of the hand-tuned
  * measured-linear nlist at the same scale.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <nlist|auto> [runs]")
    val dir = args(0)
    // toIntOption: recallwalk reads a DOUBLE floor from args(2) —
    // the shared runs knob must not crash parsing it
    val runs = if (args.length > 2) args(2).toIntOption.getOrElse(3) else 3
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.SessionTuning.session(cpus, dir)
    // auto  = flat assignment at nlistFor(n) — the ∝N discipline on
    //         the FLAT argmin structure (O(N·nlist) assignment);
    // auto2 = the two-level quantizer at the same nlist — the scale
    //         structure (O(N·2√nlist) assignment, SCALE.md round 10);
    // autod = the auto-structure FRONT DOOR (Dedup.semanticDedupAuto
    //         — round-11 dispatch): sizes nlist itself and picks the
    //         structure at the measured crossover; at 100× this must
    //         track the manual auto2 choice (VERDICT r10 item 2);
    // ivf   = flat end-to-end IVF-PQ (IvfPqPortable.topK) at
    //         nlistFor(n) — the ANN family's ∝N flat point;
    // ivf2  = two-level IVF-PQ (topKTwoLevel) at the same nlist —
    //         the round-11 structure (q93's operator at deployment
    //         sizing: 20 anchors, m=4, ksub=8, 2 iters, nprobe=2,
    //         rerank=16 — the gate parameters with nlist freed)
    // video = the q89 operator chain (synthetic video corpus →
    //         frame dHash → containment) with the band-occupancy
    //         bound RAISED — the provisioned-cost escape the guard
    //         documents, which is precisely how the saturation
    //         regime gets MEASURED (the q89 gate itself fails the
    //         default bound at 100× frames, loudly and by design)
    // videowide = the q96 chain (WIDE corpus → Sig120 dHash →
    //         containment) at the DEFAULT bound — the round-12 fix:
    //         the same 100× frame corpus that saturates 15-bit bands
    //         runs in-contract at 20-bit bands (occupancy n/2^20)
    // recall = the ANN-tier recall table (VERDICT r11 item 3): mean
    //         recall@10 of every native tier vs the exact cosineTopK
    //         ground truth on the same anchors, at the corpus-sized
    //         nlist — the SCALE.md round-12 evidence rows, and the
    //         numbers AnnRecallSpec's floors were pinned under
    // ivfauto = the ANN auto-structure FRONT DOOR
    //         (IvfPqPortable.topKAuto, round 12): sizes nlist itself
    //         and dispatches flat/two-level at the crossover; at 100×
    //         this must track the manual ivf2 choice (VERDICT r11
    //         item 4, the autod statement at the ANN site)
    // ceiling = a measured point AT the two-level clamp (VERDICT r11
    //         stretch): synthetic NATIVE artifacts at nlist =
    //         MaxAutoNlistTwoLevel (262144, dim 64, S = 512), random
    //         centroids (assignment cost is value-independent), the
    //         fused route+assign+encode map (encodeIvfPqTwoLevel —
    //         the deployment kernel) over args(2) synthetic rows
    //         (default 1M). Measures the clamp's real costs: the
    //         driver centroid state, shipping it to executors, and
    //         the O(2√nlist·dim) per-row map. The PORTABLE decimal
    //         path is NOT measured here by design: its literal-
    //         expression route at S = 512 is outside its regime (a
    //         50k-row route did not finish in 17 min — it is gate/
    //         oracle machinery for gate-sized corpora; deployments at
    //         the clamp ride the native artifacts)
    if (args(1) == "ceiling") {
      import graft.operators.{KMeansPortable, SimilaritySearch}
      // args(2) is the shared RUNS knob (3 here measures warm-vs-cold
      // honestly: run 1 pays JIT + the 128 MB broadcast ship);
      // args(3) is the row count
      val rows = if (args.length > 3) args(3).toLong else 1000000L
      val nlist = KMeansPortable.MaxAutoNlistTwoLevel
      val dim = 64
      val s = KMeansPortable.defaultSupers(nlist)
      val per = nlist / s
      val t0 = System.nanoTime()
      val rnd = new scala.util.Random(7)
      val children = Array.fill(nlist)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
      val supers = Array.tabulate(s)(i => children(i * per))
      val groups = Array.tabulate(s)(i => Array.range(i * per, (i + 1) * per))
      val m0 = 8; val ksub = 16; val dsub = dim / m0
      val codebooks = Array.fill(m0)(Array.fill(ksub)(
        Array.fill(dsub)(rnd.nextDouble() * 2 - 1)))
      val art = SimilaritySearch.TwoLevelIvfPqArtifacts(codebooks,
        SimilaritySearch.TwoLevelCoarse(supers, children, groups),
        residual = false)
      val buildS = (System.nanoTime() - t0) / 1e9
      println(f"[ceiling] nlist=$nlist supers=$s dim=$dim rows=$rows " +
        f"centroid_state=${nlist.toLong * dim * 8 / (1 << 20)}MB " +
        f"(built in $buildS%.1fs)")
      val syn = spark.range(rows).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "d -> sin((vec_id + 1) * (d + 3)))").as("embedding"))
      (1 to runs).foreach { i =>
        val a0 = System.nanoTime()
        graft.Measure.force(
          SimilaritySearch.encodeIvfPqTwoLevel(syn, art).select("cell"))
        val bothS = (System.nanoTime() - a0) / 1e9
        println(f"[ceiling] run $i: route+assign+encode $bothS%.1fs " +
          f"(${rows / bothS / 1e6}%.2fM rows/s)")
      }
      graft.CacheScope.releaseAll(blocking = true)
      spark.stop()
      return
    }
    // packing = the streaming twin's utilization trade, measured
    //         (round 12 — packedStream documents "online first-fit
    //         ≤ 1.7·OPT vs FFD's 11/9·OPT"; this prices it on REAL
    //         weights at q47's knobs): batch FFD bins
    //         (packSequencesPortable, 512 tokens, 16 shards) vs the
    //         stream's ONLINE policy — EventStreams.packStep, the
    //         single-sited per-doc step, folded per shard over the
    //         same docs in id (arrival) order — at several
    //         maxOpenBins, against the ideal lower bound
    //         Σ⌈fill/cap⌉ + oversize
    if (args(1) == "packing") {
      import graft.streaming.EventStreams
      val docs = graft.Tables(spark, dir).documents
      val maxTokens = 512; val numShards = 16
      val rows = docs.select(col("doc_id").cast("long").as("id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("int").as("w"),
          graft.operators.Packing.portableShard(col("doc_id"), numShards)
            .cast("int").as("shard"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val ffdBins = graft.operators.Packing.packSequencesPortable(
          docs, "doc_id", graft.functions.TextFunctions
            .tokenCount(col("text")), maxTokens, numShards)
        .toDF().select(col("shard"), col("bin")).distinct().count()
      val byShard = rows.groupBy(_._3)
      val ideal = byShard.values.map { ds =>
        val (over, normal) = ds.partition(_._2 > maxTokens)
        over.size + math.ceil(normal.map(_._2.toLong).sum
          .toDouble / maxTokens).toLong
      }.sum
      println(s"[packing] n=${rows.length} shards=$numShards " +
        s"cap=$maxTokens ideal_bins=$ideal ffd_bins=$ffdBins " +
        f"(ffd/ideal ${ffdBins.toDouble / ideal}%.4f)")
      Seq(1, 4, 8, 32).foreach { mob =>
        val online = byShard.map { case (shard, ds) =>
          // id order IS the synthetic feed's arrival order — the
          // online policy sees docs as a stream would
          val sorted = ds.sortBy(_._1)
          var s = EventStreams.PackState(0, 0L, Nil)
          sorted.foreach { case (id, w, _) =>
            s = EventStreams.packStep(s, shard, id, 0L, w, maxTokens,
              mob, 1024)._1
          }
          s.nextBin.toLong // bins OPENED = closed + still-open
        }.sum
        println(f"[packing] online maxOpenBins=$mob%-3d bins=$online " +
          f"(online/ffd ${online.toDouble / ffdBins}%.4f, " +
          f"online/ideal ${online.toDouble / ideal}%.4f)")
      }
      spark.stop()
      return
    }
    // admit = the ANN admission cost statement, measured (round 12 —
    //         VERDICT r11 item 5's deployment arithmetic): train
    //         two-level IVF-PQ artifacts ONCE on the corpus (all but
    //         the last 1% of ids), build the stored index
    //         (encodeIvfPqTwoLevel over the corpus), then ADMIT the
    //         1% batch against the fixed artifacts — the nightly cost
    //         — vs re-encoding corpus ∪ batch (what admission saves
    //         every night; retraining would cost the train line again
    //         on top)
    if (args(1) == "admit") {
      import graft.operators.{KMeansPortable, SimilaritySearch}
      val emb = graft.CacheScope.track(
        graft.Tables(spark, dir).embeddings.select(
          col("vec_id"), col("embedding")))
      val n = emb.count()
      val cut = (n * 99) / 100
      val corpus = graft.CacheScope.track(emb.filter(col("vec_id") < cut))
      val batch = graft.CacheScope.track(emb.filter(col("vec_id") >= cut))
      val nlist = KMeansPortable.nlistFor(cut)
      println(s"[admit] n=$n corpus=$cut batch=${n - cut} nlist=$nlist")
      val t0 = System.nanoTime()
      val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(corpus,
        nlist = nlist, m = 8, ksub = 16, residual = true)
      println(f"[admit] train-once (two-level coarse + codebooks): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      (1 to runs).foreach { i =>
        val b0 = System.nanoTime()
        val index = SimilaritySearch.encodeIvfPqTwoLevel(corpus, art)
        graft.Measure.force(index.select("cell"))
        val buildS = (System.nanoTime() - b0) / 1e9
        val a0 = System.nanoTime()
        graft.Measure.force(
          SimilaritySearch.encodeIvfPqTwoLevel(batch, art).select("cell"))
        val admitS = (System.nanoTime() - a0) / 1e9
        println(f"[admit] run $i: full index build $buildS%.1fs, " +
          f"1%% batch admission $admitS%.2fs (${buildS / admitS}%.0fx)")
      }
      graft.CacheScope.releaseAll(blocking = true)
      spark.stop()
      return
    }
    val twoLevel = args(1) == "auto2"
    val ivfMode = args(1) == "ivf" || args(1) == "ivf2" ||
      args(1) == "ivfauto"
    val dispatch = args(1) == "autod"
    val video = args(1) == "video"
    val videoWide = args(1) == "videowide"
    // relassign = the third-level design's assignment JOIN measured
    //         past the broadcast-comfort boundary (round 13 — VERDICT
    //         r12 item 6): children at nlist = 2^20 (4× the 262144
    //         clamp, 512 MB at dim 64) exist only as a DISTRIBUTED
    //         relation — never driver state, never a broadcast — and
    //         assignment is route(supers) → equi-join(super) →
    //         bounded argmin (SimilaritySearch.assignCellsViaRelation,
    //         parity-pinned vs the broadcast path at small nlist).
    //         args(2) = runs, args(3) = vector rows (default 100k).
    if (args(1) == "relassign") {
      import graft.operators.{KMeansPortable, SimilaritySearch}
      val rows = if (args.length > 3) args(3).toLong else 100000L
      val nlist = 1 << 20
      val dim = 64
      val s = KMeansPortable.defaultSupers(nlist)
      val per = nlist / s
      val rnd = new scala.util.Random(7)
      val supers = Array.fill(s)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
      val childRel = spark.range(nlist).select(
        col("id").cast("int").as("cell"),
        (col("id") / per).cast("int").as("super"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "d -> sin((id + 1) * (d + 3)))").as("cvec"))
      val syn = spark.range(rows).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "d -> cos((id + 2) * (d + 5)))").as("embedding"))
      println(s"[relassign] nlist=$nlist supers=$s rows=$rows " +
        s"children_relation=${nlist.toLong * dim * 8 / (1 << 20)}MB " +
        "(4x the 128MB broadcast clamp; driver holds only the supers, " +
        s"${s.toLong * dim * 8 / 1024}KB)")
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        val n = graft.Measure.force(
          SimilaritySearch.assignCellsViaRelation(syn, supers, childRel))
        val elapsed = (System.nanoTime() - t0) / 1e9
        graft.CacheScope.releaseAll(blocking = true)
        println(f"[relassign] join run $i: $n rows in $elapsed%.2fs " +
          f"(${rows / elapsed}%.0f rows/s, candidate fan-out " +
          f"${per}x per row)")
        val t1 = System.nanoTime()
        val nf = graft.Measure.force(
          SimilaritySearch.assignCellsViaRelationFused(syn, supers,
            childRel))
        val e1 = (System.nanoTime() - t1) / 1e9
        graft.CacheScope.releaseAll(blocking = true)
        println(f"[relassign] fused run $i: $nf rows in $e1%.2fs " +
          f"(${rows / e1}%.0f rows/s — cogroup by super, " +
          "tight-loop argmin)")
      }
      spark.stop()
      return
    }
    // reltrain = THREE-LEVEL TRAINING measured past the clamp
    //         (round 14 — VERDICT r13 item 4): trainThreeLevel at
    //         nlist = 2^19 (2× the 262144 clamp — the child level is
    //         256 MB at dim 64, past broadcast comfort, and lives as
    //         a RELATION through every Lloyd iteration) over args(3)
    //         synthetic rows (default 1M), args(2) Lloyd iterations
    //         (default 2). Driver state: the S-supers matrix and S
    //         counts — nothing child-sized ever lands on the driver.
    //         Also measures the two serving halves over the trained
    //         structure: the full-corpus assignment (the store-build
    //         step) and a 20-anchor relational probe.
    if (args(1) == "reltrain") {
      import graft.operators.SimilaritySearch
      val rows = if (args.length > 3) args(3).toLong else 1000000L
      val iters = if (args.length > 2) args(2).toIntOption.getOrElse(2) else 2
      // args(4): log2(nlist), default 19 (2x the clamp); 20 measures
      // the next decade's shape (512 MB child relation, S = 1024)
      val nlist = 1 << (if (args.length > 4)
        args(4).toIntOption.getOrElse(19) else 19)
      // args(5): vector dim, default 64; 1024 is the REFERENCE shape
      // (MERT embeddings, chunk_store.py:15-17 — round 15, VERDICT
      // r14 item 2: per-iteration aggregation volume is rows×dim, so
      // the dim-64 curve alone under-states the mean-update cost 16×
      // at the reference width)
      val dim = if (args.length > 5) args(5).toIntOption.getOrElse(64)
        else 64
      // args(6): trainFraction (default 1.0) — the family's sampling
      // convention measured at this tier: after the round-15 means
      // rebuild the dominant dim-1024 cost is the S ≈ √nlist ML super
      // fit over the FULL corpus, and centroids need distribution
      // shape, not every vector; the full-corpus assignment below is
      // unchanged (it always covers every row)
      val tf = if (args.length > 6)
        args(6).toDoubleOption.getOrElse(1.0) else 1.0
      val syn = spark.range(rows).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "d -> cos((id + 2) * (d + 5)))").as("embedding"))
      println(s"[reltrain] nlist=$nlist rows=$rows iters=$iters dim=$dim " +
        s"trainFraction=$tf " +
        s"child_relation=${nlist.toLong * dim * 8 / (1 << 20)}MB " +
        s"(${nlist / graft.operators.KMeansPortable.MaxAutoNlistTwoLevel}x " +
        "the 262144-cell broadcast clamp; driver holds supers + counts only)")
      val t0 = System.nanoTime()
      val rel = SimilaritySearch.trainThreeLevel(syn, nlist,
        iters = iters, trainFraction = tf)
      val cells = rel.childRel.count()
      val trainS = (System.nanoTime() - t0) / 1e9
      println(f"[reltrain] trainThreeLevel: $cells cells in $trainS%.1fs " +
        f"(supers=${rel.supers.length}, " +
        f"${cells.toLong * dim * 8 / (1 << 20)}MB trained child relation)")
      val t1 = System.nanoTime()
      val assigned = graft.CacheScope.track(SimilaritySearch
        .assignCellsViaRelationFusedKeepVec(syn, rel.supers,
          rel.childRel))
      val n1 = graft.Measure.force(assigned)
      val a1 = (System.nanoTime() - t1) / 1e9
      println(f"[reltrain] corpus assignment over the trained relation: " +
        f"$n1 rows in $a1%.1fs (${rows / a1}%.0f rows/s)")
      val t2 = System.nanoTime()
      val n2 = graft.Measure.force(
        SimilaritySearch.ivfCosineTopKRelationalIndexed(assigned,
          col("id") % (rows / 20) === 0, k = 10, rel,
          nprobe = 64, probeSupers = 4))
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[reltrain] 20-anchor relational probe (nprobe=64, p=4): " +
        f"$n2 rows in $e2%.1fs")
      graft.CacheScope.releaseAll(blocking = true)
      spark.stop()
      return
    }
    // relidxfloor = the STORED-INDEX recall floor priced at the
    //         RELATIONAL tier (round 15 — the idxfloor symmetry for
    //         the structure past the broadcast clamp): train the
    //         relational IVF-PQ artifacts over args(3) synthetic rows
    //         (default 500k) at nlist = 2^args(4) (default 16) and
    //         dim args(5) (default 64), encode the relational index
    //         once, walk sizeIvfPqRelationalForRecall to the args(2)
    //         floor (default 0.8) with NO retraining, and serve one
    //         batch at the found point. Driver state: supers +
    //         codebooks; the child level and the index stay
    //         relations throughout.
    if (args(1) == "relidxfloor") {
      import graft.operators.SimilaritySearch
      val floor = if (args.length > 2)
        args(2).toDoubleOption.getOrElse(0.8) else 0.8
      val rows = if (args.length > 3) args(3).toLong else 500000L
      val nlist = 1 << (if (args.length > 4)
        args(4).toIntOption.getOrElse(16) else 16)
      val dim = if (args.length > 5) args(5).toIntOption.getOrElse(64)
        else 64
      val syn = spark.range(rows).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "d -> cos((id + 2) * (d + 5)))").as("embedding"))
      println(s"[relidxfloor] rows=$rows nlist=$nlist dim=$dim floor=$floor")
      val t0 = System.nanoTime()
      val art = SimilaritySearch.trainIvfPqArtifactsRelational(syn,
        nlist, m = 8, ksub = 16, iters = 2)
      val index = graft.CacheScope.track(
        SimilaritySearch.encodeIvfPqRelational(syn, art))
      graft.Measure.force(index)
      val buildS = (System.nanoTime() - t0) / 1e9
      println(f"[relidxfloor] train+encode (once per corpus): $buildS%.1fs")
      val t1 = System.nanoTime()
      val pt = SimilaritySearch.sizeIvfPqRelationalForRecall(index,
        syn, expr(s"id % ${rows / 20} = 0"), k = 10, floor = floor,
        artifacts = art, nprobe0 = 4, rerank0 = 32)
      val walkS = (System.nanoTime() - t1) / 1e9
      pt.walk.foreach { r =>
        println(f"[relidxfloor] rung (p=${r.probeSupers}, " +
          f"np=${r.nprobe}, rr=${r.rerank}): recall ${r.recall}%.4f")
      }
      println(f"[relidxfloor] chosen (p=${pt.probeSupers}, " +
        f"np=${pt.nprobe}, rr=${pt.rerank}) recall ${pt.recall}%.4f " +
        f"floorMet=${pt.floorMet} — walk cost $walkS%.1fs")
      val t2 = System.nanoTime()
      val served = graft.Measure.force(
        SimilaritySearch.ivfPqTopKScoreRelationalIndexed(index, syn,
          expr(s"id % ${rows / 20} = 1"), 10, art, pt.nprobe,
          pt.rerank, probeSupers = pt.probeSupers))
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[relidxfloor] one 20-anchor batch at the point: " +
        f"$served rows in $e2%.1fs")
      graft.CacheScope.releaseAll(blocking = true)
      spark.stop()
      return
    }
    // idxfloor = the STORED-INDEX recall floor priced (round 14 —
    //         VERDICT r13 item 3): train + encode the two-level
    //         IVF-PQ index ONCE over the sf dir's embeddings (the
    //         deployment artifact), then walk sizeIvfPqForRecall —
    //         the full-chain (coarse+ADC+rerank) ladder — to the
    //         args(2) floor (default 0.8) against the stored index
    //         with NO retraining, and serve one query batch at the
    //         found point. The printed rung table IS the price of
    //         the floor on the serving shape.
    if (args(1) == "idxfloor") {
      import graft.operators.{KMeansPortable, SimilaritySearch}
      val floor = if (args.length > 2) args(2).toDoubleOption.getOrElse(0.8) else 0.8
      val emb = graft.Tables(spark, dir).embeddings
      val n = emb.count()
      val nlist = KMeansPortable.autoNlist(n)
      println(s"[idxfloor] n=$n nlist=$nlist floor=$floor")
      val t0 = System.nanoTime()
      val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
        nlist, m = 8, ksub = 16, residual = false)
      val index = graft.CacheScope.track(
        SimilaritySearch.encodeIvfPqTwoLevel(emb, art))
      graft.Measure.force(index)
      val buildS = (System.nanoTime() - t0) / 1e9
      println(f"[idxfloor] train+encode (the once-per-corpus cost): $buildS%.1fs")
      val t1 = System.nanoTime()
      val pt = SimilaritySearch.sizeIvfPqForRecall(index, emb,
        expr("id % 50 = 0"), k = 10, floor = floor, artifacts = art,
        nprobe0 = 4, rerank0 = 32)
      val walkS = (System.nanoTime() - t1) / 1e9
      pt.walk.foreach { r =>
        println(f"[idxfloor] rung (p=${r.probeSupers}, np=${r.nprobe}, " +
          f"rr=${r.rerank}): recall ${r.recall}%.4f")
      }
      println(f"[idxfloor] chosen (p=${pt.probeSupers}, np=${pt.nprobe}, " +
        f"rr=${pt.rerank}) recall ${pt.recall}%.4f floorMet=${pt.floorMet} " +
        f"— walk cost $walkS%.1fs, swept fraction " +
        f"${pt.sweptFraction(nlist)}%.3f")
      val t2 = System.nanoTime()
      val served = graft.Measure.force(
        SimilaritySearch.ivfPqTopKScoreTwoLevelIndexed(index, emb,
          expr("id % 50 = 0"), 10, art, pt, "vec_id", "embedding"))
      val e2 = (System.nanoTime() - t2) / 1e9
      println(f"[idxfloor] serving at the point: $served rows in $e2%.1fs")
      graft.CacheScope.releaseAll(blocking = true)
      spark.stop()
      return
    }
    val recallMode = args(1) == "recall"
    if (recallMode) {
      import graft.operators.SimilaritySearch
      val emb = graft.CacheScope.track(graft.Tables(spark, dir).embeddings)
      val n = emb.count()
      val nlist = graft.operators.KMeansPortable.nlistFor(n)
      val k = 10
      val pred = col("id") % 50 === 0
      val exact = graft.CacheScope.track(SimilaritySearch.cosineTopK(
        emb, emb.filter(col("vec_id") % 50 === 0), k))
      def row(tier: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val r = SimilaritySearch.meanRecall(df, exact)
        println(f"[recall] n=$n nlist=$nlist tier=$tier recall@$k=$r%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
      }
      row("lsh", SimilaritySearch.lshCosineTopK(emb, pred, k))
      row("lsh_portable",
        SimilaritySearch.lshCosineTopKPortable(emb, pred, k))
      row("ivf_flat_np2", SimilaritySearch.ivfCosineTopK(emb, pred, k,
        nlist = nlist, nprobe = 2))
      row("ivf_flat_np4", SimilaritySearch.ivfCosineTopK(emb, pred, k,
        nlist = nlist, nprobe = 4))
      // p clamped to S explicitly: the tiers now REFUSE p > S (the
      // one probeSupers contract, round-12 review) instead of
      // silently capping, so the probe says what it actually ran
      val sAll = graft.operators.KMeansPortable.defaultSupers(nlist)
      Seq(1, 2, 4).map(math.min(_, sAll)).distinct.foreach { p =>
        row(s"ivf2_np4_p$p", SimilaritySearch.ivfCosineTopKTwoLevel(
          emb, pred, k, nlist = nlist, nprobe = 4, probeSupers = p))
      }
      // the swept-fraction discipline rows: recall at FIXED nprobe
      // falls as nlist ∝ N grows (nprobe/nlist shrinks); holding the
      // swept fraction (nprobe ∝ nlist) holds recall — measured, so
      // the deployment knob is a table row, not prose
      val npScaled = math.max(4, nlist / 5)
      row(s"ivf_flat_np$npScaled", SimilaritySearch.ivfCosineTopK(
        emb, pred, k, nlist = nlist, nprobe = npScaled))
      row(s"ivf2_np${npScaled}_p2", SimilaritySearch.ivfCosineTopKTwoLevel(
        emb, pred, k, nlist = nlist, nprobe = npScaled, probeSupers = 2))
      // the operating rule p >= nprobe*S/nlist as a measured row: at
      // a held swept fraction the pool must widen with nprobe, and
      // autoProbeSupers is that arithmetic as code
      val sCount = graft.operators.KMeansPortable.defaultSupers(nlist)
      val pAuto = graft.operators.KMeansPortable.autoProbeSupers(
        npScaled, nlist, sCount)
      if (pAuto > 2)
        row(s"ivf2_np${npScaled}_pauto$pAuto",
          SimilaritySearch.ivfCosineTopKTwoLevel(
            emb, pred, k, nlist = nlist, nprobe = npScaled,
            probeSupers = pAuto))
      row("ivfpq_np4", SimilaritySearch.ivfPqTopK(emb, pred, k,
        nlist = nlist, nprobe = 4, m = 8, ksub = 16, rerank = 64))
      val art2 = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
        nlist = nlist, m = 8, ksub = 16, residual = true)
      Seq(1, 2).foreach { p =>
        row(s"ivfpq2_np4_p$p", SimilaritySearch.ivfPqTopKScoreTwoLevel(
          emb, pred, k, art2, nprobe = 4, rerank = 64, probeSupers = p))
      }
      spark.stop()
      return
    }
    // recallwalk = the recall-TARGETED sizing walk (round 13 —
    //         VERDICT r12 item 1's measured closure): size
    //         (probeSupers, nprobe) to a recall floor (args(2),
    //         default 0.8) at the corpus-sized nlist, starting from
    //         the held swept fraction nprobe = nlist/5 — the exact
    //         deployment shape whose two-level recall read 0.597 at
    //         100× in the round-12 table. Prints every rung and the
    //         chosen operating point + cost shape.
    if (args(1) == "recallwalk") {
      import graft.operators.{KMeansPortable, SimilaritySearch}
      val emb = graft.CacheScope.track(graft.Tables(spark, dir).embeddings)
      val n = emb.count()
      val nlist = KMeansPortable.nlistFor(n)
      val np0 = math.max(4, nlist / 5)
      val floor = if (args.length > 2) args(2).toDouble else 0.8
      // args(3): supers override — 1 walks the FLAT tier on the same
      // instrument/sample, so flat-vs-two-level sweep costs for the
      // same floor are directly comparable (0 = auto ⌈√nlist⌉)
      val supersArg = if (args.length > 3) args(3).toInt else 0
      val t0 = System.nanoTime()
      val pt = SimilaritySearch.sizeTwoLevelForRecall(emb,
        col("id") % 50 === 0, k = 10, floor = floor, nlist = nlist,
        nprobe0 = np0, supers = supersArg)
      val secs = (System.nanoTime() - t0) / 1e9
      pt.walk.foreach(r => println(
        f"[recallwalk] n=$n nlist=$nlist rung p=${r.probeSupers} " +
          f"np=${r.nprobe} recall=${r.recall}%.4f"))
      println(f"[recallwalk] n=$n nlist=$nlist floor=$floor chosen " +
        f"p=${pt.probeSupers} np=${pt.nprobe} recall=${pt.recall}%.4f " +
        f"floorMet=${pt.floorMet} walk_total=$secs%.1fs " +
        f"swept_frac=${pt.nprobe.toDouble / nlist}%.3f")
      // the PQ stage at the CHOSEN point — measured on the anchor
      // sample the walk sized against so the rows are directly
      // comparable (skipped on the flat supers = 1 walk, whose
      // purpose is the sweep comparison)
      if (supersArg == 1) { spark.stop(); return }
      val sample = graft.operators.RecallWalk.anchorSample(
        emb.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("vec")),
        col("id") % 50 === 0, 64, 10, "ScaleProbe recallwalk")
      val t1 = System.nanoTime()
      val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(emb,
        nlist = nlist, m = 8, ksub = 16, residual = true)
      println(f"[recallwalk] pq artifacts trained in " +
        f"${(System.nanoTime() - t1) / 1e9}%.1fs")
      // rerank is the PQ-side recall knob: the ADC shortlist must be
      // a sufficient FRACTION of the swept set or true neighbors are
      // lost between ADC and the exact rerank — measured as a ladder
      Seq(64, 256, 1024).foreach { rr =>
        val t2 = System.nanoTime()
        val rpq = SimilaritySearch.meanRecall(
          SimilaritySearch.ivfPqTopKScoreTwoLevel(emb, sample.pred, 10, art,
            nprobe = pt.nprobe, rerank = rr,
            probeSupers = pt.probeSupers), sample.exact)
        println(f"[recallwalk] ivfpq2(residual) at chosen point, " +
          f"rerank=$rr: recall=$rpq%.4f " +
          f"(${(System.nanoTime() - t2) / 1e9}%.1fs)")
      }
      spark.stop()
      return
    }
    // crosswide = the COMPOSED cross-modal wide chain (round 13 —
    //         VERDICT r12 stretch 7): q101's exact committed operator
    //         chain (wide image sigs + wide audio envelope sigs →
    //         crossModalDupGroupsWide → doc join) run at a scaled
    //         dir — the last missing row of the wide family's
    //         measured table (q88 60-bit α 0.74, q96 wide containment
    //         α 0.97 already measured).
    if (args(1) == "crosswide") {
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        val n = graft.Measure.force(
          graft.QueryCatalog.byName("q101_media_pipeline_wide")
            .run(spark, dir))
        val elapsed = (System.nanoTime() - t0) / 1e9
        graft.CacheScope.releaseAll(blocking = true)
        println(f"[crosswide] run $i: $n rows in $elapsed%.2fs")
      }
      spark.stop()
      return
    }
    val videoAuto = args(1) == "videoauto"
    // autod sizes ITSELF inside the front door (autoNlist, two-level
    // clamp) — resolving here would both double the count job and log
    // a number from the wrong clamp (round-11 review); same for the
    // video mode, which has no quantizer at all
    val nlist =
      if (dispatch || video || videoWide || videoAuto ||
        args(1) == "ivfauto") -1
      else if (args(1) == "auto" || twoLevel || ivfMode)
        graft.operators.KMeansPortable.nlistFor(
          graft.Tables(spark, dir).embeddings.count())
      else args(1).toInt
    println(s"[probe] resolved nlist=" +
      s"${if (nlist < 0) "front-door" else nlist.toString} (${args(1)})")
    if (videoAuto) {
      // one pre-loop log of the width the door will choose (the door
      // itself re-counts inside the timed region — its honest cost)
      import spark.implicits._
      val nf = graft.operators.MediaDedup.syntheticVideoCorpusWide(
        graft.Tables(spark, dir).documents
          .select(col("doc_id").cast("string")).as[String]).count()
      val spec = graft.operators.MediaDedup.sigSpecFor(nf)
      println(s"[probe] videoauto frames=$nf -> door picks " +
        s"sigBits=${spec.sigBits} bandBits=${spec.bandBits}")
    }
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n =
        if (ivfMode) {
          import org.apache.spark.sql.functions.col
          val emb = graft.Tables(spark, dir).embeddings
          val res =
            if (args(1) == "ivf2")
              graft.operators.IvfPqPortable.topKTwoLevel(emb,
                col("id") < 20, k = 5, nlist = nlist, coarseIters = 2,
                m = 4, ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
            else if (args(1) == "ivfauto")
              graft.operators.IvfPqPortable.topKAuto(emb,
                col("id") < 20, k = 5, coarseIters = 2,
                m = 4, ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
            else
              graft.operators.IvfPqPortable.topK(emb,
                col("id") < 20, k = 5, nlist = nlist, coarseIters = 2,
                m = 4, ksub = 8, subIters = 2, nprobe = 2, rerank = 16)
          graft.Measure.force(res.orderBy(col("anchor_id"), col("rank")))
        } else if (video) {
          import spark.implicits._
          val ids = graft.Tables(spark, dir).documents
            .select(col("doc_id").cast("string")).as[String]
          graft.Measure.force(
            graft.operators.MediaDedup.videoContainmentPairs(
              graft.operators.MediaDedup.imageDHash(
                graft.operators.MediaDedup.syntheticVideoCorpus(ids)),
              minContainment = 0.5, maxExpectedOccupancy = 256)
            .orderBy(col("a_id"), col("b_id")))
        } else if (videoWide) {
          import spark.implicits._
          val ids = graft.Tables(spark, dir).documents
            .select(col("doc_id").cast("string")).as[String]
          graft.Measure.force(
            graft.operators.MediaDedup.videoContainmentPairsWide(
              graft.operators.MediaDedup.imageDHashWide(
                graft.operators.MediaDedup.syntheticVideoCorpusWide(ids)),
              minContainment = 0.5)
            .orderBy(col("a_id"), col("b_id")))
        } else if (videoAuto) {
          // the auto-width DOOR (round 13): must pick Sig60 at 1×
          // frames and Sig120 at the 100× corpus, tracking the
          // manual videowide choice — the door's n-count pass is
          // inside the timed region (its honest cost)
          import spark.implicits._
          val ids = graft.Tables(spark, dir).documents
            .select(col("doc_id").cast("string")).as[String]
          val frames =
            graft.operators.MediaDedup.syntheticVideoCorpusWide(ids)
          graft.Measure.force(
            graft.operators.MediaDedup.videoContainmentPairsAuto(
              frames, minContainment = 0.5)
            .orderBy(col("a_id"), col("b_id")))
        } else if (dispatch) {
          graft.Measure.force(
            graft.operators.Dedup.semanticDedupAuto(
              graft.Tables(spark, dir).embeddings,
              threshold = 0.35).orderBy(col("id")))
        } else if (twoLevel) {
          val m = graft.operators.KMeansPortable.trainTwoLevel(
            graft.Tables(spark, dir).embeddings, nlist = nlist, iters = 3)
          graft.Measure.force(
            graft.operators.Dedup.semanticDedupTwoLevel(
              graft.Tables(spark, dir).embeddings, m,
              threshold = 0.35).orderBy(col("id")))
        } else {
          val m = graft.operators.KMeansPortable.trainModel(
            graft.Tables(spark, dir).embeddings, k = nlist, iters = 3)
          graft.Measure.force(
            graft.operators.Dedup.semanticDedupPortable(
              graft.Tables(spark, dir).embeddings, m.centroids,
              threshold = 0.35).orderBy(col("id")))
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.releaseAll(blocking = true)
      println(f"[probe] semdedup nlist=$nlist mode=${args(1)} run $i: $n rows in $elapsed%.2fs")
    }
    spark.stop()
  }
}
