package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ArrayExpressions.sortedIntersectCount

/** Document deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a declarative plan whose only wide
  * operations are hash-partitioned shuffles on content-derived keys —
  * fingerprints, MinHash band buckets, SimHash bands. Nothing does an
  * unblocked cross join; all-pairs comparisons exist only inside LSH
  * buckets (bounded by `maxBucketSize` against adversarial skew).
  *
  * Reference analog: the corpus-dedup stages (SURVEY §2.3 anti-joins,
  * A4 duplicate-circle resolution); extended here to the
  * MinHash/SimHash family a 100 TB text pipeline needs.
  */
object Dedup {

  /** Sentinel for [[semanticDedup]]'s `nlist`: size the quantizer to
    * the corpus via [[KMeansPortable.nlistFor]] (the scale contract —
    * expected cell population held at the measured-linear target)
    * instead of a caller-fixed resolution. */
  val AutoNlist: Int = -1

  /** Exact duplicate groups by normalized-text fingerprint.
    * One shuffle on the 128-bit fingerprint; canonical id = min id.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_dups"),
        min(col("doc_id")).as("canonical_id"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("members"))
      .filter(col("n_dups") > 1)

  /** Exact-dedup projection: keep one row (min id) per distinct
    * normalized text. The survivor choice is deterministic.
    */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact token-set Jaccard of every document against a (small,
    * broadcast) anchor set — the correctness baseline the approximate
    * variants are validated against. Linear in |docs| × |anchors|.
    * Symmetry dedup: an anchor–anchor pair is reported once with
    * a_id < b_id; an anchor–non-anchor pair is reported regardless of
    * id order (an `a_id < id` join alone would never compare an
    * anchor to any lower-id non-anchor — for anchorPred id===3 the
    * near-dup doc 1 would silently vanish from the baseline).
    */
  def jaccardToAnchors(
      docs: DataFrame, idCol: String, textCol: String,
      anchorPred: Column, threshold: Double): DataFrame = {
    // Repartition first: a small parquet input arrives as ONE split,
    // which would serialize the per-row tokenize/merge work on a
    // single core (at production scale the source is already split).
    // Then sort once per side; the pair scan counts intersections
    // with a zero-allocation codegen'd merge (SortedArrayIntersectCount).
    val toks = Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        array_sort(tokenSet(normalized(col(textCol)))).as("toks"))
    val anchors = toks.filter(anchorPred)
      .select(col("id").as("a_id"), col("toks").as("a_toks"))
    val anchorIds = anchors.select(col("a_id").as("__b_anchor_id"))
    toks.join(broadcast(anchors), col("a_id") =!= col("id"))
      .join(broadcast(anchorIds), col("id") === col("__b_anchor_id"), "left")
      .filter(col("a_id") < col("id") || col("__b_anchor_id").isNull)
      .withColumn("inter", sortedIntersectCount(col("a_toks"), col("toks")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_toks")) + size(col("toks")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("id").as("b_id"), col("jaccard"))
  }

  /** MinHash signatures: k-word shingles → `numHashes` independent
    * min-hashes. Hash family: xxhash64 salted by the hash index —
    * deterministic, seedless, bit-identical to the builtin
    * `min(xxhash64(lit(i), shingle))` aggregate formulation (pinned by
    * DedupSpec), but computed in ONE fused codegen'd projection: no
    * explode, no 32-column aggregate, no shuffle. `shingles()` never
    * yields an empty array (short docs get one whole-text shingle),
    * so `sig` is non-null here; a null-sig filter would anyway be
    * pushed below the projection and evaluate the pipeline twice.
    * Returns (id, sig ARRAY<LONG>).
    */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame =
    Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.SignatureExpressions.minhashSignature(
          shingles(normalized(col(textCol)), shingleK), numHashes).as("sig"))

  /** MinHash + LSH banding near-dup pairs, verified with exact
    * shingle Jaccard. `bands × rowsPerBand = numHashes`. Candidate
    * generation is a self-join on (band, bucket) — a hash-partitioned
    * equi-join, never a cross join. Buckets larger than
    * `maxBucketSize` are dropped (standard LSH skew guard; at 100 TB
    * a mega-bucket means degenerate content, handled by exact dedup
    * first).
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 2, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // ONE corpus scan, ONE persist: (id, minhash signature,
    // sorted 64-bit-hashed shingle set). Everything downstream — the
    // banding, both self-join sides, both verify joins — reads this
    // all-longs relation. Round 1 re-derived the shingle/signature DAG
    // per consumer (4 extra corpus scans, 54% of the bench); persisting
    // raw string shingle arrays instead costs ~2.5s of string copying
    // at sf0.1 and O(corpus bytes) of cache at scale, vs O(rows·longs)
    // here. Verification runs on the hashed shingle sets: xxhash64
    // collisions (~n²·2⁻⁶⁴ per doc pair) are immaterial next to the
    // MinHash approximation itself. Cache lifetime is caller-owned via
    // CacheScope (released after the consuming action).
    val base = graft.CacheScope.track(Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        shingles(normalized(col(textCol)), shingleK).as("sh"))
      .select(col("id"),
        org.apache.spark.sql.graft.SignatureExpressions.minhashSignature(
          col("sh"), numHashes).as("sig"),
        array_sort(transform(col("sh"), s => xxhash64(s))).as("hsh")))
    // (id, band, bucket) — bucket = murmur3 of the band's slice of
    // sig. A cheap projection of the persisted base, so no second
    // persist; a null sig (empty token array) simply doesn't band —
    // posexplode emits no rows for null.
    val banded = base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band", "bucket")))
    // cull + self-join + id-only dedup: the shared skeleton (see Lsh)
    val cands = Lsh.bandedCandidatePairs(banded, Seq("band", "bucket"),
      maxBucketSize)
    // Jaccard verification on the persisted hashed shingle sets
    cands
      .join(base.select(col("id").as("a_id"), col("hsh").as("a_sh")), "a_id")
      .join(base.select(col("id").as("b_id"), col("hsh").as("b_sh")), "b_id")
      .withColumn("inter", sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash + LSH with ENGINE-PORTABLE hashing — the verification
    * twin of [[minhashLshPairs]]. The native path's candidate set
    * depends on xxhash64 + murmur3, which no other engine computes,
    * so q18 can only ever be rows-only. This variant derives every
    * hash from md5, so a SQL engine re-derives signatures, banding,
    * the bucket-size cull, candidate pairs AND the verified Jaccard
    * value-for-value — the LSH MECHANICS (banding recall, cull,
    * verify) sit under a full oracle (q69), and that verification
    * transfers to the xxhash64 path, whose only difference is the
    * hash family.
    *
    * Hash family: ONE md5 digest per shingle, split into two 56-bit
    * halves (hex chars 1-14 / 15-28); signature i minimizes
    * `h1 + i·h2` — the double-hashing derivation (Kirsch &
    * Mitzenmacher, "Less Hashing, Same Performance", ESA 2006), long
    * standard for simulating a hash family from two seeds. Values
    * stay < 2⁵⁶·32 < 2⁶¹, so BIGINT arithmetic is overflow-free and
    * bit-identical in any SQL engine. The round-5 formulation salted
    * a FULL md5 per hash index — 33 crypto digests per shingle where
    * one suffices; the verify set `hsh` reads its 60-bit keys off the
    * same digest. Band buckets remain md5 of the comma-joined band
    * slice. Signatures are still ONE zero-shuffle array projection
    * per doc — the verification-twin cost, not the 100 TB default.
    */
  def minhashLshPairsPortable(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 2, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val base = graft.CacheScope.track(Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.SignatureExpressions.md5MinHashes(
          shingles(normalized(col(textCol)), shingleK), numHashes).as("mh"))
      .select(col("id"), col("mh.sig").as("sig"), col("mh.hsh").as("hsh")))
    val banded = base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        md5(array_join(slice(col("sig"), b * r + 1, lit(r)), ","))))
        .as(Seq("band", "bucket")))
    val cands = Lsh.bandedCandidatePairs(banded, Seq("band", "bucket"),
      maxBucketSize)
    cands
      .join(base.select(col("id").as("a_id"), col("hsh").as("a_sh")), "a_id")
      .join(base.select(col("id").as("b_id"), col("hsh").as("b_sh")), "b_id")
      .withColumn("inter", sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the
    * MOSS algorithm): hash every k-shingle, slide a window of `w`
    * hashes, keep each window's minimum. Guarantees any shared run of
    * ≥ k+w−1 tokens contributes a shared fingerprint, so PARTIAL
    * overlap (one doc embedded in another) is detectable — the case
    * whole-document Jaccard/MinHash under-scores. ONE fused codegen'd
    * projection, zero shuffles: the native WinnowedMinHashes
    * expression is a monotonic-deque pass, O(n) per document — the
    * round-2 `array_min(slice(...))` HOF copied a w-element array per
    * token position (O(n·w), 18% of that round's bench) and is pinned
    * equivalent in DedupSpec. Returns (id, fps ARRAY<LONG> distinct).
    *
    * `hashFn` maps a shingle string to its LONG fingerprint. Default
    * xxhash64 (native, fused into the same codegen stage — the 100 TB
    * path); the oracle gate passes [[md5Hash60]] instead so DuckDB can
    * re-derive the exact fingerprint set (xxhash64 exists in no other
    * engine; the hash family only needs uniformity, not identity). */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, window: Int = 4,
      hashFn: Column => Column = xxhash64(_)): DataFrame =
    Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.ArrayExpressions.winnowedMinHashes(
          transform(shingles(normalized(col(textCol)), shingleK),
            s => hashFn(s)), window).as("fps"))

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    * (positive) LONG — `('0x' || substring(md5(s), 1, 15))::BIGINT` in
    * DuckDB, bit-identical. Slower than xxhash64 (crypto rounds +
    * hex parse) — the cross-engine-verification hash, not the scale
    * default. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Partial-overlap pairs by shared winnowing fingerprints:
    * containment = |shared fps| / min(|fps_a|, |fps_b|) — ≈1 when one
    * document contains the other. Candidate generation is an
    * equi-join on the fingerprint value; fingerprints shared by more
    * than `maxDf` documents are dropped first (the corpus-boilerplate
    * guard — same role as LSH's maxBucketSize, and MOSS's own
    * high-frequency cull). The cull removes a fingerprint from the
    * INDEX — numerator AND denominator: per-doc sizes count surviving
    * fingerprints, so two identical boilerplate-heavy documents still
    * score 1.0 (a pre-cull denominator scored them by the fraction of
    * their content that ISN'T corpus chrome and could miss them
    * entirely). */
  def winnowedOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, window: Int = 4, minContainment: Double = 0.5,
      maxDf: Int = 1000, hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val fps = graft.CacheScope.track(
      winnowedFingerprints(docs, idCol, textCol, shingleK, window, hashFn))
    // array_distinct is the per-doc SET contract made local: today's
    // WinnowUtil already emits distinct fingerprints (so this is an
    // O(n)-per-row no-op), but the containment denominator below
    // counts rows — a future hashFn/winnow variant emitting
    // duplicates would silently inflate sizes and drift containment
    // from the oracle (ADVICE r7)
    val ex = fps.select(col("id"),
      explode(array_distinct(col("fps"))).as("fp"))
    val common = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("fp"))
    val culled = ex.join(broadcast(common), Seq("fp"), "left_anti")
    // per-doc fps are distinct, so count ≡ surviving-set size; a doc
    // whose fingerprints are ALL culled has no candidates either, so
    // its absence from `sizes` cannot drop a pair
    val sizes = culled.groupBy(col("id")).agg(count(lit(1)).as("n"))
    culled.as("x").join(culled.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("shared"), col("containment"))
  }

  /** Semantic dedup (SemDeDup — Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster document embeddings with a coarse
    * k-means quantizer, compare pairs only WITHIN a cluster, connect
    * pairs with cosine ≥ `threshold`, and keep ONE representative
    * (min id) per connected near-dup group. Catches paraphrases and
    * re-renderings that share no n-grams — the modality MinHash and
    * SimHash are blind to.
    *
    * Scale shape: the quantizer trains on a sample (`trainFraction`),
    * centroids broadcast, assignment is a zero-shuffle projection, and
    * the pair scan is a self EQUI-join on the cell id — cells play the
    * role LSH buckets play in [[minhashLshPairs]], with the same skew
    * guard (`maxCellSize` culls degenerate cells via a broadcast
    * anti-join). Cross-cell near-dups are missed by construction —
    * SemDeDup's documented approximation; raise `nlist` resolution or
    * run [[SimilaritySearch.cosineNearDupPairs]] for banded all-pairs.
    *
    * Returns one row per input vector:
    * (id, group_id — min id of its near-dup group, itself if unique,
    * keep — true for the group representative).
    *
    * `nlist` defaults to [[AutoNlist]]: the quantizer is sized to
    * the corpus ([[KMeansPortable.autoNlist]] — expected cell
    * population held at the measured-linear target), at the cost of
    * one count job over the cached feature relation, and the
    * STRUCTURE is dispatched at the measured crossover (VERDICT r10
    * item 2 — the old behavior clamped the flat path at
    * [[KMeansPortable.MaxAutoNlist]] and silently re-entered the
    * quadratic regime past n ≈ 4.2M): a corpus whose auto nlist
    * exceeds [[KMeansPortable.FlatAutoMaxNlist]] routes to
    * [[semanticDedupAuto]]'s two-level path instead — the structural
    * choice outranks the ML-trainer flavor, because past the knee the
    * flat argmin is the measured 1075.8 s-class bottleneck
    * (SCALE.md round 10). A fixed nlist
    * is the measured α 1.92 quadratic (SCALE.md); pass one only with
    * the cell-population math done, and the auto path still fails
    * loudly ([[KMeansPortable.requireBoundedCells]]) if expected
    * population lands above the `maxCellSize` cull bound —
    * past that point the typical cell would be culled wholesale and
    * recall silently collapses.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = AutoNlist, seed: Long = 42L,
      trainFraction: Double = 1.0, maxCellSize: Int = 10000,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // structure dispatch FIRST, from a cheap raw count — building
    // (and caching) the ML feature relation before deciding would
    // materialize a corpus-sized cache the dispatched path never
    // reads (round-11 review)
    var countedN = -1L // threaded into the dispatch (ADVICE r11: the
    // auto path was recounting the same uncached relation)
    val autoK: Option[Int] =
      if (nlist != AutoNlist) None
      else {
        val n = vectors.count()
        countedN = n
        val auto = KMeansPortable.autoNlist(n)
        if (auto > KMeansPortable.FlatAutoMaxNlist) None // dispatch below
        else {
          KMeansPortable.requireBoundedCells("semanticDedup", n, auto,
            maxCellSize)
          // Spark ML's KMeans requires k >= 2 (the portable trainer
          // accepts 1); the +1 cell changes nothing at this size
          Some(math.max(2, auto))
        }
      }
    if (nlist == AutoNlist && autoK.isEmpty)
      // the caller's sampling/seed knobs travel with the dispatch
      // (round-11 review — dropping them silently changed training
      // cost semantics); the trainer flavor still changes, which the
      // scaladoc documents as the structural choice outranking it
      return semanticDedupAuto(vectors, threshold, iters = 3,
        maxCellSize = maxCellSize, idCol = idCol, vecCol = vecCol,
        trainFraction = trainFraction, seed = seed,
        ccCollectThreshold = ccCollectThreshold, n = countedN)
    // cached: k-means|| init + every Lloyd iteration rescans its
    // input — uncached, that is parquet-scan × iterations
    val feat = graft.CacheScope.track(
      vectors.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"),
        array_to_vector(col(vecCol).cast("array<double>")).as("features")))
    val k = autoK.getOrElse(nlist)
    val trainSet =
      if (trainFraction >= 1.0) feat else feat.sample(trainFraction, seed)
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").fit(trainSet)
    // persisted: the assignment feeds the cell-size aggregate, the
    // anti-join input, and both self-join sides (the q18 lesson)
    val assigned = graft.CacheScope.track(model.transform(feat)
      .select(col("id"), col("vec"), col("prediction").as("cell")))
    val oversized = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxCellSize)
      .select(col("cell"))
    val sized = assigned.join(broadcast(oversized), Seq("cell"), "left_anti")
    val edges = sized.as("x").join(sized.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("score", round(org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("x.vec"), col("y.vec")), 4))
      .filter(col("score") >= threshold)
      .select(col("x.id").as("a"), col("y.id").as("b"))
    // near-dup edges of a deduplicated corpus are rare by
    // construction — the bounded local-closure fallback applies
    val comps = ConnectedComponents.components(edges, "a", "b",
      collectThreshold = ccCollectThreshold)
      .withColumnRenamed("node", "id")
    vectors.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("group_id"))
      .withColumn("keep", col("id") === col("group_id"))
  }

  /** SemDeDup with ENGINE-PORTABLE arithmetic — the oracle twin of
    * [[semanticDedup]] (q54, rows-only forever: Spark ML k-means
    * cells are engine-specific). The coarse quantizer comes in as a
    * FIXED centroid matrix (the committed q73 IVF fixture — training
    * stays an offline artifact, exactly the deployment split the
    * reference's pgvector index uses), so the ENTIRE application is
    * re-derivable in SQL: cell assignment = argmin of
    * n2(v) − 2·dot(v,c) + n2(c) with every dot/norm an exact-decimal
    * sum (the q71 kernels — sign- and value-stable across engines and
    * partitionings) and ties to the lowest centroid index; within-cell
    * pairs verified by the decimal cosine; transitive closure by
    * min-label; survivor = min group member. What stays unverified in
    * the native path is k-means TRAINING alone — the same
    * only-the-hash-family-is-assumed structure as the LSH trilogy.
    *
    * Scale contract (VERDICT r9 item 1): the centroid matrix fixes
    * nlist, so this path REQUIRES the expected cell population
    * n/nlist to stay within `maxCellSize` — above that bound the
    * TYPICAL cell is culled wholesale and recall silently collapses
    * (and the uncullable variant of the same shape is the measured
    * α 1.92 quadratic, SCALE.md). Train with
    * [[KMeansPortable.nlistFor]]-many centroids to be in-contract by
    * construction; the check costs one count over the cached base
    * the pair scan re-reads anyway.
    */
  def semanticDedupPortable(vectors: DataFrame,
      centroids: Array[Array[Double]], threshold: Double,
      maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(centroids.nonEmpty)
    val base = KMeansPortable.shapedBase(vectors, idCol, vecCol)
    KMeansPortable.requireBoundedCells("semanticDedupPortable",
      JobTag.during("semdedup:semanticDedupPortable:cells")(base.count()),
      centroids.length, maxCellSize)
    // the assignment IS KMeansPortable's — one implementation of the
    // exact-decimal argmin serves training (q78), the fixture
    // application (q76) and the end-to-end chain (q80), so the
    // train/apply arithmetic cannot drift (review r8)
    semanticDedupFromAssigned(vectors,
      KMeansPortable.assignCells(base, centroids), threshold,
      maxCellSize, idCol, ccCollectThreshold, "semanticDedupPortable")
  }

  /** SemDeDup over a TWO-LEVEL quantizer
    * ([[KMeansPortable.trainTwoLevel]]) — the scale structure for
    * corpus-sized nlist (SCALE.md round 10: the flat argmin is a
    * single nlist-literal expression, measured unusable at the 100×
    * ∝N operating point nlist ≈ 800; two-level routing does the same
    * job in O(N·2√nlist) with no nlist-sized codegen body). Cell
    * semantics are the documented IVF approximation: a vector whose
    * nearest child sits under another super mis-routes — a recall
    * trade, not a correctness one (S = 1 degenerates to the flat
    * assignment exactly, spec-pinned). Same cull, closure and
    * survivor rules as [[semanticDedupPortable]] — the tail is the
    * shared single-sited helper.
    */
  def semanticDedupTwoLevel(vectors: DataFrame,
      model: KMeansPortable.TwoLevelModel, threshold: Double,
      maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(model.nlist > 0)
    val base = KMeansPortable.shapedBase(vectors, idCol, vecCol)
    KMeansPortable.requireBoundedCells("semanticDedupTwoLevel",
      JobTag.during("semdedup:semanticDedupTwoLevel:cells")(base.count()),
      model.nlist, maxCellSize)
    semanticDedupFromAssigned(vectors,
      KMeansPortable.assignCellsTwoLevel(base, model), threshold,
      maxCellSize, idCol, ccCollectThreshold, "semanticDedupTwoLevel")
  }

  /** SemDeDup over the RELATIONAL (third-tier) coarse structure
    * (round 14): cells from [[SimilaritySearch.trainThreeLevel]]'s
    * child RELATION via the fused cogroup assignment — nothing
    * nlist-sized on the driver — then the SHARED
    * cull/pair/closure/survivor tail. Cells are the documented IVF
    * recall heuristic, so the native-trained relational structure is
    * as legitimate a cell source as the portable Lloyd structures;
    * what the tail guarantees (cull bound, decimal pair scores,
    * min-id survivors) is identical by construction (one shared
    * site). */
  def semanticDedupRelational(vectors: DataFrame,
      coarse: SimilaritySearch.RelationalCoarse, threshold: Double,
      maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    val assigned = SimilaritySearch
      .assignCellsViaRelationFusedKeepVec(Par.ensureWide(vectors),
        coarse.supers, coarse.childRel, idCol, vecCol)
      .withColumn("n2",
        RhpExpressions.decimalScaledDot(col("vec"), col("vec")))
      .select(col("id"), col("vec"), col("n2"), col("cell"))
    semanticDedupFromAssigned(vectors, assigned, threshold,
      maxCellSize, idCol, ccCollectThreshold, "semanticDedupRelational")
  }

  /** AUTO-STRUCTURE SemDeDup — the portable family's front door
    * (VERDICT r10 item 2): size the quantizer to the corpus and
    * train the STRUCTURE the measured crossover picks
    * ([[KMeansPortable.trainAuto]] — flat Lloyd at auto nlist ≤
    * [[KMeansPortable.FlatAutoMaxNlist]], two-level past it), then
    * the shared cull/pair/closure/survivor tail. This is the path
    * that replaces the old clamp cliff: at any corpus size up to the
    * two-level clamp (~67M vectors at the default target) the
    * expected cell population stays at `targetCellSize` and the
    * assignment never becomes an nlist-sized codegen body. The
    * dispatch boundary and both-sided parity with the explicit paths
    * are spec-pinned (DedupSpec).
    *
    * THIRD TIER (round 14, the ivfCosineTopKAuto dispatch at the
    * dedup door): past `relationalPastNlist` (default the clamp) the
    * cell-population contract keeps holding — the door trains the
    * children as a relation ([[SimilaritySearch.trainThreeLevel]])
    * and assigns through the fused cogroup
    * ([[semanticDedupRelational]]) instead of clamping nlist and
    * silently re-entering the growing-cell O(N²/nlist) regime.
    */
  def semanticDedupAuto(vectors: DataFrame, threshold: Double,
      iters: Int = 3, maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Int = KMeansPortable.DefaultTargetCellSize,
      trainFraction: Double = 1.0, seed: Long = 42L,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold,
      n: Long = -1L,
      relationalPastNlist: Int = KMeansPortable.MaxAutoNlistTwoLevel): DataFrame = {
    // quantizer RESOLUTION is sized by the FULL corpus (the scale
    // contract is about application-time cell population), while the
    // TRAINING input may be a sample — the trainer fails loudly if
    // the sample is too small to seed nlist centroids. `n` < 0 =
    // count here; a caller that already counted (semanticDedup's
    // dispatch) passes it through — the trainAuto convention
    // (ADVICE r11: the dispatch was scanning the relation twice)
    val n0 = if (n >= 0) n else vectors.count()
    val trainSet =
      if (trainFraction >= 1.0) vectors
      else vectors.sample(trainFraction, seed)
    val unclamped = KMeansPortable.autoNlistUnclamped(n0, targetCellSize)
    if (unclamped > relationalPastNlist) {
      require(unclamped <= Int.MaxValue,
        s"auto nlist $unclamped exceeds Int cells — lower the sizing " +
          s"target (targetCellSize=$targetCellSize)")
      val rel = SimilaritySearch.trainThreeLevel(trainSet,
        unclamped.toInt, vecCol, seed, trainFraction = 1.0,
        iters = iters, idCol = idCol)
      semanticDedupRelational(vectors, rel, threshold, maxCellSize,
        idCol, vecCol, ccCollectThreshold)
    } else KMeansPortable.trainAuto(trainSet, iters, idCol, vecCol,
        targetCellSize, n = n0) match {
      case Left(m) =>
        semanticDedupPortable(vectors, m.centroids, threshold,
          maxCellSize, idCol, vecCol, ccCollectThreshold)
      case Right(m) =>
        semanticDedupTwoLevel(vectors, m, threshold, maxCellSize,
          idCol, vecCol, ccCollectThreshold)
    }
  }

  /** The shared SemDeDup tail: oversized-cell cull → within-cell
    * decimal-cosine pair scan → transitive closure → min-id
    * survivor. Single-sited so the flat and two-level assignment
    * paths cannot drift in cull/score/closure semantics. `assigned`
    * must carry (id, vec, n2, cell); the two-level path's
    * childless-super rows arrive with distinct out-of-range cell ids
    * and behave like any other cell (cull included). The closure's
    * jobs read `cc:<site>:…`, `site` naming the entry point. */
  private def semanticDedupFromAssigned(vectors: DataFrame,
      assignedIn: DataFrame, threshold: Double, maxCellSize: Int,
      idCol: String, ccCollectThreshold: Long, site: String): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    val assigned = graft.CacheScope.track(assignedIn)
    val oversized = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxCellSize)
      .select(col("cell"))
    val sized = assigned.join(broadcast(oversized), Seq("cell"), "left_anti")
    val edges = sized.as("x").join(sized.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("x.vec"), col("y.vec")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2"))), 6))
      .filter(col("score") >= threshold)
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val comps = ConnectedComponents.components(edges, "a", "b",
      collectThreshold = ccCollectThreshold, site = site)
      .withColumnRenamed("node", "id")
    vectors.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("group_id"))
      .withColumn("keep", col("id") === col("group_id"))
  }

  /** INCREMENTAL semantic admission — the daily-ingest batch sibling
    * of [[graft.streaming.EventStreams.semanticAdmittedStream]]
    * (VERDICT r9 item 5) and the embedding twin of
    * [[DedupPipeline.admitIncremental]]: admit the vectors of a NEW
    * batch against an already-deduplicated corpus SURVIVOR set doing
    * only new×new and new×corpus work — the corpus never
    * self-compares, so a daily batch costs O(|batch| · cell
    * population), not a full-corpus re-dedup.
    *
    * Mechanics (all single-sited pieces): both sides cell-assign
    * against the same centroid matrix ([[KMeansPortable
    * .assignCells]]); the oversized-cell cull applies to the UNION
    * population per cell (≡ the batch twin's cull — a cell culled
    * there must be culled here or the equivalence breaks); corpus
    * ids are negated into a disjoint key space (the
    * admitIncremental trick) so the closure's min-label makes any
    * corpus-touching component negative without a flag column; a
    * fresh vector is admitted iff its component is untouched by the
    * corpus AND it is the component's min id (or it pairs with
    * nothing).
    *
    * EQUIVALENCE (spec-pinned, the established admission contract):
    * given `corpusSurvivors` = the keep-set of
    * [[semanticDedupPortable]] at the same (centroids, threshold,
    * maxCellSize), the admitted set equals the batch twin over
    * corpus ∪ batch: fresh ids that survive the union dedup and
    * whose group contains no corpus member. (The precondition makes
    * corpus×corpus edges empty, so skipping them loses nothing.)
    *
    * Scale shape: the pairing is a pair of cell equi-joins (cells ARE
    * the partitioning — at deployment the corpus side is stored
    * bucketed by cell and read through
    * [[admitIncrementalSemanticAssigned]], where the no-corpus-
    * exchange plan is spec-asserted, so only the batch shuffles); the
    * closure input is the verified edge set (tiny by dedup
    * construction); ids-only exchanges after the scored joins. Ids
    * must be NON-NEGATIVE on both sides — enforced per-row at zero
    * happy-path cost.
    *
    * Returns the admitted subset of `newVecs`, original columns.
    */
  def admitIncrementalSemantic(newVecs: DataFrame,
      corpusSurvivors: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(centroids.nonEmpty)
    admitIncrementalAssigned(newVecs,
      assignCorpus(corpusSurvivors, KMeansPortable.assignCells(_, centroids),
        idCol, vecCol),
      KMeansPortable.assignCells(_, centroids), centroids.length,
      threshold, maxCellSize, idCol, vecCol, ccCollectThreshold)
  }

  /** In-query corpus shaping for the non-bucketed admission entries:
    * guard, widen, norm, assign — the fresh side's recipe applied to
    * the corpus argument. */
  private def assignCorpus(corpus: DataFrame,
      assign: DataFrame => DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    assign(
      Par.ensureWide(corpus).select(
        requireNonNegId(col(idCol).cast("long")).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
        .withColumn("n2",
          RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
  }

  /** [[admitIncrementalSemantic]] over a TWO-LEVEL quantizer — the
    * batch-ingest member of the hierarchical family
    * (`semanticDedupTwoLevel` / `semanticDecontaminateTwoLevel` /
    * `semanticAdmittedStreamTwoLevel`), for the corpus-sized-nlist
    * regime where the flat argmin is the measured assignment
    * bottleneck (SCALE.md round 10). Both sides assign through
    * [[KMeansPortable.assignCellsTwoLevel]] — childless-super rows
    * share per-super pseudo-cells across the two sides, so a fresh
    * vector in an empty-in-training coarse region still checks
    * against corpus rows there. Cull/pair/closure/admission are the
    * single-sited body.
    */
  def admitIncrementalSemanticTwoLevel(newVecs: DataFrame,
      corpusSurvivors: DataFrame, model: KMeansPortable.TwoLevelModel,
      threshold: Double, maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(model.nlist > 0)
    admitIncrementalAssigned(newVecs,
      assignCorpus(corpusSurvivors,
        KMeansPortable.assignCellsTwoLevel(_, model), idCol, vecCol),
      KMeansPortable.assignCellsTwoLevel(_, model), model.nlist,
      threshold, maxCellSize, idCol, vecCol, ccCollectThreshold)
  }

  /** Non-negative-id guard shared by every admission entry — corpus
    * ids are negated into a disjoint key space, so a negative input
    * id would silently alias a corpus row. Zero happy-path cost. */
  private def requireNonNegId(id: Column): Column =
    when(id >= 0, id)
      .otherwise(raise_error(concat(
        lit("admitIncrementalSemantic requires non-negative ids "),
        lit("(corpus ids are negated into a disjoint key space); got "),
        id.cast("string"))).cast("long"))

  /** Cell-assign a vector relation against a fixed centroid matrix —
    * (id, vec, n2, cell): the STORAGE shape of a deployment's
    * survivor corpus. Write it `Sinks.writeBucketed(_, table, "cell",
    * n)` and [[admitIncrementalSemanticAssigned]] reads the buckets
    * directly — the per-cell cull aggregate and the new×corpus pair
    * scan then need NO corpus-side exchange (spec-asserted in
    * SinksSpec): only the nightly batch shuffles, which was q91's
    * argued-only deployment claim until round 11. */
  def assignVectors(vectors: DataFrame,
      centroids: Array[Array[Double]], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    KMeansPortable.assignCells(
      Par.ensureWide(vectors)
        .select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec"))
        .withColumn("n2",
          RhpExpressions.decimalScaledDot(col("vec"), col("vec"))),
      centroids)
  }

  /** [[admitIncrementalSemantic]] over a PRE-ASSIGNED corpus — the
    * bucketed-storage deployment path. `corpusAssigned` carries
    * (id, vec, n2, cell) as written by [[assignVectors]]; it is used
    * AS READ — no repartition, no re-assignment — so over a
    * cell-bucketed table the corpus never exchanges. The caller owns
    * the consistency contract: the stored cells and `centroids` (the
    * matrix that assigns the fresh side) must be the same quantizer,
    * or fresh and corpus rows of one region land in different cells
    * and admission silently loses recall.
    */
  def admitIncrementalSemanticAssigned(newVecs: DataFrame,
      corpusAssigned: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, maxCellSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(centroids.nonEmpty)
    admitIncrementalAssigned(newVecs,
      corpusAssigned.select(requireNonNegId(col("id")).as("id"),
        col("vec"), col("n2"), col("cell")),
      KMeansPortable.assignCells(_, centroids), centroids.length,
      threshold, maxCellSize, idCol, vecCol, ccCollectThreshold)
  }

  /** The admission pair scan, single-sited: new×new (x.id < y.id
    * within a cell) ∪ new×corpus (every same-cell pair; corpus ids
    * negated into the disjoint key space), both under the shared
    * decimal cosine. SPLIT into two equi-joins rather than one join
    * against fresh ∪ negated-corpus (round 11): the union shape
    * forced the corpus through a fresh exchange, while here the
    * corpus side of the second join reads a cell-bucketed table
    * in place — `f`/`c` must carry (id, vec, n2, cell). Exposed
    * private[graft] for the SinksSpec plan assertion. */
  private[graft] def admissionEdges(f: DataFrame, c: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    def scoredPairs(pairs: DataFrame, b: Column): DataFrame = pairs
      .withColumn("score", round(
        RhpExpressions.decimalScaledDot(col("x.vec"), col("y.vec")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2"))), 6))
      .filter(col("score") >= threshold)
      .select(col("x.id").as("a"), b.as("b"))
    scoredPairs(
      f.as("x").join(f.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id")),
      col("y.id"))
      .unionByName(scoredPairs(
        f.as("x").join(c.as("y"), col("x.cell") === col("y.cell")),
        -col("y.id") - 1))
  }

  /** The shared incremental-admission body — fresh-side assignment
    * injected (flat / two-level), corpus side pre-shaped by the
    * callers (in-query assignment or the bucketed read), so every
    * structure and storage layout shares the same cull, pair scan,
    * closure and admission rule; the streaming/dedup/decon tail
    * discipline. */
  private def admitIncrementalAssigned(newVecs: DataFrame,
      corpAssigned: DataFrame, assign: DataFrame => DataFrame,
      nlist: Int, threshold: Double, maxCellSize: Int,
      idCol: String, vecCol: String,
      ccCollectThreshold: Long): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    val fresh = graft.CacheScope.track(
      assign(
        Par.ensureWide(newVecs).select(
          requireNonNegId(col(idCol).cast("long")).as("id"),
          col(vecCol).cast("array<double>").as("vec"))
          .withColumn("n2",
            RhpExpressions.decimalScaledDot(col("vec"), col("vec"))))
        // normalize the assigned schema: the two-level assignment
        // also carries its routing column
        .select(col("id"), col("vec"), col("n2"), col("cell")))
    val corp = graft.CacheScope.track(
      corpAssigned.select(col("id"), col("vec"), col("n2"), col("cell")))
    KMeansPortable.requireBoundedCells("admitIncrementalSemantic",
      fresh.count() + corp.count(), nlist, maxCellSize)
    // cull on the UNION cell population (≡ the batch twin's cull),
    // computed as the sum of PER-SIDE counts: the corpus-side
    // aggregate groups on the storage key, so a cell-bucketed corpus
    // contributes its counts without an exchange
    val oversized = fresh.groupBy(col("cell")).agg(count(lit(1)).as("__fn"))
      .join(corp.groupBy(col("cell")).agg(count(lit(1)).as("__cn")),
        Seq("cell"), "full_outer")
      .filter(coalesce(col("__fn"), lit(0L)) + coalesce(col("__cn"), lit(0L))
        > maxCellSize)
      .select(col("cell"))
    val f = fresh.join(broadcast(oversized), Seq("cell"), "left_anti")
    val c = corp.join(broadcast(oversized), Seq("cell"), "left_anti")
    val comps = ConnectedComponents.components(
      admissionEdges(f, c, threshold), "a", "b",
      collectThreshold = ccCollectThreshold)
    val admittedIds = fresh.select(col("id"))
      .join(comps, col("id") === col("node"), "left")
      .filter(col("component").isNull ||
        (col("component") >= 0 && col("component") === col("id")))
      .select(col("id").as("__admitted_id"))
    newVecs.join(admittedIds,
      col(idCol).cast("long") === col("__admitted_id"), "left_semi")
  }

  /** Segment-level (line/paragraph) exact dedup — the CCNet-style
    * boilerplate scrub (Wenzek et al., "CCNet", LREC 2020 dedupe
    * paragraphs corpus-wide; Gopher/Dolma run the same pass at line
    * granularity): every segment that textually repeats ANYWHERE in
    * the corpus is dropped except its first occurrence, and documents
    * are reassembled from their surviving segments in original order.
    * Headers, footers, navigation chrome and licence blocks — the
    * content whole-document dedup can never remove — disappear here.
    *
    * `segmentsCol` is any ARRAY<STRING> segmentation of the document
    * (lines via `split(text, '\n')`, paragraphs, sentence chunks) —
    * granularity is the caller's policy, the operator is shape-generic.
    *
    * Survivor rule: global min (doc_id, position) per md5 of the
    * segment — deterministic and auditable cross-engine (same
    * discipline as the sampling thresholds). Scale shape: segment
    * TEXT never enters a wide operation — the exploded relation drops
    * to (doc_id, pos, 16-byte hash) before its one shuffle, and the
    * min-struct aggregation combines map-side, so corpus-wide
    * boilerplate (the skew case: a segment repeated billions of
    * times) collapses to one row per partition BEFORE the shuffle.
    * Surviving POSITIONS (compact ints) group per doc and join back
    * to the documents on doc_id; reassembly filters each doc's own
    * segment array in place, so the only relation that ever carries
    * text is keyed by doc_id — uniformly distributed by construction.
    * (An earlier formulation joined the exploded text back on the
    * hash key, which re-serialized every copy of the hottest
    * boilerplate segment onto one reducer — exactly the skew the
    * aggregation avoids.)
    *
    * Returns one row per input document:
    * (doc_id, n_segments, n_kept, text_deduped).
    */
  def dedupSegments(docs: DataFrame, idCol: String, segmentsCol: Column,
      sep: String = " "): DataFrame = {
    val seg = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(segmentsCol).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("pos"), unhex(md5(col("seg"))).as("h"))
    val keptPos = seg
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(collect_list(col("f.pos")).as("__kept"))
    docs
      .select(col(idCol).cast("long").as("doc_id"), segmentsCol.as("__segs"))
      .join(keptPos, Seq("doc_id"), "left")
      .withColumn("__kept",
        coalesce(col("__kept"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_segments"),
        size(col("__kept")).cast("long").as("n_kept"),
        // project the kept positions (sorted → original segment
        // order) instead of filtering every segment through an
        // array_contains membership scan: that was O(n_segments ×
        // n_kept) PER DOCUMENT — quadratic in doc length in the
        // common mostly-unique case — vs O(k log k) here, and
        // element_at on an array is O(1)
        array_join(transform(array_sort(col("__kept")),
          i => element_at(col("__segs"), i + 1)), sep).as("text_deduped"))
  }

  /** Frequency-threshold boilerplate removal (the C4 line filter —
    * Raffel et al., "Exploring the Limits of Transfer Learning with a
    * Unified Text-to-Text Transformer", JMLR 2020 §2.2 discard any
    * line occurring ≥3 times in the corpus; Dolma and RefinedWeb run
    * the same discipline): any segment whose corpus-wide occurrence
    * count reaches `minDf` is removed from EVERY document — unlike
    * [[dedupSegments]], which keeps the globally-first copy, here no
    * copy survives, because a segment that frequent is chrome
    * (navigation, cookie banners, licence headers), not content.
    *
    * Scale shape — the boilerplate set is the SMALL side: the exploded
    * relation drops to (doc_id, pos, 16-byte hash) before its one
    * aggregation (map-side combine collapses the hot segments per
    * partition — the [[dedupSegments]] skew discipline), the
    * `df >= minDf` survivor set is tiny by construction (Zipf: few
    * segments are frequent), and it BROADCASTS back onto the exploded
    * relation as an anti-join, so no second shuffle of the corpus.
    * Reassembly filters each doc's own array in place, keyed by
    * doc_id.
    *
    * Returns (doc_id, n_segments, n_kept, text_cleaned).
    */
  def removeFrequentSegments(docs: DataFrame, idCol: String,
      segmentsCol: Column, minDf: Long, sep: String = " "): DataFrame = {
    val seg = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(segmentsCol).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("pos"), unhex(md5(col("seg"))).as("h"))
    val boiler = seg.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("h"))
    val keptPos = seg.join(broadcast(boiler), Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("__kept"))
    docs
      .select(col(idCol).cast("long").as("doc_id"), segmentsCol.as("__segs"))
      .join(keptPos, Seq("doc_id"), "left")
      .withColumn("__kept",
        coalesce(col("__kept"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("__segs")).cast("long").as("n_segments"),
        size(col("__kept")).cast("long").as("n_kept"),
        // sorted-position projection, not per-segment membership
        // scans — see dedupSegments for the complexity rationale
        array_join(transform(array_sort(col("__kept")),
          i => element_at(col("__segs"), i + 1)), sep).as("text_cleaned"))
  }

  /** Exact duplicate-SUBSTRING removal (the ExactSubstr pass of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, arXiv:2107.06499): any k-token window whose
    * text repeats ANYWHERE in the corpus is cut from every occurrence
    * except the globally first — repeated SPANS (quotes, licence
    * blocks, templated passages embedded in otherwise-unique
    * documents) survive both whole-document dedup and
    * [[dedupSegments]] (which only catches repeats aligned on segment
    * boundaries); the paper's finding is that memorization tracks the
    * span, not the document. The suffix-array construction is
    * re-expressed relationally:
    *
    *   1. grams: every k-token window → (doc_id, start, md5 hash) — a
    *      positions-and-hashes projection, window TEXT never enters a
    *      wide operation;
    *   2. one aggregation per gram hash elects the global first
    *      occurrence (min (doc_id, start) — map-side partial min, so a
    *      window repeated a billion times collapses per partition
    *      BEFORE the shuffle, the [[dedupSegments]] discipline) and
    *      keeps only hashes seen more than once;
    *   3. repeated-gram windows join back on the hash (keyed
    *      equi-join; AQE's skew handling splits hot-gram partitions)
    *      and group per doc into cut starts (non-first occurrences)
    *      and protected starts (the canonical copies), both bounded by
    *      the doc's own token count;
    *   4. each doc filters its own token array in place — the only
    *      relation carrying text stays keyed by doc_id (uniform by
    *      construction). The coverage test is O(tokens × spans) per
    *      doc via nested HOFs; spans are rare post-dedup, and both
    *      arrays are bound once (no per-element re-evaluation).
    *
    * Survivor semantics (spec-pinned): a token survives unless a
    * NON-first duplicate window covers it, except that tokens under a
    * doc's own canonical (globally-first) window always survive — so
    * exactly one copy of a duplicated substring remains corpus-wide
    * even when its repeats self-overlap ("a a a a a" at k=2 keeps
    * "a a"). Docs with fewer than k tokens are untouched.
    * Reconstruction joins surviving tokens with single spaces
    * (whitespace canonicalized, as in [[dedupSegments]]).
    *
    * Returns (doc_id, n_tokens, n_kept, text_deduped).
    */
  def dedupSubstrings(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    // hashes of all k-token windows, token array bound once (O(n))
    val gramHashes = bindArray(tokens(col(textCol))) { ts =>
      when(size(ts) >= k,
        transform(sequence(lit(0), size(ts) - k),
          i => unhex(md5(concat_ws(" ", slice(ts, i + lit(1), lit(k)))))))
        .otherwise(array().cast("array<binary>"))
    }
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(gramHashes).as(Seq("s", "h")))
    val firsts = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("s"))).as("f"),
        count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("h"), col("f"))
    // per-doc window starts of repeated grams, split canonical vs cut
    // (collect_list drops the nulls the `when` leaves on the other arm)
    val spans = grams.join(firsts, "h")
      .withColumn("__isFirst",
        struct(col("doc_id"), col("s")) === col("f"))
      .groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(when(!col("__isFirst"), col("s"))))
          .as("__cuts"),
        array_sort(collect_list(when(col("__isFirst"), col("s"))))
          .as("__firsts"))
    val emptyInts = array().cast("array<int>")
    val covered = (starts: Column, i: Column) =>
      exists(starts, s => s <= i && i < s + lit(k))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__cuts", coalesce(col("__cuts"), emptyInts))
      .withColumn("__firsts", coalesce(col("__firsts"), emptyInts))
      .withColumn("__kept", filter(col("__toks"), (_, i) =>
        !covered(col("__cuts"), i) || covered(col("__firsts"), i)))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("text_deduped"))
  }

  /** Corpus-fingerprint Bloom artifact: ONE row, one BINARY column
    * `bloom` — `numBits/8` bytes summarizing the corpus's exact-dedup
    * key set. Built by mergeable map-side partial aggregation (the
    * q48-HLL discipline: each task ships one filter, OR-merged), and
    * BIT-DETERMINISTIC for a given key set regardless of partitioning
    * — so the artifact can be persisted next to the corpus and
    * re-derived/verified by any engine with xxhash64.
    *
    * Sizing: FPR ≈ (1 − e^(−k·n/m))^k; at 9.6 bits/key and k=7 that
    * is ~1% — 10⁹ corpus keys ≈ 1.2 GB, a broadcast-able artifact
    * that replaces a 100 TB corpus scan in the membership role.
    */
  def fingerprintBloom(corpus: DataFrame, textCol: String,
      numBits: Long, numHashes: Int = 7): DataFrame =
    corpus.select(fingerprint(col(textCol)).as("fp"))
      .agg(org.apache.spark.sql.graft.BloomExpressions
        .bloomAgg(col("fp"), numBits, numHashes).as("bloom"))

  /** EXACT incremental admission with a Bloom prefilter — the
    * daily-batch twin of [[DedupPipeline.admitIncremental]]'s exact
    * stage, restructured so the corpus is never shuffled and only
    * FPR-rare suspects pay any join at all:
    *
    *   1. in-batch election — first (min-id) doc per fingerprint
    *      within the batch (one batch-sized shuffle);
    *   2. bloom probe — a zero-shuffle projection against the 1-row
    *      broadcast [[fingerprintBloom]] artifact: `false` means
    *      DEFINITELY new (no-false-negatives guarantee), admitted with
    *      no further work; `true` means suspect (true re-crawl or
    *      false positive, FPR-bounded);
    *   3. verify — corpus fingerprints MAP-SCAN against the broadcast
    *      suspect set (BroadcastHashJoin LeftSemi, corpus side streams:
    *      zero corpus shuffle) to find which suspects really exist;
    *   4. admit — batch anti-join against the broadcast confirmed-hit
    *      set. Result is EXACT: the bloom only routes work, it never
    *      decides membership (false positives are cleared in step 3) —
    *      which is why this carries a full SQL oracle (q59) that knows
    *      nothing about the bloom.
    *
    * At 100 TB: the artifact is built once (offline, like IVF/PQ
    * codebooks) and reused across batches; per-batch cost is one scan
    * of the batch + a join whose BOTH sides are suspect-sized. This
    * formulation rebuilds it in-plan, which the gate keeps honest.
    *
    * Returns admitted rows: `fp` + the original batch columns.
    */
  def admitNewExact(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numBits: Long = 1L << 23, numHashes: Int = 7): DataFrame = {
    import org.apache.spark.sql.graft.BloomExpressions._
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    // consumed by the suspect derivation AND the final anti-join;
    // bounded by the batch (CacheScope releases after the action)
    val elected = graft.CacheScope.track(
      newDocs.withColumn("__fp", fingerprint(col(textCol)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    val bloomDf = fingerprintBloom(corpus, textCol, numBits, numHashes)
    val suspects = elected
      .crossJoin(broadcast(bloomDf)) // declared 1-row artifact attach
      .filter(bloomMightContain(col("bloom"), col("__fp")))
      .select(col("__fp")).distinct()
    val hits = corpus.select(fingerprint(col(textCol)).as("__fp"))
      .join(broadcast(suspects), Seq("__fp"), "left_semi")
      .distinct()
    elected.join(broadcast(hits), Seq("__fp"), "left_anti")
      .withColumnRenamed("__fp", "fp")
  }

  /** SimHash near-dup pairs with ENGINE-PORTABLE hashing — the q69
    * companion for the SimHash family: a 60-bit signature over
    * [[md5Hash60]] token hashes (bit j = sign of Σ ±1 by bit j of
    * each distinct token's hash), 4 × 15-bit pigeonhole bands for
    * hamming ≤ 3, popcount-verified. Every step — token hashing,
    * per-bit vote, band values, the bucket cull, the hamming check —
    * is integer arithmetic a SQL engine reproduces exactly, so the
    * SimHash MECHANICS sit under a full value oracle (q70); q19's
    * zero-shuffle native xxhash64 expression stays the scale path,
    * differing only in hash family and width. Signatures are the
    * fused [[org.apache.spark.sql.graft.Md5SimHash60]] kernel — a
    * zero-shuffle projection replicating the exploded 60-column sign
    * aggregate bit-for-bit (3.2 s → 1.9 s at sf0.1; the round-5
    * aggregate paid a keyed (id, hash) shuffle for order-free
    * integer counts a per-row fold computes identically).
    *
    * Returns (a_id, b_id, hamming ≤ maxHamming). maxHamming must be
    * 3 (4 bands × 15 bits pigeonhole the 60-bit space).
    */
  def simhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame = {
    require(maxHamming == 3, "portable variant pigeonholes 60 bits as 4x15")
    // Round-7: fused Md5SimHash60 kernel — same md5-60 token hashes,
    // same ±1 counts and `>= 0` sign rule as the exploded 60-column
    // aggregate it replaces (q70 oracle hash-matches), minus the
    // keyed (id, hash) shuffle; empty token sets yield null and are
    // dropped exactly like the groupBy dropped them
    val base = graft.CacheScope.track(Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.SimHashExpression.md5SimHash60(
          tokenSet(normalized(col(textCol)))).as("sig"))
      .filter(col("sig").isNotNull))
    // shared 60-bit pigeonhole back half (round-9 single-siting with
    // the perceptual-hash families) — expression-identical to the
    // inline banding it replaced; q70's oracle pins value identity
    Lsh.hamming60Pairs(base, maxHamming, maxBucketSize,
      maxExpectedOccupancy)
  }

  /** 64-bit SimHash over the distinct-token set: bit j of the
    * signature is the sign of Σ_tokens (±1 by bit j of xxhash64(tok)).
    * One zero-shuffle projection via the native SimHash64 expression
    * (identical signatures to the explode + 64-conditional-sums
    * aggregate formulation it replaced — same xxhash64 seed; an empty
    * token set yields a NULL signature, matching the row the groupBy
    * formulation never emitted — not the 0L that would band every
    * empty document together).
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.ensureWide(docs)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graft.SimHashExpression
          .simhash64(tokenSet(normalized(col(textCol)))).as("sig"))

  /** SimHash near-dup pairs within `maxHamming` (≤ 3 with 4 bands):
    * pigeonhole — any pair within hamming d of 64 bits shares at
    * least one of (d+1) 16-bit bands exactly. Band equi-join, then
    * popcount verify.
    *
    * The band key is only 16 bits (65,536 buckets per band), so at
    * corpus scale near-identical content — the dedup target — piles
    * into single buckets and the self-join goes quadratic without a
    * guard. Buckets larger than `maxBucketSize` are culled by the
    * same broadcast anti-join every sibling uses (the portable twin,
    * MinHash, RHP); exact dedup upstream is expected to have removed
    * the degenerate identical-signature mass. Candidates are
    * de-duplicated on IDS ONLY, then signatures join back from the
    * cached base — a (long, long) exchange, never (long, long, sig,
    * sig) × 4 bands.
    *
    * CONTRACT (hardened round 9, noted for external callers): every
    * banded hamming family in this package — this 64-bit path and the
    * 60-bit [[Lsh.hamming60Pairs]] kernel behind the portable/media
    * variants — now REJECTS `maxHamming` > 3 at runtime instead of
    * returning the silently-partial recall the pigeonhole cannot
    * guarantee past 3. A caller that wants a wider radius needs more
    * bands, not a larger threshold.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "4 x 16-bit bands guarantee recall only to hamming 3")
    // cached: consumed by the banding and both verify-side joins.
    // Null signatures (empty token sets — SimHash64 nulls them like
    // the aggregate formulation dropped them) leave the pair space
    // here, exactly as in the portable twin.
    val sigs = graft.CacheScope.track(
      simhashSignatures(docs, idCol, textCol).filter(col("sig").isNotNull))
    val banded = sigs.select(col("id"),
      posexplode(array((0 until 4).map(k =>
        shiftrightunsigned(col("sig"), k * 16).bitwiseAND(lit(0xFFFFL))): _*)
      ).as(Seq("band", "key")))
    Lsh.bandedCandidatePairs(banded, Seq("band", "key"), maxBucketSize)
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }
}
