package graft.operators

import graft.queries.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic sampling for training-data pipelines: reproducible
  * subsampling, per-stratum rates, and rebalancing a corpus to a
  * target domain mixture.
  *
  * Every sample here is a pure function of the ROW (its id), not of
  * the partitioning, the run, or a seed stream: `keep(id, rate)` is
  * "the first 8 hex chars of md5(id) fall below a threshold string".
  * That gives the three properties a 100 TB pipeline needs and
  * `DataFrame.sample` does not have:
  *
  *   - reproducible across runs/cluster sizes/retries (a task retry
  *     resamples identically; `sample()` does not guarantee that);
  *   - NESTED: the rate-0.1 sample is a subset of the rate-0.2 sample
  *     (thresholds are ordered), so ablation subsets are consistent;
  *   - verifiable by any engine that has md5 (the oracle re-derives
  *     the exact member set — no RNG state to replicate).
  *
  * Scale shape: threshold sampling is a narrow FILTER — no shuffle, no
  * state, pushes past column pruning into the scan. Mixture
  * rebalancing ranks within domain (one keyed shuffle) but uses pure
  * integer arithmetic for the per-domain quotas so the result is
  * bit-reproducible cross-engine (no float rate boundaries).
  *
  * Reference analog: the reference snapshots deterministic id→shard
  * assignments for resumable processing (SURVEY X19/X25); this is the
  * same idea promoted to corpus curation ops.
  */
object Sampling {

  /** 8-hex-char lowercase threshold: a uniform hash-fraction u in
    * [0,1) (the first 32 bits of md5) is kept iff hex(u) < threshold.
    * Comparing fixed-width lowercase hex strings IS the numeric
    * compare, so this works in any engine with md5 + substring.
    */
  // md5(NULL) is NULL and every comparison against it is NULL, so a
  // null key would silently fall through every CASE branch. NULL keys
  // are coalesced to this sentinel instead: they behave as ONE
  // ordinary key value (all null-key rows land together — for a
  // leakage key that is the safe choice, since rows with no
  // fingerprint cannot be proven non-duplicates of each other).
  private val NullKeySentinel = "\u0000graft-null-key\u0000"
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate < 1.0, s"rate must be in [0,1): $rate")
    f"${math.floor(rate * 4294967296.0).toLong}%08x"
  }

  /** Every id that feeds an md5 threshold/rank goes through this: a
    * NULL id otherwise nulls the whole predicate and the row silently
    * vanishes from the sample — data loss at a declared keep-rate
    * (rate 1.0 in [[stratifiedSample]] still dropped null-id rows).
    * Non-null ids hash identically to the bare cast, so oracle SQL
    * without the coalesce stays value-identical on non-null data.
    */
  private def keyHash(id: Column): Column =
    md5(coalesce(id.cast("string"), lit(NullKeySentinel)))

  private val dec38 = DecimalType(38, 0)

  /** The default within-domain selection order: md5-rank then id —
    * stable under reruns, nested under quota drift, oracle-replayable.
    */
  private def md5RankOrder(idCol: String): Seq[Column] =
    Seq(keyHash(col(idCol)), col(idCol))

  /** The shared quota-selection kernel every rebalancer funnels
    * through ([[qualityFilter]], [[mixtureRebalance]],
    * [[temperatureRebalance]], [[unimaxRebalance]] — four former
    * copies of the same subtlety, extracted per review r8): broadcast
    * the tiny `(__dom, __quota)` relation, rank rows within their
    * domain by `order`, keep rank ≤ quota. The join is null-SAFE
    * (`<=>`): a null domain is a stratum like any other — plain `===`
    * would silently discard every null-domain row, which is exactly
    * the bug this single-siting exists to keep fixed. Ranks and
    * quotas compare in DECIMAL(38,0) so LONG and DECIMAL(38,0) quota
    * relations are both exact (a long rank always fits).
    */
  private[graft] def keepByQuota(df: DataFrame, domainCol: Column,
      quotas: DataFrame, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(domainCol).orderBy(order: _*)
    df.join(broadcast(quotas), domainCol <=> col("__dom"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk").cast(dec38) <= col("__quota").cast(dec38))
      .drop("__dom", "__quota", "__rk")
  }

  /** Unsigned-lexicographic UTF-8 byte ordering — the binary string
    * collation DuckDB (and most SQL engines) applies to ORDER BY.
    * Scala's default String ordering compares UTF-16 code units,
    * which ranks supplementary-plane characters (surrogate pairs,
    * 0xD800–0xDFFF code units) BELOW U+E000–U+FFFF while their UTF-8
    * bytes (0xF0–0xF4 lead) rank ABOVE — so a driver-side walk
    * tie-broken by the raw String could diverge from its SQL oracle
    * for such domain names (ADVICE r8). */
  private val utf8Ordering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The keep predicate for a deterministic `rate` sample keyed on
    * `id` (cast to string; equals the SQL md5(CAST(id AS VARCHAR))).
    */
  def keep(id: Column, rate: Double): Column =
    if (rate >= 1.0) lit(true)
    else substring(keyHash(id), 1, 8) < lit(hexThreshold(rate))

  /** Deterministic uniform sample: zero-shuffle filter. */
  def deterministicSample(df: DataFrame, idCol: String, rate: Double): DataFrame =
    df.filter(keep(col(idCol), rate))

  /** Per-stratum deterministic rates (e.g. language downsampling:
    * keep 100% of low-resource languages, 20% of English). Strata
    * absent from `rates` keep `defaultRate`. Still a pure filter —
    * the rate map compiles to a literal CASE chain, not a join.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double,
      idCol: String): DataFrame = {
    // rates are compile-time → the predicate is one codegen'd CASE
    // over string compares ("g" sorts above every hex char = keep all)
    val thresholdOf: Double => Column = r =>
      if (r >= 1.0) lit("g") else lit(hexThreshold(r))
    // deterministic chain order (sorted keys) so plans are stable
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(thresholdOf(defaultRate)) {
      case (acc, (k, r)) => when(col(stratumCol) === lit(k), thresholdOf(r)).otherwise(acc)
    }
    df.filter(substring(keyHash(col(idCol)), 1, 8) < threshold)
  }

  /** Per-stratum quality filtering: keep the top `keepNum/keepDenom`
    * fraction of each stratum by a quality score — the "drop the
    * bottom quartile per language" curation step — expressed
    * RANK-based, not threshold-based: a score threshold computed by
    * interpolated percentile differs between engines by an ulp and
    * flips membership of boundary docs, while rank ≤ ceil(frac·n)
    * with a deterministic (score desc, id) order is integer-exact
    * everywhere. Shape: one tiny per-stratum count + one window rank
    * (same discipline as [[mixtureRebalance]]).
    */
  def qualityFilter(df: DataFrame, stratumCol: String, scoreCol: Column,
      keepNum: Int, keepDenom: Int, idCol: String): DataFrame = {
    require(keepNum > 0 && keepDenom >= keepNum)
    val counts = df.groupBy(col(stratumCol).as("__s"))
      .agg(count(lit(1)).as("__cnt"))
    // keep_d = ceil(cnt * num / denom), integer-only
    val keeps = counts.select(col("__s").as("__dom"),
      expr(s"(__cnt * ${keepNum}L + ${keepDenom - 1}L) div ${keepDenom}L")
        .as("__quota"))
    keepByQuota(df, col(stratumCol), keeps, Seq(scoreCol.desc, col(idCol)))
  }

  /** Leakage-free train/val/test split assignment: a pure function of
    * a LEAKAGE KEY — typically the normalized-content fingerprint or
    * the dedup group id, NOT the row id — so duplicate and
    * near-duplicate documents can never straddle train and eval (the
    * contamination path a row-keyed split leaves open). Buckets are
    * cumulative md5-threshold edges over integer weights
    * (`("train",8),("val",1),("test",1)` = 80/10/10), sharing the
    * [[keep]] machinery's properties: a zero-shuffle projection,
    * reproducible across runs/retries/cluster sizes, NESTED under
    * weight refinements of the same prefix, and auditable by any
    * engine with md5. The final bucket is the CASE fallthrough, so
    * every row is assigned. NULL keys are coalesced to a sentinel
    * before hashing: all of them land in ONE deterministic split
    * (like any other shared key), never scattered — without the
    * coalesce, md5(NULL) would null every branch and silently dump
    * null-key rows into the LAST split.
    */
  def assignSplit(key: Column, weights: Seq[(String, Int)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum.toDouble
    val h = substring(md5(coalesce(key.cast("string"),
      lit(NullKeySentinel))), 1, 8)
    val cum = weights.scanLeft(0)(_ + _._2).tail
    weights.zip(cum).dropRight(1)
      .foldRight(lit(weights.last._1): Column) {
        case (((name, _), c), acc) =>
          when(h < lit(hexThreshold(c / total)), name).otherwise(acc)
      }
  }

  /** Rebalance a corpus to a target domain mixture, keeping as much
    * data as possible: the largest total T consistent with the
    * targets is bounded by the scarcest domain, quota_d = how many
    * rows of domain d appear in that T-row mixture, and each domain
    * keeps its quota by deterministic hash order (so the selection is
    * stable under reruns AND nested across target changes).
    *
    * Targets are RATIONAL (numerator per domain over a common
    * denominator, e.g. en->2, de->1, fr->1 over denom 4 = 50/25/25%)
    * so every quota is integer arithmetic — bit-identical in any
    * engine, no float rate boundaries. Domains absent from `targets`
    * are dropped (target share 0).
    *
    * Shape: one tiny per-domain count (partial agg), broadcast back,
    * one rank within domain. The rank is a per-domain window — for a
    * domain so hot its rows exceed one executor's spill budget, the
    * bounded-state alternative is the TopKByScore aggregate (see
    * SCALE.md); the window keeps the gate query planar.
    */
  /** Temperature-smoothed mixture rebalance — the multilingual /
    * multi-source α-smoothing of mBERT, XLM-R and mT5 (Devlin 2019
    * §"exponentially smoothed weighting"; Conneau & Lample 2019 §3.1;
    * Xue 2021 §3.2: sample domain d with p_d ∝ n_d^α): downsample
    * abundant domains so KEPT shares follow n_d^(1/2) instead of
    * n_d, keeping as much data as possible. Where [[mixtureRebalance]]
    * takes explicit rational targets, the temperature mixture derives
    * them from the data — the standard curation move when hand-tuned
    * ratios don't exist.
    *
    * α = 1/2 (temperature τ = 2) is THE engine-portable exponent:
    * IEEE-754 sqrt is correctly rounded in every engine, so the
    * integer-scaled weights W_d = round(sqrt(n_d)·10⁶) reproduce
    * bit-for-bit cross-engine and everything downstream is exact
    * integer arithmetic (the [[mixtureRebalance]] discipline —
    * `div`, never float `/`). General α would need pow(), which is
    * NOT correctly rounded and differs across libm builds — an
    * oracle non-starter, and why this operator fixes the exponent.
    *
    * T = max total = min_d ⌊n_d·S / W_d⌋ (S = Σ W_d);
    * quota_d = W_d·T div S (provably ≤ n_d); each domain keeps its
    * quota by md5-rank order (stable under reruns, nested under
    * count drift). Products ride in DECIMAL(38,0) — n_d·S overflows
    * a LONG at petascale domain counts — and floor-division uses the
    * exact (a − a mod b) / b identity (decimal `/` alone rounds
    * HALF_UP at scale 6, which can cross an integer boundary).
    *
    * Shape: one per-domain count (map-side partial agg), three
    * broadcast-attached scalar relations, one per-domain rank window
    * — the q46 plan family, nothing corpus-wide but the rank.
    */
  def temperatureRebalance(df: DataFrame, domainCol: String,
      idCol: String): DataFrame = {
    def floorDiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast(dec38)
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__cnt"))
    val weighted = counts.withColumn("__w",
      Num.dec(round(sqrt(col("__cnt").cast("double")) * lit(1e6)), 38, 0))
    val s = weighted.agg(sum(col("__w")).cast(dec38).as("__s"))
    // declared 1-row scalar attaches (the q40/q46 crossJoin shape)
    val t = weighted.crossJoin(broadcast(s))
      .agg(min(floorDiv(col("__cnt").cast(dec38) * col("__s"), col("__w")))
        .as("__t"))
    val quotas = weighted.crossJoin(broadcast(s)).crossJoin(broadcast(t))
      .select(col("__dom"),
        floorDiv(col("__w") * col("__t"), col("__s")).as("__quota"))
    keepByQuota(df, col(domainCol), quotas, md5RankOrder(idCol))
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023) in the down-sample regime: distribute a
    * total row budget UNIFORMLY across domains by water-filling —
    * walk domains ASCENDING by count; a domain smaller than the fair
    * share `remaining_budget div remaining_domains` keeps everything
    * and the surplus redistributes to the rest. The result is the
    * fairest mixture that spends the budget without repeating data
    * (the paper's epoch cap, fixed at 1 here — upsampling is the
    * trainer's loop, not the curator's), and the published
    * alternative to [[temperatureRebalance]]'s power smoothing.
    *
    * All allocation is integer arithmetic over the tiny per-domain
    * count vector — the walk is inherently sequential but its state
    * is L scalars (the Lloyd-centroid discipline: counts collect to
    * the driver, quotas broadcast back; at 100 TB, L is languages or
    * sources — dozens — while the corpus never moves). Selection per
    * domain is md5-rank (stable, nested); ties in the ascending walk
    * break by domain string so the allocation is a pure function of
    * the count multiset. A SQL engine replays the walk with a
    * recursive CTE — q82 gates it value-for-value.
    */
  def unimaxRebalance(df: DataFrame, domainCol: String, idCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    unimaxSelect(df, domainCol, idCol, domainCounts(df, domainCol), budget)
  }

  /** [[unimaxRebalance]] with the budget expressed as the rational
    * fraction `budgetNum/budgetDenom` of the corpus size. The total
    * comes from the SAME per-domain count aggregation the walk needs
    * anyway — no separate corpus-wide `count()` job (review r8: the
    * q82 gate ran one extra scan per invocation to derive its 4/5
    * budget).
    */
  def unimaxRebalanceFraction(df: DataFrame, domainCol: String,
      idCol: String, budgetNum: Long, budgetDenom: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDenom > 0,
      "budget fraction must be non-negative with a positive denominator")
    val counts = domainCounts(df, domainCol)
    // divide in BigInt: corpus_total × budgetNum overflows Long
    // silently at ~10^19 row-units (ADVICE r9) — the single scalar
    // is driver-side, so exact arithmetic is free. longValueExact
    // still fails LOUDLY if the budget itself (num > denom) exceeds
    // Long range rather than wrapping into a bogus quota walk.
    val budget = (BigInt(counts.map(_._2).sum) * budgetNum / budgetDenom)
      .bigInteger.longValueExact()
    unimaxSelect(df, domainCol, idCol, counts, budget)
  }

  /** One tiny per-domain count aggregation collected to the driver —
    * L scalars (languages/sources: dozens), never corpus rows. */
  private def domainCounts(df: DataFrame,
      domainCol: String): Array[(Option[String], Long)] =
    df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (Option(r.get(0)).map(_.toString), r.getLong(1)))

  private def unimaxSelect(df: DataFrame, domainCol: String, idCol: String,
      counts: Array[(Option[String], Long)], budget: Long): DataFrame = {
    // ascending water-filling walk — L scalar steps, driver-side.
    // Tie-break matches the oracle's ORDER BY n, lang with DuckDB's
    // NULLS-LAST default: a null domain walks AFTER every real
    // domain of the same count (and never collides with a real ""
    // domain — the isEmpty component keeps the sort key unique, so
    // the walk stays a pure function of the count multiset). Count
    // ties between real domains break by the name's UTF-8 bytes
    // (utf8Ordering), the oracle's binary collation — NOT Scala's
    // UTF-16 String order (ADVICE r8).
    val ordered = counts.sortBy { case (d, n) =>
      (n, d.isEmpty, d.getOrElse("")) }(
      Ordering.Tuple3(Ordering.Long, Ordering.Boolean, utf8Ordering))
    var brem = budget
    var lrem = ordered.length
    val quotas = ordered.map { case (d, n) =>
      val q = math.min(n, if (lrem > 0) brem / lrem else 0L)
      brem -= q
      lrem -= 1
      (d, q)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = quotas.toSeq
      .map { case (d, q) => (d.orNull, q) }.toDF("__dom", "__quota")
    keepByQuota(df, col(domainCol), quotaDf, md5RankOrder(idCol))
  }

  def mixtureRebalance(df: DataFrame, domainCol: String,
      targets: Map[String, Int], idCol: String): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0))
    val denom = targets.values.sum.toLong
    val numOf = targets.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) {
      case (acc, (k, n)) => when(col(domainCol) === lit(k), lit(n.toLong)).otherwise(acc)
    }
    val tagged = df.withColumn("__num", numOf).filter(col("__num").isNotNull)
    // T = max total mixture size = min_d (count_d * denom div num_d).
    // Integer `div`, never `/`: long / long is a DOUBLE divide in
    // Spark, and a 2^53+ numerator would round the quota boundary.
    val counts = tagged.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__cnt"), first(col("__num")).as("__n"))
    // a target domain with ZERO rows caps T at 0 (the target mixture
    // is unsatisfiable) — without the guard it would silently vanish
    // from `counts` and the output would violate the requested
    // proportions instead of being honestly empty
    val t = counts.agg(
      when(count(lit(1)) < lit(targets.size),
        lit(0L)).otherwise(min(expr(s"__cnt * ${denom}L div __n"))).as("t"))
    // quota_d = num_d * T div denom: how many domain-d rows the T-row
    // mixture contains. Broadcast: one row.
    val quotas = counts.join(broadcast(t))
      .select(col("__dom"), expr(s"__n * t div ${denom}L").as("__quota"))
    // tagged rows all have non-null domains (the __num filter), so the
    // kernel's null-safe join degenerates to plain equality here
    keepByQuota(tagged, col(domainCol), quotas, md5RankOrder(idCol))
      .drop("__num")
  }

  /** Deterministic global training-order shuffle + sharding — the
    * data-loader handoff: every epoch of LLM training consumes the
    * corpus in a pseudorandom order split into shards a worker fleet
    * can stream independently. Seeded md5 over the id gives the
    * permutation (engine-portable, reproducible run-to-run and
    * partitioning-independent); the shard is the 60-bit hash prefix
    * mod numShards, the within-shard position ranks by the same hash.
    * Because the hash values are exchangeable (any doc is equally
    * likely to land anywhere in hash order, independent of its id),
    * shard membership is an unbiased partition and the concatenation
    * shard0 ++ shard1 ++ … is a uniform shuffle of the corpus — the
    * mod bucketing interleaves hash order across shards rather than
    * splitting it into contiguous ranges, which is exactly as good by
    * exchangeability, just not the "top bits" range split.
    *
    * Scale shape: NO global sort — a global row_number would funnel
    * 100 TB through one task. Sharding is a zero-shuffle projection;
    * the only wide op is the per-shard rank window, numShards-way
    * parallel (pick numShards ≈ fleet width × a few, thousands at
    * corpus scale, so each shard sorts executor-sized data). Shard
    * sizes are binomial-balanced (exact-equal splitting would need
    * the global rank this design exists to avoid).
    *
    * Returns df's columns + (shard INT, pos BIGINT 0-based).
    */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
      seed: String): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    // concat_ws SKIPS null args, so a null id would hash as md5(seed)
    // — same h for every null-id row AND indistinguishable from an id
    // whose string form is empty; coalesce to the sentinel first
    val h = md5(concat_ws(":", lit(seed),
      coalesce(col(idCol).cast("string"), lit(NullKeySentinel))))
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("__shard", graft.functions.TextFunctions
        .md5Bucket(col("__h"), numShards.toLong))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .withColumnRenamed("__shard", "shard")
      .drop("__h")
  }
}
