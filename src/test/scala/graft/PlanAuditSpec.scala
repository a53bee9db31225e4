package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan pins of the properties the 100 TB design depends on:
  * filter/column pushdown into the parquet scan, broadcast joins for
  * dimensions, whole-stage codegen coverage, the operator kernels a
  * query must compile to, no cartesian product where an equi-join is
  * expected, and per-query caps on shuffle exchanges. One test per
  * [[PlanAuditSpec.Check]] at sf0.001; the generic sweep over every
  * catalog plan (no CartesianProduct, BNLJ only for [[PlanAuditSpec
  * .bnljAllowed]], no unpartitioned window) runs in QueryCatalogSpec
  * on the DataFrame its per-query test already builds.
  */
object PlanAuditSpec {
  case class Check(query: String, mustContain: Seq[String],
      mustNotContain: Seq[String] = Nil,
      // cap on `(n) Exchange` nodes (shuffles; BroadcastExchange not
      // counted) in the formatted plan — pins a measured plan shape so
      // a refactor can't silently reintroduce removed exchanges.
      //
      // ANNOTATION CONVENTION (VERDICT r9 item 6): every cap comment
      // is tagged either
      //   [MEASURED] — the value IS today's counted plan (zero
      //     headroom by design: the cap is a regression tripwire, not
      //     a budget; a benign plan change may move the count, and the
      //     right response is to re-count, justify the delta in the
      //     comment, and re-pin), or
      //   [CEILING]  — the value follows from the operator's stated
      //     contract (e.g. "Lloyd's final frame re-derives one
      //     aggregation" ⇒ 1); exceeding it means the CONTRACT broke,
      //     not just the plan.
      // Comments also say which counted exchanges are Par.ensureWide
      // scan widenings (repartitions that exist only to spread a
      // single-file scan across the box — benign, but the regex counts
      // them) vs real keyed shuffles.
      maxShuffleExchanges: Option[Int] = None)

  val checks: Seq[Check] = Seq(
    // q01: shipdate filter + column pruning reach the scan; whole plan
    // below the final sort is codegen'd
    Check("q01_pricing_summary",
      mustContain = Seq("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
        "WholeStageCodegen")),
    // q02: star joins broadcast the dims (no shuffle of the fact for dims)
    Check("q02_revenue_by_nation",
      mustContain = Seq("BroadcastHashJoin", "WholeStageCodegen")),
    // q03: anti join stays a hash join, not cartesian
    Check("q03_resume_anti_join",
      mustContain = Seq("LeftAnti"),
      mustNotContain = Seq("CartesianProduct")),
    // q06: aggregation shrinks the fact BEFORE the rank window, and
    // rank<=k prunes via WindowGroupLimit before the full sort
    Check("q06_topk_per_group",
      mustContain = Seq("HashAggregate", "WindowGroupLimit", "BroadcastHashJoin")),
    // q18: LSH candidate generation is an equi-join on (band, bucket);
    // signatures come from the fused native expression (no explode +
    // 32-column aggregate), and the base relation is cached once
    Check("q18_minhash_lsh",
      mustContain = Seq("hashpartitioning", "minhashsignature",
        "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q19: zero-shuffle native SimHash signatures; the 16-bit band
    // space REQUIRES the bucket-size cull (broadcast anti-join) —
    // without it near-identical content piles into single buckets and
    // the self-join goes quadratic at corpus scale; signatures are
    // cached once and join back onto id-only candidates
    Check("q19_simhash_pairs",
      mustContain = Seq("simhash64", "LeftAnti", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct")),
    // q23: the LSH key is the fused native expression, not an
    // interpreted aggregate(zip_with(...)) fold
    Check("q23_lsh_cosine_topk",
      mustContain = Seq("randomhyperplanesignature"),
      mustNotContain = Seq("aggregate(zip_with", "CartesianProduct")),
    // q20: anchors broadcast; the scan side never shuffles for scoring;
    // the native cosine expression is in the plan; the per-anchor rank
    // is the bounded top-k aggregate (partial aggregation), not a full
    // sort-based window
    Check("q20_cosine_topk",
      mustContain = Seq("BroadcastNestedLoopJoin", "cosinesimilarity",
        "topkbyscore"),
      mustNotContain = Seq("WindowExec", "WindowGroupLimit")),
    // q34: fingerprints come from the O(n) native monotonic-deque
    // expression (one fused projection), not the O(n·w)
    // array_min(slice(...)) HOF copy-per-position; candidates stay an
    // equi-join on fingerprint
    Check("q34_winnow_containment",
      mustContain = Seq("winnowedminhashes", "InMemoryTableScan"),
      mustNotContain = Seq("array_min(slice", "CartesianProduct",
        "BroadcastNestedLoopJoin")),
    // q24: partial aggregation before the shuffle
    Check("q24_tumbling_window",
      mustContain = Seq("HashAggregate", "hashpartitioning")),
    // q31: the member-pair expansion reduces through partial
    // aggregation; no cartesian anywhere in the 4-join stitch
    Check("q31_group_scores",
      mustContain = Seq("HashAggregate", "cosinesimilarity"),
      mustNotContain = Seq("CartesianProduct")),
    // q32: anchors broadcast, native cosine in the scan stage
    Check("q32_cosine_pairs",
      mustContain = Seq("BroadcastNestedLoopJoin", "cosinesimilarity")),
    // q38: the as-of join compiles to union + window carry — ONE
    // shuffle + sort, ZERO join operators (the dedup window and the
    // carry window share the user_id partitioning)
    Check("q38_asof_join",
      mustContain = Seq("Window", "hashpartitioning"),
      mustNotContain = Seq("SortMergeJoin", "BroadcastHashJoin",
        "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")),
    // q39: the range join is a bucketed EQUI-join + containment
    // filter, never the nested-loop plan Spark gives bare
    // inequality joins
    Check("q39_range_join",
      mustContain = Seq("hashpartitioning"),
      mustNotContain = Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // q27: the gap-fill is one window pass per order, walked by the
    // gap_fill_number kernel: no cached input, no free-number pool
    // (collect_set), no join back on rank. [MEASURED] 2 = the order-key
    // repartition the window reuses + the presentation sort's range
    // exchange, both real keyed shuffles (at one shuffle partition the
    // repartition is a single partition and the sort needs no exchange)
    Check("q27_gap_fill",
      mustContain = Seq("gap_fill_number"),
      mustNotContain = Seq("InMemoryTableScan", "SortMergeJoin", "collect_set"),
      maxShuffleExchanges = Some(2)),
    // q36: the composed pipeline joins album-side relations by
    // BROADCAST (never shuffles the track rows for album metadata);
    // every wide operation is a keyed shuffle — no cartesian, no BNLJ.
    // [MEASURED] 8 (sf0.001 formatted): one album-keyed repartition
    // feeds every album-keyed stage, the gap-fill window included (its
    // (album, disc) clustering is satisfied by the album partitioning),
    // so the gap-fill adds no exchange. It was 12 while the gap-fill
    // built a free-number pool and joined it back on rank, and while
    // its input was cached under a cache boundary of its own. All 8
    // are real keyed shuffles (no ensureWide in this lineage).
    Check("q36_catalog_pipeline",
      mustContain = Seq("BroadcastHashJoin", "WindowGroupLimit",
        "gap_fill_number"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "collect_set"),
      maxShuffleExchanges = Some(8)),
    // q44: the composed dedup pipeline caches the keyed relation once
    // (bucket-size agg + both self-join sides read the cache) and every
    // wide stage is a keyed shuffle. [MEASURED] 5 = the round-8 counted
    // plan (sf0.001 formatted): banding shuffle, candidate distinct,
    // pair aggregation, survivor join-back, presentation sort — all
    // real keyed shuffles (no ensureWide in this lineage).
    Check("q44_dedup_pipeline",
      mustContain = Seq("InMemoryTableScan", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      maxShuffleExchanges = Some(5)),
    // q45: the sample is a pure filter — column pruning strips `text`
    // from the scan (the whole point: a 100 TB sample decision never
    // reads the payload column), and nothing hash-shuffles (the only
    // exchange is the final presentation sort)
    Check("q45_stratified_sample",
      mustContain = Seq("ReadSchema: struct<doc_id:bigint,lang:string,source:string,n_chars:bigint>"),
      mustNotContain = Seq("hashpartitioning", "text")),
    // q46: the one-row T and the per-domain quotas attach by BROADCAST;
    // the rank is the only wide op over the corpus
    Check("q46_mixture_rebalance",
      mustContain = Seq("BroadcastHashJoin", "Window"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin")),
    // q48: sketch partials aggregate map-side (ObjectHashAggregate
    // partial_hll_sketch_agg) before any shuffle
    Check("q48_hll_rollup",
      mustContain = Seq("ObjectHashAggregate", "partial_hll_sketch_agg")),
    // q49: the benchmark-gram join is a keyed equi-join; corpus text
    // never shuffles (only (doc_id, gram-hash) pairs move)
    Check("q49_decontamination",
      mustContain = Seq("hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q50: repetition scoring is a pure projection — nothing
    // hash-shuffles (only the final presentation sort exchanges)
    Check("q50_repetition",
      mustContain = Seq("Project"),
      mustNotContain = Seq("hashpartitioning", "Exchange hashpartitioning")),
    // q52: the keep-first survivor election is a map-side partial
    // min-struct aggregation — corpus-wide boilerplate collapses to
    // one row per partition BEFORE the shuffle (no window-rank sort
    // of the full segment explosion)
    Check("q52_segment_dedup",
      mustContain = Seq("partial_min", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "WindowExec")),
    // q53: PII tag + redact is a pure projection — the only exchange
    // is the final presentation sort
    Check("q53_pii_redact",
      mustContain = Seq("Project"),
      mustNotContain = Seq("hashpartitioning", "Exchange hashpartitioning")),
    // q55: quantile SKETCHES partial-aggregate map-side (the q48
    // pattern) — the shuffle ships summaries, not values; no
    // per-group sort anywhere (exact q43 pays one)
    Check("q55_approx_quantiles",
      mustContain = Seq("ObjectHashAggregate", "partial_approx_percentile"),
      mustNotContain = Seq("SortAggregate")),
    // q56: split assignment is a pure projection of the fingerprint —
    // no shuffle but the presentation sort
    Check("q56_leakage_free_split",
      mustContain = Seq("Project"),
      mustNotContain = Seq("hashpartitioning", "Exchange hashpartitioning")),
    // q57: the composed curation chain — every wide stage is a keyed
    // shuffle (segment hash, fingerprint, gram hash, language), the
    // segment survivor election partial-aggregates map-side, and the
    // shared post-segment-dedup relation is cached once
    // [MEASURED] 18 = the round-8 counted plan (sf0.001 formatted) —
    // the chain composes five curation stages, each wide step a real
    // keyed shuffle (no ensureWide in this lineage); 18 is the
    // measured floor of that composition, not a target to grow
    // toward.
    Check("q57_curation_pipeline",
      mustContain = Seq("partial_min", "hashpartitioning", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      maxShuffleExchanges = Some(18)),
    // q58: substring dedup — the global-first election is the q52
    // map-side partial min-struct (hot grams collapse before the
    // shuffle); all joins are keyed; no window-rank sort of the gram
    // explosion
    Check("q58_substring_dedup",
      mustContain = Seq("partial_min", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "WindowExec")),
    // q59: the bloom artifact builds by map-side partial aggregation
    // (partial_bloomfilterbuild), the probe is the codegen'd native
    // expression, and BOTH verify joins broadcast the suspect-sized
    // side — the corpus relation is never sort-merge-joined or
    // shuffled for membership
    Check("q59_bloom_admission",
      mustContain = Seq("partial_bloomfilterbuild", "bloommightcontain",
        "BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct")),
    // q60: model training partial-aggregates the (w1, w2) stream
    // map-side before its one shuffle; scoring joins are keyed (no
    // cartesian); the only nested-loop is the declared 1-row
    // vocabulary attach
    Check("q60_ngram_lm_score",
      mustContain = Seq("partial_count", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct")),
    // q61: the segment-frequency aggregate partial-combines map-side
    // (hot boilerplate collapses per partition before the shuffle) and
    // the small boilerplate set returns as a BROADCAST anti-join — no
    // second shuffle of the corpus
    Check("q61_boilerplate_removal",
      mustContain = Seq("partial_count", "BroadcastHashJoin", "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin")),
    // q62: chunking is one fused zero-shuffle projection; the only
    // wide ops are the canonical-election aggregate (map-side partial
    // min) and keyed joins
    Check("q62_cdc_dedup",
      mustContain = Seq("partial_min", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct")),
    // q69: the portable-LSH twin keeps q18's plan family — banding is
    // a keyed equi-join, the cull a broadcast anti-join, no nested
    // loops anywhere
    // [MEASURED] 5 = the round-8 counted plan (sf0.001); real keyed
    // shuffles (banding, distinct, verify key-backs, presentation
    // sort).
    Check("q69_minhash_lsh_oracle",
      mustContain = Seq("hashpartitioning", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      maxShuffleExchanges = Some(5)),
    // q70: the portable-SimHash twin, round-7 fused shape — the
    // md5simhash60 kernel signs each doc in the scan projection (the
    // round-5 plan shuffled exploded (id, hash) pairs into a
    // 60-column aggregate), pigeonhole band equi-join, no nested
    // loops
    Check("q70_simhash_oracle",
      mustContain = Seq("md5simhash60", "hashpartitioning",
        "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q71: the portable-RHP twin, round-7 fused shape — signatures
    // and exact decimal dots are native kernels in the projection
    // (rhpdecimalbuckets / decimalscaleddot), both the (id, vec, n2)
    // base and the (id, t, bucket) banding are cached, the bucket
    // cull is a broadcast anti-join, and NOTHING vector-shaped or
    // dimension-exploded shuffles (the round-5 relational plan pushed
    // a 64×-row product stream through a plane join and two (id, dim)
    // sort-merge verify joins)
    // [MEASURED] 5 = the round-8 counted plan (sf0.001); includes the
    // cached base's ensureWide widening (RoundRobin — see the printed
    // split), the rest real keyed shuffles.
    Check("q71_rhp_lsh_oracle",
      mustContain = Seq("rhpdecimalbuckets", "decimalscaleddot",
        "hashpartitioning", "InMemoryTableScan", "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      maxShuffleExchanges = Some(5)),
    // q76: portable SemDeDup. The decimal kernels and the LeftAnti
    // cell cull live in the EDGES subplan, which the bounded local
    // closure executes (and lineage-cuts) before the final frame
    // exists — the final plan shows only the survivor join, so pin
    // what it can show: no cross/nested-loop joins anywhere.
    Check("q76_semdedup_oracle",
      mustContain = Seq(),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q80: the end-to-end trained SemDeDup — same final-frame caveat
    // as q76 (the kernel-bearing edges subplan executes inside the
    // bounded local closure): pin no cross/nested-loop joins anywhere
    Check("q80_semdedup_e2e_oracle",
      mustContain = Seq(),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      // [CEILING] 1: the operator contract says the FINAL frame
      // re-derives only the survivor anti-join — training and the
      // pair scan run inside the bounded local closure before the
      // frame exists. A 2nd exchange here means that contract broke.
      maxShuffleExchanges = Some(1)),
    // q90: the two-level trained SemDeDup — same final-frame caveat
    // as q80 (super training, routing, child training and the pair
    // scan all run before the final frame exists; the assignment's
    // candidate-array join is a BROADCAST of a ≤nlist-row relation)
    Check("q90_semdedup_twolevel_oracle",
      mustContain = Seq(),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      // [CEILING] 1: the q80 contract at the two-level site — the
      // FINAL frame re-derives only the survivor anti-join. A 2nd
      // exchange here means training/pair work leaked into the frame.
      maxShuffleExchanges = Some(1)),
    // q91: incremental semantic admission composed with the corpus
    // dedup — both closures run inside the bounded local path before
    // the final frame exists; the frame itself is two id-set
    // broadcast semi-joins + the presentation sort
    Check("q91_incremental_admission_oracle",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 3 = the round-10 counted plan (sf0.01): two
      // Par.ensureWide RoundRobin scan widenings in the cached
      // lineages + the presentation sort; the survivor and admitted
      // id sets ride as broadcasts
      maxShuffleExchanges = Some(3)),
    // q77: portable LR scoring — the 256-row weight relation must
    // BROADCAST (a shuffle for a kilobyte dim table would be wrong at
    // any scale); the doc-keyed margin join-back may legitimately
    // sort-merge, so only cross/nested-loop shapes are banned
    Check("q77_portable_lr_oracle",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q75: the portable HLL — a pure two-level aggregation chain
    // (registers → merge → estimate); ANY join appearing here means
    // the rollup shape broke
    Check("q75_portable_hll_oracle",
      mustContain = Seq("hashpartitioning"),
      mustNotContain = Seq("SortMergeJoin", "BroadcastHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin")),
    // q74: the anchored (top-k) portable twin — same kernels, same
    // id-only banding + cull, plus the bounded top-k aggregate
    Check("q74_lsh_topk_oracle",
      mustContain = Seq("rhpdecimalbuckets", "decimalscaleddot",
        "topkbyscore", "InMemoryTableScan", "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin")),
    // q95: the composed recall→rerank tiering — the q74 candidate
    // machinery (fused kernels, id-only banding, cull) plus the
    // BUDGET take as a bounded constant-score TopKByScore aggregate
    // (partial aggregation, no per-anchor sort window) feeding the
    // shared exact-rerank scoring
    Check("q95_budgeted_rerank_oracle",
      mustContain = Seq("rhpdecimalbuckets", "decimalscaleddot",
        "topkbyscore", "InMemoryTableScan", "LeftAnti"),
      // ") window" matches the numbered node line of any Window or
      // WindowGroupLimit operator (the "WindowExec" class name never
      // appears in formatted explain — round-11 review): neither the
      // budget take nor the rank may regress to a sort window
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin", ") Window"),
      // [MEASURED] 6 = the round-11 counted plan (sf0.001): the
      // cached base's ensureWide RoundRobin widening, the candidate
      // distinct, the budget-take aggregate, the rerank keyings and
      // the presentation sort — one more than q74's 5, the budget
      // tier's own bounded aggregate
      maxShuffleExchanges = Some(6)),
    // q42: RHP candidate generation — both self-join sides read the
    // cached vector-FREE (id, table, bucket) relation, the candidate
    // distinct exchanges (id, id) pairs only, and vectors join back
    // from the cached base once per candidate (the minhashLshPairs
    // shape; carrying vecs through the banded self-join shuffled up
    // to numTables copies of two embeddings per candidate)
    Check("q42_cosine_near_dup",
      mustContain = Seq("randomhyperplanesignature", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // q41: the round-13 re-pin protocol's plan half (VERDICT r12
    // item 2 watch): components' pointer-doubling rounds run as
    // driver-sequenced jobs, so the FINAL frame is just the label
    // join-back + presentation sort — [MEASURED] 1 exchange (the
    // sort; the join is broadcast). Four independent quiet readings
    // (r11 4.05, r12 4.55 / 3.75, r13 4.60 min-of-5) span ±12% with
    // this pinned frame unchanged — box-state variance, the q80
    // conclusion (SCALE.md round 13)
    Check("q41_components",
      mustContain = Nil,
      mustNotContain = Seq("CartesianProduct"),
      maxShuffleExchanges = Some(1)),
    // q72: the portable fuzzy-decon twin keeps q67's directed shape —
    // bench side broadcasts into the banded candidate join, train
    // signatures cached once, no nested loops
    Check("q72_fuzzy_decon_oracle",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin")),
    // q73: the IVF-PQ deployment path — cell assignment and PQ encode
    // are zero-shuffle maps (artifacts broadcast), candidates come
    // from a keyed equi-join on the cell id; the only nested-loop is
    // the declared anchors × 16-centroid broadcast probe
    Check("q73_ivfpq_fixture",
      mustContain = Seq("topkbyscore"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin")),
    // q64: the per-language tercile bounds BROADCAST onto the scored
    // relation (one tiny row per language); the only BNLJ is the
    // inherited q60 vocab attach
    Check("q64_perplexity_buckets",
      mustContain = Seq("BroadcastHashJoin", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct")),
    // q65: sharding is a zero-shuffle projection; the only exchange is
    // the per-shard rank window's, keyed on the shard
    Check("q65_shuffle_shards",
      mustContain = Seq("hashpartitioning(__shard"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // q81: the temperature mixture keeps q46's plan family — tiny
    // per-domain relations broadcast back onto the corpus, the rank
    // the only corpus-wide window; no sort-merge anywhere
    Check("q81_temperature_mixture",
      mustContain = Seq("BroadcastHashJoin", "Window"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin"),
      // [MEASURED] 9 = the round-9 counted plan (sf0.01): the
      // corpus-wide rank window plus the TINY per-domain chain
      // (counts agg, weight/S/T scalar attaches) — every exchange but
      // the rank carries ≤ L rows; no ensureWide in this lineage
      maxShuffleExchanges = Some(9)),
    // q82: UniMax — the quota relation is driver-walked scalar state
    // broadcast back (the Lloyd discipline); the rank window is the
    // only corpus-wide operation
    Check("q82_unimax_allocation",
      mustContain = Seq("BroadcastHashJoin", "Window"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin"),
      // [CEILING] 2: the UniMax contract — ONE per-domain count agg
      // (the driver walk's input) + ONE corpus-wide rank window; a
      // third exchange means corpus data started riding through the
      // scalar quota path
      maxShuffleExchanges = Some(2)),
    // q79: the portable packing twin keeps q47's two-level shape —
    // [CEILING] 2: the contract is ONE keyed shuffle of
    // (doc_id, shard, weight) triples (never the text) into the
    // per-shard FFD MapGroups, plus the presentation sort; a third
    // exchange means the text started moving
    Check("q79_packing_oracle",
      mustContain = Seq("MapGroups", "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin", "BroadcastHashJoin"),
      maxShuffleExchanges = Some(2)),
    // q78: Lloyd training runs before this plan exists — each
    // iteration is one treeAggregate job over the cached base, rows
    // assigned by a per-row kernel into per-cell buffers on the
    // executors — so the FINAL frame is only the driver-assembled
    // k·dim (cell, d) centroid rows and their presentation sort
    Check("q78_kmeans_train_oracle",
      mustContain = Seq(),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [CEILING] 1: the Lloyd contract — no training work reaches
      // the final frame; its one exchange is the (cell, d) ordering
      maxShuffleExchanges = Some(1)),
    // q83: perceptual image dHash near-dup — frames reduce to one
    // long per media in the map (nothing pixel-shaped shuffles), the
    // cached (id, sig) base feeds banding and both verify joins, the
    // bucket cull is the broadcast anti-join, candidates are id-only
    Check("q83_image_near_dup",
      mustContain = Seq("hashpartitioning", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 4 = the round-9 counted plan (sf0.01): bucket-size
      // agg, band self-join, candidate distinct, presentation sort —
      // all real keyed shuffles over (id, band, value) longs, never
      // pixels
      maxShuffleExchanges = Some(4)),
    // q85: portable IVF-PQ end-to-end — both trainers are driver-side
    // Lloyd state (outside the final frame); the frame re-derives
    // encode+reconstruct as a zero-shuffle projection over the cached
    // residual base, routes candidates through a broadcast of the
    // 20-anchor × nprobe probe relation, and shuffles only the two
    // bounded top-k aggregations (shortlist + final) plus the
    // presentation sort — nothing vector-shaped shuffles
    Check("q85_ivfpq_e2e_oracle",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 4 = the round-9 counted plan (sf0.01): shortlist
      // top-rerank agg, final top-k agg, rescore keying, presentation
      // sort — real keyed shuffles (the base's ensureWide rides inside
      // the cached lineage, see the printed split)
      maxShuffleExchanges = Some(4)),
    // q93: two-level IVF-PQ end-to-end — the q85 statement at the
    // hierarchical coarse quantizer: both trainers are driver-side
    // Lloyd state (outside the final frame); the child argmin and the
    // probe (probeChildrenMulti at p = 1) each ride one broadcast
    // candidate-array join (never an nlist-sized codegen body, never
    // a vector shuffle); the frame re-derives encode+reconstruct as a
    // zero-shuffle projection over the cached routed base
    Check("q93_ivfpq_twolevel_oracle",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 4 = the round-11 counted plan (sf0.001 AND sf0.01,
      // identical): 2 Par.ensureWide RoundRobin widenings inside the
      // cached base/routed lineages + the shortlist/top-k aggregation
      // keying on anchor_id + the presentation sort — one real keyed
      // exchange FEWER than flat q85 (the probe's broadcast
      // candidate join replaces a rescore keying exchange)
      maxShuffleExchanges = Some(4)),
    // q104: the relational coarse tier end-to-end — training is the
    // children-as-a-relation Lloyd loop (localCheckpoint'd, OUTSIDE
    // this final frame, like every trainer); the frame is the SERVE:
    // anchor probe over the checkpointed child store, the cell
    // equi-join against the cached relational assignment, decimal
    // rerank and the bounded top-k. No child centroid is broadcast
    // or driver state, so the joins must stay hash/broadcast joins
    // over the store — a Cartesian or BNL join here would mean the
    // relational tier regressed to all-pairs. (q105 is a LocalTable
    // walk result like q102 — nothing to pin in its final frame.)
    Check("q104_relational_coarse_oracle",
      mustContain = Seq("InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct",
        "BroadcastNestedLoopJoin"),
      // [MEASURED] 10 = the round-15 counted plan (sf0.001) after
      // the serve split: 2 ensureWide RoundRobin widenings in the
      // cached base/routed lineages + 8 keyed — the relational
      // assignment's id-keyed struct-min aggregation, the probe's
      // per-anchor window (id-partitioned row_number), the cell
      // equi-join's two sides, the anchor top-k aggregation and the
      // presentation sort. Two keyed exchanges MORE than the
      // pre-split plan because the gate now runs the STORED-door
      // serve (topKCoarseRelationalIndexed): anchors re-derive from
      // the assignment relation (re-routed through the shared super
      // argmin) instead of riding the training-time routed cache —
      // the deployment plan, which is the one worth pinning. The
      // cell join reads a bucketed store exchange-free in the stored
      // deployment (the q91 discipline, spec-asserted over a real
      // bucketed table in IvfPqPortableSpec)
      maxShuffleExchanges = Some(10)),
    // q97: the q93 chain with the probe widened to the top-2 supers
    // (probeChildrenMulti at p = 2) — the widening is a second
    // broadcast join of the same candidate relation, so the exchange
    // set must stay q93's; a new exchange here would mean the
    // multi-super union started shuffling anchors
    Check("q97_ivfpq_multiprobe_oracle",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 4 = the round-12 counted plan (sf0.001) — q93's
      // count, unchanged by the probe widening
      maxShuffleExchanges = Some(4)),
    // q98: the q93 chain under the admission split (train on the
    // corpus slice, index corpus ∪ batch against fixed state) — the
    // split is a FILTER on the shared cached base plus the same
    // broadcast candidate joins, so the exchange set must stay q93's
    Check("q98_ivfpq_admission_oracle",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 4 = the round-12 counted plan (sf0.001)
      maxShuffleExchanges = Some(4)),
    // q92: the q86 statement at the two-level quantizer — the child
    // argmin's candidate arrays ride as BROADCASTS (never shuffles),
    // so the frame's exchange composition is identical to q86's
    Check("q92_semantic_decon_twolevel",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 5 = the round-10 counted plan (sf0.01): 2 real
      // (hit aggregation + presentation sort) + 3 ensureWide
      // RoundRobin widenings — the q86 composition, unchanged by the
      // two-level assignment because its joins broadcast
      maxShuffleExchanges = Some(5)),
    // q86: semantic decontamination — training is driver-side Lloyd
    // state; the frame cell-assigns both sides as zero-shuffle
    // projections (centroid literals), broadcasts the small BENCH side
    // onto the cell equi-join, and shuffles only the per-corpus-id hit
    // aggregation, the result join and the presentation sort
    Check("q86_semantic_decon_oracle",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 5 = the round-9 counted plan (sf0.01): 2 real
      // (per-corpus-id conditional hit aggregation + presentation
      // sort) + 3 Par.ensureWide RoundRobin widenings (two inside the
      // cached training base's lineage, one on the bench side) — the
      // LEFT-join-then-aggregate shape keeps clean rows in the same
      // single real shuffle; the former aggregate-then-rejoin shape
      // cost 6 WITH an SMJ
      maxShuffleExchanges = Some(5)),
    // q87: DSIR importance resampling — ONE corpus shuffle
    // (repartition by id) feeds per-doc bucket counts whose
    // partitioning every downstream stage reuses (the (id,bucket)
    // agg, the broadcast weight attach, the per-doc score agg); the
    // training branch map-side-combines to ≤buckets rows; selection
    // shuffles on the domain key only
    Check("q87_dsir_selection",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan",
        "hashpartitioning"),
      mustNotContain = Seq("CartesianProduct", "SortMergeJoin"),
      // [MEASURED] 9 = the round-9 counted plan (sf0.01): the corpus
      // id repartition, the bucket-totals + scalar aggregations
      // (small), the domain-count + rank-window + presentation-sort
      // trio, plus the Par.ensureWide RoundRobin widenings in the
      // cached fc lineage (see the printed split for the exact
      // real/widening composition)
      maxShuffleExchanges = Some(9)),
    // q84: audio-envelope near-dup — the envelope lead/sum collapses
    // each media to one long under ONE media-keyed window before any
    // banding; the pairing is the shared q83 machinery
    Check("q84_audio_near_dup",
      mustContain = Seq("Window", "hashpartitioning", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 5 = the round-9 counted plan (sf0.01): the
      // media-keyed envelope window + the four q83-family pairing
      // exchanges, all real keyed shuffles
      maxShuffleExchanges = Some(5)),
    // q100: q84 at the WIDE signature width — the envelope window is
    // the same ONE media-keyed window (the band words are conditional
    // sums of the same aggregation pass, not extra exchanges); the
    // pairing is the shared wide kernel, so the plan must keep q84's
    // shape exactly
    Check("q100_audio_near_dup_wide",
      mustContain = Seq("Window", "hashpartitioning", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 5 = the round-12 counted plan (sf0.001) — q84's
      // count, unchanged by the width
      maxShuffleExchanges = Some(5)),
    // q88: the composed multimodal pipeline — per-modality pairing is
    // the shared q83/q84 machinery (verified edges feed the bounded
    // local closure, so the closure work is outside this frame); the
    // survivor election is a partial-aggregated component min/count
    // re-joined by SHUFFLE_HASH (round 11 — the former component-
    // keyed window buffered an unbounded component on one task; the
    // hint keeps the rejoin streaming, never the static SMJ the q86
    // lesson warned about); the catalog join broadcasts the
    // documents dim columns
    // the envelope signature's media-keyed window is legitimate and
    // stays required; the SURVIVOR-election window regression is
    // fenced by the required ShuffledHashJoin (a reverted window
    // election has no hash-join rejoin), not by a node-name ban —
    // formatted explain prints "Window" without the Exec suffix, so
    // a "WindowExec" ban would never fire (round-11 review)
    Check("q88_media_pipeline",
      mustContain = Seq("BroadcastHashJoin", "ShuffledHashJoin",
        "Window", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 7 = the round-11 counted plan (sf0.001): the two
      // cached envelope-window exchanges, the universe distinct, the
      // election aggregate (partial-combined, skew-proof) and the
      // two SHUFFLE_HASH rejoin keyings that replaced the window's
      // single partition-buffering shuffle, the presentation sort —
      // all real keyed shuffles (no ensureWide in this lineage); +2
      // vs round 10 is the window→agg+SHJ de-skew trade, deliberate
      maxShuffleExchanges = Some(7)),
    // q101: q88 at the WIDE signature width — the per-modality
    // pairing rides the wide kernel (posexplode banding, per-word
    // popcount-sum verify — projections, not exchanges), so the
    // composed frame must keep q88's shape
    Check("q101_media_pipeline_wide",
      mustContain = Seq("BroadcastHashJoin", "ShuffledHashJoin",
        "Window", "InMemoryTableScan"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 7 = the round-12 counted plan (sf0.001) — q88's
      // count, unchanged by the width
      maxShuffleExchanges = Some(7)),
    // q94: batch media admission — banding/cull/pair/closure all run
    // inside the bounded local closure before the final frame exists;
    // the frame is the admitted-id broadcast semi-join back onto the
    // fresh signatures + the presentation sort (the q80-family
    // final-frame shape)
    Check("q94_media_admission_oracle",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 1 = the round-11 counted plan (sf0.001): the
      // presentation sort alone — the admitted-id relation rides as
      // a broadcast
      maxShuffleExchanges = Some(1)),
    // q99: media admission at the WIDE width — the identical
    // admitTail (banding is a posexplode of the band-word array
    // instead of four shifts; the verify a per-word popcount sum),
    // so the plan must keep q94's shape exactly
    Check("q99_media_admission_wide",
      mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 1 = the round-12 counted plan (sf0.001) — q94's
      maxShuffleExchanges = Some(1)),
    // q89: video containment — frames reduce to (struct id, sig)
    // longs before the shared banded kernel; the containment
    // aggregation's two countDistincts compile to the two-phase
    // expand shape; every join is a broadcast of a media-count or
    // cached-sig relation
    Check("q89_video_containment",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 10 = the round-10 counted plan (sf0.001): bucket
      // cull agg, candidate distinct, the two two-phase
      // countDistinct chains (2 exchanges each), the per-media frame
      // count agg (2), presentation sort — all real keyed shuffles
      // over id/count scalars, never pixels
      maxShuffleExchanges = Some(10)),
    // q96: video containment at the WIDE signature width — the q89
    // plan shape must survive the width change unchanged (frames
    // reduce to 6 band words per frame before the kernel; the
    // hamming verify is a per-candidate zip_with/aggregate
    // projection, not a shuffle)
    Check("q96_video_containment_wide",
      mustContain = Seq("BroadcastHashJoin", "InMemoryTableScan",
        "LeftAnti"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      // [MEASURED] 10 = the round-12 counted plan (sf0.001): the
      // same ten keyed shuffles as q89 — the width change moves no
      // exchange
      maxShuffleExchanges = Some(10)))

  // Queries whose broadcast nested-loop join is the documented design:
  // brute-force baselines with a fixed-size anchor side, and q31's
  // all-label-pairs construction (a non-equi self-join of two DISTINCT
  // label relations — G² pairs over tiny G; the unbounded-G path is
  // GroupSimilarity.similarGroups' centroid recall instead).
  // q40's BNLJ is the 1-row corpus-stats scalar attach
  // (crossJoin(broadcast(N, avgdl))) — a constant-size broadcast, not
  // an unbounded nested loop. q46's is the same shape: the 1-row
  // mixture total T broadcast onto the per-domain counts.
  // q59's is the 1-row bloom-artifact attach (crossJoin(broadcast(
  // fingerprintBloom)) — the q40/q46 scalar-attach shape; q60's is
  // the same shape for the 1-row training-vocabulary size.
  // q64 composes the q60 scorer, inheriting the same 1-row vocabulary
  // attach.
  val bnljAllowed: Set[String] = Set("q17_jaccard_pairs", "q20_cosine_topk",
    "q22_knn_classify", "q30_chamfer_similarity", "q31_group_scores",
    "q32_cosine_pairs", "q40_bm25", "q46_mixture_rebalance",
    "q59_bloom_admission", "q60_ngram_lm_score", "q64_perplexity_buckets",
    // q73: anchors × 16-centroid broadcast probe (the IVF cell pick)
    "q73_ivfpq_fixture",
    // q81: the 1-row S and T scalar attaches (the q46 shape, twice)
    "q81_temperature_mixture",
    // q87: the 1-row (np, nq) feature-total scalar attach onto the
    // ≤buckets-row weight relation (the q46 shape)
    "q87_dsir_selection")
}

class PlanAuditSpec extends SparkSpec {
  import PlanAuditSpec._
  private val sf = "/root/testdata/sf0.001"

  checks.foreach { c =>
    test(s"${c.query} plan pins") {
      try {
        val qe = QueryCatalog.byName(c.query).run(spark, sf).queryExecution
        val plan = qe.explainString(ExplainMode.fromString("formatted")) + "\n" +
          qe.explainString(ExplainMode.fromString("codegen"))
            .linesIterator.takeWhile(!_.startsWith("== Subtree")).mkString("\n")
        val planLower = plan.toLowerCase
        val missing = c.mustContain.filterNot(f => planLower.contains(f.toLowerCase))
        val present = c.mustNotContain.filter(f => planLower.contains(f.toLowerCase))
        // RoundRobinPartitioning exchanges are Par.ensureWide scan
        // widenings (keyless repartitions that spread a narrow scan
        // across the box): benign, but counted by the cap. Only the
        // numbered Exchange nodes' own Arguments lines count; cached-
        // relation details and the codegen section repeat exchange
        // text in tree form
        val n = """\(\d+\) Exchange\s""".r.findAllIn(plan).size
        val widen = "Arguments: RoundRobinPartitioning".r.findAllIn(plan).size
        val overCap = c.maxShuffleExchanges.filter(n > _).map(cap =>
          s"shuffle exchanges $n > $cap ($widen RoundRobin widenings, ${n - widen} keyed)")
        val failures = missing.map(f => s"missing '$f'") ++
          present.map(f => s"present '$f'") ++ overCap
        assert(failures.isEmpty, failures.mkString(s"${c.query}: ", "; ", "\n") + plan)
      } finally CacheScope.releaseAll()
    }
  }
}
