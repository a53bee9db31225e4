package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference is batch-only; its "incremental" semantics are
  * resume anti-joins. This module supplies the streaming parity a
  * drop-folder / event-feed deployment needs, reusing the exact batch
  * transforms of graft.queries.EventQueries: file-source → watermark
  * → windowed aggregation, and stateful sessionization via
  * `flatMapGroupsWithState` — the scale path for continuous ingest
  * (state is per-key and bounded by the timeout, so a 1000-executor
  * cluster shards sessions by user_id).
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of parquet/json events. */
  def readEventStream(spark: SparkSession, dir: String,
      format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(dir)

  /** Windowed counts/sums with a 10-minute watermark — the streaming
    * twin of q24_tumbling_window (default) and, with a `slide`,
    * q35_sliding_window. */
  def windowedCounts(events: DataFrame, windowLen: String = "5 minutes",
      slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(slide.map(s => window(col("ts"), windowLen, s))
        .getOrElse(window(col("ts"), windowLen)), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)

  /** Stateful gap-based sessionization (30-min inactivity closes a
    * session) — emits completed sessions; the streaming twin of
    * q26_sessionize.
    *
    * Out-of-order events (possible across micro-batches — the
    * in-batch sort only orders within one batch): an event inside the
    * open session's gap-reach extends the span on BOTH ends
    * (start = min, end = max — a regressing `lastTs = t` would emit
    * sessions with end < start and split what the batch twin merges);
    * an event older than start − gap belongs to an already-emitted
    * window and is emitted as its own late singleton session, the
    * standard late-data caveat.
    *
    * State is BOUNDED: EventTimeTimeout + the input watermark close
    * and emit an idle session once the watermark passes lastTs + gap,
    * then free the key's state — with NoTimeout every user ever seen
    * held state forever and a user who stopped sending never had
    * their final session emitted. */
  def sessionize(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.sessionStart, s.lastTs, s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs && s.sessionStart - t <= gapMs =>
                  cur = Some(SessionState(math.min(s.sessionStart, t),
                    math.max(s.lastTs, t), s.n + 1))
                case Some(s) if t - s.lastTs > gapMs =>
                  out += SessionOut(userId, s.sessionStart, s.lastTs, s.n)
                  cur = Some(SessionState(t, t, 1))
                case Some(_) =>
                  // older than the open session's reach: its batch
                  // session was already emitted — late singleton
                  out += SessionOut(userId, t, t, 1)
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire once the watermark passes the gap after the last
              // event; never in the watermark's past (the API rejects)
              state.setTimeoutTimestamp(math.max(s.lastTs + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }.toDF()
  }

  case class BuildState(ts_ms: Long, id: Long, value: Double)
  case class Enriched(event_id: Long, user_id: Long, ts_ms: Long,
      matched_ts_ms: Option[Long], matched_id: Option[Long],
      matched_value: Option[Double])

  /** Streaming as-of enrichment — the continuous twin of
    * `AsOfJoin.asOf` (q38): each `probeType` event is emitted with the
    * latest `buildType` event at-or-before it for the same user. State
    * is ONE row per key (the current build record), the minimal
    * footprint a 1000-executor enrichment join needs; within a
    * micro-batch events process in (ts, side, id) order so ties and
    * same-ts duplicates resolve exactly like the batch operator
    * (build-before-probe, max event id survives a ts tie). Cross-batch
    * late build rows are the streaming caveat: a build event arriving
    * after a later probe was already emitted cannot retro-enrich it —
    * the same contract as any stream-state join — and it must not
    * REGRESS the state either: the stored build only advances on
    * (ts, id), so a late out-of-order build can never corrupt the
    * enrichment of FUTURE probes (an unconditional overwrite did). */
  def asOfEnrich(spark: SparkSession, events: DataFrame,
      buildType: String, probeType: String): DataFrame = {
    import spark.implicits._
    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .filter(e => e.event_type == buildType || e.event_type == probeType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BuildState, Enriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[BuildState]) =>
          val sorted = it.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == buildType) 0 else 1, e.event_id))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Enriched]
          for (e <- sorted) {
            if (e.event_type == buildType) {
              val t = e.ts.getTime
              if (cur.forall(c =>
                  t > c.ts_ms || (t == c.ts_ms && e.event_id >= c.id)))
                cur = Some(BuildState(t, e.event_id, e.value))
            } else out += Enriched(e.event_id, userId, e.ts.getTime,
              cur.map(_.ts_ms), cur.map(_.id), cur.map(_.value))
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF()
  }

  /** Streaming exact-dedup — the continuous-ingest twin of
    * `Dedup.dropExactDups` (q16 family): first arrival per
    * normalized-content fingerprint survives. State is BOUNDED by the
    * watermark (`dropDuplicatesWithinWatermark`), the contract a
    * 100 TB/day feed needs — a duplicate arriving later than the
    * watermark delay re-emits rather than growing state forever. */
  def dedupByFingerprint(docs: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      // the working column stays internal: the batch twin
      // (Dedup.dropExactDups) returns the original columns, and a
      // schema-sensitive sink (parquet append, unionByName with batch
      // output) must see the same shape from either path
      .drop("fp")

  /** Streaming deterministic-sampling twin — [[graft.operators
    * .Sampling.keep]] is a pure per-row predicate (md5 threshold), so
    * the SAME filter applies verbatim to a stream: zero state, and
    * the kept set is identical to the batch sample of the same rows
    * (a replayed/retried micro-batch re-samples identically).
    */
  def sampledStream(docs: DataFrame, idCol: String, rate: Double): DataFrame =
    docs.filter(graft.operators.Sampling.keep(col(idCol), rate))

  /** Streaming decontamination twin — the benchmark gram index is
    * STATIC (built once via [[graft.operators.Decontamination
    * .benchIndex]]), so flagging a continuous ingest feed is a
    * stream-static equi-join + ONE windowed per-doc count, state
    * bounded by the watermark (the lmScoredStream discipline). No
    * stream-stream join: the doc's total gram count rides alongside
    * the exploded grams instead of re-joining the stream side.
    * (Delegating to the batch `flagWithIndex` was wrong on a stream:
    * its non-windowed groupBy(doc_id) is rejected outright in Append
    * mode and accumulates one state row per contaminated doc forever
    * in Update mode.)
    */
  def contaminatedStream(docs: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String, tsCol: String, n: Int,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "10 minutes"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        graft.operators.Decontamination.gramHashes(col(textCol), n).as("grams"))
      .select(col("doc_id"), col("__ts"),
        size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("g"))
      .withWatermark("__ts", watermarkDelay)
      .join(benchGrams, "g")
      .groupBy(window(col("__ts"), windowLen), col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        round(col("n_hits").cast("double") / col("n_grams").cast("double"), 6)
          .as("contamination"))

  /** Streaming PII-scrub twin — [[graft.functions.TextFunctions
    * .piiRedact]] is a pure per-row projection, so the SAME
    * redaction applies verbatim at ingest: zero state, and a
    * replayed/retried micro-batch redacts identically (idempotence is
    * property-tested). Real pipelines scrub BEFORE landing bytes —
    * raw PII then never touches durable storage.
    */
  def redactedStream(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn(textCol,
      graft.functions.TextFunctions.piiRedact(col(textCol)))

  /** Streaming segment-dedup twin — the segment-granular sibling of
    * [[dedupByFingerprint]]: explode the stream's segments and keep
    * the FIRST ARRIVAL per segment md5 within bounded state
    * (dropDuplicatesWithinWatermark), emitting surviving
    * (doc_id, pos, seg) rows. Arrival order replaces the batch
    * (doc_id, pos) survivor rule — identical when the feed is ordered
    * (spec drives one ordered file and matches the batch keep set).
    * Document RE-ASSEMBLY stays a batch compaction
    * ([[graft.operators.Dedup.dedupSegments]]): a stream cannot hold
    * a document open waiting to learn which of its segments survive
    * corpus-wide.
    */
  def segmentDedupStream(docs: DataFrame, idCol: String,
      segmentsCol: org.apache.spark.sql.Column, tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        posexplode(segmentsCol).as(Seq("pos", "seg")))
      .withColumn("h", unhex(md5(col("seg"))))
      .withWatermark("__ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("pos"), col("seg"))

  /** Streaming training-shard twin — tag a continuous ingest feed
    * with [[graft.sources.Sinks.shardOf]]'s deterministic assignment
    * so `writeStream.partitionBy("shard")` appends every row to the
    * SAME shard directory a batch rewrite would choose. (Intra-shard
    * md5 ORDER is a batch-rewrite property — a stream appends in
    * arrival order; the batch writer is the compaction step.)
    */
  def shardedStream(docs: DataFrame, idCol: String, numShards: Int): DataFrame =
    docs.withColumn("shard", graft.sources.Sinks.shardOf(idCol, numShards))

  /** Streaming LM-scoring twin — the CCNet fluency gate at ingest.
    * The bigram model is a STATIC artifact ([[graft.operators.NgramLm
    * .train]] output, persisted like the bloom/IVF artifacts), so
    * scoring a live feed is explode → stream-static equi-joins
    * against the model relations (the 1-row vocabulary attaches via a
    * constant equi-key: stream-static BHJ, no stream cross join) →
    * ONE windowed aggregation per (event-window, doc), state bounded
    * by the watermark. Surprisal terms use the exact batch formula
    * (rounded log2, decimal accumulation), so for a doc arriving once
    * the emitted row is bit-identical to [[graft.operators.NgramLm
    * .score]]'s. Sub-2-token docs carry no bigrams and emit nothing —
    * the stream twin scores what is scorable; the batch left join is
    * a compaction-time concern.
    */
  def lmScoredStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, model: graft.operators.NgramLm.Model,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "10 minutes"): DataFrame = {
    import graft.queries.Num
    val bg = docs
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("__ts"),
        explode(graft.operators.NgramLm.bigramArray(col(textCol))).as("bg"))
      .select(col("doc_id"), col("__ts"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .withWatermark("__ts", watermarkDelay)
    val p = (coalesce(col("c"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("V")).cast("double")
    bg
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.heads, Seq("w1"), "left")
      .withColumn("__k", lit(1))
      .join(broadcast(model.vocab.withColumn("__k", lit(1))), "__k")
      .select(col("doc_id"), col("__ts"), col("c").isNull.as("oov"),
        (-round(log2(p), 6)).as("bits"))
      .groupBy(window(col("__ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov").cast("long")).as("n_oov"),
        sum(Num.dec(col("bits"), 28, 6)).cast("double").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("sum_bits"), (col("sum_bits") / col("n_bigrams")).as("avg_bits"))
  }

  /** Streaming incremental-admission twin — [[graft.operators.Dedup
    * .admitNewExact]]'s ingest-time sibling, completing the
    * streaming-curation family: admit only feed rows whose content
    * fingerprint is new against BOTH the corpus and the stream's own
    * recent past.
    *
    *   1. in-stream election — first arrival per fingerprint within
    *      bounded watermark state (`dropDuplicatesWithinWatermark`,
    *      the [[dedupByFingerprint]] contract) replaces the batch
    *      min-id election;
    *   2. bloom probe — the corpus [[graft.operators.Dedup
    *      .fingerprintBloom]] artifact rides as a LITERAL (built
    *      offline and broadcast with the task binary, the
    *      lmScoredStream static-artifact discipline) INSIDE the
    *      anti-join condition: `false` means DEFINITELY new — the
    *      conjunction fails for every corpus row and the doc
    *      survives on the probe alone, the overwhelmingly common
    *      case at FPR ~1% (one subtree, one dedup state store — a
    *      filter-split union would double both);
    *   3. verify — only FPR-rare suspects match the stream-static
    *      LEFT ANTI join's equi-key against `corpusFps`, the compact
    *      fingerprint-only artifact (16-byte hashes — a relation
    *      ~4000× smaller than the corpus it summarizes). False
    *      positives are cleared here, so admission is EXACT: the
    *      bloom routes work, it never decides membership — PROVIDED
    *      the bloom covers `corpusFps` (a corpus fingerprint missing
    *      from the bloom would skip the verify and be wrongly
    *      admitted). That cross-artifact invariant is a hard
    *      contract, checked fail-fast at stream setup (ADVICE r8).
    *
    * Batch-parity caveat (spec-pinned): the batch twin elects the
    * MIN-ID doc per duplicate fingerprint; the stream keeps the FIRST
    * ARRIVAL — identical when the feed is id-ordered, and the honest
    * streaming contract otherwise. Duplicates farther apart than the
    * watermark delay re-emit (bounded-state trade, as in
    * [[dedupByFingerprint]]) — the batch compaction is the backstop.
    *
    * Returns admitted rows: original columns + `fp` (the batch
    * twin's output shape).
    */
  def bloomAdmittedStream(docs: DataFrame, textCol: String, tsCol: String,
      bloom: Array[Byte], corpusFps: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.graft.BloomExpressions._
    // HARD CONTRACT (ADVICE r8): the bloom must COVER corpusFps — a
    // fingerprint present in the corpus but absent from the bloom
    // would pass the probe-inside-anti-join below without ever
    // reaching the exact verify, and "admission is EXACT" would
    // silently fail for a stale or independently built artifact.
    // Blooms have no false negatives over what they were fed, so a
    // single miss proves the artifacts diverged. Checked ONCE at
    // stream setup: corpusFps is a static batch relation (~16 bytes/
    // doc), and the pushed LIMIT stops the scan at the first miss.
    val miss = corpusFps
      .filter(!bloomMightContain(lit(bloom), col("fp")))
      .limit(1).count()
    require(miss == 0L,
      "bloomAdmittedStream: corpusFps contains fingerprints the bloom " +
        "artifact does not cover — stale or mismatched artifacts would " +
        "break exact admission; rebuild the bloom from this corpusFps")
    val fresh = docs
      .withColumn("__fp",
        graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
    // ONE subtree, not a filter-split union: branching the deduped
    // stream would instantiate TWO dropDuplicates state stores and
    // scan/fingerprint the feed twice per micro-batch (review r8).
    // The bloom probe rides INSIDE the anti-join condition instead: a
    // definitely-new row satisfies the conjunction for no corpus row
    // (cheap probe, no state), while a suspect is dropped exactly
    // when its fingerprint truly exists — the same admitted set.
    fresh
      .join(corpusFps,
        bloomMightContain(lit(bloom), col("__fp")) &&
          col("__fp") === corpusFps("fp"), "left_anti")
      .withColumnRenamed("__fp", "fp")
  }

  case class VecArrival(id: Long, ts: java.sql.Timestamp, cell: Int,
      vec: Seq[Double], n2: Double)
  case class CellEntry(ts_ms: Long, id: Long, vec: Seq[Double], n2: Double)
  case class CellState(admitted: List[CellEntry])
  case class VecAdmitted(id: Long, cell: Int, ts: java.sql.Timestamp)

  /** Streaming SemDeDup admission — the EMBEDDING sibling of
    * [[bloomAdmittedStream]] / `DedupPipeline.admitIncremental`,
    * completing the streaming-curation family (VERDICT r8 item 5):
    * admit only incoming vectors that are not semantic near-dups of
    * the committed corpus OR of earlier stream arrivals.
    *
    *   1. cell assignment — the exact-decimal argmin against the
    *      TRAINED centroid matrix ([[graft.operators.KMeansPortable
    *      .assignCells]], the single-sited q76/q78/q80 arithmetic)
    *      rides as broadcast literals: a zero-shuffle projection,
    *      identical at any corpus size;
    *   2. corpus check — a stream-static LEFT ANTI join against the
    *      batch survivor set, equi-keyed on the cell with the rounded
    *      decimal cosine ≥ threshold as the join predicate: only
    *      same-cell survivors are ever scored (the SemDeDup
    *      within-cell approximation, shared with the batch operator);
    *   3. in-stream check — per-CELL watermark-bounded state
    *      (`flatMapGroupsWithState`, EventTimeTimeout): a micro-batch
    *      group processes in (ts, id) order, each arrival compares
    *      against the cell's recently-admitted vectors and joins the
    *      state iff admitted; entries are retained down to watermark
    *      MINUS the delay — the 2×-delay bound, deliberately wider
    *      than the watermark itself so an arrival stamped just under
    *      the watermark still dedups against admissions up to one
    *      full delay before it (eviction at the bare watermark would
    *      silently re-admit those) — and evicted below that line (the
    *      bounded-state trade every sibling makes — near-dups farther
    *      apart than the retention re-emit, the batch compaction is
    *      the backstop). State is additionally CAPPED at
    *      `maxRetainedPerCell` entries per cell (newest kept), so a
    *      hot cell under a high admission rate cannot grow executor
    *      state past cap × dim within the window (ADVICE r9) — same
    *      trade, same backstop.
    *
    * Batch-parity caveat (spec-pinned): the batch twin
    * ([[graft.operators.Dedup.semanticDedupPortable]] over
    * corpus ∪ batch) elects the MIN-ID member of each near-dup group;
    * the stream admits the FIRST ARRIVAL greedily — identical when
    * the feed is id-ordered and the batch's own near-dup graph is
    * chain-free (each arrival near at most one existing group), the
    * honest online-dedup contract otherwise (a greedy admitter
    * cannot see future arrivals that would have merged two groups).
    *
    * `corpusSurvivors` must be the (id, vec) SURVIVOR set of a batch
    * SemDeDup run over the corpus — the [[bloomAdmittedStream]]
    * artifact discipline: built offline, compact, broadcast-joined.
    * Returns admitted (id, cell, ts).
    */
  def semanticAdmittedStream(vectors: DataFrame,
      centroids: Array[Array[Double]], corpusSurvivors: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      maxRetainedPerCell: Int = 10000): DataFrame = {
    require(centroids.nonEmpty, "need a trained centroid matrix")
    semanticAdmittedAssigned(vectors, corpusSurvivors,
      base => graft.operators.KMeansPortable.assignCells(base, centroids),
      threshold, idCol, vecCol, tsCol, watermarkDelay, maxRetainedPerCell)
  }

  /** [[semanticAdmittedStream]] over a TWO-LEVEL quantizer
    * ([[graft.operators.KMeansPortable.trainTwoLevel]]) — the ingest
    * sibling of `semanticDedupTwoLevel`/`semanticDecontaminateTwoLevel`,
    * completing the hierarchical structure across batch AND stream:
    * the routing is the S-literal argmin projection and the child
    * argmin rides a stream-static BROADCAST join of the ≤nlist-row
    * candidate-array relation (stateless, append-safe — the same
    * plan shape as the batch assignment, and the corpus side assigns
    * with the identical function so cells cannot drift). Everything
    * downstream — corpus anti-join, per-cell watermarked state, the
    * cap — is the single-sited admission body.
    */
  def semanticAdmittedStreamTwoLevel(vectors: DataFrame,
      model: graft.operators.KMeansPortable.TwoLevelModel,
      corpusSurvivors: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      maxRetainedPerCell: Int = 10000): DataFrame = {
    require(model.nlist > 0, "need a trained two-level model")
    semanticAdmittedAssigned(vectors, corpusSurvivors,
      base => graft.operators.KMeansPortable
        .assignCellsTwoLevel(base, model),
      threshold, idCol, vecCol, tsCol, watermarkDelay, maxRetainedPerCell)
  }

  /** The shared admission body — assignment comes in as a function
    * so the flat (centroid-literal argmin) and two-level (route +
    * broadcast child argmin) structures share every downstream
    * decision: anti-join predicate, retention window, state cap,
    * (ts, id) ordering. Single-sited like the batch tails. */
  private def semanticAdmittedAssigned(vectors: DataFrame,
      corpusSurvivors: DataFrame, assign: DataFrame => DataFrame,
      threshold: Double, idCol: String, vecCol: String, tsCol: String,
      watermarkDelay: String, maxRetainedPerCell: Int): DataFrame = {
    import org.apache.spark.sql.graft.RhpExpressions
    val spark = vectors.sparkSession
    import spark.implicits._
    def withCells(df: DataFrame, id: Column, ts: Option[Column]): DataFrame = {
      val base = df.select(
        (Seq(id.cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec")) ++ ts.toSeq): _*)
        .withColumn("n2",
          RhpExpressions.decimalScaledDot(col("vec"), col("vec")))
      assign(base)
    }
    val assigned = withCells(vectors, col(idCol), Some(col(tsCol).as("ts")))
      .withWatermark("ts", watermarkDelay)
    // static side: survivors assigned with the SAME centroids (the
    // cross-artifact invariant is arithmetic, not a side file — the
    // assignment is single-sited, so it cannot drift)
    val corpus = withCells(corpusSurvivors, col(idCol), None)
      .select(col("cell").as("c_cell"), col("vec").as("c_vec"),
        col("n2").as("c_n2"))
    val cosine = round(
      RhpExpressions.decimalScaledDot(col("vec"), col("c_vec")) /
        (sqrt(col("n2")) * sqrt(col("c_n2"))), 6)
    val fresh = assigned.join(corpus,
      col("cell") === col("c_cell") && cosine >= lit(threshold), "left_anti")
    val wmDelayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types
        .UTF8String.fromString(watermarkDelay))
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .getDuration(wmDelayMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    fresh.select(col("id"), col("ts"), col("cell"), col("vec"), col("n2"))
      .as[VecArrival]
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, VecAdmitted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (cell: Int, it: Iterator[VecArrival], state: GroupState[CellState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // (ts, id) order: deterministic within a micro-batch and
            // equal to the batch min-id election on id-ordered feeds
            val sorted = it.toSeq.sortBy(a => (a.ts.getTime, a.id))
            val wm = state.getCurrentWatermarkMs()
            var admitted = state.getOption.map(_.admitted).getOrElse(Nil)
              .filter(_.ts_ms >= wm - delayMs)
            // the SAME arithmetic as the join predicate above: exact
            // decimal dot (RhpKernels.decimalDot ≡ the decimalScaledDot
            // expression), HALF_UP 6-decimal round (Spark's round rule)
            def near(a: VecArrival): Boolean = admitted.exists { e =>
              val dot = org.apache.spark.sql.graft.RhpKernels.decimalDot(
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  a.vec.toArray),
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  e.vec.toArray))
              val cos = BigDecimal(dot / (math.sqrt(a.n2) * math.sqrt(e.n2)))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              cos >= threshold
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[VecAdmitted]
            sorted.foreach { a =>
              if (!near(a)) {
                admitted = CellEntry(a.ts.getTime, a.id, a.vec, a.n2) :: admitted
                out += VecAdmitted(a.id, cell, a.ts)
              }
            }
            // PER-CELL STATE CAP (ADVICE r9): a hot cell under a high
            // admission rate would otherwise grow O(admissions × dim)
            // state inside the retention window. Keep only the NEWEST
            // `maxRetainedPerCell` admitted entries — the same bounded-
            // state trade as the retention filter above: a near-dup of
            // an evicted entry re-admits and falls to the batch
            // compaction backstop, while executor state stays bounded
            // by cap × dim per cell. Newest-first, id ascending on ts
            // ties — eviction is deterministic.
            if (admitted.length > maxRetainedPerCell)
              admitted = admitted.sortBy(e => (-e.ts_ms, e.id))
                .take(maxRetainedPerCell)
            if (admitted.nonEmpty) {
              state.update(CellState(admitted))
              state.setTimeoutTimestamp(math.max(
                admitted.map(_.ts_ms).max + delayMs,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.iterator
          }
      }.toDF()
  }

  /** Streaming perceptual-signature admission — the MEDIA sibling of
    * [[bloomAdmittedStream]] (exact text) and [[semanticAdmittedStream]]
    * (embeddings), completing the ingest-admission family across the
    * three modalities: admit only incoming media whose 60-bit
    * perceptual signature ([[graft.operators.MediaDedup]] — dHash for
    * frames, envelope gradients for audio; both stateless maps that
    * run unchanged on a streaming frame feed) is NOT a near-duplicate
    * of the committed corpus.
    *
    * Corpus check — EXACT to `maxHamming`, and every join an EQUI
    * join: a pair within hamming 3 shares at least one of the 4 ×
    * 15-bit pigeonhole bands (the [[graft.operators.Lsh
    * .hamming60Pairs]] guarantee), so FOUR chained stream-static LEFT
    * ANTI joins — band-k equality plus the popcount verify as the
    * residual condition — drop exactly the rows within `maxHamming`
    * of some corpus signature. No nested-loop scan of the corpus per
    * micro-batch: each join keys the compact (band value → sig)
    * corpus relation (16 bytes a signature) like any other
    * stream-static equi-join, and all four are stateless.
    *
    * In-stream self-check: signature-EXACT within the watermark
    * window (`dropDuplicatesWithinWatermark` — first arrival wins,
    * the [[dedupByFingerprint]] trade). dHash/envelope signatures are
    * invariant to uniform brightness/gain by construction, so
    * ingest-time re-encodes overwhelmingly collide at hamming 0;
    * same-window arrivals at hamming 1–3 of each other both admit and
    * fall to the next batch compaction ([[graft.operators.MediaDedup
    * .hammingPairs]]) — the backstop every admission stream in this
    * file leans on.
    *
    * `sigs` must carry (idCol, tsCol, sigCol); `corpusSigs` carries
    * sigCol (other columns ignored). Emits the admitted (id, ts, sig).
    */
  def mediaAdmittedStream(sigs: DataFrame, corpusSigs: DataFrame,
      maxHamming: Int = 3, idCol: String = "media_id",
      sigCol: String = "sig", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 x 15-bit bands pigeonhole 60 bits at hamming <= 3 (got $maxHamming)")
    val fresh = sigs
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        col(sigCol).as("sig"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("sig")
    bandAntiChain(fresh, corpusSigs, sigCol, bands = 4,
      (c, b) => shiftright(c, b * 15).bitwiseAND(32767),
      (a, b) => bit_count(a.bitwiseXOR(b)), maxHamming)
  }

  /** The chained stream-static LEFT ANTI corpus check shared by both
    * signature widths ([[mediaAdmittedStream]] /
    * [[mediaAdmittedStreamWide]]) — the streaming analog of
    * [[graft.operators.MediaDedup]]'s single-sited `admitTail`: one
    * anti-join per band (equi on the band value, the exact hamming
    * verify as the residual condition), every join stateless.
    * Single-sited so the admission semantics cannot drift across
    * widths here either. */
  private def bandAntiChain(fresh: DataFrame, corpusSigs: DataFrame,
      sigCol: String, bands: Int, bandOf: (Column, Int) => Column,
      ham: (Column, Column) => Column, maxHamming: Int): DataFrame =
    (0 until bands).foldLeft(fresh) { (s, b) =>
      // static side renamed per band: no column of the stream side is
      // shadowed, so the mixed equi + hamming condition is unambiguous
      val cb = corpusSigs.select(col(sigCol).as(s"__c_sig$b"),
        bandOf(col(sigCol), b).as(s"__c_bv$b"))
      s.join(cb,
        bandOf(col("sig"), b) === col(s"__c_bv$b") &&
          ham(col("sig"), col(s"__c_sig$b")) <= lit(maxHamming),
        "left_anti")
    }

  /** [[mediaAdmittedStream]] at a WIDE [[graft.operators.MediaDedup
    * .SigSpec]] width — the streaming cell of the round-12 q89→q96
    * discipline (the batch side is [[graft.operators.MediaDedup
    * .admitIncrementalWide]], gated by q99): past ~2M frames the
    * 60-bit family's fixed band space saturates, and an ingest
    * stream admitting against a frame corpus of that size needs the
    * wider signature exactly as the batch compaction does.
    *
    * `sigCol` carries [[graft.operators.MediaDedup.dHashWide]]-shaped
    * band-word arrays (`spec.bands` words of `spec.bandBits` bits);
    * banding is `element_at`, the verify is the per-word popcount
    * sum, and the pigeonhole guarantees recall to hamming ≤
    * `spec.bands − 1` (`maxHamming < 0` picks
    * `spec.maxGuaranteedHamming`). The corpus check is the same
    * chained stream-static LEFT ANTI equi-join per band
    * ([[bandAntiChain]] — stateless, the compact corpus relation
    * keyed per band like any stream-static join); the in-stream
    * self-check is signature-EXACT within the watermark window, the
    * same first-arrival-wins trade as the 60-bit twin, with the
    * batch compaction ([[graft.operators.MediaDedup
    * .hammingPairsWide]]) as the backstop. Note the occupancy guard
    * is a BATCH-side contract (it counts the corpus); a stream has
    * no corpus count to guard, so the bound is enforced where the
    * corpus is built.
    *
    * `sigs` must carry (idCol, tsCol, sigCol); `corpusSigs` carries
    * sigCol. Emits the admitted (id, ts, sig). */
  def mediaAdmittedStreamWide(sigs: DataFrame, corpusSigs: DataFrame,
      spec: graft.operators.MediaDedup.SigSpec =
        graft.operators.MediaDedup.Sig120,
      maxHamming: Int = -1, idCol: String = "media_id",
      sigCol: String = "sig", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val ham = if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming
    require(ham >= 0 && ham <= spec.bands - 1,
      s"${spec.bands} x ${spec.bandBits}-bit bands pigeonhole " +
        s"${spec.sigBits} bits at hamming <= ${spec.bands - 1} (got $ham)")
    // width-guarded on BOTH sides (graft.operators.Lsh
    // .sigWidthChecked): a mismatched array makes the per-word
    // hamming NULL, which would silently turn the LEFT ANTI
    // condition into admit-everything — the exact failure a
    // streaming admission path must never have quietly
    val fresh = sigs
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        graft.operators.Lsh.sigWidthChecked(
          col(sigCol).cast("array<bigint>"), spec.bands,
          "mediaAdmittedStreamWide(stream)").as("sig"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("sig")
    bandAntiChain(fresh,
      corpusSigs.select(graft.operators.Lsh.sigWidthChecked(
        col(sigCol).cast("array<bigint>"), spec.bands,
        "mediaAdmittedStreamWide(corpus)").as(sigCol)),
      sigCol, spec.bands, (c, b) => element_at(c, b + 1), hamSum, ham)
  }

  /** Per-word hamming sum over two band-word arrays — the wide
    * signature distance the wide admission stream and both
    * containment consumers verify with (ONE fold site). */
  private def hamSum(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")),
    lit(0), (acc, x) => acc + x)

  /** The culled corpus frame relation both the streaming containment
    * admission and its nightly-backstop consumer probe: banded
    * (c_media, c_frame, c_sig, c_b, c_word) rows joined with each
    * video's own frame count c_nf — the corpus-direction ratio's
    * denominator, computed over the UNCULLED frames so an oversized
    * bucket never shrinks a video's denominator (round 14). */
  private def corpusContainRel(corpusFrameSigs: DataFrame,
      spec: graft.operators.MediaDedup.SigSpec, maxBucketSize: Int,
      site: String): DataFrame = {
    val corpusBands = corpusFrameSigs.select(
      col("media_id").cast("string").as("c_media"),
      col("frameIdx").cast("int").as("c_frame"),
      graft.operators.Lsh.sigWidthChecked(
        col("sig").cast("array<bigint>"), spec.bands, site).as("c_sig"))
      .select(col("c_media"), col("c_frame"), col("c_sig"),
        posexplode(col("c_sig")).as(Seq("c_b", "c_word")))
    val okBuckets = corpusBands.groupBy(col("c_b"), col("c_word"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize)
      .select(col("c_b"), col("c_word"))
    val corpusNf = corpusFrameSigs
      .groupBy(col("media_id").cast("string").as("c_media"))
      .agg(count(lit(1)).as("c_nf"))
    corpusBands.join(okBuckets, Seq("c_b", "c_word"))
      .join(corpusNf, Seq("c_media"))
  }

  /** NIGHTLY-BACKSTOP ordering over the containment stream's output
    * (round 15 — VERDICT r14 item 5, the `contains_corpus` flag's
    * batch CONSUMER): the stream admits a longer re-edit that
    * subsumes a corpus video (its new frames are new data) and flags
    * it; the nightly compaction should verify exactly those arrivals
    * FIRST, because each one is a candidate to REPLACE a corpus video
    * rather than join it. This operator turns the admitted rows into
    * that worklist — one row per admitted arrival with its batch
    * corpus-direction containment re-derived through the SAME culled
    * corpus relation and hamming verify the stream used:
    *
    *   (id, ts, contains_corpus, corpus_containment = max over corpus
    *    videos of matched-distinct-corpus-frames / that video's own
    *    frame count (0.0 when nothing matched), top_corpus_media =
    *    the maximizing video (equal-ratio ties to the
    *    LEXICOGRAPHICALLY largest media-id string — the struct-max
    *    rule over (ratio, c_media); deterministic, but "v9" beats
    *    "v10"), verify_rank)
    *
    * ordered flagged-first, then by the corpus-direction ratio
    * descending, then id — so the backstop drains subsuming arrivals
    * in replacement-value order. The flag/ratio parity (flag ⇔ batch
    * ratio ≥ the stream's minContainment) is spec-pinned in
    * StreamingSpec against the stream's own output. `admitted` is
    * the stream's (id, ts, contains_corpus); `arrivalFrameSigs` the
    * stored per-frame signature relation of the same arrivals
    * ([[graft.operators.MediaDedup.imageDHashWide]] layout — only
    * admitted ids are read, via a semi join). The global rank window
    * is driver-bounded by construction: one row per admitted arrival
    * of one compaction window, the nightly unit of work.
    */
  def containmentBackstopOrder(admitted: DataFrame,
      arrivalFrameSigs: DataFrame, corpusFrameSigs: DataFrame,
      spec: graft.operators.MediaDedup.SigSpec =
        graft.operators.MediaDedup.Sig120,
      minContainment: Double = 0.5, maxHamming: Int = -1,
      maxBucketSize: Int = 10000): DataFrame = {
    val ham = if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming
    require(ham >= 0 && ham <= spec.bands - 1,
      s"${spec.bands} x ${spec.bandBits}-bit bands pigeonhole " +
        s"${spec.sigBits} bits at hamming <= ${spec.bands - 1} (got $ham)")
    val corpusRel = corpusContainRel(corpusFrameSigs, spec,
      maxBucketSize, "containmentBackstopOrder(corpus)")
    val arrivals = arrivalFrameSigs
      .select(col("media_id").cast("string").as("id"),
        col("frameIdx").cast("int").as("frameIdx"),
        graft.operators.Lsh.sigWidthChecked(
          col("sig").cast("array<bigint>"), spec.bands,
          "containmentBackstopOrder(arrivals)").as("sig"))
      .join(admitted.select(col("id").cast("string").as("id")),
        Seq("id"), "left_semi")
      .select(col("id"), col("frameIdx"), col("sig"),
        posexplode(col("sig")).as(Seq("b", "word")))
    val ratios = arrivals.join(corpusRel,
        col("b") === col("c_b") && col("word") === col("c_word") &&
          hamSum(col("sig"), col("c_sig")) <= lit(ham))
      .groupBy(col("id"), col("c_media"), col("c_nf"))
      .agg(countDistinct(col("c_frame")).as("__m"))
      .withColumn("__ratio", col("__m").cast("double") / col("c_nf"))
      .groupBy(col("id"))
      .agg(max(struct(col("__ratio"), col("c_media"))).as("__best"))
      .select(col("id"),
        round(col("__best").getField("__ratio"), 6)
          .as("corpus_containment"),
        col("__best").getField("c_media").as("top_corpus_media"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      col("contains_corpus").desc, col("corpus_containment").desc,
      col("id"))
    admitted
      .select(col("id").cast("string").as("id"), col("ts"),
        col("contains_corpus"))
      .join(ratios, Seq("id"), "left")
      .na.fill(0.0, Seq("corpus_containment"))
      .withColumn("verify_rank", row_number().over(w))
      .select(col("verify_rank"), col("id"), col("ts"),
        col("contains_corpus"), col("corpus_containment"),
        col("top_corpus_media"))
      .orderBy(col("verify_rank"))
  }

  case class FrameCand(id: String, ts: java.sql.Timestamp, nf: Int,
      frameIdx: Int, c_media: String, c_frame: Option[Int],
      c_nf: Option[Long])
  case class ContainSeen(seen: Boolean)
  case class ContainAdmitted(id: String, ts: java.sql.Timestamp,
      contains_corpus: Boolean)

  /** STREAMING video-containment admission (round 13 — VERDICT r12
    * stretch 8, the §2.9 grid's last batch-only media cell): admit an
    * arriving MEDIA unless it is CONTAINED in the committed corpus —
    * the fraction of its frames within `maxHamming` of some frame of
    * ONE corpus video reaches `minContainment`. The arrival is one
    * row per media (`sigsCol` = the sampled frames' wide signatures,
    * [[graft.operators.MediaDedup.imageDHashWide]] layout) — the
    * file-per-media ingest shape, which is what makes the verdict
    * per-media decidable inside a single micro-batch.
    *
    * Mechanics: frames posexplode → banded equi-join against the
    * COMPACT corpus frame relation ([[graft.operators.MediaDedup
    * .videoContainmentPairsWide]]'s kernel keys: (band, word), the
    * per-word popcount verify in the join condition, oversized
    * corpus buckets CULLED — the okBuckets discipline), LEFT so a
    * zero-candidate arrival still reaches its verdict; then one
    * [[org.apache.spark.sql.KeyValueGroupedDataset
    * .flatMapGroupsWithState]] per media computes the per-corpus-
    * video distinct-frame ratio and emits admitted (id, ts). State
    * is ONE boolean per media id, retained to watermark + delay
    * (EventTime timeout) — replay suppression, the bounded-per-media
    * state of the verdict's asking; candidate fan-out is bounded by
    * the bucket cull exactly like the batch kernel.
    *
    * Batch-parity caveat: the ADMISSION check is the ARRIVAL-side
    * ratio — the clip-rejection direction. An arrival that strictly
    * CONTAINS a corpus video (a longer re-edit) is ADMITTED here
    * (its new frames are new data) — but since round 14 (VERDICT
    * r13 stretch 8) it is admitted CARRYING `contains_corpus =
    * true`: the corpus direction's ratio (matched distinct corpus
    * frames / that corpus video's own frame count — both static
    * columns of the same joined relation) is computed in the same
    * per-media group, so the nightly batch compaction can prioritize
    * exactly the arrivals that subsume corpus videos. Admission
    * semantics are UNCHANGED — the flag never rejects. Arrival ×
    * arrival containment within the stream likewise falls to the
    * batch backstop (frames of two arrivals never meet in this
    * plan); spec-pinned in StreamingSpec.
    */
  def containmentAdmittedStream(media: DataFrame,
      corpusFrameSigs: DataFrame,
      spec: graft.operators.MediaDedup.SigSpec =
        graft.operators.MediaDedup.Sig120,
      minContainment: Double = 0.5, maxHamming: Int = -1,
      idCol: String = "media_id", sigsCol: String = "sigs",
      tsCol: String = "ts", watermarkDelay: String = "10 minutes",
      maxBucketSize: Int = 10000): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ham = if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming
    require(ham >= 0 && ham <= spec.bands - 1,
      s"${spec.bands} x ${spec.bandBits}-bit bands pigeonhole " +
        s"${spec.sigBits} bits at hamming <= ${spec.bands - 1} (got $ham)")
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1]; got $minContainment")
    val corpusRel = corpusContainRel(corpusFrameSigs, spec,
      maxBucketSize, "containmentAdmittedStream(corpus)")
    val fresh = media.select(col(idCol).cast("string").as("id"),
      col(tsCol).as("ts"), col(sigsCol).as("sigs"))
      .withWatermark("ts", watermarkDelay)
    // posexplode_OUTER at both levels (round-13 review): a media
    // with ZERO frame signatures (null/empty sigs — a corrupt blob
    // whose decoder yielded no frames) must still reach the verdict
    // and be ADMITTED, matching the batch twin (which pairs nothing
    // for it); an inner explode silently dropped it — neither
    // admitted nor rejected. Its null-sig rows join no corpus row
    // (null keys never match), so the group sees only null c_media
    // and admits.
    val bands = fresh.select(col("id"), col("ts"),
      greatest(size(col("sigs")), lit(0)).as("nf"),
      posexplode_outer(col("sigs")).as(Seq("frameIdx", "rawsig")))
      .withColumn("sig", when(col("rawsig").isNotNull,
        graft.operators.Lsh.sigWidthChecked(
          col("rawsig").cast("array<bigint>"), spec.bands,
          "containmentAdmittedStream(stream)")))
      .select(col("id"), col("ts"), col("nf"), col("frameIdx"),
        col("sig"), posexplode_outer(col("sig")).as(Seq("b", "word")))
    val joined = bands.join(corpusRel,
      col("b") === col("c_b") && col("word") === col("c_word") &&
        hamSum(col("sig"), col("c_sig")) <= lit(ham), "left")
      .select(col("id"), col("ts"), col("nf"),
        coalesce(col("frameIdx"), lit(-1)).as("frameIdx"),
        col("c_media"), col("c_frame"), col("c_nf"))
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .getDuration(org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types
          .UTF8String.fromString(watermarkDelay)),
        java.util.concurrent.TimeUnit.MILLISECONDS)
    joined.as[FrameCand]
      .groupByKey(_.id)
      .flatMapGroupsWithState[ContainSeen, ContainAdmitted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[FrameCand],
            state: GroupState[ContainSeen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // replay in retention
          else {
            val rows = it.toSeq
            val ts = rows.map(_.ts.getTime).min
            val nf = rows.map(_.nf).max
            val byCorpus = rows.filter(_.c_media != null)
              .groupBy(_.c_media)
            val contained = byCorpus.exists { case (_, g) =>
              g.map(_.frameIdx).distinct.size.toDouble / nf >=
                minContainment }
            state.update(ContainSeen(true))
            state.setTimeoutTimestamp(math.max(ts + delayMs,
              state.getCurrentWatermarkMs() + 1))
            if (contained) Iterator.empty
            else {
              // corpus direction (round 14): does this admitted
              // arrival CONTAIN some corpus video — matched distinct
              // corpus frames over that video's own frame count (all
              // rows of a group share the video, hence its c_nf)
              val containsCorpus = byCorpus.exists { case (_, g) =>
                g.headOption.flatMap(_.c_nf).exists(cnf =>
                  g.flatMap(_.c_frame).distinct.size.toDouble / cnf >=
                    minContainment) }
              Iterator.single(ContainAdmitted(rows.head.id,
                new java.sql.Timestamp(ts), containsCorpus))
            }
          }
      }.toDF()
  }

  /** STREAMING maintenance of the stored two-level IVF-PQ index —
    * the streaming cell of the ANN admission grid (the batch side is
    * [[graft.operators.SimilaritySearch.admitIvfPqBatchTwoLevel]],
    * round 12). The encode itself ([[graft.operators
    * .SimilaritySearch.encodeIvfPqTwoLevel]]) is a pure stateless
    * per-row map against FIXED broadcast artifacts, so it runs
    * unchanged on a streaming vector feed; what a stream adds is the
    * at-least-once concern — a file/queue source re-delivers, and a
    * stored index must not hold duplicate `nid` rows — so the one
    * stateful piece here is `dropDuplicatesWithinWatermark(id)`
    * before the encode. Emitted (nid, code, cell) append-rows land
    * in the same bucketed storage the batch admission writes
    * ([[graft.sources.Sinks.writeBucketed]] on `cell`), and the
    * query half ([[graft.operators.SimilaritySearch
    * .ivfPqTopKScoreTwoLevelIndexed]]) reads them identically —
    * under fixed quantizers streamed-in rows are VALUE-IDENTICAL to
    * a batch re-encode (spec-pinned). Quantizer drift remains the
    * documented operational bound, exactly as on the batch path. */
  def ivfPqIndexStream(vectors: DataFrame,
      artifacts: graft.operators.SimilaritySearch.TwoLevelIvfPqArtifacts,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val fresh = vectors
      .select(col(idCol), col(tsCol).as("ts"), col(vecCol))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)
    graft.operators.SimilaritySearch.encodeIvfPqTwoLevel(
      fresh, artifacts, idCol, vecCol)
  }

  /** STREAMING maintenance of the RELATIONAL (third-tier) index —
    * the [[ivfPqIndexStream]] cell for the structure past the
    * broadcast clamp (round 15): that cell's encode is a stateless
    * map against FIXED broadcast artifacts, which is exactly what the
    * relational tier does not have — its child level lives as a
    * relation. Here arrivals route to their populated super in a
    * stateless map over the broadcast S·dim supers (the only
    * driver-sized state the tier owns), candidate children arrive by
    * a STREAM-STATIC equi-join on `super` against the stored child
    * relation — nothing child-sized is ever broadcast or collected —
    * and the per-arrival cell argmin is a (ts, id)-keyed streaming
    * aggregation under the re-tagged watermark (ids are unique after
    * the dedup, so each group is one arrival; keying by the
    * event-time column keeps the aggregation append-capable for a
    * store-writing sink). Values are [[graft.operators
    * .SimilaritySearch.assignPreRoutedFused]]'s exactly — the
    * distance is the same index-ordered double accumulation
    * ((x − c)², left to right, one shared fold order) and
    * min(struct(d, cell)) ties to the lowest cell — spec-pinned
    * against the batch assignment of the same arrivals. Emits
    * (id, ts, cell, vec): the row the bucketed-by-cell store holds
    * (the q91 discipline downstream; [[graft.operators
    * .SimilaritySearch.ivfCosineTopKRelationalIndexed]] serves the
    * union unchanged). At-least-once re-delivery is handled by
    * `dropDuplicatesWithinWatermark(id)` BEFORE the join — the
    * [[ivfPqIndexStream]] concern, same placement. Quantizer drift
    * stays the documented operational bound: a retrain replaces the
    * child store, and the stream restarts against it. */
  def relationalIndexStream(vectors: DataFrame,
      rel: graft.operators.SimilaritySearch.RelationalCoarse,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pop = graft.operators.SimilaritySearch.populatedOf(rel.childRel)
    val sB = spark.sparkContext.broadcast(rel.supers)
    val pB = spark.sparkContext.broadcast(pop)
    val fresh = vectors
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        col(vecCol).cast("array<double>").as("vec"))
    // ONE watermark tag, applied after the routing map (the typed map
    // rebuilds the attributes, and a second withWatermark on the same
    // stream is a redefinition error) — the at-least-once dedup rides
    // the same tag, before the join
    val routed = fresh.as[(Long, java.sql.Timestamp, Array[Double])]
      .map { case (id, ts, v) => (id, ts, v,
        graft.operators.SimilaritySearch.routeAmong(v, sB.value, pB.value)) }
      .toDF("id", "ts", "vec", "super")
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("id")
    routed
      .join(rel.childRel.select(col("super"), col("cell"),
        col("cvec")), Seq("super"))
      .withColumn("__d", aggregate(
        zip_with(col("vec"), col("cvec"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("ts"), col("id"))
      .agg(min(struct(col("__d"), col("cell"))).as("__m"),
        first(col("vec")).as("vec"))
      .select(col("id"), col("ts"),
        col("__m").getField("cell").as("cell"), col("vec"))
  }

  case class TextArrival(id: Long, ts: java.sql.Timestamp, fp: String,
      bkey: String, toks: Seq[String])
  case class TextEntry(ts_ms: Long, id: Long, fp: String,
      toks: Seq[String])
  case class BucketState(admitted: List[TextEntry])
  case class TextAdmitted(id: Long, ts: java.sql.Timestamp)

  /** Streaming TEXT near-dup admission — the Jaccard sibling of
    * [[semanticAdmittedStream]] / [[mediaAdmittedStream]], and the
    * ingest-time twin of [[graft.operators.DedupPipeline
    * .admitIncremental]] (the admission grid's text × streaming
    * cell beyond [[bloomAdmittedStream]]'s EXACT membership): admit
    * only incoming documents that are not exact or Jaccard near-dups
    * of the committed corpus OR of earlier stream arrivals.
    *
    *   1. exact corpus check — stream-static LEFT ANTI on the
    *      normalized fingerprint (the batch pipeline's exact stage);
    *   2. near corpus check — stream-static LEFT ANTI equi-keyed on
    *      the SHARED candidate bucket ([[graft.operators
    *      .DedupPipeline.bucketKey]] — first two normalized tokens,
    *      single-sited so batch and stream recall cannot drift) with
    *      the division-form token-set Jaccard ≥ `threshold` as the
    *      residual condition — only same-bucket corpus docs are ever
    *      scored, and oversized corpus buckets are CULLED from the
    *      probe exactly as the batch okBuckets cull does (ADVICE
    *      r12: without it a hot bucket made the stream reject where
    *      batch admits, with unbounded per-micro-batch fan-out);
    *      the residual asymmetry — the batch cull counts fresh ∪
    *      corpus, this one corpus alone — is documented at the cull
    *      site and spec-pinned;
    *   3. in-stream check — per-BUCKET watermark-bounded state
    *      ([[semanticAdmittedStream]]'s mechanics exactly: (ts, id)
    *      micro-batch order, retention to watermark − delay, the
    *      `maxRetainedPerBucket` cap with newest kept, EventTime
    *      timeout eviction): an arrival is rejected on an exact
    *      fingerprint match or a Jaccard ≥ threshold against the
    *      bucket's retained admissions — the same arithmetic as the
    *      static join (sorted-distinct token intersection, division
    *      form), so the two tiers cannot disagree at boundaries.
    *
    * Batch-parity caveat (spec-pinned, the [[semanticAdmittedStream]]
    * contract verbatim): the batch twin elects the MIN-ID member of
    * each near-dup group; the stream admits the FIRST ARRIVAL
    * greedily — identical on id-ordered feeds with a chain-free
    * near-dup graph, the honest online contract otherwise; near-dups
    * farther apart than the retention re-emit and fall to the batch
    * compaction backstop.
    *
    * `corpus` is the already-deduplicated corpus (idCol, textCol) —
    * compact, broadcast-joined. Emits admitted (id, ts).
    *
    * Deployment shape at corpus scale: the static side re-evaluates
    * per micro-batch, and unlike the media twin's 16-byte signatures
    * the text side carries token arrays — so a large deployment
    * PRECOMPUTES the two compact corpus relations ((fp) and
    * (bkey, toks)) and stores them bucketed on their join keys
    * ([[graft.sources.Sinks.writeBucketed]] — the q91/ANN-index
    * discipline), so each micro-batch's anti-joins read buckets in
    * place instead of re-shuffling the corpus nightly; passing raw
    * (id, text) here re-derives both per batch, fine at test scale.
    */
  def textAdmittedStream(docs: DataFrame, corpus: DataFrame,
      threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      maxRetainedPerBucket: Int = 10000,
      maxCorpusBucketSize: Int = 1000): DataFrame = {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.graft.ArrayExpressions.sortedIntersectCount
    val spark = docs.sparkSession
    import spark.implicits._
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]; got $threshold")
    def keyed(df: DataFrame, ts: Option[Column]): DataFrame = df.select(
      (Seq(col(idCol).cast("long").as("id")) ++ ts.toSeq ++ Seq(
        TextFunctions.fingerprint(col(textCol)).as("fp"),
        graft.operators.DedupPipeline.bucketKey(col(textCol)).as("bkey"),
        array_sort(TextFunctions.tokenSet(
          TextFunctions.normalized(col(textCol)))).as("toks"))): _*)
    val fresh0 = keyed(docs, Some(col(tsCol).as("ts")))
      .withWatermark("ts", watermarkDelay)
    val corpusKeyed = keyed(corpus, None)
    val exactDropped = fresh0.join(
      corpusKeyed.select(col("fp").as("c_fp")),
      col("fp") === col("c_fp"), "left_anti")
    val inter = sortedIntersectCount(col("toks"), col("c_toks"))
    val jac = inter.cast("double") /
      (size(col("toks")) + size(col("c_toks")) - inter).cast("double")
    // ADVICE r12: the batch twin culls oversized buckets out of the
    // near-dup probe (DedupPipeline.admitIncremental's okBuckets) —
    // without the same cull here, a hot bucket made the stream REJECT
    // where batch admits AND gave the per-micro-batch join unbounded
    // fan-out. The cull is CORPUS-sized (the batch one counts fresh ∪
    // corpus; a micro-batch cannot see the union) — the residual
    // asymmetry is a bucket within maxCorpusBucketSize of the cull
    // line that only the batch's fresh arrivals tip over, and the
    // in-stream state tier still bounds those via
    // maxRetainedPerBucket. Exact-fingerprint rejection is
    // unconditional in both engines (the batch exact stage has no
    // cull either).
    val okBuckets = corpusKeyed.groupBy(col("bkey"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxCorpusBucketSize)
      .select(col("bkey"))
    val fresh = exactDropped.join(
      corpusKeyed.join(okBuckets, "bkey")
        .select(col("bkey").as("c_bkey"), col("toks").as("c_toks")),
      col("bkey") === col("c_bkey") && jac >= lit(threshold), "left_anti")
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .getDuration(org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types
          .UTF8String.fromString(watermarkDelay)),
        java.util.concurrent.TimeUnit.MILLISECONDS)
    // the in-state twin of the join's jaccard: the same DISTINCT
    // intersection count and division form, so the two tiers agree
    // at boundary pairs (16/20 vs 0.8-style) by construction. Set
    // intersection, NOT a sorted-merge walk: toks arrive sorted by
    // Spark's UTF8 binary order, which Scala's String ordering does
    // not reproduce for every codepoint — a count must not depend on
    // agreeing sort orders
    def jacScala(a: Seq[String], b: Seq[String]): Double = {
      val n = a.toSet.intersect(b.toSet).size
      n.toDouble / (a.length + b.length - n).toDouble
    }
    fresh.select(col("id"), col("ts"), col("fp"), col("bkey"), col("toks"))
      .as[TextArrival]
      .groupByKey(_.bkey)
      .flatMapGroupsWithState[BucketState, TextAdmitted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[TextArrival],
            state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = it.toSeq.sortBy(a => (a.ts.getTime, a.id))
            val wm = state.getCurrentWatermarkMs()
            var admitted = state.getOption.map(_.admitted).getOrElse(Nil)
              .filter(_.ts_ms >= wm - delayMs)
            def near(a: TextArrival): Boolean = admitted.exists(e =>
              e.fp == a.fp || jacScala(a.toks, e.toks) >= threshold)
            val out = scala.collection.mutable.ArrayBuffer.empty[TextAdmitted]
            sorted.foreach { a =>
              if (!near(a)) {
                admitted = TextEntry(a.ts.getTime, a.id, a.fp, a.toks) :: admitted
                out += TextAdmitted(a.id, a.ts)
              }
            }
            if (admitted.length > maxRetainedPerBucket)
              admitted = admitted.sortBy(e => (-e.ts_ms, e.id))
                .take(maxRetainedPerBucket)
            if (admitted.nonEmpty) {
              state.update(BucketState(admitted))
              state.setTimeoutTimestamp(math.max(
                admitted.map(_.ts_ms).max + delayMs,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            out.iterator
          }
      }.toDF()
  }

  case class OpenBin(bin: Int, fill: Int, docs: List[(Long, Int)])
  case class PackState(nextBin: Int, lastTsMs: Long, bins: List[OpenBin])
  case class PackedOut(doc_id: Long, shard: Int, bin: Int, weight: Int,
      bin_fill: Int, oversize: Boolean)

  /** STREAMING sequence packing — the continuous-ingest twin of
    * [[graft.operators.Packing.packSequencesPortable]] (q47/q79):
    * pack arriving documents into fixed-capacity training sequences
    * with BOUNDED open state. Same two-level shape as the batch
    * operator — the md5-prefix shard hash bounds each key's working
    * set — but the within-shard policy is necessarily ONLINE
    * first-fit in arrival order: FFD's decreasing sort needs the
    * full multiset, which a stream never has. The utilization trade
    * is the family's standard one (first-fit online ≤ 1.7·OPT vs
    * FFD's 11/9·OPT; Johnson 1974) and the batch compaction (q47)
    * is the repack backstop, exactly as batch hamming compaction
    * backstops every admission stream in this file.
    *
    * Mechanics, per shard ([[OpenBin]] list in creation order):
    *   - oversize docs (w > maxTokens) emit immediately as their own
    *     closed bin, flagged — the batch contract;
    *   - a doc joins the FIRST open bin it fits; an exactly-full bin
    *     closes and emits at once;
    *   - no fit → a new bin opens; if `maxOpenBins` are already open
    *     the OLDEST closes (emits) to make room — the state bound;
    *   - a bin reaching `maxDocsPerBin` members closes regardless of
    *     fill (the zero/tiny-weight flood bound — state per shard is
    *     ≤ maxOpenBins · maxDocsPerBin doc entries by construction);
    *   - open bins flush (emit, state removed) once the event-time
    *     watermark passes `flushAfterMs` beyond the shard's last
    *     arrival — the ever-open-tail bound.
    *
    * Emission happens at bin CLOSE (a doc's `bin_fill` is its bin's
    * FINAL payload, the batch semantics — unknowable before close),
    * so rows arrive per closed bin, schema-identical to
    * [[graft.operators.Packing.Packed]]. Within a micro-batch docs
    * process in (ts, id) order; across batches the packing is a
    * function of arrival order — the online contract.
    *
    * `docs` must carry (idCol LONG-castable, tsCol, weightCol). */
  def packedStream(docs: DataFrame, idCol: String, weightCol: String,
      maxTokens: Int, tsCol: String = "ts", numShards: Int = 16,
      maxOpenBins: Int = 8, maxDocsPerBin: Int = 1024,
      watermarkDelay: String = "10 minutes",
      flushAfterMs: Long = 30L * 60 * 1000): DataFrame = {
    require(maxTokens > 0 && numShards > 0 && maxOpenBins >= 1 &&
      maxDocsPerBin >= 1, "packedStream: all bounds must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val shardExpr =
      graft.operators.Packing.portableShard(col(idCol), numShards)
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"), col(weightCol).cast("int").as("weight"),
        shardExpr.cast("int").as("shard"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Int, Int)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[PackState, PackedOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (shard: Int, it: Iterator[(Long, java.sql.Timestamp, Int, Int)],
            state: GroupState[PackState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // KEEP nextBin through the flush (state shrinks to three
            // scalars, bounded by numShards keys total): removing it
            // would restart bin numbering at 0 and collide the
            // (shard, bin) training-sequence key across flushes. No
            // new timeout: nothing is open.
            state.update(PackState(s.nextBin, s.lastTsMs, Nil))
            s.bins.reverseIterator.flatMap(emitPackedBin(shard, _))
          } else {
            val sorted = it.toSeq.sortBy(d => (d._2.getTime, d._1))
            var s = state.getOption.getOrElse(PackState(0, 0L, Nil))
            val out = scala.collection.mutable.ArrayBuffer.empty[PackedOut]
            for ((id, ts, w, _) <- sorted) {
              val (ns, emitted) = packStep(s, shard, id, ts.getTime, w,
                maxTokens, maxOpenBins, maxDocsPerBin)
              s = ns
              out ++= emitted
            }
            // always update (never remove — nextBin must survive an
            // all-bins-closed batch for the same key-collision
            // reason); arm the flush timer only while bins are open
            state.update(s)
            if (s.bins.nonEmpty)
              state.setTimeoutTimestamp(math.max(s.lastTsMs + flushAfterMs,
                state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }.toDF()
  }

  private def emitPackedBin(shard: Int, b: OpenBin): Iterator[PackedOut] =
    b.docs.reverseIterator.map { case (id, w) =>
      PackedOut(id, shard, b.bin, w, b.fill, oversize = false) }

  /** ONE per-doc step of the online first-fit policy — single-sited
    * so the stream closure above and the measurement harness
    * ([[graft.tools.ScaleProbe]]'s `packing` mode, which folds the
    * SAME function over a batch corpus to price the online-vs-FFD
    * utilization trade) cannot drift. Pure: (state, doc) →
    * (state', emitted rows). */
  private[graft] def packStep(s0: PackState, shard: Int, id: Long,
      tsMs: Long, w: Int, maxTokens: Int, maxOpenBins: Int,
      maxDocsPerBin: Int): (PackState, Seq[PackedOut]) = {
    var s = s0.copy(lastTsMs = math.max(s0.lastTsMs, tsMs))
    val out = scala.collection.mutable.ArrayBuffer.empty[PackedOut]
    if (w > maxTokens) {
      out += PackedOut(id, shard, s.nextBin, w, w, oversize = true)
      s = s.copy(nextBin = s.nextBin + 1)
    } else {
      // bins list is newest-first; fit scan walks creation order
      // (oldest first)
      val inOrder = s.bins.reverse
      inOrder.find(b => b.fill + w <= maxTokens &&
          b.docs.length < maxDocsPerBin) match {
        case Some(b) =>
          val nb = OpenBin(b.bin, b.fill + w, (id, w) :: b.docs)
          if (nb.fill == maxTokens || nb.docs.length == maxDocsPerBin) {
            out ++= emitPackedBin(shard, nb)
            s = s.copy(bins = s.bins.filterNot(_.bin == b.bin))
          } else
            s = s.copy(bins = s.bins.map(x => if (x.bin == b.bin) nb else x))
        case None =>
          val nb = OpenBin(s.nextBin, w, List((id, w)))
          s = s.copy(nextBin = s.nextBin + 1)
          // a NEW bin that is already exactly full (w == maxTokens —
          // common when docs are truncated to max length) or at the
          // doc cap closes and emits at once, same as the join path:
          // leaving it open would withhold the doc until the flush
          // AND burn an open-bin slot on a bin nothing can join
          if (nb.fill == maxTokens || nb.docs.length == maxDocsPerBin)
            out ++= emitPackedBin(shard, nb)
          else {
            if (s.bins.length == maxOpenBins) {
              out ++= emitPackedBin(shard, s.bins.last)
              s = s.copy(bins = s.bins.init)
            }
            s = s.copy(bins = nb :: s.bins)
          }
      }
    }
    (s, out.toSeq)
  }

  /** Drive a streaming DataFrame synchronously into a memory table
    * (test/smoke harness — processes everything currently available).
    * The mode is REQUIRED, not defaulted: the
    * flatMapGroupsWithState(Append) operators in this file reject
    * anything but Append at start(), while the windowed-aggregation
    * twins need Update to surface windows the watermark has not
    * closed — a default silently fit only half the module and threw
    * AnalysisException for the other half. */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
