package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("streaming windowed counts match the batch query on the same data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val src = graft.Tables(spark, "/root/testdata/sf0.001").events
    src.write.mode("overwrite").parquet(dir)

    val stream = EventStreams.readEventStream(spark, dir)
    assert(stream.isStreaming)
    EventStreams.runToMemory(EventStreams.windowedCounts(stream), "win_out",
      org.apache.spark.sql.streaming.OutputMode.Update())

    val got = spark.table("win_out")
      .select(sum("n_events")).collect()(0).getLong(0)
    assert(got === src.count())

    val batch = QueryCatalog.byName("q24_tumbling_window")
      .run(spark, "/root/testdata/sf0.001")
    assert(spark.table("win_out").count() === batch.count())
  }

  test("streaming sliding windows match the batch sliding query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slide").toString
    graft.Tables(spark, "/root/testdata/sf0.001").events
      .write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEventStream(spark, dir)
    EventStreams.runToMemory(
      EventStreams.windowedCounts(stream, "10 minutes", Some("5 minutes")),
      "slide_out", org.apache.spark.sql.streaming.OutputMode.Update())
    val batch = QueryCatalog.byName("q35_sliding_window")
      .run(spark, "/root/testdata/sf0.001")
    assert(spark.table("slide_out").count() === batch.count())
    // every event lands in exactly two windows
    val total = spark.table("slide_out")
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(total === 2 * graft.Tables(spark, "/root/testdata/sf0.001")
      .events.count())
  }

  test("streaming dedup keeps one row per fingerprint, matching batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    // planted dup pair (1,2) differs only in whitespace/case
    val docs = Seq(
      (1L, "2026-01-01 10:00:00", "the quick brown fox"),
      (2L, "2026-01-01 10:01:00", "The quick  BROWN fox"),
      (3L, "2026-01-01 10:02:00", "something else entirely"),
      (4L, "2026-01-01 10:03:00", "a third unique document"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    docs.write.mode("overwrite").parquet(dir)
    val schema = docs.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.dedupByFingerprint(stream, "text", "ts"), "dedup_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("dedup_out")
    assert(got.count() === 3) // 4 docs − 1 dup
    // schema parity with the batch twin: the internal fp working
    // column must NOT leak into the output
    assert(got.columns.toSeq === docs.columns.toSeq)
    val streamFps = got
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .as[String].collect().toSet
    val batchFps = graft.operators.Dedup.dropExactDups(docs, "doc_id", "text")
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .as[String].collect().toSet
    assert(streamFps === batchFps)
  }

  test("stateful sessionization emits completed sessions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    graft.Tables(spark, "/root/testdata/sf0.001").events
      .write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEventStream(spark, dir)
    EventStreams.runToMemory(
      EventStreams.sessionize(spark, stream), "sess_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    // batch truth: per-user sessions as (user, start_ms, end_ms, n)
    import spark.implicits._
    val events = graft.Tables(spark, "/root/testdata/sf0.001").events
      .select(col("user_id"), unix_millis(col("ts")).as("t"))
      .as[(Long, Long)].collect().groupBy(_._1)
    val gapMs = 30L * 60 * 1000
    val batchSessions = events.flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = ts.head; var last = ts.head; var n = 1L
      for (t <- ts.tail) {
        if (t - last <= gapMs) { last = t; n += 1 }
        else { out += ((u, start, last, n)); start = t; last = t; n = 1 }
      }
      out += ((u, start, last, n))
      out
    }.toSet
    val users = events.size.toLong
    val emitted = spark.table("sess_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    // every emitted session is a true batch session (the gap-closed
    // ones always; EventTimeTimeout may also close idle final
    // sessions once the watermark passes), and at most one session
    // per user (the open one) may be missing
    assert(emitted.subsetOf(batchSessions),
      s"phantom sessions: ${emitted -- batchSessions}")
    assert(emitted.size >= batchSessions.size - users)
    // gap-closed sessions (all but each user's last) are ALL present
    val lastPerUser = batchSessions.groupBy(_._1)
      .map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert((batchSessions -- lastPerUser).subsetOf(emitted))
  }

  test("streaming as-of enrichment matches the batch AsOfJoin on the same data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val src = graft.Tables(spark, "/root/testdata/sf0.001").events
    src.write.mode("overwrite").parquet(dir)

    val stream = EventStreams.readEventStream(spark, dir)
    EventStreams.runToMemory(
      EventStreams.asOfEnrich(spark, stream, "purchase", "click"),
      "asof_out", org.apache.spark.sql.streaming.OutputMode.Append())

    // batch twin: q38's operator chain on the same rows
    val batch = QueryCatalog.byName("q38_asof_join")
      .run(spark, "/root/testdata/sf0.001")
      .select(col("click_id"),
        unix_millis(col("purchase_ts")).as("m_ts"),
        col("purchase_id"), col("purchase_value"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val got = spark.table("asof_out")
      .select(col("event_id"), col("matched_ts_ms"), col("matched_id"),
        col("matched_value"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming deterministic sample keeps exactly the batch sample") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-samp").toString
    val docs = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.sampledStream(stream, "doc_id", 0.3), "samp_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("samp_out").select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Sampling
      .deterministicSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(got === batch)
    assert(got.nonEmpty && got.size < 500)
  }

  test("streaming decontamination matches the batch flag set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "we saw the quick brown fox jumps high today", "2024-01-01 00:00:01"),
      (2L, "nothing in common with anything at all here", "2024-01-01 00:00:02"),
      (3L, "the quick brown dog sat still", "2024-01-01 00:00:03"))
      .toDF("doc_id", "text", "ts0")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val benchIdx = graft.operators.Decontamination.benchIndex(bench, "text", 3)
    EventStreams.runToMemory(
      EventStreams.contaminatedStream(stream, benchIdx, "doc_id", "text",
        "ts", 3),
      "decon_out", org.apache.spark.sql.streaming.OutputMode.Update())
    val got = spark.table("decon_out")
      .select("doc_id", "n_hits", "n_grams", "contamination")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.Decontamination
      .flagContaminated(docs, bench, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === batch)
    assert(got.map(_._1) === Set(1L, 3L))
  }

  test("streaming PII scrub matches the batch redaction row-for-row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    val docs = Seq(
      (1L, "mail bob@x.io now"), (2L, "clean text"),
      (3L, "host 10.0.0.7 tel 555-0100"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.redactedStream(stream, "text"), "pii_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("pii_out").as[(Long, String)].collect().toMap
    val batch = docs.select(col("doc_id"),
        graft.functions.TextFunctions.piiRedact(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got === batch)
    assert(got(1L) === "mail <EMAIL> now")
    assert(got(3L) === "host <IP> tel <PHONE>")
  }

  test("streaming segment dedup keeps the batch first-occurrence survivor set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-segdedup").toString
    // same corpus as DedupSpec's batch fixture, in doc order, ONE
    // partition — so stream arrival order ≡ the batch (doc_id, pos)
    // survivor rule
    val docs = Seq(
      (1L, Seq("header boilerplate", "body one"), "2024-01-01 00:00:01"),
      (2L, Seq("header boilerplate", "unique two"), "2024-01-01 00:00:02"),
      (3L, Seq("unique two", "header boilerplate", "tail three"), "2024-01-01 00:00:03"))
      .toDF("doc_id", "lines", "ts0")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.segmentDedupStream(stream, "doc_id", col("lines"), "ts"),
      "segdedup_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("segdedup_out")
      .select("doc_id", "pos", "seg").as[(Long, Int, String)].collect().toSet
    assert(got === Set(
      (1L, 0, "header boilerplate"), (1L, 1, "body one"),
      (2L, 1, "unique two"), (3L, 2, "tail three")))
    // reassembled survivors match the batch operator's output
    val batch = graft.operators.Dedup
      .dedupSegments(docs, "doc_id", col("lines"), sep = "\n")
      .select("doc_id", "text_deduped").as[(Long, String)].collect().toMap
    val reassembled = got.toSeq.sortBy(t => (t._1, t._2))
      .groupBy(_._1).view.mapValues(_.map(_._3).mkString("\n")).toMap
    assert(reassembled === batch.filter(_._2.nonEmpty))
  }

  test("streaming bloom admission admits exactly the batch admitNewExact set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomadm").toString
    val corpus = Seq(
      (1L, "already in the corpus"),
      (2L, "another corpus document"),
      (3L, "a third corpus text")).toDF("doc_id", "text")
    // feed: one exact corpus dup (13), one in-feed dup pair (11, 14),
    // three uniques — id-ordered single partition so first-arrival ≡
    // the batch min-id election
    val feed = Seq(
      (10L, "2026-01-01 10:00:00", "a genuinely new document"),
      (11L, "2026-01-01 10:00:01", "repeated within the feed"),
      (12L, "2026-01-01 10:00:02", "second new unique text"),
      (13L, "2026-01-01 10:00:03", "Already  IN the corpus"), // corpus dup
      (14L, "2026-01-01 10:00:04", "Repeated   within the FEED"),
      (15L, "2026-01-01 10:00:05", "third new unique text"))
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    // the offline artifacts: bloom bytes + compact fingerprint relation
    val bloom = graft.operators.Dedup
      .fingerprintBloom(corpus, "text", numBits = 1L << 10)
      .collect()(0).getAs[Array[Byte]]("bloom")
    val corpusFps = corpus.select(
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.bloomAdmittedStream(stream, "text", "ts", bloom, corpusFps),
      "bloomadm_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("bloomadm_out")
    val gotIds = got.select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Dedup
      .admitNewExact(feed.drop("ts"), corpus, "doc_id", "text")
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    assert(gotIds === batchIds)
    assert(gotIds === Set(10L, 11L, 12L, 15L))
    // output shape parity with the batch twin: original columns + fp
    assert(got.columns.sorted.toSeq ===
      (feed.columns :+ "fp").sorted.toSeq)
    // fp values match the batch twin's for the same docs
    val gotFps = got.select("doc_id", "fp").as[(Long, String)].collect().toMap
    val batchFps = batch.select("doc_id", "fp").as[(Long, String)]
      .collect().toMap
    assert(gotFps === batchFps)
  }

  test("streaming LM scoring emits the batch scores bit-for-bit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    val trainDocs = Seq((100L, "a b a b a c")).toDF("doc_id", "text")
    val model = graft.operators.NgramLm.train(trainDocs, "text")
    val docs = Seq(
      (1L, "a b c", "2024-01-01 00:00:01"),
      (2L, "c a b a", "2024-01-01 00:00:02"),
      (3L, "x", "2024-01-01 00:00:03")) // sub-2-token: no emission
      .toDF("doc_id", "text", "ts0")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(
      spark.read.parquet(dir).schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.lmScoredStream(stream, "doc_id", "text", "ts", model),
      "lm_out", org.apache.spark.sql.streaming.OutputMode.Update())
    val got = spark.table("lm_out")
      .select("doc_id", "n_bigrams", "n_oov", "sum_bits", "avg_bits")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val batch = graft.operators.NgramLm.score(docs, "doc_id", "text", model)
      .filter(col("n_bigrams") > 0)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(got === batch)
    assert(!got.contains(3L))
  }

  test("streaming shard assignment matches the batch shard writer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sshard").toString
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.shardedStream(stream, "doc_id", 8), "shard_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("shard_out").select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    val batchOut = java.nio.file.Files.createTempDirectory("graft-bshard").toString
    graft.sources.Sinks.writeTrainingShards(docs, "doc_id", 8, batchOut)
    val batch = spark.read.parquet(batchOut).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    assert(got === batch)
  }
  // ---- cross-batch out-of-order regressions (maxFilesPerTrigger=1
  // turns each json file into its own micro-batch; mtimes pin the
  // batch order) ----

  private def writeBatchFiles(dir: String, batches: Seq[Seq[String]]): Unit = {
    batches.zipWithIndex.foreach { case (lines, i) =>
      val p = java.nio.file.Paths.get(dir, s"batch$i.json")
      java.nio.file.Files.write(p,
        lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
  }

  private def ev(id: Long, tMin: Long, user: Long, typ: String,
      value: Double): String =
    s"""{"event_id":$id,"ts":"2024-01-01 ${"%02d".format(tMin / 60)}:${"%02d".format(tMin % 60)}:00","user_id":$user,"event_type":"$typ","value":$value,"props":"{}"}"""

  test("asOfEnrich: a cross-batch LATE build event cannot regress state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-late").toString
    writeBatchFiles(dir, Seq(
      Seq(ev(10, 100, 1, "purchase", 1.0), ev(11, 200, 1, "click", 0.0)),
      Seq(ev(12, 50, 1, "purchase", 99.0)),    // late build, older than state
      Seq(ev(13, 300, 1, "click", 0.0))))      // must still see build 10
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).json(dir)
    EventStreams.runToMemory(
      EventStreams.asOfEnrich(spark, stream, "purchase", "click"),
      "asof_late_out", org.apache.spark.sql.streaming.OutputMode.Append())
    import spark.implicits._
    val got = spark.table("asof_late_out")
      .select("event_id", "matched_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(got(11L) === Some(10L))
    // with the old unconditional overwrite this was Some(12L) — the
    // late build corrupted every FUTURE probe, not just past ones
    assert(got(13L) === Some(10L))
  }

  test("sessionize: out-of-order events extend, never regress; idle sessions time out") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-late").toString
    writeBatchFiles(dir, Seq(
      Seq(ev(1, 0, 1, "click", 0.0), ev(2, 20, 1, "click", 0.0),
        ev(3, 0, 2, "click", 0.0)),            // u2: single event, then idle
      Seq(ev(4, 5, 1, "click", 0.0)),          // late, inside the open span
      Seq(ev(5, 45, 1, "click", 0.0)),         // 45-20=25min < gap: merges
      Seq(ev(6, 200, 1, "click", 0.0))))       // closes u1's session by gap
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).json(dir)
    EventStreams.runToMemory(
      EventStreams.sessionize(spark, stream), "sess_late_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    import spark.implicits._
    val got = spark.table("sess_late_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    def min2ms(m: Long) = java.sql.Timestamp.valueOf(
      s"2024-01-01 ${"%02d".format(m / 60)}:${"%02d".format(m % 60)}:00").getTime
    // u1: one session spanning 0..45 with 4 events. The old
    // lastTs-regression code emitted (0..5, n=3) and split event 5's
    // batch twin session in two.
    assert(got.contains((1L, min2ms(0), min2ms(45), 4L)),
      s"u1 session wrong: $got")
    // u2 went idle: EventTimeTimeout must emit the final session once
    // the watermark passes (NoTimeout never emitted it, state forever)
    assert(got.contains((2L, min2ms(0), min2ms(0), 1L)),
      s"u2 idle session not emitted: $got")
  }

  test("streaming SemDeDup admission admits exactly the batch semanticDedupPortable set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-semadm").toString
    // two well-separated clusters; the corpus is already deduplicated
    // (no within-corpus near pairs at thr=0.95)
    def v(a: Double, b: Double, c: Double, d: Double) = Seq(a, b, c, d)
    val corpus = Seq(
      (1L, v(1.0, 0.05, 0.0, 0.0)),
      (2L, v(0.0, 1.0, 0.05, 0.0)),
      (3L, v(0.6, 0.6, 0.0, 0.1)))
      .toDF("vec_id", "embedding")
    val model = graft.operators.KMeansPortable
      .trainModel(corpus, k = 2, iters = 2)
    // batch: survivors of the committed corpus (all of it here)
    val corpusKeep = graft.operators.Dedup
      .semanticDedupPortable(corpus, model.centroids, 0.95)
      .filter(col("keep")).select(col("id"))
    val corpusSurvivors = corpus.join(corpusKeep,
      corpus("vec_id") === corpusKeep("id")).select("vec_id", "embedding")
    assert(corpusSurvivors.count() === 3L)
    // feed (ids above corpus ids, id-ordered): 10 = near-dup of corpus
    // vec 1 (reject), 11 = novel (admit), 12 = near-dup of 11 within
    // the feed (reject), 13 = novel in the other cluster (admit)
    val feed = Seq(
      (10L, "2026-01-01 10:00:00", v(1.0, 0.055, 0.0, 0.0)),
      (11L, "2026-01-01 10:00:01", v(0.0, 0.05, 1.0, 0.3)),
      (12L, "2026-01-01 10:00:02", v(0.0, 0.05, 1.0, 0.31)),
      (13L, "2026-01-01 10:00:03", v(0.0, 1.0, 0.5, 0.0)))
      .toDF("vec_id", "ts_s", "embedding")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.semanticAdmittedStream(stream, model.centroids,
        corpusSurvivors, 0.95),
      "semadm_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val gotIds = spark.table("semadm_out")
      .select("id").as[Long].collect().toSet
    // batch twin over corpus ∪ feed: admitted = new ids that survive
    // AND whose group contains no corpus member
    val union = corpus.unionByName(feed.select("vec_id", "embedding"))
    val groups = graft.operators.Dedup
      .semanticDedupPortable(union, model.centroids, 0.95)
    val corpusGroups = groups.filter(col("id") <= 3L)
      .select(col("group_id")).distinct()
    val batchIds = groups.filter(col("id") > 3L && col("keep"))
      .join(corpusGroups, Seq("group_id"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(gotIds === batchIds)
    assert(gotIds === Set(11L, 13L))
  }

  test("two-level streaming SemDeDup admission admits exactly the batch semanticDedupTwoLevel set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-semadm2l").toString
    def v(a: Double, b: Double, c: Double, d: Double) = Seq(a, b, c, d)
    val corpus = Seq(
      (1L, v(1.0, 0.05, 0.0, 0.0)),
      (2L, v(0.0, 1.0, 0.05, 0.0)),
      (3L, v(0.6, 0.6, 0.0, 0.1)))
      .toDF("vec_id", "embedding")
    val model = graft.operators.KMeansPortable
      .trainTwoLevel(corpus, nlist = 2, iters = 2)
    val corpusKeep = graft.operators.Dedup
      .semanticDedupTwoLevel(corpus, model, 0.95)
      .filter(col("keep")).select(col("id"))
    val corpusSurvivors = corpus.join(corpusKeep,
      corpus("vec_id") === corpusKeep("id")).select("vec_id", "embedding")
    assert(corpusSurvivors.count() === 3L)
    val feed = Seq(
      (10L, "2026-01-01 10:00:00", v(1.0, 0.055, 0.0, 0.0)),
      (11L, "2026-01-01 10:00:01", v(0.0, 0.05, 1.0, 0.3)),
      (12L, "2026-01-01 10:00:02", v(0.0, 0.05, 1.0, 0.31)),
      (13L, "2026-01-01 10:00:03", v(0.0, 1.0, 0.5, 0.0)))
      .toDF("vec_id", "ts_s", "embedding")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.semanticAdmittedStreamTwoLevel(stream, model,
        corpusSurvivors, 0.95),
      "semadm2l_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val gotIds = spark.table("semadm2l_out")
      .select("id").as[Long].collect().toSet
    // the batch twin at the SAME structure: two-level dedup over
    // corpus ∪ feed, admitted = new survivors untouched by corpus
    val union = corpus.unionByName(feed.select("vec_id", "embedding"))
    val groups = graft.operators.Dedup
      .semanticDedupTwoLevel(union, model, 0.95)
    val corpusGroups = groups.filter(col("id") <= 3L)
      .select(col("group_id")).distinct()
    val batchIds = groups.filter(col("id") > 3L && col("keep"))
      .join(corpusGroups, Seq("group_id"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(gotIds === batchIds)
    assert(gotIds === Set(11L, 13L))
  }

  test("semanticAdmittedStream: per-cell state cap keeps the newest entries (bounded-state trade — a near-dup of an evicted entry re-admits)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-semcap").toString
    def line(id: Long, sec: Int, v: Seq[Double]) =
      s"""{"vec_id":$id,"ts":"2026-01-01 10:00:0$sec","embedding":[${v.mkString(",")}]}"""
    // all four land in cell 0; 21 is NOT near 20 (cos 0.8 < 0.99),
    // 22 IS near 20 (cos ~0.9999), 23 IS near 21 (cos ~1.0)
    writeBatchFiles(dir, Seq(
      Seq(line(20, 0, Seq(1.0, 0.0, 0.0, 0.0)),
        line(21, 1, Seq(0.8, 0.6, 0.0, 0.0))),
      Seq(line(22, 2, Seq(0.999, 0.001, 0.0, 0.0)),
        line(23, 3, Seq(0.801, 0.6, 0.0, 0.0)))))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("vec_id BIGINT, ts TIMESTAMP, embedding ARRAY<DOUBLE>")
    val centroids = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val noCorpus = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    def run(cap: Int, table: String): Set[Long] = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir)
      EventStreams.runToMemory(
        EventStreams.semanticAdmittedStream(stream, centroids, noCorpus,
          0.99, maxRetainedPerCell = cap),
        table, org.apache.spark.sql.streaming.OutputMode.Append())
      spark.table(table).select("id").as[Long].collect().toSet
    }
    // uncapped (default-class cap): 22 rejects against retained 20,
    // 23 against 21
    assert(run(10, "semcap_off") === Set(20L, 21L))
    // cap = 1: after batch 1 only the NEWEST entry (21) is retained,
    // so 22 (near evicted 20) re-admits — the documented trade whose
    // backstop is batch compaction — while 23 still rejects against
    // the retained 21
    assert(run(1, "semcap_on") === Set(20L, 21L, 22L))
  }

  test("streaming media admission: banded corpus check exact to hamming 3, popcount residual, exact-sig window dedup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaadm").toString
    // corpus signatures: A = all-zero, B = band-1 all-ones
    val A = 0L
    val B = 0x7FFFL << 15
    val corpus = Seq(("cA", A), ("cB", B)).toDF("media_id", "sig")
    // feed, each row one admission path:
    //  f1 = exact corpus sig            -> rejected (hamming 0)
    //  f2 = hamming 3 of A              -> rejected (pigeonhole recall)
    //  f3 = hamming 4 of A, all four
    //       flipped bits inside band 0  -> bands 1-3 still match A, but
    //       the popcount residual keeps it: ADMITTED (the band join
    //       alone would wrongly drop it)
    //  f4 = f3's sig again, later ts    -> dropped (exact-sig window dedup)
    //  f5 = hamming 2 of B (flips in
    //       bands 1 and 2)              -> rejected via bands 0/3
    //  f6 = far from both               -> admitted
    val feed = Seq(
      ("f1", "2026-01-01 10:00:00", A),
      ("f2", "2026-01-01 10:00:01", 7L),
      ("f3", "2026-01-01 10:00:02", 15L),
      ("f4", "2026-01-01 10:00:03", 15L),
      ("f5", "2026-01-01 10:00:04", B ^ (1L << 16) ^ (1L << 31)),
      ("f6", "2026-01-01 10:00:05", 0x0AAAAAAAAAAAAAAL))
      .toDF("media_id", "ts_s", "sig")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // spec-side ground truth by brute-force popcount (independent of
    // the banded implementation): admitted = first-per-sig feed rows
    // farther than hamming 3 from every corpus signature
    val corpusSigs = Seq(A, B)
    val expected = feed.select("media_id", "sig").as[(String, Long)]
      .collect().toSeq
      .groupBy(_._2).map { case (_, rs) => rs.minBy(_._1) }.toSeq
      .filter { case (_, s) =>
        corpusSigs.forall(c => java.lang.Long.bitCount(s ^ c) > 3) }
      .map(_._1).toSet
    assert(expected === Set("f3", "f6"), "fixture sanity")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.mediaAdmittedStream(stream, corpus),
      "mediaadm_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("mediaadm_out").select("id").as[String]
      .collect().toSet
    assert(got === expected)
  }

  test("streaming media admission at Sig120: wide banded corpus check exact to hamming 5, popcount-sum residual, exact-sig window dedup") {
    import spark.implicits._
    import graft.operators.MediaDedup.Sig120
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaadmw").toString
    // corpus signatures (6 x 20-bit band words): A = all-zero,
    // B = band-1 all-ones
    val A = Seq.fill(6)(0L)
    val B = Seq(0L, 0xFFFFFL, 0L, 0L, 0L, 0L)
    val corpus = Seq(("cA", A), ("cB", B)).toDF("media_id", "sig")
    // feed, each row one admission path (the 60-bit twin's fixture
    // at the wide width — pigeonhole recall is bands − 1 = 5 here):
    //  f1 = exact corpus sig             -> rejected (hamming 0)
    //  f2 = hamming 5 of A               -> rejected (pigeonhole recall)
    //  f3 = hamming 6 of A, all six
    //       flipped bits inside band 0   -> bands 1-5 still match A, but
    //       the popcount-sum residual keeps it: ADMITTED (the band join
    //       alone would wrongly drop it)
    //  f4 = f3's sig again, later ts     -> dropped (exact-sig window dedup)
    //  f5 = hamming 2 of B (flips in
    //       bands 1 and 2)               -> rejected via bands 0/3/4/5
    //  f6 = far from both                -> admitted
    val feed = Seq(
      ("f1", "2026-01-01 10:00:00", A),
      ("f2", "2026-01-01 10:00:01", Seq(31L, 0L, 0L, 0L, 0L, 0L)),
      ("f3", "2026-01-01 10:00:02", Seq(63L, 0L, 0L, 0L, 0L, 0L)),
      ("f4", "2026-01-01 10:00:03", Seq(63L, 0L, 0L, 0L, 0L, 0L)),
      ("f5", "2026-01-01 10:00:04",
        Seq(0L, 0xFFFFFL ^ 2L, 4L, 0L, 0L, 0L)),
      ("f6", "2026-01-01 10:00:05", Seq.fill(6)(0xAAAAAL)))
      .toDF("media_id", "ts_s", "sig")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // spec-side ground truth by brute-force popcount sum (independent
    // of the banded implementation): admitted = first-per-sig feed
    // rows farther than hamming 5 from every corpus signature
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val expected = feed.select("media_id", "sig")
      .as[(String, Seq[Long])].collect().toSeq
      .groupBy(_._2).map { case (_, rs) => rs.minBy(_._1) }.toSeq
      .filter { case (_, s) => Seq(A, B).forall(c => ham(s, c) > 5) }
      .map(_._1).toSet
    assert(expected === Set("f3", "f6"), "fixture sanity")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.mediaAdmittedStreamWide(stream, corpus, Sig120),
      "mediaadmw_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("mediaadmw_out").select("id").as[String]
      .collect().toSet
    assert(got === expected)
  }

  test("streaming IVF-PQ index maintenance: streamed rows ≡ batch encode under fixed artifacts; re-delivered ids insert once") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    val emb = graft.Tables(spark, "/root/testdata/sf0.001").embeddings
    val art = SimilaritySearch.trainIvfPqArtifactsTwoLevel(
      emb.filter($"vec_id" < 30), nlist = 4, m = 2, ksub = 4,
      residual = true)
    val slice = emb.filter($"vec_id" < 40)
      .withColumn("ts", to_timestamp(lit("2026-01-01 10:00:00")))
      .select("vec_id", "ts", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    // the same rows delivered TWICE in two files (at-least-once
    // re-delivery); maxFilesPerTrigger=1 makes them distinct
    // micro-batches inside the watermark window
    slice.coalesce(1).write.mode("overwrite").parquet(s"$dir/d1")
    slice.coalesce(1).write.mode("overwrite").parquet(s"$dir/d2")
    val flat = slice.sparkSession.read.parquet(s"$dir/d1", s"$dir/d2")
    flat.write.mode("overwrite").parquet(s"$dir/all")
    val stream = spark.readStream.schema(slice.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/all")
    EventStreams.runToMemory(
      EventStreams.ivfPqIndexStream(stream, art),
      "ivfidx_out", org.apache.spark.sql.streaming.OutputMode.Append())
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toSeq, r.getInt(2))).toSet
    val streamed = spark.table("ivfidx_out")
    // exactly one index row per id despite double delivery
    assert(streamed.count() === slice.count())
    // and value-identical to the batch encode — the admission
    // equivalence (admitted ≡ rebuilt) therefore carries over:
    // a stored index grown by this stream serves
    // ivfPqTopKScoreTwoLevelIndexed exactly as a batch re-encode
    assert(idxRows(streamed)
      === idxRows(SimilaritySearch.encodeIvfPqTwoLevel(slice, art)))
  }

  test("streaming packing: online first-fit — exact-full close, oversize own-bin, open bins withheld, oldest-bin eviction") {
    import spark.implicits._
    def docRows(rows: Seq[(Long, Int, Int)]) = rows.map { case (id, sec, w) =>
      (id, s"2026-01-01 10:00:${"%02d".format(sec)}", w) }
      .toDF("doc_id", "ts_s", "weight")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    def run(rows: Seq[(Long, Int, Int)], maxOpenBins: Int,
        table: String): Map[Long, (Int, Int, Int, Boolean)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-pack").toString
      val df = docRows(rows)
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream.schema(df.schema).parquet(dir)
      EventStreams.runToMemory(
        EventStreams.packedStream(stream, "doc_id", "weight",
          maxTokens = 100, numShards = 1, maxOpenBins = maxOpenBins),
        table, org.apache.spark.sql.streaming.OutputMode.Append())
      spark.table(table).collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    }
    // arrival order (ts): 60 opens bin0; 50 can't fit → bin1; 40
    // fills bin0 EXACTLY → bin0 closes (emits 1 and 3 at fill 100);
    // 30 joins bin1; 120 is oversize (own closed bin2); 10 joins
    // bin1 — bin1 (docs 2,4,6 at fill 90) stays OPEN: withheld,
    // because a doc's bin_fill is its bin's FINAL payload
    val got = run(Seq((1L, 0, 60), (2L, 1, 50), (3L, 2, 40),
      (4L, 3, 30), (5L, 4, 120), (6L, 5, 10)), 8, "pack_out")
    assert(got.keySet === Set(1L, 3L, 5L))
    assert(got(1L) === ((0, 60, 100, false)))
    assert(got(3L) === ((0, 40, 100, false)))
    assert(got(5L) === ((2, 120, 120, true)))
    // maxOpenBins = 1: 50 can't fit the open bin and no slot is
    // free → the OLDEST bin closes (emits 11 at fill 60) to make
    // room; 30 then joins the new bin (open, withheld)
    val ev = run(Seq((11L, 0, 60), (12L, 1, 50), (13L, 2, 30)),
      1, "pack_evict_out")
    assert(ev.keySet === Set(11L))
    assert(ev(11L) === ((0, 60, 60, false)))
    // exactly-full NEW bins (w == maxTokens — truncated-to-max docs)
    // close and emit AT ONCE instead of being withheld and burning
    // an open-bin slot — and bin numbering SURVIVES an
    // all-bins-closed MICRO-BATCH: the two max-weight docs arrive in
    // separate batches, so batch 1 ends with zero open bins and a
    // state reset there would re-issue bin 0 and collide the
    // (shard, bin) training-sequence key (round-12 review, both
    // findings)
    val fdir = java.nio.file.Files.createTempDirectory("graft-packfull")
      .toString
    docRows(Seq((21L, 0, 100))).coalesce(1)
      .write.mode("append").parquet(s"$fdir/all")
    Thread.sleep(1100)
    docRows(Seq((22L, 1, 100))).coalesce(1)
      .write.mode("append").parquet(s"$fdir/all")
    val fstream = spark.readStream
      .schema(docRows(Seq((21L, 0, 100))).schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$fdir/all")
    EventStreams.runToMemory(
      EventStreams.packedStream(fstream, "doc_id", "weight",
        maxTokens = 100, numShards = 1, maxOpenBins = 8),
      "pack_full_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val fl = spark.table("pack_full_out").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    assert(fl.keySet === Set(21L, 22L))
    assert(fl(21L) === ((0, 100, 100, false)))
    assert(fl(22L) === ((1, 100, 100, false)))
  }

  test("streaming packing: idle shards flush their open bins once the watermark passes (the ever-open-tail bound)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-packfl").toString
    def doc(id: Long, ts: String, w: Int) =
      Seq((id, ts, w)).toDF("doc_id", "ts_s", "weight")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // ids 1, 3 → shard 0; id 2 → shard 1 (md5-prefix % 2). The data
    // batches run back-to-back (all files already available), so the
    // one no-data batch runs at the END with watermark 13:50:
    // shard 1 (last arrival 12:00, deadline 12:01) flushes its open
    // bin; shard 0's OLD bin is withheld — its deadline tracks the
    // shard's NEWEST arrival (14:00 → 14:01 > 13:50), the documented
    // per-shard flush semantics. Batch 3's max-weight shard-0 doc
    // must land in bin 1 — numbering never resets while bin 0 is
    // pending (round-12 review).
    val b1 = doc(1L, "2026-01-01 10:00:00", 30)
    val b2 = doc(2L, "2026-01-01 12:00:00", 30)
    val b3 = doc(3L, "2026-01-01 14:00:00", 100)
    // sequential appends → files in arrival order (the file source
    // processes oldest-modified first)
    b1.coalesce(1).write.mode("append").parquet(s"$dir/all")
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(s"$dir/all")
    Thread.sleep(1100)
    b3.coalesce(1).write.mode("append").parquet(s"$dir/all")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/all")
    EventStreams.runToMemory(
      EventStreams.packedStream(stream, "doc_id", "weight",
        maxTokens = 100, numShards = 2, flushAfterMs = 60000L),
      "packfl_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("packfl_out").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))).toMap
    // shard 1's idle bin flushed; shard 0's old bin withheld (its
    // shard saw newer data); the full doc emits as bin 1, never a
    // colliding bin 0
    assert(got.keySet === Set(2L, 3L), s"got $got")
    assert(got(2L) === ((1, 0, 30, 30)))
    assert(got(3L) === ((0, 1, 100, 100)))
  }

  test("streaming text admission: exact + same-bucket jaccard corpus checks, in-stream near/exact state — equals the batch admitIncremental set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-textadm").toString
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // each row one admission path (threshold 0.6):
    //  f10 = exact corpus text (case/space variant) -> rejected (fingerprint)
    //  f11 = jaccard 4/6 = 0.67 vs corpus, same "alpha|beta" bucket
    //        -> rejected (near-corpus)
    //  f12 = jaccard 2/9 vs corpus                  -> admitted
    //  f13 = novel bucket                           -> admitted
    //  f14 = jaccard 4/6 = 0.67 vs retained f13     -> rejected (in-stream near)
    //  f15 = f13's text again, later ts             -> rejected (in-stream exact)
    val feed = Seq(
      (10L, 0, "Alpha  beta GAMMA delta epsilon"),
      (11L, 1, "alpha beta gamma delta zeta"),
      (12L, 2, "alpha beta one two three four"),
      (13L, 3, "totally different words over here"),
      (14L, 4, "totally different words over there"),
      (15L, 5, "totally different words over here"))
      .map { case (id, sec, t) => (id, s"2026-01-01 10:00:0$sec", t) }
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.textAdmittedStream(stream, corpus, threshold = 0.6),
      "textadm_out", org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("textadm_out").select("id").as[Long]
      .collect().toSet
    assert(got === Set(12L, 13L))
    // batch parity on this id-ordered, chain-free feed: the stream's
    // greedy first-arrival set IS the batch min-id election
    val batchAdmitted = graft.operators.DedupPipeline.admitIncremental(
        feed.select("doc_id", "text"), corpus, "doc_id", "text",
        threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(got === batchAdmitted)
  }

  test("streaming text admission culls oversized corpus buckets like the batch okBuckets (ADVICE r12): hot bucket admits, small bucket still rejects") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-textadmcull").toString
    // four corpus docs share the "hot|topic" bucket (> the cull bound
    // 3); one sits in a small bucket
    val corpus = Seq(
      (1L, "hot topic words aaa bbb"),
      (2L, "hot topic words ccc ddd"),
      (3L, "hot topic words eee fff"),
      (4L, "hot topic words ggg hhh"),
      (5L, "cool subject unique tokens here")).toDF("doc_id", "text")
    // 20 = jaccard 4/6 vs corpus 1 but its bucket is culled → ADMIT
    //      (pre-fix: rejected, unbounded hot-bucket fan-out)
    // 21 = jaccard 4/6 vs corpus 5 in an in-regime bucket → reject
    val feed = Seq(
      (20L, 0, "hot topic words aaa xxx"),
      (21L, 1, "cool subject unique tokens there"))
      .map { case (id, sec, t) => (id, s"2026-01-01 10:00:0$sec", t) }
      .toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    feed.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(feed.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.textAdmittedStream(stream, corpus, threshold = 0.6,
        maxCorpusBucketSize = 3),
      "textadmcull_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("textadmcull_out").select("id").as[Long]
      .collect().toSet
    assert(got === Set(20L))
    // the batch twin agrees — its UNION-sized cull (4 corpus + 1
    // fresh > 4) drops the same bucket; the documented residual
    // asymmetry is only a bucket the fresh arrivals tip over
    val batch = graft.operators.DedupPipeline.admitIncremental(
        feed.select("doc_id", "text"), corpus, "doc_id", "text",
        threshold = 0.6, maxBucketSize = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got === batch)
  }

  test("streaming containment admission: corpus clip rejected, novel and superset admitted (arrival-side ratio), replay suppressed") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-containadm").toString
    def s6(w0: Long, rest: Long*): Seq[Long] = w0 +: rest.toSeq
    val s0 = s6(1, 2, 3, 4, 5, 6); val s1 = s6(11, 12, 13, 14, 15, 16)
    val s2 = s6(21, 22, 23, 24, 25, 26); val s3 = s6(31, 32, 33, 34, 35, 36)
    val corpus = Seq(("cv", 0, s0), ("cv", 1, s1), ("cv", 2, s2),
      ("cv", 3, s3)).toDF("media_id", "frameIdx", "sig")
    // clip: 2 frames, both within hamming 2 of cv frames (word 0
    // flipped; bands 1-5 collide exactly) -> ratio 2/2 -> REJECT
    // novel: no band ever collides -> ratio 0 -> ADMIT
    // super: contains cv frames s0 AND s1 exactly plus 3 new frames
    //        -> arrival-side ratio 2/5 < 0.5 -> ADMIT; the corpus
    //        direction reads 2/4 >= 0.5 -> the round-14
    //        contains_corpus flag fires (admission unchanged)
    val clipSigs = Seq(s6(7, 2, 3, 4, 5, 6), s6(22, 22, 23, 24, 25, 26))
    val novelSigs = Seq(s6(101, 102, 103, 104, 105, 106),
      s6(111, 112, 113, 114, 115, 116))
    val superSigs = Seq(s0, s1,
      s6(211, 212, 213, 214, 215, 216),
      s6(221, 222, 223, 224, 225, 226),
      s6(231, 232, 233, 234, 235, 236))
    def feed(rows: Seq[(String, String, Seq[Seq[Long]])]) = rows
      .toDF("media_id", "ts_s", "sigs")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val b1 = feed(Seq(
      ("clip", "2026-01-01 10:00:00", clipSigs),
      ("novel", "2026-01-01 10:00:01", novelSigs),
      ("superv", "2026-01-01 10:00:02", superSigs),
      // zero frames (a corrupt blob's decode) must still reach the
      // verdict and ADMIT, matching the batch twin (round-13 review:
      // an inner explode silently dropped it)
      ("empty", "2026-01-01 10:00:02", Seq.empty[Seq[Long]])))
    val b2 = feed(Seq(("novel", "2026-01-01 10:00:05", novelSigs)))
    b1.coalesce(1).write.mode("append").parquet(s"$dir/all")
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(s"$dir/all")
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/all")
    EventStreams.runToMemory(
      EventStreams.containmentAdmittedStream(stream, corpus),
      "containadm_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("containadm_out")
      .select("id", "contains_corpus")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
      .sortBy(_._1).toSeq
    // one 'novel' row only — the replay in trigger 2 is suppressed by
    // the per-media state; superv is ADMITTED (arrival-side 2/5) but
    // flagged contains_corpus (corpus-side 2/4 — the round-14 signal
    // the nightly backstop prioritizes); empty/novel carry false
    assert(got === Seq(("empty", false), ("novel", false),
      ("superv", true)))
    // the caveat's batch half: the batch operator DOES pair superv
    // with cv (cv's own side reads 1/4 < 0.5... so pin the clip pair,
    // which both engines agree on, and superv↔cv at a lower bar)
    val allFrames = corpus.unionByName(Seq(
      ("clip", 0, clipSigs(0)), ("clip", 1, clipSigs(1))).toDF(
      "media_id", "frameIdx", "sig"))
    val batchPairs = graft.operators.MediaDedup.videoContainmentPairsWide(
        allFrames)
      .select("a_id", "b_id").collect().map(r =>
        (r.getString(0), r.getString(1))).toSet
    assert(batchPairs === Set(("clip", "cv")))
    // round 15 — the nightly-backstop CONSUMER of the flag: the batch
    // worklist re-derives each admitted arrival's corpus-direction
    // ratio through the same culled corpus relation, orders flagged
    // arrivals first, and the flag must MATCH the batch verdict
    // (ratio >= the stream's minContainment) for every arrival
    val admitted = spark.table("containadm_out")
      .select(col("id"), col("ts"), col("contains_corpus"))
    val arrivalSigs = (clipSigs.zipWithIndex.map { case (s, i) =>
        ("clip", i, s) } ++
      novelSigs.zipWithIndex.map { case (s, i) => ("novel", i, s) } ++
      superSigs.zipWithIndex.map { case (s, i) => ("superv", i, s) })
      .toDF("media_id", "frameIdx", "sig")
    val queue = EventStreams.containmentBackstopOrder(admitted,
        arrivalSigs, corpus).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(3),
        r.getDouble(4), Option(r.getString(5))))
    // one row per admitted arrival (clip was rejected — the semi join
    // must not resurrect it), superv heads the queue with its batch
    // corpus-direction ratio 2/4 over cv
    assert(queue.map(_._2).toSeq.sorted === Seq("empty", "novel", "superv"))
    assert(queue.head === ((1, "superv", true, 0.5, Some("cv"))))
    // flag ⇔ batch ratio >= minContainment, for EVERY arrival (the
    // parity the flag's consumer relies on)
    queue.foreach { case (_, id, flag, ratio, _) =>
      assert(flag === (ratio >= 0.5), s"$id flag/ratio mismatch: $ratio")
    }
    // the unflagged arrivals matched nothing: ratio 0, no top video
    assert(queue.filterNot(_._3).forall(q => q._4 == 0.0 && q._5.isEmpty))
  }

  test("containment backstop order: consecutive ranks, flagged-first then ratio-desc then id, over several partitions") {
    import spark.implicits._
    def s6(w0: Long): Seq[Long] = (0L until 6L).map(w0 + _)
    // cv has 4 frames, cw 2: an arrival holding k of a video's frames
    // reads k / (that video's frame count) in the corpus direction
    val cv = Seq(s6(10), s6(20), s6(30), s6(40))
    val cw = Seq(s6(50), s6(60))
    val corpus = (cv.zipWithIndex.map { case (s, i) => ("cv", i, s) } ++
      cw.zipWithIndex.map { case (s, i) => ("cw", i, s) })
      .toDF("media_id", "frameIdx", "sig")
    def novel(k: Int): Seq[Long] = s6(1000L + 10L * k)
    // (id, flag, frames, expected ratio)
    val arrivals = Seq(
      ("a", false, Seq(cv(0)), 0.25), ("b", true, Seq(novel(1)), 0.0),
      ("c", true, cv.take(3), 0.75), ("d", false, cv.take(2), 0.5),
      ("e", false, Seq(novel(2)), 0.0), ("f", false, Seq(cw(0)), 0.5),
      ("g", true, cv.take(2), 0.5), ("h", false, Nil, 0.0),
      ("i", false, Seq(novel(3)), 0.0), ("j", false, Seq(novel(4)), 0.0),
      ("k", false, Seq(cw(1), novel(5)), 0.5), ("l", false, Seq(novel(6)), 0.0))
    val admitted = arrivals.map { case (id, flag, _, _) =>
        (id, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), flag) }
      .toDF("id", "ts", "contains_corpus").repartition(3)
    assert(admitted.rdd.getNumPartitions >= 2)
    val sigs = arrivals.flatMap { case (id, _, frames, _) =>
      frames.zipWithIndex.map { case (s, i) => (id, i, s) } }
      .toDF("media_id", "frameIdx", "sig")
    // without coalescing the sort spreads the 12 rows over several
    // range partitions, so the ranks must continue across them
    val queue = withSQLConf(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      EventStreams.containmentBackstopOrder(admitted, sigs, corpus).collect()
    }.map(r => (r.getInt(0), r.getString(1), r.getBoolean(3), r.getDouble(4)))
    assert(queue.map(_._1).toSeq === (1 to arrivals.size))
    val want = arrivals
      .map { case (id, flag, _, ratio) => (id, flag, ratio) }
      .sortBy { case (id, flag, ratio) => (!flag, -ratio, id) }
    assert(queue.map(q => (q._2, q._3, q._4)).toSeq === want)
  }

  test("streaming relational-index maintenance: stream-static child-store join assigns arrivals ≡ the batch fused assignment; replay suppressed (round 15 — the third-tier cell)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-relidx").toString
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rel = graft.operators.SimilaritySearch
      .trainThreeLevel(emb, nlist = 6, iters = 2)
    // arrivals: 12 held-out-shaped vectors (re-use corpus vectors
    // under fresh ids — assignment is a pure function of (vec, store))
    val arrivals = emb.filter(col("vec_id") < 12)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      .withColumn("ts", to_timestamp(lit("2026-01-01 10:00:00")))
    arrivals.coalesce(1).write.mode("append").parquet(s"$dir/v")
    // second batch replays one id (at-least-once) — must not emit twice
    arrivals.filter(col("vec_id") === 1000L)
      .coalesce(1).write.mode("append").parquet(s"$dir/v")
    val stream = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/v")
    EventStreams.runToMemory(
      EventStreams.relationalIndexStream(stream, rel),
      "relidx_out",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val got = spark.table("relidx_out")
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === 12, s"replay must be suppressed; got ${got.size}")
    // parity: the batch fused assignment of the SAME arrivals over
    // the SAME store — identical (vec, store) ⇒ identical cells
    val batch = graft.operators.SimilaritySearch
      .assignCellsViaRelationFusedKeepVec(arrivals, rel.supers,
        rel.childRel)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === batch)
    // the emitted row is the bucketed store's shape — serving the
    // union through the relational probe works unchanged
    val stored = spark.table("relidx_out")
      .select(col("id"), col("cell"), col("vec"))
    val union = graft.CacheScope.track(
      graft.operators.SimilaritySearch
        .assignCellsViaRelationFusedKeepVec(emb, rel.supers, rel.childRel)
        .unionByName(stored))
    val served = graft.operators.SimilaritySearch
      .ivfCosineTopKRelationalIndexed(union, col("id") >= 1000L, 3,
        rel, nprobe = 6, probeSupers = rel.supers.length)
    assert(served.count() > 0)
  }
}

