package graft.examples

import graft.operators._
import graft.sources.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end training-data curation through the public operator API
  * — the LLM-pipeline lifecycle in one main, each stage feeding the
  * next (the composed twins of gate queries q44-q51):
  *
  *   documents
  *     → PII redaction (emails/IPs/phones → placeholders)
  *                                                    [TextFunctions]
  *     → C4 boilerplate removal (freq ≥ 3 segments dropped)   [Dedup]
  *     → segment-level dedup (corpus-wide keep-first scrub)    [Dedup]
  *     → near-dup dedup (exact → candidates → verify → components →
  *       survivors)                                  [DedupPipeline]
  *     → benchmark decontamination: exact 3-gram AND fuzzy
  *       MinHash scrub                             [Decontamination]
  *     → LM fluency scoring + head/middle bucket keep       [NgramLm]
  *     → per-language quality filter (keep top 3/4)      [Sampling]
  *     → mixture rebalance to a 2:1:1 source target      [Sampling]
  *     → sequence packing into 512-token bins             [Packing]
  *     → leakage-free train/val/test split                [Sampling]
  *     → epoch-0 training-order shuffle + sharding         [Sampling]
  *     → deterministic training shards (train split)        [Sinks]
  *
  * Run: sbt "runMain graft.examples.CurationPipelineDemo [sfDir]"
  */
object CurationPipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-curation-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val raw = graft.Tables(spark, dir).documents
    println(s"== corpus: ${raw.count()} docs")

    // 0a. PII scrub: typed placeholders, document text rewritten once
    val scrubbed = raw.withColumn("text",
      graft.functions.TextFunctions.piiRedact(col("text")))

    // 0b. C4 boilerplate removal: any 4-token segment occurring ≥ 3
    // times corpus-wide is chrome, removed from EVERY doc
    val boiled = Dedup.removeFrequentSegments(scrubbed, "doc_id",
      graft.functions.TextFunctions.tokenChunks(col("text"), 4), minDf = 3)
    val cleaned = scrubbed.drop("text").join(
      boiled.select(col("doc_id"), col("text_cleaned").as("text")), "doc_id")
    println(s"== boilerplate removal dropped " +
      boiled.agg(sum(col("n_segments") - col("n_kept"))).head().getLong(0) +
      " segments")

    // 0c. segment-level dedup: keep-first survivor per remaining
    // segment; documents continue downstream with their deduped text
    val segged = Dedup.dedupSegments(cleaned, "doc_id",
      graft.functions.TextFunctions.tokenChunks(col("text"), 4))
    val docs = cleaned.drop("text")
      .join(segged.select(col("doc_id"), col("text_deduped").as("text")),
        "doc_id")
    val segDropped = segged.agg(
      sum(col("n_segments") - col("n_kept"))).head().getLong(0)
    println(s"== segment dedup dropped $segDropped repeated segments")

    // 1. near-dup dedup: keep group survivors
    val groups = DedupPipeline.nearDupGroups(docs, "doc_id", "text", 0.8)
    val deduped = docs.join(
      groups.filter(col("survivor")).select(col("doc_id").as("__keep")),
      col("doc_id") === col("__keep"), "left_semi")
    println(s"== after dedup: ${deduped.count()}")

    // 2. decontamination: drop docs colliding with the "benchmark"
    // (stand-in: every 97th doc is eval data)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val train0 = deduped.filter(col("doc_id") % 97 =!= 0)
    val flagged = Decontamination.flagContaminated(
      train0, bench, "doc_id", "text", n = 3)
    val fuzzyFlagged = Decontamination.fuzzyContaminated(
      train0, bench, "doc_id", "text", threshold = 0.5)
    val clean = train0
      .join(flagged.select(col("doc_id").as("__bad")),
        col("doc_id") === col("__bad"), "left_anti")
      .join(fuzzyFlagged.select(col("doc_id").as("__fuzzy")),
        col("doc_id") === col("__fuzzy"), "left_anti")
    // cached: the LM stage consumes `clean` four times (model slice,
    // bigram stream, score join-back, the keep semi-join) and every
    // downstream stage re-derives it — uncached, the whole dedup/
    // decon lineage (including the components closure) re-executes
    // per consumer
    graft.CacheScope.track(clean)
    println(s"== after exact+fuzzy decontamination: ${clean.count()}")

    // 2b. LM fluency gate: train the bigram model on a trusted slice,
    // bucket per-language by surprisal terciles, keep head+middle
    // (the CCNet keep rule); unscorable docs pass through
    val lm = NgramLm.train(clean.filter(col("doc_id") % 7 === 0), "text")
    val lmScores = NgramLm.score(clean, "doc_id", "text", lm)
    // PER-LANGUAGE 2/3 boundaries (the CCNet discipline — one global
    // bound over-culls languages with systematically higher
    // surprisal): a few GK-sketch rows, broadcast back
    val bounds = lmScores.filter(col("avg_bits").isNotNull)
      .join(clean.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(expr("approx_percentile(avg_bits, 0.67, 10000)").as("b"))
    // drop only docs PROVEN above their language's bound; unscorable
    // docs (<2 tokens → null/absent avg_bits) pass through — the q64
    // "na keeps" rule (a semi-join on the scored keep set silently
    // dropped them)
    val cut = lmScores.filter(col("avg_bits").isNotNull)
      .join(clean.select(col("doc_id"), col("lang")), "doc_id")
      .join(broadcast(bounds), Seq("lang"))
      .filter(col("avg_bits") > col("b"))
      .select(col("doc_id").as("__cut"))
    val fluent = clean.join(cut, col("doc_id") === col("__cut"), "left_anti")
    graft.CacheScope.track(fluent)
    println(s"== after LM fluency gate: ${fluent.count()}")

    // 3. per-language quality filter: keep the top 3/4
    val scored = fluent.withColumn("quality",
      graft.functions.TextFunctions.qualityScore(col("text")))
    val quality = Sampling.qualityFilter(
      scored, "lang", col("quality"), 3, 4, "doc_id")
    println(s"== after quality filter: ${quality.count()}")

    // 4. rebalance three sources to a 2:1:1 mixture
    // localCheckpoint: five downstream consumers (packing, split,
    // epoch order, shard join, the show) would otherwise each carry
    // the full 9-stage lineage in every task binary (~2 MB plans;
    // the accumulation OOM'd an 8 GB driver before this cut)
    val mixed = Sampling.mixtureRebalance(quality, "source",
      Map("src0" -> 2, "src1" -> 1, "src2" -> 1), "doc_id")
      .localCheckpoint()
    println(s"== after mixture rebalance: ${mixed.count()}")
    mixed.groupBy("source").count().orderBy(col("source")).show()

    // 5. pack into 512-token training sequences
    val packed = Packing.packSequences(mixed, "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")),
      maxTokens = 512, numShards = 4)
    val bins = packed.select(col("shard"), col("bin")).distinct().count()
    println(s"== packed into $bins bins")

    // 6. leakage-free splits: keyed on the content fingerprint so any
    // surviving duplicate can never straddle train and eval
    val split = mixed.withColumn("split", Sampling.assignSplit(
      graft.functions.TextFunctions.fingerprint(col("text")),
      Seq("train" -> 8, "val" -> 1, "test" -> 1)))
    split.groupBy("split").count().orderBy(col("split")).show()

    // 6b. epoch-0 training order: seeded global shuffle + shards the
    // data loader streams (new epoch = new seed)
    val epoch = Sampling.shuffleShards(
      split.filter(col("split") === "train"), "doc_id",
      numShards = 4, seed = "epoch0")
    println(s"== epoch-0 order over ${epoch.count()} docs in 4 shards")

    // 7. deterministic shards on disk
    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Sinks.writeTrainingShards(
      split.filter(col("split") === "train").drop("split")
        .join(packed.toDF().select(col("doc_id"), col("bin")), "doc_id"),
      "doc_id", numShards = 4, out)
    println(s"== shards written: $out")
    spark.read.parquet(out).groupBy("shard").count()
      .orderBy(col("shard")).show()
    graft.CacheScope.releaseAll()
    spark.stop()
  }
}
