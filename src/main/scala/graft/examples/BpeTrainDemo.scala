package graft.examples

import graft.functions.Bpe
import org.apache.spark.sql.SparkSession

/** Train a BPE merge table on the documents corpus and write it as a
  * merges file: distributed word count → driver-side Sennrich loop.
  *
  * Run: sbt "runMain graft.examples.BpeTrainDemo [sfDir] [numMerges] [out]"
  *
  * The committed fixture vocab
  * (src/main/resources/graft/bpe/merges.txt) was produced by this main
  * at sf0.001 with 300 merges — regenerate with the same arguments to
  * reproduce it byte-for-byte (training is deterministic: frequency
  * ties break lexicographically).
  */
object BpeTrainDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val numMerges = if (args.length > 1) args(1).toInt else 300
    val out = if (args.length > 2) args(2) else "/tmp/bpe_merges.txt"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables(spark, sfDir).documents
    val merges = Bpe.trainOnCorpus(docs, "text", numMerges)
    val body = "# BPE merges (Sennrich) — trained by graft.examples.BpeTrainDemo\n" +
      merges.map { case (a, b) => s"$a $b" }.mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      body.getBytes("UTF-8"))
    println(s"[bpe-train] wrote ${merges.length} merges to $out")
    spark.stop()
  }
}
