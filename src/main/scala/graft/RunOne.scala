package graft

/** Ad-hoc single-query runner for iterating on one plan:
  * `sbt "runMain graft.RunOne <queryName> <sfDir> [explain|time]"`.
  * Prints the row count (and optionally the formatted plan or
  * SPARK_GRAFT_RUNS repeated timings, default 3) for just that query —
  * Verify/Bench run the full catalog. Bench's quiet section runs it as
  * a fresh-JVM child and reads the `in <secs>s` timings.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "count"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SessionTuning.session(cpus, sfDir)
    val fn = SparkEntry.queries(name)
    mode match {
      case "explain" =>
        fn(spark, sfDir).explain("formatted")
      case "time" =>
        val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
        (1 to runs).foreach { i =>
          val t0 = System.nanoTime()
          val n = Measure.force(fn(spark, sfDir))
          // record before releaseAll (the Bench methodology): cache
          // eviction is bookkeeping, not query cost
          val secs = (System.nanoTime() - t0) / 1e9
          CacheScope.releaseAll(blocking = true)
          println(f"[runone] run $i: $n rows in $secs%.2fs (ended ${System.currentTimeMillis() / 1000})")
        }
      case "show" =>
        // small gates only: prints the full result (row-capped)
        fn(spark, sfDir).show(200, truncate = false)
        CacheScope.releaseAll()
      case _ =>
        println(s"[runone] ${Measure.force(fn(spark, sfDir))} rows")
        CacheScope.releaseAll()
    }
    spark.stop()
  }
}
