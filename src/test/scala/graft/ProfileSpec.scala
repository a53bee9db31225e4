package graft

import graft.tools.Profile

class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val q02 = "q02_revenue_by_nation"

  test("sched: union, gap and overlap of disjoint, touching, nested and overlapping jobs") {
    val t = 1760000000000L // epoch ms, as listener events stamp jobs
    def check(wall: Double, jobs: Seq[(Long, Long)], want: (Double, Double, Double)): Unit = {
      val got @ (jobS, gapS, overlapS) =
        Profile.sched(wall, jobs.map { case (s, e) => (t + s, t + e) })
      assert(jobS <= wall && gapS >= 0 && overlapS >= 0, got)
      assert(got === want)
    }
    check(4.0, Seq((0L, 1000L), (2000L, 3000L)), (2.0, 2.0, 0.0)) // disjoint
    check(2.5, Seq((1000L, 2000L), (0L, 1000L)), (2.0, 0.5, 0.0)) // touching
    check(5.0, Seq((0L, 4000L), (1000L, 2000L)), (4.0, 1.0, 1.0)) // nested
    check(3.0, Seq((0L, 2000L), (1000L, 3000L)), (3.0, 0.0, 1.0)) // overlapping
    check(1.0, Nil, (0.0, 1.0, 0.0)) // no job
  }

  test("q02 profile carries every field, at least one job and its rows") {
    val r = Profile.measure(spark, q02, sf)
    assert(r.error.isEmpty, r.error)
    assert(r.rows > 0)
    val m = r.metrics.toMap
    assert(r.metrics.map(_._1) === Seq("plan.analysis_s", "plan.optimizer_s",
      "plan.physical_s", "codegen.units", "codegen.compile_s", "sched.jobs",
      "sched.tasks", "sched.job_s", "sched.gap_s", "sched.overlap_s",
      "shuffle.write_mb", "shuffle.read_mb", "spill.mb"))
    assert(m("sched.jobs") >= 1 && m("sched.jobs") === r.jobs.size)
    assert(m("sched.tasks") >= m("sched.jobs"))
    assert(m.values.forall(_ >= 0), m)
    val line = Profile.line(r, 1)
    (Seq("query", "rep", "rows", "wall_s") ++ m.keys).foreach { k =>
      assert(line.contains("\"" + k + "\":"), s"$k missing from $line")
    }
    assert(!line.contains("\"error\""))
  }

  test("repeated q02 measurements count the same jobs: no listener outlives its measurement") {
    Profile.measure(spark, q02, sf) // warm-up
    val jobs = Seq.fill(2)(Profile.measure(spark, q02, sf).metrics.toMap.apply("sched.jobs"))
    assert(jobs.head === jobs.last)
  }

  test("job descriptions: q78's Lloyd iterations tag their jobs, q02 sets none, and the caller's description survives") {
    val ctx = spark.sparkContext
    ctx.setJobDescription("caller")
    val (q78, after) =
      try (Profile.measure(spark, "q78_kmeans_train_oracle", sf),
        ctx.getLocalProperty("spark.job.description"))
      finally ctx.setJobDescription(null)
    assert(q78.error.isEmpty, q78.error)
    assert(after === "caller")
    val lloyd = q78.jobs.filter(_.desc.startsWith("lloyd:"))
    // q78 trains 3 iterations; each is exactly one treeAggregate job
    assert(lloyd.map(_.desc).sorted === (0 until 3).map(i =>
      s"lloyd:trainModel:iter=$i"))
    assert(q78.jobs.exists(j => !j.desc.startsWith("lloyd:")),
      "seeding and the output action are not iterations")
    val plain = Profile.measure(spark, q02, sf)
    assert(plain.jobs.nonEmpty && plain.jobs.forall(_.desc.isEmpty),
      plain.jobs.map(_.desc))
  }

  test("job descriptions: q102's recall walk tags its rung jobs, q02 none") {
    val q102 = Profile.measure(spark, "q102_ann_recall_walk_oracle", sf)
    assert(q102.error.isEmpty, q102.error)
    val rungs = q102.jobs.map(_.desc).filter(_.startsWith("walk:"))
    assert(rungs.contains("walk:topKTwoLevelWalk:rung=0"), q102.jobs.map(_.desc))
    assert(rungs.forall(_.matches("walk:topKTwoLevelWalk:rung=\\d+")), rungs)
    val plain = Profile.measure(spark, q02, sf)
    assert(!plain.jobs.exists(_.desc.startsWith("walk:")), plain.jobs.map(_.desc))
  }
}
