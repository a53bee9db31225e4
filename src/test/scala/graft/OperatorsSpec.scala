package graft

import graft.operators._
import graft.domain.FuzzyMatch
import org.apache.spark.sql.functions._

class ResumeSpec extends SparkSpec {
  import spark.implicits._

  test("pending = worklist anti-join completed") {
    val work = Seq("a", "b", "c", "d").toDF("key")
    val done = Seq("b", "d", "d").toDF("key")
    val got = Resume.pending(work, done, Seq("key")).as[String].collect().sorted
    assert(got.toSeq === Seq("a", "c"))
  }

  test("completedKeys: failed-then-completed counts; dups collapse") {
    val j = Seq(("a", "failed"), ("a", "completed"), ("b", "completed"),
      ("b", "completed"), ("c", "failed")).toDF("key", "status")
    val got = Resume.completedKeys(j, "key", "status").as[String].collect().sorted
    assert(got.toSeq === Seq("a", "b"))
  }

  test("priorityMerge: first source wins on collision") {
    val legacy = Seq(("p1", 1.0), ("p2", 2.0)).toDF("path", "i")
    val fresh = Seq(("p2", 20.0), ("p3", 30.0)).toDF("path", "i")
    val got = Resume.priorityMerge(Seq(legacy, fresh), Seq("path"))
      .orderBy("path").as[(String, Double)].collect()
    assert(got.toSeq === Seq(("p1", 1.0), ("p2", 2.0), ("p3", 30.0)))
  }

  test("orphans + assertEmpty refuse-to-build audit") {
    val claimed = Seq("x", "y").toDF("k")
    val honoured = Seq("x").toDF("k")
    val orphans = Resume.orphans(claimed, honoured, Seq("k"))
    assert(orphans.count() === 1)
    intercept[IllegalArgumentException] {
      Resume.assertEmpty(orphans, "collision resolutions")
    }
    Resume.assertEmpty(Resume.orphans(claimed, claimed, Seq("k")), "ok")
  }
}

class GroupingSpec extends SparkSpec {
  import spark.implicits._

  test("A1 majorityVote with pinned tie-break") {
    val df = Seq(("al1", "2010"), ("al1", "2010"), ("al1", "2011"),
      ("al2", "b"), ("al2", "a"), ("al2", ""), ("al2", null))
      .toDF("album", "v")
    val got = Grouping.majorityVote(df, Seq("album"), "v")
      .orderBy("album").select("album", "majority", "votes")
      .as[(String, String, Long)].collect()
    assert(got(0) === (("al1", "2010", 2L)))
    assert(got(1) === (("al2", "a", 1L)))  // tie 1-1 → smaller value
  }

  test("A2 imputeByMajority fills blanks only") {
    val df = Seq(("c80", "2011.05"), ("c80", "2011.05"), ("c80", ""),
      ("c81", null.asInstanceOf[String])).toDF("conv", "date")
    val got = Grouping.imputeByMajority(df, Seq("conv"), "date")
      .orderBy("conv", "date").select("conv", "date")
      .as[(String, String)].collect()
    assert(got.count(r => r._1 == "c80" && r._2 == "2011.05") === 3)
    assert(got.exists(r => r._1 == "c81" && r._2 == null))
  }

  test("A3 gapFillNumbers assigns lowest unused in order") {
    // album with tracks numbered 2,4 and three unnumbered (by name
    // order b1,b2,b3) → expect 1,3,5
    val df = Seq(("al", 2, "a"), ("al", 4, "z"), ("al", -1, "b1"),
      ("al", 0, "b2"), ("al", -1, "b3"),
      ("other", 1, "q"), ("other", -1, "r")).toDF("album", "no", "name")
    val got = Grouping.gapFillNumbers(df, Seq("album"), "no", "name")
      .orderBy("album", "name").select("album", "name", "no")
      .as[(String, String, Int)].collect()
    val byName = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(byName(("al", "b1")) === 1)
    assert(byName(("al", "b2")) === 3)
    assert(byName(("al", "b3")) === 5)
    assert(byName(("al", "a")) === 2)
    assert(byName(("al", "z")) === 4)
    assert(byName(("other", "r")) === 2)
  }

  test("A3 gapFill pool does not scale with a corrupt huge number") {
    // one absurd track number must not materialize a billion-element
    // candidate sequence — the pool is bounded by the group SIZE
    val df = Seq(("al", 1500000000, "x"), ("al", 2, "a"),
      ("al", -1, "b1"), ("al", -1, "b2")).toDF("album", "no", "name")
    val got = Grouping.gapFillNumbers(df, Seq("album"), "no", "name")
      .orderBy("name").select("name", "no").as[(String, Int)].collect().toMap
    assert(got("b1") === 1)
    assert(got("b2") === 3)
    assert(got("a") === 2)
    assert(got("x") === 1500000000)
  }

  test("A3 gapFill: a long number beyond Int range raises, never wraps") {
    // 4294967297L wraps to 1 under an int cast — before the guard it
    // both corrupted the kept value AND poisoned the free pool
    // (marking 1 as used, shifting every fill); now it fails loudly
    val df = Seq(("al", 4294967297L, "x"), ("al", 2L, "a"),
      ("al", -1L, "b1")).toDF("album", "no", "name")
    val e = intercept[Exception] {
      Grouping.gapFillNumbers(df, Seq("album"), "no", "name").collect()
    }
    assert(e.getMessage.contains("exceeds Int range"), e.getMessage)
  }

  test("A3 gapFill: null group key raises instead of erasing the number") {
    val df = Seq((Some("al"), -1, "a"), (None, -1, "b"))
      .toDF("album", "no", "name")
    val e = intercept[Exception] {
      Grouping.gapFillNumbers(df, Seq("album"), "no", "name").collect()
    }
    assert(e.getMessage.contains("null group key"), e.getMessage)
  }

  test("A3 gapFill equals the sequential per-group loop on random groups") {
    // the reference's loop: walk each group in order; a number < 1 or
    // null takes the lowest positive integer not yet used, which then
    // counts as used; valid numbers are used from the start
    def sequential(rows: Seq[(Int, String, Option[Long], Long, Int)]) =
      rows.groupBy(r => (r._1, r._2)).values.flatMap { g =>
        val used = scala.collection.mutable.Set[Long]() ++
          g.flatMap(_._3).filter(_ >= 1)
        g.sortBy(_._4).map { case r @ (_, _, no, _, _) =>
          no.filter(_ >= 1).getOrElse {
            var n = 1L
            while (used(n)) n += 1
            used += n
            n
          } -> r
        }
      }
    val rnd = new scala.util.Random(27)
    var id = 0
    val rows = (0 until 60).flatMap { gi =>
      val kind = gi % 4 // 0 all missing, 1 all valid, 2-3 mixed
      (0 until 1 + rnd.nextInt(12)).map { _ =>
        val missing = kind == 0 || (kind != 1 && rnd.nextInt(3) == 0)
        val no =
          if (missing) Seq(Some(0L), Some(-1L), None)(rnd.nextInt(3))
          else if (rnd.nextInt(20) == 0) Some(1500000000L)
          else Some(1L + rnd.nextInt(8)) // small range: duplicates
        id += 1
        // ord drawn from a small range: ties within a group
        (gi % 5, s"d${gi / 5}", no, rnd.nextInt(6).toLong, id)
      }
    }
    val df = rows.toDF("g1", "g2", "no", "ord", "id").repartition(3)
    assert(df.rdd.getNumPartitions >= 2)
    val out = Grouping.gapFillNumbers(df, Seq("g1", "g2"), "no", "ord")
    assert(out.schema.map(f => f.name -> f.dataType) === df.schema.map(f =>
      f.name -> (if (f.name == "no") org.apache.spark.sql.types.IntegerType
      else f.dataType)))
    val got = out.select("g1", "g2", "ord", "id", "no")
      .as[(Int, String, Long, Int, Int)].collect()
    assert(got.length === rows.length)
    // tied missing rows may take their numbers in either order: compare
    // the numbers of each (group, ord) as a multiset, and valid rows
    // one by one
    def byTie(xs: Iterable[(Int, String, Long, Long)]) =
      xs.groupBy(r => (r._1, r._2, r._3)).map { case (k, v) =>
        k -> v.map(_._4).toSeq.sorted }
    val want = sequential(rows).toSeq
    assert(byTie(got.map(r => (r._1, r._2, r._3, r._5.toLong))) ===
      byTie(want.map { case (n, r) => (r._1, r._2, r._4, n) }))
    val gotById = got.map(r => r._4 -> r._5.toLong).toMap
    want.filter(_._2._3.exists(_ >= 1)).foreach { case (n, r) =>
      assert(gotById(r._5) === n, r)
    }
    assert(want.exists(_._1 == 1500000000L) &&
      rows.exists(_._3.isEmpty) && rows.exists(_._3.contains(0L)))
  }

  test("A1/A2 majority on a TYPED column (blank rule must not null out)") {
    // "" coerced to int is null; the blank filter must not turn into a
    // null predicate that silently empties the vote table
    val df = Seq(("g", 7), ("g", 7), ("g", 3)).toDF("grp", "v")
    val got = Grouping.majorityVote(df, Seq("grp"), "v")
      .select("majority", "votes").as[(Int, Long)].head()
    assert(got === ((7, 2L)))
    val withNulls = Seq(("g", Some(7)), ("g", Some(7)), ("g", None))
      .toDF("grp", "v")
    val imputed = Grouping.imputeByMajority(withNulls, Seq("grp"), "v")
      .select("v").as[Int].collect().sorted
    assert(imputed === Array(7, 7, 7), "null in a typed column must impute")
  }

  test("A4/A5 canonicalize attaches preferred representative") {
    val df = Seq(("iosys", "new1", 1, 5), ("iosys", "old1", 0, 9),
      ("alice", "n2", 1, 3)).toDF("name", "id", "isNew", "prio")
    val got = Grouping.canonicalize(df, Seq("name"),
      Seq(col("isNew").asc, col("prio").asc), Seq("id"))
      .select("name", "id", "canonical_id")
      .as[(String, String, String)].collect()
    assert(got.filter(_._1 == "iosys").forall(_._3 == "old1"))
  }
}

class FuzzyMatchSpec extends SparkSpec {
  import spark.implicits._
  import FuzzyMatch._

  test("X8 normalizeLettersOnly handles fullwidth + mixed scripts") {
    // Fixtures pinned against the reference's normalize_text
    // (NFKC→NFD→category-L filter→lower): diacritics AND Japanese
    // dakuten decompose to combining marks and are stripped —
    // ジ → シ+U+3099 → シ, é → e+U+0301 → e.
    val got = Seq("ＴＥＳＴ Song 01!", "ネクロファンタジア", "Café", null)
      .toDF("s").select(FuzzyMatch.normalizeLettersOnly($"s"))
      .as[String].collect()
    assert(got(0) === "testsong")
    assert(got(1) === "ネクロファンタシア")
    assert(got(2) === "cafe")
    assert(got(3) === "")
  }

  test("similarityRatio column matches scala impl; 100 for identical") {
    val got = Seq(("kitten", "sitting"), ("abc", "abc"), ("", ""))
      .toDF("a", "b").select(FuzzyMatch.similarityRatio($"a", $"b"))
      .as[Double].collect()
    assert(math.abs(got(0) - ratioScala("kitten", "sitting")) < 1e-9)
    assert(got(1) === 100.0)
    assert(got(2) === 100.0)
  }

  test("tokenSetRatio is order/duplication insensitive") {
    val got = Seq(("b a a c", "a b c"), ("x y", "p q"))
      .toDF("a", "b").select(FuzzyMatch.tokenSetRatio($"a", $"b"))
      .as[Double].collect()
    assert(got(0) === 100.0)
    assert(got(1) < 50.0)
  }

  test("hungarianMin solves a known assignment") {
    val cost = Array(
      Array(4.0, 1.0, 3.0),
      Array(2.0, 0.0, 5.0),
      Array(3.0, 2.0, 2.0))
    val a = FuzzyMatch.hungarianMin(cost)
    // optimal: r0→c1(1), r1→c0(2), r2→c2(2) = 5
    assert(a.toSeq === Seq(1, 0, 2))
  }

  test("J7 assignmentJoin matches permuted tracklists, flags weak albums") {
    val local = Seq(
      TitleRow("al1", "L1", "Necrofantasia"),
      TitleRow("al1", "L2", "U.N. Owen was her"),
      TitleRow("al1", "L3", "Septette for the Dead Princess"),
      TitleRow("al2", "L4", "completely unrelated")).toDS()
    val wiki = Seq(
      TitleRow("al1", "W1", "ＮｅｃｒｏＦａｎｔａｓｉａ"),  // fullwidth
      TitleRow("al1", "W2", "Septette For The Dead Princess"),
      TitleRow("al1", "W3", "UN Owen Was Her"),
      TitleRow("al2", "W4", "something else entirely")).toDS()
    val got = FuzzyMatch.assignmentJoin(spark, local, wiki).collect()
    val m = got.filter(_.key == "al1").map(p => p.left_id -> p.right_id).toMap
    assert(m === Map("L1" -> "W1", "L2" -> "W3", "L3" -> "W2"))
    assert(got.filter(_.key == "al1").forall(_.group_accepted))
    assert(got.filter(_.key == "al2").forall(!_.group_accepted))
  }

  test("J7 acceptance denominator is the src side even when left is larger") {
    // 4 distinct src titles, only 2 matchable: total score 200 vs
    // total_potential 400 → the reference rejects (ratio 0.5). A
    // denominator taken from the flipped (smaller) side would wrongly
    // accept at ratio 1.0 (song_info_matcher.py:148 is src-side only).
    val local = Seq(
      TitleRow("al3", "L1", "alpha"), TitleRow("al3", "L2", "beta"),
      TitleRow("al3", "L3", "gamma"), TitleRow("al3", "L4", "delta")).toDS()
    val wiki = Seq(
      TitleRow("al3", "W1", "alpha"), TitleRow("al3", "W2", "beta")).toDS()
    val got = FuzzyMatch.assignmentJoin(spark, local, wiki).collect()
    assert(got.nonEmpty && got.forall(!_.group_accepted))
  }

  test("J9 prefixPairs pairs cue with its audio by longest prefix") {
    val files = Seq(
      PathRow("al", "cue", "album_disc1.cue"),
      PathRow("al", "cue", "album_disc2.cue"),
      PathRow("al", "audio", "album_disc1.flac"),
      PathRow("al", "audio", "album_disc2.flac")).toDS()
    val got = FuzzyMatch.prefixPairs(spark, files).collect()
      .map(p => p.cue_path -> p.audio_path).toMap
    assert(got === Map("album_disc1.cue" -> "album_disc1.flac",
      "album_disc2.cue" -> "album_disc2.flac"))
  }

  test("J9 prefixPairs: zero-prefix cues stay unpaired and consume nothing") {
    // reference parity (max_common_prefix): a pair forms only when the
    // common prefix is non-empty; an unrelated cue must not steal an
    // audio that a later cue matches
    val files = Seq(
      PathRow("al", "cue", "aaa_unrelated.cue"),
      PathRow("al", "cue", "zzz_album.cue"),
      PathRow("al", "audio", "zzz_album.flac")).toDS()
    val got = FuzzyMatch.prefixPairs(spark, files).collect()
    assert(got.length === 1)
    assert(got(0).cue_path === "zzz_album.cue")
    assert(got(0).audio_path === "zzz_album.flac")
    assert(got(0).prefix_len === 10)
  }

  test("J10 mirrorDirs finds format mirrors within tolerance") {
    val dirs = Seq(
      DirDurations("al", "FLAC", Seq(100.0, 200.0, 300.0)),
      DirDurations("al", "MP3", Seq(101.0, 199.0, 304.0)),
      DirDurations("al", "Bonus", Seq(50.0, 60.0))).toDS()
    val got = FuzzyMatch.mirrorDirs(spark, dirs).collect()
    assert(got.length === 1)
    assert((got(0).dir_a, got(0).dir_b) === (("FLAC", "MP3")))
  }
}

class VectorAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val chunks = Seq(
    ("t1", Seq(1.0, 0.0)), ("t1", Seq(3.0, 2.0)),
    ("t2", Seq(0.0, 1.0)),
    ("t3", Seq(1.0, 0.1)), ("t3", Seq(0.9, 0.0))).toDF("tid", "vec")

  test("decimalVecMeans: bit-parity with the posexplode decimal aggregation (round 15 — the Lloyd mean buffer form), partitioning-proof") {
    import org.apache.spark.sql.types.DecimalType
    // adversarial values: long binary expansions, negatives, HALF_UP
    // tie neighborhoods at the 12th decimal, magnitudes up to 1e6
    val rows = (0 until 400).map { i =>
      val cell = i % 7
      val v = Array.tabulate(5) { d =>
        val base = math.cos(i * 31 + d * 17) * math.pow(10, (i + d) % 7 - 3)
        if ((i + d) % 11 == 0) (i - 200) * 1e-13 * (d + 1)
        else if ((i + d) % 13 == 0) 0.0000000000005 * (i - 200)
        else base
      }
      (cell, v)
    }
    Seq(1, 13).foreach { parts =>
      val df = rows.toDF("cell", "vec").repartition(parts)
      val fast = VectorAgg.decimalVecMeans(df).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      val slow = df
        .select(col("cell"), posexplode(col("vec")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg((sum(round(col("x"), 12).cast(DecimalType(38, 12)))
            .cast("double") / count(lit(1))).as("c"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("d"), col("c"))))
          .as("ps"))
        .select(col("cell"),
          transform(col("ps"), p => p.getField("c")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .toMap
      assert(fast.keySet === slow.keySet)
      fast.keySet.foreach { c =>
        assert(fast(c) === slow(c), s"cell $c at $parts partitions")
      }
    }
    // the loud overflow contract: an element past the scaled-long
    // domain throws instead of silently wrapping
    val e = intercept[org.apache.spark.SparkException](
      VectorAgg.decimalVecMeans(Seq((0, Array(1e12))).toDF("cell", "vec"))
        .collect())
    assert(e.toString.contains("out of long range") ||
      Option(e.getCause).exists(_.toString.contains("out of long range")))
  }

  test("A10 poolChunks: one-pass mean and max") {
    val got = VectorAgg.poolChunks(chunks, "tid", "vec")
      .orderBy("id").collect()
    val t1 = got(0)
    assert(t1.getAs[Seq[Double]]("mean_vec") === Seq(2.0, 1.0))
    assert(t1.getAs[Seq[Double]]("max_vec") === Seq(3.0, 2.0))
    assert(t1.getAs[Long]("n_chunks") === 2L)
  }

  test("chamfer: identical sets → 1, orthogonal → 0") {
    val a = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(math.abs(VectorAgg.chamfer(a, a) - 1.0) < 1e-12)
    assert(VectorAgg.chamfer(Seq(Seq(1.0, 0.0)), Seq(Seq(0.0, 1.0))) === 0.0)
  }

  test("P6 similarByChamfer: recall→rerank ranks the similar track first") {
    val got = VectorAgg.similarByChamfer(chunks, "tid", "vec",
      col("vec_id") === "t1", recallK = 2, keepK = 2).collect()
      .sortBy(_.rank)
    // t3 chunks point the same way as t1's; t2 is orthogonal-ish
    assert(got.head.neighbor_id === "t3")
    assert(got.head.score > got(1).score)
  }

  test("boundedSortedCollect ≡ slice(array_sort(collect_list), 1, max)") {
    import org.apache.spark.sql.graft.TopKExpressions.boundedSortedCollect
    val r = new scala.util.Random(11)
    val rows = (0 until 200).map(i =>
      (s"g${i % 5}", Seq.fill(3)(math.rint(r.nextDouble() * 10) / 10)))
    val df = rows.toDF("g", "v").repartition(8)
    for (max <- Seq(1, 7, 100)) {
      def extract(df2: org.apache.spark.sql.DataFrame) =
        df2.collect().map(row => row.getString(0) ->
          row.getSeq[Any](1).toList
            .map(_.asInstanceOf[scala.collection.Seq[Double]].toList)).toMap
      val viaAgg = extract(df.groupBy($"g")
        .agg(boundedSortedCollect($"v", max).as("c")))
      val viaSort = extract(df.groupBy($"g")
        .agg(slice(array_sort(collect_list($"v")), 1, max).as("c")))
      assert(viaAgg === viaSort, s"max=$max")
    }
  }
}
