package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.util.{Random, Try}

import graft.queries.Num
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.graft.{ExactDecimalCast, RhpKernels}
import org.apache.spark.sql.graft.RhpExpressions.exactDecimalCast
import org.apache.spark.sql.graft.RhpKernels.Undecided
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The exact double→DECIMAL rounding kernel against its `BigDecimal`
  * reference, and `ExactDecimalCast` against Spark's own cast. */
class DecimalKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Scales = Seq(12, 9, 2)

  /** Spark's double→DECIMAL rounding, literally: `Double.toString`
    * rounded half-up. */
  private def reference(v: Double, scale: Int): Long =
    JBigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def bound(scale: Int): Double = math.pow(10, RhpKernels.MaxFastScale - scale)

  /** Fast answers match the reference; returns how many were undecided. */
  private def check(values: Iterator[Double], scale: Int): (Int, Int) = {
    var n, undecided = 0
    values.foreach { v =>
      val u = RhpKernels.halfUpUnscaled(v, scale)
      if (u == Undecided) undecided += 1
      else assert(u === reference(v, scale), s"v=$v (${java.lang.Double.toString(v)}) scale=$scale")
      n += 1
    }
    (n, undecided)
  }

  /** `I.F5`: a decimal with `scale + 1` fractional digits ending in 5
    * (a half-way point at `scale`), with its two neighbours, both signs. */
  private def halfWay(rnd: Random, scale: Int, intDigits: Int): Iterator[Double] =
    Iterator.fill(20000) {
      val whole = (rnd.nextDouble() * math.pow(10, rnd.nextInt(intDigits + 1))).toLong
      val frac = (0 until scale).map(_ => rnd.nextInt(10)).mkString
      val v = s"$whole.${frac}5".toDouble
      Seq(v, Math.nextUp(v), Math.nextDown(v), -v, -Math.nextUp(v))
    }.flatten

  test("halfUpUnscaled equals the BigDecimal rounding of Double.toString on random products") {
    val rnd = new Random(20261018L)
    def products(maxExp: Int) = Iterator.fill(200000) {
      val x = (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(maxExp + 4) - 3)
      x * (rnd.nextDouble() * 2 - 1)
    }
    Scales.foreach { s =>
      // up to the bound: the margin grows with t, so only correctness holds
      check(products(RhpKernels.MaxFastScale - s), s)
      // t < 10¹²: the fast path decides nearly every value
      val (n, undecided) = check(products(12 - s), s)
      assert(undecided < n / 100, s"scale $s: $undecided of $n undecided")
    }
  }

  test("half-way decimals, their neighbours and x.xx5 money values agree with the reference") {
    val rnd = new Random(5L)
    Scales.foreach { s =>
      val (n, undecided) = check(halfWay(rnd, s, RhpKernels.MaxFastScale - s - 1), s)
      // a half-way point is always within the margin: only the exact chain decides it
      assert(undecided > n * 9 / 10, s"scale $s: $undecided of $n undecided")
    }
    val money = Seq(0.005, 1.005, 1.015, 1.115, 1.125, 2.675, 8.345, 1234.565, 99999.995)
    check(money.iterator ++ money.iterator.map(-_), 2)
    // 2.675 is stored below the half-way point but prints as 2.675:
    // the cast rounds the printed value, up
    assert(reference(2.675, 2) === 268L)
    assert(RhpKernels.halfUpUnscaled(2.675, 2) === Undecided)
  }

  test("signed zeros, subnormals, the bound and non-finite values") {
    Scales.foreach { s =>
      Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue, 1e-310, -1e-310)
        .foreach(v => assert(RhpKernels.halfUpUnscaled(v, s) === 0L, s"v=$v"))
      val b = bound(s)
      val below = Math.nextDown(b)
      val fast = RhpKernels.halfUpUnscaled(below, s)
      assert(fast === Undecided || fast === reference(below, s))
      assert(RhpKernels.halfUpUnscaled(-below, s) === (if (fast == Undecided) Undecided else -fast))
      val inside = b * 0.123456
      assert(RhpKernels.halfUpUnscaled(inside, s) === reference(inside, s))
      Seq(b, -b, Math.nextUp(b), Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
        .foreach(v => assert(RhpKernels.halfUpUnscaled(v, s) === Undecided, s"v=$v"))
    }
  }

  /** The DECIMAL(18,12) term as the relational path computes it:
    * `round` to a double, then the cast. */
  private def relationalTerm(v: Double): JBigDecimal = {
    val rounded = JBigDecimal.valueOf(v).setScale(12, RoundingMode.HALF_UP).doubleValue()
    JBigDecimal.valueOf(rounded).setScale(12, RoundingMode.HALF_UP)
  }

  test("scaledTerm and round12 equal round(v, 12) through a double, up to the DECIMAL(18,12) bound") {
    val rnd = new Random(12L)
    val values = Seq.fill(200000) {
      (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(10) - 3)
    } ++ halfWay(rnd, 12, 5).take(40000) ++
      Seq(998.9999999999995, 999.0000000000005, 999.9999999999995, 1000.0000000000005,
        123456.7890123455, 999999.0, -999999.0)
    values.foreach { v =>
      val want = relationalTerm(v).unscaledValue().longValueExact()
      assert(RhpKernels.scaledTerm(v, 1.0) === want, s"v=$v")
      assert(RhpKernels.round12(v) === want, s"v=$v")
    }
  }

  test("scaledTerm throws at DECIMAL(18,12) overflow, not only past the long range") {
    assert(RhpKernels.scaledTerm(999999.0, 1.0) === 999999000000000000L)
    Seq(2e6, -2e6, 1e6, 999999.9999999999995).foreach { v =>
      val e = intercept[ArithmeticException](RhpKernels.scaledTerm(v, 1.0))
      assert(e.getMessage.contains("DECIMAL(18,12)"), e.getMessage)
    }
  }

  private def exactCasts(df: DataFrame): Seq[ExactDecimalCast] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case e: ExactDecimalCast => e
    }))

  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case st: SparkThrowable if st.getCondition != null => st.getCondition
    }.getOrElse(t.getClass.getName)

  /** Whole-stage codegen (a compile error fails, not falls back) and
    * interpreted evaluation. */
  private def inBothModes(f: => Unit): Unit = {
    withSQLConf("spark.sql.codegen.fallback" -> "false")(f)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
  }

  private val edgeValues: Seq[Option[Double]] = None +: Seq(Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, 1e17, -1e16, 1e13,
    Math.nextDown(1e13), -0.0, 0.005, 2.675, -1.005, 1234.565, 999.9999999999995,
    1000.0000000000005, Double.MinPositiveValue).map(Some(_))

  private val casts: Seq[(Column => Column, Column => Column)] = Seq(
    (c => c.cast(DecimalType(18, 2)), Num.dec2),
    (c => c.cast("double").cast(DecimalType(28, 9)), Num.dec9),
    (c => round(c, 12).cast(DecimalType(38, 12)), Num.round12),
    (c => c.cast(DecimalType(5, 2)), c => exactDecimalCast(c.cast(DecimalType(5, 2)))))

  private def edgeFrame(values: Seq[Option[Double]]): DataFrame =
    spark.sparkContext.parallelize(values.map(Tuple1(_)), 1).toDF("v")

  test("ExactDecimalCast gives the plain cast's value on every row with null, NaN and overflow, ANSI off") {
    withSQLConf("spark.sql.ansi.enabled" -> "false") {
      inBothModes {
        val rows = edgeFrame(edgeValues)
          .select(casts.flatMap { case (plain, exact) => Seq(plain(col("v")), exact(col("v"))) }: _*)
          .collect()
        rows.zip(edgeValues).foreach { case (r, v) =>
          casts.indices.foreach(i => assert(r.get(2 * i) === r.get(2 * i + 1), s"v=$v cast $i"))
        }
        assert(rows.head.toSeq.forall(_ == null))
      }
    }
  }

  test("under ANSI each row gives the plain cast's value or fails with the same error class") {
    withSQLConf("spark.sql.ansi.enabled" -> "true") {
      var failures = 0
      for ((plain, exact) <- casts; v <- edgeValues) {
        def run(cast: Column => Column) =
          Try(edgeFrame(Seq(v)).select(cast(col("v"))).collect().head.get(0)).toEither
        (run(plain), run(exact)) match {
          case (Right(p), Right(e)) => assert(p === e, s"v=$v")
          case (Left(p), Left(e)) =>
            failures += 1
            assert(condition(p) === condition(e), s"v=$v")
          case other => fail(s"v=$v: plain and exact differ: $other")
        }
      }
      assert(failures > 0)
    }
  }

  test("ExactDecimalCast matches the plain cast over many random and half-way rows") {
    val rnd = new Random(7L)
    val values = (Seq.fill(20000)((rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(9) - 3)) ++
      halfWay(rnd, 2, 6).take(10000) ++ halfWay(rnd, 9, 4).take(10000) ++
      halfWay(rnd, 12, 2).take(10000)).map(Tuple1(_))
    val df = spark.sparkContext.parallelize(values, 4).toDF("v")
    inBothModes {
      val rows = df.select(
        col("v").cast(DecimalType(18, 2)), Num.dec2(col("v")),
        col("v").cast(DecimalType(28, 9)), Num.dec9(col("v")),
        round(col("v"), 12).cast(DecimalType(38, 12)), Num.round12(col("v"))).collect()
      assert(rows.length === values.length)
      rows.foreach { r =>
        (0 until 6 by 2).foreach(i => assert(r.get(i) === r.get(i + 1), s"row $r col $i"))
      }
    }
  }

  test("Num helpers take the fast path on a double and stay the plain cast otherwise") {
    val df = Seq((1.25, 7, BigDecimal("3.14"))).toDF("d", "i", "m")
    def served(c: Column): Seq[Boolean] = exactCasts(df.select(c)).map(_.fastInput.isDefined)
    assert(served(Num.dec2(col("d"))) === Seq(true))
    assert(served(Num.dec9(col("i"))) === Seq(true))
    // round(d, 12) at the target scale is peeled: the kernel rounds d itself
    assert(exactCasts(df.select(Num.round12(col("d"))))
      .map(_.fastInput.exists(x => !x.isInstanceOf[Round] && x.dataType == DoubleType)) ===
      Seq(true))
    assert(served(Num.dec2(col("i"))) === Seq(false))
    assert(served(Num.dec2(col("m"))) === Seq(false))
    assert(served(exactDecimalCast(col("d").cast(DecimalType(5, 2)))) === Seq(false))
    val plain = df.select(col("i").cast(DecimalType(18, 2)), col("m").cast(DecimalType(18, 2)))
    assert(df.select(Num.dec2(col("i")), Num.dec2(col("m"))).collect().toSeq ===
      plain.collect().toSeq)
    assert(df.select(Num.dec2(col("i"))).head() === Row(new java.math.BigDecimal("7.00")))
  }
}
