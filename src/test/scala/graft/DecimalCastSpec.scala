package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DecimalCast, DecimalTerm}

/** The reader tier's fast `CAST(x AS DECIMAL(p,s))` against Spark's own
  * ANSI `Cast`, one value at a time: wherever the fast path gives an
  * unscaled value, Spark gives that `Decimal` (value, precision and
  * scale); every other value, null or error is left to Spark
  * ([[DecimalTerm.Slow]]). Pure JVM — no Spark job. */
class DecimalCastSpec extends AnyFunSuite {

  private val types = Seq((12, 2), (4, 2), (14, 2), (17, 4), (38, 10))

  private def holds(n: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), p)
    assert(res.passed, res.status.toString)
  }

  /** A value, a null, or the thrown class with its error condition. */
  private def outcome(f: => Decimal): Either[String, Option[(java.math.BigDecimal, Int, Int)]] =
    try Right(Option(f).map(d => (d.toJavaBigDecimal, d.precision, d.scale)))
    catch {
      case e: SparkThrowable => Left(s"${e.getClass.getName}:${e.getCondition}")
      case e: Throwable => Left(e.getClass.getName)
    }

  private def spark(v: Any, from: DataType, to: DecimalType): Decimal =
    Cast(Literal(v, from), to, None, EvalMode.ANSI).eval().asInstanceOf[Decimal]

  /** Values the fast path answered, over the whole spec. */
  private var fastHits = 0

  /** The fast path's answer for `v`, read from a segment-like buffer as
    * the reader reads it. */
  private def fast(v: Any, from: DataType, to: DecimalType): Long = {
    val bb = java.nio.ByteBuffer.allocate(8)
    v match {
      case d: java.lang.Double => bb.putDouble(0, d)
      case l: java.lang.Long => bb.putLong(0, l)
      case i: Integer => bb.putInt(0, i)
    }
    new DecimalCast(from, to, from).at(bb, 0)
  }

  /** The fast path leaves `v` to Spark's `Cast`. */
  private def leftToSpark(v: Any, from: DataType, to: DecimalType): Unit =
    assert(fast(v, from, to) == DecimalTerm.Slow, s"CAST($v AS $to) must be Slow")

  /** The fast path agrees with Spark on `v`. */
  private def agrees(v: Any, from: DataType, to: DecimalType): Prop = {
    val u = fast(v, from, to)
    val ref = outcome(spark(v, from, to))
    if (u != DecimalTerm.Slow) fastHits += 1
    val got = if (u == DecimalTerm.Slow) ref else Right(Some((
      Decimal(u, to.precision, to.scale).toJavaBigDecimal, to.precision, to.scale)))
    Prop(got == ref) :| s"CAST($v AS $to): fast $u, Spark $ref"
  }

  private def forTypes(n: Int, from: DataType)(gen: DecimalType => Gen[Any]): Unit =
    types.foreach { case (p, s) =>
      val to = DecimalType(p, s)
      holds(n)(Prop.forAll(gen(to))(v => agrees(v, from, to)))
    }

  private def near(d: Double, k: Int): Seq[Double] =
    Iterator.iterate(d)(Math.nextUp).take(k + 1).toSeq ++
      Iterator.iterate(d)(Math.nextDown).take(k + 1).toSeq

  test("money-shaped doubles: cents, mills and tenths of a mill") {
    val before = fastHits
    forTypes(1500, DoubleType) { to =>
      val top = math.min(1e15, math.pow(10, to.precision - to.scale + 1)).toLong
      for {
        digits <- Gen.oneOf(0, 1, 2, 3, 4, 5)
        k <- Gen.choose(-top, top)
      } yield Double.box(k / math.pow(10, digits))
    }
    // values of at most `s` digits inside the bounds, about a third of
    // these draws, take the fast path
    assert(fastHits - before > 1500 * types.length / 4, s"${fastHits - before} fast")
  }

  test("arbitrary doubles: every bit pattern, and every decade") {
    forTypes(1500, DoubleType) { _ =>
      Gen.oneOf(
        Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
        for {
          m <- Gen.choose(-1.0, 1.0)
          e <- Gen.choose(-12, 22)
        } yield m * math.pow(10, e)
      ).map(Double.box)
    }
  }

  test("special doubles: zeros, subnormals, NaN, infinities") {
    val specials = Seq(0.0, -0.0, java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      java.lang.Double.MIN_NORMAL, Math.nextDown(java.lang.Double.MIN_NORMAL),
      Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue, -Double.MaxValue)
    types.foreach { case (p, s) =>
      val to = DecimalType(p, s)
      specials.foreach(d => holds(1)(agrees(Double.box(d), DoubleType, to)))
      // NaN and the infinities are null or an error in Spark, and no
      // finite double this large has an exact short decimal
      specials.drop(6).foreach(d => leftToSpark(Double.box(d), DoubleType, to))
    }
  }

  test("doubles at the precision bound and at the fast path's magnitude bound") {
    types.foreach { case (p, s) =>
      val to = DecimalType(p, s)
      val step = math.pow(10, -s)
      val top = math.pow(10, p - s)
      val points = Seq(top, top - step, top - step / 2,
        math.pow(2, 52) / math.pow(10, s), math.pow(2, 51) / math.pow(10, s))
      for (x <- points; sign <- Seq(1.0, -1.0); d <- near(sign * x, 8))
        holds(1)(agrees(Double.box(d), DoubleType, to))
    }
  }

  test("longs and ints: the fast multiply, and overflow to Spark's error") {
    forTypes(800, LongType) { to =>
      val top = math.pow(10, math.min(18, to.precision - to.scale)).toLong
      Gen.oneOf(Gen.choose(-top, top), Gen.choose(Long.MinValue, Long.MaxValue),
        Gen.oneOf(top - 1, top, -top, 1 - top, Long.MinValue, Long.MaxValue, 0L))
        .map(Long.box)
    }
    forTypes(800, IntegerType) { to =>
      val top = math.pow(10, math.min(9, to.precision - to.scale)).toInt
      Gen.oneOf(Gen.choose(-top, top), Gen.choose(Int.MinValue, Int.MaxValue),
        Gen.oneOf(top - 1, top, -top, Int.MinValue, Int.MaxValue, 0))
        .map(Int.box)
    }
    // past 10^(p-s) Spark's cast raises, and the fast path never answers
    val overflow = "NUMERIC_VALUE_OUT_OF_RANGE"
    types.foreach { case (p, s) =>
      val to = DecimalType(p, s)
      val outOfRange = (v: Any, from: DataType) => {
        leftToSpark(v, from, to)
        val err = outcome(spark(v, from, to))
        assert(err.left.exists(_.contains(overflow)), s"CAST($v AS $to): $err")
      }
      if (p - s <= 18) {
        val top = math.pow(10, p - s).toLong
        Seq(top, -top, Long.MaxValue, Long.MinValue).foreach(v => outOfRange(Long.box(v), LongType))
      }
      if (p - s <= 9) {
        val top = math.pow(10, p - s).toInt
        Seq(top, -top, Int.MaxValue, Int.MinValue).foreach(v => outOfRange(Int.box(v), IntegerType))
      }
    }
  }
}
