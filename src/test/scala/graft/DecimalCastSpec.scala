package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DecimalCast

/** The reader tier's exact `CAST(x AS DECIMAL(p,s))` against Spark's own
  * ANSI `Cast`, one value at a time: the same `Decimal` (value,
  * precision and scale), the same null, or an exception of the same
  * class and error condition. Pure JVM — no Spark job. */
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

  /** Both forms of the conversion agree with Spark on `v`: `decimal`
    * always, and the unscaled long where p fits one. */
  private def agrees(v: Any, from: DataType, to: DecimalType): Prop = {
    val conv = new DecimalCast(from, to, from)
    val ref = outcome(spark(v, from, to))
    val got = outcome(conv.decimal(v))
    val unscaled =
      if (to.precision > DecimalCast.MaxPrecision) true
      else {
        val u = outcome {
          val x = v match {
            case d: java.lang.Double => conv.ofDouble(d)
            case n: Number => conv.ofIntegral(n.longValue())
          }
          if (x == DecimalCast.Null) null else Decimal(x, to.precision, to.scale)
        }
        u == ref
      }
    Prop(got == ref && unscaled) :|
      s"CAST($v AS $to): got $got, Spark $ref"
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
    forTypes(1500, DoubleType) { to =>
      val top = math.min(1e15, math.pow(10, to.precision - to.scale + 1)).toLong
      for {
        digits <- Gen.oneOf(0, 1, 2, 3, 4, 5)
        k <- Gen.choose(-top, top)
      } yield Double.box(k / math.pow(10, digits))
    }
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
      specials.foreach(d => holds(1)(agrees(Double.box(d), DoubleType, DecimalType(p, s))))
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
  }
}
