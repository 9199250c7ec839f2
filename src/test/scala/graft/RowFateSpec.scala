package graft

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ObjectFormat

/** The row-fate mask both object readers share — `compileMask` under
  * `rowFate` — checked row by row against `eval3Filter`, the reference
  * three-valued semantics, over random filter trees and nullable
  * columns. */
class RowFateSpec extends AnyFunSuite {

  private val rows = 48

  // small value domains so comparisons and equalities both hit
  private val longs = Gen.oneOf(-3L, -1L, 0L, 1L, 2L, 3L, Long.MinValue, Long.MaxValue)
  private val ints = Gen.oneOf(-2, 0, 1, 2, Int.MinValue, Int.MaxValue)
  private val doubles = Gen.oneOf(-1.5, -0.0, 0.0, 1.0, 2.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity)
  private val strings = Gen.oneOf("", "a", "ab", "b", "ba", "é", "😀")
  private val bools = Gen.oneOf(true, false)

  /** Column name → (type, value domain as external literals, the
    * Catalyst form a decoded segment holds). "x" is absent from the
    * object: no type, no values. */
  private val columns: Map[String, (DataType, Gen[Any], Any => Any)] = {
    val same = (v: Any) => v
    Map(
      "l" -> ((LongType, longs, same)),
      "i" -> ((IntegerType, ints, same)),
      "d" -> ((DoubleType, doubles, same)),
      "s" -> ((StringType, strings, (v: Any) => UTF8String.fromString(v.asInstanceOf[String]))),
      "b" -> ((BooleanType, bools, same)))
  }
  private val names = columns.keys.toSeq.sorted :+ "x"

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)

  /** A literal for column `a`: mostly its own type, sometimes another
    * column's (the per-row fallback comparators), sometimes null. */
  private def literal(a: String): Gen[Any] = {
    val own = columns.get(a).map(_._2).getOrElse(longs)
    Gen.frequency(6 -> own, 1 -> Gen.const(null), 1 -> longs, 1 -> doubles,
      1 -> ints, 1 -> strings, 1 -> Gen.const(new java.math.BigDecimal("1.0")))
  }

  private val leaf: Gen[Filter] = Gen.oneOf(names).flatMap { a =>
    Gen.oneOf(
      literal(a).map(EqualTo(a, _)),
      literal(a).map(GreaterThan(a, _)),
      literal(a).map(GreaterThanOrEqual(a, _)),
      literal(a).map(LessThan(a, _)),
      literal(a).map(LessThanOrEqual(a, _)),
      Gen.listOfN(3, nullable(literal(a))).flatMap(vs =>
        Gen.choose(0, 3).map(k => In(a, vs.take(k).toArray))),
      nullable(literal(a)).map(EqualNullSafe(a, _)),
      strings.map(StringStartsWith(a, _)),
      strings.map(StringEndsWith(a, _)),
      strings.map(StringContains(a, _)),
      Gen.const(IsNull(a)),
      Gen.const(IsNotNull(a)),
      Gen.oneOf[Filter](AlwaysTrue(), AlwaysFalse()))
  }

  private def tree(depth: Int): Gen[Filter] =
    if (depth == 0) leaf
    else Gen.frequency(
      2 -> leaf,
      1 -> tree(depth - 1).map(Not(_)),
      1 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => And(l, r) },
      1 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => Or(l, r) })

  /** One object's filter columns, boxed as the segment decoder emits
    * them. */
  private val table: Gen[Map[String, Array[Any]]] =
    Gen.sequence[Seq[(String, Array[Any])], (String, Array[Any])](
      columns.toSeq.map { case (a, (_, g, catalyst)) =>
        Gen.listOfN(rows, nullable(g)).map(vs =>
          a -> vs.map(v => if (v == null) null else catalyst(v)).toArray)
      }).map(_.toMap)

  private val cases: Gen[(Map[String, Array[Any]], Array[Filter], Set[Int])] = for {
    cols <- table
    k <- Gen.choose(1, 3)
    pushed <- Gen.listOfN(k, tree(3))
    dv <- Gen.containerOf[Set, Int](Gen.choose(0, rows - 1))
  } yield (cols, pushed.toArray, dv)

  private def holds(n: Int)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(20261018L)), p)
    assert(res.passed, res.status.toString)
  }

  test("the compiled row-fate mask equals eval3Filter row by row, plain and negated") {
    holds(600)(Prop.forAll(cases) { case (cols, pushed, dvRows) =>
      val colType = (a: String) => columns.get(a).map(_._1)
      val colArr = (a: String) => cols.getOrElse(a, null)
      def reference(r: Int): Boolean =
        pushed.forall(ObjectFormat.eval3Filter(_, a => cols.get(a).map(_(r)).orNull)
          .contains(true))
      val mask = ObjectFormat.compileMask(pushed, colType, colArr)
      val dv = new java.util.BitSet()
      dvRows.foreach(dv.set)
      val plain = ObjectFormat.rowFate(rows, Some(dv), pushed, negated = false, colType, colArr)
      val negated = ObjectFormat.rowFate(rows, Some(dv), pushed, negated = true, colType, colArr)
      val noDv = ObjectFormat.rowFate(rows, None, pushed, negated = false, colType, colArr)
      val bad = (0 until rows).filterNot { r =>
        val ref = reference(r)
        mask(r) == ref && noDv(r) == ref &&
          plain(r) == (!dv.get(r) && ref) && negated(r) == (!dv.get(r) && !ref)
      }
      Prop(bad.isEmpty) :| s"${pushed.mkString(" AND ")}: rows ${bad.take(5).mkString(",")} " +
        bad.take(5).map(r => names.map(a => s"$a=${cols.get(a).map(_(r)).orNull}")
          .mkString("(", " ", ")")).mkString(" ")
    })
  }

  test("an empty conjunction keeps every row, and none when negated; the DV drops rows") {
    val dv = new java.util.BitSet()
    dv.set(1); dv.set(3)
    val none = (_: String) => Option.empty[DataType]
    val noCol = (_: String) => null: Array[Any]
    assert(ObjectFormat.rowFate(5, Some(dv), Array.empty, negated = false, none, noCol).toSeq ==
      Seq(true, false, true, false, true))
    assert(ObjectFormat.rowFate(5, Some(dv), Array.empty, negated = true, none, noCol)
      .forall(!_))
  }
}
