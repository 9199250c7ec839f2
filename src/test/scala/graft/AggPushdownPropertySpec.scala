package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.{DeleteVectors, GraftAggRowsPartition, ObjectFormat}

/** Property: a pushed aggregate reads the same as the same query with
  * `agg.pushdown=false` — the same rows, or the same error condition.
  *
  * Each table has four objects over two generations. The first two are
  * written as (id BIGINT, i INT, f FLOAT, d DOUBLE, s STRING, ts
  * TIMESTAMP); then `ADD COLUMN a INT` and `ALTER COLUMN i TYPE BIGINT`,
  * `f TYPE DOUBLE`, and two more objects in the evolved schema. Random
  * objects carry a deletion vector. Values include nulls, NaN and ±0.0.
  * Queries draw random pushed filters and random pushable aggregates,
  * global or grouped by a widened key (i), an added key (a), a key with
  * one group per row (id), a string, or two keys. The decimal terms
  * cover `k ± CAST(c AS DECIMAL)` and `CAST(c AS DECIMAL) ± k` with and
  * without an outer cast (one that overflows for a rare f, one for the
  * ids past 59, which take the fast path), three-factor
  * products (one past a long's range for a large i), COUNT of a cast,
  * and a product whose right factor overflows where its left is null. */
class AggPushdownPropertySpec extends SparkSpec {

  private val gen1 = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("ts", TimestampType)))
  private val gen2 = StructType(Seq(
    StructField("id", LongType), StructField("i", LongType),
    StructField("f", DoubleType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("ts", TimestampType),
    StructField("a", IntegerType)))

  /** One row's values, id aside; `a` is written only in generation 2. */
  private final case class Vals(i: Option[Int], f: Option[Float], d: Option[Double],
      s: Option[String], ts: Option[Long], a: Option[Int])
  /** One object's rows and the ordinals its deletion vector drops. */
  private final case class Obj(rows: Seq[Vals], dv: Seq[Int]) {
    override def toString: String = s"Obj(${rows.size} rows, ${dv.size} deleted)"
  }

  private def opt[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))
  private val genVals: Gen[Vals] = for {
    i <- opt(Gen.frequency(8 -> Gen.choose(-3, 3), 1 -> Gen.choose(-100000, 100000)))
    f <- opt(Gen.oneOf(Gen.oneOf(0.0f, -0.0f, Float.NaN, 1.5f, -2.25f), Gen.choose(-50f, 50f)))
    d <- opt(Gen.oneOf(Gen.oneOf(0.0, -0.0, Double.NaN, 0.05, 99.5), Gen.choose(-200.0, 200.0)))
    s <- opt(Gen.oneOf("a", "ab", "b", "", "zz"))
    ts <- opt(Gen.choose(0L, 4L * 86400L * 1000000L))
    a <- opt(Gen.choose(0, 2))
  } yield Vals(i, f, d, s, ts, a)
  private val genObj: Gen[Obj] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, genVals)
    // ordinals drawn one by one (Gen.someOf favours the range's tail)
    dv <- Gen.frequency(1 -> Gen.const(Nil),
      1 -> Gen.choose(1, n).flatMap(Gen.listOfN(_, Gen.choose(0, n - 1))).map(_.distinct))
  } yield Obj(rows, dv)
  private val genTable: Gen[Seq[Obj]] = Gen.listOfN(4, genObj)

  private val aggregates: Seq[String] = Seq(
    "COUNT(*)", "COUNT(d)", "COUNT(a)", "COUNT(i)", "COUNT(s)",
    "MIN(id)", "MAX(id)", "MIN(i)", "MAX(i)", "MIN(f)", "MAX(f)", "MIN(d)", "MAX(d)",
    "MIN(s)", "MAX(s)", "MIN(ts)", "MAX(ts)", "MIN(a)", "MAX(a)",
    "SUM(id)", "SUM(i)", "SUM(a)",
    "SUM(CAST(i AS DECIMAL(12,2)))", "SUM(CAST(f AS DECIMAL(10,3)))",
    "SUM(CAST(d AS DECIMAL(12,2)))", "SUM(CAST(d AS DECIMAL(4,2)))",
    "SUM(CAST(i AS DECIMAL(10,2)) * CAST(f AS DECIMAL(5,2)))",
    "SUM(CAST(a AS DECIMAL(6,0)) * CAST(d AS DECIMAL(6,2)))",
    "MIN(CAST(ts AS DATE))", "MAX(CAST(ts AS DATE))")
  private val terms: Seq[String] = Seq(
    "SUM(2.5 + CAST(d AS DECIMAL(5,2)))", "SUM(CAST(f AS DECIMAL(4,2)) - 1)",
    "SUM(CAST(55 - CAST(f AS DECIMAL(4,2)) AS DECIMAL(4,2)))",
    "SUM(CAST(CAST(i AS DECIMAL(10,2)) + 1.25 AS DECIMAL(12,3)))",
    "SUM(CAST(d AS DECIMAL(12,2)) * CAST(55 - CAST(f AS DECIMAL(4,2)) AS DECIMAL(4,2)) * " +
      "CAST(1 + CAST(f AS DECIMAL(4,2)) AS DECIMAL(4,2)))",
    "SUM(CAST(i AS DECIMAL(12,2)) * CAST(i AS DECIMAL(12,2)) * CAST(i AS DECIMAL(12,2)))",
    "SUM(CAST(a AS DECIMAL(6,0)) * CAST(d AS DECIMAL(4,2)))",
    "COUNT(CAST(d AS DECIMAL(5,2)))", "COUNT(CAST(f AS DECIMAL(4,2)) - 1)",
    "COUNT(CAST(CAST(id AS DECIMAL(10,2)) + 9940 AS DECIMAL(6,2)))")
  private val groupings: Seq[Seq[String]] =
    Seq(Nil, Nil, Seq("i"), Seq("a"), Seq("id"), Seq("s"), Seq("i", "a"))
  private val leaf: Gen[String] = Gen.oneOf(
    Gen.choose(-3, 3).map(c => s"i > $c"), Gen.choose(-3, 3).map(c => s"i = $c"),
    Gen.choose(-1.0, 1.0).map(c => f"d < $c%.2f"), Gen.const("d IS NULL"),
    Gen.choose(-1.0, 1.0).map(c => f"f >= $c%.2f"), Gen.oneOf("s = 'a'", "s LIKE 'a%'"),
    Gen.const("a IS NOT NULL"), Gen.const("a IS NULL"), Gen.choose(0, 2).map(c => s"a = $c"),
    Gen.choose(0, 160).map(c => s"id >= $c"), Gen.const("id >= 0"),
    Gen.choose(0, 4).map(c => s"ts < TIMESTAMP '1970-01-0${c + 1} 12:00:00'"))
  private val filter: Gen[String] = Gen.frequency(
    2 -> Gen.const("TRUE"), 3 -> leaf,
    2 -> Gen.zip(leaf, leaf).map { case (x, y) => s"$x AND $y" },
    1 -> Gen.zip(leaf, leaf).map { case (x, y) => s"($x OR $y)" },
    1 -> leaf.map(x => s"NOT ($x)"))
  /** The aggregates an object's footer can answer. */
  private val footerAggs = aggregates.filter(a => a.startsWith("COUNT") ||
    a.matches("M(IN|AX)\\([a-z]+\\)") && a != "MIN(s)" && a != "MAX(s)")
  private def shape(aggs: Seq[String], groupings: Seq[Seq[String]],
      filter: Gen[String]): Gen[String] = for {
    // distinct draws (Gen.pick favours the list's tail)
    picked <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(aggs)))
    groups <- Gen.oneOf(groupings)
    pred <- filter
  } yield {
    val sel = (groups ++ picked.distinct).mkString(", ")
    val by = if (groups.isEmpty) "" else groups.mkString(" GROUP BY ", ", ", "")
    s"SELECT $sel FROM {t} WHERE $pred$by"
  }
  // a global aggregate of footer-answerable aggregates under no filter
  // or a filter every footer proves is answered from footers
  private val query: Gen[String] = Gen.frequency(
    3 -> shape(aggregates ++ terms, groupings, filter),
    2 -> shape(terms, groupings, filter),
    1 -> shape(footerAggs, Seq(Nil), Gen.oneOf("TRUE", "id >= 0")))

  private var tables = 0
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-aggprop").toString
    spark.conf.set("spark.sql.catalog.gaggprop", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gaggprop.root", r)
    r
  }

  /** Lay `objs` out as one table, returning its directory. */
  private def build(objs: Seq[Obj]): String = {
    tables += 1
    val name = s"t$tables"
    val dir = s"$root/main/$name"
    new File(dir).mkdirs()
    var id = 0L
    def write(o: Int, schema: StructType): Unit = {
      val rows = objs(o).rows.map { v =>
        id += 1
        val ts = v.ts.map(us => new java.sql.Timestamp(us / 1000)).orNull
        Row.fromSeq(
          if (schema == gen1) Seq(id, v.i.orNull, v.f.orNull, v.d.orNull, v.s.orNull, ts)
          else Seq(id, v.i.map(_.toLong).orNull, v.f.map(_.toDouble).orNull, v.d.orNull,
            v.s.orNull, ts, v.a.orNull))
      }
      ObjectFormat.writeObject(s"$dir/$name.$o", schema, rows.iterator)
    }
    write(0, gen1); write(1, gen1)
    val t = s"gaggprop.main.$name"
    spark.sql(s"ALTER TABLE $t ADD COLUMN a INT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN i TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    write(2, gen2); write(3, gen2)
    objs.zipWithIndex.foreach { case (o, k) =>
      if (o.dv.nonEmpty) DeleteVectors.write(s"$dir/$name.$k", o.dv.toArray)
    }
    dir
  }

  /** Rows as sorted strings, or the error condition the query raised.
    * A zero prints unsigned: Spark's MIN/MAX take -0.0 = 0.0 and keep
    * whichever comes first, so the sign of a zero extreme depends on the
    * order partials merge in, which neither plan fixes. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(_.toSeq.map {
      case z: java.lang.Double if z == 0.0 => "0.0"
      case z: java.lang.Float if z == 0.0f => "0.0"
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).toSeq.sorted)
    catch { case t: Throwable => Left(condition(t)) }

  private def condition(t: Throwable): String = {
    def chain(e: Throwable): List[Throwable] =
      if (e == null) Nil else e :: chain(e.getCause)
    chain(t).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.lastOption.getOrElse(chain(t).last.getClass.getName)
  }

  test("property: pushed aggregates equal the unpushed read over evolved objects with DVs") {
    var pushed = 0
    var fromFooters = 0
    val prop = Prop.forAllNoShrink(genTable, Gen.listOfN(12, query)) { (objs, queries) =>
      val dir = build(objs)
      spark.read.format("graft-objects").load(dir).createOrReplaceTempView("ap")
      spark.read.format("graft-objects").option("agg.pushdown", "false").load(dir)
        .createOrReplaceTempView("ap_ref")
      queries.forall { q =>
        val df = spark.sql(q.replace("{t}", "ap"))
        if (df.queryExecution.executedPlan.toString.contains("GraftPartialAggScan")) pushed += 1
        if (df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }
            .flatten.exists(_.isInstanceOf[GraftAggRowsPartition])) fromFooters += 1
        val got = outcome(df)
        val exp = outcome(spark.sql(q.replace("{t}", "ap_ref")))
        (got == exp) || { println(s"MISMATCH $q\n  pushed   $got\n  unpushed $exp"); false }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), prop)
    assert(res.passed, res.status.toString)
    // every query shape above pushes
    assert(pushed == 6 * 12, s"$pushed of ${6 * 12} queries pushed")
    assert(fromFooters > 0, "no object answered from its footer")
  }
}
