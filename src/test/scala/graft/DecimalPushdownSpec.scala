package graft

import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThan

import graft.sources.ObjectStoreMaintenance

/** Money aggregates inside storage: `SUM(CAST(x AS DECIMAL(p,s)))`, the
  * q6 product of two such casts, and `MIN/MAX(CAST(ts AS DATE))` push
  * into the reader tier under ANSI. Every shape is compared with the
  * same query read with `agg.pushdown=false`: the same rows, or the
  * same error condition. Tables are small and generated. */
class DecimalPushdownSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A lineitem-shaped table of `n` rows in `objects` objects ranged on
    * l_shipdate. Discounts reach 0.10, so an object of 3000 rows sums
    * past DECIMAL(4,2)'s 99.99. */
  private def lineitem(dir: String, n: Int = 12000, objects: Int = 4): Unit =
    spark.range(0, n, 1, objects).selectExpr(
      "id AS l_orderkey",
      "(id * 7919) % 2000 AS l_partkey",
      "(id * 31) % 100 AS l_suppkey",
      "CAST(id % 7 + 1 AS INT) AS l_linenumber",
      "CAST((id * 13) % 50 + 1 AS DOUBLE) AS l_quantity",
      "CAST((id * 104729) % 9000000 + 90000 AS DOUBLE) / 100 AS l_extendedprice",
      "CAST((id * 17) % 11 AS DOUBLE) / 100 AS l_discount",
      "CAST((id * 19) % 9 AS DOUBLE) / 100 AS l_tax",
      "CASE id % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS l_returnflag",
      "CASE id % 2 WHEN 0 THEN 'F' ELSE 'O' END AS l_linestatus",
      "timestamp_seconds(694224000 + id * 21600 + (id % 24) * 3600) AS l_shipdate")
      .repartitionByRange(objects, col("l_shipdate"))
      .write.format("graft-objects").mode("overwrite").save(dir)

  private val narrow =
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue, " +
      "COUNT(*) AS n FROM {t} WHERE {pred}"
  private val wide =
    "SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS s_okey, " +
      "CAST(SUM(l_partkey) AS BIGINT) AS s_pkey, " +
      "CAST(SUM(l_suppkey) AS BIGINT) AS s_skey, " +
      "CAST(SUM(l_linenumber) AS BIGINT) AS s_line, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s_price, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s_disc, " +
      "CAST(SUM(CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS s_tax, " +
      "MIN(l_returnflag) AS min_flag, MAX(l_linestatus) AS max_status, " +
      "MAX(CAST(l_shipdate AS DATE)) AS max_ship FROM {t} WHERE {pred}"
  private val global =
    "SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, " +
      "count(l_extendedprice) AS cnt, min(l_orderkey) AS min_okey, " +
      "max(l_orderkey) AS max_okey FROM {t} WHERE {pred}"
  private val grouped =
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
      "CAST(SUM(l_orderkey) AS BIGINT) AS sum_key, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc, " +
      "MIN(CAST(l_shipdate AS DATE)) AS first_ship " +
      "FROM {t} WHERE {pred} GROUP BY l_returnflag, l_linestatus"

  private val preds = Seq(
    "TRUE",
    "l_shipdate >= TIMESTAMP '1993-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1993-07-01 00:00:00'",
    "l_extendedprice >= 20000.0 AND l_extendedprice < 60000.0")

  /** Register `name` (pushed) and `name_ref` (agg.pushdown=false) over `df`s
    * from one reader builder. */
  private def views(name: String, read: Map[String, String] => DataFrame): Unit = {
    read(Map.empty).createOrReplaceTempView(name)
    read(Map("agg.pushdown" -> "false")).createOrReplaceTempView(s"${name}_ref")
  }
  private def objectViews(name: String, dir: String): Unit =
    views(name, o => spark.read.format("graft-objects").options(o).load(dir))

  private def sqlOn(tmpl: String, t: String, pred: String): DataFrame =
    spark.sql(tmpl.replace("{t}", t).replace("{pred}", pred))

  /** Rows sorted, or the error condition the query raised. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(_.toString).toSeq.sorted)
    catch { case t: Throwable => Left(condition(t)) }

  private def condition(t: Throwable): String = {
    def chain(e: Throwable): List[Throwable] =
      if (e == null) Nil else e :: chain(e.getCause)
    chain(t).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.lastOption.getOrElse(chain(t).last.getClass.getName)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The pushed plan holds the partial scan, and both reads give the
    * same outcome. */
  private def samePushed(tmpl: String, t: String, pred: String): Either[String, Seq[String]] = {
    val pushed = sqlOn(tmpl, t, pred)
    assert(plan(pushed).contains("GraftPartialAggScan"),
      s"must push:\n${plan(pushed).take(1500)}")
    val got = outcome(pushed)
    assert(got == outcome(sqlOn(tmpl, s"${t}_ref", pred)), s"$tmpl / $pred")
    got
  }

  /** Rows the object scan of an executed query returned. */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def rows(p: SparkPlan): Long = p match {
      case b: BatchScanExec => b.metrics("numOutputRows").value
      case a: AdaptiveSparkPlanExec => rows(a.finalPhysicalPlan)
      case q: QueryStageExec => rows(q.plan)
      case other => other.children.map(rows).sum
    }
    rows(df.queryExecution.executedPlan)
  }

  private lazy val li: String = {
    val dir = tmp("graft-decpd") + "/lineitem"
    lineitem(dir)
    objectViews("dp_li", dir)
    dir
  }

  test("narrow, wide and global money sweeps push, with and without a pushed filter") {
    li
    for (tmpl <- Seq(narrow, wide, global); pred <- preds) {
      val got = samePushed(tmpl, "dp_li", pred)
      assert(got.isRight, s"$tmpl / $pred raised $got")
    }
    val df = sqlOn(narrow, "dp_li", "TRUE")
    assert(plan(df).contains("sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(l_discount AS DECIMAL(4,2)))"), plan(df).take(1500))
    // one partial row per object for the narrow shape
    assert(scanRows(df) == 4)
  }

  test("GROUP BY money sums push and match the unpushed read") {
    li
    preds.foreach { pred =>
      val got = samePushed(grouped, "dp_li", pred)
      assert(got.exists(_.nonEmpty), s"$pred: $got")
    }
  }

  test("a DECIMAL(4,2) sum past 99.99 in one object is exact: the reader spills partials") {
    val dir = tmp("graft-decspill") + "/t"
    spark.range(0, 1000, 1, 1).selectExpr("CAST(0.5 AS DOUBLE) AS x", "id AS k")
      .write.format("graft-objects").mode("overwrite").save(dir)
    objectViews("dp_spill", dir)
    val tmpl = "SELECT SUM(CAST(x AS DECIMAL(4,2))) AS s, COUNT(*) AS n FROM {t} WHERE {pred}"
    val got = samePushed(tmpl, "dp_spill", "TRUE")
    assert(got == Right(Seq("[500.00,1000]")), got)
    // 0.50 × 199 = 99.50 is the most one DECIMAL(4,2) partial holds
    assert(scanRows(sqlOn(tmpl, "dp_spill", "TRUE")) == 6)
  }

  test("NaN and an out-of-range double give the unpushed read's null and error") {
    val dir = tmp("graft-decerr") + "/t"
    spark.sql("SELECT * FROM VALUES (1L, 0.05D, 12.5D), (2L, CAST('NaN' AS DOUBLE), 123.0D) " +
      "AS v(k, d, big)").coalesce(1)
      .write.format("graft-objects").mode("overwrite").save(dir)
    objectViews("dp_err", dir)
    val nan = samePushed("SELECT SUM(CAST(d AS DECIMAL(4,2))) FROM {t} WHERE {pred}",
      "dp_err", "TRUE")
    val range = samePushed("SELECT SUM(CAST(big AS DECIMAL(4,2))) FROM {t} WHERE {pred}",
      "dp_err", "TRUE")
    // Spark's ANSI cast turns NaN into null, which SUM skips
    assert(nan == Right(Seq("[0.05]")), s"NaN: $nan")
    assert(range == Left("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"),
      s"123.0 cannot be DECIMAL(4,2): $range")
    // a pushed filter that drops the bad row drops its error too
    assert(samePushed("SELECT SUM(CAST(big AS DECIMAL(4,2))) FROM {t} WHERE {pred}",
      "dp_err", "k = 1") == Right(Seq("[12.50]")))
  }

  test("a deletion vector, an added column, a widened column and VERSION AS OF") {
    val root = tmp("graft-deccat")
    spark.conf.set("spark.sql.catalog.gdec", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdec.root", root)
    val dir = s"$root/main/li"
    lineitem(dir, n = 4000)
    def tableViews(): Unit =
      views("dp_cat", o => spark.read.options(o).table("gdec.main.li"))
    // merge-on-read delete: a DV on every object it touches
    ObjectStoreMaintenance.deleteMoR(dir, Array(LessThan("l_orderkey", 1500L)))
    tableViews()
    preds.foreach(p => samePushed(wide, "dp_cat", p))
    // an added column (older objects lack it and read it as all null)
    // and a widened one (older objects read it at its stored width)
    spark.sql("ALTER TABLE gdec.main.li ADD COLUMN l_bonus DOUBLE")
    spark.sql("ALTER TABLE gdec.main.li ALTER COLUMN l_linenumber TYPE BIGINT")
    spark.table("gdec.main.li").limit(100)
      .withColumn("l_bonus", col("l_extendedprice") / 7)
      .withColumn("l_orderkey", col("l_orderkey") + 100000)
      .writeTo("gdec.main.li").append()
    tableViews()
    val evolved = "SELECT COUNT(*) AS n, SUM(CAST(l_bonus AS DECIMAL(14,2))) AS b, " +
      "SUM(CAST(l_linenumber AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS ld, " +
      "SUM(l_linenumber) AS sl FROM {t} WHERE {pred}"
    preds.foreach(p => assert(samePushed(evolved, "dp_cat", p).isRight))
    // time travel to the table as first written
    views("dp_v1", o => spark.read.options(o).format("graft-objects").load(s"$dir@v1"))
    val travel = spark.sql(narrow.replace("{t}", "gdec.main.li VERSION AS OF 1")
      .replace("{pred}", "TRUE"))
    assert(plan(travel).contains("GraftPartialAggScan"), plan(travel).take(1500))
    assert(outcome(travel) == outcome(sqlOn(narrow, "dp_v1_ref", "TRUE")))
  }

  test("MIN/MAX of a timestamp cast to DATE in a zone with daylight saving") {
    li
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val tmpl = "SELECT MIN(CAST(l_shipdate AS DATE)) AS a, " +
        "MAX(CAST(l_shipdate AS DATE)) AS b FROM {t} WHERE {pred}"
      preds.foreach(p => samePushed(tmpl, "dp_li", p))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("without ANSI the money sums do not push, and the rows are the same") {
    li
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for (tmpl <- Seq(narrow, wide); pred <- preds) {
        val df = sqlOn(tmpl, "dp_li", pred)
        assert(plan(df).contains("GraftObjectScan") &&
          !plan(df).contains("GraftPartialAggScan"), plan(df).take(1500))
        assert(outcome(df) == outcome(sqlOn(tmpl, "dp_li_ref", pred)))
      }
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("a Long SUM that overflows: ANSI raises as unpushed, non-ANSI wraps as unpushed") {
    val dir = tmp("graft-decovf") + "/t"
    spark.createDataFrame(Seq(Tuple1(Long.MaxValue), Tuple1(1L))).toDF("v").coalesce(1)
      .write.format("graft-objects").mode("overwrite").save(dir)
    objectViews("dp_ovf", dir)
    val tmpl = "SELECT SUM(v) AS s FROM {t} WHERE {pred}"
    assert(samePushed(tmpl, "dp_ovf", "TRUE") == Left("ARITHMETIC_OVERFLOW"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(samePushed(tmpl, "dp_ovf", "TRUE") == Right(Seq(s"[${Long.MinValue}]")))
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }
}
