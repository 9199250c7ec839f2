package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{DeleteVectors, GraftObjectTable, GraftPartialAggScan, ObjectStoreIngest}

class RelationalSpec extends SparkSpec {

  test("q1_agg returns the 6 returnflag×linestatus groups with sane sums") {
    val rows = run("q1_agg").collect()
    assert(rows.length == 6)
    val flags = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(flags.subsetOf(Set(("A","F"),("N","F"),("N","O"),("R","F"))) ||
      flags.size == 6) // fixture domains: {A,N,R} x {F,O}
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("sum_qty")) > 0)
      assert(r.getLong(r.fieldIndex("count_order")) > 0)
      val avg = r.getDouble(r.fieldIndex("avg_qty"))
      assert(avg > 0 && avg < 51)
    }
  }

  test("q1_agg aggregates inside the object store: one partial scan, exact rows") {
    val root = Files.createTempDirectory("graft-q1").toString
    ObjectStoreIngest.ingest(spark, sf, root)
    // a deletion vector on one lineitem object
    val li = s"$root/lineitem"
    DeleteVectors.write(GraftObjectTable.listObjects(li).head, (0 until 60 by 3).toArray)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    Tables.objectStoreRoot = Some(root)
    val (pushed, scans) = try {
      val df = run("q1_agg")
      (rows(df), df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan })
    } finally Tables.objectStoreRoot = None
    val desc = scans.collect { case s: GraftPartialAggScan => s.description() }
    assert(scans.length == 1 && desc.length == 1, scans)
    // Spark's SQL form of sum_charge's three-factor term
    assert(desc.head.contains("sum((CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) * " +
      "CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)))"), desc.head)
    // the same objects read with the aggregation held off
    spark.read.format("graft-objects").option("agg.pushdown", "false").load(li)
      .createOrReplaceTempView("lineitem")
    val unpushed = try rows(spark.sql(SparkEntry.oracleSql("q1_agg")))
      finally spark.catalog.dropTempView("lineitem")
    // the parquet route over the live rows
    val pq = Files.createTempDirectory("graft-q1pq").toString
    spark.read.format("graft-objects").load(li).write.parquet(s"$pq/lineitem.parquet")
    val viaParquet = rows(SparkEntry.queries("q1_agg")(spark, pq))
    assert(pushed.length == 6 && pushed == unpushed && pushed == viaParquet,
      s"pushed $pushed\nunpushed $unpushed\nparquet $viaParquet")
  }

  test("q_agg_global merges partials like the reference client (1 row)") {
    val r = run("q_agg_global").collect()
    assert(r.length == 1)
    assert(r(0).getDouble(0) <= r(0).getDouble(1)) // min <= max
    assert(r(0).getLong(3) > 0)
  }

  test("q_scan_project_filter projects exactly 4 columns, filter holds") {
    val df = run("q_scan_project_filter")
    assert(df.columns.toSeq ==
      Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"))
    assert(df.filter(col("l_extendedprice") <= 71000.0).count() == 0)
  }

  test("pushdown on/off equivalence (the reference's --use-cls discipline)") {
    // SkyhookDM's primary correctness signal: the same query with
    // storage pushdown enabled vs disabled must agree (SURVEY §5.1).
    def rows() = run("q_scan_project_filter").collect().map(_.toString).sorted
    val withPushdown = rows()
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try {
      val without = rows()
      assert(withPushdown.sameElements(without))
    } finally spark.conf.set("spark.sql.parquet.filterPushdown", "true")
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = run("q_scan_project_filter")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_extendedprice"), plan)
    // pruned read schema: only the 4 needed columns reach the scan
    assert(plan.contains("l_extendedprice") && !plan.contains("l_comment"))
  }
}
