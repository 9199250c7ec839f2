package graft

import java.io.File
import java.sql.Timestamp

import graft.sources.{ObjectFile, ObjectFormat}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Widened pushdown surface of the object store: temporal / decimal /
  * boolean filter values, NOT and null-safe equality (both in genuine
  * three-valued logic), and OR-based object pruning. Prune proofs use
  * the corrupted-body discipline: if a query still answers after the
  * supposedly-prunable object's body is destroyed, the reader never
  * opened it.
  */
class PushdownWideningSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // flips the byte in the middle of the column segments; the header,
  // directory and footer stay intact, so planning still reads them
  private def corruptBody(path: String): Unit = {
    val mid = ObjectFile.using(path) { o =>
      val last = o.segment(o.schema.length - 1)
      (o.segment(0)._1 + last._1 + last._2) / 2
    }
    val raf = new java.io.RandomAccessFile(path, "rw")
    raf.seek(mid)
    val b = raf.read(); raf.seek(mid); raf.write(b ^ 0xff)
    raf.close()
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("timestamp range predicates push into the reader and prune objects") {
    val dir = tmp("graft-tspush"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("v", LongType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(ts("1992-01-01 00:00:00"), 1L),
        Row(ts("1993-06-01 00:00:00"), 2L)).iterator)
    ObjectFormat.writeObject(s"$tgt/t.1", schema,
      Seq(Row(ts("1995-01-01 00:00:00"), 3L),
        Row(ts("1996-06-01 00:00:00"), 4L)).iterator)

    val back = spark.read.format("graft-objects").load(tgt)
    val q = back.filter(col("ts") >= lit(ts("1994-01-01 00:00:00")))
    // the predicate must reach the scan, not stay a residual Filter
    assert(q.queryExecution.executedPlan.toString.contains("ts"),
      "timestamp predicate must be pushed")
    // t.0 is entirely below the bound: corrupt it, the answer survives
    corruptBody(s"$tgt/t.0")
    assert(q.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L))
    // boundary inclusion stays exact through the micros conversion
    assert(back.filter(col("ts") === lit(ts("1995-01-01 00:00:00")))
      .collect().map(_.getLong(1)).toSeq == Seq(3L))
  }

  test("NOT pushes with three-valued logic: null rows survive a DELETE, vanish from a read") {
    val dir = tmp("graft-notpush"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(1L, 5L), Row(2L, 7L), Row(3L, null)).iterator)

    val back = spark.read.format("graft-objects").load(tgt)
    // NOT(v = 5): the null row is UNKNOWN, not TRUE — it must NOT be
    // emitted (the old unknown-collapses-to-false eval would have
    // turned NOT(false) into true and wrongly emitted it)
    val got = back.filter(not(col("v") === 5L)).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("NOT(= v) prunes an object whose footer pins every value to v") {
    val dir = tmp("graft-notprune"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    new File(tgt).mkdirs()
    // t.0: all rows v = 5 (min == max == 5 in the footer)
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(1L, 5L), Row(2L, 5L)).iterator)
    ObjectFormat.writeObject(s"$tgt/t.1", schema,
      Seq(Row(3L, 6L), Row(4L, 7L)).iterator)

    corruptBody(s"$tgt/t.0") // prunable: no row can satisfy v != 5
    val got = spark.read.format("graft-objects").load(tgt)
      .filter(col("v") =!= 5L).collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("OR prunes an object only when BOTH branches miss its range") {
    val dir = tmp("graft-orprune"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("v", LongType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(10L), Row(20L)).iterator) // inside neither branch
    ObjectFormat.writeObject(s"$tgt/t.1", schema,
      Seq(Row(3L), Row(150L)).iterator)

    corruptBody(s"$tgt/t.0")
    val got = spark.read.format("graft-objects").load(tgt)
      .filter(col("v") < 5L || col("v") > 100L).collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(3L, 150L))
  }

  test("null-safe equality evaluates in the reader, including the NULL match") {
    val dir = tmp("graft-nseq"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(1L, "x"), Row(2L, null), Row(3L, "y")).iterator)

    val back = spark.read.format("graft-objects").load(tgt)
    assert(back.filter(col("s") <=> lit("x")).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(back.filter(col("s") <=> lit(null.asInstanceOf[String]))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("decimal predicates compare exactly — fractions never truncate to longs") {
    val dir = tmp("graft-decpush"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("d", DecimalType(10, 2))))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(1L, BigDecimal("1.00").bigDecimal),
        Row(2L, BigDecimal("1.50").bigDecimal)).iterator)

    val back = spark.read.format("graft-objects").load(tgt)
    // a longValue()-based compare would see both rows as 1 and match both
    assert(back.filter(col("d") === lit(BigDecimal("1.50")))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(back.filter(col("d") > lit(BigDecimal("1.25")))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(back.filter(col("d") === lit(BigDecimal("1.49"))).count() == 0)
  }

  test("boolean predicates evaluate in the reader") {
    val dir = tmp("graft-boolpush"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("b", BooleanType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(1L, true), Row(2L, false), Row(3L, null)).iterator)

    val back = spark.read.format("graft-objects").load(tgt)
    assert(back.filter(col("b") === true).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(back.filter(col("b") =!= true).collect()
      .map(_.getLong(0)).toSeq == Seq(2L)) // null is unknown, not true
  }

  test("SQL DELETE accepts != and temporal predicates (previously refused)") {
    val root = java.nio.file.Files.createTempDirectory("graft-widedel").toString
    spark.conf.set("spark.sql.catalog.gwide", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwide.root", root)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("ts", TimestampType)))
    new File(s"$root/ns/t").mkdirs()
    ObjectFormat.writeObject(s"$root/ns/t/t.0", schema,
      Seq(Row(1L, 5L, ts("1994-01-01 00:00:00")),
        Row(2L, 7L, ts("1995-01-01 00:00:00")),
        Row(3L, null, ts("1996-01-01 00:00:00"))).iterator)

    // v <> 5 deletes only row 2: the TRUE row. Row 3 (NULL ⇒ unknown)
    // must survive — SQL deletes only where the predicate is TRUE.
    spark.sql("DELETE FROM gwide.ns.t WHERE v <> 5")
    assert(spark.sql("SELECT k FROM gwide.ns.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // temporal DELETE pushes through the same evaluable gate
    spark.sql("DELETE FROM gwide.ns.t WHERE ts >= TIMESTAMP '1996-01-01 00:00:00'")
    assert(spark.sql("SELECT k FROM gwide.ns.t").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pushed-vs-residual equivalence holds on the widened filter surface") {
    // the same query through graft-objects and through parquet-in-memory
    // must agree row-for-row on a null-riddled mixed-type fixture
    val dir = tmp("graft-wideeq"); val tgt = s"$dir/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType),
      StructField("d", DecimalType(10, 2)), StructField("b", BooleanType),
      StructField("s", StringType)))
    new File(tgt).mkdirs()
    val rows = (0 until 200).map { i =>
      Row(i.toLong,
        if (i % 7 == 0) null else ts(s"199${i % 8}-01-01 00:00:00"),
        if (i % 5 == 0) null else BigDecimal(i).bigDecimal.movePointLeft(1).setScale(2),
        if (i % 3 == 0) null else java.lang.Boolean.valueOf(i % 2 == 0),
        if (i % 11 == 0) null else s"s$i")
    }
    rows.grouped(50).zipWithIndex.foreach { case (g, j) =>
      ObjectFormat.writeObject(s"$tgt/t.$j", schema, g.iterator)
    }
    val obj = spark.read.format("graft-objects").load(tgt)
    val ref = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)

    val preds = Seq(
      col("ts") >= lit(ts("1994-01-01 00:00:00")),
      not(col("d") > lit(BigDecimal("5.00"))),
      col("b") <=> lit(true),
      not(col("s") === "s42") && col("k") < 100L,
      col("k") < 10L || not(col("b") === false))
    preds.foreach { p =>
      val a = obj.filter(p).select("k").collect().map(_.getLong(0)).sorted
      val b = ref.filter(p).select("k").collect().map(_.getLong(0)).sorted
      assert(a.toSeq == b.toSeq, s"pushdown/residual divergence on $p")
    }
  }
}
