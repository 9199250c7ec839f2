package graft

import graft.sources.{ObjectFormat, ObjectStoreIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §1.1/§4.2(3): the custom-storage DSv2 path. Proves the
  * object layout is a drop-in storage backend: identical results for
  * the whole declared query surface, filters/columns pushed into the
  * reader, and object-level min/max stats pruning whole objects. */
class ObjectStoreSpec extends SparkSpec {

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-objstore").toString
    ObjectStoreIngest.ingest(spark, sf, dir)
    dir
  }

  private def viaObjects[T](body: => T): T = {
    Tables.objectStoreRoot = Some(root)
    try body finally Tables.objectStoreRoot = None
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case d: Double => f"$d%.9f"
        case f: Float => f"$f%.6f"
        case s: Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
  }

  test("codec roundtrip: every table identical through the object path") {
    Tables.names.foreach { t =>
      val viaParquet = canon(
        if (t == "events") Tables.events(spark, sf) else Tables.load(spark, sf, t))
      val viaObj = viaObjects(canon(
        if (t == "events") Tables.events(spark, sf) else Tables.load(spark, sf, t)))
      assert(viaObj == viaParquet, s"table $t differs through graft-objects")
    }
  }

  test("filter + column pushdown reach the object reader") {
    viaObjects {
      val df = Tables.lineitem(spark, sf)
        .filter(col("l_extendedprice") > 30000.0 && col("l_discount") >= 0.05)
        .select("l_orderkey", "l_extendedprice")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftObjectScan"), plan.take(500))
      assert(plan.contains("PushedFilters: [") &&
        plan.contains("GreaterThan(l_extendedprice,30000.0)"),
        "price predicate must be pushed into the object reader")
      assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"),
        "projection must prune to the two referenced columns")
      // and the pushed filters actually filter: same rows as parquet
      val expect = Tables.load(spark, sf, "lineitem")
      assert(df.count() ==
        expect.filter(col("l_extendedprice") > 30000.0 && col("l_discount") >= 0.05).count())
    }
  }

  test("object-level min/max stats prune whole objects (object index)") {
    viaObjects {
      val li = Tables.lineitem(spark, sf)
      val all = li.rdd.getNumPartitions // one partition per object
      assert(all > 1, "expected multiple objects for lineitem")
      val none = li.filter(col("l_orderkey") > 1000000000L)
      assert(none.rdd.getNumPartitions == 0,
        "impossible range must prune every object from the plan")
      assert(none.count() == 0)
    }
  }

  test("footer stats are written and read back") {
    val objs = graft.sources.GraftObjectTable.listObjects(s"$root/lineitem")
    assert(objs.nonEmpty)
    val f = ObjectFormat.readFooter(objs.head)
    assert(f.rowCount > 0)
    val s = f.stats("l_orderkey")
    // integral stats are exact longs in v2 (no double collapse)
    val (mn, mx) = (s.min.asInstanceOf[Long], s.max.asInstanceOf[Long])
    assert(mn >= 1 && mx >= mn)
    assert(s.nullCount == 0)
  }

  test("full declared query surface is green through the DSv2 path") {
    // streaming queries read their own file-source path (not Tables.load)
    // and are exercised elsewhere; everything else must be bit-identical
    // through the object store.
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("q_stream_")).toSeq.sorted
    val parquetSide = names.map(n => n -> canon(run(n))).toMap
    viaObjects {
      names.foreach { n =>
        val objSide = canon(SparkEntry.queries(n)(spark, sf))
        assert(objSide == parquetSide(n), s"$n differs through graft-objects")
      }
    }
  }

  test("DSv2 write: overwrite + append produce <table>.<seq> objects that read back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-objwrite").toString
    val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    // overwrite: 3 partitions -> orders.0..2
    orders.repartition(3).write.format("graft-objects")
      .mode("overwrite").save(tgt)
    val objs1 = graft.sources.GraftObjectTable.listObjects(tgt)
    assert(objs1.map(new java.io.File(_).getName) ==
      Seq("orders.0", "orders.1", "orders.2"))
    val back = spark.read.format("graft-objects").load(tgt)
    assert(canon(back) == canon(orders))
    // append: adds the next sequence numbers and doubles the rows
    orders.repartition(2).write.format("graft-objects")
      .mode("append").save(tgt)
    val objs2 = graft.sources.GraftObjectTable.listObjects(tgt)
    assert(objs2.size == 5 &&
      objs2.map(new java.io.File(_).getName).contains("orders.4"))
    assert(spark.read.format("graft-objects").load(tgt).count() == 2 * orders.count())
    // overwrite again truncates back to a single generation
    orders.repartition(2).write.format("graft-objects")
      .mode("overwrite").save(tgt)
    assert(graft.sources.GraftObjectTable.listObjects(tgt).size == 2)
    assert(spark.read.format("graft-objects").load(tgt).count() == orders.count())
  }

  test("codec edge cases: nulls, unicode, empty strings/arrays, NaN stats") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("a", ArrayType(FloatType))))
    val rows = Seq(
      Row(1L, 1.5, "héllo → 世界", Array(1.0f, -2.5f)),
      Row(2L, null, "", Array.empty[Float]),
      Row(3L, Double.NaN, null, null),
      Row(4L, -0.0, "x", Array(Float.NaN)))
    val dir = java.nio.file.Files.createTempDirectory("graft-edge").toString
    val tgt = s"$dir/edge"; new java.io.File(tgt).mkdirs()
    graft.sources.ObjectFormat.writeObject(s"$tgt/edge.0", schema, rows.iterator)
    val back = spark.read.format("graft-objects").load(tgt)
    assert(back.count() == 4)
    val byId = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(2) == "héllo → 世界")
    assert(byId(2L).isNullAt(1) && byId(2L).getString(2) == "" &&
      byId(2L).getSeq[Float](3).isEmpty)
    assert(byId(3L).getDouble(1).isNaN && byId(3L).isNullAt(2) && byId(3L).isNullAt(3))
    // NaN disables stats on d: a range filter must NOT skip the object
    // (Spark orders NaN above every double, so id=3 matches d > 100)
    val f = graft.sources.ObjectFormat.readFooter(s"$tgt/edge.0")
    assert(f.stats("d").min == null, "NaN column must carry no min/max stats")
    assert(f.stats("d").nullCount == 1, "null count is exact per column")
    val matched = back.filter(org.apache.spark.sql.functions.col("d") > 100.0).collect()
    assert(matched.map(_.getLong(0)).toSeq == Seq(3L),
      "NaN row must survive object pruning and the pushed range filter")
  }

  test("streaming read: appended objects arrive as incremental micro-batches") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-objstream").toString
    val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    val rest = orders.filter(col("o_orderkey") % 2 === 1)
    half.repartition(2).write.format("graft-objects").mode("overwrite").save(tgt)

    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def cycle(): Long = {
      val before = emitted.size
      val q = spark.readStream.format("graft-objects").load(tgt)
        .select(col("o_orderkey"), col("o_custkey"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted.synchronized {
            emitted ++= df.collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      (emitted.size - before).toLong
    }
    assert(cycle() == half.count(), "first cycle must read the initial objects")
    rest.repartition(2).write.format("graft-objects").mode("append").save(tgt)
    assert(cycle() == rest.count(),
      "second cycle must read ONLY the appended objects (offset = object count)")
    assert(emitted.map(_._1).toSet ==
      orders.select("o_orderkey").collect().map(_.getLong(0)).toSet)
  }

  test("compaction merges objects; content and seq-naming preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val tgt = s"$dir/customer"
    val customer = Tables.load(spark, sf, "customer")
    customer.repartition(6).write.format("graft-objects")
      .mode("overwrite").save(tgt)
    assert(graft.sources.GraftObjectTable.listObjects(tgt).size == 6)
    graft.sources.ObjectStoreMaintenance.compact(spark, tgt, 2)
    val objs = graft.sources.GraftObjectTable.listObjects(tgt)
    assert(objs.size == 2)
    assert(objs.map(new java.io.File(_).getName) == Seq("customer.0", "customer.1"))
    assert(canon(spark.read.format("graft-objects").load(tgt)) == canon(customer))
  }

  test("object scrub: CRC32 detects body corruption") {
    val objs = graft.sources.GraftObjectTable.listObjects(s"$root/nation")
    assert(objs.nonEmpty)
    assert(graft.sources.ObjectFormat.verifyObject(objs.head), "intact object must verify")
    // flip one byte mid-body in a copy
    val corrupt = java.nio.file.Files.createTempDirectory("graft-scrub")
      .resolve("nation.0")
    java.nio.file.Files.copy(java.nio.file.Paths.get(objs.head), corrupt)
    val mid = graft.sources.ObjectFile.using(objs.head) { o =>
      val last = o.segment(o.schema.length - 1)
      (o.segment(0)._1 + last._1 + last._2) / 2
    }
    val raf = new java.io.RandomAccessFile(corrupt.toFile, "rw")
    raf.seek(mid)
    val b = raf.read(); raf.seek(mid); raf.write(b ^ 0xff)
    raf.close()
    assert(!graft.sources.ObjectFormat.verifyObject(corrupt.toString),
      "corrupted body must fail the scrub")
  }

  test("append with a mismatched schema is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schemaguard").toString
    val tgt = s"$dir/nation"
    Tables.load(spark, sf, "nation")
      .write.format("graft-objects").mode("overwrite").save(tgt)
    val err = intercept[Exception] {
      Tables.load(spark, sf, "region")
        .write.format("graft-objects").mode("append").save(tgt)
    }
    def chain(e: Throwable): Seq[String] =
      if (e == null) Nil else e.getMessage +: chain(e.getCause)
    assert(chain(err).exists(m => m != null && m.contains("schema mismatch")),
      s"expected schema-mismatch rejection, got: ${chain(err).mkString(" | ")}")
  }

  test("streaming write: readStream -> transform -> object-store sink roundtrip") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-streamwrite").toString
    val srcTbl = s"$dir/orders"; val dstTbl = s"$dir/big_orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(2).write.format("graft-objects").mode("overwrite").save(srcTbl)
    val q = spark.readStream.format("graft-objects").load(srcTbl)
      .filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .writeStream.format("graft-objects")
      .option("path", dstTbl)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val objs = graft.sources.GraftObjectTable.listObjects(dstTbl)
    assert(objs.nonEmpty &&
      objs.forall(p => graft.sources.ObjectFormat.verifyObject(p)))
    val got = spark.read.format("graft-objects").load(dstTbl)
    val expect = orders.filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(canon(got) == canon(expect),
      "stream-written objects must equal the batch transform")
  }
}
