package graft

import java.io.File

import graft.sources.{DeleteVectors, GraftAggRowsPartition, GraftObjectPartition,
  GraftObjectTable, GraftStreamingWrite, ObjectFile, ObjectFormat}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Round-3 object-store features: footer aggregate pushdown (the
  * reference's per-object agg partials, SURVEY §2.4/§4.1), exact
  * integral pushdown comparisons (no 2^53 collapse), exactly-once
  * streaming epochs, the widened codec (date/decimal/binary/struct/
  * map), footer-driven relation statistics, and bounded micro-batch
  * admission control. */
class ObjectStoreFeaturesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.map {
        case d: Double => f"$d%.9f"
        case f: Float => f"$f%.6f"
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case s: Seq[_] => s.mkString("[", ",", "]")
        case m: Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
  }

  // ---------------------------------------------------------------
  // Aggregate pushdown from footers
  // ---------------------------------------------------------------

  /** The input partitions of a query's scans, as planned. */
  private def partitionsOf(df: DataFrame): Seq[InputPartition] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }.flatten

  /** Flip a byte in the middle of an object's first column segment:
    * header, directory and footer stay intact. */
  private def corruptBody(p: String): Unit = {
    val (off, len) = ObjectFile.using(p)(_.segment(0))
    val raf = new java.io.RandomAccessFile(p, "rw")
    try {
      raf.seek(off + len / 2)
      val b = raf.read(); raf.seek(off + len / 2); raf.write(b ^ 0xff)
    } finally raf.close()
    assert(!ObjectFormat.verifyObject(p), "corruption must be scrub-visible")
  }

  test("global MIN/MAX/COUNT push down to object footers (plan + values)") {
    val dir = tmp("graft-aggpd"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(4).write.format("graft-objects").mode("overwrite").save(tgt)

    val df = spark.read.format("graft-objects").load(tgt)
      .agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"),
        count(lit(1)).as("n"), count("o_custkey").as("nc"),
        min("o_orderdate").as("mnd"), max("o_orderkey").as("mxk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: ["),
      s"aggregation must push:\n${plan.take(1200)}")
    // every object answers from its footer, in the one rows partition
    partitionsOf(df) match {
      case Seq(GraftAggRowsPartition(rows)) =>
        assert(rows.size == GraftObjectTable.listObjects(tgt).size)
      case ps => fail(s"every object must answer from its footer: $ps")
    }

    val got = df.collect()(0)
    val exp = orders.agg(min("o_totalprice"), max("o_totalprice"),
      count(lit(1)), count("o_custkey"), min("o_orderdate"),
      max("o_orderkey")).collect()(0)
    assert(got.toSeq == exp.toSeq, s"footer agg must equal full-scan agg: $got vs $exp")
  }

  test("reader-tier agg pushdown: filtered MIN/MAX/COUNT/SUM aggregate inside the reader") {
    val dir = tmp("graft-aggrd"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(4).write.format("graft-objects").mode("overwrite").save(tgt)

    val df = spark.read.format("graft-objects").load(tgt)
      .filter(col("o_totalprice") > 50000.0)
      .agg(min("o_totalprice").as("mn"), max("o_orderkey").as("mx"),
        count(lit(1)).as("n"), count("o_custkey").as("nc"),
        sum("o_orderkey").as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftPartialAggScan"),
      s"filtered agg must aggregate in the reader:\n${plan.take(1500)}")
    val exp = orders.filter(col("o_totalprice") > 50000.0)
      .agg(min("o_totalprice"), max("o_orderkey"), count(lit(1)),
        count("o_custkey"), sum("o_orderkey")).collect()(0)
    assert(df.collect()(0).toSeq == exp.toSeq)
  }

  test("reader-tier agg pushdown: GROUP BY partials, one row per object per group") {
    val dir = tmp("graft-agggb"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(4).write.format("graft-objects").mode("overwrite").save(tgt)

    val df = spark.read.format("graft-objects").load(tgt)
      .filter(col("o_totalprice") > 10000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sc"),
        min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftPartialAggScan") &&
      plan.contains("PushedGroupBy: [o_orderstatus]"),
      s"grouped agg must push into the reader:\n${plan.take(1500)}")
    assert(canon(df) == canon(orders.filter(col("o_totalprice") > 10000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sc"),
        min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))))
  }

  test("floating-point SUM is refused (order-dependent): falls back to row scan, stays exact") {
    val dir = tmp("graft-aggfp"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(3).write.format("graft-objects").mode("overwrite").save(tgt)
    val df = spark.read.format("graft-objects").load(tgt)
      .groupBy("o_orderstatus").agg(sum("o_totalprice").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GraftPartialAggScan"),
      s"double SUM must not push:\n${plan.take(1200)}")
    // the refusal exists BECAUSE double sums are accumulation-order-
    // dependent; the two routes may differ in the last ulps, so the
    // comparison here is tolerant (the oracle-exact money path uses
    // DECIMAL sums instead — design rule 4)
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = orders.groupBy("o_orderstatus").agg(sum("o_totalprice").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - exp(k)) <= math.abs(exp(k)) * 1e-12,
        s"group $k: $v vs ${exp(k)}")
    }
  }

  test("pushed aggregates decode ZERO rows: correct even with corrupted bodies") {
    val dir = tmp("graft-aggcorrupt"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(3).write.format("graft-objects").mode("overwrite").save(tgt)
    val exp = orders.agg(min("o_totalprice"), max("o_orderkey"),
      count(lit(1))).collect()(0)
    // flip a byte in the middle of every object BODY (headers/footers
    // intact): any row decode would now see garbage or throw
    GraftObjectTable.listObjects(tgt).foreach { p =>
      val raf = new java.io.RandomAccessFile(p, "rw")
      raf.seek(raf.length() / 2)
      val b = raf.read(); raf.seek(raf.length() / 2); raf.write(b ^ 0xff)
      raf.close()
      assert(!ObjectFormat.verifyObject(p), "corruption must be scrub-visible")
    }
    val got = spark.read.format("graft-objects").load(tgt)
      .agg(min("o_totalprice"), max("o_orderkey"), count(lit(1))).collect()(0)
    assert(got.toSeq == exp.toSeq,
      "footer-only aggregation must survive body corruption untouched")
  }

  test("aggregates that footers can't answer fall back to the row scan") {
    val dir = tmp("graft-aggfb"); val tgt = s"$dir/orders"
    Tables.load(spark, sf, "orders")
      .repartition(2).write.format("graft-objects").mode("overwrite").save(tgt)
    val back = spark.read.format("graft-objects").load(tgt)
    // SUM, GROUP BY, and filtered aggregates must NOT claim pushdown
    val cases = Seq(
      back.agg(sum("o_totalprice").as("s")),
      back.groupBy("o_orderstatus").agg(min("o_totalprice").as("mn")),
      back.filter(col("o_orderkey") > 100).agg(count(lit(1)).as("n")))
    cases.foreach { q =>
      val parts = partitionsOf(q)
      assert(parts.nonEmpty && !parts.exists(_.isInstanceOf[GraftAggRowsPartition]),
        s"no object may answer from its footer: $parts\n" +
          q.queryExecution.executedPlan.toString.take(600))
    }
    // and the fallback is still correct
    val exp = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > 100).count()
    assert(back.filter(col("o_orderkey") > 100).count() == exp)
  }

  test("aggregate over an empty table yields the SQL identity row") {
    val dir = tmp("graft-aggempty"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema, Iterator.empty)
    val r = spark.read.format("graft-objects").load(tgt)
      .agg(count(lit(1)).as("n"), min("k").as("mn")).collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    // objects that emit no partial: every object pruned by its footer,
    // or read with no row matching — Spark's final merge gives the row
    ObjectFormat.writeObject(s"$tgt/t.1", schema, Seq(0L, 10L, 20L, 30L).map(Row(_)).iterator)
    val back = spark.read.format("graft-objects").load(tgt)
    for (pred <- Seq(col("k") > 100000L, col("k") === 15L)) {
      val q = back.filter(pred).agg(count(lit(1)), min("k"), sum("k"))
      assert(q.queryExecution.executedPlan.toString.contains("GraftPartialAggScan"))
      assert(q.collect().toSeq == Seq(Row(0L, null, null)), pred.toString)
      assert(back.filter(pred).agg(count(lit(1)), min("k"), sum("k")).collect().toSeq ==
        spark.read.format("graft-objects").option("agg.pushdown", "false").load(tgt)
          .filter(pred).agg(count(lit(1)), min("k"), sum("k")).collect().toSeq)
    }
  }

  test("each object answers from its footer unless a deletion vector forces a read") {
    val dir = tmp("graft-aggdv"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    new File(tgt).mkdirs()
    val data = (0 until 4).map(o => (0 until 500).map { i =>
      val k = o * 1000L + i
      (k, if (i % 7 == 0) None else Some((k * 37 % 1001) / 4.0))
    })
    data.zipWithIndex.foreach { case (rows, o) =>
      ObjectFormat.writeObject(s"$tgt/t.$o", schema,
        rows.map { case (k, v) => Row(k, v.map(Double.box).orNull) }.iterator)
    }
    // the DV drops the object's smallest k and its largest v
    val dvObj = s"$tgt/t.0"
    val maxV = data(0).flatMap(_._2).max
    val dropped = data(0).indices.filter(i => i == 0 || data(0)(i)._2.contains(maxV))
    DeleteVectors.write(dvObj, dropped.toArray)
    val live = data.zipWithIndex.flatMap { case (rows, o) =>
      if (o == 0) rows.indices.filterNot(dropped.contains).map(rows) else rows
    }
    val exp = Row(live.size.toLong, live.map(_._1).min, live.flatMap(_._2).max,
      live.count(_._2.isDefined).toLong)
    def query() = spark.read.format("graft-objects").load(tgt)
      .agg(count(lit(1)), min("k"), max("v"), count("v"))
    val parts = partitionsOf(query())
    assert(parts.collect { case GraftAggRowsPartition(rows) => rows.size } == Seq(3) &&
      parts.collect { case GraftObjectPartition(p) => p } == Seq(dvObj), parts)
    assert(query().collect().toSeq == Seq(exp))
    // the three footer-answered objects are never opened past their footers
    (1 until 4).foreach(o => corruptBody(s"$tgt/t.$o"))
    assert(query().collect().toSeq == Seq(exp))
  }

  // ---------------------------------------------------------------
  // Exact integral comparisons (2^53 straddle)
  // ---------------------------------------------------------------

  private val P53 = 1L << 53 // doubles collapse 2^53 and 2^53+1

  test("pushed filters on BIGINT keys above 2^53 compare exactly") {
    val dir = tmp("graft-p53"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    import org.apache.spark.sql.Row
    new File(tgt).mkdirs()
    // two objects so footer pruning is exercised alongside row compare
    ObjectFormat.writeObject(s"$tgt/t.0", schema,
      Seq(Row(0L), Row(P53 - 1), Row(P53)).iterator)
    ObjectFormat.writeObject(s"$tgt/t.1", schema,
      Seq(Row(P53 + 1), Row(P53 + 2), Row(P53 + 10)).iterator)
    val back = spark.read.format("graft-objects").load(tgt)

    val eq = back.filter(col("k") === lit(P53 + 1))
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(P53 + 1),
      "EqualTo(2^53+1) must not also match 2^53")
    assert(eq.rdd.getNumPartitions == 1,
      "exact footer stats must prune the object that only holds ≤ 2^53")
    assert(back.filter(col("k") > lit(P53)).count() == 3)
    assert(back.filter(col("k") >= lit(P53)).count() == 4)
    assert(back.filter(col("k") < lit(P53 + 1)).count() == 3)
    assert(back.filter(col("k") <= lit(P53 + 1)).count() == 4)
    assert(back.filter(col("k").isin(P53, P53 + 1)).count() == 2)
  }

  test("property: every pushed-filter op is exact for values straddling 2^53") {
    val dir = tmp("graft-p53prop"); val tgt = s"$dir/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    import org.apache.spark.sql.Row
    val keys = (-3L to 3L).map(P53 + _) ++ Seq(0L, 1L, -P53)
    new File(tgt).mkdirs()
    ObjectFormat.writeObject(s"$tgt/t.0", schema, keys.map(Row(_)).iterator)
    val back = spark.read.format("graft-objects").load(tgt)

    val genV = Gen.oneOf(keys ++ Seq(P53 - 2, P53 + 4))
    val genOp = Gen.choose(0, 4)
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(7L)),
      Prop.forAll(genV, genOp) { (v, op) =>
        val (pred, truth) = op match {
          case 0 => (col("k") === v, (k: Long) => k == v)
          case 1 => (col("k") > v, (k: Long) => k > v)
          case 2 => (col("k") >= v, (k: Long) => k >= v)
          case 3 => (col("k") < v, (k: Long) => k < v)
          case _ => (col("k") <= v, (k: Long) => k <= v)
        }
        val got = back.filter(pred).collect().map(_.getLong(0)).toSet
        got == keys.filter(truth).toSet
      })
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------------------------
  // Exactly-once streaming epochs
  // ---------------------------------------------------------------

  private val epochSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def stageEpoch(sw: GraftStreamingWrite, epoch: Long,
      parts: Seq[Seq[(Long, Double)]]): Array[WriterCommitMessage] = {
    val factory = sw.createStreamingWriterFactory(null)
    parts.zipWithIndex.map { case (rows, pid) =>
      val w = factory.createWriter(pid, epoch * 100 + pid, epoch)
      rows.foreach { case (id, v) =>
        w.write(new GenericInternalRow(Array[Any](id, v)): InternalRow)
      }
      w.commit()
    }.toArray
  }

  test("streaming epoch commit is idempotent under replay") {
    val dir = tmp("graft-epoch"); val tgt = s"$dir/t"
    new File(tgt).mkdirs()
    val sw = new GraftStreamingWrite(epochSchema, tgt)
    val data = Seq(Seq((1L, 1.0), (2L, 2.0)), Seq((3L, 3.0)))

    sw.commit(0L, stageEpoch(sw, 0L, data))
    assert(GraftObjectTable.listObjects(tgt).size == 2)
    // replay the SAME epoch (restart-after-failure): no duplicates,
    // replayed staged files cleaned up
    sw.commit(0L, stageEpoch(sw, 0L, data))
    assert(GraftObjectTable.listObjects(tgt).size == 2,
      "epoch replay must not append duplicate objects")
    assert(!new File(tgt).listFiles().exists(_.getName.startsWith("_staged")),
      "replayed staged files must be removed")
    // next epoch appends at the tail as usual
    sw.commit(1L, stageEpoch(sw, 1L, Seq(Seq((4L, 4.0)))))
    val objs = GraftObjectTable.listObjects(tgt)
    assert(objs.size == 3 && objs.map(new File(_).getName).contains("t.2"))
    assert(spark.read.format("graft-objects").load(tgt).count() == 4)
  }

  test("a half-finished epoch commit is completed by the replay") {
    val dir = tmp("graft-epochcrash"); val tgt = s"$dir/t"
    new File(tgt).mkdirs()
    val sw = new GraftStreamingWrite(epochSchema, tgt)
    val data = Seq(Seq((1L, 1.0)), Seq((2L, 2.0)), Seq((3L, 3.0)))
    sw.commit(0L, stageEpoch(sw, 0L, data))
    assert(GraftObjectTable.listObjects(tgt).size == 3)
    // simulate a crash that happened between the marker write and the
    // last rename: delete one committed object, marker still present
    assert(new File(s"$tgt/t.1").delete())
    sw.commit(0L, stageEpoch(sw, 0L, data)) // the replay
    assert(GraftObjectTable.listObjects(tgt).map(new File(_).getName) ==
      Seq("t.0", "t.1", "t.2"), "replay must restore the missing object")
    val back = spark.read.format("graft-objects").load(tgt)
    assert(back.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(GraftObjectTable.listObjects(tgt).forall(ObjectFormat.verifyObject))
  }

  // ---------------------------------------------------------------
  // Widened codec
  // ---------------------------------------------------------------

  test("codec round-trips date, decimal, binary, struct, map, array<string>") {
    val dir = tmp("graft-widecodec"); val tgt = s"$dir/wide"
    val src = spark.range(0, 50).selectExpr(
      "id",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
      "CAST(id AS DECIMAL(12,2)) / 7 AS dec",
      "CAST(concat('blob-', id) AS BINARY) AS bin",
      "named_struct('a', id * 2, 'b', concat('s', id), " +
        "'inner', named_struct('x', CAST(id AS DOUBLE) / 3)) AS st",
      "map(concat('k', id), id, 'shared', id + 1) AS m",
      "array(concat('x', id), NULL, '') AS arr",
      "IF(id % 5 = 0, NULL, id) AS maybe")
      .withColumn("d", when(col("id") % 7 === 0, lit(null)).otherwise(col("d")))
    src.repartition(3).write.format("graft-objects").mode("overwrite").save(tgt)
    val back = spark.read.format("graft-objects").load(tgt)
    // DDL cannot express containsNull flags — compare the DDL forms
    assert(back.schema.toDDL == src.schema.toDDL, "schema must round-trip via DDL")
    assert(canon(back) == canon(src.toDF()))
    // date stats are exact integral stats → footer pruning applies
    assert(back.filter(col("d") === lit(java.sql.Date.valueOf("2024-01-11")))
      .count() == 1)
  }

  test("the multimodal media table (binary + metadata struct) round-trips") {
    val dir = tmp("graft-media"); val tgt = s"$dir/media"
    val media = Tables.documents(spark, sf).select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(
        when(col("doc_id") % 3 === 0, "image").otherwise("other").as("media_type"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("checksum")).as("meta"))
    media.repartition(2).write.format("graft-objects").mode("overwrite").save(tgt)
    val back = spark.read.format("graft-objects").load(tgt)
    assert(canon(back) == canon(media))
  }

  // ---------------------------------------------------------------
  // Footer row counts → relation statistics (runstats → CBO)
  // ---------------------------------------------------------------

  test("relation statistics report exact footer row counts; small side auto-broadcasts") {
    val dir = tmp("graft-stats")
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")
    orders.repartition(3).write.format("graft-objects").mode("overwrite").save(s"$dir/orders")
    customer.write.format("graft-objects").mode("overwrite").save(s"$dir/customer")
    val o = spark.read.format("graft-objects").load(s"$dir/orders")
    val c = spark.read.format("graft-objects").load(s"$dir/customer")

    val stats = o.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(orders.count())),
      s"numRows must be the exact footer total, got ${stats.rowCount}")

    // no broadcast hint: the size statistics alone must pick BHJ with
    // the small side as the build side (runstats feeding the planner)
    val j = o.join(c, o("o_custkey") === c("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats-driven broadcast expected:\n${plan.take(800)}")
    assert(j.count() == orders.join(customer,
      orders("o_custkey") === customer("c_custkey")).count())
  }

  // ---------------------------------------------------------------
  // Admission control (maxObjectsPerTrigger)
  // ---------------------------------------------------------------

  test("maxObjectsPerTrigger drains an 8-object backlog in bounded micro-batches") {
    val dir = tmp("graft-admission"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(8).write.format("graft-objects").mode("overwrite").save(tgt)
    assert(GraftObjectTable.listObjects(tgt).size == 8)

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-objects")
      .option("maxObjectsPerTrigger", "2")
      .load(tgt)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count()
        batchSizes.synchronized { batchSizes += n }
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val sizes = batchSizes.synchronized(batchSizes.toList).filter(_ > 0)
    assert(sizes.sum == orders.count(), "backlog must drain completely")
    assert(sizes.size == 4,
      s"8 objects at 2 per trigger = 4 micro-batches, got $sizes")
  }

  test("maxBytesPerTrigger bounds each micro-batch by object bytes " +
      "and still drains the backlog") {
    val dir = tmp("graft-admission-bytes"); val tgt = s"$dir/orders"
    val orders = Tables.load(spark, sf, "orders")
    orders.repartition(8).write.format("graft-objects").mode("overwrite").save(tgt)
    val objs = GraftObjectTable.listObjects(tgt)
    assert(objs.size == 8)
    // cap ~= two objects per batch (objects are near-uniform here)
    val cap = objs.map(p => new java.io.File(p).length()).sorted.apply(4) * 2

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-objects")
      .option("maxBytesPerTrigger", cap.toString)
      .load(tgt)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count()
        batchSizes.synchronized { batchSizes += n }
        ()
      }
      .option("checkpointLocation", s"$dir/ckptb")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val sizes = batchSizes.synchronized(batchSizes.toList).filter(_ > 0)
    assert(sizes.sum == orders.count(), "backlog must drain completely")
    assert(sizes.size >= 4 && sizes.size <= 8,
      s"byte cap of ~2 objects should take 4-8 bounded batches, got $sizes")
  }

  test("change feed: version-number offsets, insert/delete events, " +
      "checkpoint restart resumes exactly after consumed versions") {
    val dir = tmp("graft-cdc"); val tgt = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val nation = Tables.load(spark, sf, "nation")
    nation.write.format("graft-objects").mode("overwrite").save(tgt) // v1
    def drain(sink: String): Array[(String, Int)] = {
      // foreachBatch, not the memory sink: memory cannot RECOVER from
      // a checkpoint, and checkpoint resumption is the point here
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
      val q = spark.readStream.format("graft-objects")
        .option("changeFeed", "true").option("startingVersion", "0")
        .load(tgt)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("_change_type", "_version").collect()
            .foreach(r => got.add((r.getString(0), r.getInt(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toArray
    }
    val first = drain("cdc_a")
    assert(first.count(_._1 == "insert") == nation.count(),
      "initial drain must stream every ingested row as an insert")
    assert(first.forall(_._2 == 1) && first.forall(_._1 == "insert"))
    // more history: append (v2), then truncate-overwrite (v3 = del+add)
    nation.limit(5).write.format("graft-objects").mode("append").save(tgt)
    nation.limit(3).write.format("graft-objects").mode("overwrite").save(tgt)
    val second = drain("cdc_b")
    assert(second.forall(t => t._2 == 2 || t._2 == 3),
      s"restart must resume AFTER version 1, got versions ${second.map(_._2).distinct.toSeq}")
    // v2: 5 inserts; v3: deletes of the 30 pre-truncate rows + 3 inserts
    assert(second.count(t => t._1 == "insert" && t._2 == 2) == 5)
    assert(second.count(t => t._1 == "delete" && t._2 == 3)
      == nation.count() + 5)
    assert(second.count(t => t._1 == "insert" && t._2 == 3) == 3)
  }

  test("commitMode=optimistic: concurrent lock-free appenders, no lost " +
      "rows, disjoint object names, serialized version history") {
    val dir = tmp("graft-occ-write"); val tgt = s"$dir/t"
    val nation = Tables.load(spark, sf, "nation")
    // seed the table through the ordinary locked path
    nation.write.format("graft-objects").mode("overwrite").save(tgt)
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val done = new java.util.concurrent.CountDownLatch(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          try {
            // distinct payload per writer so lost commits are visible
            nation.withColumn("n_nationkey",
                (col("n_nationkey") + lit(1000 * (w + 1))).cast("int"))
              .repartition(2)
              .write.format("graft-objects")
              .option("commitMode", "optimistic")
              .mode("append").save(tgt)
          } catch { case t: Throwable => errs.add(t) }
          finally done.countDown()
        }
      })
    }
    done.await(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    assert(errs.isEmpty, s"optimistic appender failed: ${errs.peek()}")
    // every writer's rows present exactly once
    val out = spark.read.format("graft-objects").load(tgt)
    assert(out.count() == nation.count() * (writers + 1))
    (1 to writers).foreach { w =>
      assert(out.filter(col("n_nationkey") >= 1000L * w &&
        col("n_nationkey") < 1000L * w + 100).count() == nation.count(),
        s"writer $w lost rows")
    }
    // object names disjoint (no silent replacement) and log serialized
    val objs = GraftObjectTable.listObjects(tgt).map(p => new java.io.File(p).getName)
    assert(objs.distinct.size == objs.size)
    val log = graft.sources.GraftVersions.readLog(tgt)
    assert(log.map(_.v) == (1 to log.size).toList,
      s"version history must be consecutive, got ${log.map(_.v)}")
    assert(log.flatMap(_.add).toSet.size == log.flatMap(_.add).size,
      "no object may be committed twice")
  }

  test("objects metadata table: footer-true rows/stats, snapshot-aware, " +
      "distributed footer reads") {
    val dir = tmp("graft-objmeta")
    val t = s"$dir/orders"
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    src.repartitionByRange(4, col("o_orderkey"))
      .write.format("graft-objects").mode("overwrite").save(t)
    val meta = GraftObjectTable.objectsMeta(spark, t).collect()
    val objs = GraftObjectTable.listObjects(t)
    assert(meta.length == objs.size, "one metadata row per object")
    assert(meta.map(_.getLong(1)).sum == src.count(), "row counts sum to table")
    // footer stats agree with the data actually inside each object
    meta.foreach { r =>
      val obj = objs.find(p => new File(p).getName == r.getString(0)).get
      val rows = spark.read.format("graft-objects")
        .load(new File(obj).getParent)
        .filter(lit(false)) // schema only; content read per object below
      val f = ObjectFormat.readFooter(obj)
      assert(r.getLong(1) == f.rowCount.toLong)
      val mins = r.getMap[String, String](3)
      assert(mins("o_orderkey") == String.valueOf(f.stats("o_orderkey").min))
      rows.unpersist()
    }
    // range layout ⇒ object key ranges are disjoint and ordered
    val ranges = meta.map { r =>
      (r.getMap[String, String](3)("o_orderkey").toLong,
        r.getMap[String, String](4)("o_orderkey").toLong)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "ranges overlap")
      case _ =>
    }
    // snapshot metadata: append then ask for the pre-append version
    val v0 = graft.sources.GraftVersions.currentVersion(t)
    src.limit(10).repartition(1)
      .write.format("graft-objects").mode("append").save(t)
    val before = GraftObjectTable.objectsMeta(spark, s"$t@v$v0")
    val after = GraftObjectTable.objectsMeta(spark, t)
    assert(before.count() == objs.size && after.count() == objs.size + 1,
      "metadata listing must be version-resolved")
  }
}
