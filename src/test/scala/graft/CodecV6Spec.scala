package graft

import java.io.{DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import com.github.luben.zstd.Zstd
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.sources.{GraftObjectTable, ObjectFormat}

/** Codec v6: null-free columnar segments drop their presence bytes
  * and store fixed-width values little-endian, so the vectorized
  * reader bulk-memcpys them into `OnHeapColumnVector`s (r8 verdict
  * #6 — the per-value decode loop was the sf10 scan-row constant).
  * Codec v7 stores each of those segments zstd-compressed when that is
  * smaller, with a (stored, decoded) length pair per column in the
  * directory. These tests pin the on-disk layout, the null/filter/DV
  * slow paths, raw storage of incompressible segments, the planner's
  * decoded sizes, and genuine-v5/v6 back-compat (hand-built v5 and v6
  * bodies must still read through both routes). */
class CodecV6Spec extends SparkSpec {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft-v6-$tag").toString + "/t"

  /** All-non-null fixture: every fixed-width column is bulk-eligible. */
  private def dense = spark.range(0, 2000).selectExpr(
    "id",
    "CAST(id % 97 AS INT) AS i",
    "CAST(id AS DOUBLE) / 7 AS d",
    "CAST(id % 13 AS FLOAT) AS f",
    "timestamp_micros(id * 1000000) AS ts",
    "concat('s', id % 31) AS s")

  /** Same shape with nulls threaded through — the presence-byte path. */
  private def sparse = spark.range(0, 2000).selectExpr(
    "id",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 97 AS INT) END AS i",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id AS DOUBLE) / 7 END AS d",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s', id % 31) END AS s")

  /** One v7 columnar object as stored: its schema DDL, row count, and
    * per column the (stored, decoded) directory pair and the stored
    * segment bytes; then the footer bytes. */
  private case class V7(ddl: String, rows: Int, dir: Seq[(Int, Int)],
      stored: Seq[Array[Byte]], tail: Array[Byte]) {
    /** Segment `c` as v6 stored it, decoded here with zstd directly. */
    def decoded(c: Int): Array[Byte] =
      if (dir(c)._1 == dir(c)._2) stored(c) else Zstd.decompress(stored(c), dir(c)._2)
  }
  private def readV7(obj: String): V7 = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(
      Files.readAllBytes(Paths.get(obj))))
    assert(in.readInt() == ObjectFormat.Magic)
    assert(in.readInt() == 7)
    val ddl = in.readUTF()
    in.readInt() // body length
    assert(in.readByte().toInt == ObjectFormat.LayoutColumnar)
    val rows = in.readInt()
    val nCols = in.readInt()
    val dir = Seq.fill(nCols)((in.readInt(), in.readInt()))
    val stored = dir.map { case (s, _) => val b = new Array[Byte](s); in.readFully(b); b }
    val tail = new Array[Byte](in.available())
    in.readFully(tail)
    V7(ddl, rows, dir, stored, tail)
  }

  test("null-free v6 segments omit presence bytes and size exactly") {
    val dir = fresh("layout")
    dense.coalesce(1).write.format("graft-objects")
      .mode("overwrite").save(dir)
    val obj = GraftObjectTable.listObjects(dir).head
    assert(ObjectFormat.Version == 7)
    val v7 = readV7(obj)
    val rows = v7.rows
    assert(rows == 2000)
    val lens = v7.dir.map(_._2)
    // decoded lengths are v6's. id BIGINT: 4-byte null-count header +
    // 8 bytes/row, NO presence
    assert(lens(0) == 4 + 8 * rows, s"id segment ${lens(0)}")
    assert(lens(1) == 4 + 4 * rows, s"i segment ${lens(1)}")
    assert(lens(2) == 4 + 8 * rows, s"d segment ${lens(2)}")
    assert(lens(3) == 4 + 4 * rows, s"f segment ${lens(3)}")
    assert(lens(4) == 4 + 8 * rows, s"ts segment ${lens(4)}")
    // every segment of this fixture compresses, so all are stored as zstd
    v7.dir.zipWithIndex.foreach { case ((stored, decoded), c) =>
      assert(stored < decoded, s"column $c stored $stored of $decoded")
    }
    // decoded segments are byte-identical to v6: a big-endian null
    // count of 0, then the values little-endian
    def v6(width: Int)(put: (ByteBuffer, Int) => Unit): Seq[Byte] = {
      val bb = ByteBuffer.allocate(4 + width * rows)
      bb.putInt(0).order(ByteOrder.LITTLE_ENDIAN)
      (0 until rows).foreach(put(bb, _))
      bb.array().toSeq
    }
    assert(v7.decoded(0).toSeq == v6(8)((b, r) => b.putLong(r.toLong)))
    assert(v7.decoded(1).toSeq == v6(4)((b, r) => b.putInt(r % 97)))
    assert(v7.decoded(2).toSeq == v6(8)((b, r) => b.putDouble(r.toDouble / 7)))
    assert(v7.decoded(3).toSeq == v6(4)((b, r) => b.putFloat((r % 13).toFloat)))
    assert(v7.decoded(4).toSeq == v6(8)((b, r) => b.putLong(r * 1000000L)))
  }

  test("an incompressible segment is stored raw and reads exactly") {
    val dir = fresh("raw")
    // xxhash64 of a sequence: 8 effectively random bytes per row
    val frame = spark.range(0, 2000).selectExpr("id", "xxhash64(id) AS r")
    frame.coalesce(1).write.format("graft-objects").mode("overwrite").save(dir)
    val v7 = readV7(GraftObjectTable.listObjects(dir).head)
    val (idStored, idDecoded) = v7.dir(0)
    val (rStored, rDecoded) = v7.dir(1)
    assert(idStored < idDecoded, "the sequence compresses")
    assert(rStored == rDecoded && rDecoded == 4 + 8 * 2000, "random bytes stay raw")
    // the raw segment is the v6 one as it is
    val expect = ByteBuffer.allocate(rDecoded)
    expect.putInt(0).order(ByteOrder.LITTLE_ENDIAN)
    frame.orderBy("id").collect().foreach(r => expect.putLong(r.getLong(1)))
    assert(v7.stored(1).toSeq == expect.array().toSeq)
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.exceptAll(frame).count() == 0 && frame.exceptAll(got).count() == 0)
    val lim = spark.read.format("graft-objects").load(dir).limit(2000)
    assert(lim.exceptAll(frame).count() == 0 && frame.exceptAll(lim).count() == 0)
  }

  test("the planner sizes objects by their decoded bytes, not the file size") {
    val dir = fresh("stats")
    dense.repartition(3).write.format("graft-objects").mode("overwrite").save(dir)
    val objs = GraftObjectTable.listObjects(dir)
    val fileTotal = objs.map(o => Files.size(Paths.get(o))).sum
    val decodedTotal = objs.map { o =>
      val v7 = readV7(o)
      Files.size(Paths.get(o)) + v7.dir.map { case (s, d) => (d - s).toLong }.sum
    }.sum
    assert(decodedTotal > fileTotal)
    val sized = spark.read.format("graft-objects").load(dir)
      .queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats.sizeInBytes
      }
    assert(sized.contains(BigInt(decodedTotal)))
  }

  test("bulk fast path is value-exact against the source frame") {
    val dir = fresh("bulk")
    dense.repartition(3).write.format("graft-objects")
      .mode("overwrite").save(dir)
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "dense primitive scan must take the vectorized route")
    assert(got.exceptAll(dense).count() == 0 &&
      dense.exceptAll(got).count() == 0)
    // aggregate over the bulk-filled columns: catches endianness slips
    // a set-compare could mask (e.g. reversed doubles that collide).
    // Double/float aggregates use order-independent min/max — sum over
    // doubles varies in the last ulp with partition boundaries.
    val agg = got.agg(sum("id"), min("d"), max("d"), max("f"),
      max("ts"), min("i")).collect().head
    val exp = dense.agg(sum("id"), min("d"), max("d"), max("f"),
      max("ts"), min("i")).collect().head
    assert(agg == exp)
  }

  test("nulls, pushed filters, and DV drops all take the exact slow path") {
    val dir = fresh("slow")
    sparse.repartition(2).write.format("graft-objects")
      .mode("overwrite").save(dir)
    val got = spark.read.format("graft-objects").load(dir)
      .filter(col("id") % 3L === 0L)
    val exp = sparse.filter(col("id") % 3L === 0L)
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    // MoR delete punches a DV → kept < rowCount inside v6 segments
    graft.sources.ObjectStoreMaintenance.deleteMoR(dir,
      Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
    val after = spark.read.format("graft-objects").load(dir)
    val expAfter = sparse.filter(col("id") >= 100L)
    assert(after.exceptAll(expAfter).count() == 0 &&
      expAfter.exceptAll(after).count() == 0)
    // pushed comparison on a bulk-eligible column after the DV
    assert(after.filter(col("d") > 100.0).count() ==
      expAfter.filter(col("d") > 100.0).count())
  }

  test("a genuine v5 columnar body (presence-always, big-endian) still reads") {
    val dir = fresh("v5")
    sparse.select("id", "d", "s").coalesce(1)
      .write.format("graft-objects").mode("overwrite").save(dir)
    val obj = GraftObjectTable.listObjects(dir).head
    rewriteToV6(obj)
    val before = Files.size(Paths.get(obj))
    // Transform the v6 object into the exact v5 on-disk shape:
    // re-add presence bytes, flip fixed-width values to big-endian,
    // version byte 5; footer bytes (layout-independent) copied as-is.
    rewriteToV5(obj)
    assert(Files.size(Paths.get(obj)) > before,
      "v5 re-added presence bytes for the null-free columns")
    // vectorized route (all-primitive projection) over the v5 object
    val got = spark.read.format("graft-objects").load(dir)
    val exp = sparse.select("id", "d", "s")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    // row route too (nested-free but force it through a pushed LIMIT)
    val lim = spark.read.format("graft-objects").load(dir).limit(2000)
    assert(lim.exceptAll(exp).count() == 0)
  }

  test("a genuine v6 columnar body (raw segments, one length each) still reads") {
    val dir = fresh("v6")
    sparse.coalesce(1).write.format("graft-objects").mode("overwrite").save(dir)
    val obj = GraftObjectTable.listObjects(dir).head
    val before = Files.size(Paths.get(obj))
    rewriteToV6(obj)
    assert(Files.size(Paths.get(obj)) > before, "v6 stores every segment raw")
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.exceptAll(sparse).count() == 0 && sparse.exceptAll(got).count() == 0)
    val lim = spark.read.format("graft-objects").load(dir).limit(2000)
    assert(lim.exceptAll(sparse).count() == 0 && sparse.exceptAll(lim).count() == 0)
  }

  test("mixed v5/v6/v7 objects in one table scan exactly") {
    val dir = fresh("mixed3")
    val frame = sparse.select("id", "d", "s")
    def shifted(k: Int) = frame.selectExpr(s"id + ${k * 10000} AS id", "d", "s")
    (0 until 3).foreach { k =>
      shifted(k).coalesce(1).write.format("graft-objects")
        .mode(if (k == 0) "overwrite" else "append").save(dir)
    }
    val objs = GraftObjectTable.listObjects(dir)
    assert(objs.size == 3)
    rewriteToV6(objs(0)); rewriteToV5(objs(0))
    rewriteToV6(objs(1))
    val versions = objs.map { o =>
      val in = new DataInputStream(Files.newInputStream(Paths.get(o)))
      try { in.readInt(); in.readInt() } finally in.close()
    }
    assert(versions.sorted == Seq(5, 6, 7))
    val exp = shifted(0).unionAll(shifted(1)).unionAll(shifted(2))
    val got = spark.read.format("graft-objects").load(dir)
    assert(got.count() == 6000)
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    val lim = spark.read.format("graft-objects").load(dir).limit(6000)
    assert(lim.exceptAll(exp).count() == 0 && exp.exceptAll(lim).count() == 0)
  }

  test("mixed v5/v6 objects in one table scan exactly") {
    val dir = fresh("mixed")
    sparse.select("id", "d", "s").coalesce(1)
      .write.format("graft-objects").mode("overwrite").save(dir)
    // second object appended at v6; first rewritten to v5 by the same
    // transform as above, exercised through the public read only
    val first = GraftObjectTable.listObjects(dir).head
    rewriteToV6(first); rewriteToV5(first)
    sparse.select("id", "d", "s").selectExpr(
      "id + 10000 AS id", "d", "s").coalesce(1)
      .write.format("graft-objects").mode("append").save(dir)
    val got = spark.read.format("graft-objects").load(dir)
    val exp = sparse.select("id", "d", "s").unionAll(
      sparse.selectExpr("id + 10000 AS id", "d", "s"))
    assert(got.count() == 4000)
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
  }

  /** The v7→v6 transform: every segment decoded and stored raw under
    * a directory of one length per column, version 6; footer bytes
    * copied as-is. */
  private def rewriteToV6(obj: String): Unit = {
    val v7 = readV7(obj)
    val segs = v7.dir.indices.map(v7.decoded)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(obj)))
    out.writeInt(ObjectFormat.Magic); out.writeInt(6)
    out.writeUTF(v7.ddl)
    out.writeInt(9 + 4 * segs.size + segs.map(_.length).sum)
    out.writeByte(ObjectFormat.LayoutColumnar)
    out.writeInt(v7.rows); out.writeInt(segs.size)
    segs.foreach(s => out.writeInt(s.length))
    segs.foreach(out.write)
    out.write(v7.tail)
    out.close()
  }

  /** The v6→v5 transform from the back-compat test, reusable. */
  private def rewriteToV5(obj: String): Unit = {
    val bytes = Files.readAllBytes(Paths.get(obj))
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(in.readInt() == ObjectFormat.Magic)
    require(in.readInt() == 6)
    val ddl = in.readUTF()
    in.readInt()
    require(in.readByte().toInt == ObjectFormat.LayoutColumnar)
    val rows = in.readInt()
    val nCols = in.readInt()
    val lens = Array.fill(nCols)(in.readInt())
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val segs = Array.tabulate(nCols) { c =>
      val nullCount = in.readInt()
      val pres =
        if (nullCount > 0) { val p = new Array[Byte](rows); in.readFully(p); p }
        else Array.fill[Byte](rows)(1)
      val valBytes = new Array[Byte](
        lens(c) - 4 - (if (nullCount > 0) rows else 0))
      in.readFully(valBytes)
      val w = schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.TimestampType => 8
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DateType => 4
        case _ => -1
      }
      if (w > 0) {
        var p = 0
        while (p < valBytes.length) {
          var a = 0; var b = w - 1
          while (a < b) {
            val t = valBytes(p + a)
            valBytes(p + a) = valBytes(p + b); valBytes(p + b) = t
            a += 1; b -= 1
          }
          p += w
        }
      }
      (pres, valBytes)
    }
    val tail = new Array[Byte](in.available())
    in.readFully(tail)
    val bodyOut = new java.io.ByteArrayOutputStream()
    val bo = new DataOutputStream(bodyOut)
    bo.writeByte(ObjectFormat.LayoutColumnar)
    bo.writeInt(rows); bo.writeInt(nCols)
    segs.foreach { case (p, v) => bo.writeInt(p.length + v.length) }
    segs.foreach { case (p, v) => bo.write(p); bo.write(v) }
    bo.flush()
    val out = new DataOutputStream(new FileOutputStream(obj))
    out.writeInt(ObjectFormat.Magic); out.writeInt(5)
    out.writeUTF(ddl)
    out.writeInt(bodyOut.size())
    bodyOut.writeTo(out)
    out.write(tail)
    out.close()
  }
}
