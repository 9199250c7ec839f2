package graft

import java.io.DataInputStream
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
  * slow paths, raw storage of incompressible segments and the
  * planner's decoded sizes. */
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
}
