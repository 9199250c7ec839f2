package graft

import java.nio.file.{Files, Paths}

import com.github.luben.zstd.Zstd
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeleteVectors, GraftColumnarReader, GraftObjectReader, ObjectFile, ObjectFormat}

/** The positional object read path: header, directory, footer and
  * exactly the needed column segments (decoded from their stored zstd
  * frames), through one helper shared by both readers and the footer
  * read. */
class ObjectFileSpec extends AnyFunSuite {

  private val schema = StructType.fromDDL(
    "id BIGINT, v BIGINT, i INT, d DOUBLE, s STRING, f FLOAT, b BOOLEAN, dec DECIMAL(12,2)")

  private def rows(n: Int): Iterator[Row] = (0 until n).iterator.map { k =>
    Row(k.toLong,
      if (k % 7 == 0) null else k.toLong * 3,
      k % 100,
      k / 7.0,
      if (k % 5 == 0) null else s"s${k % 13}",
      (k % 11).toFloat,
      k % 2 == 0,
      new java.math.BigDecimal(k).movePointLeft(2))
  }

  /** A fresh object `t.0` in its own directory. */
  private def fixture(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-objfile-$tag").resolve("t.0").toString
    val enc = new ObjectFormat.ObjectEncoder(schema)
    rows(2000).foreach(enc.addExternal)
    enc.finish(p)
    p
  }

  private def project(names: String*): StructType = StructType(names.map(schema(_)))

  private def plain(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }
  private def values(r: InternalRow, proj: StructType): Seq[Any] =
    proj.fields.indices.map(i =>
      if (r.isNullAt(i)) null else plain(r.get(i, proj(i).dataType)))

  private def rowRead(p: String, proj: StructType, pushed: Array[Filter]): Seq[Seq[Any]] = {
    val r = new GraftObjectReader(p, schema, proj, pushed)
    try Iterator.continually(r.next()).takeWhile(identity).map(_ => values(r.get(), proj)).toList
    finally r.close()
  }
  private def columnarRead(p: String, proj: StructType, pushed: Array[Filter]): Seq[Seq[Any]] = {
    val r = new GraftColumnarReader(Seq(p), schema, proj, pushed)
    val out = Seq.newBuilder[Seq[Any]]
    try {
      while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) out += values(it.next(), proj)
      }
    } finally r.close()
    out.result()
  }

  test("planned reads cover exactly the needed segments, adjacent ones merged") {
    val p = fixture("ranges")
    ObjectFile.using(p) { o =>
      assert(o.rowCount == 2000)
      // the directory tiles the body: each segment starts where the last ends
      (1 until schema.length).foreach { i =>
        assert(o.segment(i)._1 == o.segment(i - 1)._1 + o.segment(i - 1)._2)
      }
      def seg(i: Int) = o.segment(i)
      def run(a: Int, b: Int) = (seg(a)._1, seg(b)._1 + seg(b)._2 - seg(a)._1)

      // i >= 0 is proven for every row by the footer and drops out; the
      // filter on v stays, so v's segment joins id's into one read
      val residual = o.residual(Array(GreaterThanOrEqual("i", 0), GreaterThan("v", 10L)))
      assert(residual.toSeq == Seq(GreaterThan("v", 10L)))
      val need = o.needed(project("id", "s"), residual)
      assert(need.toSeq == Seq(true, true, false, false, true, false, false, false))
      assert(o.ranges(need) == Seq(run(0, 1), run(4, 4)))

      assert(o.ranges(o.needed(project("d"), Array(EqualTo("b", true)))) ==
        Seq(run(3, 3), run(6, 6)))
      assert(o.ranges(o.needed(schema, Array.empty)) == Seq(run(0, schema.length - 1)))
      // names the object lacks (the metadata column) need no segment
      assert(o.ranges(o.needed(StructType(Seq(StructField("_object", StringType))),
        Array.empty)).isEmpty)

      // the read fetches those stored bytes and nothing else, and
      // hands back each segment decoded
      val before = o.bytesRead
      val segs = o.segments(need)
      assert(o.bytesRead - before == o.ranges(need).map(_._2).sum)
      val file = Files.readAllBytes(Paths.get(p))
      segs.zipWithIndex.foreach { case (b, i) =>
        if (!need(i)) assert(b == null, s"segment $i read but not needed")
        else {
          val stored = file.slice(seg(i)._1.toInt, (seg(i)._1 + seg(i)._2).toInt)
          assert(b.length == o.decodedLength(i))
          val decoded =
            if (stored.length == b.length) stored else Zstd.decompress(stored, b.length)
          assert(b.toSeq == decoded.toSeq)
        }
      }
    }
  }

  test("a footer read is two positional reads: head and tail") {
    val p = fixture("footer")
    ObjectFile.using(p) { o =>
      val f = o.footer
      assert(f.rowCount == 2000 && f.stats("v").nullCount == 286)
      // the head probe plus the tail from the footer's start; no body byte
      val bodyStart = o.segment(0)._1
      val footerStart = o.segment(schema.length - 1)._1 + o.segment(schema.length - 1)._2
      assert(bodyStart < ObjectFile.HeadProbe)
      assert(o.bytesRead == ObjectFile.HeadProbe + (o.size - footerStart))
    }
    assert(ObjectFormat.readFooter(p) != null && ObjectFormat.verifyObject(p))
    assert(ObjectFormat.headerSchema(p).toDDL == schema.toDDL)
  }

  test("row and columnar readers agree: narrow and wide, with and without a DV") {
    val p = fixture("equal")
    val narrow = project("id", "d")
    val wide = schema
    val proven = GreaterThanOrEqual("id", 0L) // footer proves it for every row
    assert(ObjectFile.using(p)(_.residual(Array(proven))).isEmpty)
    val cases: Seq[(StructType, Array[Filter])] = Seq(
      (narrow, Array.empty),
      (narrow, Array(GreaterThan("v", 1500L))),
      (narrow, Array(proven, LessThan("i", 40))),
      (wide, Array.empty),
      (wide, Array(proven)),
      (wide, Array(IsNull("s"), GreaterThan("dec", new java.math.BigDecimal("3.5")))))
    def check(label: String): Unit = cases.foreach { case (proj, pushed) =>
      val a = rowRead(p, proj, pushed)
      val b = columnarRead(p, proj, pushed)
      assert(a.nonEmpty, s"$label ${pushed.mkString(",")}: no rows")
      assert(a == b, s"$label ${proj.fieldNames.mkString(",")} ${pushed.mkString(",")}")
    }
    check("no DV")
    DeleteVectors.write(p, (0 until 2000 by 3).toArray)
    assert(DeleteVectors.read(p).isDefined)
    check("DV")
    assert(rowRead(p, narrow, Array.empty).size == 2000 - 667)
  }

  private def truncatedCopy(src: String, at: Long, tag: String): String = {
    val dst = Files.createTempDirectory(s"graft-trunc-$tag").resolve("t.0")
    val bytes = Files.readAllBytes(Paths.get(src))
    assert(at > 0 && at < bytes.length)
    Files.write(dst, bytes.take(at.toInt))
    dst.toString
  }

  private def failsNaming(p: String, what: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains(p)), s"$what: error does not name $p: $msgs")
  }

  test("a truncated object fails loudly, naming the object, on every read path") {
    val src = fixture("trunc")
    // each directory entry is a (stored, decoded) pair of ints
    val (dirStart, segs, size) = ObjectFile.using(src) { o =>
      (o.segment(0)._1 - 8L * schema.length, (0 until schema.length).map(o.segment), o.size)
    }
    val cuts: Seq[(String, Long)] = Seq(
      ("mid-header", 20L),
      ("mid-directory", dirStart + 6),
      ("mid-segment", segs(2)._1 + segs(2)._2 / 2),
      ("last segment", segs.last._1 + 1),
      ("mid-footer", size - 200),
      ("mid-CRC", size - 3))
    val narrow = project("id", "s")
    cuts.foreach { case (where, at) =>
      val p = truncatedCopy(src, at, where.replace(' ', '-'))
      val label = s"object cut $where"
      failsNaming(p, s"$label: readFooter")(ObjectFormat.readFooter(p))
      assert(!ObjectFormat.verifyObject(p), s"$label: scrub passed")
      Seq(narrow, schema).foreach { proj =>
        failsNaming(p, s"$label: row reader")(rowRead(p, proj, Array.empty))
        failsNaming(p, s"$label: row reader, filtered")(
          rowRead(p, proj, Array(GreaterThan("v", 10L))))
        failsNaming(p, s"$label: columnar reader")(columnarRead(p, proj, Array.empty))
      }
    }
  }

  private def patchedCopy(src: String, tag: String)(patch: java.nio.ByteBuffer => Unit): String = {
    val dst = Files.createTempDirectory(s"graft-patch-$tag").resolve("t.0")
    val bytes = Files.readAllBytes(Paths.get(src))
    patch(java.nio.ByteBuffer.wrap(bytes))
    Files.write(dst, bytes)
    dst.toString
  }

  /** Every read of `p` through `proj`: a typed error naming the object
    * (and `mention`, when given) on both readers. */
  private def readsFail(p: String, label: String, proj: StructType, mention: String): Unit = {
    def typed(what: String)(body: => Any): Unit = {
      val e = intercept[java.io.IOException](body)
      assert(e.getMessage.contains(p), s"$label: $what: ${e.getMessage} does not name $p")
      assert(e.getMessage.contains(mention), s"$label: $what: ${e.getMessage} lacks '$mention'")
    }
    typed("row reader")(rowRead(p, proj, Array.empty))
    typed("row reader, filtered")(rowRead(p, proj, Array(GreaterThan("v", 10L))))
    typed("columnar reader")(columnarRead(p, proj, Array.empty))
  }

  test("a wrong magic, version or layout byte is a typed error naming the object and the value") {
    val p = fixture("format")
    // the layout byte leads the body, just before the row and column
    // counts and the directory
    val layoutAt = ObjectFile.using(p)(o => o.segment(0)._1 - 8L * schema.length - 9).toInt
    assert(Files.readAllBytes(Paths.get(p))(layoutAt) == ObjectFormat.LayoutColumnar)
    val cases: Seq[(String, String, java.nio.ByteBuffer => Unit)] = Seq(
      ("version 6", "version 6", _.putInt(4, 6)),
      ("version 8", "version 8", _.putInt(4, 8)),
      ("layout byte 0", "layout byte 0", _.put(layoutAt, 0.toByte)),
      ("magic", "magic 0x12345678", _.putInt(0, 0x12345678)))
    cases.foreach { case (label, mention, patch) =>
      val q = patchedCopy(p, label.replace(' ', '-'))(patch)
      readsFail(q, label, schema, mention)
      readsFail(q, label, project("id"), mention)
      val e = intercept[java.io.IOException](ObjectFormat.readFooter(q))
      assert(e.getMessage.contains(q) && e.getMessage.contains(mention),
        s"$label: readFooter: ${e.getMessage}")
      assert(!ObjectFormat.verifyObject(q), s"$label: scrub passed")
    }
  }

  test("a damaged compressed segment fails loudly on both readers, never with wrong rows") {
    val p = fixture("zstd")
    val n = schema.length
    val (segs, decoded) = ObjectFile.using(p) { o =>
      ((0 until n).map(o.segment), (0 until n).map(o.decodedLength))
    }
    // id (a sequence) is stored compressed; the directory pairs sit
    // just before the first segment
    val (off, stored) = segs(0)
    assert(stored < decoded(0))
    val dirStart = segs(0)._1 - 8L * n
    val narrow = project("id", "s")
    val expected = rowRead(p, schema, Array.empty)
    assert(expected.size == 2000 && columnarRead(p, schema, Array.empty) == expected)

    // truncated inside the compressed segment
    val cut = truncatedCopy(p, off + stored / 2, "zstd-cut")
    readsFail(cut, "cut in a compressed segment", narrow, "truncated")
    failsNaming(cut, "cut in a compressed segment: readFooter")(ObjectFormat.readFooter(cut))

    // one byte flipped in the middle of the frame: the content checksum
    // (or the frame itself) rejects it, naming the segment
    val flipped = patchedCopy(p, "zstd-flip") { b =>
      val at = (off + stored / 2).toInt
      b.put(at, (b.get(at) ^ 0x5a).toByte)
    }
    readsFail(flipped, "flipped byte", narrow, "segment 0")
    readsFail(flipped, "flipped byte", schema, "segment 0")
    // a read that does not need the damaged segment is untouched
    val other = project("v", "s")
    assert(rowRead(flipped, other, Array.empty) == rowRead(p, other, Array.empty))
    assert(columnarRead(flipped, other, Array.empty) == rowRead(p, other, Array.empty))

    // a flip anywhere in the frame, header and checksum included,
    // gives a typed error or the exact rows, never different rows
    (0 until stored by math.max(1, stored / 64)).foreach { k =>
      val q = patchedCopy(p, s"zstd-flip-$k") { b =>
        val at = (off + k).toInt
        b.put(at, (b.get(at) ^ 0x01).toByte)
      }
      Seq[(String, (String, StructType, Array[Filter]) => Seq[Seq[Any]])](
        "row reader" -> rowRead, "columnar reader" -> columnarRead).foreach { case (what, read) =>
        try assert(read(q, schema, Array.empty) == expected, s"$what: byte $k flipped: wrong rows")
        catch {
          case e: java.io.IOException =>
            assert(e.getMessage.contains(q), s"$what: byte $k flipped: ${e.getMessage}")
        }
      }
    }

    // a directory whose stored length exceeds the decoded one
    val inflated = patchedCopy(p, "zstd-dir") { b =>
      b.putInt((dirStart + 4).toInt, stored - 1)
    }
    readsFail(inflated, "stored > decoded", narrow, "segment 0")
    failsNaming(inflated, "stored > decoded: readFooter")(ObjectFormat.readFooter(inflated))

    // a decoded length that differs from what the frame holds
    val longer = patchedCopy(p, "zstd-len") { b =>
      b.putInt((dirStart + 4).toInt, decoded(0) + 8)
    }
    readsFail(longer, "decoded length off", narrow, "segment 0")
    // a decoded length far past the frame's fails before any allocation
    val huge = patchedCopy(p, "zstd-huge") { b => b.putInt((dirStart + 4).toInt, Int.MaxValue) }
    readsFail(huge, "2 GB decoded length", narrow, "segment 0")
  }
}
