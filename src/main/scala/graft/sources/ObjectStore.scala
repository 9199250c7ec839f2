package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider, TruncatableTable}
import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expression => V2Expression, Expressions, GeneralScalarExpression, Literal => V2Literal, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import com.github.luben.zstd.{Zstd, ZstdCompressCtx, ZstdDecompressCtx, ZstdException}

/** Custom-storage object layout + DataSource V2 read path (SURVEY §1.1,
  * §4.2(3) — the reference's data model made real on Spark).
  *
  * The reference stores each table as many self-describing storage
  * objects named `<table>.<seq>`, each carrying its own schema and an
  * object-local index, and evaluates select/project/aggregate INSIDE
  * the storage node so only matching bytes travel to the client. This
  * module is that architecture as a Spark DSv2 source:
  *
  *  - an object = one `<table>.<seq>` file: header (magic, version,
  *    schema DDL), a column-major body of one segment per column (the
  *    analog of the reference's Arrow tables), and a footer with row
  *    count, per-column min/max, null counts, distinct-count sketches
  *    and membership indexes (the analog of the reference's
  *    object-level index);
  *  - `GraftObjectSource` (`format("graft-objects")`) implements
  *    `TableProvider` → `SupportsRead` → `ScanBuilder` with
  *    `SupportsPushDownFilters`, `SupportsPushDownRequiredColumns` AND
  *    `SupportsPushDownAggregates`: accepted predicates are evaluated
  *    inside the reader before a row is ever surfaced (the `--use-cls`
  *    path), object-level stats prune whole objects from
  *    `planInputPartitions` (the object index), and whole-table
  *    MIN/MAX/COUNT aggregations are answered from footers alone —
  *    one partial row per object, NO row ever decoded — the
  *    reference's defining "OSD returns one partial row per object"
  *    behavior (SURVEY §2.4). Rejected predicates/aggregates fall back
  *    to Spark (the client-side path) — the same split the reference
  *    makes;
  *  - one object = one `InputPartition` = one task: fan-out is
  *    object-granular exactly like the reference's per-object reads.
  *
  * 100 TB posture: `planInputPartitions` lists objects and reads ONLY
  * footers (driver-side metadata, ~bytes per object); all row work is
  * executor-side, one object per task, embarrassingly parallel. A read
  * fetches only the segments of the columns it projects or filters on.
  * Two readers share one segment decoder and one row-fate mask and
  * differ only in their output: `GraftColumnarReader` fills Spark
  * `ColumnarBatch`es for whole-stage codegen, `GraftObjectReader`
  * emits rows (nested output, DELETE survivors, merge-on-read
  * ordinals, pushed LIMIT).
  */
object ObjectFormat {
  val Magic = 0x474F424A // "GOBJ"
  // Codec v7, the one object format. After the header comes the body:
  //  - a layout byte, always [[LayoutColumnar]] (any other value is
  //    corrupt), the row count and the column count;
  //  - a segment directory of two ints per column: the stored length
  //    (what tiles the body and what a read fetches) and the decoded
  //    length. Equal means stored raw; stored > decoded is corrupt;
  //  - each column's segment, stored as a zstd frame (one fixed level,
  //    [[ZstdLevel]], with the content checksum) when that is smaller,
  //    else raw. A decoded segment is [null count][presence bytes, one
  //    per row, only when the null count is above 0][values]. Top-level
  //    fixed-width values are little-endian, so the vectorized reader
  //    bulk-copies null-free segments into column vectors the way
  //    parquet's plain encoding does. Every other value, and every value
  //    nested in an array, struct or map, is big-endian and recursive.
  // The footer holds per column: min/max in the column's native width
  // (exact longs for integral columns), an exact null count, a KMV
  // distinct-count sketch (the k smallest 64-bit value hashes), string
  // byte-length stats, and a membership index (the complete sketch, or
  // an opt-in bloom filter via `.option("bloomFilterColumns", ...)`).
  // A CRC32 of the body closes the object.
  val Version = 7
  val LayoutColumnar = 1

  /** The one zstd level of v7 segments. On the sf0.1 lineitem, level 2
    * stores 10% fewer bytes than level 1 (l_extendedprice: 0.52 of raw
    * vs 0.77) for 7% more decode time; level 3 stores more than 2. */
  val ZstdLevel = 2
  // one context per thread: a context owns its native match tables,
  // too dear to build per segment
  private val zstdOut = ThreadLocal.withInitial[ZstdCompressCtx](() =>
    new ZstdCompressCtx().setLevel(ZstdLevel).setChecksum(true))
  private val zstdIn = ThreadLocal.withInitial[ZstdDecompressCtx](() =>
    new ZstdDecompressCtx())

  /** A decoded segment as the body stores it: its zstd frame when
    * that is smaller, else the segment itself (stored raw). */
  private[sources] def packSegment(seg: Array[Byte]): Array[Byte] = {
    val z = zstdOut.get().compress(seg)
    if (z.length < seg.length) z else seg
  }
  /** Decode one zstd frame into `out`; the bytes decoded. A bad frame
    * or checksum throws `ZstdException`. */
  private[sources] def unpackSegment(stored: Array[Byte], out: Array[Byte]): Int =
    zstdIn.get().decompressByteArray(out, 0, out.length, stored, 0, stored.length)

  /** KMV sketch size: exact NDV up to k; ±1/sqrt(k) ≈ 6% beyond.
    * 2 KB per column per object — noise against ~128 MB object
    * bodies, and the merge cost is driver-side over footers only. */
  val NdvSketchK = 256

  /** splitmix64 finalizer — the per-value hash for integral/floating
    * stats; strings run FNV-1a over UTF-8 bytes then this avalanche. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def hashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Bloom sizing/probing (standard double-hashing over the 64-bit
    * value hash: probe i tests bit (h1 + i·h2) mod m). Sized at
    * finish() for the object's OBSERVED distinct count, so the target
    * false-positive rate holds regardless of object fill. */
  def bloomDims(n: Int, fpp: Double): (Int, Int) = {
    val m0 = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    val m = math.max(64L, ((m0.toLong + 63) / 64) * 64)
    val mi = math.min(m, (Int.MaxValue / 2).toLong).toInt
    val k = math.max(1, math.round(mi.toDouble / n * math.log(2)).toInt)
    (mi, k)
  }
  def bloomSet(bits: Array[Long], m: Int, k: Int, h: Long): Unit = {
    val h1 = h; val h2 = (h >>> 32) | (h << 32) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, m.toLong).toInt
      bits(bit >>> 6) |= (1L << (bit & 63)); i += 1
    }
  }
  def bloomTest(bits: Array[Long], m: Int, k: Int, h: Long): Boolean = {
    val h1 = h; val h2 = (h >>> 32) | (h << 32) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, m.toLong).toInt
      if ((bits(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Merged-NDV estimate from per-object KMV sketches (each sorted in
    * unsigned order): union, keep the k smallest distinct — still a
    * valid KMV of the union of the objects' value sets. Below k the
    * union IS the distinct hash set ⇒ exact. */
  def ndvEstimate(sketches: Iterable[Array[Long]]): Option[Long] = {
    val all = sketches.filter(_.nonEmpty)
    if (all.isEmpty) return None
    val merged = all.flatten.toArray.distinct
      .sortWith(java.lang.Long.compareUnsigned(_, _) < 0)
    if (merged.length < NdvSketchK) Some(merged.length.toLong)
    else {
      val kth = merged(NdvSketchK - 1)
      // unsigned long → fraction of the 2^64 hash space
      val frac = ((kth >>> 11).toDouble * 2048.0 + (kth & 2047L).toDouble) /
        1.8446744073709552e19
      Some(math.max(NdvSketchK.toLong,
        math.round((NdvSketchK - 1).toDouble / frac)))
    }
  }

  /** Stat kind per type: 1 = integral (footer stores exact longs),
    * 2 = floating (footer stores doubles), 3 = string (footer stores
    * UTF-8 byte bounds, truncated at [[StringStatCap]] — min is a
    * prefix = valid lower bound, max is an increment-truncated prefix
    * = valid upper bound, exactly parquet's discipline), 0 = no
    * min/max stats. */
  private[sources] def statKind(dt: DataType): Int = dt match {
    case LongType | IntegerType | DateType |
         TimestampType | TimestampNTZType => 1
    case DoubleType | FloatType => 2
    case StringType => 3
    case _ => 0
  }

  /** Stored string bounds are capped at this many bytes. */
  val StringStatCap = 64

  /** min/max are java.lang.Long (integral cols), java.lang.Double
    * (floating cols) or null (no stats: non-stat type, all-null column,
    * or a NaN sighting — see the encoder note). nullCount is exact. */
  final case class ColStats(min: Any, max: Any, nullCount: Int) {
    def hasNull: Boolean = nullCount > 0
  }
  /** Per-column membership index: `kind` is the column's statKind
    * at write time (guards hash-discipline consistency on the read
    * side), `complete` means the KMV sketch never overflowed — it
    * holds EVERY distinct non-null value hash, so a binary-search miss
    * proves absence; `bloomK`/`bloomBits` carry the optional bloom
    * (k hash functions over a bit array) for overflowed columns. */
  final case class ColIndex(kind: Int, complete: Boolean,
      bloomK: Int, bloomBits: Array[Long])

  /** Sketches and indexes ride as separate maps so ColStats
    * pattern-match sites stay 3-ary: `ndvSketch` holds each column's
    * sorted KMV hash array (absent for no-stat kinds and all-null
    * columns); `strLen` holds (byte-length sum, max) for string
    * columns; `colIndex` the membership index. `decodedSize` is the
    * object's size with every segment decoded: what the planner sizes
    * the object by. */
  final case class Footer(rowCount: Int, stats: Map[String, ColStats],
      ndvSketch: Map[String, Array[Long]] = Map.empty,
      strLen: Map[String, (Long, Int)] = Map.empty,
      colIndex: Map[String, ColIndex] = Map.empty,
      decodedSize: Long)

  /** Exact 3-valued compare across JVM numeric widths. Integral pairs
    * compare as longs; an integral×floating pair compares through
    * BigDecimal (comparing a long above 2^53 via doubleValue collapses
    * distinct keys — EqualTo(l_orderkey, 2^53+1) must not match 2^53).
    * NaN/±Inf fall back to Double.compare, whose total order (NaN
    * greatest) matches Spark's. None when either side is null or the
    * pair is not comparable (callers treat None as "unknown"). */
  // Pushed-filter values for temporal columns arrive as external Java
  // types while footer stats and decoded rows carry the Catalyst
  // form (days / micros as integrals) — normalize the external side
  // so all pairings compare exactly. Decimals (java.math.BigDecimal
  // from filters, Catalyst Decimal from rows) must NOT fall into the
  // integral branch of cmpExact: longValue() truncates the fraction.
  private def normExternal(a: Any): Any = a match {
    case d: java.sql.Date =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => java.lang.Long.valueOf(d.toEpochDay)
    case t: java.sql.Timestamp =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l))
    case d: Decimal => d.toJavaBigDecimal
    case other => other
  }

  def cmpExact(x: Any, v: Any): Option[Int] = {
    def floating(n: Number) =
      n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float]
    (normExternal(x), normExternal(v)) match {
      case (null, _) | (_, null) => None
      case (a: java.lang.Boolean, b: java.lang.Boolean) =>
        Some(java.lang.Boolean.compare(a, b))
      case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
        Some(a.compareTo(b))
      case (a: java.math.BigDecimal, b: Number) =>
        val bd = b.doubleValue()
        if (floating(b) && (bd.isNaN || bd.isInfinite))
          Some(java.lang.Double.compare(a.doubleValue(), bd))
        else Some(a.compareTo(new java.math.BigDecimal(b.toString)))
      case (a: Number, b: java.math.BigDecimal) =>
        val ad = a.doubleValue()
        if (floating(a) && (ad.isNaN || ad.isInfinite))
          Some(java.lang.Double.compare(ad, b.doubleValue()))
        else Some(new java.math.BigDecimal(a.toString).compareTo(b))
      case (a: Number, b: Number) =>
        if (!floating(a) && !floating(b))
          Some(java.lang.Long.compare(a.longValue(), b.longValue()))
        else {
          val ad = a.doubleValue(); val bd = b.doubleValue()
          if (ad.isNaN || bd.isNaN || ad.isInfinite || bd.isInfinite)
            Some(java.lang.Double.compare(ad, bd))
          else if (!floating(a))
            Some(java.math.BigDecimal.valueOf(a.longValue())
              .compareTo(new java.math.BigDecimal(bd)))
          else if (!floating(b))
            Some(new java.math.BigDecimal(ad)
              .compareTo(java.math.BigDecimal.valueOf(b.longValue())))
          else Some(java.lang.Double.compare(ad, bd))
        }
      // strings compare in Spark's order: unsigned UTF-8 byte order
      // (java.lang.String.compareTo is UTF-16 code-unit order, which
      // disagrees beyond the BMP); footer bounds arrive as UTF8String,
      // pushed filter values as String — all four pairings normalize
      case (a: String, b: String) =>
        Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      case (a: UTF8String, b: UTF8String) => Some(a.compareTo(b))
      case (a: UTF8String, b: String) =>
        Some(a.compareTo(UTF8String.fromString(b)))
      case (a: String, b: UTF8String) =>
        Some(UTF8String.fromString(a).compareTo(b))
      case _ => None
    }
  }

  /** Type-widening schema evolution (§1.1 ALTER COLUMN TYPE): the
    * sanctioned lossless widenings. Older objects keep their narrow
    * physical encoding (bodies are immutable); readers upcast at
    * decode by name-matching, exactly like evolution-added columns
    * read as null. */
  def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Value converter for a widened column (null = identity — the
    * common case pays nothing). */
  def widenConverter(from: DataType, to: DataType): Any => Any =
    (from, to) match {
      case (f, t) if f == t => null
      case (IntegerType, LongType) =>
        v => if (v == null) null else Long.box(v.asInstanceOf[Int].toLong)
      case (FloatType, DoubleType) =>
        v => if (v == null) null
        else Double.box(v.asInstanceOf[Float].toDouble)
      case (f, t) => throw new IllegalStateException(
        s"graft-objects: object column type $f cannot serve table type $t")
    }

  /** Types the vectorized columnar reader can fill straight into an
    * OnHeapColumnVector; nested types fall back to the row route. */
  def vectorizable(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType |
         DateType | DoubleType | FloatType | BooleanType | StringType |
         BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Types whose segments store top-level values little-endian
    * (fixed-width — the bulk-fill contract). Booleans are single
    * bytes (endianness-free) and keep the shared encoding; var-length
    * and nested types keep the big-endian recursive codec. */
  def fixedWidthLE(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType |
         DateType | DoubleType | FloatType => true
    case _ => false
  }

  /** Kleene three-valued evaluation of a pushed filter against one
    * row's values (`fieldVal` resolves a column name to its Catalyst
    * value; absent column → null). None = unknown (a null reached a
    * comparison). Row fate at the top level: reads emit rows whose
    * conjunction is TRUE; the negated (DELETE) mode keeps rows whose
    * conjunction is FALSE **or** UNKNOWN. Genuine 3VL (not a collapse
    * of unknown to false) is required the moment NOT is pushable:
    * NOT(unknown) must stay unknown, not become true. This is the
    * reference semantics; both readers run its compiled form,
    * [[compileMask]], through [[rowFate]]. */
  def eval3Filter(f: Filter, fieldVal: String => Any): Option[Boolean] = {
    def eval3(g: Filter): Option[Boolean] = eval3Filter(g, fieldVal)
    f match {
      case EqualTo(a, v) => cmpExact(fieldVal(a), v).map(_ == 0)
      case GreaterThan(a, v) => cmpExact(fieldVal(a), v).map(_ > 0)
      case GreaterThanOrEqual(a, v) => cmpExact(fieldVal(a), v).map(_ >= 0)
      case LessThan(a, v) => cmpExact(fieldVal(a), v).map(_ < 0)
      case LessThanOrEqual(a, v) => cmpExact(fieldVal(a), v).map(_ <= 0)
      case In(a, vs) =>
        val cs = vs.map(v => cmpExact(fieldVal(a), v))
        if (cs.exists(_.contains(0))) Some(true)
        else if (cs.forall(_.isDefined)) Some(false)
        else None // null operand: x IN (…) is unknown when unmatched
      case EqualNullSafe(a, v) => // never unknown: <=> is null-safe
        val x = fieldVal(a)
        if (x == null || v == null) Some(x == null && v == null)
        else Some(cmpExact(x, v).contains(0))
      case StringStartsWith(a, p) => fieldVal(a) match {
        case s: UTF8String => Some(s.startsWith(UTF8String.fromString(p)))
        case _ => None
      }
      case StringEndsWith(a, p) => fieldVal(a) match {
        case s: UTF8String => Some(s.endsWith(UTF8String.fromString(p)))
        case _ => None
      }
      case StringContains(a, p) => fieldVal(a) match {
        case s: UTF8String => Some(s.contains(UTF8String.fromString(p)))
        case _ => None
      }
      case IsNull(a) => Some(fieldVal(a) == null)
      case IsNotNull(a) => Some(fieldVal(a) != null)
      case Not(g) => eval3(g).map(!_)
      case And(l, r) => (eval3(l), eval3(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval3(l), eval3(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case AlwaysTrue() => Some(true)
      case AlwaysFalse() => Some(false)
      case _ => Some(true) // non-evaluable never reaches the reader
    }
  }

  /** COMPILED per-row 3VL mask over decoded column arrays — both
    * readers' filter path. [[eval3Filter]] is the
    * semantics; this is the same Kleene logic with every per-row cost
    * hoisted: literals normalize ONCE (normExternal of a Timestamp is
    * a timezone computation — per-row it dominated the filtered-scan
    * profile), comparators dispatch ONCE on (column type, literal
    * type), and And/Or/Not compose as min/max/negate over the
    * three-value encoding F=-1, U=0, T=1 (Kleene conjunction IS min,
    * disjunction IS max). Returns whether the conjunction of `pushed`
    * is TRUE at row r. Shapes without a fast comparator fall back to
    * a per-row cmpExact with everything else still hoisted. */
  def compileMask(pushed: Array[Filter],
      colType: String => Option[DataType],
      colArr: String => Array[Any]): Int => Boolean = {
    val T = 1; val F = -1; val U = 0
    def lit3(b: Boolean): Int = if (b) T else F
    def floatingNum(n: Any): Boolean =
      n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float]

    def cmpLeaf(a: String, v: Any, test: Int => Boolean): Int => Int = {
      val arr = colArr(a)
      if (arr == null || v == null) return _ => U
      val vn = normExternal(v)
      val longKinds: Set[DataType] = Set(LongType, TimestampType,
        TimestampNTZType, IntegerType, DateType)
      (colType(a), vn) match {
        case (Some(dt), n: Number)
            if longKinds(dt) && !floatingNum(n) &&
              !n.isInstanceOf[java.math.BigDecimal] =>
          val lv = n.longValue()
          r => { val x = arr(r)
            if (x == null) U
            else lit3(test(java.lang.Long.compare(
              x.asInstanceOf[Number].longValue(), lv))) }
        case (Some(DoubleType | FloatType), n: Number)
            if floatingNum(n) =>
          // both-floating pairs compare via Double.compare in cmpExact
          // (finite AND non-finite alike) — one comparator covers all
          val dv = n.doubleValue()
          r => { val x = arr(r)
            if (x == null) U
            else lit3(test(java.lang.Double.compare(
              x.asInstanceOf[Number].doubleValue(), dv))) }
        case (Some(StringType), s) =>
          val u = s match {
            case s2: String => UTF8String.fromString(s2)
            case u2: UTF8String => u2
            case _ => null
          }
          if (u == null) r => { val x = arr(r)
            cmpExact(x, v) match { case Some(c) => lit3(test(c)); case None => U } }
          else r => { val x = arr(r)
            if (x == null) U
            else lit3(test(x.asInstanceOf[UTF8String].compareTo(u))) }
        case (Some(BooleanType), b: java.lang.Boolean) =>
          val bv = b.booleanValue()
          r => { val x = arr(r)
            if (x == null) U
            else lit3(test(java.lang.Boolean.compare(
              x.asInstanceOf[java.lang.Boolean].booleanValue(), bv))) }
        case _ =>
          r => { val x = arr(r)
            cmpExact(x, v) match { case Some(c) => lit3(test(c)); case None => U } }
      }
    }

    def strLeaf(a: String, p: String,
        test: (UTF8String, UTF8String) => Boolean): Int => Int = {
      val arr = colArr(a)
      if (arr == null) return _ => U
      val u = UTF8String.fromString(p)
      r => arr(r) match {
        case s: UTF8String => lit3(test(s, u))
        case _ => U
      }
    }

    def compile(f: Filter): Int => Int = f match {
      case EqualTo(a, v) => cmpLeaf(a, v, _ == 0)
      case GreaterThan(a, v) => cmpLeaf(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => cmpLeaf(a, v, _ >= 0)
      case LessThan(a, v) => cmpLeaf(a, v, _ < 0)
      case LessThanOrEqual(a, v) => cmpLeaf(a, v, _ <= 0)
      case In(a, vs) => // Kleene OR of equalities = max
        val es = vs.map(v => cmpLeaf(a, v, _ == 0))
        r => { var best = F; var i = 0
          while (best != T && i < es.length) {
            val e = es(i)(r); if (e > best) best = e; i += 1 }
          best }
      case EqualNullSafe(a, v) =>
        val arr = colArr(a)
        if (arr == null) { val res = lit3(v == null); _ => res }
        else r => { val x = arr(r)
          if (x == null || v == null) lit3(x == null && v == null)
          else lit3(cmpExact(x, v).contains(0)) }
      case StringStartsWith(a, p) => strLeaf(a, p, _ startsWith _)
      case StringEndsWith(a, p) => strLeaf(a, p, _ endsWith _)
      case StringContains(a, p) => strLeaf(a, p, _ contains _)
      case IsNull(a) =>
        val arr = colArr(a)
        if (arr == null) _ => T else r => lit3(arr(r) == null)
      case IsNotNull(a) =>
        val arr = colArr(a)
        if (arr == null) _ => F else r => lit3(arr(r) != null)
      case Not(g) => val e = compile(g); r => -e(r)
      case And(l, r0) =>
        val el = compile(l); val er = compile(r0)
        r => math.min(el(r), er(r))
      case Or(l, r0) =>
        val el = compile(l); val er = compile(r0)
        r => math.max(el(r), er(r))
      case AlwaysTrue() => _ => T
      case AlwaysFalse() => _ => F
      case other => // non-evaluable never reaches the reader; align
        r => eval3Filter(other, a => {
          val arr = colArr(a); if (arr == null) null else arr(r)
        }) match {
          case Some(true) => T
          case Some(false) => F
          case None => U
        }
    }

    val cs = pushed.map(compile)
    r => { var ok = true; var i = 0
      while (ok && i < cs.length) { ok = cs(i)(r) == T; i += 1 }
      ok }
  }

  /** The row-fate mask of one object, shared by both readers:
    * `keep(r)` is false where the deletion vector drops row r (in every
    * mode), else whether the conjunction of `pushed` is TRUE there —
    * or, `negated` (DELETE's survivors), whether it is not: SQL deletes
    * only where the predicate is TRUE, so FALSE and UNKNOWN rows stay.
    * `colArr` gives a filter column's boxed values (null: the object
    * lacks the column) and is asked once per column. */
  def rowFate(rowCount: Int, dv: Option[util.BitSet], pushed: Array[Filter],
      negated: Boolean, colType: String => Option[DataType],
      colArr: String => Array[Any]): Array[Boolean] = {
    val keep = new Array[Boolean](rowCount)
    util.Arrays.fill(keep, true)
    dv.foreach { bs =>
      var r = bs.nextSetBit(0)
      while (r >= 0 && r < rowCount) { keep(r) = false; r = bs.nextSetBit(r + 1) }
    }
    if (pushed.nonEmpty || negated) {
      val cols = scala.collection.mutable.HashMap.empty[String, Array[Any]]
      val mask = compileMask(pushed, colType, a => cols.getOrElseUpdate(a, colArr(a)))
      var r = 0
      while (r < rowCount) {
        if (keep(r)) keep(r) = mask(r) != negated
        r += 1
      }
    }
    keep
  }

  /** One decoded column segment: [null count][presence bytes, one per
    * row, when the count is above 0][values]. `bb` reads the values in
    * their encoding — little-endian for top-level fixed-width types,
    * big-endian otherwise. */
  final class Segment(bytes: Array[Byte], rowCount: Int, val dt: DataType) {
    val hasPres: Boolean = ByteBuffer.wrap(bytes).getInt(0) > 0
    val valOff: Int = 4 + (if (hasPres) rowCount else 0)
    val le: Boolean = fixedWidthLE(dt)
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(
      if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    @inline def presentAt(r: Int): Boolean = !hasPres || bytes(4 + r) != 0

    /** Every row's value in its Catalyst form, boxed (null where
      * absent): the one value decoder of both readers. */
    def boxed(): Array[Any] = {
      val in = ByteBuffer.wrap(bytes).order(bb.order())
      in.position(valOff)
      val out = new Array[Any](rowCount)
      var r = 0
      while (r < rowCount) {
        if (presentAt(r)) out(r) = readValue(in, dt)
        r += 1
      }
      out
    }
  }

  // a length or count read from a segment never claims more bytes than
  // the segment has left (each counted item takes at least one)
  private def count(in: ByteBuffer): Int = {
    val k = in.getInt()
    if (k < 0 || k > in.remaining()) throw new java.nio.BufferUnderflowException
    k
  }
  private def lengthPrefixed(in: ByteBuffer): Array[Byte] = {
    val b = new Array[Byte](count(in)); in.get(b); b
  }

  /** The [[ObjectEncoder]] value codec read back, walking `in` in its
    * own byte order (nested values are always big-endian). */
  private def readValue(in: ByteBuffer, dt: DataType): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => Long.box(in.getLong())
    case IntegerType | DateType => Int.box(in.getInt())
    case DoubleType => Double.box(in.getDouble())
    case FloatType => Float.box(in.getFloat())
    case BooleanType => Boolean.box(in.get() != 0)
    case StringType => UTF8String.fromBytes(lengthPrefixed(in))
    case BinaryType => lengthPrefixed(in)
    case d: DecimalType =>
      Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(lengthPrefixed(in)), d.scale), d.precision, d.scale)
    case ArrayType(et, _) =>
      val a = new Array[Any](count(in))
      var j = 0
      while (j < a.length) {
        a(j) = if (in.get() != 0) readValue(in, et) else null
        j += 1
      }
      new GenericArrayData(a)
    case st: StructType =>
      val present = Array.fill(st.length)(in.get() != 0)
      val vals = new Array[Any](st.length)
      var j = 0
      while (j < st.length) {
        if (present(j)) vals(j) = readValue(in, st(j).dataType)
        j += 1
      }
      new GenericInternalRow(vals)
    case MapType(kt, vt, _) =>
      val len = count(in)
      val ks = Array.fill[Any](len)(readValue(in, kt))
      val vs = Array.fill[Any](len)(if (in.get() != 0) readValue(in, vt) else null)
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
    case other => throw new UnsupportedOperationException(
      s"graft-objects codec: unsupported type $other")
  }

  /** Streaming encoder: add rows (external Row from ingest, or
    * InternalRow from the DSv2 writer), then `finish(path)` writes
    * header + body + stats footer. Values are encoded recursively from
    * their Catalyst representation, so the codec covers the full
    * fixture surface: atomics, date/timestamp, decimal, string/binary,
    * arrays of any element, nested structs and maps (SURVEY §1.2's
    * DATE and BLOB analogs included). */
  final class ObjectEncoder(schema: StructType,
      bloomCols: Set[String] = Set.empty, bloomFpp: Double = 0.01) {
    private val n = schema.length
    // per column, presence bytes and a values stream; finish() lays
    // them out as length-directoried segments so readers SEEK past
    // unread columns
    private val colPresence = Array.fill(n)(new ByteArrayOutputStream(4096))
    private val colValuesRaw = Array.fill(n)(new ByteArrayOutputStream(4096))
    private val colValues = colValuesRaw.map(new DataOutputStream(_))
    private val kinds = schema.fields.map(f => statKind(f.dataType))
    private val minsL = Array.fill(n)(Long.MaxValue)
    private val maxsL = Array.fill(n)(Long.MinValue)
    private val minsD = Array.fill(n)(Double.PositiveInfinity)
    private val maxsD = Array.fill(n)(Double.NegativeInfinity)
    private val nullCounts = Array.fill(n)(0)
    private val nans = Array.fill(n)(false)
    private var count = 0

    private def statL(i: Int, v: Long): Unit = {
      if (v < minsL(i)) minsL(i) = v
      if (v > maxsL(i)) maxsL(i) = v
    }
    private def statD(i: Int, v: Double): Unit = {
      // NaN never updates < / > comparisons, yet Spark orders NaN above
      // every double — min/max stats that ignored NaN would let the
      // object-skip logic wrongly prune objects whose only matches are
      // NaN rows. A NaN sighting disables stats for the column.
      if (v.isNaN) nans(i) = true
      if (v < minsD(i)) minsD(i) = v
      if (v > maxsD(i)) maxsD(i) = v
    }
    // string bounds as UTF-8 bytes (Spark's string order IS unsigned
    // byte order); full values accumulate, truncation happens at write
    private val minsB = Array.fill[Array[Byte]](n)(null)
    private val maxsB = Array.fill[Array[Byte]](n)(null)
    private def byteCmp(a: Array[Byte], b: Array[Byte]): Int = {
      var j = 0
      val len = math.min(a.length, b.length)
      while (j < len) {
        val c = (a(j) & 0xff) - (b(j) & 0xff)
        if (c != 0) return c
        j += 1
      }
      a.length - b.length
    }
    private def statB(i: Int, v: Array[Byte]): Unit = {
      if (minsB(i) == null || byteCmp(v, minsB(i)) < 0) minsB(i) = v
      if (maxsB(i) == null || byteCmp(v, maxsB(i)) > 0) maxsB(i) = v
      sumLenB(i) += v.length
      if (v.length > maxLenB(i)) maxLenB(i) = v.length
    }
    private val sumLenB = Array.fill(n)(0L)
    private val maxLenB = Array.fill(n)(0)

    /** Per-column KMV: the k smallest distinct 64-bit value hashes in
      * UNSIGNED order (TreeSet dedups; cap at k by evicting the
      * largest). O(log k) per row, 2 KB per column in the footer. */
    private val unsignedOrd: java.util.Comparator[java.lang.Long] =
      (a, b) => java.lang.Long.compareUnsigned(a, b)
    private val kmv = Array.fill(n)(new java.util.TreeSet[java.lang.Long](unsignedOrd))
    // overflow ⇒ some distinct hash was NOT retained ⇒ the sketch is a
    // sample, not the complete distinct set (kills exact membership)
    private val kmvOverflow = Array.fill(n)(false)
    // opted-in bloom columns accumulate ALL distinct value hashes so
    // the filter can be sized for the observed NDV at finish(). (A
    // production writer would use an open-addressing primitive-long
    // set; boxing is irrelevant at fixture scale and the memory bound
    // — 8B+box per distinct key per opted column per object — is the
    // same order as parquet's bloom-build path.)
    private val bloomSets: Array[java.util.HashSet[java.lang.Long]] =
      schema.fields.map(f =>
        if (bloomCols.contains(f.name)) new java.util.HashSet[java.lang.Long]()
        else null)
    private def sketch(i: Int, h: Long): Unit = {
      if (bloomSets(i) != null) { bloomSets(i).add(h); () }
      val s = kmv(i)
      if (s.size < NdvSketchK) { s.add(h); () }
      else if (java.lang.Long.compareUnsigned(h, s.last()) < 0) {
        if (s.add(h)) { s.pollLast(); kmvOverflow(i) = true }
      } else if (!s.contains(h)) kmvOverflow(i) = true
    }

    /** Recursive value codec (Catalyst-level values) into the column's
      * values stream `o`. Nested nulls get a presence byte; map keys
      * are non-null by Spark's contract. */
    private def writeValue(o: DataOutputStream, dt: DataType,
        value: Any): Unit = dt match {
      case LongType | TimestampType | TimestampNTZType =>
        o.writeLong(value.asInstanceOf[Long])
      case IntegerType | DateType => o.writeInt(value.asInstanceOf[Int])
      case DoubleType => o.writeDouble(value.asInstanceOf[Double])
      case FloatType => o.writeFloat(value.asInstanceOf[Float])
      case BooleanType => o.writeBoolean(value.asInstanceOf[Boolean])
      case StringType =>
        val b = value.asInstanceOf[UTF8String].getBytes
        o.writeInt(b.length); o.write(b)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        o.writeInt(b.length); o.write(b)
      case d: DecimalType =>
        val un = value.asInstanceOf[Decimal]
          .toJavaBigDecimal.setScale(d.scale).unscaledValue().toByteArray
        o.writeInt(un.length); o.write(un)
      case ArrayType(et, _) =>
        val a = value.asInstanceOf[ArrayData]
        val len = a.numElements()
        o.writeInt(len)
        var j = 0
        while (j < len) {
          val isNull = a.isNullAt(j)
          o.writeBoolean(!isNull)
          if (!isNull) writeValue(o, et, a.get(j, et))
          j += 1
        }
      case st: StructType =>
        val r = value.asInstanceOf[InternalRow]
        var j = 0
        while (j < st.length) { o.writeBoolean(!r.isNullAt(j)); j += 1 }
        j = 0
        while (j < st.length) {
          if (!r.isNullAt(j)) writeValue(o, st(j).dataType, r.get(j, st(j).dataType))
          j += 1
        }
      case MapType(kt, vt, _) =>
        val m = value.asInstanceOf[MapData]
        val len = m.numElements()
        val ks = m.keyArray(); val vs = m.valueArray()
        o.writeInt(len)
        var j = 0
        while (j < len) { writeValue(o, kt, ks.get(j, kt)); j += 1 }
        j = 0
        while (j < len) {
          val isNull = vs.isNullAt(j)
          o.writeBoolean(!isNull)
          if (!isNull) writeValue(o, vt, vs.get(j, vt))
          j += 1
        }
      case other => throw new UnsupportedOperationException(
        s"graft-objects codec: unsupported type $other")
    }

    private def put(i: Int, dt: DataType, value: Any): Unit = {
      kinds(i) match {
        case 1 =>
          val l = dt match {
            case IntegerType | DateType => value.asInstanceOf[Int].toLong
            case _ => value.asInstanceOf[Long]
          }
          statL(i, l); sketch(i, mix64(l))
        case 2 =>
          val d = dt match {
            case FloatType => value.asInstanceOf[Float].toDouble
            case _ => value.asInstanceOf[Double]
          }
          statD(i, d)
          // NDV hashing normalizes -0.0 to 0.0 and NaN to the
          // canonical bits, matching SQL DISTINCT equivalence classes
          val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
          sketch(i, mix64(bits))
        case 3 =>
          val b = value.asInstanceOf[UTF8String].getBytes.clone()
          statB(i, b); sketch(i, hashBytes(b))
        case _ =>
      }
      writeTop(colValues(i), dt, value)
    }

    /** Segments store TOP-LEVEL fixed-width values little-endian so the
      * vectorized reader can memcpy null-free segments
      * (`putLongsLittleEndian` et al.). Everything else — var-length
      * types, and every value nested inside an array/struct/map —
      * keeps the big-endian [[writeValue]] encoding (those decode
      * value-at-a-time regardless). */
    private def writeTop(o: DataOutputStream, dt: DataType,
        value: Any): Unit = dt match {
      case LongType | TimestampType | TimestampNTZType =>
        o.writeLong(java.lang.Long.reverseBytes(value.asInstanceOf[Long]))
      case IntegerType | DateType =>
        o.writeInt(Integer.reverseBytes(value.asInstanceOf[Int]))
      case DoubleType =>
        o.writeLong(java.lang.Long.reverseBytes(
          java.lang.Double.doubleToLongBits(value.asInstanceOf[Double])))
      case FloatType =>
        o.writeInt(Integer.reverseBytes(
          java.lang.Float.floatToIntBits(value.asInstanceOf[Float])))
      case _ => writeValue(o, dt, value)
    }

    /** presence flags (1 byte/field; a packed bitmap is the obvious
      * compaction, skipped for codec readability). Each field goes to
      * its own column buffers — presence bytes and values land
      * contiguous per column. */
    def addInternal(row: InternalRow): Unit = {
      var i = 0
      while (i < n) {
        val dt = schema(i).dataType
        val isNull = row.isNullAt(i)
        colPresence(i).write(if (isNull) 0 else 1)
        if (!isNull) put(i, dt, row.get(i, dt))
        else nullCounts(i) += 1
        i += 1
      }
      count += 1
    }

    /** External rows route through the standard Catalyst converter —
      * one codec path, every external representation Spark accepts
      * (java.sql.Date/LocalDate, BigDecimal, Seq vs Array, case
      * classes for structs, …) handled by the same machinery the
      * DataFrame API uses. */
    private val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(schema)
    def addExternal(row: Row): Unit =
      addInternal(toCatalyst(row).asInstanceOf[InternalRow])

    def finish(path: String): Int = {
      // the body in pieces, written (and CRC'd) one after another:
      // layout byte + rowCount + per-column segment directory of
      // (stored, decoded) lengths + the stored segments. A decoded
      // segment is [nullCount][presence bytes IF nullCount>0][values];
      // readers seek by the directory, so unprojected columns cost zero
      // reads, and null-free columns carry no presence bytes at all
      colValues.foreach(_.flush())
      // (decoded length, stored bytes) per column
      val segs = Array.tabulate(n) { i =>
        val presBytes = if (nullCounts(i) > 0) colPresence(i).size() else 0
        val seg = new ByteArrayOutputStream(4 + presBytes + colValuesRaw(i).size())
        val s = new DataOutputStream(seg)
        s.writeInt(nullCounts(i))
        if (nullCounts(i) > 0) colPresence(i).writeTo(s)
        colValuesRaw(i).writeTo(s)
        s.flush()
        (seg.size(), packSegment(seg.toByteArray))
      }
      val dir = new ByteArrayOutputStream(9 + 8 * n)
      val d = new DataOutputStream(dir)
      d.writeByte(LayoutColumnar)
      d.writeInt(count)
      d.writeInt(n)
      segs.foreach { case (decoded, stored) =>
        d.writeInt(stored.length); d.writeInt(decoded)
      }
      d.flush()
      val bodyParts = dir.toByteArray +: segs.map(_._2).toSeq
      val file = new DataOutputStream(new java.io.BufferedOutputStream(
        new FileOutputStream(path), 1 << 16))
      file.writeInt(Magic); file.writeInt(Version)
      file.writeUTF(schema.toDDL)
      file.writeInt(bodyParts.map(_.length).sum)
      bodyParts.foreach(file.write)
      file.writeInt(count)
      // min: plain prefix (a prefix sorts ≤ the value — valid lower
      // bound); max: prefix with the last non-0xFF byte incremented
      // (sorts ≥ every value sharing the prefix — valid upper bound);
      // un-incrementable (all 0xFF) ⇒ no usable upper bound ⇒ None
      def truncMin(b: Array[Byte]): Array[Byte] =
        if (b.length <= StringStatCap) b else b.take(StringStatCap)
      def truncMax(b: Array[Byte]): Option[Array[Byte]] =
        if (b.length <= StringStatCap) Some(b)
        else {
          val p = b.take(StringStatCap)
          var j = p.length - 1
          while (j >= 0 && p(j) == 0xff.toByte) j -= 1
          if (j < 0) None
          else { val q = p.take(j + 1); q(j) = (q(j) + 1).toByte; Some(q) }
        }
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        kinds(i) match {
          case 1 if minsL(i) <= maxsL(i) =>
            file.writeBoolean(true)
            file.writeLong(minsL(i)); file.writeLong(maxsL(i))
          case 2 if minsD(i) <= maxsD(i) && !nans(i) =>
            file.writeBoolean(true)
            file.writeDouble(minsD(i)); file.writeDouble(maxsD(i))
          case 3 if maxsB(i) != null && truncMax(maxsB(i)).isDefined =>
            file.writeBoolean(true)
            val mn = truncMin(minsB(i)); val mx = truncMax(maxsB(i)).get
            file.writeInt(mn.length); file.write(mn)
            file.writeInt(mx.length); file.write(mx)
          case _ => file.writeBoolean(false)
        }
        file.writeInt(nullCounts(i))
        // KMV sketch (ascending unsigned), string len stats
        val s = kmv(i)
        file.writeInt(s.size)
        val it = s.iterator()
        while (it.hasNext) file.writeLong(it.next())
        if (kinds(i) == 3) {
          file.writeLong(sumLenB(i)); file.writeInt(maxLenB(i))
        }
        // membership index — stat kind (hash-discipline
        // guard), sketch-completeness flag, optional bloom
        file.writeByte(kinds(i))
        file.writeBoolean(!kmvOverflow(i))
        val bs = bloomSets(i)
        if (bs == null || bs.isEmpty || kinds(i) == 0) file.writeInt(0)
        else {
          val (m, kH) = bloomDims(bs.size, bloomFpp)
          val bits = new Array[Long](m >>> 6)
          val bit = bs.iterator()
          while (bit.hasNext) bloomSet(bits, m, kH, bit.next())
          file.writeInt(m); file.writeInt(kH)
          var j = 0
          while (j < bits.length) { file.writeLong(bits(j)); j += 1 }
        }
      }
      // body CRC32 — verified by verifyObject (scrub), not at planning
      val crc = new java.util.zip.CRC32()
      bodyParts.foreach(crc.update(_))
      file.writeLong(crc.getValue)
      file.close()
      count
    }
  }

  /** Encode one partition of external Rows into a `<table>.<seq>` file. */
  def writeObject(path: String, schema: StructType, rows: Iterator[Row],
      bloomCols: Set[String] = Set.empty, bloomFpp: Double = 0.01): Int = {
    val enc = new ObjectEncoder(schema, bloomCols, bloomFpp)
    rows.foreach(enc.addExternal)
    enc.finish(path)
  }

  /** The schema EMBEDDED in one object's header (its generation's
    * layout — may predate the live sidecar after ALTER TABLE). */
  def headerSchema(path: String): StructType = ObjectFile.using(path)(_.schema)

  /** Footer-only read: the header (to locate the footer) and the
    * trailing stats, each one positional read. The body is never read
    * — this is the only read the planner and the pushed-aggregate path
    * ever do. */
  def readFooter(path: String): Footer = ObjectFile.using(path)(_.footer)

  /** Integrity scrub (the reference's object-checksum discipline):
    * recompute the body CRC32 and compare with the footer's. Kept OUT
    * of planInputPartitions — planning reads footers only; scrubbing
    * reads bodies and is a maintenance pass. */
  def verifyObject(path: String): Boolean =
    try ObjectFile.using(path)(_.bodyCrcMatches)
    catch { case _: Exception => false }

  /** Can `filter` (an accepted pushdown) possibly match an object with
    * this footer? False ⇒ the whole object is skipped (object index).
    * All comparisons are EXACT (cmpExact) — integral stats are stored
    * as longs, so no 2^53 collapse; unknown comparisons keep the
    * object (conservative). */
  /** A filter is storage-evaluable when it references only codec-typed
    * columns with comparable values; everything else stays client-side
    * (reads: Spark re-evaluates the residual set; deletes: refused
    * outright). Shared by the scan builder's pushdown partition and
    * SupportsDelete's acceptance check. */
  def storageEvaluable(schema: StructType, f: Filter): Boolean = {
    def has(a: String): Boolean = schema.fieldNames.contains(a)
    // A (column type, filter value) pair is evaluable when cmpExact can
    // compare the decoded Catalyst value against the external filter
    // value exactly. Temporal values arrive as either the java.sql or
    // the java.time family depending on spark.sql.datetime.java8API.
    def ok(a: String, v: Any): Boolean = has(a) && {
      val dt = schema(a).dataType
      v match {
        case null => false
        case _: java.lang.Boolean => dt == BooleanType
        case _: java.math.BigDecimal => dt.isInstanceOf[DecimalType]
        case _: java.sql.Date | _: java.time.LocalDate => dt == DateType
        case _: java.sql.Timestamp | _: java.time.Instant =>
          dt == TimestampType
        case _: java.time.LocalDateTime => dt == TimestampNTZType
        case _: Number => dt match {
          case LongType | IntegerType | ShortType | ByteType |
               DoubleType | FloatType => true
          case _ => false
        }
        case _: String => dt == StringType
        case _ => false
      }
    }
    f match {
      case EqualTo(a, v) => ok(a, v)
      case GreaterThan(a, v) => ok(a, v)
      case GreaterThanOrEqual(a, v) => ok(a, v)
      case LessThan(a, v) => ok(a, v)
      case LessThanOrEqual(a, v) => ok(a, v)
      case In(a, vs) => vs.forall(ok(a, _))
      case IsNull(a) => has(a)
      case IsNotNull(a) => has(a)
      // string predicate family (LIKE 'p%' / '%s' / '%i%'): row-level
      // evaluation in the reader; StartsWith additionally prunes via
      // the string footer bounds
      case StringStartsWith(a, _) => has(a) && schema(a).dataType == StringType
      case StringEndsWith(a, _) => has(a) && schema(a).dataType == StringType
      case StringContains(a, _) => has(a) && schema(a).dataType == StringType
      // a <=> NULL needs only presence; a <=> v needs comparability
      case EqualNullSafe(a, v) => if (v == null) has(a) else ok(a, v)
      // NOT is evaluable exactly when its operand is — the reader
      // evaluates it in three-valued logic (NOT unknown = unknown)
      case Not(g) => storageEvaluable(schema, g)
      case And(l, r) => storageEvaluable(schema, l) && storageEvaluable(schema, r)
      case Or(l, r) => storageEvaluable(schema, l) && storageEvaluable(schema, r)
      case AlwaysTrue() => true // TRUNCATE arrives as DELETE WHERE true
      case AlwaysFalse() => true
      case _ => false
    }
  }

  /** Membership probe against the column's index: false ⇔ the footer
    * PROVES value `v` absent from column `a` (complete-sketch binary
    * search miss, or bloom miss — neither has false negatives). The
    * hash discipline must match the writer's, which hashed the
    * CATALYST form per stat kind — so the probe value normalizes the
    * same way and is type-checked against the recorded kind; any
    * mismatch (or no index) returns true, never a wrong prune. A
    * complete EMPTY sketch means the column had no non-null values —
    * every equality is then provably unsatisfiable. */
  def mightContain(footer: Footer, a: String, v: Any): Boolean =
    footer.colIndex.get(a) match {
      case None => true
      case Some(ci) =>
        def floating(n: Number) =
          n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float]
        val h: Option[Long] = (ci.kind, normExternal(v)) match {
          case (1, n: Number) if !floating(n) &&
            !n.isInstanceOf[java.math.BigDecimal] => Some(mix64(n.longValue()))
          case (2, n: Number) if floating(n) =>
            val d = n.doubleValue()
            Some(mix64(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)))
          case (3, s: String) =>
            Some(hashBytes(UTF8String.fromString(s).getBytes))
          case (3, s: UTF8String) => Some(hashBytes(s.getBytes))
          case _ => None
        }
        h match {
          case None => true
          case Some(hash) =>
            if (ci.complete) {
              val arr = footer.ndvSketch.getOrElse(a, Array.emptyLongArray)
              // unsigned-order binary search over the sorted sketch
              var lo = 0; var hi = arr.length - 1; var found = false
              while (lo <= hi && !found) {
                val mid = (lo + hi) >>> 1
                val c = java.lang.Long.compareUnsigned(arr(mid), hash)
                if (c == 0) found = true
                else if (c < 0) lo = mid + 1
                else hi = mid - 1
              }
              found
            } else if (ci.bloomK > 0)
              bloomTest(ci.bloomBits, ci.bloomBits.length << 6, ci.bloomK, hash)
            else true
        }
    }

  def mightMatch(filter: Filter, footer: Footer): Boolean = {
    val stats = footer.stats
    def rng(a: String): Option[(Any, Any)] =
      stats.get(a).collect { case ColStats(mn, mx, _) if mn != null => (mn, mx) }
    def inRange(v: Any, mn: Any, mx: Any): Boolean =
      (for { c1 <- cmpExact(v, mn); c2 <- cmpExact(v, mx) }
        yield c1 >= 0 && c2 <= 0).getOrElse(true)
    filter match {
      case EqualTo(a, v) =>
        rng(a).forall { case (mn, mx) => inRange(v, mn, mx) } &&
          mightContain(footer, a, v)
      case GreaterThan(a, v) =>
        rng(a).forall { case (_, mx) => cmpExact(mx, v).forall(_ > 0) }
      case GreaterThanOrEqual(a, v) =>
        rng(a).forall { case (_, mx) => cmpExact(mx, v).forall(_ >= 0) }
      case LessThan(a, v) =>
        rng(a).forall { case (mn, _) => cmpExact(mn, v).forall(_ < 0) }
      case LessThanOrEqual(a, v) =>
        rng(a).forall { case (mn, _) => cmpExact(mn, v).forall(_ <= 0) }
      case In(a, vs) =>
        vs.isEmpty || vs.exists(v =>
          rng(a).forall { case (mn, mx) => inRange(v, mn, mx) } &&
            mightContain(footer, a, v))
      case IsNull(a) => stats.get(a).forall(_.hasNull)
      case IsNotNull(a) =>
        stats.get(a).forall(s => footer.rowCount - s.nullCount > 0)
      /** LIKE 'p%': a value starting with p satisfies p ≤ v < succ(p);
        * the object can match only if its range intersects that — i.e.
        * max ≥ p AND min starts-below-or-within the prefix (min ≤ any
        * string with prefix p ⇔ min's first |p| bytes ≤ p). Both sides
        * stay conservative under truncated bounds. */
      case StringStartsWith(a, p) =>
        rng(a).forall { case (mn, mx) =>
          val pu = UTF8String.fromString(p)
          val mnU = mn.asInstanceOf[UTF8String]; val mxU = mx.asInstanceOf[UTF8String]
          // max below the prefix ⇒ impossible
          val maxOk = mxU.compareTo(pu) >= 0
          // min above every p-prefixed string ⇒ impossible: compare
          // min's leading |p| bytes against p
          val mnHead = mnU.substring(0, pu.numChars())
          val minOk = mnHead.compareTo(pu) <= 0
          maxOk && minOk
        }
      case EqualNullSafe(a, null) => stats.get(a).forall(_.hasNull)
      case EqualNullSafe(a, v) =>
        rng(a).forall { case (mn, mx) => inRange(v, mn, mx) } &&
          mightContain(footer, a, v)
      case And(l, r) => mightMatch(l, footer) && mightMatch(r, footer)
      case Or(l, r) => mightMatch(l, footer) || mightMatch(r, footer)
      /** NOT prunes by pushing the negation to the complementary
        * operator (sound for SATISFACTION: null rows satisfy neither a
        * predicate nor its negation, and the bounds describe non-null
        * rows only). NOT(a = v) can prune only when the footer proves
        * every non-null value equals v, i.e. min == max == v — sound
        * even under string truncation, since stored-min ≤ values ≤
        * stored-max pins all values to v when the bounds coincide. */
      case Not(g) => g match {
        case Not(h) => mightMatch(h, footer)
        case GreaterThan(a, v) => mightMatch(LessThanOrEqual(a, v), footer)
        case GreaterThanOrEqual(a, v) => mightMatch(LessThan(a, v), footer)
        case LessThan(a, v) => mightMatch(GreaterThanOrEqual(a, v), footer)
        case LessThanOrEqual(a, v) => mightMatch(GreaterThan(a, v), footer)
        case IsNull(a) => mightMatch(IsNotNull(a), footer)
        case IsNotNull(a) => mightMatch(IsNull(a), footer)
        case And(l, r) => mightMatch(Or(Not(l), Not(r)), footer)
        case Or(l, r) => mightMatch(And(Not(l), Not(r)), footer)
        case EqualTo(a, v) => rng(a) match {
          case Some((mn, mx)) =>
            !(cmpExact(mn, v).contains(0) && cmpExact(mx, v).contains(0))
          case None => true
        }
        case In(a, vs) => rng(a) match {
          case Some((mn, mx)) if cmpExact(mn, mx).contains(0) =>
            !vs.exists(v => cmpExact(mn, v).contains(0))
          case _ => true
        }
        case _ => true
      }
      case _ => true
    }
  }

  /** TRUE-for-every-row proof from footer stats alone — the zone-map
    * FULL-ACCEPT dual of [[mightMatch]]'s none-match prune. When it
    * holds, a reader may drop the filter from row-level evaluation
    * for the whole object (and skip decoding filter-only columns),
    * which is what keeps the bulk fill engaged on broad range
    * scans: a `l_shipdate <= cutoff` that keeps 99% of rows would
    * otherwise force every object through the per-row path just to
    * drop the trailing 1% that lives in ONE boundary object.
    *
    * Soundness: a row is emitted only when the conjunction evaluates
    * TRUE under 3VL, so every comparison proof requires the column
    * null-free in this object (a null makes the row UNKNOWN → must
    * be dropped → not provable). String bounds are truncation-safe
    * in both directions: stored min ≤ every value ≤ stored max even
    * when the bounds are capped prefixes. Conservative false anywhere
    * the footer cannot say. */
  def provenForAll(filter: Filter, footer: Footer): Boolean = {
    val stats = footer.stats
    def noNulls(a: String): Boolean = stats.get(a).exists(_.nullCount == 0)
    def allNull(a: String): Boolean =
      stats.get(a).exists(_.nullCount == footer.rowCount)
    /** Bounds usable for a TRUE-everywhere proof: present AND the
      * column is null-free in this object. */
    def rng(a: String): Option[(Any, Any)] =
      stats.get(a).collect {
        case ColStats(mn, mx, 0) if mn != null => (mn, mx)
      }
    filter match {
      case AlwaysTrue() => true
      case IsNotNull(a) => noNulls(a)
      case IsNull(a) => allNull(a)
      case EqualTo(a, v) =>
        // min == max == v pins every value (bound validity alone
        // suffices — truncated bounds can never coincide)
        rng(a).exists { case (mn, mx) =>
          cmpExact(mn, v).contains(0) && cmpExact(mx, v).contains(0) }
      case EqualNullSafe(a, null) => allNull(a)
      case EqualNullSafe(a, v) => provenForAll(EqualTo(a, v), footer)
      case LessThan(a, v) =>
        rng(a).exists { case (_, mx) => cmpExact(mx, v).exists(_ < 0) }
      case LessThanOrEqual(a, v) =>
        rng(a).exists { case (_, mx) => cmpExact(mx, v).exists(_ <= 0) }
      case GreaterThan(a, v) =>
        rng(a).exists { case (mn, _) => cmpExact(mn, v).exists(_ > 0) }
      case GreaterThanOrEqual(a, v) =>
        rng(a).exists { case (mn, _) => cmpExact(mn, v).exists(_ >= 0) }
      case In(a, vs) =>
        rng(a).exists { case (mn, mx) => cmpExact(mn, mx).contains(0) &&
          vs.exists(v => cmpExact(mn, v).contains(0)) }
      case And(l, r) =>
        provenForAll(l, footer) && provenForAll(r, footer)
      case Or(l, r) =>
        provenForAll(l, footer) || provenForAll(r, footer)
      /** NOT(g) is TRUE everywhere iff g is FALSE everywhere; route
        * through the exact dual where one exists (3VL: rows where g
        * is UNKNOWN make NOT(g) UNKNOWN too, so the duals' null-free
        * requirement carries over). */
      case Not(g) => g match {
        case Not(h) => provenForAll(h, footer)
        case IsNull(a) => noNulls(a)
        case IsNotNull(a) => allNull(a)
        case GreaterThan(a, v) => provenForAll(LessThanOrEqual(a, v), footer)
        case GreaterThanOrEqual(a, v) => provenForAll(LessThan(a, v), footer)
        case LessThan(a, v) => provenForAll(GreaterThanOrEqual(a, v), footer)
        case LessThanOrEqual(a, v) => provenForAll(GreaterThan(a, v), footer)
        case Or(l, r) => provenForAll(And(Not(l), Not(r)), footer)
        case And(l, r) => provenForAll(Or(Not(l), Not(r)), footer)
        case EqualTo(a, v) =>
          // range strictly excludes v (and no nulls) ⇒ every value ≠ v
          rng(a).exists { case (mn, mx) =>
            cmpExact(mx, v).exists(_ < 0) || cmpExact(mn, v).exists(_ > 0) }
        case _ => false
      }
      case _ => false
    }
  }

  /** Pushed filters the footer does not prove TRUE for every row
    * (zone-map full-accept): the ones a read of the object evaluates. */
  def residual(pushed: Array[Filter], footer: Footer): Array[Filter] =
    if (pushed.isEmpty) pushed else pushed.filterNot(provenForAll(_, footer))

  /** Per-object selectivity estimate for one pushed filter, from the
    * footer alone — the storage tier answering "how many rows will
    * this filter keep" with the same stats it uses to answer the
    * filter itself: exact null fractions, uniform-assumption range
    * fractions over numeric min/max, KMV-NDV equality estimates.
    * Conservative 1.0 wherever the footer cannot say (string ranges,
    * missing stats) — estimates may overshoot but a kept object never
    * estimates to zero unless the stats prove emptiness. Feeds the
    * scan's reported Statistics: with filters fully pushed into the
    * scan there is no Filter node left for Catalyst's own
    * FilterEstimation, so the relation estimate must already be the
    * post-filter one. */
  def selectivity(filter: Filter, footer: Footer): Double = {
    val rows = footer.rowCount.toDouble
    if (rows == 0) return 0.0
    def nonNullFrac(a: String): Double =
      footer.stats.get(a).map(s => (rows - s.nullCount) / rows).getOrElse(1.0)
    def ndvOf(a: String): Option[Double] =
      ndvEstimate(footer.ndvSketch.get(a).toSeq).map(_.toDouble)
    def numD(x: Any): Option[Double] = normExternal(x) match {
      case n: java.math.BigDecimal => Some(n.doubleValue())
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    // fraction of the non-null value range below v (uniform assumption)
    def fracBelow(a: String, v: Any): Option[Double] = for {
      s <- footer.stats.get(a)
      if s.min != null
      mn <- numD(s.min); mx <- numD(s.max); vd <- numD(v)
      if !mn.isNaN && !mx.isNaN && !vd.isNaN
    } yield
      if (vd <= mn) 0.0
      else if (vd >= mx) 1.0
      else if (mx == mn) 1.0
      else (vd - mn) / (mx - mn)
    def clamp(d: Double): Double = math.max(0.0, math.min(1.0, d))
    // one-in-NDV height of a single value among the non-null values;
    // 0 when unsketched (the boundary term is then simply dropped)
    def invNdv(a: String): Double =
      ndvOf(a).map(n => 1.0 / math.max(1.0, n)).getOrElse(0.0)
    def eqSel(a: String): Double =
      ndvOf(a).map(n => nonNullFrac(a) / math.max(1.0, n))
        .getOrElse(nonNullFrac(a))
    val sel = filter match {
      case _ if !mightMatch(filter, footer) => 0.0
      case IsNull(a) =>
        footer.stats.get(a).map(_.nullCount / rows).getOrElse(0.5)
      case IsNotNull(a) => nonNullFrac(a)
      case EqualTo(a, _) => eqSel(a)
      case EqualNullSafe(a, null) =>
        footer.stats.get(a).map(_.nullCount / rows).getOrElse(0.5)
      case EqualNullSafe(a, _) => eqSel(a)
      case In(a, vs) =>
        ndvOf(a).map(n => nonNullFrac(a) *
          math.min(1.0, vs.distinct.length / math.max(1.0, n)))
          .getOrElse(nonNullFrac(a))
      case LessThan(a, v) =>
        fracBelow(a, v).map(_ * nonNullFrac(a)).getOrElse(nonNullFrac(a))
      case LessThanOrEqual(a, v) =>
        fracBelow(a, v).map(f => (f + invNdv(a)) * nonNullFrac(a))
          .getOrElse(nonNullFrac(a))
      case GreaterThan(a, v) =>
        fracBelow(a, v).map(f => (1.0 - f) * nonNullFrac(a))
          .getOrElse(nonNullFrac(a))
      case GreaterThanOrEqual(a, v) =>
        fracBelow(a, v).map(f => (1.0 - f + invNdv(a)) * nonNullFrac(a))
          .getOrElse(nonNullFrac(a))
      case And(l, r) => selectivity(l, footer) * selectivity(r, footer)
      case Or(l, r) =>
        val sl = selectivity(l, footer); val sr = selectivity(r, footer)
        sl + sr - sl * sr
      case Not(g) => 1.0 - selectivity(g, footer)
      case AlwaysTrue() => 1.0
      case AlwaysFalse() => 0.0
      case _ => 1.0
    }
    clamp(sel)
  }

  /** ALTER TABLE … RENAME COLUMN support: column names live ONLY in
    * the header DDL string (bodies are positional, the footer CRC
    * covers the body alone), so a rename is a header patch streamed
    * byte-for-byte around the new DDL — no decode, no re-encode, no
    * stats rebuild. Staged + atomic rename, same commit discipline as
    * every other write. (A production store would instead keep field
    * IDs so rename touches zero objects; patching the self-describing
    * header is the honest equivalent for name-keyed objects.) */
  def renameHeaderColumn(path: String, from: String, to: String): Unit =
    ObjectFile.using(path) { o =>
      // an object whose generation predates the column stays as it is
      if (o.schema.fieldNames.contains(from)) {
        val renamed = StructType(o.schema.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        val staged = new File(path + "._rename_staged")
        val out = new DataOutputStream(new java.io.BufferedOutputStream(
          Files.newOutputStream(staged.toPath), 1 << 16))
        try {
          out.writeInt(Magic); out.writeInt(Version); out.writeUTF(renamed.toDDL)
          o.copyAfterSchema(out)
        } finally out.close()
        Files.move(staged.toPath, Paths.get(path),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
}

/** One open graft object, read by position: every header, directory,
  * footer and body read of the store goes through here, so only the
  * bytes a read needs leave storage (SURVEY §3.1–3.2).
  *
  *  - The header (magic, version, schema DDL, body length, layout
  *    byte) and the segment directory come from one positional read of
  *    the object's first [[ObjectFile.HeadProbe]] bytes; a longer
  *    header costs one more read.
  *  - The footer and body CRC are one positional read of the object's
  *    tail, parsed in memory.
  *  - Column segments are read by exact position: a segment no read
  *    needs is never read, and each run of adjacent needed segments is
  *    one scattering read into per-segment arrays (never one whole-body
  *    array — a 128 MB body as one byte[] is a G1 humongous allocation,
  *    measured 3× slower under 32 concurrent scan tasks). A read
  *    fetches the stored bytes and decodes each zstd-compressed segment
  *    into an array of exactly its decoded length.
  *
  * A wrong magic, a version other than [[ObjectFormat.Version]] or a
  * layout byte other than columnar fails with an `IOException` naming
  * the object and the value found. Every read checks the length it got
  * back, and the header, body length, directory and footer must agree
  * with the file's size: a truncated object fails with an error naming
  * its path and never decodes to short or wrong rows. A compressed
  * segment that fails its zstd checksum, decodes to any length but the
  * directory's, or holds values that overrun it fails the same way,
  * naming the segment. */
final class ObjectFile private (val path: String,
    ch: java.nio.channels.FileChannel) extends AutoCloseable {
  import ObjectFormat._

  val size: Long = ch.size()
  private var nRead = 0L
  /** Bytes this handle has read from the object. */
  def bytesRead: Long = nRead

  private def truncated(what: String): Nothing =
    throw new java.io.EOFException(
      s"$path: truncated graft object: $what is cut short ($size bytes)")
  private def corrupt(what: String, cause: Throwable = null): Nothing =
    throw new java.io.IOException(s"$path: corrupt graft object: $what", cause)

  /** Exactly `len` bytes at `pos`, or an error naming the object. */
  private def readAt(pos: Long, len: Int, what: String): Array[Byte] = {
    if (pos + len > size) truncated(what)
    val a = new Array[Byte](len)
    val bb = ByteBuffer.wrap(a)
    while (bb.hasRemaining) {
      val r = ch.read(bb, pos + bb.position())
      if (r < 0) truncated(what)
      nRead += r
    }
    a
  }

  // the object's first bytes, grown on demand for a long header
  private var head: Array[Byte] =
    readAt(0L, math.min(size, ObjectFile.HeadProbe).toInt, "header")
  private def headTo(end: Long, what: String): ByteBuffer = {
    if (end > head.length) {
      if (end > size) truncated(what)
      head = head ++ readAt(head.length, (end - head.length).toInt, what)
    }
    ByteBuffer.wrap(head)
  }

  locally {
    val h = headTo(8, "header")
    if (h.getInt(0) != Magic) throw new java.io.IOException(
      f"$path: not a graft object: magic 0x${h.getInt(0)}%08x, expected 0x$Magic%08x")
    if (h.getInt(4) != Version) throw new java.io.IOException(
      s"$path: unsupported graft object version ${h.getInt(4)}, expected $Version")
  }
  private val ddlLen = headTo(10, "header").getShort(8) & 0xffff
  /** The schema EMBEDDED in this object's header: its generation's
    * layout, which bodies are positional in. */
  val schema: StructType = StructType.fromDDL(new DataInputStream(
    new java.io.ByteArrayInputStream(headTo(10 + ddlLen, "header").array(),
      8, 2 + ddlLen)).readUTF())
  private val bodyLen = headTo(14 + ddlLen, "header").getInt(10 + ddlLen)
  private val bodyOff = 14L + ddlLen
  private val footerOff = bodyOff + bodyLen
  // the footer holds at least the row count and the body CRC
  if (bodyLen < 0 || footerOff + 12 > size) truncated("body")
  // a body opens with the layout byte, the row count and the column count
  if (bodyLen < 9) corrupt(s"a $bodyLen-byte body holds no segment directory")
  locally {
    val layout = headTo(bodyOff + 1, "layout byte").get(bodyOff.toInt)
    if (layout != LayoutColumnar)
      corrupt(s"layout byte $layout, expected $LayoutColumnar (columnar)")
  }

  private lazy val (parsedFooter, storedCrc) = {
    val tail =
      if (size <= head.length) ByteBuffer.wrap(head, footerOff.toInt, (size - footerOff).toInt)
      else ByteBuffer.wrap(readAt(footerOff, (size - footerOff).toInt, "footer"))
    val f =
      try parseFooter(tail)
      catch { case _: java.nio.BufferUnderflowException => truncated("footer") }
    if (tail.remaining() < 8) truncated("body CRC")
    if (tail.remaining() > 8) corrupt(s"${tail.remaining() - 8} bytes after the body CRC")
    if (directory.rows != f.rowCount)
      corrupt(s"directory row count ${directory.rows} != footer row count ${f.rowCount}")
    (f, tail.getLong())
  }
  /** The footer: row count, per-column stats, sketches and membership
    * index — parsed from one tail read. */
  def footer: Footer = parsedFooter

  private def parseFooter(in: ByteBuffer): Footer = {
    // a length field never claims more bytes than the footer has left
    def len(width: Int): Int = {
      val k = in.getInt()
      if (k < 0) corrupt(s"negative length $k in footer")
      if (k.toLong * width > in.remaining()) truncated("footer")
      k
    }
    def bytes(): Array[Byte] = { val a = new Array[Byte](len(1)); in.get(a); a }
    def longs(k: Int): Array[Long] = {
      if (k.toLong * 8 > in.remaining()) truncated("footer")
      val a = new Array[Long](k)
      var j = 0
      while (j < k) { a(j) = in.getLong(); j += 1 }
      a
    }
    val count = in.getInt()
    val stats = Map.newBuilder[String, ColStats]
    val sketches = Map.newBuilder[String, Array[Long]]
    val lens = Map.newBuilder[String, (Long, Int)]
    val indexes = Map.newBuilder[String, ColIndex]
    schema.fields.foreach { f =>
      var mn: Any = null
      var mx: Any = null
      if (in.get() != 0) statKind(f.dataType) match {
        case 1 => mn = Long.box(in.getLong()); mx = Long.box(in.getLong())
        case 3 => // UTF8String tolerates truncation mid-codepoint and
          // compares in binary order — exactly what the bounds need
          mn = UTF8String.fromBytes(bytes()); mx = UTF8String.fromBytes(bytes())
        case _ => mn = Double.box(in.getDouble()); mx = Double.box(in.getDouble())
      }
      stats += f.name -> ColStats(mn, mx, in.getInt())
      val sketch = longs(len(8))
      if (sketch.nonEmpty) sketches += f.name -> sketch
      if (statKind(f.dataType) == 3) lens += f.name -> (in.getLong(), in.getInt())
      val kind = in.get().toInt
      val complete = in.get() != 0
      val m = in.getInt()
      val (bk, bits) =
        if (m == 0) (0, Array.emptyLongArray) else (in.getInt(), longs(m >>> 6))
      if (kind != 0) indexes += f.name -> ColIndex(kind, complete, bk, bits)
    }
    val decodedSize = size + directory.decoded.indices.map(i =>
      directory.decoded(i).toLong - directory.stored(i)).sum
    Footer(count, stats.result(), sketches.result(), lens.result(),
      indexes.result(), decodedSize)
  }

  /** The segment directory: row count, then each segment's absolute
    * offset, stored length and decoded length. The stored lengths must
    * tile the body exactly, and no segment stores more bytes than it
    * decodes to; the footer parse checks the row count. */
  private lazy val directory: ObjectFile.Directory = {
    val d = headTo(bodyOff + 9, "segment directory")
    val rows = d.getInt(bodyOff.toInt + 1)
    val n = d.getInt(bodyOff.toInt + 5)
    if (n != schema.length) corrupt(s"column directory $n != schema ${schema.length}")
    val dirEnd = bodyOff + 9 + 8L * n
    val dir = headTo(dirEnd, "segment directory")
    val stored = Array.tabulate(n)(i => dir.getInt(bodyOff.toInt + 9 + 8 * i))
    val decoded = Array.tabulate(n)(i => dir.getInt(bodyOff.toInt + 13 + 8 * i))
    val offs = stored.scanLeft(dirEnd)(_ + _)
    if (stored.exists(_ < 0) || offs(n) != footerOff)
      corrupt("segment directory does not tile the body")
    (0 until n).foreach { i =>
      if (stored(i) > decoded(i))
        corrupt(s"segment $i stores ${stored(i)} bytes, more than its ${decoded(i)} decoded")
    }
    ObjectFile.Directory(rows, offs, stored, decoded)
  }
  // every directory read first checks the directory against the footer
  private lazy val ObjectFile.Directory(_, segOff, segLen, decLen) = { footer; directory }
  /** Rows in the object. */
  def rowCount: Int = footer.rowCount
  /** Directory entry `i`: the segment's absolute (offset, stored length). */
  def segment(i: Int): (Long, Int) = (segOff(i), segLen(i))
  /** Directory entry `i`'s decoded length: the stored length when the
    * segment is stored raw. */
  def decodedLength(i: Int): Int = decLen(i)

  /** Column index by name in this object's own schema. */
  lazy val fieldIdx: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap

  /** Pushed filters the footer does not prove TRUE for every row
    * ([[ObjectFormat.residual]]). */
  def residual(pushed: Array[Filter]): Array[Filter] = ObjectFormat.residual(pushed, footer)

  /** Columns a read touches: the projection ∪ the filters' references
    * (names this generation lacks — evolution, `_object` — need none). */
  def needed(projection: StructType, filters: Array[Filter]): Array[Boolean] = {
    val need = Array.ofDim[Boolean](schema.length)
    (projection.fieldNames ++ filters.flatMap(_.references)).foreach(a =>
      fieldIdx.get(a).foreach(need(_) = true))
    need
  }

  // runs of adjacent needed segments, as [first, until) column indices
  private def runs(needed: Array[Boolean]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < needed.length) {
      if (needed(i)) {
        var j = i + 1
        while (j < needed.length && needed(j)) j += 1
        out += ((i, j)); i = j
      } else i += 1
    }
    out.result()
  }
  /** The (offset, length) reads [[segments]] makes for `needed`: one
    * per run of adjacent needed segments, none for the rest. */
  def ranges(needed: Array[Boolean]): Seq[(Long, Long)] =
    runs(needed).map { case (a, b) => (segOff(a), segOff(b) - segOff(a)) }

  /** The needed segments' decoded bytes, one array per segment (null
    * where not needed), each run of adjacent stored segments one
    * scattering read. */
  def segments(needed: Array[Boolean]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](segLen.length)
    runs(needed).foreach { case (a, b) =>
      val bufs = (a until b).map { i =>
        out(i) = new Array[Byte](segLen(i)); ByteBuffer.wrap(out(i))
      }.toArray
      ch.position(segOff(a))
      var left = segOff(b) - segOff(a)
      while (left > 0) {
        val r = ch.read(bufs)
        if (r < 0) truncated(s"segments $a..${b - 1}")
        left -= r; nRead += r
      }
      (a until b).foreach(i => if (segLen(i) < decLen(i)) out(i) = decode(i, out(i)))
    }
    out
  }

  /** Segment `i`'s zstd frame, decoded to exactly its directory length
    * (checked against the frame's own content size before allocating). */
  private def decode(i: Int, stored: Array[Byte]): Array[Byte] = {
    def bad(what: String, cause: Throwable = null): Nothing =
      corrupt(s"segment $i: $what", cause)
    try {
      val framed = Zstd.getFrameContentSize(stored)
      if (framed != decLen(i))
        bad(s"zstd frame holds $framed bytes, the directory says ${decLen(i)}")
      val seg = new Array[Byte](decLen(i))
      val got = unpackSegment(stored, seg)
      if (got != seg.length) bad(s"decodes to $got bytes, the directory says ${seg.length}")
      seg
    } catch { case e: ZstdException => bad(s"zstd: ${e.getMessage}", e) }
  }

  /** Column `i`'s values from its decoded segment `seg`, boxed
    * ([[ObjectFormat.Segment.boxed]]). */
  def boxed(i: Int, seg: Array[Byte]): Array[Any] =
    try new Segment(seg, rowCount, schema(i).dataType).boxed()
    catch {
      case e @ (_: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException |
          _: IllegalArgumentException) =>
        corrupt(s"segment $i: values overrun its ${seg.length} bytes", e)
    }

  /** Recompute the body CRC32 (read in 512 KB chunks) and compare it
    * with the one stored after the footer. */
  def bodyCrcMatches: Boolean = {
    val stored = storedCrc
    val crc = new java.util.zip.CRC32()
    var pos = bodyOff
    while (pos < footerOff) {
      val len = math.min(footerOff - pos, 1L << 19).toInt
      crc.update(readAt(pos, len, "body"))
      pos += len
    }
    crc.getValue == stored
  }

  /** Copy everything after the schema DDL (body length, body, footer,
    * CRC) to `out` — the header patch of a column rename. */
  def copyAfterSchema(out: java.io.OutputStream): Unit = {
    out.flush()
    val sink = java.nio.channels.Channels.newChannel(out)
    var pos = bodyOff - 4
    while (pos < size) pos += ch.transferTo(pos, size - pos, sink)
  }

  override def close(): Unit = ch.close()
}

object ObjectFile {
  /** Bytes of the first read: the header and the segment directory of
    * every fixture table fit (lineitem's end at byte 316). */
  val HeadProbe = 512

  /** The segment directory: the row count, and per segment its
    * absolute offset, stored length and decoded length. */
  private final case class Directory(rows: Int, offsets: Array[Long],
      stored: Array[Int], decoded: Array[Int])

  def open(path: String): ObjectFile = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(path),
      java.nio.file.StandardOpenOption.READ)
    try new ObjectFile(path, ch)
    catch { case e: Throwable => ch.close(); throw e }
  }

  def using[T](path: String)(f: ObjectFile => T): T = {
    val o = open(path)
    try f(o) finally o.close()
  }
}

/** Distributed ingest: raw parquet fixtures → the object layout.
  * One Spark task writes one `<table>.<seq>` object (the reference's
  * fbwriter, as a Spark job). */
object ObjectStoreIngest {
  val defaultObjects: Map[String, Int] = Map(
    "lineitem" -> 8, "orders" -> 4, "events" -> 4, "documents" -> 4,
    "embeddings" -> 2, "customer" -> 2, "part" -> 2).withDefaultValue(1)

  /** `rangeCols`: tables to range-partition on their hot predicate
    * column at ingest, so per-object footer min/max stats prune scans
    * the way the reference's object-level index does (SURVEY §2.11). */
  def ingest(spark: SparkSession, sfDir: String, outRoot: String,
      objects: Map[String, Int] = defaultObjects,
      rangeCols: Map[String, String] = Map.empty): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      val n = objects(t)
      val out = rangeCols.get(t) match {
        case Some(c) if n > 1 =>
          src.repartitionByRange(n, org.apache.spark.sql.functions.col(c))
        case _ => src.repartition(n)
      }
      out.write.format("graft-objects").mode("overwrite").save(s"$outRoot/$t")
    }
  }
}

/** Object-store maintenance (SURVEY §2.11 compaction/merge): rewrite a
  * table's many small objects into `target` larger ones — a DSv2 read
  * (all pushdown machinery available) into a DSv2 truncate-write that
  * renames the new generation in only after it is fully staged. The
  * reference runs the same op storage-side to merge small ingest
  * objects. */
object ObjectStoreMaintenance {

  // ---- crash-safety journal -----------------------------------------
  //
  // Every mutation here changes MULTIPLE files before its single
  // commit line, and live reads are directory-listed, not log-gated,
  // so a crash mid-op would leave torn state visible. The journaled
  // paths, all through [[journaled]]:
  //  - the batch write commit (append and overwrite): staged→live
  //    renames, plus for overwrite the archive moves and the sidecar;
  //  - the UPDATE/MERGE replace commit: fresh tail renames, then
  //    archive moves of the affected generation;
  //  - copy-on-write DELETE (`deleteWhere`): archive moves and
  //    archive-copy + in-place rewrites;
  //  - TRUNCATE TABLE: archive moves;
  //  - the merge-on-read ops (deleteMoR, updateMoR, updateMoRExpr):
  //    per object an archive pre-image and a DV sidecar, then for the
  //    updates one replacement object.
  //
  // The journal makes every window recoverable with pieces the ops
  // already produce: a `_txn_v<v>` intent marker (the version + the
  // planned new live names) written BEFORE the first mutation,
  // deleted AFTER `record`. `record` is the commit point:
  //   marker present ∧ log has v      → crashed after commit: roll
  //     FORWARD (delete the marker; all artifacts are legitimate);
  //   marker present ∧ log lacks v    → crashed mid-op: roll BACK —
  //     every archive pre-image `X@v<v>` moves back over its live
  //     name (covering both the copy and the full-delete move), its
  //     DV drops, planned-but-uncommitted new objects delete.
  // Every journaled commit runs recovery on entry (under the same
  // table lock), so the torn window lasts at most until the next
  // write; CrashInjectionSpec and WriteCrashSpec drive the boundaries
  // via FaultPoints.

  private def txnFile(dir: String, v: Int) = new File(dir, s"_txn_v$v")

  private def beginTxn(dir: String, v: Int, adds: Seq[String]): Unit = {
    // Atomic publish: the marker guards against crashes, so its OWN
    // write must not be tearable — a direct Files.write interrupted
    // mid-write leaves a truncated marker that recovery would then
    // choke on forever. Stage to a temp name and move it into place
    // (same-directory rename — atomic on POSIX).
    val tgt = txnFile(dir, v).toPath
    val tmp = new File(dir, s"._txn_v$v.tmp").toPath
    Files.write(tmp, (v.toString +: adds).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.move(tmp, tgt, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, tgt, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** A planned commit: the new live object names it will add (the
    * rollback list) and its body, which receives the commit's version
    * and makes every file change plus the `record` line. */
  private[sources] final case class Txn[T](adds: Seq[String])(val run: Int => T)

  /** The one journaled commit: under the table lock, recover a torn
    * predecessor, `plan` (which sees the recovered table), take the
    * next version, publish the intent marker, run the body, clear the
    * marker. A body that throws leaves its marker for the next
    * writer's recovery to roll back. */
  private[sources] def journaled[T](dir: String)(plan: => Txn[T]): T =
    GraftVersions.withTableLock(dir) {
      recoverTxn(dir)
      val txn = plan
      val v = GraftVersions.nextVersion(dir)
      beginTxn(dir, v, txn.adds)
      val out = txn.run(v)
      Files.deleteIfExists(txnFile(dir, v).toPath)
      out
    }

  /** Recover a crashed journaled commit, if any; returns a description
    * of what was done. Called under the table lock on entry to every
    * journaled commit; also reachable directly (tests, explicit
    * repair). */
  def recoverTxn(dir: String): Option[String] = {
    val markers = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("_txn_v\\d+"))
    if (markers.isEmpty) return None
    // numeric version order (r7 advice): lexicographic sorts _txn_v10
    // before _txn_v9; if markers ever coexist, recovery must apply in
    // version order
    val out = markers.sortBy(_.getName.stripPrefix("_txn_v").toInt).map { m =>
      // tolerate a torn body (pre-atomic-publish markers, or a partial
      // write the rename fix can't retroactively undo): the version is
      // authoritative from the FILENAME, and a missing/garbled adds
      // list degrades to "no planned adds" — roll-back then restores
      // pre-images (named by `@v<v>` on disk, not by the marker body)
      // and simply has no uncommitted adds to remove
      val v = m.getName.stripPrefix("_txn_v").toInt
      val adds =
        try new String(Files.readAllBytes(m.toPath),
          java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
          .drop(1).filter(_.nonEmpty)
        catch { case _: Throwable => Seq.empty[String] }
      if (GraftVersions.currentVersion(dir) >= v) {
        Files.deleteIfExists(m.toPath)
        s"v$v: committed, rolled forward"
      } else {
        // Order matters: delete the uncommitted adds BEFORE restoring
        // pre-images. A truncate commit's planned names restart at
        // seq 0 — the SAME names as the generation it archived — so
        // restore-then-delete would delete the restored pre-images
        // (caught by WriteCrashSpec's truncate window).
        adds.foreach(n => Files.deleteIfExists(new File(dir, n).toPath))
        val arch = new File(dir, "_archive")
        val pre = Option(arch.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(s"@v$v"))
        pre.foreach { a =>
          val liveName = a.getName.stripSuffix(s"@v$v")
          val live = new File(dir, liveName)
          Files.move(a.toPath, live.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          DeleteVectors.drop(live.getPath)
        }
        Files.deleteIfExists(m.toPath)
        s"v$v: rolled back (${pre.length} restored, " +
          s"${adds.size} uncommitted adds removed)"
      }
    }
    Some(out.mkString("; "))
  }

  def compact(spark: SparkSession, dir: String, target: Int): Unit =
    spark.read.format("graft-objects").load(dir)
      .repartition(target)
      .write.format("graft-objects").mode("overwrite").save(dir)

  /** Compaction that PRESERVES a value-clustered layout: a clustered
    * table accumulates multiple objects per key as appends arrive;
    * this merges them back to one object per key (the storage-
    * partitioned-join contract — footer min==max on the cluster
    * column), so zero-shuffle reads keep working after maintenance.
    * The rewrite is a truncate commit, so the pre-compaction
    * generation stays time-travelable until vacuum. */
  def compactClustered(spark: SparkSession, dir: String,
      clusterCol: String, width: Option[Long] = None): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val keyed = width match {
      // width-bucketed layout (r4): re-cluster on the bucket, one
      // object per bucket after arbitrary appends
      case Some(w) => spark.read.format("graft-objects").load(dir)
        .repartition(expr(s"$clusterCol div $w"))
        .sortWithinPartitions(clusterCol)
      case None => spark.read.format("graft-objects").load(dir)
        .repartition(col(clusterCol))
        .sortWithinPartitions(clusterCol)
    }
    val writer = keyed.write.format("graft-objects")
      .option("clusterBy", clusterCol)
      // compaction PRESERVES an existing layout choice, never makes
      // one — the identity-cluster object cap is a write-time design
      // gate and must not refuse maintenance of a table that already
      // opted into one-object-per-key
      .option("maxObjectsPerTask", Int.MaxValue.toString)
    width.foreach(w => writer.option("clusterWidth", w.toString))
    writer.mode("overwrite").save(dir)
  }

  /** Merge-on-read DELETE (the Delta/Iceberg deletion-vector
    * discipline): instead of re-encoding survivors (copy-on-write,
    * `deleteWhere`), write a tiny `_dv/<object>.dv` SIDECAR naming the
    * deleted row ordinals and let every reader subtract them at
    * decode time. The live data object is NOT rewritten — the delete
    * costs O(matched ordinals), not O(survivors); reads pay the merge.
    *
    * Versioning contract (exact time travel):
    *  - the commit records the object in `rw` and archives the RAW
    *    pre-image, so snapshots before the delete read full rows (the
    *    archive path never carries a DV);
    *  - a SECOND MoR delete on an object first FOLDS the existing DV
    *    (physical rewrite of the live object to its logical state — a
    *    logical no-op needing no version), so each live object holds
    *    at most one DV generation and snapshot resolution stays exact.
    *
    * Self-invalidation: the DV is fingerprinted with the object's
    * byte length — any rewrite under the same name (compaction, CoW
    * DELETE, relayout) changes the length and the stale DV becomes a
    * no-op, so no writer needs DV awareness.
    *
    * Footer-trusting fast paths (footer-answered aggregates,
    * LIMIT/TopN object selection) check for a valid DV and fall back
    * to real scans — a DV'd object's footer over-counts by design.
    *
    * Returns (#objects fully removed, #objects DV'd, #rows deleted). */
  def deleteMoR(dir: String, filters: Array[Filter]): (Int, Int, Long) =
    journaled(dir) {
      val schema = morSchema(dir, "deleteMoR", filters,
        " (same contract as canDeleteWhere)")
      Txn(Nil) { v =>
        val w = morWalk(dir, v, schema, filters, "delete")(_ => ())
        if (w.removed.nonEmpty || w.dvd.nonEmpty)
          GraftVersions.record(dir, v, Nil, w.removed, w.dvd)
        FaultPoints.hit("mor.delete.recorded")
        (w.removed.size, w.dvd.size, w.rows)
      }
    }

  /** Merge-on-read UPDATE, the DV discipline extended with a write:
    * matched rows are DV-deleted in place (data objects untouched)
    * and re-appended WITH the constant assignments applied as one new
    * object — the Iceberg MoR-update shape (delete file + data file,
    * one commit). Scope: SET col = constant (the redaction/backfill
    * maintenance form); computed assignments are [[updateMoRExpr]],
    * which shares this body.
    *
    * Returns (#rows updated, the new object's name, or null when no
    * row matched). */
  def updateMoR(dir: String, filters: Array[Filter],
      set: Map[String, Any]): (Long, String) =
    morUpdate(dir, filters, "updateMoR") { schema =>
      set.map { case (c, v) =>
        val x = CatalystTypeConverters.convertToCatalyst(v)
        schema.fieldIndex(c) -> ((_: InternalRow) => x)
      }
    }

  /** Merge-on-read UPDATE with COMPUTED expressions — `SET x = f(row)`
    * over the matched rows' pre-images, same delete-file + data-file
    * commit shape as [[updateMoR]] (DV the matched ordinals in place,
    * re-append the transformed rows as one new object) but the
    * assignment is any deterministic Catalyst expression over the
    * row, resolved and type-coerced by the session's own analyzer
    * (so implicit casts, CASE WHEN, functions all behave exactly as
    * SQL UPDATE would). Data objects stay byte-untouched — the
    * incremental-pipeline form the constants-only path couldn't
    * serve without a copy-on-write rewrite.
    *
    * Returns (#rows updated, the new object's name or null). */
  def updateMoRExpr(spark: SparkSession, dir: String,
      filters: Array[Filter], set: Map[String, String]): (Long, String) =
    morUpdate(dir, filters, "updateMoRExpr") { schema =>
      import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Cast}
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
      val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(schema)
      set.map { case (c, exprSql) =>
        val i = schema.fieldIndex(c)
        val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
        val analyzed = spark.sessionState.analyzer.execute(
          Project(Seq(Alias(parsed, c)()), LocalRelation(attrs)))
          .asInstanceOf[Project].projectList.head
        require(analyzed.deterministic,
          s"updateMoRExpr: '$exprSql' must be deterministic")
        val coerced =
          if (analyzed.dataType == schema(i).dataType) analyzed
          else Cast(analyzed, schema(i).dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone))
        val bound = BindReferences.bindReference(coerced, attrs)
        i -> ((row: InternalRow) => bound.eval(row))
      }
    }

  /** The table schema a MoR op folds and reads with, under the same
    * storage-evaluable contract for its predicates. */
  private def morSchema(dir: String, op: String, filters: Array[Filter],
      contract: String = ""): StructType = {
    val schema = GraftObjectTable.liveSchema(dir).getOrElse(
      throw new IllegalArgumentException(
        s"$op: table $dir has no objects and no schema sidecar"))
    require(filters.forall(ObjectFormat.storageEvaluable(schema, _)),
      s"$op: every predicate must be storage-evaluable$contract")
    schema
  }

  /** Both MoR updates: `assign` maps a column index to the function
    * computing its new value from the matched row's pre-image (a
    * constant is a constant function). Matched rows are DV'd in place
    * and re-appended, assigned, as the one new object. */
  private def morUpdate(dir: String, filters: Array[Filter], op: String)(
      assign: StructType => Map[Int, InternalRow => Any]): (Long, String) =
    journaled(dir) {
      val schema = morSchema(dir, op, filters)
      val setIdx = assign(schema)
      val newName = s"${new File(dir).getName}.${GraftVersions.nextSeq(dir)}"
      Txn(Seq(newName)) { v =>
        val enc = new ObjectFormat.ObjectEncoder(schema)
        val w = morWalk(dir, v, schema, filters, "update") { row =>
          val out = new Array[Any](schema.length)
          var i = 0
          while (i < schema.length) {
            out(i) = setIdx.get(i) match {
              case Some(f) => f(row)
              case None => row.get(i, schema(i).dataType)
            }
            i += 1
          }
          enc.addInternal(new GenericInternalRow(out))
        }
        if (w.rows == 0) (0L, null)
        else {
          enc.finish(new File(dir, newName).getPath)
          FaultPoints.hit("mor.update.objwritten")
          GraftVersions.record(dir, v, Seq(newName), Nil, w.dvd)
          FaultPoints.hit("mor.update.recorded")
          (w.rows, newName)
        }
      }
    }

  /** What a MoR walk did: objects moved whole to the archive, objects
    * given a DV, rows matched. */
  private final case class MorWalk(removed: Seq[String], dvd: Seq[String],
      rows: Long)

  /** The per-object step every MoR op shares, over the candidate
    * objects of `filters`: fold an existing DV (one DV generation per
    * object), read the matching rows' ordinals (each matched row also
    * goes to `onRow`), then archive a copy of the pre-image and write
    * the DV. A `delete` that matches every row of an object moves the
    * object to the archive instead. `kind` names the fault points. */
  private def morWalk(dir: String, v: Int, schema: StructType,
      filters: Array[Filter], kind: String)(
      onRow: InternalRow => Unit): MorWalk = {
    val removed = Seq.newBuilder[String]
    val dvd = Seq.newBuilder[String]
    var rows = 0L
    GraftObjectTable.candidates(GraftObjectTable.listObjects(dir), filters)
      .foreach { case (obj, footer) =>
        val folded = DeleteVectors.read(obj).isDefined
        if (folded) foldDeleteVector(obj, schema)
        val reader = new GraftObjectReader(obj, schema, schema, filters)
        val ords = Array.newBuilder[Int]
        try {
          while (reader.next()) {
            ords += reader.currentOrdinal
            onRow(reader.get())
          }
        } finally reader.close()
        val hit = ords.result()
        if (hit.nonEmpty) {
          val objFile = new File(obj)
          rows += hit.length
          def physical =
            if (folded) ObjectFormat.readFooter(obj).rowCount else footer.rowCount
          if (kind == "delete" && hit.length == physical) {
            GraftVersions.archiveMove(dir, objFile, v)
            FaultPoints.hit("mor.delete.moved")
            removed += objFile.getName
          } else {
            GraftVersions.archiveCopy(dir, objFile, v)
            FaultPoints.hit(s"mor.$kind.archived")
            DeleteVectors.write(obj, hit)
            FaultPoints.hit(s"mor.$kind.dv")
            dvd += objFile.getName
          }
        }
      }
    MorWalk(removed.result(), dvd.result(), rows)
  }

  /** Rewrite a live object to its logical state (DV applied) and drop
    * the DV — a LOGICAL NO-OP (no version): the live file always
    * represents the table's latest state, snapshots resolve through
    * the archive. Used before stacking a second DV and by explicit
    * maintenance. */
  def foldDeleteVector(obj: String, schema: StructType): Unit = {
    if (DeleteVectors.read(obj).isEmpty) return
    val reader = new GraftObjectReader(obj, schema, schema, Array.empty)
    val enc = new ObjectFormat.ObjectEncoder(schema)
    try { while (reader.next()) enc.addInternal(reader.get()) }
    finally reader.close()
    val objFile = new File(obj)
    val staged = new File(objFile.getParentFile,
      s"_staged_dvfold_${objFile.getName}")
    enc.finish(staged.getPath)
    FaultPoints.hit("dvfold.staged")
    // Swap FIRST, then drop: after the atomic move the old DV is
    // already stale by (length, mtime) fingerprint and reads as
    // absent, so a crash (or concurrent lock-free reader) between the
    // two steps never sees old bytes without their DV. The reverse
    // order had a correctness window: drop() then crash-before-move
    // left the old physical bytes live with no DV, permanently
    // resurrecting the deleted rows.
    Files.move(staged.toPath, objFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    FaultPoints.hit("dvfold.moved")
    DeleteVectors.drop(obj)
  }

  /** Fold a live object's DV (if any) using the object's OWN physical
    * schema — called by every path that archives a live object
    * (deleteWhere, TRUNCATE, the overwrite/MERGE commit, compaction)
    * so the archived bytes are the object's LOGICAL state at archive
    * time. Archiving raw bytes would resurrect MoR-deleted rows for
    * any snapshot in [dv-commit, rewrite-commit) and for changes()
    * windows crossing the rewrite, because DV lookup happens only
    * beside the object's live path, never in the archive. */
  def foldBeforeArchive(obj: String): Unit =
    if (DeleteVectors.hasValid(obj))
      foldDeleteVector(obj, ObjectFormat.headerSchema(obj))
}

/** Deletion-vector sidecars (`_dv/<object>.dv`): magic, the object's
  * (byte length, mtime) fingerprint, then the deleted row ordinals.
  * A DV whose fingerprint disagrees with the object's current state
  * is STALE (the object was rewritten — compaction, CoW delete,
  * relayout, overwrite) and reads as absent, so no rewrite path needs
  * DV awareness. The mtime component matters: an OVERWRITE of the
  * same data re-creates byte-identical objects under the same names,
  * and a length-only fingerprint would resurrect the old DV against
  * the truncated table's fresh objects (caught by ObjectStoreSpec's
  * full-surface route). Hard links (the change feed's staging)
  * preserve both length and mtime, so a staged DV stays valid. */
object DeleteVectors {
  val Magic = 0x47445632 // "GDV2" — v2: (length, mtime) fingerprint

  def dvFile(objPath: String): File = {
    val f = new File(objPath)
    new File(new File(f.getParentFile, "_dv"), f.getName + ".dv")
  }

  def write(objPath: String, ordinals: Array[Int]): Unit = {
    val dv = dvFile(objPath)
    dv.getParentFile.mkdirs()
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(dv.toPath)))
    try {
      out.writeInt(Magic)
      out.writeLong(new File(objPath).length())
      out.writeLong(new File(objPath).lastModified())
      out.writeInt(ordinals.length)
      ordinals.foreach(out.writeInt)
    } finally out.close()
  }

  /** The valid DV for this object — None when absent, malformed, or
    * stale (fingerprint mismatch after a rewrite). */
  def read(objPath: String): Option[util.BitSet] = {
    val dv = dvFile(objPath)
    if (!dv.isFile) return None
    val in = new DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(dv.toPath)))
    try {
      if (in.readInt() != Magic) return None
      if (in.readLong() != new File(objPath).length()) return None
      if (in.readLong() != new File(objPath).lastModified()) return None
      val n = in.readInt()
      val bs = new util.BitSet()
      var i = 0
      while (i < n) { bs.set(in.readInt()); i += 1 }
      Some(bs)
    } catch { case _: java.io.IOException => None }
    finally in.close()
  }

  def hasValid(objPath: String): Boolean = read(objPath).isDefined

  def drop(objPath: String): Unit = {
    val f = dvFile(objPath); if (f.isFile) f.delete(): Unit
  }
}

/** `spark.read.format("graft-objects").load(dir)` — see ObjectFormat. */
class GraftObjectSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-objects"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-objects: .load(path) is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (Option(options.get("changeFeed")).contains("true"))
      return GraftChangeFeed.feedSchema(inferDataSchema(options))
    inferDataSchema(options)
  }

  private def inferDataSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options)
    val (base, ref) = GraftVersions.split(dir)
    def liveSchema: StructType = GraftObjectTable.liveSchema(base)
      .getOrElse(throw new IllegalArgumentException(s"$base: no objects"))
    if (ref.isDefined)
      // a versioned view speaks with its own generation's schema when
      // it has objects; an empty view (e.g. a no-change delta window)
      // borrows the live schema so incremental pollers see an empty
      // DataFrame, not an error
      GraftObjectTable.listObjects(dir).headOption
        .map(ObjectFormat.headerSchema).getOrElse(liveSchema)
    else liveSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    if (Option(properties.get("changeFeed")).contains("true"))
      new GraftChangeFeedTable(
        StructType(schema.dropRight(2)), // strip the feed's meta columns
        properties.get("path"),
        Option(properties.get("startingVersion")).map(_.toInt))
    else new GraftObjectTable(schema, properties.get("path"))
}

object GraftObjectTable {
  /** Objects METADATA table — the Iceberg `table$files` / Delta
    * `DESCRIBE DETAIL` analog: one row per live object with its row
    * count, byte size, and per-column min/max/null-count rendered from
    * the footer, as a normal DataFrame (composable with any filter/
    * agg/join). Footer reads are DISTRIBUTED — object paths
    * parallelize and each task opens only footers (tail bytes), so the
    * query costs #objects footer reads regardless of data size; at
    * 800k objects that is a few MB of I/O spread over the cluster,
    * never a driver loop. Works on any `path@vN` snapshot because the
    * listing funnels through the same version-resolved listObjects. */
  def objectsMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{StructType => ST, StructField => SF,
      StringType => S, LongType => L, MapType}
    val paths = listObjects(dir)
    val schema = ST(Seq(
      SF("object_name", S), SF("n_rows", L), SF("n_bytes", L),
      SF("col_min", MapType(S, S)), SF("col_max", MapType(S, S)),
      SF("col_nulls", MapType(S, L))))
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 32)))
      .map { p =>
        val f = ObjectFormat.readFooter(p)
        def render(a: Any): String = a match {
          case null => null
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case v => String.valueOf(v)
        }
        org.apache.spark.sql.Row(
          new File(p).getName, f.rowCount.toLong, new File(p).length(),
          f.stats.map { case (c, st) => c -> render(st.min) },
          f.stats.map { case (c, st) => c -> render(st.max) },
          f.stats.map { case (c, st) => c -> st.nullCount.toLong })
      }
    spark.createDataFrame(rows, schema)
  }

  /** The table's schema now: the `_schema.ddl` sidecar when present
    * (authoritative after ALTER TABLE; older objects are earlier
    * generations, name-mapped at read), else the first live object's
    * header; None when the directory has neither. */
  def liveSchema(dir: String): Option[StructType] = {
    val sidecar = new File(dir, "_schema.ddl")
    if (sidecar.isFile)
      Some(StructType.fromDDL(new String(Files.readAllBytes(sidecar.toPath),
        java.nio.charset.StandardCharsets.UTF_8)))
    else listObjects(dir).headOption.map(ObjectFormat.headerSchema)
  }

  /** The objects of `objs` a conjunction of `filters` can touch, with
    * their footers — the reference's object-local index: an object is
    * a candidate unless it is empty or its footer stats rule a match
    * out. Reads each footer once, in listing order. */
  def candidates(objs: Seq[String],
      filters: Array[Filter]): Seq[(String, ObjectFormat.Footer)] =
    objs.map(p => p -> ObjectFormat.readFooter(p)).filter { case (_, f) =>
      f.rowCount > 0 && filters.forall(ObjectFormat.mightMatch(_, f))
    }

  /** `<table>.<seq>` files, seq-sorted — the object naming contract.
    * Sidecar files (`_staged_*`, `_epoch_*`, `_log`, `_lock`,
    * `_vacuum`, the `_archive/` dir) never match. A `dir@v<k>` path
    * is a SNAPSHOT: the listing is version k's object set resolved
    * from the table's version log (GraftVersions), with superseded
    * content served from the archive — every scan path funnels
    * through this one listing, so the full read surface (pruning,
    * agg/limit pushdown, clustered reads) works on old versions
    * unchanged. */
  def listObjects(dir: String): Seq[String] = GraftVersions.split(dir) match {
    case (base, Some(ref)) => GraftVersions.resolve(base, ref)
    case (d0, None) =>
      val d = new File(d0)
      val name = d.getName
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.matches(
          java.util.regex.Pattern.quote(name) + "\\.\\d+"))
        .sortBy(f => f.getName.substring(name.length + 1).toInt)
        .map(_.getPath).toSeq
  }
}

class GraftObjectTable(tableSchema: StructType, path: String,
    defaults: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with TruncatableTable {

  /** Table-level option defaults (catalog `_props` sidecar): per-read/
    * per-write options win; the stored table properties fill the rest.
    * This is how a catalog SELECT — which passes no reader options —
    * still reads a clustered table AS clustered. */
  private def withDefaults(
      options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    if (defaults.isEmpty) options
    else {
      val m = new util.HashMap[String, String]()
      defaults.foreach { case (k, v) => m.put(k, v) }
      options.entrySet().forEach(e => m.put(e.getKey, e.getValue))
      new CaseInsensitiveStringMap(m)
    }

  /** `_object` = the `<table>.<seq>` object a row came from — the
    * reference's object-level addressing surfaced as a Spark metadata
    * column (query it like `SELECT _object, * FROM t`). Row-level
    * operations also require it, which routes their writes through
    * Spark's projecting task (ReplaceDataExec only splits data from
    * the internal `__row_operation` column when a metadata projection
    * exists — without it the raw operation-tagged rows would reach the
    * writer). Nullable: MERGE-inserted rows have no source object. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_object"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = true
      override def comment(): String =
        "name of the storage object this row was read from"
    })
  override def name(): String = s"graft-objects:$path"
  override def schema(): StructType = tableSchema
  /** Surface the stored option defaults (clustering, blooms, CHECK
    * constraints) through `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    defaults.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableSchema, path, withDefaults(options))
  /** Snapshots (`path@v<k>`) are immutable views: every mutation
    * surface refuses them up front. */
  private def requireWritable(op: String): Unit =
    require(!GraftVersions.isSnapshot(path),
      s"graft-objects: $op on snapshot $path — snapshots are read-only")

  /** SQL `TRUNCATE TABLE` — a versioned metadata operation like every
    * other mutation here: live objects move to the archive under a new
    * version (the pre-truncate state stays time-travelable and
    * VACUUM-able), and a removals-only commit line lands in the log.
    * The schema sidecar is written first so resolution survives the
    * last object leaving. Journaled: a crash mid-way rolls back to the
    * pre-truncate table on the next write. */
  override def truncateTable(): Boolean = {
    requireWritable("TRUNCATE TABLE")
    ObjectStoreMaintenance.journaled(path) {
      val existing = GraftObjectTable.listObjects(path)
      ObjectStoreMaintenance.Txn(Nil) { v =>
        val sidecar = new File(path, "_schema.ddl")
        if (!sidecar.isFile)
          Files.write(sidecar.toPath, tableSchema.toDDL.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        existing.zipWithIndex.foreach { case (p, i) =>
          ObjectStoreMaintenance.foldBeforeArchive(p)
          GraftVersions.archiveMove(path, new File(p), v)
          if (i == 0) FaultPoints.hit("truncate.commit.archived")
        }
        GraftVersions.record(path, v, Nil,
          existing.map(p => new File(p).getName))
      }
    }
    true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write")
    val opts = withDefaults(info.options())
    new GraftWriteBuilder(info.schema(), path,
      Option(opts.get("clusterBy")),
      Option(opts.get("bloomFilterColumns"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty),
      Option(opts.get("bloomFilterFpp"))
        .map(_.toDouble).getOrElse(0.01),
      Option(opts.get("clusterWidth")).map(_.toLong),
      Option(opts.get("commitMode")).contains("optimistic"),
      GraftChecks.compile(info.schema(), GraftChecks.fromOptions(opts)),
      Option(opts.get("maxObjectsPerTask")).map(_.toInt)
        .getOrElse(GraftWriterFactory.MaxIdentityClusterObjectsPerTask))
  }

  /** `DELETE FROM … WHERE p` as an OBJECT-LEVEL operation — the
    * reference's discipline (storage objects are the unit of work):
    *
    *  1. objects whose footer stats prove no row can match `p` are
    *     never opened (the same `mightMatch` prune as reads);
    *  2. objects where every row matches are unlinked whole;
    *  3. partially-matching objects are rewritten in place — survivors
    *     re-encoded to a staged file, atomically renamed over the
    *     original `<table>.<seq>` name (sequence numbering, and hence
    *     streaming offsets, stay intact).
    *
    * SQL semantics: a row is deleted only when `p` is TRUE; rows where
    * `p` is NULL survive (the reader's 3VL conjunction, negated).
    * Accepted predicates are exactly the storage-evaluable set — when
    * any conjunct falls outside it, `canDeleteWhere` refuses and Spark
    * reports the DELETE unsupported rather than half-applying it.
    *
    * Crash behaviour: the delete is one journaled commit. Every removed
    * object moves to the archive and every rewritten one leaves an
    * archive copy of its pre-image under the commit's version, so a
    * crash before the log line lands is rolled back — every pre-image
    * restored — by the next write's recovery; a crash after it rolls
    * forward. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(ObjectFormat.storageEvaluable(tableSchema, _))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE")
    ObjectStoreMaintenance.journaled(path) {
      ObjectStoreMaintenance.Txn(Nil) { v =>
        val removed = Seq.newBuilder[String]
        val rewritten = Seq.newBuilder[String]
        var changes = 0
        def changed(): Unit = {
          changes += 1
          if (changes == 1) FaultPoints.hit("delete.commit.changed")
        }
        GraftObjectTable.candidates(GraftObjectTable.listObjects(path), filters)
          .foreach { case (obj, footer0) =>
            // Fold a pending DV before the copy-on-write pass touches
            // the object: raw-footer mightMatch is conservative (raw
            // stats ⊇ logical content), and folding first means the
            // archived pre-image below is the logical state — not raw
            // bytes that would resurrect MoR-deleted rows under time
            // travel. The folded object is pruned again on its new
            // footer.
            val cand =
              if (!DeleteVectors.hasValid(obj)) Some(footer0)
              else {
                ObjectStoreMaintenance.foldBeforeArchive(obj)
                GraftObjectTable.candidates(Seq(obj), filters).headOption.map(_._2)
              }
            cand.foreach { footer =>
              val reader = new GraftObjectReader(obj, tableSchema, tableSchema,
                filters, negated = true)
              val enc = new ObjectFormat.ObjectEncoder(tableSchema)
              var survivors = 0
              try {
                while (reader.next()) { enc.addInternal(reader.get()); survivors += 1 }
              } finally reader.close()
              val objFile = new File(obj)
              if (survivors == 0) {
                GraftVersions.archiveMove(path, objFile, v)
                removed += objFile.getName
                changed()
              } else if (survivors < footer.rowCount) {
                // in-place rewrite keeps the name: archive the pre-image
                // FIRST (a copy — the live file stays valid until the
                // atomic replace), then swap content under the same seq
                GraftVersions.archiveCopy(path, objFile, v)
                val staged = new File(objFile.getParentFile,
                  s"_staged_delete_${objFile.getName}")
                enc.finish(staged.getPath)
                Files.move(staged.toPath, objFile.toPath,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                rewritten += objFile.getName
                changed()
              } // survivors == rowCount: stats conservative, nothing matched
            }
          }
        val (del, rw) = (removed.result(), rewritten.result())
        // a DELETE that empties the table must not strand it schema-
        // less: persist the sidecar the catalog falls back to BEFORE
        // the commit point, so a crash after it finds the schema
        if (GraftObjectTable.listObjects(path).isEmpty)
          Files.write(Paths.get(path, "_schema.ddl"),
            tableSchema.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (del.nonEmpty || rw.nonEmpty) {
          GraftVersions.record(path, v, Nil, del, rw)
          FaultPoints.hit("delete.commit.recorded")
        }
      }
    }
  }

  /** SQL UPDATE / MERGE INTO (and DELETE whose predicate falls outside
    * the storage-evaluable set) via Spark's group-based row-level
    * operation rewrite — copy-on-write at OBJECT granularity, the same
    * "storage objects are the unit of work" discipline as deleteWhere:
    * the operation's scan plans only objects whose footer stats say a
    * row COULD match (everything else is untouched), Spark computes the
    * full replacement content of those objects (updated + carried-over
    * rows, plus MERGE inserts), and commit swaps exactly the scanned
    * objects for the rewritten ones. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable("row-level operation")
    // CHECK constraints ride along so an UPDATE/MERGE rewrite cannot
    // introduce rows the append path would have refused
    val checkSqls = defaults.collect {
      case (k, v) if k.startsWith(GraftChecks.Prefix) =>
        k.substring(GraftChecks.Prefix.length) -> v
    }
    () => new GraftRowLevelOperation(tableSchema, path, info.command(),
      checkSqls)
  }
}

/** One UPDATE/MERGE/DELETE command instance: the coordination channel
  * between the command's scan (which learns the affected objects at
  * planning time) and its write (whose commit replaces them).
  *
  * Group filtering is conservative: an object is "affected" when the
  * pushed condition's storage-evaluable conjuncts pass its footer
  * stats — objects provably without matches keep their bytes. Affected
  * objects are rewritten whole even if few rows change (copy-on-write
  * amplification — the reference's object rewrite has the same shape;
  * a delta-based encoding would be the SupportsDelta extension).
  *
  * Commit is staged-rename like every other write here, single-writer
  * by the table contract, and journaled (see GraftReplaceDataWrite). */
class GraftRowLevelOperation(schema: StructType, path: String,
    cmd: RowLevelOperation.Command,
    checkSqls: Map[String, String] = Map.empty) extends RowLevelOperation {

  private val affected =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  private[sources] def recordAffected(objs: Seq[String]): Unit = {
    affected.clear(); objs.foreach(affected.add)
  }
  private[sources] def affectedObjects: Seq[String] = {
    import scala.jdk.CollectionConverters._
    affected.asScala.toSeq.sorted
  }

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation($cmd, $path)"

  /** Requiring `_object` does two jobs: it gives the replacement plan
    * per-row provenance, and it forces ReplaceDataExec onto its
    * projecting write task (see GraftObjectTable.metadataColumns). */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_object"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftGroupScanBuilder(schema, path, this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceDataWrite(info.schema(), path,
            GraftRowLevelOperation.this,
            GraftChecks.compile(info.schema(), checkSqls))
      }
    }
}

/** Scan builder for a row-level command. Pushed filters are used ONLY
  * to prune whole objects (group filtering); every filter is returned
  * as residual and `pushedFilters()` stays empty, because a group scan
  * must surface ALL rows of surviving objects — carried-over rows of a
  * partially-matching object are part of the replacement content. */
class GraftGroupScanBuilder(schema: StructType, path: String,
    op: GraftRowLevelOperation)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pruning: Array[Filter] = Array.empty
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruning = filters.filter(ObjectFormat.storageEvaluable(schema, _))
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def build(): Scan = new GraftGroupScan(schema, pruning, path, op)
}

class GraftGroupScan(schema: StructType, pruning: Array[Filter],
    path: String, op: GraftRowLevelOperation)
    extends Scan with Batch with SupportsRuntimeFiltering {

  /** Data columns + the `_object` provenance column the operation
    * requires (appended last, matching Spark's metadata-attr layout). */
  private val outSchema =
    schema.add(StructField("_object", StringType, nullable = true))
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftGroupScan path=$path, " +
      s"GroupPruning: [${pruning.mkString(", ")}] (copy-on-write groups)"

  private lazy val statsSelected: Seq[String] =
    GraftObjectTable.candidates(GraftObjectTable.listObjects(path), pruning)
      .map(_._1)

  /** Runtime GROUP filtering (Spark's
    * RowLevelOperationRuntimeGroupFiltering): before the copy-on-write
    * write runs, Spark executes the operation's condition as a
    * subquery over this same scan and feeds the distinct `_object`
    * values of the MATCHING rows back here — so the rewrite touches
    * only objects that truly contain matches, not every object whose
    * footer stats merely can't rule one out. Predicates outside the
    * storage-evaluable set (stats can't prune at all) collapse from
    * "rewrite the whole table" to "rewrite the objects with hits". */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_object"))

  @volatile private var matched: Option[Set[String]] = None
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In("_object", vs) =>
        matched = Some(vs.collect { case s: String => s }.toSet)
      case _ => // only _object membership is meaningful here
    }

  private def selected: Seq[String] = matched match {
    case Some(names) => statsSelected.filter(p => names(new File(p).getName))
    case None => statsSelected
  }

  override def planInputPartitions(): Array[InputPartition] = {
    op.recordAffected(selected) // overwrite semantics: last (post-
    selected.map(GraftObjectPartition.apply).toArray // filter) plan wins
  }

  /** No row filters: whole-object rows, the group-scan contract. */
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(schema, outSchema, Array.empty)
}

/** ReplaceData commit: stage the rewritten content (one object per
  * write task, same encoder as every other write path), then rename
  * staged objects onto FRESH tail sequence numbers and archive the
  * affected generation. Sequence numbers never recycle, so a reader
  * listing mid-commit sees well-formed objects either way. The commit
  * is journaled with the fresh tail names as its planned adds: a crash
  * between the renames and the log line is rolled back (new objects
  * deleted, archived ones restored) by the next write's recovery. */
class GraftReplaceDataWrite(writeSchema: StructType, path: String,
    op: GraftRowLevelOperation,
    checks: Seq[GraftCheck] = Nil) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    new GraftWriterFactory(writeSchema, path, "rl", checks = checks)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ObjectStoreMaintenance.journaled(path) {
      val table = new File(path).getName
      val affected = op.affectedObjects.toSet
      val base = GraftVersions.nextSeq(path)
      // An empty write partition (e.g. every group pruned, or a skewed
      // replacement plan) stages a zero-row object — drop it instead of
      // renaming junk into the sequence.
      val nonEmpty = messages.collect {
        case GraftStagedObject(staged, _)
            if ObjectFormat.readFooter(staged).rowCount > 0 => staged
        case GraftStagedObject(staged, _) =>
          new File(staged).delete(); null
      }.filter(_ != null)
      val planned = nonEmpty.indices.map(i => s"$table.${base + i}")
      ObjectStoreMaintenance.Txn(planned) { v =>
        nonEmpty.zip(planned).zipWithIndex.foreach { case ((staged, name), i) =>
          val dst = new File(path, name)
          if (!new File(staged).renameTo(dst))
            throw new java.io.IOException(s"rename $staged -> $dst failed")
          if (i == 0) FaultPoints.hit("replace.commit.renamed")
        }
        affected.foreach { obj =>
          ObjectStoreMaintenance.foldBeforeArchive(obj)
          GraftVersions.archiveMove(path, new File(obj), v)
        }
        // emptied: the schema sidecar lands before the commit point
        if (GraftObjectTable.listObjects(path).isEmpty)
          Files.write(Paths.get(path, "_schema.ddl"),
            writeSchema.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        GraftVersions.record(path, v, planned,
          affected.toSeq.map(new File(_).getName).sorted)
        FaultPoints.hit("replace.commit.recorded")
      }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftStagedObject(staged, _) => new File(staged).delete()
      case _ =>
    }
}

/** DSv2 write: each task encodes its partition into a staged object;
  * commit sequences the staged files into `<table>.<seq>` names
  * (rename within one directory — atomic on a shared FS/object store
  * with atomic rename; at 100 TB this is the same one-object-per-task
  * write fan-out as the reference's loader). `overwrite` (TRUNCATE)
  * clears the previous generation at commit time, after every staged
  * object is durable. */
class GraftWriteBuilder(writeSchema: StructType, path: String,
    clusterBy: Option[String] = None,
    bloomCols: Set[String] = Set.empty, bloomFpp: Double = 0.01,
    clusterWidth: Option[Long] = None,
    optimistic: Boolean = false,
    checks: Seq[GraftCheck] = Nil,
    maxObjectsPerTask: Int = GraftWriterFactory.MaxIdentityClusterObjectsPerTask)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(writeSchema, path, doTruncate, clusterBy,
        bloomCols, bloomFpp, clusterWidth, optimistic, checks,
        maxObjectsPerTask)
    /** Streaming write: each micro-batch epoch commits its staged
      * objects onto the tail of the `<table>.<seq>` sequence — which is
      * exactly what makes the table readable as a stream (offset =
      * object count): a writeStream into the object store composes with
      * a readStream out of it. Exactly-once at the object level: see
      * GraftStreamingWrite's epoch-marker commit protocol. */
    override def toStreaming: StreamingWrite =
      new GraftStreamingWrite(writeSchema, path, checks)
  }
}

case class GraftStagedObject(stagedPath: String, partitionId: Int)
    extends WriterCommitMessage

/** A clustered write's per-task result: one staged object per cluster
  * key segment encountered in the task's partition. */
case class GraftStagedObjects(stagedPaths: Seq[String], partitionId: Int)
    extends WriterCommitMessage

/** Batch commit discipline: staged-rename, single-writer. The sequence
  * base is `existing.size`, which is correct for the one-writer-per-
  * table contract every call site here honors; concurrent appenders
  * would need a lock-file or a conditional-put (the reference's
  * object-store CAS) to serialize the base — documented, not built. */
class GraftBatchWrite(writeSchema: StructType, path: String, truncate: Boolean,
    clusterBy: Option[String] = None,
    bloomCols: Set[String] = Set.empty, bloomFpp: Double = 0.01,
    clusterWidth: Option[Long] = None,
    optimistic: Boolean = false,
    checks: Seq[GraftCheck] = Nil,
    maxObjectsPerTask: Int = GraftWriterFactory.MaxIdentityClusterObjectsPerTask)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    // APPEND must match the table's CURRENT schema
    if (!truncate) {
      // names + types must agree; nullability may differ (INSERT VALUES
      // plans arrive NOT NULL, the store treats every column nullable)
      def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
      GraftObjectTable.liveSchema(path).foreach { current =>
        require(shape(current) == shape(writeSchema),
          s"graft-objects append schema mismatch: table has " +
            s"[${current.toDDL}], write has [${writeSchema.toDDL}]")
      }
    }
    new GraftWriterFactory(writeSchema, path, "b", clusterBy,
      bloomCols, bloomFpp, clusterWidth, checks, maxObjectsPerTask)
  }
  /** `.option("commitMode", "optimistic")` — the LOCK-FREE append for
    * writers that do not share `_lock`'s advisory semantics (separate
    * hosts / object stores). Two atomic-exclusive claims replace the
    * lock: each object NAME is claimed by hard-linking the staged file
    * to `<table>.<seq>` (a loser gets FileAlreadyExistsException and
    * probes the next sequence number), then the VERSION is claimed via
    * GraftVersions.commitOptimistic's `_log.d/<v>` link. Append-only:
    * an optimistic TRUNCATE would race the archive moves, and
    * cross-host overwrite wants a coordinator anyway — refused. */
  private def commitAppendOptimistic(
      messages: Array[WriterCommitMessage]): Unit = {
    require(!truncate,
      "graft-objects: commitMode=optimistic supports append only")
    val dir = new File(path)
    val table = dir.getName
    val staged = messages.flatMap {
      case GraftStagedObject(s, _) => Seq(s)
      case GraftStagedObjects(ss, _) => ss
    }
    var seq = GraftVersions.nextSeq(path)
    val added = staged.map { s =>
      var placed: String = null
      while (placed == null) {
        val dst = new File(dir, s"$table.$seq")
        try {
          Files.createLink(dst.toPath, Paths.get(s))
          Files.delete(Paths.get(s))
          placed = dst.getName
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => seq += 1
        }
      }
      seq += 1
      placed
    }
    GraftVersions.commitOptimistic(path) { v =>
      GraftVersions.Commit(v, added.toSeq, Nil, Nil, None,
        System.currentTimeMillis())
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (optimistic) commitAppendOptimistic(messages)
    else ObjectStoreMaintenance.journaled(path) {
      // The journal's planned adds are the live names the staged
      // objects will take. Orphaned `_staged_*` task files are NOT
      // touched by recovery — a concurrent write's executors stage
      // outside this lock, so they're vacuum's job, and listing
      // already hides them from readers.
      val dir = new File(path)
      val table = dir.getName
      val existing = GraftObjectTable.listObjects(path)
      val staged = messages.flatMap {
        case GraftStagedObject(s, _) => Seq(s)
        case GraftStagedObjects(ss, _) => ss // clustered write: many per task
      }
      // max(live)+1, NOT existing.size: a size base would collide with
      // (and silently replace) a surviving name once DELETE has left
      // gaps in the sequence
      val base = if (truncate) 0 else GraftVersions.nextSeq(path)
      val planned = staged.indices.map(i => s"$table.${base + i}")
      ObjectStoreMaintenance.Txn(planned) { v =>
        FaultPoints.hit("write.commit.begun")
        if (truncate) {
          val sidecar = new File(dir, "_schema.ddl")
          val hadSidecar = sidecar.isFile
          if (hadSidecar) {
            // snapshot the sidecar as an @v pre-image first: rollback
            // then restores the OLD schema alongside the OLD objects
            // (log-driven snapshot reads never reference it — only
            // recovery resolves `_archive/*@v$v` by suffix)
            GraftVersions.archiveMove(path, sidecar, v)
          }
          // the old generation stays materializable: archive, not
          // delete (folding first so a DV'd object archives its
          // logical state)
          existing.foreach { p =>
            ObjectStoreMaintenance.foldBeforeArchive(p)
            GraftVersions.archiveMove(path, new File(p), v)
          }
          FaultPoints.hit("write.commit.archived")
          // an overwrite defines the schema anew; refresh any sidecar
          // so sidecar-first resolution can't serve a stale generation
          if (hadSidecar)
            Files.write(sidecar.toPath, writeSchema.toDDL.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        }
        staged.zipWithIndex.foreach { case (s, i) =>
          val dst = new File(dir, planned(i))
          if (!new File(s).renameTo(dst))
            throw new java.io.IOException(s"rename $s -> $dst failed")
          if (i == 0) FaultPoints.hit("write.commit.renamed")
        }
        GraftVersions.record(path, v, planned,
          if (truncate) existing.map(p => new File(p).getName) else Nil)
        FaultPoints.hit("write.commit.recorded")
      }
    }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftStagedObject(staged, _) => new File(staged).delete()
      case GraftStagedObjects(ss, _) => ss.foreach(new File(_).delete())
      case _ =>
    }
}

/** Exactly-once streaming epochs. Spark's sink contract is that
  * `commit(epochId, …)` may be REPLAYED after a failure (same epochId,
  * re-staged identical data — micro-batch replay is deterministic by
  * the offset-log contract). The commit protocol here makes replays
  * idempotent AND completes half-finished commits:
  *
  *  1. first commit of an epoch: compute the target `<table>.<seq>`
  *     names, write them to a `_epoch_<id>` marker (tmp + atomic
  *     rename — the commit point), THEN rename staged→target;
  *  2. replayed commit (marker exists): for every target named in the
  *     marker that is missing (a crash landed between marker and
  *     renames), rename the replay's staged object for that partition
  *     into place; staged files for already-present targets are
  *     deleted. Either way the epoch's objects appear exactly once.
  *
  * Readers only ever list `<table>.<seq>` names, so markers and staged
  * files are invisible; epochs are serial (single streaming writer per
  * table — same single-writer contract as batch append). */
class GraftStreamingWrite(writeSchema: StructType, path: String,
    checks: Seq[GraftCheck] = Nil)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    new File(path).mkdirs()
    // locals only: the anonymous factory must not capture `this`
    // (StreamingWrite is not serializable; the factory ships to tasks)
    val schema = writeSchema
    val dir = path
    val cks = checks
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftWriterFactory(schema, dir, s"e${epochId}_", checks = cks)
          .createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftVersions.withTableLock(path) {
      val dir = new File(path)
      val table = dir.getName
      val marker = new File(dir, s"_epoch_$epochId")
      val staged = messages.collect { case m: GraftStagedObject => m }
      if (marker.exists()) {
        // replay: complete any rename the crashed attempt didn't finish
        val targets = // lines: "<partitionId> <objectName>"
          new String(Files.readAllBytes(marker.toPath), "UTF-8")
            .split("\n").filter(_.nonEmpty)
            .map { l => val Array(p, o) = l.split(" ", 2); p.toInt -> o }.toMap
        staged.foreach { case GraftStagedObject(s, pid) =>
          val f = new File(s)
          targets.get(pid) match {
            case Some(obj) if !new File(dir, obj).exists() =>
              if (!f.renameTo(new File(dir, obj)))
                throw new java.io.IOException(s"replay rename $s -> $obj failed")
            case _ => f.delete()
          }
        }
        // a crash after the marker but before the log append leaves
        // the epoch unversioned — repair on replay, exactly once
        if (!GraftVersions.hasEpoch(path, epochId)) {
          val v = GraftVersions.nextVersion(path)
          GraftVersions.record(path, v, targets.values.toSeq.sorted,
            Nil, Nil, Some(epochId))
        }
      } else {
        val base = GraftVersions.nextSeq(path)
        val targets = staged.zipWithIndex.map { case (m, i) =>
          m -> s"$table.${base + i}"
        }
        val tmp = new File(dir, s"_epoch_$epochId.tmp")
        Files.write(tmp.toPath, targets
          .map { case (m, obj) => s"${m.partitionId} $obj" }
          .mkString("\n").getBytes("UTF-8"))
        if (!tmp.renameTo(marker)) // atomic commit point
          throw new java.io.IOException(s"epoch marker $marker failed")
        val v = GraftVersions.nextVersion(path)
        targets.foreach { case (GraftStagedObject(s, _), obj) =>
          if (!new File(s).renameTo(new File(dir, obj)))
            throw new java.io.IOException(s"rename $s -> $obj failed")
        }
        GraftVersions.record(path, v, targets.map(_._2).toSeq,
          Nil, Nil, Some(epochId))
      }
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftStagedObject(staged, _) => new File(staged).delete()
      case _ =>
    }
}

object GraftWriterFactory {
  /** Identity-clustered writes mint one object PER DISTINCT KEY — the
    * O(#keys) layout wall (measured at 13 s for a 60k-key fixture
    * before width buckets existed). Beyond this many objects in one
    * task the write REFUSES rather than silently building a layout
    * whose listing/footer costs dwarf any pruning win; the error names
    * the fix (`clusterWidth`). Width-bucketed writes are exempt — their
    * object count is bounded by keyspace/W by construction. */
  val MaxIdentityClusterObjectsPerTask = 4096
}

class GraftWriterFactory(writeSchema: StructType, path: String, tag: String,
    clusterBy: Option[String] = None,
    bloomCols: Set[String] = Set.empty, bloomFpp: Double = 0.01,
    clusterWidth: Option[Long] = None,
    checks: Seq[GraftCheck] = Nil,
    maxObjectsPerTask: Int = GraftWriterFactory.MaxIdentityClusterObjectsPerTask)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    clusterBy match {
      case None => new DataWriter[InternalRow] {
        private val staged = s"$path/_staged_$tag${partitionId}_$taskId"
        private val check = GraftChecks.enforcer(checks)
        private val enc =
          new ObjectFormat.ObjectEncoder(writeSchema, bloomCols, bloomFpp)
        override def write(row: InternalRow): Unit = {
          check(row); enc.addInternal(row)
        }
        override def commit(): WriterCommitMessage = {
          enc.finish(staged)
          GraftStagedObject(staged, partitionId)
        }
        override def abort(): Unit = new File(staged).delete()
        override def close(): Unit = ()
      }
      /** Value-clustered write (`.option("clusterBy", col)`): rotate to
        * a fresh object whenever the cluster key changes, so every
        * object holds rows of exactly ONE key value (footer min==max —
        * the invariant the clustered read path verifies). Rotation
        * alone guarantees the invariant for any row order; callers
        * `repartition(col).sortWithinPartitions(col)` to get one
        * object per key rather than one per key-run. */
      case Some(c) => new DataWriter[InternalRow] {
        private val check = GraftChecks.enforcer(checks)
        private val idx = writeSchema.fieldIndex(c)
        private val dt = writeSchema(idx).dataType
        private var enc: ObjectFormat.ObjectEncoder = _
        private var segment = 0
        private var currentKey: Any = _
        private var open = false
        private val staged = scala.collection.mutable.ArrayBuffer.empty[String]
        private def stagedName: String =
          s"$path/_staged_$tag${partitionId}_${taskId}_s$segment"
        private def rotate(): Unit = {
          if (open) { enc.finish(stagedName); staged += stagedName; segment += 1 }
          if (clusterWidth.isEmpty && segment > maxObjectsPerTask)
            throw new IllegalStateException(
              s"graft-objects: identity-clustered write on '$c' exceeded " +
                s"$maxObjectsPerTask objects in one task (one object per " +
                "distinct key — the O(#keys) layout wall). Bucket contiguous " +
                "keys with " + """.option("clusterWidth", W)""" +
                ", cluster on a lower-cardinality column, or raise " +
                """.option("maxObjectsPerTask", N)""" +
                " if the object count is intended.")
          enc = new ObjectFormat.ObjectEncoder(writeSchema, bloomCols, bloomFpp)
          open = true
        }
        // `clusterWidth`=W coarsens the rotation key to floorDiv(k, W):
        // one object per CONTIGUOUS key bucket instead of one per key —
        // the bounded-object-count form for high-cardinality cluster
        // keys (integral columns only; contiguity is what lets the
        // reader VERIFY the layout from footer min/max alone).
        private val widthKey: Any => Any = clusterWidth match {
          case None => identity
          case Some(w) =>
            require(dt == LongType || dt == IntegerType,
              s"graft-objects: clusterWidth wants an integral column, $c is $dt")
            k => if (k == null) null else Long.box(Math.floorDiv(
              k match { case i: java.lang.Integer => i.longValue
                        case l: java.lang.Long => l.longValue }, w))
        }
        override def write(row: InternalRow): Unit = {
          check(row)
          val key = widthKey(if (row.isNullAt(idx)) null else row.get(idx, dt))
          if (!open || key != currentKey) { rotate(); currentKey = key }
          enc.addInternal(row)
        }
        override def commit(): WriterCommitMessage = {
          if (open) { enc.finish(stagedName); staged += stagedName }
          GraftStagedObjects(staged.toSeq, partitionId)
        }
        override def abort(): Unit = staged.foreach(new File(_).delete())
        override def close(): Unit = ()
      }
    }
}

class GraftScanBuilder(fullSchema: StructType, path: String,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  // the pushed aggregation: its GROUP BY columns and its aggregates
  private var pushedAgg: Option[(Seq[String], Seq[FooterAgg])] = None
  private var limit: Option[Int] = None
  private var topN: Option[PushedTopN] = None

  /** Storage-evaluable set shared with SupportsDelete — see
    * ObjectFormat.storageEvaluable. */
  private def evaluable(f: Filter): Boolean =
    ObjectFormat.storageEvaluable(fullSchema, f)
  private def has(a: String): Boolean = fullSchema.fieldNames.contains(a)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (acc, residual) = filters.partition(evaluable)
    accepted = acc
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Storage-side aggregation — the reference's defining behavior
    * (SURVEY §2.4 "agg predicates … OSD returns one partial row per
    * object", §4.1 row 3): every candidate object answers with its
    * partial rows, one per group, and only those leave storage
    * ([[GraftPartialAggScan]]). An object whose footer holds the answer
    * gives it at planning, with no body byte read; every other object
    * aggregates inside its reader — decode → filter → accumulate, the
    * reference's `--use-cls` headline (select+project+aggregate
    * evaluated in the storage server; only partials travel).
    *
    * Pushable aggregates: MIN/MAX of a column or of
    * `CAST(timestamp column AS DATE)`, COUNT(*), COUNT(col), SUM of a
    * Long/Int column, and SUM and COUNT of a decimal term
    * ([[DecimalTerm]]: casts of Double, Long or Int columns, decimal
    * literals, `+`, `-`, `*` and an outer decimal cast, as in TPC-H Q1's
    * `price * (1 - discount) * (1 + tax)`). Spark hands over a cast
    * only under ANSI (or for an up-cast) and arithmetic only under ANSI,
    * so without ANSI the money aggregates never arrive here. Each term
    * node's type is Spark's own (ANSI, the session's precision-loss
    * setting) and a node that would round is refused; the reader
    * evaluates the term exactly ([[ObjectRows]]). A decimal SUM's
    * partial field has exactly the term's type, `Sum.child.dataType`,
    * which is what Spark casts each partial to before the final merge;
    * so a reader emits a group's running sum as a partial of its own and
    * starts a fresh one whenever the next term would take it out of that
    * precision (or out of a long). The settings a partial depends on —
    * ANSI overflow for Long sums, the session time zone for dates — are
    * captured here, at planning.
    *
    * Spark applies the final merge either way (min-of-mins,
    * sum-of-counts — partial pushdown, supportCompletePushDown stays
    * false). Anything not exactly reproducible (distinct counts, AVG
    * over doubles, SUM of a floating column, whose result depends on
    * the order of the adds) is refused and falls back to the ordinary
    * scan. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // Per-read opt-out (`option("agg.pushdown", "false")`): callers
    // exercising a DIFFERENT aggregate-elimination tier (e.g. the
    // MvRewrite optimizer rule, whose logical match needs the plain
    // Aggregate-over-scan shape) can hold storage aggregation off.
    if (!options.getBoolean("agg.pushdown", true)) return false
    // Object sampling: the sampled ROW stream must be what Spark
    // aggregates — a footer/reader-tier partial over all objects (or
    // even over the sampled set's footers) would bypass the sample's
    // row-level semantics for COUNT/SUM finals. Refuse; the ordinary
    // sampled scan feeds the aggregate.
    if (GraftScanBuilder.parseSample(options).isDefined) return false
    val conf = org.apache.spark.sql.internal.SQLConf.get
    def colOf(e: V2Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val c = nr.fieldNames()(0)
          if (has(c)) Some(c) else None
        case _ => None
      }
    def statable(c: String): Boolean =
      ObjectFormat.statKind(fullSchema(c).dataType) != 0
    val lossy = conf.decimalOperationsAllowPrecisionLoss
    // a decimal term, node by node; None where a node is not one
    def term(e: V2Expression): Option[DecimalTerm] = e match {
      case c: V2Cast => c.dataType() match {
        case d: DecimalType => colOf(c.expression()) match {
          case Some(col) => DecimalTerm.col(fullSchema, col, d)
          case None => term(c.expression()).flatMap(DecimalTerm.recast(_, d))
        }
        case _ => None
      }
      case l: V2Literal[_] => DecimalTerm.lit(l.value(), l.dataType())
      case g: GeneralScalarExpression if g.children().length == 2 =>
        for {
          a <- term(g.children()(0)); b <- term(g.children()(1))
          t <- DecimalTerm.arith(g.name(), a, b, lossy)
        } yield t
      case _ => None
    }
    def dateOf(e: V2Expression): Option[String] = e match {
      case c: V2Cast if c.dataType() == DateType =>
        colOf(c.expression()).filter(col => fullSchema(col).dataType match {
          case TimestampType | TimestampNTZType => true
          case _ => false
        })
      case _ => None
    }
    val zone = conf.sessionLocalTimeZone
    val translated: Seq[Option[FooterAgg]] =
      aggregation.aggregateExpressions().toSeq.map {
        case m: Min => colOf(m.column).filter(statable)
          .map(c => FooterAgg.MinOf(c, fullSchema(c).dataType))
          .orElse(dateOf(m.column).map(FooterAgg.MinDateOf(_, zone)))
        case m: Max => colOf(m.column).filter(statable)
          .map(c => FooterAgg.MaxOf(c, fullSchema(c).dataType))
          .orElse(dateOf(m.column).map(FooterAgg.MaxDateOf(_, zone)))
        case _: CountStar => Some(FooterAgg.CountStar)
        case c: Count if !c.isDistinct() => colOf(c.column).map(FooterAgg.CountOf.apply)
          .orElse(term(c.column).map(FooterAgg.CountDecimal.apply))
        case s: Sum if !s.isDistinct() => s.column match {
          // integral sums: Long accumulation is exact; floating sums
          // depend on the order of the adds and are refused
          case nr: NamedReference => colOf(nr).filter(c =>
            fullSchema(c).dataType match {
              case LongType | IntegerType => true
              case _ => false
            }).map(FooterAgg.SumOf(_, conf.ansiEnabled))
          case e => term(e).map(FooterAgg.SumDecimal.apply)
        }
        case _ => None
      }
    if (translated.exists(_.isEmpty)) return false
    val aggs = translated.flatten
    // GROUP BY: single-name references to atomic-typed columns (their
    // decoded values key the reader's accumulation map)
    val groupCols = aggregation.groupByExpressions().toSeq.map(colOf)
    if (groupCols.exists(_.isEmpty)) return false
    val groups = groupCols.flatten
    // BinaryType excluded: Array[Byte] has identity equality, which
    // would break the reader's group-key map
    if (groups.exists(c => fullSchema(c).dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    })) return false
    // Clustered-layout interplay: when the GROUP BY is keyed on a
    // VERIFIED cluster column, the clustered scan's
    // KeyGroupedPartitioning gives Spark a ZERO-exchange aggregate —
    // and Spark's V2ScanPartitioningAndOrdering cannot attach that
    // partitioning to a pushed-agg scan (it resolves the keys against
    // the base relation's attributes, while aggregate pushdown mints
    // fresh output attributes — the subset check fails silently). The
    // reader here is colocated with the partial aggregate inside one
    // codegen stage, so in-reader partials save no transfer locally;
    // the exchange is the real cost at scale. Refuse the pushdown and
    // let the clustered plan win.
    if (groups.nonEmpty) {
      val cOpt = Option(options.get("clusteredBy")).filter(groups.contains)
      if (cOpt.isDefined) {
        val sel = GraftObjectTable.candidates(
          GraftObjectTable.listObjects(path), accepted)
        // same refusal for both layout modes: identity (one key per
        // object) and width-bucketed (r4) — a bucketed GROUP BY on the
        // cluster key also rides the KeyGroupedPartitioning
        val clustered =
          Option(options.get("clusterWidth")).map(_.toLong) match {
            case Some(w) =>
              GraftClustering.bucketGroups(sel, fullSchema, cOpt, w)
            case None => GraftClustering.groups(sel, fullSchema, cOpt)
          }
        if (clustered.isDefined) return false
      }
    }
    pushedAgg = Some((groups, aggs))
    true
  }

  /** LIMIT pushdown (partial — Spark keeps the global limit): the scan
    * truncates the OBJECT LIST by cumulative footer row counts when no
    * filters are pushed (`LIMIT 10` on a million-object table opens
    * one object), and in every case each reader stops decoding after
    * `limit` qualifying rows — the reference's "stop after N matches"
    * early-exit inside the storage server. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY col LIMIT k pushdown (partial): accepted for a single
    * sort key with footer min/max stats and no pushed filters. The
    * scan keeps only objects whose value range can intersect the
    * top-k — the reference's object-index-assisted top-k, where the
    * per-object index bounds prove most objects irrelevant before a
    * body byte is read. Spark re-sorts and re-limits the survivors. */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (accepted.nonEmpty || orders.length != 1) return false
    orders(0).expression() match {
      case nr: NamedReference
          if nr.fieldNames().length == 1 && has(nr.fieldNames()(0)) &&
            ObjectFormat.statKind(fullSchema(nr.fieldNames()(0)).dataType) != 0 =>
        topN = Some(PushedTopN(nr.fieldNames()(0),
          orders(0).direction() == SortDirection.DESCENDING,
          orders(0).nullOrdering() == NullOrdering.NULLS_FIRST, l))
        true
      case _ => false
    }
  }

  private def maxObjectsPerTrigger: Option[Int] =
    Option(options.get("maxObjectsPerTrigger")).map(_.toInt)

  private def maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map(_.toLong)

  override def build(): Scan = pushedAgg match {
    case Some((groups, aggs)) =>
      new GraftPartialAggScan(fullSchema, accepted, groups, aggs, path)
    case None => new GraftObjectScan(fullSchema, required, accepted, path,
      maxObjectsPerTrigger, limit, topN,
      Option(options.get("clusteredBy")), maxBytesPerTrigger,
      Option(options.get("clusterWidth")).map(_.toLong),
      GraftScanBuilder.parseSample(options))
  }
}

object GraftScanBuilder {
  /** `option("sample.objects", "k/n")` — OBJECT-granular sampling,
    * the approximate-scan mode the object layout makes natural: keep
    * an object iff md5(object file name) mod n < k. The subset is a
    * pure function of the layout (no rand()), so repeated reads, other
    * queries, and other engines pointed at the same objects see the
    * SAME sample — and the scan cost drops to k/n of the objects
    * before a byte of any body is read (row-level TABLESAMPLE still
    * decodes everything). Batch reads only; aggregate pushdown is
    * held off under sampling so the sampled row stream is what Spark
    * aggregates (a footer answer would ignore the sample). */
  def parseSample(options: CaseInsensitiveStringMap): Option[(Int, Int)] =
    Option(options.get("sample.objects")).map { s =>
      val parts = s.split("/")
      require(parts.length == 2,
        s"graft-objects: sample.objects must be 'k/n', got '$s'")
      val (k, n) = (parts(0).trim.toInt, parts(1).trim.toInt)
      require(n > 0 && k >= 0 && k <= n,
        s"graft-objects: sample.objects needs 0 <= k <= n, got '$s'")
      (k, n)
    }

  /** Deterministic object-name hash bucket in [0, n). */
  def sampleBucket(objPath: String, n: Int): Int = {
    val name = new File(objPath).getName
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
      ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
    (h % n).toInt
  }
}

/** A pushed ORDER BY <col> [ASC|DESC] [NULLS FIRST|LAST] LIMIT k. */
final case class PushedTopN(col: String, descending: Boolean,
    nullsFirst: Boolean, k: Int)

/** A pushed aggregate. Every kind is answerable in the reader;
  * MIN/MAX/COUNT(*)/COUNT(col) often from an object's footer too. MIN/MAX
  * are tagged with the column's Spark type so the partial row surfaces
  * values in the column's own width. Settings a partial depends on
  * (ANSI overflow, the session time zone) are captured at planning
  * time, inside the aggregate. */
sealed trait FooterAgg {
  /** The partial-row column this aggregate fills. A decimal SUM's field
    * is exactly `Sum.child.dataType`, the type Spark casts each partial
    * to before its final merge, so every partial must fit it. */
  def field: StructField = this match {
    case FooterAgg.MinOf(c, dt) => StructField(s"min($c)", dt)
    case FooterAgg.MaxOf(c, dt) => StructField(s"max($c)", dt)
    case FooterAgg.CountStar => StructField("count(*)", LongType, nullable = false)
    case FooterAgg.CountOf(c) => StructField(s"count($c)", LongType, nullable = false)
    case FooterAgg.SumOf(c, _) => StructField(s"sum($c)", LongType)
    case FooterAgg.SumDecimal(t) => StructField(s"sum(${t.sql})", t.dt)
    case FooterAgg.CountDecimal(t) => StructField(s"count(${t.sql})", LongType, nullable = false)
    case FooterAgg.MinDateOf(c, _) => StructField(s"min(CAST($c AS DATE))", DateType)
    case FooterAgg.MaxDateOf(c, _) => StructField(s"max(CAST($c AS DATE))", DateType)
  }
  /** The columns it reads; none for COUNT(*). */
  def cols: Seq[String] = this match {
    case FooterAgg.MinOf(c, _) => Seq(c)
    case FooterAgg.MaxOf(c, _) => Seq(c)
    case FooterAgg.CountOf(c) => Seq(c)
    case FooterAgg.SumOf(c, _) => Seq(c)
    case FooterAgg.SumDecimal(t) => t.cols
    case FooterAgg.CountDecimal(t) => t.cols
    case FooterAgg.MinDateOf(c, _) => Seq(c)
    case FooterAgg.MaxDateOf(c, _) => Seq(c)
    case FooterAgg.CountStar => Nil
  }
  /** The partial over every row of an object, from its footer alone;
    * None where the footer cannot give it exactly: footers carry no
    * sums, string bounds may be truncated, and a NaN leaves a floating
    * column without bounds. */
  def fromFooter(f: ObjectFormat.Footer): Option[Any] = this match {
    case FooterAgg.CountStar => Some(Long.box(f.rowCount.toLong))
    case FooterAgg.CountOf(c) =>
      // no stats entry ⇔ the column postdates this object's generation
      // (footers stat every column of their own schema) ⇔ all null here
      Some(Long.box(f.stats.get(c).fold(0L)(s => (f.rowCount - s.nullCount).toLong)))
    case FooterAgg.MinOf(c, dt) => FooterAgg.bound(f, c, dt)(_.min)
    case FooterAgg.MaxOf(c, dt) => FooterAgg.bound(f, c, dt)(_.max)
    case _ => None
  }
}
object FooterAgg {
  /** Column `c`'s footer bound in its Spark type `dt`: stats hold longs
    * and doubles, which narrow back to int/date and float exactly. */
  private def bound(f: ObjectFormat.Footer, c: String, dt: DataType)(
      side: ObjectFormat.ColStats => Any): Option[Any] =
    if (ObjectFormat.statKind(dt) == 3) None
    else f.stats.get(c) match {
      case None => Some(null)
      case Some(s) if s.nullCount == f.rowCount => Some(null)
      case Some(s) if s.min != null => Some((side(s), dt) match {
        case (l: java.lang.Long, IntegerType | DateType) => Int.box(l.toInt)
        case (d: java.lang.Double, FloatType) => Float.box(d.toFloat)
        case (v, _) => v
      })
      case _ => None
    }

  final case class MinOf(column: String, dt: DataType) extends FooterAgg
  final case class MaxOf(column: String, dt: DataType) extends FooterAgg
  case object CountStar extends FooterAgg
  final case class CountOf(column: String) extends FooterAgg
  /** SUM of a Long or Int column; `ansi` adds with overflow checks. */
  final case class SumOf(column: String, ansi: Boolean) extends FooterAgg
  /** SUM of a decimal term, in the term's type. */
  final case class SumDecimal(term: DecimalTerm) extends FooterAgg
  /** COUNT of a decimal term: its rows whose value is not null. */
  final case class CountDecimal(term: DecimalTerm) extends FooterAgg
  /** MIN/MAX of `CAST(timestamp column AS DATE)` in time zone `zone`. */
  final case class MinDateOf(column: String, zone: String) extends FooterAgg
  final case class MaxDateOf(column: String, zone: String) extends FooterAgg
}

/** A decimal term pushed inside a SUM or COUNT, built from
  * `CAST(c AS DECIMAL(p,s))` of a Double, Long or Int column c, decimal
  * literals, `+`, `-` and `*` of two terms, and `CAST(term AS
  * DECIMAL(p,s))`. Each node carries Spark's own expression for it over
  * a row of the table, built at planning under ANSI with the session's
  * precision-loss setting, so its type is Spark's; the builders below
  * refuse a node that would round (a product keeps scale s1 + s2, a sum
  * max(s1, s2), and a cast never lowers the scale). `sql` is the V2
  * expression's text, which names the pushed aggregate in the plan. */
sealed trait DecimalTerm {
  def expr: org.apache.spark.sql.catalyst.expressions.Expression
  final def dt: DecimalType = expr.dataType.asInstanceOf[DecimalType]
  def sql: String
  /** The columns it reads. */
  def cols: Seq[String]
}

object DecimalTerm {
  import org.apache.spark.sql.catalyst.{expressions => X}

  /** A term value: null. Never an unscaled value, see [[Slow]]. */
  val Null: Long = Long.MinValue
  /** A term value the fast path cannot prove; the reader evaluates the
    * whole term with its Spark expression. Exact values equal to either
    * sentinel are taken as Slow too. */
  val Slow: Long = Long.MinValue + 1

  final case class Col(column: String, expr: X.Expression) extends DecimalTerm {
    def sql: String = s"CAST($column AS ${dt.sql})"
    def cols: Seq[String] = Seq(column)
  }
  final case class Lit(value: Decimal, expr: X.Expression) extends DecimalTerm {
    def sql: String = value.toString
    def cols: Seq[String] = Nil
  }
  final case class Arith(op: String, left: DecimalTerm, right: DecimalTerm,
      expr: X.Expression) extends DecimalTerm {
    private def operand(t: DecimalTerm): String =
      if (t.isInstanceOf[Arith]) s"(${t.sql})" else t.sql
    def sql: String = s"${operand(left)} $op ${operand(right)}"
    def cols: Seq[String] = (left.cols ++ right.cols).distinct
  }
  final case class Recast(child: DecimalTerm, expr: X.Expression) extends DecimalTerm {
    def sql: String = s"CAST(${child.sql} AS ${dt.sql})"
    def cols: Seq[String] = child.cols
  }

  private def cast(e: X.Expression, to: DecimalType): X.Expression =
    X.Cast(e, to, None, X.EvalMode.ANSI)

  /** `CAST(column AS to)`, for a Double, Long or Int column of `table`. */
  def col(table: StructType, column: String, to: DecimalType): Option[DecimalTerm] = {
    val f = table(column)
    Option.when(DecimalCast.sources.contains(f.dataType))(Col(column,
      cast(X.BoundReference(table.fieldIndex(column), f.dataType, nullable = true), to)))
  }
  /** A decimal literal. An integral literal beside a decimal reaches the
    * scan already coerced to one, so no other literal is a term. */
  def lit(v: Any, t: DataType): Option[DecimalTerm] = (v, t) match {
    case (d: Decimal, dt: DecimalType) if d.scale == dt.scale => Some(Lit(d, X.Literal(d, dt)))
    case _ => None
  }
  /** `left op right` for op `+`, `-` or `*`. */
  def arith(op: String, left: DecimalTerm, right: DecimalTerm,
      lossy: Boolean): Option[DecimalTerm] = {
    val ctx = X.NumericEvalContext(X.EvalMode.ANSI, lossy)
    val (l, r) = (left.expr, right.expr)
    val (e, scale) = op match {
      case "+" => (X.Add(l, r, ctx), math.max(left.dt.scale, right.dt.scale))
      case "-" => (X.Subtract(l, r, ctx), math.max(left.dt.scale, right.dt.scale))
      case "*" => (X.Multiply(l, r, ctx), left.dt.scale + right.dt.scale)
      case _ => return None
    }
    Option.when(e.resolved && (e.dataType match {
      case d: DecimalType => d.scale == scale
      case _ => false
    }))(Arith(op, left, right, e))
  }
  /** `CAST(child AS to)`, when it keeps or raises the scale. */
  def recast(child: DecimalTerm, to: DecimalType): Option[DecimalTerm] =
    Option.when(to.scale >= child.dt.scale)(Recast(child, cast(child.expr, to)))
}

/** `CAST(x AS DECIMAL(p,s))` of a Double, Long or Int `x` as an unscaled
  * long, where the answer is provably Spark's ANSI `Cast`, and
  * [[DecimalTerm.Slow]] for every other value.
  *
  * The fast path for a double `d`:
  *  - `|d| < 2^51 / 10^s`, so ulp(d) < 10^-s / 2;
  *  - `u`, an integer nearest the double product d · 10^s (`rint`, one
  *    instruction), satisfies `u / 10^s == d`, so the decimal u·10^-s
  *    lies in d's rounding interval;
  *  - `|u| < 10^p`.
  * Spark rounds `Double.toString(d)` HALF_UP to s places. That string
  * also lies in d's rounding interval, so it is less than one ulp, and
  * hence less than half a step of 10^-s, from u·10^-s: it rounds to u,
  * whatever digits the JDK's `toString` chooses. For an integral `x`,
  * `u = x · 10^s` when `|x| < 10^(p-s)`. NaN, ±Inf, overflow and
  * inexact doubles are Slow: Spark's `Cast` gives their value, null or
  * error. `stored` is the type `x` has in a segment: `from`, or the
  * narrower type an older object keeps under a widened column (an int
  * under a bigint, a float under a double). */
final class DecimalCast(from: DataType, to: DecimalType, stored: DataType) {
  import DecimalCast._
  import DecimalTerm.Slow
  private val p = to.precision
  private val s = to.scale
  private val kind = (from, stored) match {
    case (DoubleType, DoubleType) => 0
    case (LongType, LongType) => 1
    case (IntegerType | LongType, IntegerType) => 2
    case (DoubleType, FloatType) => 3
    case _ => throw new IllegalArgumentException(
      s"DecimalCast: cannot cast $from stored as $stored exactly")
  }
  /** Bytes one stored value takes in a segment. */
  val width: Int = if (kind >= 2) 4 else 8
  // 10^s fits a long (and is exact as a double) only up to s = 18
  private val fast = s <= MaxPrecision
  private val powL = if (fast) Pow10(s) else 0L
  private val powD = powL.toDouble
  private val bound = if (fast) TwoTo51 / powD else 0.0
  private val limit = if (p <= MaxPrecision) Pow10(p) else Long.MaxValue
  private val maxIntegral =
    if (!fast) 0L else if (p <= MaxPrecision) Pow10(p - s) else Long.MaxValue / powL

  private def ofDouble(d: Double): Long = {
    if (Math.abs(d) < bound) {
      val u = Math.rint(d * powD).toLong
      if (u / powD == d && u > -limit && u < limit) return u
    }
    Slow
  }
  private def ofIntegral(x: Long): Long =
    if (x > -maxIntegral && x < maxIntegral) x * powL else Slow

  /** Unscaled cast of the stored value at `pos` in a segment's values. */
  def at(bb: ByteBuffer, pos: Int): Long = kind match {
    case 0 => ofDouble(bb.getDouble(pos))
    case 1 => ofIntegral(bb.getLong(pos))
    case 2 => ofIntegral(bb.getInt(pos).toLong)
    case _ => ofDouble(bb.getFloat(pos).toDouble)
  }
}

object DecimalCast {
  /** The widest decimal whose unscaled values all fit a long. */
  val MaxPrecision = 18
  private val TwoTo51 = math.pow(2, 51)
  private val Pow10: Array[Long] = Array.iterate(1L, MaxPrecision + 1)(_ * 10)
  /** 10^n as a long, n <= 18. */
  def pow10(n: Int): Long = Pow10(n)
  /** Source column types whose casts push. */
  val sources: Set[DataType] = Set(DoubleType, LongType, IntegerType)
}

/** What one object's walk gives its accumulators: each column's
  * segment (null where the object predates the column), each row's slot
  * (-1 where the row is dropped), and the values of its decimal terms.
  *
  * The term aggregates are folded together ([[fold]]), a block of rows
  * at a time: the block's kept rows are listed once, and each distinct
  * node of their terms is one [[ObjectRows.Node]] that computes its
  * values at those rows once, in one tight loop, into a buffer of its
  * own that every consumer reads. A leaf decodes and casts its segment's
  * values, a literal is a constant, and an operation combines its
  * operands' buffers. A block stays in cache and the object allocates
  * nothing per row, yet aggregates that share a subterm share its
  * values: Q1 casts `l_extendedprice` once for its aggregates, and
  * computes `price * (1 - discount)` once for `sum_disc_price` and
  * `sum_charge`. Each node is exact long arithmetic with Spark's ANSI
  * precision check: a value outside the node's precision, a long
  * overflow, a rescale past 10^18 and a cast [[DecimalCast]] cannot
  * prove all give [[DecimalTerm.Slow]], and a row whose term is Slow
  * takes the whole term's value from its Spark expression ([[exact]]):
  * Spark's value, null or error by construction. As in Spark's binary
  * arithmetic, a null left operand makes a node null whatever the right.
  * `values(c)` is column c's boxed values in the table's type (null: all
  * null), decoded only when a row needs [[exact]]. */
private[sources] final class ObjectRows(segs: Map[String, ObjectFormat.Segment],
    val slot: Array[Int], table: StructType, values: String => Array[Any]) {
  import DecimalTerm.{Null, Slow}
  import ObjectRows._
  def seg(c: String): ObjectFormat.Segment = segs.getOrElse(c, null)

  /** Every kept row's value of each aggregate's term, handed to the
    * aggregate with the row's slot: `fast` with an unscaled value,
    * `slow` with Spark's value where the fast path could not prove it,
    * nothing where the term is null. */
  def fold(accs: Seq[PartialAcc.OfTerm]): Unit = if (accs.nonEmpty) {
    val nodes = scala.collection.mutable.HashMap.empty[DecimalTerm, Node]
    def node(t: DecimalTerm): Node = nodes.getOrElseUpdate(t, {
      val lim =
        if (t.dt.precision <= DecimalCast.MaxPrecision) DecimalCast.pow10(t.dt.precision)
        else Long.MaxValue
      t match {
        case DecimalTerm.Col(c, _) =>
          val sg = seg(c)
          if (sg == null) new Const(Null)
          else new Leaf(sg, new DecimalCast(table(c).dataType, t.dt, sg.dt))
        case DecimalTerm.Lit(v, _) =>
          val b = v.toJavaBigDecimal.unscaledValue
          new Const(if (b.bitLength < 64) checked(b.longValue, lim) else Slow)
        case DecimalTerm.Recast(child, _) =>
          new Recast(node(child), t.dt.scale - child.dt.scale, lim)
        case DecimalTerm.Arith("*", left, right, _) => new Times(node(left), node(right), lim)
        case DecimalTerm.Arith(op, left, right, _) =>
          new Plus(node(left), node(right), t.dt.scale - left.dt.scale,
            t.dt.scale - right.dt.scale, if (op == "-") -1L else 1L, lim)
      }
    })
    val (as, vs) = (accs.toArray, accs.map(a => node(a.term)).toArray)
    val sel = new Array[Int](Block)
    var from = 0
    while (from < slot.length) {
      val end = math.min(from + Block, slot.length)
      // the block's kept rows, without a branch per row
      var m = 0
      var r = from
      while (r < end) { sel(m) = r; m += ~slot(r) >>> 31; r += 1 }
      var j = 0
      while (j < as.length && m > 0) {
        val (acc, block) = (as(j), vs(j).block(from, sel, m))
        var i = 0
        while (i < m) {
          val r = sel(i)
          val u = block(i)
          if (u == Slow) {
            val d = exact(acc.term, r)
            if (d != null) acc.slow(slot(r), d)
          } else if (u != Null) acc.fast(slot(r), u)
          i += 1
        }
        j += 1
      }
      from = end
    }
  }

  private val row = new GenericInternalRow(table.length)
  /** Spark's value of `t` at row r: a Decimal of `t.dt`, or null. */
  def exact(t: DecimalTerm, r: Int): Decimal = {
    t.cols.foreach { c =>
      val vs = values(c)
      row.update(table.fieldIndex(c), if (vs == null) null else vs(r))
    }
    t.expr.eval(row).asInstanceOf[Decimal]
  }
}

private[sources] object ObjectRows {
  import DecimalTerm.{Null, Slow}

  /** Rows per block: a block of longs stays in a core's L1 cache. */
  val Block = 1024

  /** One term node over one object, asked for the kept rows of
    * consecutive blocks, each block any number of times. */
  sealed abstract class Node {
    protected val out = new Array[Long](Block)
    private var last = -1
    /** The values of rows `sel(0 until m)` (increasing, inside the block
      * from row `from`) in `out(0 until m)`: unscaled, Null or Slow. */
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit
    /** The block from row `from` with kept rows `sel(0 until m)`,
      * computed on its first request; valid until the next block. */
    final def block(from: Int, sel: Array[Int], m: Int): Array[Long] = {
      if (from != last) { compute(from, sel, m); last = from }
      out
    }
  }
  final class Const(u: Long) extends Node {
    util.Arrays.fill(out, u)
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit = ()
  }
  /** A cast column. A segment without absent values is read at each
    * row's offset; one with them moves a cursor over every row. */
  final class Leaf(sg: ObjectFormat.Segment, cast: DecimalCast) extends Node {
    private val (bb, width, off) = (sg.bb, cast.width, sg.valOff)
    private var next = 0 // the row whose value, if present, is at p
    private var p = off
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit = {
      var i = 0
      if (!sg.hasPres) while (i < m) {
        out(i) = cast.at(bb, off + sel(i) * width)
        i += 1
      } else while (i < m) {
        val r = sel(i)
        while (next < r) { if (sg.presentAt(next)) p += width; next += 1 }
        out(i) = if (sg.presentAt(r)) cast.at(bb, p) else Null
        i += 1
      }
    }
  }
  final class Recast(x: Node, k: Int, lim: Long) extends Node {
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit = {
      val xs = x.block(from, sel, m)
      var i = 0
      while (i < m) {
        val a = xs(i)
        out(i) = if (a == Null || a == Slow) a else checked(rescale(a, k), lim)
        i += 1
      }
    }
  }
  final class Times(x: Node, y: Node, lim: Long) extends Node {
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit = {
      val (xs, ys) = (x.block(from, sel, m), y.block(from, sel, m))
      var i = 0
      while (i < m) {
        val a = xs(i)
        out(i) =
          if (a == Null || a == Slow) a
          else {
            val b = ys(i)
            if (b == Null || b == Slow) b else checked(mul(a, b), lim)
          }
        i += 1
      }
    }
  }
  /** `x + y`, or `x - y` (sign -1), at the node's scale. */
  final class Plus(x: Node, y: Node, kx: Int, ky: Int, sign: Long, lim: Long)
      extends Node {
    protected def compute(from: Int, sel: Array[Int], m: Int): Unit = {
      val (xs, ys) = (x.block(from, sel, m), y.block(from, sel, m))
      var i = 0
      while (i < m) {
        val a = xs(i)
        out(i) =
          if (a == Null || a == Slow) a
          else {
            val b = ys(i)
            if (b == Null || b == Slow) b
            else checked(add(rescale(a, kx), mul(sign, rescale(b, ky))), lim)
          }
        i += 1
      }
    }
  }

  /** `u` if it lies below `lim` (10^p, or a long's range) in magnitude,
    * else Slow; so are both sentinels. */
  @inline private def checked(u: Long, lim: Long): Long =
    if (u <= -lim || u >= lim) Slow else u
  @inline private def mul(a: Long, b: Long): Long =
    if (a == Slow || b == Slow) Slow
    else {
      val m = a * b
      if (Math.multiplyHigh(a, b) != (m >> 63)) Slow else m
    }
  @inline private def add(a: Long, b: Long): Long =
    if (a == Slow || b == Slow) Slow
    else {
      val n = a + b
      if (((a ^ n) & (b ^ n)) < 0) Slow else n
    }
  /** `u` raised by k decimal places. */
  @inline private def rescale(u: Long, k: Int): Long =
    if (k == 0) u else if (k > DecimalCast.MaxPrecision) Slow else mul(u, DecimalCast.pow10(k))
}

/** One pushed aggregate's state over one object, kept per slot: a slot
  * is one group's index, and a global aggregate has one. The reader
  * walks the object once and folds each kept row's value into its row's
  * slot: a column aggregate in one typed loop over the column's segment,
  * a term aggregate from its term's blocks ([[ObjectRows.fold]]). Values
  * are read as stored: a column an older object stores narrower (an int
  * under a bigint, a float under a double) is read at its stored width,
  * and partials are in the table's type. A column the object predates
  * reads as all null. Every aggregate merges associatively in Spark's
  * final aggregate, so a slot may emit several partials: a decimal SUM
  * does, to keep each one inside its field's precision. */
private[sources] sealed abstract class PartialAcc {
  /** Slot k's partials, oldest first; at least one. */
  def partials(k: Int): Seq[Any]
  /** The partial of no rows, which pads a row with fewer partials. */
  def identity: Any = null
}

private[sources] object PartialAcc {
  import ObjectFormat.Segment

  /** An aggregate of a column, folded in one typed loop of its own. */
  sealed abstract class OfColumn extends PartialAcc {
    /** Fold every row whose slot is not -1 into its slot. */
    def scan(in: ObjectRows): Unit
  }
  /** An aggregate of a decimal term, handed each kept row's value by
    * [[ObjectRows.fold]]. */
  sealed abstract class OfTerm(val term: DecimalTerm) extends PartialAcc {
    /** Fold unscaled value u into slot k. */
    def fast(k: Int, u: Long): Unit
    /** Fold Spark's value d (not null) into slot k. */
    def slow(k: Int, d: Decimal): Unit
  }

  /** Fold one object's kept rows into every accumulator: each column
    * aggregate in its own loop, the term aggregates together. */
  def scan(accs: Seq[PartialAcc], in: ObjectRows): Unit = {
    accs.foreach {
      case c: OfColumn => c.scan(in)
      case _ =>
    }
    in.fold(accs.collect { case t: OfTerm => t })
  }

  /** A fresh accumulator of `slots` slots over a table of schema `table`. */
  def apply(a: FooterAgg, table: StructType, slots: Int): PartialAcc = a match {
    case FooterAgg.CountStar => new Count(None, slots)
    case FooterAgg.CountOf(c) => new Count(Some(c), slots)
    case FooterAgg.SumOf(c, ansi) => new LongSum(c, ansi, slots)
    case FooterAgg.SumDecimal(t) => new DecimalSum(t, slots)
    case FooterAgg.CountDecimal(t) => new DecimalCount(t, slots)
    case FooterAgg.MinOf(c, dt) => new MinMax(c, dt, max = false, slots)
    case FooterAgg.MaxOf(c, dt) => new MinMax(c, dt, max = true, slots)
    case FooterAgg.MinDateOf(c, zone) =>
      new DateBound(c, table(c).dataType, zone, max = false, slots)
    case FooterAgg.MaxDateOf(c, zone) =>
      new DateBound(c, table(c).dataType, zone, max = true, slots)
  }

  /** The partial rows of slot k, each led by its group `key`: the i-th
    * row holds every accumulator's i-th partial, or its identity past
    * its last (a GROUP BY without aggregates still owes its key one row). */
  def rows(key: Seq[Any], accs: Seq[PartialAcc], k: Int): Seq[Array[Any]] = {
    val ps = accs.map(_.partials(k))
    (0 until ps.foldLeft(1)(_ max _.length)).map { i =>
      (key ++ ps.zip(accs).map { case (p, a) =>
        if (i < p.length) p(i) else a.identity }).toArray
    }
  }

  /** Walk one segment's values: `f(slot, pos)` at every present value of
    * a row with a slot; `pos` advances `width` bytes past every present
    * value. */
  @inline private def present(seg: Segment, slot: Array[Int], width: Int)(
      f: (Int, Int) => Unit): Unit = {
    var p = seg.valOff
    var r = 0
    while (r < slot.length) {
      if (seg.presentAt(r)) {
        val k = slot(r)
        if (k >= 0) f(k, p)
        p += width
      }
      r += 1
    }
  }

  /** COUNT(*) (`col` None) or COUNT(col). */
  final class Count(col: Option[String], slots: Int) extends OfColumn {
    private val n = new Array[Long](slots)
    def scan(in: ObjectRows): Unit = {
      val (s, slot) = (col.map(in.seg).orNull, in.slot)
      if (col.isEmpty || s != null) {
        var r = 0
        while (r < slot.length) {
          val k = slot(r)
          if (k >= 0 && (s == null || s.presentAt(r))) n(k) += 1
          r += 1
        }
      }
    }
    def partials(k: Int): Seq[Any] = Seq(Long.box(n(k)))
    override def identity: Any = Long.box(0L)
  }

  /** SUM of a Long or Int column: under ANSI an overflow raises Spark's
    * ARITHMETIC_OVERFLOW, as the unpushed sum does; otherwise the add
    * wraps, as Spark's does. */
  final class LongSum(col: String, ansi: Boolean, slots: Int) extends OfColumn {
    private val s = new Array[Long](slots)
    private val seen = new Array[Boolean](slots)
    @inline private def plus(k: Int, v: Long): Unit = {
      s(k) = if (ansi) org.apache.spark.sql.catalyst.util.MathUtils.addExact(s(k), v)
        else s(k) + v
      seen(k) = true
    }
    def scan(in: ObjectRows): Unit = {
      val (sg, slot) = (in.seg(col), in.slot)
      if (sg != null) {
        val bb = sg.bb
        if (sg.dt == IntegerType) present(sg, slot, 4)((k, p) => plus(k, bb.getInt(p).toLong))
        else present(sg, slot, 8)((k, p) => plus(k, bb.getLong(p)))
      }
    }
    def partials(k: Int): Seq[Any] = Seq(if (seen(k)) Long.box(s(k)) else null)
  }

  /** COUNT of a decimal term. */
  final class DecimalCount(t: DecimalTerm, slots: Int) extends OfTerm(t) {
    private val n = new Array[Long](slots)
    def fast(k: Int, u: Long): Unit = n(k) += 1
    def slow(k: Int, d: Decimal): Unit = n(k) += 1
    def partials(k: Int): Seq[Any] = Seq(Long.box(n(k)))
    override def identity: Any = Long.box(0L)
  }

  /** SUM of a decimal term on exact unscaled longs. Spark casts each
    * partial to the term's type before its final merge, so a partial
    * must stay inside it: a slot's running sum stays below 10^p, or
    * below 10^18 when p > 18 (where it must fit a long). When the next
    * value would take it out of that range, the sum so far becomes a
    * partial of its own and a fresh one starts; a single value past
    * 10^18 is a partial of its own. */
  final class DecimalSum(t: DecimalTerm, slots: Int) extends OfTerm(t) {
    private val (p, sc) = (t.dt.precision, t.dt.scale)
    private val limit = DecimalCast.pow10(math.min(p, DecimalCast.MaxPrecision))
    private val s = new Array[Long](slots)
    private val seen = new Array[Boolean](slots)
    private val done = Array.fill(slots)(Seq.empty[Any])
    // every fast value lies inside 10^p when p <= 18
    private val inside = p <= DecimalCast.MaxPrecision
    def fast(k: Int, u: Long): Unit = {
      // s(k) is 0 while unseen, and |s| < 10^18: the add overflows only
      // when |u| >= 10^18, which spills whatever n is
      val n = s(k) + u
      if ((inside || (u > -limit && u < limit)) && n > -limit && n < limit) {
        s(k) = n; seen(k) = true
      } else spill(k, u)
    }
    private def spill(k: Int, u: Long): Unit =
      if (u <= -limit || u >= limit) done(k) :+= Decimal(u, p, sc)
      else { done(k) :+= Decimal(s(k), p, sc); s(k) = u; seen(k) = true }

    def slow(k: Int, d: Decimal): Unit = {
      val b = d.toJavaBigDecimal.unscaledValue
      if (b.bitLength < 63) fast(k, b.longValue) else done(k) :+= d
    }
    def partials(k: Int): Seq[Any] =
      done(k) :+ (if (seen(k)) Decimal(s(k), p, sc) else null)
  }

  /** MIN or MAX of a statable column (integral, temporal, floating or
    * string) in Spark's order: floating values compare as
    * `SQLOrderingUtil` does (-0.0 equals 0.0, NaN is greatest), and of
    * equal values the first row's is kept. */
  final class MinMax(col: String, dt: DataType, max: Boolean, slots: Int)
      extends OfColumn {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    private val best = new Array[Any](slots)
    @inline private def wins(c: Int): Boolean = if (max) c > 0 else c < 0
    /** Box every found slot's winner. */
    private def fill(found: Array[Boolean])(v: Int => Any): Unit = {
      var k = 0
      while (k < slots) { if (found(k)) best(k) = v(k); k += 1 }
    }
    def scan(in: ObjectRows): Unit = {
      val (sg, slot) = (in.seg(col), in.slot)
      if (sg == null) return
      val bb = sg.bb
      val found = new Array[Boolean](slots)
      sg.dt match {
        case LongType | TimestampType | TimestampNTZType =>
          val b = new Array[Long](slots)
          present(sg, slot, 8) { (k, p) =>
            val v = bb.getLong(p)
            if (!found(k) || wins(java.lang.Long.compare(v, b(k)))) { b(k) = v; found(k) = true }
          }
          fill(found)(k => Long.box(b(k)))
        case IntegerType | DateType =>
          val b = new Array[Int](slots)
          present(sg, slot, 4) { (k, p) =>
            val v = bb.getInt(p)
            if (!found(k) || wins(Integer.compare(v, b(k)))) { b(k) = v; found(k) = true }
          }
          fill(found)(k => if (dt == LongType) Long.box(b(k).toLong) else Int.box(b(k)))
        case DoubleType =>
          val b = new Array[Double](slots)
          present(sg, slot, 8) { (k, p) =>
            val v = bb.getDouble(p)
            if (!found(k) || wins(SQLOrderingUtil.compareDoubles(v, b(k)))) {
              b(k) = v; found(k) = true
            }
          }
          fill(found)(k => Double.box(b(k)))
        case FloatType =>
          val b = new Array[Float](slots)
          present(sg, slot, 4) { (k, p) =>
            val v = bb.getFloat(p)
            if (!found(k) || wins(SQLOrderingUtil.compareFloats(v, b(k)))) {
              b(k) = v; found(k) = true
            }
          }
          fill(found)(k => if (dt == DoubleType) Double.box(b(k).toDouble) else Float.box(b(k)))
        case StringType =>
          // [length][bytes] values, compared in place as unsigned bytes
          val arr = bb.array()
          val (bOff, bLen) = (new Array[Int](slots), new Array[Int](slots))
          var p = sg.valOff
          var r = 0
          while (r < slot.length) {
            if (sg.presentAt(r)) {
              val len = bb.getInt(p)
              val k = slot(r)
              if (k >= 0 && (!found(k) ||
                  wins(compareBytes(arr, p + 4, len, bOff(k), bLen(k))))) {
                bOff(k) = p + 4; bLen(k) = len; found(k) = true
              }
              p += 4 + len
            }
            r += 1
          }
          fill(found)(k =>
            UTF8String.fromBytes(util.Arrays.copyOfRange(arr, bOff(k), bOff(k) + bLen(k))))
      }
    }
    def partials(k: Int): Seq[Any] = Seq(best(k))
  }

  /** Unsigned lexicographic order of two byte ranges of one array — the
    * order of `UTF8String.compareTo`. */
  private def compareBytes(a: Array[Byte], x: Int, xLen: Int, y: Int, yLen: Int): Int = {
    val n = math.min(xLen, yLen)
    var i = 0
    while (i < n) {
      val c = (a(x + i) & 0xff) - (a(y + i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    xLen - yLen
  }

  /** MIN or MAX of `CAST(ts AS DATE)`. The cast is monotone in the
    * timestamp wherever the zone's offset is fixed (and always for
    * TIMESTAMP_NTZ, read in UTC): there the extreme micros convert
    * once, at the end; other zones convert every row. */
  final class DateBound(col: String, tsType: DataType, zone: String,
      max: Boolean, slots: Int) extends OfColumn {
    private val zid =
      if (tsType == TimestampNTZType) java.time.ZoneOffset.UTC
      else org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(zone)
    private val fixed = zid.getRules.isFixedOffset
    private def days(micros: Long): Int =
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToDays(micros, zid)
    private val best = new Array[Long](slots)
    private val found = new Array[Boolean](slots)
    def scan(in: ObjectRows): Unit = {
      val (sg, slot) = (in.seg(col), in.slot)
      if (sg != null) {
        val bb = sg.bb
        present(sg, slot, 8) { (k, p) =>
          val micros = bb.getLong(p)
          val v = if (fixed) micros else days(micros).toLong
          if (!found(k) || (if (max) v > best(k) else v < best(k))) {
            best(k) = v; found(k) = true
          }
        }
      }
    }
    def partials(k: Int): Seq[Any] = Seq(
      if (!found(k)) null else Int.box(if (fixed) days(best(k)) else best(k).toInt))
  }
}

/** The partial rows of objects answered from their footers at planning:
  * the executor receives literal values and never opens those objects.
  * All of a scan's footer rows ride in this one partition: they are
  * metadata-sized (objects × aggregates). */
case class GraftAggRowsPartition(rows: Seq[Array[Any]]) extends InputPartition

/** Aggregate pushdown: select+project+aggregate evaluated inside
  * storage — the reference's `--use-cls` query path (filter rows in the
  * OSD, return aggregate partials per object instead of the rows).
  * Footer stats first prune the objects that cannot match; then each
  * candidate object answers in one of two ways:
  *
  *  - from its footer, at planning, when there is no GROUP BY, the
  *    footer proves every pushed filter for every row, no deletion
  *    vector drops rows it counts, and every aggregate reads exactly off
  *    its stats ([[FooterAgg.fromFooter]]). These rows share one
  *    [[GraftAggRowsPartition]];
  *  - otherwise in one walk over its segments, one partition per object
  *    ([[GraftPartialAggReaderFactory]]).
  *
  * Either way an object gives one partial row per group it holds (more
  * only when a decimal SUM spills to stay inside its type, see
  * [[PartialAcc.DecimalSum]]) and none when no row qualifies: Spark's
  * final aggregate merges the partials and gives a global aggregate of
  * no rows its identity. So the bytes that leave "storage" scale with
  * objects × groups, never with rows. */
class GraftPartialAggScan(fullSchema: StructType, pushed: Array[Filter],
    groups: Seq[String], aggs: Seq[FooterAgg], path: String)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(groups.map(c => fullSchema(fullSchema.fieldIndex(c))) ++
      aggs.map(_.field))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftPartialAggScan path=$path, " +
      s"PushedAggregates: [${aggs.map(_.field.name).mkString(", ")}], " +
      s"PushedGroupBy: [${groups.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}] " +
      "(partials from footers or in-reader, one row per object per group)"

  /** An object's partial row from its footer alone, or None. */
  private def fromFooter(p: String, f: ObjectFormat.Footer): Option[Array[Any]] =
    if (groups.nonEmpty || ObjectFormat.residual(pushed, f).nonEmpty) None
    else {
      val row = aggs.map(_.fromFooter(f))
      if (row.exists(_.isEmpty) || DeleteVectors.hasValid(p)) None
      else Some(row.map(_.orNull).toArray)
    }

  /** Each candidate's answer, once per scan (Spark asks for the
    * partitions more than once while it plans): the footer rows in one
    * partition, then one partition per object to read. */
  private lazy val partitions: Array[InputPartition] = {
    val answers = GraftObjectTable.candidates(GraftObjectTable.listObjects(path), pushed)
      .map { case (p, f) => p -> fromFooter(p, f) }
    val rows = answers.flatMap(_._2)
    ((if (rows.isEmpty) Nil else Seq(GraftAggRowsPartition(rows))) ++
      answers.collect { case (p, None) => GraftObjectPartition(p) }).toArray
  }
  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftPartialAggReaderFactory(fullSchema, pushed, groups, aggs)
}

class GraftPartialAggReaderFactory(fullSchema: StructType,
    pushed: Array[Filter], groups: Seq[String], aggs: Seq[FooterAgg])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val out: Iterator[Array[Any]] = (p match {
        case GraftAggRowsPartition(rows) => rows
        case GraftObjectPartition(path) => walk(path)
      }).iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (out.hasNext) { current = new GenericInternalRow(out.next()); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }

  /** One object's partial rows from one walk over the segments the
    * aggregation reads. The row-fate mask (the deletion vector and the
    * filters the footer leaves open) and the group columns give each row
    * its slot ([[GraftPartialAggReaderFactory.slots]]). Each column
    * aggregate then folds its column into the slots in one typed loop,
    * and the term aggregates fold their terms together, a block of rows
    * at a time. A global aggregate has one slot, so its loops box
    * nothing and look nothing up per row. */
  private def walk(path: String): Seq[Array[Any]] = ObjectFile.using(path) { obj =>
    val cols = (groups ++ aggs.flatMap(_.cols)).distinct
    val residual = obj.residual(pushed)
    val bytes = obj.segments(obj.needed(StructType(cols.map(fullSchema(_))), residual))
    val boxed = scala.collection.mutable.HashMap.empty[String, Array[Any]]
    def values(c: String): Array[Any] = boxed.getOrElseUpdate(c,
      obj.fieldIdx.get(c).map(i => obj.boxed(i, bytes(i))).orNull)
    // column c's values in the table's type; null: all null
    val widened = scala.collection.mutable.HashMap.empty[String, Array[Any]]
    def tableValues(c: String): Array[Any] = widened.getOrElseUpdate(c, {
      val vs = values(c)
      val widen = obj.fieldIdx.get(c).map(i =>
        ObjectFormat.widenConverter(obj.schema(i).dataType, fullSchema(c).dataType)).orNull
      if (vs == null || widen == null) vs else vs.map(widen)
    })
    val keep = ObjectFormat.rowFate(obj.rowCount, DeleteVectors.read(path),
      residual, negated = false,
      a => obj.fieldIdx.get(a).map(obj.schema(_).dataType), values)
    val keys = groups.map(tableValues)
    val (slot, first) = GraftPartialAggReaderFactory.slots(keep, keys)
    val segs = cols.flatMap(c => obj.fieldIdx.get(c).map(i =>
      c -> new ObjectFormat.Segment(bytes(i), obj.rowCount, obj.schema(i).dataType))).toMap
    val accs = aggs.map(PartialAcc(_, fullSchema, first.length))
    PartialAcc.scan(accs, new ObjectRows(segs, slot, fullSchema, tableValues))
    first.indices.flatMap { k =>
      PartialAcc.rows(keys.map(col => if (col == null) null else col(first(k))), accs, k)
    }
  }
}

private[sources] object GraftPartialAggReaderFactory {
  /** Each row's slot, -1 where `keep` drops it, else its group's index,
    * numbered in order of first appearance; and each slot's first row.
    * The key columns (`keys`, null where all null) refine the slots one
    * at a time: a row's value gets a dense code of the column's own (one
    * hash lookup), and the pair (slot so far, code) a fresh slot number
    * (one long-keyed lookup). No row allocates. */
  def slots(keep: Array[Boolean], keys: Seq[Array[Any]]): (Array[Int], Array[Int]) = {
    val slot = new Array[Int](keep.length)
    var n = 0 // slots numbered so far
    var r = 0
    while (r < slot.length) {
      if (keep(r)) n = 1 else slot(r) = -1
      r += 1
    }
    keys.filter(_ != null).foreach { col =>
      val codes = new util.HashMap[Any, Integer]()
      val pairs = new scala.collection.mutable.LongMap[Int]()
      var r = 0
      while (r < slot.length) {
        if (slot(r) >= 0) {
          val known = codes.get(col(r))
          val code = if (known != null) known.intValue
            else { val c = codes.size; codes.put(col(r), c); c }
          val pair = slot(r).toLong << 32 | code
          val s = pairs.getOrElse(pair, -1)
          slot(r) = if (s >= 0) s else { val c = pairs.size; pairs.update(pair, c); c }
        }
        r += 1
      }
      n = pairs.size
    }
    val first = Array.fill(n)(-1)
    r = 0
    while (r < slot.length) {
      val k = slot(r)
      if (k >= 0 && first(k) < 0) first(k) = r
      r += 1
    }
    (slot, first)
  }
}

case class GraftObjectPartition(path: String) extends InputPartition

/** All objects of one cluster-key value; `key` is the catalyst value
  * (null for the all-null group) surfaced to Spark's storage-
  * partitioned-join machinery via HasPartitionKey. */
case class GraftClusteredPartition(paths: Seq[String], key: Any)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array(key))
}

class GraftObjectScan(fullSchema: StructType, readSchema_ : StructType,
    val pushed: Array[Filter], path: String, maxObjectsPerTrigger: Option[Int],
    val limit: Option[Int] = None, val topN: Option[PushedTopN] = None,
    clusteredBy: Option[String] = None,
    maxBytesPerTrigger: Option[Long] = None,
    clusteredWidth: Option[Long] = None,
    sampleObjects: Option[(Int, Int)] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {

  override def readSchema(): StructType = readSchema_
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftObjectScan path=$path, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      limit.map(l => s"PushedLimit: $l, ").getOrElse("") +
      topN.map(t => s"PushedTopN: ${t.col} " +
        s"${if (t.descending) "DESC" else "ASC"} " +
        s"${if (t.nullsFirst) "NULLS FIRST" else "NULLS LAST"} " +
        s"LIMIT ${t.k}, ").getOrElse("") +
      sampleObjects.map { case (k, n) =>
        s"SampledObjects: $k/$n, " }.getOrElse("") +
      s"ReadSchema: ${readSchema_.catalogString}"

  /** Object pruning = the reference's object-local index: footers only.
    * The deterministic object sample (if any) applies FIRST — unkept
    * objects never even have their footers consulted. */
  private lazy val selected: Seq[(String, ObjectFormat.Footer)] =
    GraftObjectTable.candidates(
      GraftObjectTable.listObjects(path)
        .filter(obj => sampleObjects.forall { case (k, n) =>
          GraftScanBuilder.sampleBucket(obj, n) < k
        }),
      pushed)

  /** Runtime object pruning — Spark's dynamic-partition-pruning hook
    * for DSv2. At execution time the equi-join build side's distinct
    * keys arrive here as `In(joinCol, values)`; objects whose footer
    * min/max can't hold any build key are dropped before a byte of
    * their bodies is read. This is the reference's object-index skip
    * applied with information that only EXISTS at runtime — on a
    * 100 TB fact table range-laid-out on the join key, a selective
    * dim-side filter collapses the scan to the few overlapping
    * objects. Every column the scan outputs is eligible (a runtime
    * filter can only arrive on a join key, and join keys are always in
    * the output; refs outside the output would not resolve); row-level
    * re-filtering is unnecessary (the join itself discards
    * non-matching survivors), matching Spark's DPP contract. */
  override def filterAttributes(): Array[NamedReference] =
    // runtime filtering re-plans partitions, which would invalidate a
    // reported key-grouped partitioning (group count is part of the
    // contract) — clustered reads trade DPP for shuffle-free joins
    if (clusteredGroups.isDefined) Array.empty
    else readSchema_.fieldNames.map(Expressions.column)

  @volatile private var runtime: Array[Filter] = Array.empty
  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(ObjectFormat.storageEvaluable(fullSchema, _))

  /** Value-clustered layout (SURVEY §2.11 layout/transform analog, the
    * 100 TB co-location story): when every selected object holds
    * exactly one value of `clusteredBy` (footer min==max, no nulls —
    * or all-null, the null key), the scan groups objects by key and
    * reports `KeyGroupedPartitioning(identity(col))`. Joins and
    * aggregations keyed on that column then skip their shuffle
    * entirely (Spark's storage-partitioned join, enabled via
    * spark.sql.sources.v2.bucketing.enabled) — data never moves
    * because the layout already agrees with the query's distribution,
    * which is the reference's placement-group affinity re-expressed
    * in Catalyst's own distribution language. The declared column is
    * VERIFIED against footers; any violation falls back to normal
    * unknown partitioning (never wrong, just unoptimized). */
  private lazy val clusteredGroups: Option[Seq[(Any, Seq[String])]] =
    clusteredWidth match {
      case Some(w) =>
        GraftClustering.bucketGroups(selected, fullSchema, clusteredBy, w)
      case None => GraftClustering.groups(selected, fullSchema, clusteredBy)
    }

  /** Within a clustered partition every row carries the SAME cluster
    * key, so the partition is trivially sorted by it (a constant
    * sequence satisfies any ordering on that column). Reporting it
    * lets Spark elide the SortExec pair a sort-merge join would
    * otherwise insert — the storage-partitioned join becomes both
    * shuffle-free AND sort-free on the cluster key. */
  override def outputOrdering(): Array[SortOrder] =
    clusteredGroups match {
      // width mode holds many keys per partition — no constant-column
      // ordering claim; identity mode is one key per partition
      case Some(_) if clusteredWidth.isEmpty => Array(Expressions.sort(
        Expressions.identity(clusteredBy.get), SortDirection.ASCENDING))
      case _ => Array.empty
    }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    clusteredGroups match {
      case Some(groups) =>
        // width mode reports a BUCKET transform (Iceberg-shape SPJ):
        // the partition value is floorDiv(key, W), resolved through
        // GraftCatalog's FunctionCatalog. The standard bucket(n, col)
        // transform shape is load-bearing: Spark extracts the numeric
        // argument into TransformExpression's numBucketsOpt, so the
        // partitioning's leaf expressions are exactly the join column
        // (a generic apply() keeps the literal as a leaf and the
        // distribution check rejects it). Cross-catalog safety comes
        // from the bound function's canonical name, which is what
        // compatibility compares. Identity mode reports one key value
        // per partition.
        val expr = clusteredWidth match {
          case Some(w) => Expressions.bucket(
            math.toIntExact(w), clusteredBy.get)
          case None => Expressions.identity(clusteredBy.get)
        }
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(expr), groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          planInputPartitions().length)
    }

  /** Re-planned by BatchScanExec after runtime filters land; the base
    * footer selection is computed once, the runtime prune re-applied
    * per call. A pushed LIMIT/TopN then shrinks the object list —
    * only when NO filters (pushed or runtime) remain, because footer
    * row counts count all rows and a filter would break the
    * "cumulative rows ≥ k ⇒ enough qualifying rows" argument. */
  override def planInputPartitions(): Array[InputPartition] = {
    clusteredGroups match {
      case Some(groups) =>
        // one partition per cluster key, its objects read in sequence;
        // count must match the reported KeyGroupedPartitioning
        groups.map { case (k, paths) =>
          GraftClusteredPartition(paths,
            if (k == GraftClustering.KeyNull) null else k): InputPartition
        }.toArray
      case None =>
        val avail = selected.filter { case (_, footer) =>
          runtime.forall(ObjectFormat.mightMatch(_, footer))
        }
        val chosen =
          if (pushed.nonEmpty || runtime.nonEmpty) avail
          // merge-on-read: LIMIT/TopN object selection counts rows
          // from footers, which over-count DV'd objects — selecting
          // "enough" objects could under-produce. Any valid DV in the
          // candidate set ⇒ keep every object (readers still merge).
          else if (avail.exists(a => DeleteVectors.hasValid(a._1))) avail
          else topN.map(topNPrune(avail, _))
            .orElse(limit.map(limitPrefix(avail, _)))
            .getOrElse(avail)
        chosen.map { case (p, _) => GraftObjectPartition(p) }.toArray
    }
  }

  /** LIMIT k, no filters: any k rows do — first objects win. */
  private def limitPrefix(avail: Seq[(String, ObjectFormat.Footer)],
      k: Int): Seq[(String, ObjectFormat.Footer)] = {
    var cum = 0L
    avail.takeWhile { case (_, f) =>
      val need = cum < k; cum += f.rowCount; need
    }
  }

  /** ORDER BY col LIMIT k, no filters: keep only objects whose footer
    * range can intersect the top-k. Soundness: a prefix set S of
    * value-known objects with cumulative non-null count ≥ m proves m
    * values ≤ bound (ASC; ≥ bound DESC) exist, so an object whose
    * entire range lies strictly beyond the bound cannot contribute.
    * Null counts are exact in every footer (even NaN-disabled ones),
    * so the null side of the ordering is computed exactly; objects
    * with values but NaN-disabled min/max are always kept and never
    * counted toward the proof. */
  private def topNPrune(avail: Seq[(String, ObjectFormat.Footer)],
      t: PushedTopN): Seq[(String, ObjectFormat.Footer)] = {
    import ObjectFormat.{ColStats, Footer, cmpExact}
    // stats-absent column ⇔ the column postdates the object's
    // generation ⇔ all rows null for it (same rule as CountOf)
    def st(f: Footer): Option[ColStats] = f.stats.get(t.col)
    def nullsOf(f: Footer): Long =
      st(f).map(_.nullCount.toLong).getOrElse(f.rowCount.toLong)
    def valsOf(f: Footer): Long = f.rowCount - nullsOf(f)
    // far edge accumulates the proof bound; near edge is the exclusion
    // test (ASC: far=max, near=min; DESC mirrored)
    def farOf(f: Footer): Option[Any] =
      st(f).flatMap(s => Option(if (t.descending) s.min else s.max))
    def nearOf(f: Footer): Option[Any] =
      st(f).flatMap(s => Option(if (t.descending) s.max else s.min))
    def lt(a: Any, b: Any): Boolean = cmpExact(a, b).exists(c =>
      if (t.descending) c > 0 else c < 0)

    // minimal object set proving ≥ m null rows (greedy, largest first)
    def keepForNulls(m: Long): ((String, Footer)) => Boolean = {
      val withNulls = avail.filter(x => nullsOf(x._2) > 0)
        .sortBy(x => -nullsOf(x._2))
      var cum = 0L
      val kept = withNulls.takeWhile { x =>
        val need = cum < m; cum += nullsOf(x._2); need
      }.map(_._1).toSet
      x => kept(x._1)
    }

    // objects that can hold one of the m least (ASC) / greatest (DESC)
    // values
    def keepForValues(m: Long): ((String, Footer)) => Boolean = {
      val known = avail.filter(x => valsOf(x._2) > 0 && farOf(x._2).isDefined)
        .sortWith((a, b) => lt(farOf(a._2).get, farOf(b._2).get))
      var cum = 0L
      var bound: Option[Any] = None
      val it = known.iterator
      while (cum < m && it.hasNext) {
        val x = it.next(); cum += valsOf(x._2); bound = farOf(x._2)
      }
      if (cum < m) x => valsOf(x._2) > 0 // not provable: keep all values
      else { x =>
        valsOf(x._2) > 0 && (nearOf(x._2) match {
          case None => true // NaN-disabled stats: cannot exclude
          case Some(near) => !lt(bound.get, near) // near beyond bound ⇒ out
        })
      }
    }

    val totalNulls = avail.map(x => nullsOf(x._2)).sum
    val totalVals = avail.map(x => valsOf(x._2)).sum
    val keep: ((String, Footer)) => Boolean =
      if (t.nullsFirst) {
        if (totalNulls >= t.k) keepForNulls(t.k)
        else {
          val kv = keepForValues(t.k - totalNulls)
          x => nullsOf(x._2) > 0 || kv(x)
        }
      } else {
        if (totalVals >= t.k) keepForValues(t.k)
        else {
          val kn = keepForNulls(t.k - totalVals)
          x => valsOf(x._2) > 0 || kn(x)
        }
      }
    avail.filter(keep)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(fullSchema, readSchema_, pushed,
      // per-reader early exit: stop decoding after `limit` qualifying
      // rows (valid with filters too — the cap counts post-filter
      // rows). TopN must surface every candidate row, so no cap there.
      rowLimit = if (topN.isEmpty) limit else None,
      // vectorized route: every projected type has a vector fill;
      // pushed-LIMIT scans stay on the row route (the early-exit cap
      // is row-granular). `selected` is the runtime-prune SUPERSET,
      // so the flag agrees across every partition Spark ever asks
      // about.
      columnar = limit.isEmpty && selected.nonEmpty &&
        readSchema_.fields.forall(f =>
          ObjectFormat.vectorizable(f.dataType)))

  /** Streaming read: the object sequence IS the offset log. Objects are
    * immutable once committed (staged rename) and appended with
    * monotonically increasing `<seq>`, so a stream offset = "number of
    * objects consumed" and a micro-batch = the newly appeared objects —
    * the reference's append-object model feeding Structured Streaming.
    * Pushed filters and stats pruning apply per batch exactly as in
    * batch reads. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(fullSchema, readSchema_, pushed, path,
      maxObjectsPerTrigger, maxBytesPerTrigger)

  /** runstats → CBO (SURVEY §4.1): the footer row counts the reference
    * keeps per object surface here as exact relation statistics, so
    * Catalyst's size/row-based decisions (auto-broadcast, join
    * reorder under CBO) see the truth without an ANALYZE pass. With
    * pushed filters the counts are footer-selectivity estimates over
    * the surviving objects (ObjectFormat.selectivity) — the filter is
    * fully absorbed by the scan, so the scan's own estimate must be
    * the post-filter one or downstream join planning would see
    * pre-filter sizes forever.
    *
    * Footers additionally carry per-column write-time stats — the
    * full runstats analog, computed per object AT INGEST, never by a
    * table scan: null counts (exact sums), min/max (exact merges,
    * narrowed to the column's Catalyst type), string byte lengths, and
    * a merged-KMV distinct-count estimate (exact below the sketch
    * size). Surfaced as DSv2 `columnStats`, which Spark folds into
    * Catalyst `ColumnStat` — CBO filter-selectivity and join-size
    * estimation then run off storage metadata alone, the ANALYZE
    * TABLE result with zero ANALYZE cost. String min/max stay
    * unreported (footer bounds are truncation-conservative, and CBO
    * range logic is numeric-only). */
  override def estimateStatistics(): Statistics = new Statistics {
    // With filters fully pushed into the scan, Catalyst sees no Filter
    // node to estimate — so the relation estimate must already be the
    // post-filter one. Each surviving object scales by its own
    // footer-stats selectivity (exact null fractions, range fractions,
    // KMV-NDV equalities); no filters ⇒ the product is empty ⇒ exact
    // footer totals.
    private val perObject = selected.map { case (p, f) =>
      val frac = pushed.foldLeft(1.0)((s, flt) =>
        s * ObjectFormat.selectivity(flt, f))
      (f.decodedSize, f.rowCount.toLong, frac)
    }
    private val bytes = math.max(1L,
      perObject.map { case (b, _, fr) => math.round(b * fr) }.sum)
    private val rows =
      perObject.map { case (_, r, fr) => math.round(r * fr) }.sum
    // column stats describe the selected objects' raw contents — the
    // per-filter scaling above applies to cardinality, not to the
    // merged bounds/NDV, which remain valid (upper-bound) post-filter
    private val rawRows = selected.map(_._2.rowCount.toLong).sum
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
    override def columnStats(): util.Map[NamedReference, colstats.ColumnStatistics] = {
      val m = new util.HashMap[NamedReference, colstats.ColumnStatistics]()
      val footers = selected.map(_._2)
      if (footers.isEmpty) return m
      readSchema_.fields.foreach { f =>
        val dt = f.dataType
        val perCol = footers.flatMap(_.stats.get(f.name))
        if (perCol.nonEmpty) {
          val nulls = perCol.map(_.nullCount.toLong).sum
          val nonNull = rawRows - nulls
          val ndv = ObjectFormat.ndvEstimate(
            footers.flatMap(_.ndvSketch.get(f.name)))
          val (mnO, mxO): (Option[Any], Option[Any]) =
            if (dt == StringType || perCol.exists(_.min == null)) (None, None)
            else {
              import ObjectFormat.cmpExact
              val mn = perCol.map(_.min)
                .reduce((a, b) => if (cmpExact(a, b).exists(_ <= 0)) a else b)
              val mx = perCol.map(_.max)
                .reduce((a, b) => if (cmpExact(a, b).exists(_ >= 0)) a else b)
              (Some(GraftClustering.narrowKey(mn, dt)),
                Some(GraftClustering.narrowKey(mx, dt)))
            }
          val lenStats = footers.flatMap(_.strLen.get(f.name))
          val (avgL, maxL): (Option[Long], Option[Long]) =
            if (dt == StringType)
              if (lenStats.nonEmpty && nonNull > 0)
                (Some(math.max(1L, math.round(
                  lenStats.map(_._1).sum.toDouble / nonNull))),
                  Some(lenStats.map(_._2).max.toLong))
              else (None, None)
            else (Some(dt.defaultSize.toLong), Some(dt.defaultSize.toLong))
          m.put(Expressions.column(f.name), new colstats.ColumnStatistics {
            override def nullCount(): util.OptionalLong =
              util.OptionalLong.of(nulls)
            override def distinctCount(): util.OptionalLong =
              ndv.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
            override def min(): util.Optional[Object] =
              mnO.map(v => util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(util.Optional.empty[Object]())
            override def max(): util.Optional[Object] =
              mxO.map(v => util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(util.Optional.empty[Object]())
            override def avgLen(): util.OptionalLong =
              avgL.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
            override def maxLen(): util.OptionalLong =
              maxL.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
          })
        }
      }
      m
    }
  }
}

/** Shared value-clustering detection: a table is clustered on `col`
  * when every object's footer proves single-key content (min==max, no
  * nulls — or all-null, the null-key group). Truncated string bounds
  * make long string keys read as unclustered (min != max) — a safe
  * fallback, never a wrong grouping. */
object GraftClustering {
  object KeyNull // sentinel: groupBy key for the all-null group

  def narrowKey(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: java.lang.Long, IntegerType | DateType) => Int.box(l.toInt)
    case (d: java.lang.Double, FloatType) => Float.box(d.toFloat)
    case (x, _) => x
  }

  def groups(selected: Seq[(String, ObjectFormat.Footer)],
      fullSchema: StructType,
      clusteredBy: Option[String]): Option[Seq[(Any, Seq[String])]] =
    clusteredBy.flatMap { c =>
      if (!fullSchema.fieldNames.contains(c)) None
      else {
        val dt = fullSchema(c).dataType
        def keyOf(f: ObjectFormat.Footer): Option[Any] =
          f.stats.get(c).flatMap { s =>
            if (s.nullCount == f.rowCount) Some(KeyNull)
            else if (s.nullCount == 0 && s.min != null &&
              ObjectFormat.cmpExact(s.min, s.max).contains(0))
              Some(narrowKey(s.min, dt))
            else None // mixed keys or mixed null/value: not clustered
          }
        if (ObjectFormat.statKind(dt) == 0) None
        else {
          val keyed = selected.map { case (p, f) => (p, keyOf(f)) }
          if (keyed.exists(_._2.isEmpty)) None
          else Some(keyed.groupBy(_._2.get)
            .map { case (k, ps) => (k, ps.map(_._1)) }
            .toSeq.sortBy(_._2.head)) // deterministic group order
        }
      }
    }

  /** Width-bucketed grouping: an object belongs to bucket
    * floorDiv(key, W). Buckets are CONTIGUOUS key ranges, so footer
    * min/max alone verify the claim — floorDiv is monotone, hence
    * bucket(min)==bucket(max) proves every row in between shares the
    * bucket. This is what makes the clustered layout hold at
    * high key cardinality: object count tracks #buckets, not #keys.
    * Nulls are not bucketable (floorDiv of nothing) — any null in the
    * cluster column disables the grouping (falls back to unknown
    * partitioning, never wrong). */
  def bucketGroups(selected: Seq[(String, ObjectFormat.Footer)],
      fullSchema: StructType, clusteredBy: Option[String],
      width: Long): Option[Seq[(Any, Seq[String])]] =
    clusteredBy.flatMap { c =>
      if (!fullSchema.fieldNames.contains(c)) None
      else fullSchema(c).dataType match {
        case LongType | IntegerType =>
          def longOf(v: Any): Long = v match {
            case i: java.lang.Integer => i.longValue
            case l: java.lang.Long => l.longValue
          }
          def bucketOf(f: ObjectFormat.Footer): Option[Any] =
            f.stats.get(c).flatMap { s =>
              if (s.nullCount != 0 || s.min == null) None
              else {
                val lo = Math.floorDiv(longOf(s.min), width)
                val hi = Math.floorDiv(longOf(s.max), width)
                if (lo == hi) Some(Long.box(lo)) else None
              }
            }
          val keyed = selected.map { case (p, f) => (p, bucketOf(f)) }
          if (keyed.exists(_._2.isEmpty)) None
          else Some(keyed.groupBy(_._2.get)
            .map { case (k, ps) => (k, ps.map(_._1)) }
            .toSeq.sortBy(_._2.head))
        case _ => None
      }
    }
}

/** Offset = count of `<table>.<seq>` objects consumed so far. */
case class GraftObjectOffset(objectCount: Int) extends Offset {
  override def json(): String = objectCount.toString
}

class GraftMicroBatchStream(fullSchema: StructType, readSchema: StructType,
    pushed: Array[Filter], path: String, maxObjectsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = GraftObjectOffset(0)
  override def latestOffset(): Offset =
    GraftObjectOffset(GraftObjectTable.listObjects(path).size)
  override def deserializeOffset(json: String): Offset =
    GraftObjectOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Admission control: `.option("maxObjectsPerTrigger", n)` bounds
    * each micro-batch to n newly appeared objects — the object-store
    * analog of the file source's maxFilesPerTrigger, and what keeps a
    * deep backlog (a table that grew while the stream was down) from
    * becoming one giant catch-up batch. AvailableNow drains the
    * backlog in successive bounded batches via the same limit (the
    * SupportsTriggerAvailableNow contract: without it Spark falls
    * back to one single catch-up batch). */
  override def getDefaultReadLimit: ReadLimit =
    maxObjectsPerTrigger.map(m => ReadLimit.maxFiles(m))
      .getOrElse(ReadLimit.allAvailable())

  // AvailableNow pins the drain target at trigger time: objects
  // appended after the pin are left for the next run
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftObjectTable.listObjects(path).size)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val objs = GraftObjectTable.listObjects(path)
    val all = availableNowCap.getOrElse(objs.size)
    val s = start.asInstanceOf[GraftObjectOffset].objectCount
    // clamp to the LIVE listing: availableNowCap (and `s` itself) are
    // counts captured from earlier listings — a concurrent DELETE that
    // shrinks the directory must not index past objs' end
    val byCount = math.min(objs.size, limit match {
      case mf: ReadMaxFiles => math.min(all, s + mf.maxFiles())
      case _ => all
    })
    // `.option("maxBytesPerTrigger", n)`: byte-bounded admission (the
    // object-store analog of the file source's option — ReadLimit has
    // no bytes variant, so the bound applies here). Always admits at
    // least one object so an oversized object cannot stall the stream.
    val end = maxBytesPerTrigger match {
      case Some(cap) =>
        var e = s; var bytes = 0L
        var admit = true
        while (e < byCount && admit) {
          val sz = new File(objs(e)).length()
          if (e == s || bytes + sz <= cap) { bytes += sz; e += 1 }
          else admit = false
        }
        e
      case None => byCount
    }
    // never regress the offset even if deletes shrank the listing
    GraftObjectOffset(math.max(end, s))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftObjectOffset].objectCount
    val e = end.asInstanceOf[GraftObjectOffset].objectCount
    // same object-index pruning as the batch path
    GraftObjectTable.candidates(GraftObjectTable.listObjects(path).slice(s, e),
      pushed).map { case (p, _) => GraftObjectPartition(p) }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(fullSchema, readSchema, pushed)
}

class GraftReaderFactory(fullSchema: StructType, readSchema: StructType,
    pushed: Array[Filter], rowLimit: Option[Int] = None,
    columnar: Boolean = false)
    extends PartitionReaderFactory {

  /** One mode per scan (Spark's contract: partitions must not mix) —
    * the flag is computed scan-side from the SELECTED objects'
    * footers, so every partition of this scan agrees. */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case GraftObjectPartition(path) =>
        new GraftColumnarReader(Seq(path), fullSchema, readSchema, pushed)
      case GraftClusteredPartition(paths, _) =>
        new GraftColumnarReader(paths, fullSchema, readSchema, pushed)
      case other => throw new UnsupportedOperationException(other.toString)
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftObjectPartition(path) =>
        new GraftObjectReader(path, fullSchema, readSchema, pushed,
          rowLimit = rowLimit.getOrElse(Int.MaxValue))
      case GraftClusteredPartition(paths, _) =>
        new PartitionReader[InternalRow] { // chain one key's objects
          private val cap = rowLimit.getOrElse(Int.MaxValue)
          private var emitted = 0
          private val it = paths.iterator
          private var cur: GraftObjectReader = _
          override def next(): Boolean = {
            if (emitted >= cap) return false
            while (cur == null || !cur.next()) {
              if (cur != null) cur.close()
              cur = null
              if (!it.hasNext) return false
              cur = new GraftObjectReader(it.next(), fullSchema, readSchema,
                pushed)
            }
            emitted += 1
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }
}

/** Reads one object as rows: decode the needed segments → the row-fate
  * mask → project the kept rows. The select+project happens HERE,
  * storage-side — the reference's in-storage processing. Values decode
  * directly into their Catalyst representation (nested structs/arrays/
  * maps included), so projection is a plain array copy. The scan takes
  * this route for nested output and pushed LIMIT; DELETE's survivors
  * (`negated`) and merge-on-read ordinals (`currentOrdinal`) come only
  * from here. */
class GraftObjectReader(path: String, fullSchema: StructType,
    readSchema: StructType, pushed: Array[Filter],
    negated: Boolean = false, // emit rows FAILING the conjunction (DELETE's survivors)
    rowLimit: Int = Int.MaxValue) // pushed LIMIT: stop after this many rows
    extends PartitionReader[InternalRow] {

  private var emitted = 0

  private val obj = ObjectFile.open(path)
  // a short or corrupt object fails construction: close it first
  private def guarded[T](init: => T): T =
    try init catch { case e: Throwable => obj.close(); throw e }
  /** Decode with the schema EMBEDDED in this object, not the table's:
    * after ALTER TABLE the table schema and older objects' layouts
    * diverge (schema evolution), and bodies are positional in their
    * own header schema. Columns are then matched to the table schema
    * BY NAME — a column this object predates reads as null. */
  private val objSchema = obj.schema
  private val fieldIdx = obj.fieldIdx
  /** -1 marks the `_object` metadata column (not stored in the body —
    * synthesized from the object file name, the reference's object
    * address for this row); -2 marks a table column absent from this
    * object's generation (evolution-added → null). */
  private val outIdx = readSchema.fieldNames.map { f =>
    fieldIdx.get(f) match {
      case Some(i) => i
      case None => if (f == "_object") -1 else -2
    }
  }
  private val objName =
    UTF8String.fromString(new File(path).getName)
  /** Type-widening upcast per output column (null = identity): an
    * object written before ALTER COLUMN TYPE carries the narrow
    * encoding; the emitted row must speak the table's wide type. */
  private val widen: Array[Any => Any] = guarded {
    readSchema.fields.zip(outIdx).map { case (f, i) =>
      if (i < 0) null
      else ObjectFormat.widenConverter(objSchema(i).dataType, f.dataType)
    }
  }

  /** Zone-map full-accept (see [[ObjectFormat.provenForAll]]): pushed
    * filters the footer proves TRUE for every row are dropped from
    * per-row evaluation. NEVER in negated (DELETE-survivor) mode —
    * there the conjunction's TRUE rows are the ones REMOVED, so a
    * proven-true filter means "no survivors", not "skip the check". */
  private val effPushed: Array[Filter] =
    if (negated) pushed else guarded(obj.residual(pushed))

  /** The columns this read touches (projection ∪ filter references),
    * decoded boxed; every other segment is never read. */
  private val colData: Array[Array[Any]] = guarded {
    val segs = obj.segments(obj.needed(readSchema, effPushed))
    Array.tabulate(segs.length)(i => if (segs(i) == null) null else obj.boxed(i, segs(i)))
  }
  /** Merge-on-read: the valid deletion vector drops rows in every mode
    * (reads, negated CoW-DELETE survivor scans, feeds alike). Archive
    * copies never carry one (DVs live only under the table root's
    * `_dv/`), so snapshot reads of pre-delete state stay full. */
  private val keep: Array[Boolean] = guarded {
    ObjectFormat.rowFate(obj.rowCount, DeleteVectors.read(path), effPushed, negated,
      a => fieldIdx.get(a).map(objSchema(_).dataType),
      a => fieldIdx.get(a).map(colData(_)).orNull)
  }
  /** Physical ordinal of the row last emitted: kept rows come out in
    * ordinal order. */
  private var ord = -1
  def currentOrdinal: Int = ord
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (emitted >= rowLimit) return false // pushed-LIMIT early exit
    ord += 1
    while (ord < keep.length && !keep(ord)) ord += 1
    if (ord >= keep.length) return false
    val out = new Array[Any](outIdx.length)
    var k = 0
    while (k < outIdx.length) {
      out(k) = outIdx(k) match {
        case -1 => objName // _object metadata column
        case -2 => null    // column newer than this object
        case i =>
          val c = widen(k)
          if (c == null) colData(i)(ord) else c(colData(i)(ord))
      }
      k += 1
    }
    current = new GenericInternalRow(out)
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = obj.close()
}

/** Vectorized read of objects — the scan fast path: one
  * `ColumnarBatch` per object, filled column-at-a-time with tight
  * typed loops straight off the segment bytes (no per-row InternalRow,
  * no boxing for fixed-width types), feeding Spark's columnar
  * whole-stage codegen. The object's row-fate mask (deletion vector
  * and pushed filters, [[ObjectFormat.rowFate]] over the boxed filter
  * columns) is the row reader's: the emitted batch contains exactly the
  * qualifying rows, so the pushdown contract is identical to the row
  * route. Unprojected, unfiltered columns are never read: the segment
  * directory places each needed segment, and [[ObjectFile]] reads
  * only those.
  *
  * 100 TB posture: the batch spans one object (the I/O and task
  * granule); memory is bounded by the object's projected columns,
  * the same bound the row route's decode already pays — and the scan
  * is the 100 TB workload, which is why this path exists. */
class GraftColumnarReader(paths: Seq[String], fullSchema: StructType,
    readSchema: StructType, pushed: Array[Filter])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch
  import ObjectFormat.Segment

  private val it = paths.iterator
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    while (it.hasNext) {
      batch = readObject(it.next())
      if (batch != null) return true
    }
    false
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit =
    if (batch != null) { batch.close(); batch = null }

  private def readObject(path: String): ColumnarBatch = {
    val obj = ObjectFile.open(path)
    try {
      val objSchema = obj.schema
      val rowCount = obj.rowCount
      val fieldIdx = obj.fieldIdx
      // Zone-map full-accept (provenForAll): pushed filters the
      // footer PROVES true for every row here are dropped from
      // row-level evaluation — the whole-object case on broad range
      // scans, keeping kept == rowCount so the bulk fill below
      // engages, and letting filter-only columns skip decode (and
      // even the segment read) entirely.
      val residual = obj.residual(pushed)
      // Per-SEGMENT positional reads of only the projected ∪
      // filter-referenced columns: every other segment's bytes are
      // never read, and each needed one lands in its own array.
      val bytes = obj.segments(obj.needed(readSchema, residual))
      // row fate: filter columns decode boxed, once
      val keep = ObjectFormat.rowFate(rowCount, DeleteVectors.read(path), residual,
        negated = false, a => fieldIdx.get(a).map(objSchema(_).dataType),
        a => fieldIdx.get(a).map(i => obj.boxed(i, bytes(i))).orNull)
      var kept = 0
      locally { var r = 0; while (r < rowCount) { if (keep(r)) kept += 1; r += 1 } }
      if (kept == 0) return null

      val objName = UTF8String.fromString(new File(path).getName)
      val vectors = readSchema.fields.map { f =>
        val v = new OnHeapColumnVector(kept, f.dataType)
        fieldIdx.get(f.name) match {
          case Some(i) =>
            val dt = objSchema(i).dataType
            fillVector(v, new Segment(bytes(i), rowCount, dt), rowCount, keep, kept,
              dt, f.dataType)
          case None if f.name == "_object" =>
            var r = 0
            while (r < kept) { v.putByteArray(r, objName.getBytes); r += 1 }
          case None => v.putNulls(0, kept) // column newer than object
        }
        v: org.apache.spark.sql.vectorized.ColumnVector
      }
      new ColumnarBatch(vectors, kept)
    } finally obj.close()
  }

  /** Tight typed fill: walk the presence bytes once, copying kept
    * present values into the vector and nulling kept absent ones;
    * skipped rows only advance the value cursor. `segDt` is the
    * object's PHYSICAL type; `vecDt` the table's — they differ only
    * for type-widened columns (int→bigint, float→double), which get
    * their own upcast arms. */
  private def fillVector(v: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector,
      seg: Segment, rowCount: Int,
      keep: Array[Boolean], kept: Int, segDt: DataType,
      vecDt: DataType): Unit = {
    val bb = seg.bb
    var p = seg.valOff
    var r = 0
    var o = 0
    @inline def presentAt(row: Int): Boolean = seg.presentAt(row)
    // bulk fast path — the common 100 TB scan shape: a null-free
    // little-endian fixed-width segment with no filter/DV drops
    // memcpys straight into the vector's backing array (the same
    // plain-encoding fill parquet's vectorized reader does), no
    // per-value loop at all.
    if (seg.le && !seg.hasPres && kept == rowCount && segDt == vecDt) {
      val arr = bb.array()
      segDt match {
        case LongType | TimestampType | TimestampNTZType =>
          v.putLongsLittleEndian(0, kept, arr, p); return
        case IntegerType | DateType =>
          v.putIntsLittleEndian(0, kept, arr, p); return
        case DoubleType => v.putDoublesLittleEndian(0, kept, arr, p); return
        case FloatType => v.putFloatsLittleEndian(0, kept, arr, p); return
        case _ => // boolean falls through to the per-row loop
      }
    }
    if (segDt != vecDt) {
      (segDt, vecDt) match {
        case (IntegerType, LongType) =>
          while (r < rowCount) {
            val pres = presentAt(r)
            if (keep(r)) {
              if (pres) v.putLong(o, bb.getInt(p).toLong) else v.putNull(o)
              o += 1
            }
            if (pres) p += 4
            r += 1
          }
        case (FloatType, DoubleType) =>
          while (r < rowCount) {
            val pres = presentAt(r)
            if (keep(r)) {
              if (pres) v.putDouble(o, bb.getFloat(p).toDouble)
              else v.putNull(o)
              o += 1
            }
            if (pres) p += 4
            r += 1
          }
        case other => throw new IllegalStateException(
          s"columnar fill: unsupported widening $other")
      }
      return
    }
    segDt match {
      case LongType | TimestampType | TimestampNTZType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (keep(r)) {
            if (pres) v.putLong(o, bb.getLong(p)) else v.putNull(o)
            o += 1
          }
          if (pres) p += 8
          r += 1
        }
      case IntegerType | DateType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (keep(r)) {
            if (pres) v.putInt(o, bb.getInt(p)) else v.putNull(o)
            o += 1
          }
          if (pres) p += 4
          r += 1
        }
      case DoubleType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (keep(r)) {
            if (pres) v.putDouble(o, bb.getDouble(p)) else v.putNull(o)
            o += 1
          }
          if (pres) p += 8
          r += 1
        }
      case FloatType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (keep(r)) {
            if (pres) v.putFloat(o, bb.getFloat(p)) else v.putNull(o)
            o += 1
          }
          if (pres) p += 4
          r += 1
        }
      case BooleanType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (keep(r)) {
            if (pres) v.putBoolean(o, bb.get(p) != 0) else v.putNull(o)
            o += 1
          }
          if (pres) p += 1
          r += 1
        }
      case StringType | BinaryType =>
        val arr = bb.array()
        while (r < rowCount) {
          val pres = presentAt(r)
          if (pres) {
            val len = bb.getInt(p)
            if (keep(r)) { v.putByteArray(o, arr, p + 4, len); o += 1 }
            p += 4 + len
          } else if (keep(r)) { v.putNull(o); o += 1 }
          r += 1
        }
      case d: DecimalType =>
        while (r < rowCount) {
          val pres = presentAt(r)
          if (pres) {
            val len = bb.getInt(p)
            if (keep(r)) {
              val b = new Array[Byte](len)
              bb.get(p + 4, b)
              v.putDecimal(o, Decimal(new java.math.BigDecimal(
                new java.math.BigInteger(b), d.scale), d.precision, d.scale),
                d.precision)
              o += 1
            }
            p += 4 + len
          } else if (keep(r)) { v.putNull(o); o += 1 }
          r += 1
        }
      case other => throw new UnsupportedOperationException(
        s"columnar fill: $other (the scan declines columnar for these)")
    }
  }
}

// ---------------------------------------------------------------------
// Streaming CHANGE FEED over the version log (r4) — CDC for the object
// store: `.option("changeFeed", "true")` on a readStream turns the
// table's commit history into a stream of inserted/deleted rows, with
// STREAM OFFSETS = VERSION NUMBERS. Each micro-batch covers the
// commits in (startVersion, endVersion]; added objects stream their
// rows as inserts, removed objects stream their archived pre-image as
// deletes, and an in-place rewrite emits its full pre-image as deletes
// plus its post-image as inserts (object-granular CDC — the file-level
// encoding Delta-style change feeds use; the row-minimal diff is the
// batch-side GraftVersions.changes). Replay is deterministic: a
// version's events are a pure function of the log + archive, so
// checkpoint recovery re-emits identical batches (until VACUUM drops
// the archive floor, which fails loudly rather than silently
// under-reporting).
// ---------------------------------------------------------------------

/** Offset = committed version number. */
case class GraftVersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

object GraftChangeFeed {
  /** Data columns + the feed's metadata pair. */
  def feedSchema(data: StructType): StructType =
    StructType(data.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_version", IntegerType, nullable = false))
}

class GraftChangeFeedTable(dataSchema: StructType, path: String,
    startingVersion: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"graft-changes:$path"
  override def schema(): StructType = GraftChangeFeed.feedSchema(dataSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType =
          GraftChangeFeed.feedSchema(dataSchema)
        override def description(): String = s"GraftChangeFeed path=$path"
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new GraftChangesMicroBatchStream(dataSchema, path, startingVersion)
      }
    }
}

case class GraftChangePartition(objPath: String, insert: Boolean,
    version: Int) extends InputPartition

class GraftChangesMicroBatchStream(dataSchema: StructType, path: String,
    startingVersion: Option[Int]) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  // AvailableNow pins the drain target at trigger time: versions
  // committed after the pin wait for the next run
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftVersions.currentVersion(path))

  override def initialOffset(): Offset =
    GraftVersionOffset(
      startingVersion.getOrElse(GraftVersions.currentVersion(path)))
  override def latestOffset(): Offset =
    GraftVersionOffset(availableNowCap
      .getOrElse(GraftVersions.currentVersion(path)))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = latestOffset()
  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[GraftVersionOffset].v
    val b = end.asInstanceOf[GraftVersionOffset].v
    if (b <= a) return Array.empty
    require(a >= GraftVersions.vacuumFloor(path),
      s"graft-changes: versions <= ${GraftVersions.vacuumFloor(path)} " +
        s"vacuumed; cannot stream changes from $a")
    val log = GraftVersions.readLog(path)
    // an object's content AS OF version v: live unless a LATER commit
    // removed or rewrote the name (then the archive holds the v-image)
    def contentAsOf(name: String, v: Int): String =
      log.find(c => c.v > v &&
        (c.del.contains(name) || c.rw.contains(name))) match {
        case Some(c) =>
          new File(new File(path, "_archive"), s"$name@v${c.v}").getPath
        case None => new File(path, name).getPath
      }
    def preImage(name: String, v: Int): String =
      new File(new File(path, "_archive"), s"$name@v$v").getPath
    log.filter(c => c.v > a && c.v <= b).flatMap { c =>
      c.add.map(n =>
        GraftChangePartition(contentAsOf(n, c.v), insert = true, c.v)) ++
      c.del.map(n =>
        GraftChangePartition(preImage(n, c.v), insert = false, c.v)) ++
      c.rw.flatMap(n => Seq(
        GraftChangePartition(preImage(n, c.v), insert = false, c.v),
        GraftChangePartition(contentAsOf(n, c.v), insert = true, c.v)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangeReaderFactory(dataSchema)
}

class GraftChangeReaderFactory(dataSchema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[GraftChangePartition]
    val inner = new GraftObjectReader(cp.objPath, dataSchema, dataSchema,
      Array.empty)
    val n = dataSchema.length
    val ct = UTF8String.fromString(if (cp.insert) "insert" else "delete")
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get()
        val out = new GenericInternalRow(n + 2)
        var i = 0
        while (i < n) { out.update(i, r.get(i, dataSchema(i).dataType)); i += 1 }
        out.update(n, ct)
        out.update(n + 1, cp.version)
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}
