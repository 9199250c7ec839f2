package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for cosine similarity over two
  * ArrayType(FloatType) or ArrayType(DoubleType) columns — each side
  * independently (SURVEY §4.2 optional perf item: the codegen
  * replacement for the `zip_with`+`aggregate` fold in VectorOps when
  * the similarity path is hot). The double-array side exists for the
  * IVF centroid tables (Lloyd means are exact-quantized doubles): the
  * r9 optimization round measured the interpreted HOF fold inside
  * assignCells as the single largest CPU sink in the bench.
  *
  * Semantics contract: BIT-IDENTICAL to VectorOps.cosine — each
  * accumulator (dot, |a|², |b|²) is an independent strict left-to-right
  * double fold, and every element is widened to double before any
  * arithmetic exactly as the fold's `cast("double")` does (a float
  * element cast to double is exact; a double element is untouched), so
  * swapping one implementation for the other can never change query
  * results (the spec asserts equality on every fixture pair, both
  * element types). One fused loop instead of three array traversals
  * and six intermediate arrays; no per-element lambda dispatch.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemOk(e.dataType))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloat(left.dataType)
    val yf = isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, fl: Boolean): String =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, isFloat(left.dataType))};
         |  double $y = ${get(b, isFloat(right.dataType))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration: both the SparkSessionExtensions path (for sessions
  * built with `spark.sql.extensions=graft.functions.GraftExtensions`)
  * and an idempotent runtime hook for sessions we did not build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // SURVEY §4.2(b): conf-gated ANN top-k rewrite (see AnnTopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.AnnTopKRewrite)
    // SURVEY §4.2(c): conf-gated bounded-heap top-k-per-group operator
    ext.injectOptimizerRule(_ => graft.plans.TopKPerGroupRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftFunctions {
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
      CosineSimilarity(args.head, args.last)
    })

  /** rhp_bucket(vec, dim, nBits, seed) — the native LSH bucket id
    * (graft.plans.RhpBucket); dim/nBits/seed must be literals. */
  val rhpBucketDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rhp_bucket"),
    new ExpressionInfo("graft.plans.RhpBucket", "rhp_bucket"),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        "rhp_bucket(vec, dim, nBits, seed) takes exactly 4 arguments")
      def num(e: Expression): Long = {
        require(e.foldable, s"rhp_bucket: $e must be a literal")
        e.eval().asInstanceOf[Number].longValue()
      }
      graft.plans.RhpBucket(args.head,
        num(args(1)).toInt, num(args(2)).toInt, num(args(3)))
    })

  /** zorder_long(k1, ..., kN) — bit-interleaved Z-curve value over
    * long keys (graft.functions.ZOrderLong), the multi-dimensional
    * clustering key for the object layout. */
  val zorderDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_long"),
    new ExpressionInfo(classOf[ZOrderLong].getName, "zorder_long"),
    (args: Seq[Expression]) => ZOrderLong(args))

  /** zorder_norm(v, umin, shift) — per-dimension curve normalization
    * (graft.functions.ZNormLong); umin/shift must be literals. */
  val zorderNormDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_norm"),
    new ExpressionInfo(classOf[ZNormLong].getName, "zorder_norm"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        "zorder_norm(v, umin, shift) takes exactly 3 arguments")
      require(args(1).foldable && args(2).foldable,
        "zorder_norm: umin and shift must be literals")
      ZNormLong(args.head,
        args(1).eval().asInstanceOf[Number].longValue(),
        args(2).eval().asInstanceOf[Number].intValue())
    })

  /** zorder_prefix(s) — order-preserving 8-byte string prefix code
    * (graft.functions.StringPrefixLong): lets string dimensions
    * participate in zorder_long's interleave. */
  val zorderPrefixDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_prefix"),
    new ExpressionInfo(classOf[StringPrefixLong].getName, "zorder_prefix"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "zorder_prefix(s) takes exactly 1 argument")
      StringPrefixLong(args.head)
    })

  /** freq_items_sketch(item, cap) — native mergeable Space-Saving
    * heavy-hitters aggregate (graft.functions.FreqItemsSketch); cap
    * must be a literal. */
  val freqItemsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_items_sketch"),
    new ExpressionInfo(classOf[FreqItemsSketch].getName, "freq_items_sketch"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "freq_items_sketch(item, cap) takes exactly 2 arguments")
      require(args(1).foldable, "freq_items_sketch: cap must be a literal")
      FreqItemsSketch(args.head,
        args(1).eval().asInstanceOf[Number].intValue())
    })

  /** quantile_sketch(v, cap, 'p1,p2,…') — native mergeable KLL-style
    * quantile aggregate (graft.functions.QuantileSketch); cap and the
    * micro-probability list must be literals. */
  val quantileSketchDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quantile_sketch"),
    new ExpressionInfo(classOf[QuantileSketch].getName, "quantile_sketch"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        "quantile_sketch(v, cap, 'p1,p2,…') takes exactly 3 arguments")
      require(args(1).foldable && args(2).foldable,
        "quantile_sketch: cap and probabilities must be literals")
      val ps = args(2).eval().toString.split(",").map(_.trim.toLong)
      QuantileSketch(args.head,
        args(1).eval().asInstanceOf[Number].intValue(), ps)
    })

  /** pq_encode_codes(vec, cb, nSub, subDim) — native PQ argmin encoder
    * (graft.functions.PqEncodeCodes); nSub/subDim must be literals. */
  val pqEncodeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_encode_codes"),
    new ExpressionInfo(classOf[PqEncodeCodes].getName, "pq_encode_codes"),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        "pq_encode_codes(vec, cb, nSub, subDim) takes exactly 4 arguments")
      require(args(2).foldable && args(3).foldable,
        "pq_encode_codes: nSub and subDim must be literals")
      PqEncodeCodes(args.head, args(1),
        args(2).eval().asInstanceOf[Number].intValue(),
        args(3).eval().asInstanceOf[Number].intValue())
    })

  /** pq_adc_distance(codes, keys, vals, nSub, pqK) — native ADC
    * distance sum (graft.functions.PqAdcDistance); nSub/pqK must be
    * literals. */
  val pqAdcDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_adc_distance"),
    new ExpressionInfo(classOf[PqAdcDistance].getName, "pq_adc_distance"),
    (args: Seq[Expression]) => {
      require(args.length == 5,
        "pq_adc_distance(codes, keys, vals, nSub, pqK) takes exactly 5 arguments")
      require(args(3).foldable && args(4).foldable,
        "pq_adc_distance: nSub and pqK must be literals")
      PqAdcDistance(args.head, args(1), args(2),
        args(3).eval().asInstanceOf[Number].intValue(),
        args(4).eval().asInstanceOf[Number].intValue())
    })

  /** trigram_profile_hits(text, profs) — native per-language trigram
    * profile hit counts (graft.functions.TrigramProfileHits). */
  val trigramHitsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("trigram_profile_hits"),
    new ExpressionInfo(classOf[TrigramProfileHits].getName, "trigram_profile_hits"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "trigram_profile_hits(text, profs) takes exactly 2 arguments")
      TrigramProfileHits(args.head, args.last)
    })

  /** trigram_counts(text) — native per-document trigram multiset
    * (graft.functions.TrigramCounts). */
  val trigramCountsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("trigram_counts"),
    new ExpressionInfo(classOf[TrigramCounts].getName, "trigram_counts"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        "trigram_counts(text) takes exactly 1 argument")
      TrigramCounts(args.head)
    })

  /** int_l2_sq(a, b) — native exact-integer squared L2 distance
    * (graft.functions.IntL2Sq). */
  val intL2SqDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("int_l2_sq"),
    new ExpressionInfo(classOf[IntL2Sq].getName, "int_l2_sq"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "int_l2_sq(a, b) takes exactly 2 arguments")
      IntL2Sq(args.head, args.last)
    })

  /** cosine_argmax_cell(vec, cents) — native IVF cell assignment
    * (graft.functions.CosineArgmaxCell). */
  val cellArgmaxDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_argmax_cell"),
    new ExpressionInfo(classOf[CosineArgmaxCell].getName, "cosine_argmax_cell"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        "cosine_argmax_cell(vec, cents) takes exactly 2 arguments")
      CosineArgmaxCell(args.head, args.last)
    })

  /** Every native function — the one list both registration paths
    * walk. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(cosineSimDescriptor, rhpBucketDescriptor, zorderDescriptor,
      zorderPrefixDescriptor, zorderNormDescriptor,
      freqItemsDescriptor, quantileSketchDescriptor,
      pqEncodeDescriptor, pqAdcDescriptor, cellArgmaxDescriptor,
      trigramHitsDescriptor, trigramCountsDescriptor,
      intL2SqDescriptor)

  /** Idempotent runtime registration into an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
