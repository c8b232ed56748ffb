package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, Decimal, DoubleType}

/** graft's native SQL functions, as one table. [[GraftExtensions]]
  * injects every entry at session build; [[register]] adds the entries
  * an already-built session lacks (the path `GraftSession.attach` takes
  * for sessions not built with the extensions, e.g. a caller's own). */
object GraftFunctions {

  /** One native function: its SQL name, the expression class its
    * ExpressionInfo documents, and the builder the analyzer calls. */
  final case class Native(name: String, exprClass: Class[_],
                          builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)
  }

  private def evalDouble(e: Expression): Double = e.eval(null) match {
    case v: Number => v.doubleValue()
    case v: Decimal => v.toDouble
    case other => throw new IllegalArgumentException(
      s"expected numeric literal, got $other")
  }

  private def evalInt(e: Expression): Int = evalDouble(e).toInt

  // weights/bias arrive as foldable array(...) literals; element-wise eval
  // (rather than evaluating the CreateArray whole) sidesteps type-coercion
  // of mixed-precision decimal literals, which only runs later in analysis
  private def evalDoubleArray(e: Expression): Seq[Double] = e match {
    case ca: CreateArray => ca.children.map(evalDouble)
    case other if other.foldable => other.eval(null) match {
      case ad: ArrayData =>
        ad.toObjectArray(DoubleType).toSeq.map {
          case d: java.lang.Double => d.doubleValue()
          case d: Decimal => d.toDouble
          case n: Number => n.doubleValue()
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"mlp_dense weights/bias must be foldable array literals, got $other")
  }

  private def sortedLows(e: Expression): Seq[Double] = {
    require(e.foldable,
      "sorted_lower_count: lows must be a literal (foldable) array")
    val et = e.dataType match {
      case ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"sorted_lower_count: second arg must be an array, got $other")
    }
    val lowsData = e.eval()
    if (lowsData == null) throw new IllegalArgumentException(
      "sorted_lower_count: lows must be a non-NULL array literal")
    lowsData.asInstanceOf[ArrayData].toObjectArray(et).map {
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"sorted_lower_count: non-numeric lows element $other")
    }.toSeq
  }

  /** `Native` whose builder checks the argument count against `usage`. */
  private def native(name: String, exprClass: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Native =
    Native(name, exprClass, { c => require(c.size == arity, usage); build(c) })

  val natives: Seq[Native] = Seq(
    native("delta_r", classOf[DeltaRExpr], 4, "delta_r(eta1, phi1, eta2, phi2)") {
      c => DeltaRExpr(c(0), c(1), c(2), c(3)) },
    native("weighted_histogram", classOf[WeightedHistogramAgg], 5,
        "weighted_histogram(value, weight, lo, hi, nbins)") { c =>
      WeightedHistogramAgg(c(0), c(1), evalDouble(c(2)), evalDouble(c(3)),
        evalInt(c(4))).toAggregateExpression() },
    native("sorted_intersect_count", classOf[SortedIntersectCount], 2,
        "sorted_intersect_count(a, b)") { c => SortedIntersectCount(c(0), c(1)) },
    native("array_dot", classOf[ArrayDotProduct], 2, "array_dot(a, b)") {
      c => ArrayDotProduct(c(0), c(1)) },
    native("minhash_sig", classOf[MinHashSignature], 2, "minhash_sig(shingles, n_perm)") {
      c => MinHashSignature(c(0), evalInt(c(1))) },
    native("shingle_set", classOf[ShingleHashSet], 2, "shingle_set(text, k)") {
      c => ShingleHashSet(c(0), evalInt(c(1))) },
    native("mlp_dense", classOf[MlpDenseChunked], 4, "mlp_dense(input, weights, bias, tanh)") {
      c => MlpDenseChunked(c(0), evalDoubleArray(c(1)), evalDoubleArray(c(2)),
        c(3).eval(null).asInstanceOf[Boolean]) },
    native("kmv_minima", classOf[KmvMinima], 2, "kmv_minima(hash, k)") {
      c => KmvMinima(c(0), evalInt(c(1))).toAggregateExpression() },
    native("topk_max", classOf[TopKPairs], 3, "topk_max(sort, payload, k)") {
      c => TopKPairs(c(0), c(1), evalInt(c(2))).toAggregateExpression() },
    native("cdc_bounds", classOf[CdcBounds], 3, "cdc_bounds(text, window, mask)") {
      c => CdcBounds(c(0), evalInt(c(1)), evalInt(c(2))) },
    native("hll_registers", classOf[HllRegisters], 2, "hll_registers(hash, p)") {
      c => HllRegisters(c(0), evalInt(c(1))).toAggregateExpression() },
    native("qsketch_buckets", classOf[LogQuantileSketch], 1, "qsketch_buckets(value)") {
      c => LogQuantileSketch(c(0)).toAggregateExpression() },
    native("hll_estimate", classOf[HllEstimate], 1, "hll_estimate(regs)") {
      c => HllEstimate(c(0)) },
    native("phash_hash", classOf[PhashHash], 1, "phash_hash(blob)") {
      c => PhashHash(c(0)) },
    native("pcm_decode", classOf[PcmDecode], 1, "pcm_decode(blob)") {
      c => PcmDecode(c(0)) },
    native("byte_values", classOf[ByteValues], 1, "byte_values(blob)") {
      c => ByteValues(c(0)) },
    native("sorted_lower_count", classOf[SortedLowerCount], 2,
        "sorted_lower_count(x, sorted_lows_array)") {
      c => SortedLowerCount(c(0), sortedLows(c(1))) },
    native("jaro_winkler", classOf[JaroWinklerExpr], 2, "jaro_winkler(a, b)") {
      c => JaroWinklerExpr(c(0), c(1)) },
    native("within_radius", classOf[WithinRadius], 5, "within_radius(ax, ay, bx, by, r)") {
      c => WithinRadius(c(0), c(1), c(2), c(3), c(4)) },
    native("hyperplane_bands", classOf[HyperplaneBands], 5,
        "hyperplane_bands(embedding, n_tables, band_bits, dims, seed_base)") { c =>
      HyperplaneBands(c(0), evalInt(c(1)), evalInt(c(2)), evalInt(c(3)), evalInt(c(4))) }
  )

  /** Register the natives the session's registry lacks; a name already
    * present (from the extensions or an earlier call) is left as is. */
  def register(s: SparkSession): Unit = synchronized {
    val reg = s.sessionState.functionRegistry
    natives.foreach { n =>
      if (!reg.functionExists(n.id)) reg.registerFunction(n.id, n.info, n.builder)
    }
  }
}
