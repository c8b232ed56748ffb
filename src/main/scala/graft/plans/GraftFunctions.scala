package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Runtime registration of graft's native functions into an existing
  * session — the path for sessions not built with GraftExtensions
  * (e.g. the driver's). Idempotent. */
object GraftFunctions {

  private def evalDouble(e: Expression): Double = e.eval(null) match {
    case v: Number => v.doubleValue()
    case v: org.apache.spark.sql.types.Decimal => v.toDouble
    case other => throw new IllegalArgumentException(
      s"expected numeric literal, got $other")
  }

  val deltaRBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 4, "delta_r(eta1, phi1, eta2, phi2)")
    DeltaRExpr(children(0), children(1), children(2), children(3))
  }

  val weightedHistogramBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 5,
      "weighted_histogram(value, weight, lo, hi, nbins)")
    WeightedHistogramAgg(children(0), children(1), evalDouble(children(2)),
      evalDouble(children(3)), evalDouble(children(4)).toInt)
      .toAggregateExpression()
  }

  val sortedIntersectBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "sorted_intersect_count(a, b)")
    SortedIntersectCount(children(0), children(1))
  }

  val arrayDotBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "array_dot(a, b)")
    ArrayDotProduct(children(0), children(1))
  }

  val minHashSigBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "minhash_sig(shingles, n_perm)")
    MinHashSignature(children(0), evalDouble(children(1)).toInt)
  }

  val shingleSetBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "shingle_set(text, k)")
    ShingleHashSet(children(0), evalDouble(children(1)).toInt)
  }

  // weights/bias arrive as foldable array(...) literals; element-wise eval
  // (rather than evaluating the CreateArray whole) sidesteps type-coercion
  // of mixed-precision decimal literals, which only runs later in analysis
  private def evalDoubleArray(e: Expression): Seq[Double] = e match {
    case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
      ca.children.map(evalDouble)
    case other if other.foldable => other.eval(null) match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        ad.toObjectArray(org.apache.spark.sql.types.DoubleType).toSeq.map {
          case d: java.lang.Double => d.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"mlp_dense weights/bias must be foldable array literals, got $other")
  }

  val mlpDenseBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 4, "mlp_dense(input, weights, bias, tanh)")
    MlpDenseChunked(children(0), evalDoubleArray(children(1)),
      evalDoubleArray(children(2)),
      children(3).eval(null).asInstanceOf[Boolean])
  }

  val kmvMinimaBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "kmv_minima(hash, k)")
    KmvMinima(children(0), evalDouble(children(1)).toInt).toAggregateExpression()
  }

  val topkMaxBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 3, "topk_max(sort, payload, k)")
    TopKPairs(children(0), children(1), evalDouble(children(2)).toInt)
      .toAggregateExpression()
  }

  val cdcBoundsBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 3, "cdc_bounds(text, window, mask)")
    CdcBounds(children(0), evalDouble(children(1)).toInt,
      evalDouble(children(2)).toInt)
  }

  val hllRegistersBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "hll_registers(hash, p)")
    HllRegisters(children(0), evalDouble(children(1)).toInt)
      .toAggregateExpression()
  }

  val qsketchBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "qsketch_buckets(value)")
    LogQuantileSketch(children(0)).toAggregateExpression()
  }

  val hllEstimateBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "hll_estimate(regs)")
    HllEstimate(children(0))
  }

  val phashHashBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "phash_hash(blob)")
    PhashHash(children(0))
  }

  val pcmDecodeBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "pcm_decode(blob)")
    PcmDecode(children(0))
  }

  val byteValuesBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "byte_values(blob)")
    ByteValues(children(0))
  }

  val sortedLowerCountBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "sorted_lower_count(x, sorted_lows_array)")
    require(children(1).foldable,
      "sorted_lower_count: lows must be a literal (foldable) array")
    val et = children(1).dataType match {
      case org.apache.spark.sql.types.ArrayType(e, _) => e
      case other => throw new IllegalArgumentException(
        s"sorted_lower_count: second arg must be an array, got $other")
    }
    val lowsData = children(1).eval()
    if (lowsData == null) throw new IllegalArgumentException(
      "sorted_lower_count: lows must be a non-NULL array literal")
    val lows = lowsData
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(et)
      .map {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"sorted_lower_count: non-numeric lows element $other")
      }.toSeq
    SortedLowerCount(children(0), lows)
  }

  val jaroWinklerBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, "jaro_winkler(a, b)")
    JaroWinklerExpr(children(0), children(1))
  }

  val withinRadiusBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 5, "within_radius(ax, ay, bx, by, r)")
    WithinRadius(children(0), children(1), children(2), children(3), children(4))
  }

  val hyperplaneBandsBuilder: Seq[Expression] => Expression = { children =>
    require(children.size == 5,
      "hyperplane_bands(embedding, n_tables, band_bits, dims, seed_base)")
    HyperplaneBands(children(0), evalDouble(children(1)).toInt,
      evalDouble(children(2)).toInt, evalDouble(children(3)).toInt,
      evalDouble(children(4)).toInt)
  }

  def register(s: SparkSession): Unit = synchronized {
    val reg = s.sessionState.functionRegistry
    reg.registerFunction(
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      jaroWinklerBuilder)
    reg.registerFunction(
      new FunctionIdentifier("within_radius"),
      new ExpressionInfo(classOf[WithinRadius].getName, "within_radius"),
      withinRadiusBuilder)
    reg.registerFunction(
      new FunctionIdentifier("hyperplane_bands"),
      new ExpressionInfo(classOf[HyperplaneBands].getName, "hyperplane_bands"),
      hyperplaneBandsBuilder)
    reg.registerFunction(
      new FunctionIdentifier("delta_r"),
      new ExpressionInfo(classOf[DeltaRExpr].getName, "delta_r"),
      deltaRBuilder)
    reg.registerFunction(
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      sortedIntersectBuilder)
    reg.registerFunction(
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      arrayDotBuilder)
    reg.registerFunction(
      new FunctionIdentifier("weighted_histogram"),
      new ExpressionInfo(classOf[WeightedHistogramAgg].getName, "weighted_histogram"),
      weightedHistogramBuilder)
    reg.registerFunction(
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      minHashSigBuilder)
    reg.registerFunction(
      new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleHashSet].getName, "shingle_set"),
      shingleSetBuilder)
    reg.registerFunction(
      new FunctionIdentifier("mlp_dense"),
      new ExpressionInfo(classOf[MlpDenseChunked].getName, "mlp_dense"),
      mlpDenseBuilder)
    reg.registerFunction(
      new FunctionIdentifier("kmv_minima"),
      new ExpressionInfo(classOf[KmvMinima].getName, "kmv_minima"),
      kmvMinimaBuilder)
    reg.registerFunction(
      new FunctionIdentifier("topk_max"),
      new ExpressionInfo(classOf[TopKPairs].getName, "topk_max"),
      topkMaxBuilder)
    reg.registerFunction(
      new FunctionIdentifier("cdc_bounds"),
      new ExpressionInfo(classOf[CdcBounds].getName, "cdc_bounds"),
      cdcBoundsBuilder)
    reg.registerFunction(
      new FunctionIdentifier("hll_registers"),
      new ExpressionInfo(classOf[HllRegisters].getName, "hll_registers"),
      hllRegistersBuilder)
    reg.registerFunction(
      new FunctionIdentifier("qsketch_buckets"),
      new ExpressionInfo(classOf[LogQuantileSketch].getName, "qsketch_buckets"),
      qsketchBuilder)
    reg.registerFunction(
      new FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[HllEstimate].getName, "hll_estimate"),
      hllEstimateBuilder)
    reg.registerFunction(
      new FunctionIdentifier("phash_hash"),
      new ExpressionInfo(classOf[PhashHash].getName, "phash_hash"),
      phashHashBuilder)
    reg.registerFunction(
      new FunctionIdentifier("pcm_decode"),
      new ExpressionInfo(classOf[PcmDecode].getName, "pcm_decode"),
      pcmDecodeBuilder)
    reg.registerFunction(
      new FunctionIdentifier("byte_values"),
      new ExpressionInfo(classOf[ByteValues].getName, "byte_values"),
      byteValuesBuilder)
    reg.registerFunction(
      new FunctionIdentifier("sorted_lower_count"),
      new ExpressionInfo(classOf[SortedLowerCount].getName, "sorted_lower_count"),
      sortedLowerCountBuilder)
  }
}
