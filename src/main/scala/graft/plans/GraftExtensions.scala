package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions registering graft's native functions (every
  * entry of [[GraftFunctions.natives]]) so they are usable from SQL text
  * at session build:
  *
  *   spark.builder.withExtensions(new GraftExtensions)
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  *   SELECT delta_r(eta1, phi1, eta2, phi2) ...
  *   SELECT weighted_histogram(mass, w, 0.0, 160.0, 40) ...
  *
  * For an already-built session use `graft.GraftSession.attach`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.natives.foreach(n => ext.injectFunction((n.id, n.info, n.builder)))
    // whole-operator extension (SURVEY §2.7 path c): as-of join planning
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // custom optimizer rule: column pruning through the as-of node
    ext.injectOptimizerRule(_ => AsOfJoinPruning)
    // custom optimizer rule: bucketed range-join rewrite (gated on
    // spark.graft.rangeJoin.bucketWidth — inactive unless set)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectOptimizerRule(_ => SpatialJoinRewrite)
    // custom optimizer rule: exact COUNT(DISTINCT) -> HLL estimate
    // (gated on spark.graft.approxDistinct — inactive unless true)
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
  }
}
