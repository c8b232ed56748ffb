package graft.plans

import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SortedLowerCount (the codegen'd bin-index kernel that replaced the
  * `size(filter(typedLit(lows), b => b <= x))` HOF spelling in the
  * JEC/Rochester/JES lookups, r15) must match the HOF spelling EXACTLY —
  * codegen and interpreted paths, interior points, bin edges (ties),
  * below-range, above-range, NaN and NULL inputs. */
class SortedLowerCountSpec extends SparkSpec {

  private val lows = Seq(-5.191, -2.5, -1.3, 0.0, 0.087, 1.93, 4.889)

  private def viaExpr(x: org.apache.spark.sql.Column) =
    GraftBridge.column(SortedLowerCount(GraftBridge.expression(x), lows))

  private def viaHof(x: org.apache.spark.sql.Column) =
    size(filter(typedLit(lows), b => b <= x))

  test("matches the HOF spelling on edges, interior, out-of-range, NaN, NULL") {
    import spark.implicits._
    val probes: Seq[java.lang.Double] =
      (lows.flatMap(b => Seq(b - 1e-9, b, b + 1e-9)) ++
        Seq(-100.0, 100.0, Double.NaN)).map(java.lang.Double.valueOf) :+
        null.asInstanceOf[java.lang.Double]
    val df = probes.toDF("x")
      .select(col("x"), viaExpr(col("x")).as("native"), viaHof(col("x")).as("hof"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"x=${r.get(0)}: native=${r.getInt(1)} hof=${r.getInt(2)}")
    }
    assert(rows.length == probes.length)
  }

  test("interpreted eval matches codegen (direct Expression eval)") {
    val rnd = new scala.util.Random(20260818L)
    (1 to 200).foreach { _ =>
      val x = rnd.nextDouble() * 12.0 - 6.0
      val e = SortedLowerCount(
        org.apache.spark.sql.catalyst.expressions.Literal(x), lows)
      val expected = lows.count(_ <= x)
      assert(e.eval(null) == expected, s"x=$x")
    }
    // null child -> 0, the HOF's size(empty-filter) behavior
    assert(SortedLowerCount(org.apache.spark.sql.catalyst.expressions.Literal(
      null, org.apache.spark.sql.types.DoubleType), lows).eval(null) == 0)
  }

  test("rejects an unsorted lows table at construction") {
    intercept[IllegalArgumentException] {
      SortedLowerCount(
        org.apache.spark.sql.catalyst.expressions.Literal(1.0),
        Seq(0.0, 2.0, 1.0))
    }
  }

  test("SQL surface: sorted_lower_count(x, array) matches the HOF") {
    graft.plans.GraftFunctions.register(spark)
    val arr = lows.mkString("array(", ", ", ")")
    val df = spark.range(1).selectExpr(
      s"sorted_lower_count(0.5D, $arr) AS a",
      s"sorted_lower_count(CAST(NULL AS DOUBLE), $arr) AS b",
      s"sorted_lower_count(CAST('NaN' AS DOUBLE), $arr) AS c")
    val r = df.collect()(0)
    assert(r.getInt(0) == lows.count(_ <= 0.5))
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == lows.length)
  }

  test("SQL surface: a NULL lows literal fails analysis with a clear error") {
    graft.plans.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.range(1).selectExpr(
        "sorted_lower_count(0.5D, CAST(NULL AS ARRAY<DOUBLE>)) AS a")
    }
    val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(iae.exists(_.getMessage.contains("non-NULL array literal")),
      s"expected an IllegalArgumentException, got $e")
  }
}
