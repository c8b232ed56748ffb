package graft.queries

import java.nio.file.{Files, Paths}
import graft.{RunPipeline, SparkSpec}
import graft.report.Datacards
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end three-stage chain golden test — the reference's test
  * philosophy (`tests/test_continuous.py:80-98`: run stage 1 → 2 → 3 on
  * one fixture and pin ONE golden number per stage) applied to
  * `RunPipeline.run` itself, not a hand replay of it. Per-stage specs
  * already cover each operator; what this adds is the CHAIN: the stages
  * the pipeline derives from Parquet it read back (s05 from stage1, s04
  * from stage2_histograms) equal the registry's raw-table queries, and
  * the stage-2 histogram → stage-3 yield → rendered datacard all carry
  * one pinned golden value on sf0.001. Golden tolerance mirrors the
  * reference's `almost_equal` (abs 1e-4 on float32-valued yields; exact
  * on counts). */
class RunPipelineSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private def approx(a: Double, b: Double, tol: Double = 1e-4): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  test("stage chain: s01 -> disk -> s03 -> s04 -> datacards, one golden per stage") {
    val out = Files.createTempDirectory("graft_chain").toString
    RunPipeline.run(spark, dir, out)

    // ---- stage 1: ETL, golden row count + first event through disk -----
    val stage1 = spark.read.parquet(s"$out/stage1")
    assert(stage1.count() == 69L, "stage-1 golden row count")
    val first = stage1.orderBy(col("event")).limit(1).collect()(0)
    assert(first.getAs[Long]("event") == 2L)
    assert(approx(first.getAs[Float]("dimuon_mass"), 110.77693, 1e-5),
      s"stage-1 golden mass: ${first.getAs[Float]("dimuon_mass")}")
    assert(first.getAs[String]("region") == "h-sidebands")

    // ---- stage 2a: unbinned fit inputs, derived from the read-back
    // stage 1, equal the registry's s05 over the raw tables
    def triples(df: DataFrame) = df.orderBy(col("event"))
      .select(col("event"), col("dimuon_mass"), col("mu1_pt"))
      .collect().map(r => (r.getLong(0), r.getFloat(1), r.getFloat(2))).toSeq
    val unbinned = triples(spark.read.parquet(s"$out/stage2_unbinned"))
    assert(unbinned == triples(StageQueries.queries("s05_unbinned_save")(spark, dir)),
      "disk-chained unbinned inputs diverge from s05")
    assert(unbinned.length == 23, "stage-2 golden unbinned row count")

    // ---- stage 2b: histogram table, golden nominal h-peak mass yield ----
    val nomHPeak = spark.read.parquet(s"$out/stage2_histograms")
      .filter(col("variation") === "nominal" && col("region") === "h-peak")
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(approx(nomHPeak, 196.58312), s"stage-2 golden yield: $nomHPeak")

    // ---- stage 3: yields + datacards, from the read-back histograms,
    // equal the registry's s04 over the raw tables
    val yields = StageQueries.queries("s04_stage3_templates")(spark, dir)
    val vbfHPeak = yields.filter(col("region") === "h-peak" &&
        col("channel") === "vbf").collect()(0)
    assert(approx(vbfHPeak.getAs[Float]("yield_nominal").toDouble, 134.62532),
      s"stage-3 golden yield: ${vbfHPeak.getAs[Float]("yield_nominal")}")
    val expected = Datacards.renderAll(yields)
    val cards = expected.keys.map { r =>
      r -> Files.readString(Paths.get(s"$out/stage3_datacards/$r.txt"))
    }.toMap
    assert(Paths.get(s"$out/stage3_datacards").toFile.list().length == 3)
    assert(cards == expected, "pipeline datacards diverge from s04's")
    assert(cards.keySet == Set("z-peak", "h-sidebands", "h-peak"))
    assert(cards("h-peak").contains("134.6253"),
      s"golden yield missing from rendered datacard:\n${cards("h-peak")}")
    assert(cards("h-peak").contains("jes lnN"), "nuisance line missing")
  }
}
