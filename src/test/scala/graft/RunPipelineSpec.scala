package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import graft.queries.StageQueries

/** `RunPipeline.run` on sf0.001 produces consistent artifacts end to
  * end: stage-1 rows survive the region partitioning, stage-2 histogram
  * totals equal the stage-3 yields filled from them, stage-3 datacards
  * exist per region, and a failing branch fails the run only after
  * every branch has stopped. The per-stage goldens of the same call are
  * pinned in [[graft.queries.RunPipelineSpec]]. */
class RunPipelineSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** Run `body`, counting the Spark jobs it launches. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftBridge.drainListenerBus(spark.sparkContext, 10000L)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stage1 -> stage2 -> stage3 artifacts are consistent") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val t0 = System.nanoTime()
    val (branches, jobs) = countingJobs(RunPipeline.run(spark, dir, out))
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(branches.map(_._1) == Seq("A", "B", "C", "D"))
    info(s"$jobs jobs; branch times ${branches.map(_._2).sum} ms summed " +
      s"in $wallMs ms wall (${branches.map { case (b, ms) => s"$b $ms" }.mkString(", ")})")

    // stage-1 round-trips through the partitioned layout
    val stage1 = StageQueries.queries("s01_stage1_pipeline")(spark, dir)
    val back = spark.read.parquet(s"$out/stage1")
    assert(back.count() == stage1.count() && back.count() > 0)
    assert(back.columns.toSet == stage1.columns.toSet)

    // stage-2 nominal yield equals the sum over the histogram table
    val yields = StageQueries.queries("s04_stage3_templates")(spark, dir)
    val nomSum = spark.read.parquet(s"$out/stage2_histograms")
      .filter(col("variation") === "nominal")
      .agg(sum(col("value"))).head.getDouble(0)
    val yieldSum = yields.agg(sum(col("yield_nominal"))).head.getDouble(0)
    assert(math.abs(nomSum - yieldSum) / yieldSum < 1e-5,
      s"stage2 hist total $nomSum != stage3 yields $yieldSum")

    // stage-3: one datacard per region present in the yields
    val regions = yields.select("region").distinct().collect().map(_.getString(0))
    assert(Paths.get(s"$out/stage3_datacards").toFile.list().length == regions.length)
    regions.foreach { r =>
      assert(Files.exists(Paths.get(s"$out/stage3_datacards/$r.txt")))
    }

    // stage-2 variation table carries the full reference width
    val nVar = spark.read.parquet(s"$out/stage2_variations")
      .select("variation").distinct().count()
    assert(nVar == 35, s"expected 35 variants (nominal + 22 JES + 12 JER), got $nVar")

    assert(Files.size(Paths.get(s"$out/stage3_templates.root")) > 0)
    assert(Paths.get(s"$out/stage3_plots").toFile.list().exists(_.endsWith(".svg")))
  }

  test("RunPipeline.run: a failing branch fails the run after every branch stops") {
    // lineitem only: branches A-C run to completion, D (s12) needs orders
    val in = Files.createTempDirectory("graft_pipeline_in")
    Files.copy(Paths.get(s"$dir/lineitem.parquet"), in.resolve("lineitem.parquet"))
    val out = Files.createTempDirectory("graft_pipeline").toString
    val e = intercept[Exception](RunPipeline.run(spark, in.toString, out))
    assert(e.getMessage.contains(s"$in/orders.parquet"), e.getMessage)
    GraftBridge.drainListenerBus(spark.sparkContext, 10000L)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a branch still had jobs running after run threw")
    Seq("stage2_unbinned", "stage2_histograms", "stage2_variations").foreach { t =>
      assert(Files.exists(Paths.get(s"$out/$t/_SUCCESS")), s"$t not written")
    }
  }
}
