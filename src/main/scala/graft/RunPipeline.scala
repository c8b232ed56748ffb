package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.SparkSession
import graft.queries.StageQueries
import graft.report.{Datacards, PlotSvg, TemplateExport}

/** End-to-end pipeline CLI — the analog of the reference's
  * run_stage1/2/3 entry points (SURVEY.md §3) as one Spark application:
  *
  *   stage 1: event ETL -> per-event wide table, partitioned by region
  *   stage 2: channel/weight/histogram aggregation -> histogram table
  *   stage 3: template yields -> datacard text files + unbinned save
  *
  * usage: graft.RunPipeline <sfDir> <outDir>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.RunPipeline <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.forMain(GraftSession.cpus(8), "WARN")
    run(spark, sfDir, outDir)
    spark.stop()
  }

  /** The whole-analysis chain (ROOT/parquet in → datacards + templates +
    * SVG out) on an existing session — called by [[main]] and timed by
    * [[Bench]] as the `pipeline_sec` headline (round-12 verdict ask #7:
    * the number a user quotes is the end-to-end wall time, not a sum of
    * operator times).
    *
    * The chain is a DAG of four independent branches, like the
    * reference's stage scripts, where stage 2 reads stage 1's Parquet
    * and stage 3 reads stage 2's histograms:
    *
    *   A: s01 -> stage1 -> s05 over the read-back stage1 -> stage2_unbinned
    *   B: s03 -> stage2_histograms -> s04 yields + datacards and the TH1D
    *      templates, both over the read-back histograms
    *   C: s06 -> stage2_variations
    *   D: s12 -> SVG panels
    *
    * Each stage is planned and run once, and the branches run
    * concurrently on the one session: the chain is driver-bound
    * (Catalyst, codegen, job launch), so four branches keep the
    * driver and the cores busy where one serial chain left them idle.
    * Every branch finishes before this returns or throws; the first
    * failing branch's exception is rethrown with the others suppressed.
    *
    * @return each branch's wall time in ms, in branch order */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    def stage(q: String) = StageQueries.queries(q)(spark, sfDir)

    val branches: Seq[(String, () => Unit)] = Seq(
      "A" -> { () =>
        // stage 1: ETL, partitioned by region like the reference's
        // per-dataset stage-1 output dirs; the unbinned fit inputs read
        // it back, so the h-peak filter prunes to one partition
        stage("s01_stage1_pipeline").write.mode("overwrite")
          .partitionBy("region").parquet(s"$outDir/stage1")
        println(s"[pipeline] stage1 -> $outDir/stage1")
        StageQueries.s05From(spark.read.parquet(s"$outDir/stage1"))
          .write.mode("overwrite").parquet(s"$outDir/stage2_unbinned")
        println(s"[pipeline] stage2 -> $outDir/stage2_unbinned")
      },
      "B" -> { () =>
        // stage 2: histogram table (the reference's pickled hists as a
        // plain parquet table); stage 3 reads it back
        stage("s03_stage2_histograms").write.mode("overwrite")
          .parquet(s"$outDir/stage2_histograms")
        println(s"[pipeline] stage2 -> $outDir/stage2_histograms")
        val hist = spark.read.parquet(s"$outDir/stage2_histograms")
        // stage 3: yields + datacards (driver-side text emission)
        val cards = Datacards.renderAll(StageQueries.s04From(hist))
        Files.createDirectories(Paths.get(s"$outDir/stage3_datacards"))
        cards.foreach { case (region, text) =>
          Files.writeString(Paths.get(s"$outDir/stage3_datacards/$region.txt"), text)
        }
        println(s"[pipeline] stage3 -> ${cards.size} datacards in $outDir/stage3_datacards")
        // stage 3b: TH1D template export (the reference's
        // make_templates.py ROOT file) — one TH1D per (region, channel,
        // variation), written by the engine's own ROOT writer and
        // readable back through the root-hist connector
        val specs = TemplateExport.writeTemplates(hist, s"$outDir/stage3_templates.root")
        println(s"[pipeline] stage3 -> ${specs.size} TH1D templates in " +
          s"$outDir/stage3_templates.root")
      },
      "C" -> { () =>
        // reference-width systematic table (22 JES + 12 JER + nominal
        // through one scan) — the per-variation inputs stage 3 consumes
        stage("s06_variation_fanout").write.mode("overwrite")
          .parquet(s"$outDir/stage2_variations")
        println(s"[pipeline] stage2 -> $outDir/stage2_variations")
      },
      "D" -> { () =>
        // stage 3c: stack/ratio panels as SVG (the reference's
        // plotter.py figures, rendered engine-side with no plotting
        // dependency)
        val panels = PlotSvg.renderAll(stage("s12_rebin_ratio"))
        Files.createDirectories(Paths.get(s"$outDir/stage3_plots"))
        panels.foreach { case (region, svg) =>
          Files.writeString(Paths.get(s"$outDir/stage3_plots/$region.svg"), svg)
        }
        println(s"[pipeline] stage3 -> ${panels.size} SVG panels in $outDir/stage3_plots")
      })

    val pool = Executors.newFixedThreadPool(branches.size)
    try {
      val pending = branches.map { case (name, body) =>
        name -> pool.submit(new Callable[Long] {
          def call(): Long = {
            val t0 = System.nanoTime()
            body()
            (System.nanoTime() - t0) / 1000000L
          }
        })
      }
      // wait for every branch before deciding: a failure must not
      // return while the other branches still have jobs running
      val outcomes = pending.map { case (name, f) =>
        name -> (try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
      }
      outcomes.collect { case (_, Left(e)) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ =>
      }
      outcomes.collect { case (name, Right(ms)) => name -> ms }
    } finally pool.shutdown()
  }
}
