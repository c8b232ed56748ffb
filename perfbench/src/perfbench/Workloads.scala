package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{DataPipeline, RunPipeline}
import graft.queries._
import graft.report.{Datacards, PlotSvg, TemplateExport}
import graft.sources.RootHistFile

/** What one iteration did: operation latencies (ms) of the operations
  * that succeeded, how many were attempted and which failed. `check`
  * compares its outputs with the expected ones, outside the timed
  * window, and returns every check that did not hold. Failed operations
  * are not timed. */
final case class IterResult(latenciesMs: Seq[Double], attempted: Int,
    failures: Seq[String], check: () => Seq[String]) {
  def timedMs: Double = latenciesMs.sum
}

/** Everything a workload needs from the run: the session, the input
  * directory, a fresh output directory per iteration, the tracer and
  * the committed expected values. */
final class Ctx(val spark: SparkSession, val dataDir: String,
    val tracer: Tracer, val expected: Map[String, String]) {
  /** Input files of the DataFrames a traced iteration built. */
  val inputFiles = scala.collection.mutable.Set[String]()
  def sawInputs(df: DataFrame): DataFrame = {
    if (tracer.enabled) inputFiles ++= df.inputFiles
    df
  }

  def check(key: String, observed: String): Option[String] =
    expected.get(key) match {
      case Some(v) if v == observed => None
      case Some(v) => Some(s"$key: expected $v, observed $observed")
      case None => Some(s"$key: no expected value (observed $observed)")
    }
}

sealed trait Workload {
  def name: String
  /** Initialise the program objects the workload calls. */
  def load(): Unit
  /** Tables the first scan reads. */
  def tables: Seq[String]
  def iteration(ctx: Ctx, out: File, rng: Random): IterResult
}

object Workloads {
  val all: Seq[Workload] =
    Seq(PhysicsPipeline, CurationPipeline, QueryMix, IterativeMix)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (want one of ${all.map(_.name).mkString(", ")})"))

  /** Runs and times one operation. Anything it throws is its failure,
    * class-initialisation errors included. */
  private def attempt[T](body: => T): (Either[Throwable, T], Double) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Order-independent digest of a table: columns by name, floats in
    * six significant digits, rows sorted. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "null"
          case d: Double => f"$d%.6g"
          case f: Float => f"${f.toDouble}%.6g"
          case v => v.toString
        }
      }.mkString("\u0001")
    }.sorted
    sha(rows.mkString("\n"))
  }

  private def filesIn(dir: File, suffix: String): Int =
    Option(dir.listFiles()).map(_.count(_.getName.endsWith(suffix))).getOrElse(0)

  /** The physics chain: RunPipeline.run, or its stages one by one with a
    * span each when tracing (the run cannot be split from outside). */
  object PhysicsPipeline extends Workload {
    val name = "physics_pipeline"
    val tables = Seq("lineitem", "orders")
    def load(): Unit = { StageQueries.queries; () }

    def iteration(ctx: Ctx, out: File, rng: Random): IterResult = {
      val spark = ctx.spark
      val dir = ctx.dataDir
      val o = out.getPath
      val (outcome, ms) = attempt {
        if (!ctx.tracer.enabled) RunPipeline.run(spark, dir, o)
        else tracedRun(ctx, o)
      }
      outcome match {
        case Left(e) =>
          IterResult(Nil, 1, Seq(s"$name: ${e.getMessage}"), () => Nil)
        case Right(_) => IterResult(Seq(ms), 1, Nil, () => {
          val templates = RootHistFile.read(s"$o/stage3_templates.root")
            .count(_.cls == "TH1D")
          val hist = digest(spark.read.parquet(s"$o/stage2_histograms"))
          Seq(
            ctx.check("physics.datacards",
              filesIn(new File(o, "stage3_datacards"), ".txt").toString),
            ctx.check("physics.th1d_templates", templates.toString),
            ctx.check("physics.svg_panels",
              filesIn(new File(o, "stage3_plots"), ".svg").toString),
            ctx.check("physics.histogram_digest", hist)).flatten
        })
      }
    }

    /** RunPipeline.run's calls, in its order, one span per stage. */
    private def tracedRun(ctx: Ctx, o: String): Unit = {
      val (spark, dir, t) = (ctx.spark, ctx.dataDir, ctx.tracer)
      def build(q: String): DataFrame =
        t.span("queries.build")(ctx.sawInputs(StageQueries.queries(q)(spark, dir)))
      t.span("pipeline.stage1") {
        build("s01_stage1_pipeline").write.mode("overwrite")
          .partitionBy("region").parquet(s"$o/stage1")
      }
      val hist = t.span("pipeline.stage2_hist") {
        val h = build("s03_stage2_histograms")
        h.write.mode("overwrite").parquet(s"$o/stage2_histograms")
        h
      }
      t.span("pipeline.stage2_unbinned") {
        build("s05_unbinned_save").write.mode("overwrite")
          .parquet(s"$o/stage2_unbinned")
      }
      t.span("pipeline.stage2_variations") {
        build("s06_variation_fanout").write.mode("overwrite")
          .parquet(s"$o/stage2_variations")
      }
      t.span("pipeline.stage3_cards") {
        val yields = build("s04_stage3_templates")
        val cards = t.span("report.datacards")(Datacards.renderAll(yields))
        Files.createDirectories(Paths.get(s"$o/stage3_datacards"))
        cards.foreach { case (region, text) =>
          Files.writeString(Paths.get(s"$o/stage3_datacards/$region.txt"), text)
        }
      }
      t.span("pipeline.stage3_templates") {
        t.span("report.templates")(
          TemplateExport.writeTemplates(hist, s"$o/stage3_templates.root"))
      }
      t.span("pipeline.stage3_plots") {
        val ratio = build("s12_rebin_ratio")
        val panels = t.span("report.plots")(PlotSvg.renderAll(ratio))
        Files.createDirectories(Paths.get(s"$o/stage3_plots"))
        panels.foreach { case (region, svg) =>
          Files.writeString(Paths.get(s"$o/stage3_plots/$region.svg"), svg)
        }
      }
    }
  }

  /** The LLM-data curation chain and the partitioned write of its
    * packed corpus. */
  object CurationPipeline extends Workload {
    val name = "curation_pipeline"
    val tables = Seq("documents")
    def load(): Unit = { DataPipeline; () }

    def iteration(ctx: Ctx, out: File, rng: Random): IterResult = {
      val t = ctx.tracer
      val corpus = s"${out.getPath}/corpus"
      val (outcome, ms) = attempt {
        val (packed, stats) = t.span("curation.curate")(
          DataPipeline.curate(ctx.spark, ctx.dataDir))
        ctx.sawInputs(packed)
        t.span("curation.write")(
          packed.write.mode("overwrite").partitionBy("source").parquet(corpus))
        stats
      }
      outcome match {
        case Left(e) =>
          IterResult(Nil, 1, Seq(s"$name: ${e.getMessage}"), () => Nil)
        case Right(stats) => IterResult(Seq(ms), 1, Nil, () => Seq(
          ctx.check("curation.survivors", stats.map(_._2).mkString("/")),
          ctx.check("curation.corpus_rows",
            ctx.spark.read.parquet(corpus).count().toString)).flatten)
      }
    }
  }

  /** A closed-loop mix of registered queries: each is built and counted
    * in a seed-permuted order, and its count checked. A query whose
    * family fails to load or whose build or count throws is a failed
    * operation and is not timed. */
  sealed abstract class Mix(val name: String, val families: () => Seq[QueryFamily],
      val keys: Seq[String]) extends Workload {
    val tables = Seq("lineitem", "orders", "part", "supplier", "customer",
      "events", "documents", "embeddings")
    private var loaded: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    private var loadError = "not registered"

    def load(): Unit = {
      // a family that throws while it initialises fails only its own
      // queries
      val fams = families().map { f =>
        try Right(f.queries) catch { case e: Throwable => Left(e.toString) }
      }
      loaded = fams.collect { case Right(q) => q }.flatten.toMap
        .filter { case (k, _) => keys.contains(k) }
      val errs = fams.collect { case Left(e) => e }
      if (errs.nonEmpty) loadError = s"family failed to load: ${errs.mkString("; ")}"
    }

    def iteration(ctx: Ctx, out: File, rng: Random): IterResult = {
      val t = ctx.tracer
      val lat = Seq.newBuilder[Double]
      val failed = Seq.newBuilder[String]
      val bad = Seq.newBuilder[String]
      rng.shuffle(keys).foreach { k =>
        loaded.get(k) match {
          case None => failed += s"$k: $loadError"
          case Some(fn) =>
            val (outcome, ms) = attempt(t.span(s"query.$k") {
              val df = t.span("queries.build")(ctx.sawInputs(fn(ctx.spark, ctx.dataDir)))
              t.span("queries.exec")(df.count())
            })
            outcome match {
              case Right(n) =>
                lat += ms
                bad ++= ctx.check(s"count.$k", n.toString)
              case Left(e) => failed += s"$k: ${e.getMessage}"
            }
        }
      }
      val mismatches = bad.result()
      IterResult(lat.result(), keys.size, failed.result(), () => mismatches)
    }
  }

  object QueryMix extends Mix("query_mix",
    () => Seq(RelationalQueries, MiscQueries, CatalystQueries, DedupQueries,
      FitQueries, CurationQueries, LookupQueries, PhysicsQueries,
      StageQueries, TextQueries, TemporalQueries, SimilarityQueries,
      SearchQueries, MultimodalQueries),
    Seq("a21_cube_crosstab", "a25_grouping_sets", "c01_native_histogram",
      "c02_native_delta_r", "d18_symspell_join", "d24_substring_exact",
      "f05_pdf_selection", "f17_bwzredux_fixed_scan", "j04_cleaning_antijoin",
      "j17_geo_radius_join", "k05_kmv_set_ops", "k09_hll_merge",
      "l01_binned_1d", "l02_binned_2d", "p17_vbf_kinematics", "p21_gen_split",
      "r08_config_matrix", "r12_full_outer_reconcile", "s02_metadata_prescan",
      "s13_cutflow", "t05_shingles", "t34_weighted_sample", "u11_twap_vwap",
      "u13_seasonal_anomaly", "v03_knn_ivf", "v08_ann_recall",
      "w04_rrf_fusion", "w14_spell_correct", "x03_decode_features",
      "x09_vad_segments"))

  object IterativeMix extends Mix("iterative_mix",
    () => Seq(GraphQueries, MiscQueries, FitQueries),
    Seq("g05_pagerank", "g08_bfs_hops", "g09_label_propagation", "g11_kcore",
      "g13_scc", "g14_modularity", "d22_dbscan_grid", "f22_family_selection",
      "f23_nll_newton_fit", "f25_nll_fit_errors"))
}
