package perfbench

/** What the run saw around one measured iteration, outside its timed
  * window: live state afterwards, files it wrote, on-disk bytes of the
  * tables it read, and its iteration span when it was traced. */
final case class IterInfo(traced: Boolean, res: IterResult, heapMb: Double,
    persisted: Int, storageBytes: Double, filesWritten: Int,
    inputBytes: Double, span: Option[Span])

/** Per-layer metrics of a traced run, each the median over the traced
  * iterations (or the set-up, for the session layer; its warm-up passes
  * for `codegen.cold_*`). A layer the workload does not call reads 0; a
  * median of nothing is NaN. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "session.build_ms" -> "ms", "session.attach_ms" -> "ms",
    "session.family_load_ms" -> "ms", "session.first_scan_ms" -> "ms",
    "session.warmup_ms" -> "ms",
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "catalyst.rule_ms" -> "ms", "catalyst.rule_runs" -> "count",
    "catalyst.rule_effective_ratio" -> "ratio", "catalyst.plan_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "codegen.cold_compiles" -> "count", "codegen.cold_compile_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.core_util" -> "ratio", "exec.driver_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "io.read_bytes" -> "bytes", "io.rescan_ratio" -> "ratio",
    "io.write_bytes" -> "bytes", "io.files_written" -> "count",
    "pipeline.stage1_ms" -> "ms", "pipeline.stage2_hist_ms" -> "ms",
    "pipeline.stage2_unbinned_ms" -> "ms", "pipeline.stage2_variations_ms" -> "ms",
    "pipeline.stage3_cards_ms" -> "ms", "pipeline.stage3_templates_ms" -> "ms",
    "pipeline.stage3_plots_ms" -> "ms",
    "report.self_ms" -> "ms",
    "curation.curate_ms" -> "ms", "curation.write_ms" -> "ms",
    "curation.jobs" -> "count",
    "state.persisted_rdds" -> "count", "state.storage_bytes" -> "bytes",
    "trace.traced_wall_ms" -> "ms", "trace.untraced_wall_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  private val passThrough = Seq("catalyst.rule_ms", "catalyst.rule_runs",
    "catalyst.plan_ms", "codegen.compiles", "codegen.compile_ms", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.spill_bytes", "io.read_bytes", "io.write_bytes")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def metrics(tracer: Tracer, iters: Seq[IterInfo], bus: BusCounters,
      cores: Int): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    def named(sp: Seq[Span], prefix: String) = sp.filter(_.name.startsWith(prefix))
    def msOf(sp: Seq[Span], prefix: String) = named(sp, prefix).map(_.ms).sum
    def jobsOf(sp: Seq[Span], prefix: String) =
      named(sp, prefix).map(_.deltas.getOrElse("exec.jobs", 0.0)).sum

    val perIter: Seq[Map[String, Double]] = iters.filter(_.traced).flatMap { x =>
      x.span.map { it =>
        val d = it.deltas.withDefaultValue(0.0)
        val in = spans.filter(_.iteration == it.iteration)
        passThrough.map(k => k -> d(k)).toMap ++ Map(
          "queries.build_ms" -> msOf(in, "queries.build"),
          "queries.build_jobs" -> jobsOf(in, "queries.build"),
          "catalyst.rule_effective_ratio" ->
            d("catalyst.rule_effective_runs") / math.max(1.0, d("catalyst.rule_runs")),
          "exec.core_util" -> d("exec.task_ms") / (it.ms * cores),
          "exec.driver_ms" -> (it.ms - bus.busyMs(it.startMs, it.endMs)),
          "io.rescan_ratio" -> d("io.read_bytes") / math.max(1.0, x.inputBytes),
          "io.files_written" -> x.filesWritten.toDouble,
          "pipeline.stage1_ms" -> msOf(in, "pipeline.stage1"),
          "pipeline.stage2_hist_ms" -> msOf(in, "pipeline.stage2_hist"),
          "pipeline.stage2_unbinned_ms" -> msOf(in, "pipeline.stage2_unbinned"),
          "pipeline.stage2_variations_ms" -> msOf(in, "pipeline.stage2_variations"),
          "pipeline.stage3_cards_ms" -> msOf(in, "pipeline.stage3_cards"),
          "pipeline.stage3_templates_ms" -> msOf(in, "pipeline.stage3_templates"),
          "pipeline.stage3_plots_ms" -> msOf(in, "pipeline.stage3_plots"),
          "report.self_ms" -> named(in, "report.")
            .map(s => s.ms - bus.busyMs(s.startMs, s.endMs)).sum,
          "curation.curate_ms" -> msOf(in, "curation.curate"),
          "curation.write_ms" -> msOf(in, "curation.write"),
          "curation.jobs" -> jobsOf(in, "curation."),
          "state.persisted_rdds" -> x.persisted.toDouble,
          "state.storage_bytes" -> x.storageBytes)
      }
    }
    // the set-up and its warm-up passes are iteration 0
    val setup = spans.filter(_.iteration == 0)
    def setupMs(name: String): Double = setup.filter(_.name == name).map(_.ms).sum
    def coldSum(k: String) = setup.filter(_.name == "session.warmup")
      .map(_.deltas.getOrElse(k, 0.0)).sum
    val traced = median(iters.filter(_.traced).map(_.res.timedMs))
    val untraced = median(iters.filterNot(_.traced).map(_.res.timedMs))
    val values = Map(
      "session.build_ms" -> setupMs("session.build"),
      "session.attach_ms" -> setupMs("session.attach"),
      "session.family_load_ms" -> setupMs("session.family_load"),
      "session.first_scan_ms" -> setupMs("session.first_scan"),
      "session.warmup_ms" -> setupMs("session.warmup"),
      "codegen.cold_compiles" -> coldSum("codegen.compiles"),
      "codegen.cold_compile_ms" -> coldSum("codegen.compile_ms"),
      "trace.traced_wall_ms" -> traced,
      "trace.untraced_wall_ms" -> untraced,
      "trace.overhead_ms" -> (traced - untraced)) ++
      units.map(_._1).filter(k => perIter.exists(_.contains(k)))
        .map(k => k -> median(perIter.map(_.getOrElse(k, 0.0))))
    units.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }
}
