package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** One benchmark run: set up once, run `WarmupPasses` warm-up passes, then
  * closed-loop iterations of one workload (one caller, one iteration at
  * a time) until `--seconds` of iteration time are measured, and print
  * one JSON line. With `--trace 0` it prints the end-to-end metrics;
  * with `--trace 1` the per-layer metrics, taken from spans and counters
  * around the calls into the program on every other iteration (the
  * iterations in between run untraced, which gives the tracing
  * overhead). It measures at least `MinIterations` iterations.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --expected FILE [--nproc N]
  */
object Main {
  /** Passes run before measuring, so the measured iterations start
    * near their steady state. They are part of set-up. */
  private val WarmupPasses = 2

  /** Fewest measured iterations: a traced run compares traced iterations
    * with the untraced ones in between. */
  private val MinIterations = 2

  import Layers.median

  /** Nearest-rank percentile; NaN when every query failed. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (dir.isFile && !dir.getName.startsWith(".") && !dir.getName.startsWith("_")) Seq(dir)
    else Nil

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(2) // runs Spark's shutdown hook, so no thread outlives the run
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dataDir = new File(need("data")).getAbsolutePath
    val work = new File(need("work")).getAbsoluteFile
    val expected = Files.readAllLines(Paths.get(need("expected"))).asScala
      .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
    val outRoot = new File(work, "out")
    rmTree(outRoot)

    val n = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace)
    val rng = new Random(seed)
    var outN = 0
    def freshOut(): File = { outN += 1; new File(outRoot, s"iteration$outN") }
    val mismatches = Seq.newBuilder[String]

    // ---- set-up, once, in this fresh JVM: session, families, first scan,
    // then the warm-up passes (class loading, JIT, codegen). setup_s is
    // all of it, the time until the first measured iteration can start;
    // the warm-up passes' output checks run outside it.
    tracer.iteration = 0
    val t0 = System.nanoTime()
    val spark = tracer.span("session.build") {
      GraftSession.builder(s"local[$n]", n)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
        .getOrCreate()
    }
    val counters = new Counters(spark)
    tracer.counters = Some(counters)
    tracer.span("session.attach")(GraftSession.attach(spark))
    tracer.span("session.family_load")(wl.load())
    tracer.span("session.first_scan") {
      wl.tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    }
    var setupMs = (System.nanoTime() - t0) / 1e6
    val warmups = (1 to WarmupPasses).map { _ =>
      val t1 = System.nanoTime()
      val warm = tracer.span("session.warmup") {
        wl.iteration(new Ctx(spark, dataDir, tracer, expected), freshOut(), rng)
      }
      val ms = (System.nanoTime() - t1) / 1e6
      setupMs += ms
      mismatches ++= warm.check()
      rmTree(outRoot)
      (warm, ms)
    }

    // ---- measured iterations; with --trace 1 every other one is traced
    val iters = Seq.newBuilder[IterInfo]
    var measuredMs = 0.0
    var i = 0
    while (i < MinIterations || measuredMs < seconds * 1000) {
      i += 1
      tracer.enabled = trace && i % 2 == 0
      tracer.iteration = i
      val ctx = new Ctx(spark, dataDir, tracer, expected)
      val out = freshOut()
      val res = tracer.span("iteration")(wl.iteration(ctx, out, rng))
      measuredMs += res.timedMs
      // outside the timed window: output checks, state left behind, then
      // live heap
      mismatches ++= res.check()
      counters.drain()
      val sc = spark.sparkContext
      val storage = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free).toDouble }.sum
      val inputBytes = ctx.inputFiles.toSeq
        .map(p => new File(new java.net.URI(p)).length.toDouble).sum
      val files = dataFiles(out).size
      rmTree(out)
      // collect, give Spark's ContextCleaner time to drop the blocks of
      // what became unreachable, then collect what that freed
      System.gc()
      Thread.sleep(300)
      System.gc()
      val rt = Runtime.getRuntime
      iters += IterInfo(tracer.enabled, res, (rt.totalMemory - rt.freeMemory) / 1048576.0,
        sc.getPersistentRDDs.size, storage, files, inputBytes,
        tracer.spans.find(s => s.iteration == i && s.name == "iteration"))
    }
    val all = iters.result()
    // a failed operation is not timed, so a run with one is not correct:
    // its timings would leave out work the program did not do
    val ops = warmups.map(_._1) ++ all.map(_.res)
    val attempted = ops.map(_.attempted).sum
    val failures = ops.flatMap(_.failures)
    val correct = mismatches.result().isEmpty && failures.isEmpty
    val walls = all.filter(_.res.failures.isEmpty).map(_.res.timedMs)
    val latencies = all.flatMap(_.res.latenciesMs)

    // a pipeline runs no separately timed queries: only the mixes have
    // per-query latency
    val queryPct = wl match {
      case _: Workloads.Mix => Seq(
        ("query_p50_ms", pct(latencies, 0.5), "ms"),
        ("query_p90_ms", pct(latencies, 0.9), "ms"))
      case _ => Nil
    }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupMs / 1000, "s"),
        ("wall_s", median(walls) / 1000, "s"),
        ("heap_live_mb", median(all.map(_.heapMb)), "MB")) ++ queryPct
      else Layers.metrics(tracer, all, counters.bus, n)

    val traceDir = new File(work, "traces")
    traceDir.mkdirs()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val host = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "nproc" -> opt.getOrElse("nproc", ""), "available_processors" -> n,
      "local_n" -> n, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "setup_ms" -> setupMs,
      "warmup_ms" -> warmups.map(_._2), "iteration_ms" -> all.map(_.res.timedMs),
      "fail_ratio" -> failures.size.toDouble / attempted,
      "failures" -> failures, "mismatches" -> mismatches.result())
    if (trace) mapper.writeValue(new File(traceDir, s"${wl.name}-seed$seed.json"),
      Map("host" -> host, "spans" -> tracer.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "iteration" -> s.iteration, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> tracer.selfMs(s), "counters" -> s.deltas))))
    spark.stop()
    rmTree(outRoot)

    System.err.println("perfbench host " + mapper.writeValueAsString(host))
    failures.foreach(f => System.err.println(s"perfbench failed: $f"))
    mismatches.result().foreach(m => System.err.println(s"perfbench mismatch: $m"))
    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, v, u) =>
        // a metric with nothing to measure (every operation failed) is
        // null, never a number
        k -> Map("value" -> (if (v.isNaN) None else Some(v)), "unit" -> u) }: _*))
    println(mapper.writeValueAsString(result))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
