package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only diagnostic main (not part of the `SparkEntry` contract), one
  * subcommand per question:
  *
  *  - `probe`: splits each registered query's wall time into BUILD (the
  *    fn() call — includes any jobs its loops run, like localCheckpoint
  *    or Newton steps), PLAN (force executedPlan) and EXEC (count()), over
  *    `reps` consecutive runs in one JVM, with the Janino compile count
  *    and the scheduled-job count per run. Run 1 vs run 2+ separates
  *    codegen/JIT compile cost from steady planning and execution.
  *    Trailing `k=v` arguments are session confs applied at build
  *    (static ones included), so a conf hypothesis can be A/B'd without
  *    touching the query.
  *  - `stream`: runs streaming queries and prints every micro-batch's
  *    durationMs breakdown from a StreamingQueryListener.
  *  - `explain`: prints one query's formatted plan; with `run`, executes
  *    it and prints the final adaptive plan and its time.
  *  - `smoke`: the entry smoke check — `SparkEntry.entry` returns
  *    rows on sf0.001, and every registered query has an oracle (or is
  *    consciously rows-only).
  *
  * A one-query Spark-vs-oracle check is `graft.Verify <sf> <out> <q>`
  * followed by `tools/check_correctness.py <out> <sf> <q>`.
  */
object Dev {

  val Usage: String =
    """usage: graft.Dev probe <q1,q2,...> <sfDir> [reps [k=v ...]]
      |       graft.Dev stream <q1,q2,...> <sfDir> [reps]
      |       graft.Dev explain <query> <sfDir> [run]
      |       graft.Dev smoke""".stripMargin

  final case class ProbeArgs(names: Seq[String], sfDir: String, reps: Int,
                             confs: Seq[(String, String)])

  /** `probe`'s arguments, or the reason they are not usable. */
  def parseProbe(args: Seq[String]): Either[String, ProbeArgs] =
    if (args.size < 2) Left("probe: name the queries and the data directory")
    else {
      val reps = args.lift(2).fold(Option(3))(_.toIntOption.filter(_ > 0))
      val confs = args.drop(3).map { kv =>
        val i = kv.indexOf('=')
        if (i > 0) Right(kv.take(i) -> kv.drop(i + 1)) else Left(kv)
      }
      (reps, confs.collectFirst { case Left(bad) => bad }) match {
        case (None, _) =>
          Left(s"probe: reps must be a positive integer, got '${args(2)}'")
        case (_, Some(bad)) => Left(s"probe: conf argument '$bad' is not k=v")
        case (Some(r), None) =>
          Right(ProbeArgs(args.head.split(',').toSeq, args(1), r,
            confs.collect { case Right(kv) => kv }))
      }
    }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "probe" +: rest => parseProbe(rest).fold(usage, probe)
    case "stream" +: names +: sfDir +: rest =>
      stream(names.split(',').toSeq, sfDir, rest.headOption.fold(2)(_.toInt))
    case "explain" +: name +: sfDir +: rest =>
      explain(name, sfDir, rest.headOption.contains("run"))
    case Seq("smoke") => smoke()
    case _ => usage("")
  }

  private def usage(err: String): Unit = {
    if (err.nonEmpty) System.err.println(err)
    System.err.println(Usage)
    sys.exit(2)
  }

  private def probe(p: ProbeArgs): Unit = {
    val spark = GraftSession.forMain(GraftSession.cpus(32), "WARN", p.confs)
    spark.read.parquet(s"${p.sfDir}/lineitem.parquet").count()
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    def cgCount: Long = cg.METRIC_COMPILATION_TIME.getCount
    def cgMeanMs: Double = cg.METRIC_COMPILATION_TIME.getSnapshot.getMean

    p.names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to p.reps).foreach { i =>
        GraftBridge.drainListenerBus(spark.sparkContext, 2000L)
        val j0 = jobs.get; val c0 = cgCount
        val t0 = System.nanoTime()
        val df = fn(spark, p.sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        GraftBridge.drainListenerBus(spark.sparkContext, 2000L)
        val j1 = jobs.get; val c1 = cgCount
        println(f"PROBE $name%-26s run$i total ${(t3 - t0) / 1e9}%6.3f  " +
          f"build ${(t1 - t0) / 1e9}%6.3f  plan ${(t2 - t1) / 1e9}%6.3f  " +
          f"exec ${(t3 - t2) / 1e9}%6.3f  jobs ${j1 - j0}%3d  " +
          f"cgComp ${c1 - c0}%3d (mean ${cgMeanMs}%5.1f ms)")
      }
    }
    spark.stop()
  }

  private def stream(names: Seq[String], sfDir: String, reps: Int): Unit = {
    val spark = GraftSession.forMain(GraftSession.cpus(32), "WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"SPROBE started ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"SPROBE batch ${p.batchId} rows=${p.numInputRows} $d")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"SPROBE terminated at ${System.nanoTime() / 1000000}ms")
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        // listener events are async; give them a beat to flush
        Thread.sleep(500)
        println(f"SPROBE $name run$i total ${(System.nanoTime() - t0) / 1e9}%6.3f")
      }
    }
    spark.stop()
  }

  private def explain(name: String, sfDir: String, doRun: Boolean): Unit = {
    val spark = GraftSession.forMain(GraftSession.cpus(8), "ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (doRun) {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      println(df.queryExecution.executedPlan.toString)
    } else {
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }

  private def smoke(): Unit = {
    val spark = GraftSession.forMain(8, "ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println(s"NQUERIES=${q.size} NORACLES=${o.size} MISSING_ORACLE=${(q -- o).mkString(",")}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
