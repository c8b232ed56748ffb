package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so span
  * edges line up with the scheduler's job timestamps. */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** Benchmark-owned listener: scheduler, shuffle and IO counters summed
  * over every task, planning time of every finished action, and the
  * intervals during which at least one job was running. */
final class BusCounters extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val busy = mutable.ArrayBuffer[(Double, Double)]()
  private var running = 0
  private var busySince = 0.0

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    if (running == 0) busySince = e.time.toDouble
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busy += ((busySince, e.time.toDouble))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("exec.stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("io.read_bytes", m.inputMetrics.bytesRead.toDouble)
      add("io.write_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("catalyst.plan_ms",
        qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized(sums.toMap)

  /** Milliseconds of [from, to] during which some job was running. */
  def busyMs(from: Double, to: Double): Double = synchronized {
    val closed = busy.iterator ++
      (if (running > 0) Iterator((busySince, to)) else Iterator.empty)
    closed.map { case (s, e) => math.max(0.0, math.min(e, to) - math.max(s, from)) }.sum
  }
}

/** Reads every counter the per-layer metrics are made of. Process-wide
  * counters (codegen, Catalyst rules) are read directly; the listener's
  * are read after the listener bus has drained. */
final class Counters(spark: SparkSession) {
  val bus = new BusCounters
  spark.sparkContext.addSparkListener(bus)
  spark.listenerManager.register(bus)

  def drain(): Unit = org.apache.spark.sql.classic.GraftBridge
    .drainListenerBus(spark.sparkContext, 10000L)

  def read(): Map[String, Double] = {
    drain()
    val rules = RuleExecutor.getCurrentMetrics()
    bus.snapshot() ++ Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "catalyst.rule_ms" -> rules.time / 1e6,
      "catalyst.rule_runs" -> rules.numRuns.toDouble,
      "catalyst.rule_effective_runs" -> rules.numEffectiveRuns.toDouble)
  }
}

/** One traced interval: what ran, when (epoch ms), under which parent
  * span and in which iteration, with the counter deltas across it. */
final case class Span(id: Int, parent: Int, name: String, iteration: Int,
    startMs: Double, endMs: Double, deltas: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Records spans around calls into the program when tracing is on, and
  * is a plain call otherwise. Spans stay in memory until [[spans]] is
  * written out at the end of the run. */
final class Tracer(var enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var counters: Option[Counters] = None
  var iteration = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counters.map(_.read()).getOrElse(Map.empty)
      val t0 = Clock.nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = Clock.nowMs
        val c1 = counters.map(_.read()).getOrElse(Map.empty)
        val deltas = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
        done += Span(id, parent, name, iteration, t0, t1, deltas)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Span time not covered by the span's children. */
  def selfMs(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0.0
    var reach = s.startMs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    s.ms - covered
  }
}
