package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{GraftExtensions, GraftFunctions}

/** The one way a session becomes graft-ready: every main builds on
  * [[builder]], and [[attach]] readies a session built elsewhere.
  *
  *   val spark = GraftSession.local(cores = 32)
  *   // or attach to an existing session:
  *   GraftSession.attach(spark)
  *
  * The conf set, and why each entry is there:
  *  - `spark.sql.shuffle.partitions` = cores, not Spark's 200 default:
  *    partition count should track parallelism (200 would fragment the
  *    small-SF runs), and AQE coalesces up;
  *  - `spark.sql.adaptive.enabled`, `...coalescePartitions.enabled`,
  *    `...skewJoin.enabled`: runtime partition coalescing and skew-join
  *    splitting, as on a real cluster;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: NanoAOD-era files and the
  *    `events` test table carry INT64 TIMESTAMP(NANOS), which Spark 4
  *    refuses to read otherwise;
  *  - `spark.sql.optimizer.nestedSchemaPruning.enabled`: jagged event
  *    tables must prune struct fields into the scan, not read whole
  *    collections;
  *  - `spark.sql.session.timeZone` = UTC: timestamp casts are the same
  *    on every host;
  *  - `spark.sql.codegen.cache.maxEntries` = 8192 (static): the
  *    360-query suite compiles ~5-6k distinct codegen fragments, and
  *    the default 100-entry compiled-class cache evicts every one of
  *    them long before Bench's tail-determinism rerun pass, so each
  *    rerun re-paid the janino compile it was trying to exclude (r15:
  *    ~100 flagged queries saved ~1 s each on rerun, a large part of it
  *    compile). Sized to hold the whole suite; the pipelines' steady
  *    passes then recompile nothing. First passes are unaffected (cold
  *    cache either way);
  *  - `spark.ui.enabled` = false: no web UI or its listeners in a
  *    batch process;
  *  - [[GraftExtensions]]: the native functions, the as-of join
  *    strategy and graft's optimizer rules, on this session and every
  *    `newSession()` of it.
  */
object GraftSession {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    attach(s)
    s
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config(NanosAsLong, "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** The session a main runs on: `local[cpus]` with `cpus` shuffle
    * partitions, `confs` applied at build (static confs included),
    * Spark logging at `logLevel`, attached. */
  def forMain(cpus: Int, logLevel: String,
              confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = builder(s"local[$cpus]", cpus)
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    attach(s)
    s
  }

  /** `SPARK_GRAFT_CPUS`, else the main's own `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** Make any session graft-ready: register the native functions its
    * registry lacks (getOrCreate ignores withExtensions when a session
    * already exists, and a foreign session never had them) and pin
    * nanosAsLong. Idempotent and cheap, so it runs before every
    * registered query. */
  def attach(s: SparkSession): Unit = {
    GraftFunctions.register(s)
    s.conf.set(NanosAsLong, "true")
  }
}
