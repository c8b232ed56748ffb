package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** The same recipe every main uses (GraftSession), so specs run on
    * the conf set and native functions the program runs on. */
  lazy val session: SparkSession = {
    // local[threads, maxTaskFailures]: allow one retry so specs can
    // exercise task-retry semantics (AuditSinkSpec injects a failure)
    val s = GraftSession.builder("local[4,2]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // getOrCreate ignores the extensions if another spec built the
    // session first
    GraftSession.attach(s)
    s
  }
}
