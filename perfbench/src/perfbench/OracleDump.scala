package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession
import graft.queries.StageQueries

/** Writes the results of the queries the workloads check, with their
  * DuckDB oracle SQL, in the layout `tools/check_correctness.py` reads,
  * and prints each result's row count and digest. Used once, by
  * `perfbench/oracle_check.py`, to cross-check `perfbench/expected.tsv`.
  *
  * usage: perfbench.OracleDump <dataDir> <outDir> <query,query,...>
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, keyList) = args
    val keys = keyList.split(',').toSeq
    val families = (Workloads.QueryMix.families() ++
      Workloads.IterativeMix.families() :+ StageQueries).distinct
    val queries = families.map(_.queries).reduce(_ ++ _)
    val oracle = families.map(_.oracle).reduce(_ ++ _)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    keys.foreach { k =>
      val df = queries(k)(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$k")
      val written = spark.read.parquet(s"$outDir/$k")
      println(s"$k\t${written.count()}\t${Workloads.digest(written)}")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(keys.map(k => k -> oracle(k)).toMap))
    spark.stop()
  }
}
