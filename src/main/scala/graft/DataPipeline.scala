package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation CLI — the LLM-pipeline analog of
  * RunPipeline's physics stages, composing the engine's operators the
  * way a real corpus build would:
  *
  *   1. quality gate     (t02-style heuristics: length + repetition)
  *   2. exact dedup      (d01: content-hash groupBy, keep min doc_id)
  *   3. near-dup prune   (d03: minhash band candidates -> verified
  *                        Jaccard -> drop the higher id of each pair)
  *   4. decontamination  (d10: broadcast eval 8-gram probe, drop hits)
  *   5. classifier gate  (t13: hashed-feature linear scorer, drop ≤ 0)
  *   6. lang rebalance   (t14: stratified hash sample + weights)
  *   7. fold assignment  (t16's rule, degenerate post-dedup form)
  *   8. sequence packing (t11: concat-and-slice window assignment)
  *
  * Each stage consumes the previous stage's survivors, so the whole
  * run is one lineage over one corpus scan per stage family; survivor
  * counts print per stage. usage: graft.DataPipeline <sfDir> <outDir>
  */
object DataPipeline {
  private val P = 2147483647L

  def curate(spark: SparkSession, sfDir: String): (DataFrame, Seq[(String, Long)]) = {
    graft.plans.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val stats = Seq.newBuilder[(String, Long)]
    stats += ("input" -> docs0.count())

    // 1. quality: token-length band + 3-gram repetition ceiling
    val quality = docs0
      .withColumn("n_tok", expr("size(split(text, ' '))"))
      .withColumn("rep_ratio", expr(
        """CASE WHEN size(split(text, ' ')) >= 3 THEN
          | 1.0 - CAST(size(array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
          |   i -> array_join(slice(split(text, ' '), i, 3), ' ')))) AS DOUBLE)
          |   / (size(split(text, ' ')) - 2)
          |ELSE 0.0 END""".stripMargin))
      .filter(col("n_tok") >= 8 && col("rep_ratio") <= 0.8)
    stats += ("quality" -> quality.count())

    // 2. exact dedup: canonical keeper per content hash
    val keepers = quality.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = quality.join(keepers, "doc_id").localCheckpoint()
    stats += ("exact_dedup" -> exact.count())

    // 3. near-dup prune: d03's minhash bands (9 perms, 3x3) over char
    // 5-gram shingles; verified Jaccard >= 0.5 drops the higher id
    val sigs = exact
      .select(col("doc_id"), expr("shingle_set(text, 5)").as("sh"),
        expr("minhash_sig(shingle_set(text, 5), 9)").as("sig"))
      .localCheckpoint()
    val bands = sigs.select(col("doc_id"),
      posexplode(array((0 until 3).map(j =>
        concat_ws("_", (0 until 3).map(r => element_at(col("sig"), j * 3 + r + 1)): _*)): _*))
        .as(Seq("band_idx", "band_val")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
    val dropNear = cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", expr("sorted_intersect_count(a_sh, b_sh)").cast("double"))
      .filter(col("inter") /
        ((size(col("a_sh")) + size(col("b_sh"))).cast("double") - col("inter")) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    val deduped = exact.join(dropNear, Seq("doc_id"), "left_anti").localCheckpoint()
    stats += ("near_dedup" -> deduped.count())

    // 4. decontamination: drop survivors sharing a word-8-gram with the
    // held-out split (every 97th input doc)
    def grams(d: DataFrame) = d.select(col("doc_id"), explode(expr(
      """CASE WHEN size(split(text, ' ')) >= 8
        | THEN transform(sequence(1, size(split(text, ' ')) - 7),
        |   i -> md5(array_join(slice(split(text, ' '), i, 8), ' ')))
        | ELSE CAST(array() AS array<string>) END""".stripMargin)).as("g"))
    val evalGrams = grams(docs0.filter(col("doc_id") % 97 === 0))
      .select(col("g")).distinct()
    val contaminated = grams(deduped.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(evalGrams), "g").select(col("doc_id")).distinct()
    val clean = deduped.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    stats += ("decontaminated" -> clean.count())

    // 5. model-based quality gate: hashed-feature linear classifier
    // (t13's shape) — drop docs the scorer marks negative. One codegen
    // projection; weights are 64 deterministic literals.
    val wArr = (0 until 64).map { i =>
      (((i.toLong * 2654435761L) % P) % 2001L - 1000L) / 1000.0
    }.map(v => f"$v%.3fD").mkString("array(", ", ", ")")
    val tokHash = s"aggregate(sequence(1, length(tk)), CAST(0 AS BIGINT), " +
      s"(h, i) -> (h * 31 + ascii(substr(tk, i, 1))) % $P)"
    val bucket = s"CAST((($tokHash * 2654435761) % $P) % 64 AS INT)"
    val classed = clean.withColumn("cls_score", expr(
        s"""aggregate(filter(split(text, ' '), tk -> length(tk) > 0),
           | CAST(0 AS DOUBLE),
           | (acc, tk) -> acc + element_at($wArr, $bucket + 1))""".stripMargin) /
        greatest(col("n_tok"), lit(1)) + lit(0.1))
      .filter(col("cls_score") > 0.0)
    stats += ("classifier" -> classed.count())

    // 6. language rebalance: deterministic stratified downsampling with
    // inverse-propensity weights (t14's rule) — reproducible on any
    // cluster size, no sampling state
    val rate = "CASE lang WHEN 'en' THEN 400 WHEN 'de' THEN 900 " +
      "WHEN 'es' THEN 900 WHEN 'fr' THEN 950 WHEN 'zh' THEN 700 ELSE 1000 END"
    val balanced = classed
      .withColumn("rate_millis", expr(rate))
      .filter(expr(s"(((doc_id % $P) * 2654435761) % $P) % 1000") < col("rate_millis"))
      .withColumn("sample_weight", (lit(1000.0) / col("rate_millis")).cast("float"))
    stats += ("stratified" -> balanced.count())

    // 7. fold assignment: post-dedup every surviving doc is its own
    // near-dup cluster, so a doc-id hash is leakage-safe (t16's rule
    // degenerates to this once dedup has removed the clusters)
    val folded = balanced.withColumn("fold",
      expr(s"(((doc_id % $P) * 2654435761) % $P) % 10"))

    // 8. packing: context-window assignment per source stream
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val packed = folded
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_first", expr("(cum - n_tok) div 512"))
      .withColumn("seq_last", expr("(cum - 1) div 512"))
      .select(col("doc_id"), col("source"), col("text"), col("n_tok"),
        col("sample_weight"), col("fold"), col("seq_first"), col("seq_last"))
    (packed, stats.result())
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.DataPipeline <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.attach(spark)
    spark.sparkContext.setLogLevel("WARN")
    val (packed, stats) = curate(spark, sfDir)
    packed.write.mode("overwrite").partitionBy("source").parquet(s"$outDir/corpus")
    stats.foreach { case (k, v) => println(s"[data-pipeline] $k: $v") }
    println(s"[data-pipeline] corpus -> $outDir/corpus")
    spark.stop()
  }
}
