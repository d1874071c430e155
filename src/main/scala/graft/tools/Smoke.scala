package graft.tools

import graft.{Pipeline, model}
import graft.fixtures.Corpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only smoke runner: tiny corpus end-to-end + recall vs planted truth. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir("/tmp/graft-ckpt")

    val n = if (args.nonEmpty) args(0).toLong else 2000L
    val corpus = Corpus.generate(spark, n, includeHtml = false).persist()
    println(s"corpus: ${corpus.count()} rows; kinds:")
    corpus.groupBy("kind").count().orderBy("kind").show(20, false)

    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, corpus.select("id", "url", "warc_ts", "text", "lang"))
    res.metrics.show(20, false)
    println(f"pipeline wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // dup-pair recall vs planted truth: a truth pair is "found" if both ends
    // land in the same engine cluster.
    val truth = Corpus.truthPairs(corpus)
    val a = res.assignments
    val found = truth
      .join(a.withColumnRenamed("id", "id_l").withColumnRenamed("cluster_id", "c_l"), "id_l")
      .join(a.withColumnRenamed("id", "id_r").withColumnRenamed("cluster_id", "c_r"), "id_r")
      .withColumn("hit", (col("c_l") === col("c_r")).cast("int"))
    val agg = found.agg(sum("hit"), count(lit(1))).head()
    val (hits, total) = (agg.getLong(0), agg.getLong(1))
    println(f"truth pairs: $total, recovered: $hits, recall: ${hits.toDouble / total}%.4f")

    // cluster-level precision: co-clustered pairs that are not truth pairs
    val withTruth = a.join(corpus.select("id", "truth_cluster"), "id")
    val cl = withTruth.select(col("cluster_id"), col("id").as("id_l"), col("truth_cluster").as("t_l"))
    val cr = withTruth.select(col("cluster_id"), col("id").as("id_r"), col("truth_cluster").as("t_r"))
    val coPairs = cl.join(cr, "cluster_id").filter(col("id_l") < col("id_r"))
    val pAgg = coPairs.agg(
      count(lit(1)),
      sum((col("t_l") === col("t_r")).cast("long"))).head()
    val (co, good) = (pAgg.getLong(0), pAgg.getLong(1))
    println(f"co-clustered pairs: $co, truth-consistent: $good, precision: ${good.toDouble / co}%.4f")
    println(s"engine clusters: ${a.agg(countDistinct("cluster_id")).head().getLong(0)}, " +
      s"truth clusters: ${corpus.agg(countDistinct("truth_cluster")).head().getLong(0)}")
    spark.stop()
  }
}
