package graft.tools

import graft.stages.ConnectedComponents
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connected components in isolation on a synthetic edge list: the timer
  * behind BENCH.md's distributed large-star/small-star numbers, which no
  * end-to-end workload reaches (their dup graphs stay under the driver
  * fast-path bound).
  *
  * Usage: `sbt -batch "runMain graft.tools.CcBench <n> [len] [chain|star] [auto|distributed]"`.
  * `chain` (default) builds n chains of `len` edges (default 4); `star`
  * builds ONE hub with n*len spokes, the worst-case skew for the window
  * star rounds. `distributed` sets the fast-path bound to 0 so the star
  * loop runs at any size. Cores and shuffle partitions are the host's
  * available cores; pin with `taskset -c`.
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000L
    val len = if (args.length > 1) args(1).toLong else 4L
    val star = args.length > 2 && args(2) == "star"
    val forced = args.length > 3 && args(3) == "distributed"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a distributed plan (spark.range), not a driver Seq: a LocalRelation's
    // row Vector is re-mapped by every Catalyst pass, which would time the
    // analyzer instead of CC
    val ids = spark.range(n * len)
    val edges =
      if (star) ids.select(lit(0L).as("src"), (col("id") + 1).as("dst"))
      else {
        val node = (col("id") / len).cast("long") * (len * 3) + col("id") % len
        ids.select(node.as("src"), (node + 1).as("dst"))
      }

    val t0 = System.nanoTime()
    val cc = ConnectedComponents.run(spark, edges,
      fastPathMaxEdges = if (forced) 0L else ConnectedComponents.DriverFastPathMaxEdges)
    val k = cc.select("cluster_id").distinct().count()
    println(f"[ccbench] n=$n len=$len shape=${if (star) "star" else "chain"} " +
      f"plan=${if (forced) "distributed" else "auto"} cores=$cores components=$k " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
