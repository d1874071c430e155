package graft.tools

import graft.fixtures.Corpus
import graft.model.EngineConfig
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round instrument (guide §1.4/§1.5) — NOT the driver bench.
  * `graft.Bench` is frozen for measurement; this separate main times the
  * corpus pipeline and labels every job for the UI/event log. Per-stage
  * walls of the pipeline come from `python3 perfbench/run.py --workload <w>
  * --seed <n> --seconds <s> --trace 1`.
  *
  * Modes:
  *   runMain graft.tools.BenchExtra e2e       [docs] [reps] — cold end-to-end
  *     runLite reps (Bench's corpus discipline: clear caches per rep, min).
  *   runMain graft.tools.BenchExtra substring [docs] [reps] — walls inside
  *     the substring stage (winnow cache, fingerprint PairGen, full stage),
  *     each forced with the noop sink so the wall is the computation.
  *
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_LOCAL_DIR (as Bench).
  */
object BenchExtra {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "e2e"
    val docs = if (args.length > 1) args(1).toLong else 800000L
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = graft.Bench.localDir.fold(builder0)(d => builder0.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val cfg = EngineConfig.default
    graft.expr.GraftFunctions.register(spark)
    sc.setJobDescription("benchextra: corpus generate")
    val corpus = Corpus.generate(spark, docs, includeHtml = false)
      .select("id", "url", "warc_ts", "text", "lang").persist()
    corpus.count()

    def clearAll(): Unit = {
      graft.Pipeline.clearIntermediateCaches(spark)
      spark.sharedState.cacheManager.clearCache()
      corpus.persist(); corpus.count()
    }

    mode match {
      case "e2e" =>
        var walls = List.empty[Double]
        for (r <- 1 to reps) {
          sc.setJobDescription(s"benchextra: e2e rep $r")
          val (_, w) = timed(graft.Pipeline.runLite(spark, corpus).count())
          walls ::= w
          println(f"[benchextra] e2e rep $r: $w%.1f s (${docs / w}%.0f docs/s)")
          if (r < reps) clearAll()
        }
        println(f"""{"mode":"e2e","docs":$docs,"min_sec":${walls.min}%.1f,"docs_per_sec":${docs / walls.min}%.1f,"reps":${walls.reverse.map(w => f"$w%.1f").mkString("[", ",", "]")}}""")

      case "substring" =>
        // attribution inside the substring stage: winnow-cache build vs the
        // fingerprint PairGen shuffle vs the shared-count + ratio joins
        import graft.expr.GraftFunctions
        for (r <- 1 to reps) {
          println(s"[benchextra] --- substring rep $r ---")
          val projected = corpus.select("id", "text")
          val (surv0, _) = ExactDedup.splitByHash(projected, persistHoldouts = true)
          val survivors = IntermediateCaches.persistTracked(surv0)
          sc.setJobDescription(s"benchextra r$r: winnow_cache")
          val withFps = IntermediateCaches.persistTracked(survivors.select(
            col("id"), GraftFunctions.winnowFps(col("text"),
              cfg.winnowK, cfg.winnowWindow).as("__fps")))
          val (_, wWin) = timed(noop(withFps))
          println(f"[benchextra] winnow_cache: $wWin%.1f s")
          val fps = withFps.select(col("id"), explode(col("__fps")).as("key"))
            .withColumn("sort", col("id"))
          sc.setJobDescription(s"benchextra r$r: fp_pairgen")
          val (_, wPg) = timed(noop(
            PairGen.pairs(fps, cfg.allPairsCap, dropHotAbove = Some(cfg.substringDfCap))))
          println(f"[benchextra] fp_pairgen: $wPg%.1f s")
          sc.setJobDescription(s"benchextra r$r: substring_edges_full")
          val (_, wAll) = timed(noop(Substring.edges(survivors, cfg)))
          println(f"[benchextra] substring_edges_full (warm winnow cache): $wAll%.1f s")
          if (r < reps) clearAll()
        }

      case other =>
        System.err.println(s"unknown mode '$other' (e2e|substring)")
    }
    spark.stop()
  }
}
