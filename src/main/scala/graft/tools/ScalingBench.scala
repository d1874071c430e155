package graft.tools

import graft.Pipeline
import graft.fixtures.Corpus
import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence (north_rule): the same end-to-end dedup job
  * at local[max(1, C/4)] vs local[C], C = the host's available cores — the
  * single-box stand-in for N vs 4N executors (no real cluster here).
  * Shuffle partitions equal cores. Runs are interleaved A/B/A/B and the
  * MINIMUM per level is reported: the sandbox shows 7-15% CPU steal, and
  * min-of-repeats is the standard estimator under intermittent external
  * load. On a host with fewer than 4 cores the two levels are not 4x
  * apart; `scaling_efficiency` divides by the real core ratio.
  *
  * Usage: `sbt -batch "runMain graft.tools.ScalingBench <docs> <reps> [cores]"`;
  * with `cores` only that level runs, so the caller can pin the JVM to
  * that many cpus (`taskset -c`).
  */
object ScalingBench {

  private def runOnce(cores: Int, docs: Long): Double = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    val spark = graft.Bench.localDir.fold(builder0)(d => builder0.config("spark.local.dir", d))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = Corpus.generate(spark, docs, includeHtml = false)
      .select("id", "url", "warc_ts", "text", "lang").persist()
    corpus.count()
    val t0 = System.nanoTime()
    Pipeline.runLite(spark, corpus).count()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    sec
  }

  /** Raw compute capacity at `threads` parallel burners (mix64 hash loop,
    * the pipeline's core kernel): iterations completed in `millis`.
    * Purpose: on an SMT host the top level's vCPUs include sibling threads
    * — on a 32-vCPU / ~16-physical-core box, 32 burners delivered only
    * ~3.2x the throughput of 8 — so even an embarrassingly parallel job
    * can show well under 1.0 "efficiency" from local[C/4]→local[C]. The A/B run measures this
    * ceiling alongside the engine and reports efficiency both nominal
    * (vs 4.0) and normalized (vs the measured hardware capacity ratio),
    * the honest stand-in for N→4N executors on real distinct machines. */
  private def burnCapacity(threads: Int, millis: Long = 2000L): Long = {
    val counters = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var c = 0L
        var h = graft.expr.Hashing.mix64(i.toLong + 1)
        while (!stop.get()) {
          var j = 0
          while (j < 1000) { h = graft.expr.Hashing.mix64(h); j += 1 }
          c += 1
        }
        counters.set(i, if (h == 42L) c + 1 else c) // defeat dead-code elim
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(millis)
    stop.set(true)
    ts.foreach(_.join())
    (0 until threads).map(counters.get).sum
  }

  /** Memory-bandwidth capacity at `threads` parallel streamers: bytes
    * swept in `millis` (each thread strides a private 64 MB long array —
    * larger than any cache level, so this measures DRAM bandwidth).
    * Purpose: a shuffle-heavy Spark job is bandwidth-bound in its exchange
    * stages, and this box's cores share ONE memory subsystem — N→4N
    * in-box thread scaling is capped by this ratio for those stages, while
    * 4N real executors bring 4N× memory channels. Reported alongside the
    * ALU ratio so the efficiency can be read against both ceilings. */
  private def streamCapacity(threads: Int, millis: Long = 1500L): Long = {
    // per-thread buffer: 64 MB (beyond any cache level) scaled DOWN if
    // threads×64 MB would not fit in half the heap — the fixed 2 GB live
    // set at threads=32 could OOM a heap sized for the Spark runs AFTER
    // both timings had completed, losing the whole A/B result. The 8 MB
    // floor keeps the AGGREGATE working set (threads×8 MB ≥ 256 MB at the
    // sizes that trigger scaling) several times any shared LLC, which is
    // what an aggregate-bandwidth measurement needs.
    val budget = Runtime.getRuntime.maxMemory / 2
    val perThreadBytes = math.max(8L << 20, math.min(64L << 20, budget / threads))
    val words = perThreadBytes / 8
    val counters = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // start the timed window only after EVERY thread has allocated and
    // initialized its own buffer (no thread sweeps while another still
    // pays page-in cost)
    val ready = new java.util.concurrent.CyclicBarrier(threads + 1)
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        val a = new Array[Long](words.toInt)
        var init = 0
        while (init < a.length) { a(init) = init.toLong; init += 1 }
        ready.await()
        var sweeps = 0L
        var acc = 0L
        while (!stop.get()) {
          var i = 0
          while (i < a.length) { acc += a(i); i += 8 } // one touch per 64B line
          sweeps += 1
        }
        counters.set(t, if (acc == 42L) sweeps + 1 else sweeps)
      })
      th.setDaemon(true); th.start(); th
    }
    ready.await() // release the threads together, then time
    Thread.sleep(millis)
    stop.set(true)
    ts.foreach(_.join())
    (0 until threads).map(counters.get).sum * (words / 8) * 64
  }

  def main(args: Array[String]): Unit = {
    val docs = if (args.nonEmpty) args(0).toLong else 100000L
    val reps = if (args.length > 1) args(1).toInt else 2
    // single-level mode (arg3 = core count): run ONE parallelism level so
    // the caller can pin the JVM to that many PHYSICAL cpus (taskset -c).
    // Without pinning, a local[8] JVM on a 32-core box still spends extra
    // cores on GC / shuffle compression / kernel I/O, inflating the
    // small-cluster baseline and understating true N→4N efficiency.
    if (args.length > 2) {
      val cores = args(2).toInt
      val secs = (1 to reps).map { r =>
        val sec = runOnce(cores, docs)
        println(f"[scaling] rep $r local[$cores]: $sec%.1f s (${docs / sec}%.0f docs/s)")
        sec
      }
      println(f"""{"docs":$docs,"cores":$cores,"sec_min":${secs.min}%.1f,"docs_per_sec":${docs / secs.min}%.1f}""")
      return
    }
    // levels from the host: on an SMT box the top level includes sibling
    // threads, which the hardware-capacity ratios below account for
    val large = Runtime.getRuntime.availableProcessors
    val small = math.max(1, large / 4)
    val times = collection.mutable.Map(small -> List.empty[Double], large -> List.empty[Double])
    for (r <- 1 to reps; c <- Seq(small, large)) {
      val sec = runOnce(c, docs)
      times(c) = sec :: times(c)
      println(f"[scaling] rep $r local[$c]: $sec%.1f s (${docs / sec}%.0f docs/s)")
    }
    val tS = times(small).min
    val tL = times(large).min
    // hardware capacity calibration: interleave to share any steal equally
    val (capS, capL) = {
      val a1 = burnCapacity(small); val b1 = burnCapacity(large)
      val a2 = burnCapacity(small); val b2 = burnCapacity(large)
      (math.max(a1, a2).toDouble, math.max(b1, b2).toDouble)
    }
    val (memS, memL) = {
      val a1 = streamCapacity(small); val b1 = streamCapacity(large)
      val a2 = streamCapacity(small); val b2 = streamCapacity(large)
      (math.max(a1, a2).toDouble, math.max(b1, b2).toDouble)
    }
    val hwRatio = capL / capS
    val memRatio = memL / memS
    val speedup = tS / tL
    val eff = speedup / (large.toDouble / small)
    val effHw = speedup / hwRatio
    val effMem = speedup / memRatio
    println(
      f"""{"docs":$docs,"cores_small":$small,"cores_large":$large,"sec_small":$tS%.1f,"sec_large":$tL%.1f,"docs_per_sec_small":${docs / tS}%.1f,"docs_per_sec_large":${docs / tL}%.1f,"speedup":$speedup%.2f,"scaling_efficiency":$eff%.3f,"hw_capacity_ratio":$hwRatio%.2f,"efficiency_vs_hw":$effHw%.3f,"hw_mem_bw_ratio":$memRatio%.2f,"efficiency_vs_mem_bw":$effMem%.3f}""")
  }
}
