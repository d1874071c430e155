package perfbench

import graft.{Pipeline, PerfbenchCounters}
import graft.expr.GraftFunctions
import graft.expr.Hashing.mix64
import graft.fixtures.Corpus
import graft.io.SnapshotStore
import graft.model.EngineConfig
import graft.stages._
import org.apache.spark.PerfbenchDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --work-dir <dir>`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, workDir: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("work-dir")))
  }
}

/** A workload: which entry point one operation calls and on how many docs.
  * Every input is a GroupSize-aligned slice of the F1 synthetic corpus
  * (`Corpus.rowFor`), so planted-truth groups stay whole; the seed picks the
  * slice. */
final case class Workload(name: String, docsPerOp: Int, distinctInputs: Boolean, minOps: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // incremental crawl-segment dedup: run() over a fresh 2,000-doc segment
    // per operation, materializing assignments, lineage and metrics
    // two timed operations: a median of one was too noisy, the JIT compilers
    // being still busy for several operations after the warm-up
    Workload("segments_small", docsPerOp = 2000, distinctInputs = true, minOps = 2),
    // the write path: runResumable into an empty store, then a resume with
    // the edges and assignments commits removed
    // one timed operation, which is already two pipeline runs: a second
    // would take the runs of both workloads past the time they are allowed
    Workload("crawl_resumable", docsPerOp = 6000, distinctInputs = false, minOps = 1))

  /** Docs of the one warm-up operation (JIT, codegen and first-use class
    * loading are paid per plan shape, not per row). */
  val WarmupDocs = 512

  /** Cap on timed operations per run. The workload's `minOps` always run
    * (one in a traced run, which pairs it with a traced operation); more run
    * while the run's `--seconds` last. */
  val MaxOps = 6

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected ${all.map(_.name).mkString(", ")})"))
}

/** One generated input: the cached doc table the program sees, and the
  * planted truth the checks use (never shown to the program). */
final class Input(val docs: Int, rows: => DataFrame) {
  private var cached: DataFrame = _
  def df: DataFrame = cached

  /** (Re)build and cache the program-visible columns. */
  def materialize(): Unit = {
    cached = rows.select("id", "url", "warc_ts", "text", "lang").persist()
    cached.count()
  }

  lazy val (truth: Map[Long, Long], textBytes: Long) = {
    val r = rows.select(col("id"), col("truth_cluster"), octet_length(col("text")).as("b"))
      .collect()
    (r.map(x => x.getLong(0) -> x.getLong(1)).toMap, r.map(_.getInt(2).toLong).sum)
  }
}

final case class Metric(name: String, value: Double, unit: String)

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val bench = new Bench(o, Workload(o.workload))
    val out = try bench.run() finally bench.close()
    println(out)
    if (!out.contains("\"correct\": true")) sys.exit(1)
  }
}

final class Bench(o: Opts, w: Workload) {
  private val cfg = EngineConfig.default
  private val fold = new GroupFold
  private var spark: SparkSession = _
  private var inputs: IndexedSeq[Input] = IndexedSeq.empty
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private val holdoutRows = mutable.HashMap.empty[Int, Long]
  private val failures = mutable.ArrayBuffer.empty[String]
  // operations (and kernel checks) attempted, and those that threw or
  // failed an output check
  private var attempted = 0
  private val failedOps = mutable.LinkedHashSet.empty[String]

  private def fail(what: String, problem: String): Unit = {
    failures += s"$what: $problem"
    failedOps += what
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** GroupSize-aligned offset into the F1 index space picked by the seed. */
  private val offset: Long =
    Math.floorMod(mix64(o.seed ^ 0x5EEDL), 1L << 24) * Corpus.GroupSize

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.default.parallelism", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toString)
      // no GC-driven background cleanup of shuffles and broadcasts: it ran
      // inside whichever timed operation followed the collection; the
      // benchmark drops its caches explicitly and the run is short
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(o.workDir.resolve("checkpoints").toString)
    s.sparkContext.addSparkListener(fold)
    s
  }

  private def rowsFor(start: Long, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    s.range(start, start + n, 1, o.cpus).map(i => Corpus.rowFor(i, includeHtml = false)).toDF()
  }

  /** Input 0 feeds the warm-up, input 1 the first timed operation; with
    * distinct inputs every later operation gets its own, generated and
    * cached outside the timed window just before it runs. */
  private def buildInputs(): IndexedSeq[Input] = {
    val measured = if (w.distinctInputs) 2 * Workload.MaxOps else 1
    def slice(i: Int, docs: Int) =
      new Input(docs, rowsFor(offset + i.toLong * w.docsPerOp, docs))
    val in = slice(measured, Workload.WarmupDocs) +: (0 until measured).map(slice(_, w.docsPerOp))
    in.take(2).foreach(_.materialize())
    in
  }

  /** JVM start to session ready and the first inputs generated and
    * cached. JVM start and first-use class loading happen once per process,
    * so this is one round per run. */
  private def setup(): Double = {
    val sinceJvmStartMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (_, wall) = timed {
      spark = newSession()
      inputs = buildInputs()
    }
    sinceJvmStartMs / 1e3 + wall
  }

  private def inputFor(op: Int): Input =
    if (op == 0 || w.distinctInputs) inputs(op) else inputs(1)

  /** Untimed, before every operation: drop the engine's and Spark's caches
    * (and the benchmark's own), re-cache the operation's input, collect
    * garbage and, before a timed operation, wait for the JIT compiler to go
    * quiet, so every operation starts from the same state and no background
    * compilation left over from earlier work lands in its timed window. */
  private def reset(in: Input, timedNext: Boolean): Unit = {
    dropCaches()
    spark.catalog.clearCache()
    in.materialize()
    System.gc()
    if (timedNext) awaitJitQuiet()
  }

  /** Polls the JIT's cumulative compile time until it grows by under 10 ms
    * in 250 ms, for at most 5 s. */
  private def awaitJitQuiet(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val t0 = System.nanoTime()
      val deadline = t0 + 5000000000L
      var last = jit.getTotalCompilationTime
      var quiet = false
      while (!quiet && System.nanoTime() < deadline) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        quiet = now - last < 10
        last = now
      }
      log(f"JIT quiet after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  private def dropCaches(): Unit = {
    Pipeline.clearIntermediateCaches(spark)
    kept.foreach(_.unpersist(true))
    kept.clear()
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---- untraced operations ------------------------------------------------

  private def assignmentsOf(df: DataFrame): Array[(Long, Long)] =
    df.select("id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Per-operation side outputs the checks and per-layer report read. */
  private final case class OpResult(assign: Array[(Long, Long)], wall: Double,
                                    resumeWall: Double = 0, storeBytes: Long = 0,
                                    problems: Seq[String] = Nil)

  private def storeDir(op: Int): Path = o.workDir.resolve(s"store-$op")

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Remove the commits a crash after the signatures stage would lack. */
  private def dropLateCommits(store: Path): Unit =
    Seq("edges", "assignments", "lineage_edges", "lineage_assignments").foreach { s =>
      Files.deleteIfExists(store.resolve("manifests").resolve(s"$s.json"))
    }

  private def runOp(op: Int, in: Input): OpResult = GroupFold.within(spark.sparkContext, s"op$op") {
    w.name match {
      case "segments_small" =>
        val ((a, lineageRows, metrics), wall) = timed {
          val res = Pipeline.run(spark, in.df, cfg)
          val a = assignmentsOf(res.assignments)
          val lineageRows = res.lineage.collect().length
          val metrics = res.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          (a, lineageRows, metrics)
        }
        OpResult(a, wall, problems = runOutputProblems(in, lineageRows, metrics))
      case "crawl_resumable" =>
        val store = storeDir(op)
        deleteTree(store)
        val (fresh, freshWall) =
          timed(assignmentsOf(Pipeline.runResumable(spark, in.df, store.toString, cfg)))
        val bytes = dirBytes(store)
        dropLateCommits(store)
        Pipeline.clearIntermediateCaches(spark)
        val (resumed, resumeWall) =
          timed(assignmentsOf(Pipeline.runResumable(spark, in.df, store.toString, cfg)))
        deleteTree(store)
        val problems = Option.when(resumed.sorted.toSeq != fresh.sorted.toSeq)(
          "resumed assignments differ from the fresh run's").toSeq
        OpResult(fresh, freshWall + resumeWall, resumeWall, bytes, problems)
    }
  }

  // ---- checks (outside every timed window) --------------------------------

  /** `run()`'s side outputs: one lineage row and one counted input per doc. */
  private def runOutputProblems(in: Input, lineageRows: Int,
                                metrics: Map[String, Long]): Seq[String] = Seq(
    Option.when(!metrics.get("input_docs").contains(in.docs.toLong))(
      s"metrics input_docs=${metrics.get("input_docs")} != ${in.docs}"),
    Option.when(lineageRows != in.docs)(s"lineage rows $lineageRows != ${in.docs}")).flatten

  final case class Quality(recall: Double, precision: Double)

  /** Dup-pair recall and cluster precision against planted truth, the same
    * test as `graft.tools.Smoke`: a truth pair is found when both ends share
    * an engine cluster; a co-clustered pair is precise when both ends share
    * a truth cluster. */
  private def quality(in: Input, assign: Array[(Long, Long)]): Quality = {
    val byTruth = mutable.HashMap.empty[Long, Long]
    val byEngine = mutable.HashMap.empty[Long, Long]
    val byBoth = mutable.HashMap.empty[(Long, Long), Long]
    assign.foreach { case (id, c) =>
      val t = in.truth(id)
      byTruth(t) = byTruth.getOrElse(t, 0L) + 1
      byEngine(c) = byEngine.getOrElse(c, 0L) + 1
      byBoth((t, c)) = byBoth.getOrElse((t, c), 0L) + 1
    }
    def pairs(m: mutable.HashMap[_, Long]) = m.valuesIterator.map(n => n * (n - 1) / 2).sum
    val (truthPairs, coPairs, both) = (pairs(byTruth), pairs(byEngine), pairs(byBoth))
    Quality(
      if (truthPairs == 0) 1.0 else both.toDouble / truthPairs,
      if (coPairs == 0) 1.0 else both.toDouble / coPairs)
  }

  private val MinRecall = 0.99

  /** Output checks of one operation; problems are recorded as failures. */
  private def check(op: Int, in: Input, r: OpResult): Option[Quality] = {
    val ids = r.assign.map(_._1)
    val coverage =
      if (ids.length != in.docs || ids.distinct.length != in.docs ||
          !ids.forall(in.truth.contains))
        Seq(s"assignments cover ${ids.distinct.length} distinct of ${in.docs} docs " +
          s"(${ids.length} rows)")
      else Nil
    val q = if (coverage.isEmpty) Some(quality(in, r.assign)) else None
    val qProblems = q.toSeq.flatMap { q =>
      Seq(Option.when(q.recall < MinRecall)(f"dup-pair recall ${q.recall}%.4f < $MinRecall"),
        Option.when(q.precision < 1.0)(f"cluster precision ${q.precision}%.4f < 1.0")).flatten
    }
    val problems = coverage ++ qProblems ++ r.problems
    problems.foreach(fail(s"op $op", _))
    if (problems.isEmpty) q else None
  }

  // ---- traced operation ---------------------------------------------------

  private val Stages = Seq("exact_dedup", "signatures", "lsh_pairgen", "score_verify",
    "substring", "cc", "reattach", "lineage", "snapshot_commit")

  /** Persist inside the span so no later span re-executes this output. */
  private def forced(df: DataFrame): (DataFrame, Long) = {
    val p = if (df.storageLevel == StorageLevel.NONE) {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += c
      c
    } else df
    (p, p.count())
  }

  /** The entry point's stage graph re-wired from the benchmark's side with
    * a span around each call into a stage. `run` adds the lineage stage and
    * the metrics counters; `runResumable` commits every stage boundary and
    * is followed by a resume, timed like the untraced operation. */
  private def tracedOp(op: Int, in: Input, tr: Tracer): OpResult =
    GroupFold.within(spark.sparkContext, s"op$op") {
      w.name match {
        case "crawl_resumable" =>
          val store = storeDir(op)
          deleteTree(store)
          val ((fresh, _), freshWall) = timed(tracedGraph(op, in.df, tr, Some(store)))
          dropLateCommits(store)
          dropCaches()
          val ((resumed, _), resumeWall) = timed(tracedGraph(op, in.df, tr, Some(store)))
          deleteTree(store)
          val problems = Option.when(resumed.sorted.toSeq != fresh.sorted.toSeq)(
            "resumed assignments differ from the fresh run's").toSeq
          OpResult(fresh, freshWall + resumeWall, problems = problems)
        case "segments_small" =>
          val ((a, outputs), wall) = timed(tracedGraph(op, in.df, tr, None, runOutputs = true))
          val problems = outputs.toSeq.flatMap { case (lineageRows, metrics) =>
            runOutputProblems(in, lineageRows, metrics) }
          OpResult(a, wall, problems = problems)
      }
    }

  /** One pass over the stage graph; returns the assignments and, with
    * `runOutputs`, `run()`'s lineage row count and metrics. */
  private def tracedGraph(op: Int, docs: DataFrame, tr: Tracer, storePath: Option[Path],
                          runOutputs: Boolean = false)
      : (Array[(Long, Long)], Option[(Int, Map[String, Long])]) = {
    val store = storePath.map(p => new SnapshotStore(p.toString))
    val fp = Integer.toHexString(Pipeline.configJson(cfg).hashCode)
    // runResumable's compute-or-load per stage boundary, commit in its span
    def staged(name: String)(compute: => DataFrame): DataFrame = store match {
      case None => compute
      case Some(st) => st.latest(spark, name, fp).getOrElse {
        val out = compute
        tr.span(op, "snapshot_commit") {
          val c = st.commit(name, out, fp)
          if (st.currentId(s"lineage_$name").isEmpty)
            st.commit(s"lineage_$name", c.groupBy(spark_partition_id().as("partition_id"))
              .count().withColumn("stage", lit(name)), fp)
          (c, st.currentRows(name).getOrElse(0L))
        }
      }
    }
    lazy val split = tr.span(op, "exact_dedup") {
      val (s, h) = ExactDedup.splitByHash(docs, persistHoldouts = true)
      val (sp, ns) = forced(s)
      val (hp, nh) = forced(h)
      holdoutRows(op) = nh
      ((sp, hp), ns + nh)
    }
    val survivors = staged("survivors")(split._1)
    val holdouts = staged("holdouts")(split._2)
    val sigs = staged("signatures")(tr.span(op, "signatures")(
      forced(Signatures.withSignatures(survivors, cfg).select("id", "minhash", "simhash"))))
    // the three edge stages run in this order, each forced in its own span
    // (a lazy reference from one span into another would nest them)
    lazy val edgeStages = {
      val candidates = tr.span(op, "lsh_pairgen")(forced(Blocking.candidatePairs(sigs, cfg)))
      val scored = tr.span(op, "score_verify") {
        val raw = Scoring.score(candidates, sigs, cfg)
        val (sc, _) = forced(if (cfg.exactVerify) Scoring.exactVerify(raw, survivors, cfg) else raw)
        val (edges, n) = forced(Scoring.edges(sc))
        ((sc, edges), n)
      }
      val subEdges = tr.span(op, "substring")(forced(Substring.edges(survivors, cfg)))
      (candidates, scored._1, scored._2, subEdges)
    }
    val allEdges = staged("edges") {
      val (_, _, simEdges, subEdges) = edgeStages
      simEdges.unionByName(subEdges.select("src", "dst"))
    }
    val assignments = staged("assignments") {
      val sa = tr.span(op, "cc")(forced(ConnectedComponents.assign(spark, survivors.select("id"),
        allEdges, cfg.maxCcIterations, cfg.reliableCheckpoints, cfg.ccFastPathMaxEdges)))
      tr.span(op, "reattach")(forced(ExactDedup.reattach(sa, holdouts)))
    }
    val a = assignmentsOf(assignments)
    val outputs = Option.when(runOutputs) {
      val (candidates, scored, _, subEdges) = edgeStages
      // run()'s lineage inputs: scored direct edges plus substring-only
      // edges; collected like the untraced operation, nothing reads it later
      val lineageRows = tr.span(op, "lineage") {
        val scoredDirect = scored.filter(col("level") >= 1)
          .select("id_l", "id_r", "jaccard_est", "hamming", "level", "reason")
        val subDirect = subEdges.select(col("src").as("id_l"), col("dst").as("id_r"))
          .join(scoredDirect.select("id_l", "id_r"), Seq("id_l", "id_r"), "left_anti")
          .select(col("id_l"), col("id_r"),
            lit(null).cast("double").as("jaccard_est"), lit(null).cast("int").as("hamming"),
            lit(1).as("level"), lit("substring").as("reason"))
        val n = Lineage.clusterRows(assignments, scoredDirect.unionByName(subDirect),
          holdouts.select("id")).collect().length
        (n, n.toLong)
      }
      // run()'s metrics job, outside every span: it counts in driver.gap_s
      val metrics = PerfbenchCounters(docs, holdouts, candidates, allEdges, assignments) ++
        ScaleStats.snapshot()
      (lineageRows, metrics)
    }
    (a, outputs)
  }

  /** Stage spans of one operation must not overlap: sorted by start, each
    * starts at or after the end of the one before. */
  private def checkSpans(op: Int, tr: Tracer): Unit =
    tr.of(op).sortBy(_.startNs).sliding(2).foreach {
      case Seq(p, n) if n.startNs < p.endNs =>
        fail(s"op $op", s"trace spans overlap: ${n.name} starts before ${p.name} ends")
      case _ =>
    }

  // ---- the run --------------------------------------------------------------

  // where an operation's wall went, for the log: the driver thread's cpu
  // time and the JIT compilers' (summed over their threads)
  private def driverCpuS: Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9
  private def jitS: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  private def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(what, s"threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  def run(): String = {
    Files.createDirectories(o.workDir)
    val setupS = setup()
    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    log(s"workload=${w.name} seed=${o.seed} offset=$offset docs/op=${w.docsPerOp} " +
      s"cpus=${o.cpus} heap_mb=$heapMb trace=${o.trace}")

    var op = 0
    def nextInput(): Input = { val in = inputFor(op); reset(in, timedNext = op > 0); in }

    // warm-up on its own small input: JIT, codegen, class loading; discarded
    val (_, warmWall) = timed(runOp(op, nextInput()))
    log(f"warm-up op $op: $warmWall%.3f s")
    op += 1

    val results = mutable.ArrayBuffer.empty[(Int, OpResult, Quality)]
    val traced = mutable.ArrayBuffer.empty[(Int, Double)]
    val tracer = new Tracer(spark.sparkContext)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var timedOps = 0
    val minOps = if (o.trace) 1 else w.minOps
    def more = timedOps < minOps || (System.nanoTime() < deadline && timedOps < Workload.MaxOps)
    while (more) {
      timedOps += 1
      val in = nextInput()
      val (cpu0, jit0) = (driverCpuS, jitS)
      attempt(s"op $op")(runOp(op, in)).foreach { r =>
        check(op, in, r).foreach(q => results += ((op, r, q)))
        log(f"op $op: ${r.wall}%.3f s (driver thread cpu ${driverCpuS - cpu0}%.3f s, " +
          f"jit ${jitS - jit0}%.1f s)")
      }
      op += 1
      if (o.trace && results.nonEmpty) {
        val in = nextInput()
        attempt(s"op $op")(tracedOp(op, in, tracer)).foreach { r =>
          checkSpans(op, tracer)
          check(op, in, r).foreach(_ => traced += ((op, r.wall)))
          log(f"traced op $op: ${r.wall}%.3f s")
        }
        op += 1
      }
    }
    PerfbenchDrain(spark.sparkContext)
    checkKernels()

    val walls = results.map(_._2.wall).toSeq
    val opMetrics: Seq[Metric] = if (results.isEmpty) Nil else {
      val opS = Stats.median(walls)
      val shuffle = Stats.median(results.map { case (i, _, _) =>
        mb(fold.get(s"op$i").map(_.shuffleWriteBytes).getOrElse(0L)) }.toSeq)
      Seq(
        Metric("setup_s", setupS, "s"),
        Metric("docs_per_s", w.docsPerOp / opS, "docs/s"),
        Metric("op_s_p50", opS, "s"),
        Metric("peak_rss_mb", peakRssMb, "MB"),
        Metric("shuffle_mb", shuffle, "MB"),
        Metric("dup_pair_recall", Stats.median(results.map(_._3.recall).toSeq), "ratio"),
        Metric("cluster_precision", Stats.median(results.map(_._3.precision).toSeq), "ratio"))
    }
    val metrics =
      if (!o.trace) opMetrics
      else if (traced.isEmpty || results.isEmpty) Nil
      else layerMetrics(results.toSeq, traced.toSeq, tracer)
    if (o.trace) tracer.writeJsonLines(
      o.workDir.getParent.resolve("traces").resolve(s"${w.name}-seed${o.seed}.jsonl"), w.name)

    println(s"workload=${w.name} seed=${o.seed} docs/op=${w.docsPerOp} cpus=${o.cpus} " +
      s"heap_mb=$heapMb timed_ops=${walls.length} (${walls.map(x => f"$x%.3f").mkString(", ")} s)" +
      (if (o.trace) s" traced_ops=${traced.length}" else ""))
    metrics.foreach(m => println(f"${m.name}%-36s ${m.value}%14.6f ${m.unit}"))
    failures.foreach(f => log(s"FAILED CHECK: $f"))
    val correct = failures.isEmpty && metrics.nonEmpty
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${jsonNumber(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": ${failedOps.size}, "metrics": {$body}}"""
  }

  private def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def layerMetrics(results: Seq[(Int, OpResult, Quality)], traced: Seq[(Int, Double)],
                           tracer: Tracer): Seq[Metric] = {
    // every per-stage figure comes from ONE traced operation, the median
    // by wall, so the stage spans and the gap add up to its wall
    val (tOp, tWall) = traced.sortBy(_._2).apply((traced.length - 1) / 2)
    val spans = tracer.of(tOp)
    val rows = spans.groupBy(_.name).view.mapValues(_.map(_.rowsOut).sum).toMap
    val stageMetrics = Stages.flatMap { s =>
      val g = s"op$tOp/$s"
      val ss = spans.filter(_.name == s)
      val a = fold.get(g)
      val taskMs = a.map(_.taskMs.toSeq.map(_.toDouble)).getOrElse(Nil)
      val skew = if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(Stats.median(taskMs), 1.0)
      Seq(
        Metric(s"$s.wall_s", ss.map(_.seconds).sum, "s"),
        Metric(s"$s.task_s", a.map(_.runMs / 1e3).getOrElse(0.0), "s"),
        Metric(s"$s.planning_s", fold.planningMs(g) / 1e3, "s"),
        Metric(s"$s.jobs", a.map(_.jobs.toDouble).getOrElse(0.0), "count"),
        Metric(s"$s.tasks", a.map(_.tasks.toDouble).getOrElse(0.0), "count"),
        Metric(s"$s.rows_out", rows.getOrElse(s, 0L).toDouble, "rows"),
        Metric(s"$s.shuffle_write_mb", mb(a.map(_.shuffleWriteBytes).getOrElse(0L)), "MB"),
        Metric(s"$s.spill_mb", mb(a.map(_.spillBytes).getOrElse(0L)), "MB"),
        Metric(s"$s.gc_s", a.map(_.gcMs / 1e3).getOrElse(0.0), "s"),
        Metric(s"$s.task_skew", skew, "ratio"))
    }
    val gap = tWall - spans.map(_.seconds).sum
    val untraced = Stats.median(results.map(_._2.wall))
    val tracedMedian = Stats.median(traced.map(_._2))
    val resumeS = Stats.median(results.map(_._2.resumeWall))
    val storeRatio = Stats.median(results.map(r => r._2.storeBytes.toDouble)) /
      inputFor(1).textBytes
    val spill = Stats.median(results.map { case (i, _, _) =>
      mb(fold.get(s"op$i").map(_.spillBytes).getOrElse(0L)) })
    stageMetrics ++ Seq(
      Metric("lsh_pairgen.edge_yield",
        ratio(rows.getOrElse("score_verify", 0L), rows.getOrElse("lsh_pairgen", 0L)), "ratio"),
      Metric("substring.edge_yield", substringYield(inputFor(tOp), rows.getOrElse("substring", 0L)),
        "ratio"),
      Metric("exact_dedup.holdout_share",
        ratio(holdoutRows.getOrElse(tOp, 0L), w.docsPerOp.toLong), "ratio"),
      Metric("driver.gap_s", gap, "s"),
      Metric("trace.op_s", tWall, "s"),
      Metric("trace.overhead_pct", (tracedMedian / untraced - 1) * 100, "%"),
      Metric("resume_s", resumeS, "s"),
      Metric("store_bytes_per_input_byte", storeRatio, "ratio"),
      Metric("spill_mb", spill, "MB"),
      Metric("op.planning_s", Stats.median(results.map { case (i, _, _) =>
        fold.planningMs(s"op$i") / 1e3 }), "s"),
      Metric("op.jobs", Stats.median(results.map { case (i, _, _) =>
        fold.get(s"op$i").map(_.jobs.toDouble).getOrElse(0.0) }), "count")) ++ kernelMetrics(inputFor(1))
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Substring edges over the distinct doc pairs that share a non-hot
    * winnow fingerprint, the pairs `Substring.edges` tests; recomputed
    * after the traced operations, outside every span. */
  private def substringYield(in: Input, edges: Long): Double = {
    reset(in, timedNext = false)
    val (survivors, _) = ExactDedup.splitByHash(in.df.select("id", "text"))
    val fps = survivors.select(col("id"),
        explode(GraftFunctions.winnowFps(col("text"), cfg.winnowK, cfg.winnowWindow)).as("key"))
      .withColumn("sort", col("id"))
    val tested = PairGen.pairs(fps, cfg.allPairsCap, dropHotAbove = Some(cfg.substringDfCap))
      .select("id_l", "id_r").distinct().count()
    ratio(edges, tested)
  }

  private val KernelTexts = 2000
  private val KernelReps = 5

  /** Integrity of the kernels against the golden checksums; every run. */
  private def checkKernels(): Unit = {
    val texts = KernelProbe.goldenTexts
    KernelProbe.kernels(cfg).foreach { k =>
      attempt(s"kernel ${k.name} checksum") {
        val got = KernelProbe.checksum(k, texts)
        if (!KernelProbe.Golden.get(k.name).contains(got))
          fail(s"kernel ${k.name} checksum", s"$got != golden ${KernelProbe.Golden(k.name)}")
      }
    }
  }

  /** Single-thread kernel timings over the workload's own texts. */
  private def kernelMetrics(in: Input): Seq[Metric] = {
    val texts = in.df.select("text").head(KernelTexts).map(_.getString(0))
    KernelProbe.kernels(cfg).flatMap { k =>
      val t = KernelProbe.time(k, cfg, texts, KernelReps)
      Seq(Metric(s"kernel.${k.name}.us_per_doc", t.usPerDoc, "us"),
        Metric(s"kernel.${k.name}.bytes_per_doc", t.bytesPerDoc, "B"))
    }
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
  }
}
