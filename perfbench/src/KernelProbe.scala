package perfbench

import graft.expr.Hashing
import graft.fixtures.Corpus
import graft.model.EngineConfig

/** Kernel layer (`graft.expr.Hashing`), single-threaded, no Spark.
  *
  * Every kernel output is folded into an order-sensitive checksum
  * (`s = mix64(s ^ v)` over each value in emission order, lengths
  * included), so a kernel that reorders, drops or swaps values changes the
  * checksum; a plain sum would not notice a reordering. The checksum over
  * a fixed text set is compared with [[Golden]]: a kernel whose output
  * changed fails the benchmark instead of reading as a speed-up. The
  * checksum over the workload's texts keeps the timed loops from being
  * optimized away.
  */
object KernelProbe {

  final case class Kernel(name: String, run: String => Long)

  private def fold(s: Long, v: Long): Long = Hashing.mix64(s ^ v)

  private def foldAll(s0: Long, vs: Array[Long]): Long = {
    var s = fold(s0, vs.length.toLong)
    var i = 0
    while (i < vs.length) { s = fold(s, vs(i)); i += 1 }
    s
  }

  def kernels(cfg: EngineConfig): Seq[Kernel] = {
    val (pa, pb) = Hashing.permConstants(cfg.numPerms, cfg.seed)
    val oph = cfg.minhashKernel == "oph"
    Seq(
      Kernel("doc_sigs", { t =>
        val (mh, sim) = Hashing.docSigPair(t, cfg.shingleK, cfg.numPerms, cfg.seed, oph, pa, pb)
        fold(if (mh == null) fold(0L, -1L) else foldAll(0L, mh), sim)
      }),
      Kernel("winnow_fps", t => foldAll(0L, Hashing.winnow(t, cfg.winnowK, cfg.winnowWindow))),
      Kernel("sim_fp", { t =>
        val (sim, fp) = Hashing.simFingerprintPair(t)
        fold(fold(0L, sim), fp)
      }))
  }

  /** Bytes one kernel call moves: the text it reads as UTF-16 plus the
    * values it emits. */
  def bytesMoved(name: String, cfg: EngineConfig, t: String): Long = name match {
    case "doc_sigs" => 2L * t.length + 8L * cfg.numPerms + 8L
    case "winnow_fps" => 2L * t.length + 8L * Hashing.winnow(t, cfg.winnowK, cfg.winnowWindow).length
    case "sim_fp" => 2L * t.length + 16L
  }

  /** Checksum of every kernel over the same texts, in text order. */
  def checksum(k: Kernel, texts: Array[String]): Long = {
    var s = 0L
    var i = 0
    while (i < texts.length) { s = fold(s, k.run(texts(i))); i += 1 }
    s
  }

  /** Fixed integrity corpus: the first [[GoldenDocs]] F1 rows. */
  val GoldenDocs = 512
  def goldenTexts: Array[String] =
    Array.tabulate(GoldenDocs)(i => Corpus.rowFor(i.toLong, includeHtml = false).text)

  /** Checksums of the kernels at `Hashing.kernelVersion` under
    * `EngineConfig.default` over [[goldenTexts]]. */
  val Golden: Map[String, Long] = Map(
    "doc_sigs" -> 6475869093194552725L,
    "winnow_fps" -> -2056148620884618503L,
    "sim_fp" -> 1754123016498976657L)

  final case class Timing(usPerDoc: Double, bytesPerDoc: Double)

  /** Median over `reps` single-thread passes of per-doc time. */
  def time(k: Kernel, cfg: EngineConfig, texts: Array[String], reps: Int): Timing = {
    val expected = checksum(k, texts) // warm-up pass and determinism reference
    val walls = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val s = checksum(k, texts)
      val w = System.nanoTime() - t0
      require(s == expected, s"kernel ${k.name} is not deterministic over the workload texts")
      w / 1e3 / texts.length
    }
    val bytes = texts.iterator.map(bytesMoved(k.name, cfg, _)).sum
    Timing(Stats.median(walls), bytes.toDouble / texts.length)
  }
}
