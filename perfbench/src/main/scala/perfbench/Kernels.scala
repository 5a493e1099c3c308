package perfbench

import graft.DedupConfig
import graft.kernels.{CosineLshModel, ExactSim, L2LshModel, MinHashModel, Shingler, SimHashModel}

/** The kernel layer: single-threaded calls into `graft.kernels` on a fixed
  * sample of the workload's inputs, outside Spark. Each figure is the median
  * of five rounds of at least 100 ms.
  */
object Kernels {
  @volatile private var sink = 0L

  private def nsPer(units: Double)(body: => Long): Double = {
    val rounds = (0 until 5).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < 100000000L) { sink += body; reps += 1; t = System.nanoTime() }
      (t - t0).toDouble / (reps * units)
    }
    Stats.median(rounds)
  }

  def measure(s: KernelSample, cfg: DedupConfig): Seq[(String, Double)] = {
    val sh = s.texts.map(t => Shingler.shingles(t, cfg.shingleK, cfg.shingleMode, cfg.seed))
    val nSh = math.max(1L, sh.map(_.length.toLong).sum).toDouble
    val mh = new MinHashModel(cfg.numTables, cfg.rowsPerBand, cfg.seed)
    val shingle = nsPer(s.texts.length) {
      var acc = 0L; s.texts.foreach(t => acc += Shingler.shingles(t, cfg.shingleK, cfg.shingleMode, cfg.seed).length); acc
    }
    val minhash = nsPer(nSh) { var acc = 0L; sh.foreach(x => acc += mh.bandHashes(x)(0)); acc }
    val simhash = nsPer(nSh) { var acc = 0L; sh.foreach(x => acc += SimHashModel.fingerprint(x, cfg.seed)); acc }
    val jaccard =
      if (s.pairs.isEmpty) 0.0
      else nsPer(s.pairs.length) { var acc = 0.0; s.pairs.foreach { case (a, b) => acc += ExactSim.jaccard(a, b) }; acc.toLong }
    val vechash =
      if (s.vecs.isEmpty) 0.0
      else {
        val d = s.vecs.head.length
        val cos = new CosineLshModel(d, 64, 4, 0L)
        val l2 = new L2LshModel(d, 24, 2, 4, 0L)
        nsPer(s.vecs.length) { var acc = 0L; s.vecs.foreach(v => acc += cos.hash(v)(0) ^ l2.hash(v)(0)); acc }
      }
    Seq(
      "kernels.shingle_ns_per_doc" -> shingle,
      "kernels.minhash_ns_per_shingle" -> minhash,
      "kernels.simhash_ns_per_shingle" -> simhash,
      "kernels.jaccard_ns_per_pair" -> jaccard,
      "kernels.vechash_ns_per_vec" -> vechash)
  }
}
