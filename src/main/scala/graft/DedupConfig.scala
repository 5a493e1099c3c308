package graft

import graft.kernels.Shingler

/** Pipeline configuration — the analog of the reference's `Mapping`
  * hyperparameter tuples (`/root/reference/elastiknn-api4s/.../api/Mapping.scala:3-21`).
  * Like the reference, all model parameters are *derived from the seed* at
  * use time, never stored (`ModelCache.scala:17-21`,
  * `docs/pages/internals.md` "Storing Model Parameters"); this case class is
  * tiny and broadcast-friendly.
  *
  * @param shingleK       shingle width (tokens for Words mode, chars for Chars)
  * @param shingleMode    Words or Chars
  * @param numTables      L — number of MinHash bands/tables (≙ Mapping.JaccardLsh.L)
  * @param rowsPerBand    k — minhashes concatenated per band (≙ Mapping.JaccardLsh.k)
  * @param seed           model seed (reference pins 0)
  * @param minBands       candidate threshold: pairs must share ≥ this many bands
  *                       (batch analog of the reference's `candidates` knob, §2.5 C3).
  *                       At the defaults (L=48, r=3, θ=0.8) a true pair collides
  *                       per band w.p. ≥ θ³ = 0.512 → matching bands ~ Bin(48, 0.512),
  *                       so requiring 8 loses P[Bin(48,.512) < 8] ≈ 1e-8 recall,
  *                       while boilerplate noise pairs (s ≈ 0.2, per-band
  *                       p = s³ ≈ 0.01) expect < 1 matching band and rarely
  *                       survive to the verify join at all — r=3 is the main
  *                       candidate-volume knob (4× fewer noise pair rows than r=2).
  * @param theta          verify threshold θ on exact Jaccard (≙ C5 exact re-score filter)
  * @param bucketCap      max ids per LSH bucket before salted splitting kicks in (§7.4 skew)
  * @param simHashBands   bands for the 64-bit SimHash fingerprint path (must divide 64)
  */
final case class DedupConfig(
    shingleK: Int = 3,
    shingleMode: Shingler.Mode = Shingler.Words,
    numTables: Int = 48,
    rowsPerBand: Int = 3,
    seed: Long = 0L,
    minBands: Int = 8,
    theta: Double = 0.8,
    bucketCap: Int = 512,
    simHashBands: Int = 8
) extends Serializable
