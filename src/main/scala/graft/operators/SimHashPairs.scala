package graft.operators

import graft.DedupConfig
import graft.kernels.{ExactSim, SimHashModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash/Hamming near-dup detection routed through the SAME skew-safe
  * candidate machinery as the MinHash and embedding paths — the batch
  * re-grounding of the reference's Hamming pairing
  * (`/root/reference/elastiknn-models/.../models/HammingLshModel.java` banding ↔
  * `ExactModel.hammingSimilarity` verify), replacing the plain band
  * self-join this path used before: a clique of m identical documents
  * (empty docs all fingerprint to the 0L sentinel; boilerplate families
  * share 8-bit bands) put m²/2 join rows × bands on ONE shuffle key. Now
  * hot fingerprint bands take [[CandidatePairs]]' streaming bucket scan +
  * salted block decomposition, bounded at `bucketCap` per shuffle key.
  *
  * Determinism note: banding is recall machinery, not the decision — but
  * for 8 bands over 64 bits it is *complete* at any useful threshold by
  * pigeonhole: sim ≥ 0.9 ⇒ ≤ 6 differing bits ⇒ ≥ 2 of the 8 8-bit bands
  * are untouched ⇒ the pair shares a bucket. So the emitted pair set is
  * exactly {(a, b) : hammingSim64 ≥ minSim} for minSim > 56/64.
  */
object SimHashPairs {

  /** Candidate pairs (id_a < id_b in binary-UTF8 id order) sharing ≥ 1
    * fingerprint band. One shared band is candidacy (minBands = 1): the
    * exact Hamming re-score downstream makes the threshold decision.
    *
    * @param fps (conv_id: string, simhash: long)
    */
  def candidates(fps: DataFrame, numBands: Int, bucketCap: Int): DataFrame = {
    val bandUdf = udf { (fp: Long) => SimHashModel.bands(fp, numBands) }
    val banded = fps.select(col("conv_id"), bandUdf(col("simhash")).as("bands"))
    CandidatePairs.candidatePairs(banded,
        DedupConfig(minBands = 1, bucketCap = bucketCap, simHashBands = numBands))
      .select(col("id_a"), col("id_b"))
  }

  /** Verified near-dup pairs: candidates exact-rescored with 64-bit Hamming
    * similarity ([[ExactSim.hammingSim64]]) and filtered at `minSim`, in one
    * [[ProbeScan.pairScores]] scan of the fingerprints: the candidate list
    * and its `id_b` members' fingerprints are broadcast behind the byte
    * gate (chunked above it — a dup-dense corpus makes the candidate set
    * quadratic in its identical-fingerprint cliques), and no fingerprint is
    * exchanged.
    *
    * @return (id_a, id_b, simhash_sim)
    */
  def dupPairs(fps: DataFrame, numBands: Int, minSim: Double, bucketCap: Int): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    // materialized once: it feeds the candidate scan and the scoring scan
    val fpsM = fps.select(col("conv_id"), col("simhash")).localCheckpoint(eager = true)
    ProbeScan.pairScores(
        candidates(fpsM, numBands, bucketCap).select(col("id_a"), col("id_b"), lit(0L)).as[(String, String, Long)],
        fpsM.as[(String, Long)], (_: Long) => 8L) { (a, b, _, fa, fb) =>
      val sim = ExactSim.hammingSim64(fa, fb)
      if (sim >= minSim) Some((a, b, sim)) else None
    }.toDF("id_a", "id_b", "simhash_sim")
  }

  /** Every document labeled with its SimHash near-dup cluster (min member
    * id canonical) — the cluster-shaped query, mirroring the MinHash
    * pipeline's scale discipline: **exact-duplicate collapse first** (one
    * representative per distinct fingerprint — identical fingerprints are
    * Hamming-sim 1.0, so the collapse is lossless for cluster semantics and
    * turns an m-clique into m mapping rows), candidates + verify over
    * representatives only, connected components over rep pairs, members
    * joined back through their representative.
    *
    * @param allIds (conv_id) — every document, paired or not
    * @param fps    (conv_id, simhash)
    * @return (conv_id, cluster_id)
    */
  def clusters(allIds: DataFrame, fps: DataFrame, numBands: Int, minSim: Double,
               bucketCap: Int): DataFrame = {
    val fpsM = fps.select(col("conv_id"), col("simhash")).localCheckpoint(eager = true)
    // one min_by-style aggregation serves both consumers (mapping + reps)
    val groups = fpsM.groupBy(col("simhash")).agg(min(col("conv_id")).as("rep"))
      .localCheckpoint(eager = true)
    val mapping = fpsM.join(groups, Seq("simhash")).select(col("conv_id"), col("rep"))
    val repFps = groups.select(col("rep").as("conv_id"), col("simhash"))
    val verified = dupPairs(repFps, numBands, minSim, bucketCap)
      .select(col("id_a"), col("id_b"))
    val reps = groups.select(col("rep").as("conv_id"))
    val repClusters = ConnectedComponents.assign(reps, verified)
      .withColumnRenamed("conv_id", "rep")
      .select(col("rep"), col("cluster_id"))
    // rep = min of its fingerprint group and cluster_id = min rep of the
    // component, so the joined-back label is the global min member id —
    // identical to member-level components (intra-group edges are sim 1.0).
    // allIds left-joins through the mapping so fingerprint-less ids (none
    // in practice; every doc fingerprints) still come out labeled.
    allIds.select(col("conv_id"))
      .join(mapping, Seq("conv_id"), "left")
      .join(repClusters, Seq("rep"), "left")
      .select(col("conv_id"), coalesce(col("cluster_id"), col("conv_id")).as("cluster_id"))
  }
}
