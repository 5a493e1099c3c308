package graft.operators

import graft.DedupConfig
import graft.kernels.{ExactSim, Lcs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact re-scoring of candidate pairs — ≙ the reference's C5
  * (`MatchHashesAndScoreQuery.java:100-130` scorer +
  * `HashingQuery.scala:23-38` exact-function closure): decode the stored
  * payload, apply the exact similarity, keep survivors.
  *
  * In batch form: the candidate pairs meet the signatures table (which
  * still carries the shingle sets — the ≙binary-doc-value payload) in one
  * narrow [[ProbeScan.pairScores]] pass that applies the exact Jaccard
  * kernel and filters at θ; no shingle array is exchanged. Precision of
  * the final pair set is 1.0 by construction (every emitted pair is exactly
  * verified); recall is owned by the banding config upstream.
  */
object VerifyPairs {

  private type Payload = (Array[Long], java.lang.Long)

  /** The shared exact scoring: one [[ProbeScan.pairScores]] scan of `sigs`
    * (the pairs and their `id_b` members' payload broadcast, only `id_a`
    * members deserialized, no exchange) with [[ExactSim.jaccard]] (null
    * shingles → empty) and [[ExactSim.hammingSim64]] (null simhash → null),
    * keeping pairs with jaccard ≥ `theta`. `matching_bands` keeps its type.
    */
  private def scoredPairs(pairs: DataFrame, sigs: DataFrame, theta: Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val none = Array.emptyLongArray
    ProbeScan.pairScores(
        pairs.select(col("id_a"), col("id_b"), col("matching_bands").cast("long")).as[(String, String, Long)],
        sigs.select(col("conv_id"), struct(col("shingles"), col("simhash"))).as[(String, Payload)],
        (p: Payload) => 8L + 8L * Option(p._1).fold(0)(_.length)) { (a, b, bands, pa, pb) =>
      val j = ExactSim.jaccard(Option(pa._1).getOrElse(none), Option(pb._1).getOrElse(none))
      val sim: java.lang.Double = if (pa._2 == null || pb._2 == null) null else ExactSim.hammingSim64(pa._2, pb._2)
      if (j >= theta) Some((a, b, bands, j, sim)) else None
    }.toDF("id_a", "id_b", "matching_bands", "jaccard", "simhash_sim")
      .withColumn("matching_bands", col("matching_bands").cast(pairs.schema("matching_bands").dataType))
  }

  /** @param pairs (id_a, id_b, matching_bands)
    * @param sigs  signatures with (conv_id, shingles, simhash)
    * @return (id_a, id_b, matching_bands, jaccard, simhash_sim) filtered at θ
    */
  def verify(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame =
    scoredPairs(pairs, sigs, cfg.theta)

  /** Exact verification without the θ filter — exposes the raw scores for
    * diagnostics and threshold tuning (≙ the reference's function-score
    * variant Q5: score without filtering).
    */
  def score(pairs: DataFrame, sigs: DataFrame): DataFrame =
    scoredPairs(pairs, sigs, Double.NegativeInfinity)

  private val lcsRatioUdf = udf { (a: String, b: String) =>
    Lcs.lcsRatio(if (a == null) "" else a, if (b == null) "" else b)
  }

  /** Suffix-automaton LCS pass over *borderline* verified pairs (SURVEY
    * §7.2): pairs with θ ≤ jaccard < `borderlineBelow` additionally get a
    * normalized longest-common-substring ratio from the raw document text.
    * Bounded input set by construction — never run all-pairs.
    *
    * @param verified output of [[verify]]
    * @param docs     (conv_id, doc_text)
    */
  def lcsPass(verified: DataFrame, docs: DataFrame, borderlineBelow: Double = 0.9): DataFrame = {
    val texts = docs.select(col("conv_id"), col("doc_text"))
    val borderline = verified.filter(col("jaccard") < borderlineBelow)
    val scored = borderline.hint("shuffle_hash")
      .join(texts.withColumnRenamed("conv_id", "id_a").withColumnRenamed("doc_text", "t_a"), Seq("id_a"))
      .hint("shuffle_hash")
      .join(texts.withColumnRenamed("conv_id", "id_b").withColumnRenamed("doc_text", "t_b"), Seq("id_b"))
      .withColumn("lcs_ratio", lcsRatioUdf(col("t_a"), col("t_b")))
      .select("id_a", "id_b", "matching_bands", "jaccard", "simhash_sim", "lcs_ratio")
    verified.filter(col("jaccard") >= borderlineBelow)
      .withColumn("lcs_ratio", lit(1.0))
      .unionByName(scored)
  }
}
