package graft.operators

import graft.DedupConfig
import graft.kernels.CosineLshModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection — the dense-vector sibling of
  * the MinHash/Jaccard text pipeline: the reference's CosineLsh scheme
  * (`/root/reference/elastiknn-models/src/main/java/com/klibisz/elastiknn/models/CosineLshModel.java:26-52`)
  * applied to the *self-join dedup* read shape instead of the knn shape.
  *
  * Pipeline: hyperplane band hashes per vector → the skew-safe streaming
  * bucket scan of [[CandidatePairs]] (hot buckets take the salted block
  * decomposition — a near-dup-dense embedding corpus concentrates whole
  * clusters into single buckets, exactly the skew case that machinery
  * exists for) → exact-cosine re-score of candidates (precision 1.0 by
  * construction; recall is the LSH operating point, pinned by test).
  *
  * Scale shape (100 TB): the bands exchange carries (id, band) only; the
  * verify scan reads the embeddings in place and broadcasts only the
  * candidate members' (chunked above the byte gate), never corpus².
  */
object EmbeddingDedup {

  /** Hyperplane-LSH band signatures (vec_id, bands: Array[Long]) — the
    * model is hoisted once per partition (plane table is numTables ×
    * rowsPerBand × dims floats, built from the seed, never shuffled).
    */
  def bandSignatures(spark: SparkSession, emb: DataFrame, numTables: Int, rowsPerBand: Int,
                     seed: Long = 0L, dims: Int = -1): DataFrame = {
    import spark.implicits._
    val d = if (dims > 0) dims else emb.select(size(col("embedding"))).first().getInt(0)
    emb.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { iter =>
        val model = new CosineLshModel(d, numTables, rowsPerBand, seed)
        iter.map { case (id, e) => (id, model.hash(e)) }
      }
      .toDF("vec_id", "bands")
  }

  /** Near-dup pairs (id_a < id_b, exact cosine ≥ theta). One shared band
    * suffices for candidacy (recall-first; the exact re-score makes the
    * threshold decision).
    *
    * Verify shape: one [[ProbeScan.pairScores]] scan of `emb` — the
    * candidate list and its `id_b` members' embeddings broadcast behind the
    * byte gate, only `id_a` members deserialized, exact cosine inline. No
    * embedding is exchanged.
    */
  def dupPairs(spark: SparkSession, emb: DataFrame, theta: Double,
               numTables: Int = 16, rowsPerBand: Int = 8, seed: Long = 0L,
               dims: Int = -1, bucketCap: Int = 512): DataFrame = {
    if (dims <= 0 && emb.select(col("embedding")).head(1).isEmpty)
      // degrade like every other operator: empty corpus → empty result
      // (the dims probe below would otherwise throw on .first())
      return emb.sparkSession.emptyDataFrame
        .withColumn("id_a", lit(0L)).withColumn("id_b", lit(0L))
        .withColumn("cosine", lit(0.0)).limit(0)
    // zero-padded string ids (19 digits covers every non-negative Long):
    // CandidatePairs' binary-UTF8 pair order then equals the numeric
    // order, so id_a < id_b survives the cast back. Negative vec_ids
    // would break that invariant ('-' sorts above digits) — the id
    // contract is non-negative, same as the testdata and oracle.
    val sigs = bandSignatures(spark, emb, numTables, rowsPerBand, seed, dims)
      .select(lpad(col("vec_id").cast("string"), 19, "0").as("conv_id"), col("bands"))
    val cfg = DedupConfig(numTables = numTables, rowsPerBand = rowsPerBand,
      seed = seed, minBands = 1, bucketCap = bucketCap)
    import spark.implicits._
    val cand = CandidatePairs.candidatePairs(sigs, cfg)
      .select(col("id_a").cast("long"), col("id_b").cast("long"), lit(0L))
    ProbeScan.pairScores(cand.as[(Long, Long, Long)],
        emb.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])],
        (e: Array[Float]) => 4L * Option(e).fold(0)(_.length)) { (a, b, _, ea, eb) =>
      val c = Knn.cosine(ea, eb)
      // Spark SQL orders NaN above every double, so `cosine >= theta` keeps a NaN
      if (c != null && !(c < theta)) Some((a, b, c)) else None
    }.toDF("id_a", "id_b", "cosine")
  }

  /** Every vector labeled with its near-dup cluster (min member id), via
    * the same connected-components used by the text pipeline.
    */
  def clusters(spark: SparkSession, emb: DataFrame, theta: Double,
               numTables: Int = 16, rowsPerBand: Int = 8, seed: Long = 0L,
               dims: Int = -1, bucketCap: Int = 512): DataFrame = {
    val pairs = dupPairs(spark, emb, theta, numTables, rowsPerBand, seed, dims, bucketCap)
      .select(lpad(col("id_a").cast("string"), 19, "0").as("id_a"),
        lpad(col("id_b").cast("string"), 19, "0").as("id_b"))
    val all = emb.select(lpad(col("vec_id").cast("string"), 19, "0").as("conv_id"))
    ConnectedComponents.assign(all, pairs)
      .select(col("conv_id").cast("long").as("vec_id"), col("cluster_id").cast("long").as("cluster_id"))
  }
}
