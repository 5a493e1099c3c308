package graft

import graft.kernels.ExactSim
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public facade of the engine (≙ the reference's client surface,
  * `ElastiknnRequests.scala:32-88`, re-grounded as DataFrame→DataFrame
  * stages — SURVEY §2.7): assemble → signatures → candidates → verify →
  * clusters, plus the exact brute-force oracle (≙ C7 `ExactQuery`).
  */
object Dedup {

  /** Transcripts (conv_id, turn_idx, role, text, tool, ts) → one document
    * row per conversation. The pipeline shape: (conv_id, doc_text, n_turns,
    * n_chars) — the signature stage consumes only the first three, so the
    * first_ts/last_ts columns of the full [[Assembly.assemble]] contract
    * (and their per-row Timestamp materialization) are not paid for here.
    */
  def documents(transcripts: DataFrame): DataFrame = Assembly.assembleDocs(transcripts)

  /** Documents (conv_id, doc_text[, n_turns]) → signatures (shingles, bands,
    * simhash).
    */
  def signatures(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): DataFrame =
    Signatures.signatures(spark, docs, cfg)

  /** Signatures → candidate pairs (id_a < id_b, matching_bands ≥ minBands).
    * Pass `metrics` to record which work took the hot-bucket/salted path
    * (surfaced in checkpoint lineage — no silent caps).
    */
  def candidates(sigs: DataFrame, cfg: DedupConfig,
                 metrics: Option[CandidatePairs.CandidateMetrics] = None): DataFrame =
    CandidatePairs.candidatePairs(sigs, cfg, metrics)

  /** Candidate pairs → exactly verified pairs (jaccard ≥ θ). */
  def verify(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame =
    VerifyPairs.verify(pairs, sigs, cfg)

  /** Verified pairs + full corpus → (conv_id, cluster_id, is_canonical). */
  def clusters(allDocs: DataFrame, verifiedPairs: DataFrame): DataFrame =
    ConnectedComponents.assign(allDocs, verifiedPairs)

  /** The exact-collapse group table: one row per distinct shingle set
    * (`set_hash`) with the representative (min conv_id) and its bands, in
    * ONE `min_by` aggregation. Both exact-collapse consumers derive from
    * it — the member→rep mapping (a column-pruned join back) and the
    * rep (conv_id, bands) rows that feed candidates — so the set_hash
    * shuffle of the signatures happens once, not once per consumer.
    * Partial aggregation combines map-side, so duplicate-heavy corpora
    * shrink before the exchange.
    */
  def repGroups(sigs: DataFrame): DataFrame =
    sigs.select(col("set_hash"), col("conv_id"), col("bands"))
      .groupBy(col("set_hash"))
      .agg(min_by(struct(col("conv_id"), col("bands")), col("conv_id")).as("r"))
      .select(col("set_hash"), col("r.conv_id").as("rep"), col("r.bands").as("bands"))

  /** Exact-duplicate collapse: one representative (min id) per distinct
    * shingle set (`set_hash`). Lossless for pair/cluster semantics — equal
    * sets have Jaccard 1 — and essential at scale: a clique of m identical
    * documents (empty convs, boilerplate copies) would otherwise produce
    * m²/2 candidate pairs; after collapse it costs m mapping rows. This is
    * the standard production shape: hash-dedup first, MinHash on the
    * survivors.
    *
    * @return (conv_id, rep) mapping covering every document
    */
  def exactGroups(sigs: DataFrame): DataFrame =
    mappingFrom(sigs, repGroups(sigs))

  /** Member→rep mapping from a precomputed [[repGroups]] table (so callers
    * holding one don't re-aggregate).
    */
  def mappingFrom(sigs: DataFrame, groups: DataFrame): DataFrame =
    sigs.select(col("conv_id"), col("set_hash"))
      .join(groups.select(col("set_hash"), col("rep")), Seq("set_hash"))
      .select(col("conv_id"), col("rep"))

  /** Representative (conv_id, bands) rows — see [[repGroups]]. */
  def repBands(sigs: DataFrame): DataFrame =
    repGroups(sigs).select(col("rep").as("conv_id"), col("bands"))

  /** The whole pipeline: transcripts → cluster assignment.
    *
    * Shape: signatures (materialized once — consumed by three branches) →
    * exact-dup collapse → LSH candidates + exact verify over representatives
    * only → connected components over rep pairs → members join back through
    * their representative. cluster_id = min conv_id of the full member set
    * (each rep is the min of its exact group, so the component min over reps
    * is the global member min).
    *
    * In a production spark-submit run the localCheckpoint cut points are
    * durable parquet checkpoints (see CheckpointedPipeline).
    */
  def pipeline(spark: SparkSession, transcripts: DataFrame, cfg: DedupConfig): DataFrame = {
    val sigs = signatures(spark, documents(transcripts), cfg).localCheckpoint(eager = true)
    // ONE set_hash aggregation serves the member→rep mapping AND the rep
    // bands (see repGroups); materialized because both consumers need it.
    // Only (conv_id, bands) of each representative feeds candidates: the
    // shingle payload is KB/row vs ~0.5 KB of bands, and verify re-attaches
    // it from the checkpointed sigs in its pair scan anyway (candidate
    // members are always reps). Shuffling the payload through the rep
    // selection was the single most expensive stage at 300k convs.
    val groups = repGroups(sigs).localCheckpoint(eager = true)
    val mapping = mappingFrom(sigs, groups)
    val rb = groups.select(col("rep").as("conv_id"), col("bands"))
    val verified = verify(candidates(rb, cfg), sigs, cfg)
    // the rep id set comes straight from the materialized group table —
    // one row per group already, no distinct needed
    val reps = groups.select(col("rep").as("conv_id"))
    val repClusters = ConnectedComponents.assign(reps, verified)
    mapping
      .join(repClusters.withColumnRenamed("conv_id", "rep").select(col("rep"), col("cluster_id")), Seq("rep"))
      .select(col("conv_id"), col("cluster_id"))
      .withColumn("is_canonical", (col("conv_id") === col("cluster_id")).cast("boolean"))
  }

  /** Expand representative-level verified pairs back to member-level pairs
    * (exact-group internal pairs + cross-group pairs through the reps).
    * Diagnostic/test utility — quadratic in exact-group size; never part of
    * the scale path.
    */
  def expandToMemberPairs(mapping: DataFrame, repPairs: DataFrame): DataFrame = {
    val m = mapping.select(col("conv_id"), col("rep"))
    // exact-group internal pairs (jaccard = 1 by construction)
    val intra = m.as("x").join(m.as("y"), col("x.rep") === col("y.rep") && col("x.conv_id") < col("y.conv_id"))
      .select(col("x.conv_id").as("id_a"), col("y.conv_id").as("id_b"))
    // cross-group pairs: all members of rep_a × all members of rep_b
    val cross = repPairs
      .join(m.withColumnRenamed("rep", "id_a").withColumnRenamed("conv_id", "m_a"), Seq("id_a"))
      .join(m.withColumnRenamed("rep", "id_b").withColumnRenamed("conv_id", "m_b"), Seq("id_b"))
      .select(least(col("m_a"), col("m_b")).as("id_a"), greatest(col("m_a"), col("m_b")).as("id_b"))
    intra.unionByName(cross).distinct()
  }

  private val jaccardUdf = udf { (a: Array[Long], b: Array[Long]) =>
    ExactSim.jaccard(if (a == null) Array.empty[Long] else a, if (b == null) Array.empty[Long] else b)
  }

  /** Exact all-pairs Jaccard ≥ θ — the brute-force ground-truth oracle
    * (≙ the reference's exact query, `ExactQuery.scala:18-50`, and the
    * RecallSuite's precomputed exact neighbors). O(n²): small-sf tests only.
    *
    * The cheap size-ratio bound `θ·|b| ≤ |a| ≤ |b|/θ` (necessary for
    * jaccard ≥ θ) is applied as a codegen'd predicate before the kernel —
    * except when both sets are empty (jaccard = 1 by contract).
    */
  def exactAllPairs(sigs: DataFrame, theta: Double): DataFrame = {
    val a = sigs.select(col("conv_id").as("id_a"), col("shingles").as("sh_a"), col("n_shingles").as("n_a"))
    val b = sigs.select(col("conv_id").as("id_b"), col("shingles").as("sh_b"), col("n_shingles").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(
        (col("n_a") >= lit(theta) * col("n_b") && col("n_b") >= lit(theta) * col("n_a")) ||
          (col("n_a") === 0 && col("n_b") === 0)
      )
      .withColumn("jaccard", jaccardUdf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= theta)
      .select("id_a", "id_b", "jaccard")
  }
}
