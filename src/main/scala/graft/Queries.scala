package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query AST + planner — the analog of the reference's
  * `NearestNeighborsQuery` sealed trait
  * (`/root/reference/elastiknn-api4s/.../api/NearestNeighborsQuery.scala:13-61`)
  * and the (query, mapping) compatibility dispatch in
  * `ElastiknnQueryBuilder.build` (`ElastiknnQueryBuilder.scala:38-92`):
  * a sealed config ADT selects and wires pipeline stages; incompatible
  * combinations fail at *plan* time with `IllegalArgumentException`,
  * mirroring the reference's compat matrix (`docs/pages/api.md:689-715`).
  */
object Queries {

  /** What a corpus column contains — ≙ the reference's `Mapping` datatype half. */
  sealed trait CorpusKind
  /** Text documents (conv_id/doc_id + text) → set semantics. */
  case object TextCorpus extends CorpusKind
  /** Dense float embeddings (vec_id + embedding) → vector semantics. */
  case object VectorCorpus extends CorpusKind

  /** The query ADT — ≙ NearestNeighborsQuery cases, re-grounded for batch. */
  sealed trait DedupQuery { def corpus: CorpusKind }
  /** All-pairs exact dedup via content hash (group-by, no LSH). */
  final case class ExactDedup() extends DedupQuery { val corpus: CorpusKind = TextCorpus }
  /** MinHash/Jaccard near-dup pipeline (≙ NearestNeighborsQuery.JaccardLsh). */
  final case class MinHashDedup(cfg: DedupConfig = DedupConfig()) extends DedupQuery { val corpus: CorpusKind = TextCorpus }
  /** SimHash/Hamming near-dup pipeline (≙ HammingLsh) — verified pairs. */
  final case class SimHashDedup(cfg: DedupConfig = DedupConfig(), minSim: Double = 0.9) extends DedupQuery { val corpus: CorpusKind = TextCorpus }
  /** SimHash near-dup *clusters* (every doc labeled, min member canonical) —
    * the cluster-shaped sibling of [[SimHashDedup]], with exact-fingerprint
    * collapse before candidates (the scale shape, same as [[MinHashDedup]]).
    */
  final case class SimHashClusters(cfg: DedupConfig = DedupConfig(), minSim: Double = 0.9) extends DedupQuery { val corpus: CorpusKind = TextCorpus }
  /** Embedding-cosine near-dup pipeline (≙ CosineLsh re-grounded to the
    * self-join dedup shape rather than knn).
    */
  final case class CosineDedup(theta: Double = 0.9, numTables: Int = 16,
                               rowsPerBand: Int = 8,
                               dims: Int = -1) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** Exact brute-force knn (≙ NearestNeighborsQuery.Exact) under any
    * [[Knn.Similarity]] — the reference's `Exact(similarity)` accepts all
    * of them (`Similarity.scala:3-5`; compat matrix `docs/pages/api.md:689-715`).
    */
  final case class ExactKnn(k: Int, queriesFilter: DataFrame => DataFrame = identity,
                            similarity: Knn.Similarity = Knn.Similarity.Cosine) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** Hyperplane-LSH knn (≙ CosineLsh). Callers that know `dims` skip the
    * plan-time LIMIT-1 probe job (and its empty-corpus failure mode).
    */
  final case class CosineLshKnn(k: Int, numTables: Int = 32, rowsPerBand: Int = 8,
                                queriesFilter: DataFrame => DataFrame = identity,
                                dims: Int = -1) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** L2 (p-stable) LSH knn with optional multiprobe (≙ `L2Lsh(probes)`).
    * `dims` as in [[CosineLshKnn]].
    */
  final case class L2LshKnn(k: Int, numTables: Int = 24, rowsPerBand: Int = 2, w: Int = 4,
                            probes: Int = 0,
                            queriesFilter: DataFrame => DataFrame = identity,
                            dims: Int = -1) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** Permutation-LSH top-k (≙ `PermutationLsh`), freq-aware hit counting. */
  final case class PermutationKnn(k: Int, poolSize: Int = 16, repeating: Boolean = true,
                                  queriesFilter: DataFrame => DataFrame = identity) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** knn by indexed vector id (≙ `Vec.Indexed`, `Vec.scala:80`): the query
    * vector lives in the corpus and is resolved by id — the reference's
    * async fetch-then-rewrite (`ElasticsearchQueryBuilder.scala` rewrite
    * phase) re-grounded as a batch join/filter against the corpus table.
    */
  final case class KnnById(ids: Seq[Long], k: Int,
                           similarity: Knn.Similarity = Knn.Similarity.Cosine) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }
  /** IVF-partitioned knn (the batch scale path). */
  final case class IvfKnn(k: Int, nCells: Int = 16, nProbe: Int = 4,
                          queriesFilter: DataFrame => DataFrame = identity) extends DedupQuery { val corpus: CorpusKind = VectorCorpus }

  /** Plan + execute a query against a corpus DataFrame. Text queries expect
    * (conv_id, doc_text); vector queries expect (vec_id, embedding).
    * ≙ ElastiknnQueryBuilder.build: the single pattern match that rejects
    * incompatible (query, corpus) pairs before any execution.
    */
  def run(spark: SparkSession, corpus: DataFrame, query: DedupQuery): DataFrame = {
    val isText = corpus.columns.contains("doc_text")
    val isVec = corpus.columns.contains("embedding")
    (query, isText, isVec) match {
      case (q, false, _) if q.corpus == TextCorpus =>
        throw new IllegalArgumentException(
          s"$q requires a text corpus with (conv_id, doc_text); got [${corpus.columns.mkString(",")}]")
      case (q, _, false) if q.corpus == VectorCorpus =>
        throw new IllegalArgumentException(
          s"$q requires a vector corpus with (vec_id, embedding); got [${corpus.columns.mkString(",")}]")

      case (ExactDedup(), _, _) =>
        TextAnalysis.exactDedup(corpus, idCol = "conv_id", textCol = "doc_text")

      case (MinHashDedup(cfg), _, _) =>
        val sigs = Dedup.signatures(spark, corpus, cfg).localCheckpoint(eager = true)
        // ONE set_hash aggregation serves all three consumers (mapping, rep
        // bands, rep id set) — this dispatch previously aggregated repGroups
        // twice (exactGroups + repBands, a full bands-payload shuffle each)
        // and derived reps via an extra distinct; same shape as
        // Dedup.pipeline / CheckpointedPipeline now.
        val groups = Dedup.repGroups(sigs).localCheckpoint(eager = true)
        val mapping = Dedup.mappingFrom(sigs, groups)
        // bands-only rep aggregation; payload read in place by the pair scan in
        // verify (same shape as Dedup.pipeline)
        val verified = Dedup.verify(Dedup.candidates(groups.select(col("rep").as("conv_id"), col("bands")), cfg), sigs, cfg)
        // one row per group already — no distinct shuffle needed
        val reps = groups.select(col("rep").as("conv_id"))
        val repClusters = ConnectedComponents.assign(reps, verified)
        mapping.join(repClusters.withColumnRenamed("conv_id", "rep").select(col("rep"), col("cluster_id")), Seq("rep"))
          .select(col("conv_id"), col("cluster_id"))

      case (SimHashDedup(cfg, minSim), _, _) =>
        // fingerprint bands route through the SAME skew-safe bucket scan as
        // the MinHash/embedding paths (hot fingerprint bands — empty-doc
        // sentinels, boilerplate families — take the salted block join).
        // simhash-only kernel: no MinHash permutations computed then dropped
        val fps = Signatures.simhashSignatures(spark, corpus, cfg)
        SimHashPairs.dupPairs(fps, cfg.simHashBands, minSim, cfg.bucketCap)

      case (SimHashClusters(cfg, minSim), _, _) =>
        val fps = Signatures.simhashSignatures(spark, corpus, cfg)
        SimHashPairs.clusters(corpus.select(col("conv_id")), fps,
          cfg.simHashBands, minSim, cfg.bucketCap)

      case (CosineDedup(theta, l, r, dims), _, _) =>
        // callers that know dims skip the plan-time LIMIT-1 probe job
        EmbeddingDedup.dupPairs(spark, corpus, theta, numTables = l, rowsPerBand = r, dims = dims)

      case (ExactKnn(k, qf, sim), _, _) =>
        Knn.exactTopK(qf(corpus), corpus, k, sim)

      case (KnnById(ids, k, sim), _, _) =>
        Knn.exactTopK(corpus.filter(col("vec_id").isin(ids: _*)), corpus, k, sim)

      case (CosineLshKnn(k, l, r, qf, dims), _, _) =>
        Knn.lshTopK(spark, qf(corpus), corpus, k, numTables = l, rowsPerBand = r, dims = dims)

      case (L2LshKnn(k, l, r, w, probes, qf, dims), _, _) =>
        Knn.l2LshTopK(spark, qf(corpus), corpus, k, numTables = l, rowsPerBand = r,
          w = w, probes = probes, dims = dims)

      case (PermutationKnn(k, pool, repeating, qf), _, _) =>
        Knn.permutationTopK(spark, qf(corpus), corpus, k, poolSize = pool, repeating = repeating)

      case (IvfKnn(k, cells, probe, qf), _, _) =>
        Knn.ivfTopK(qf(corpus), corpus, k, nCells = cells, nProbe = probe)
    }
  }
}
