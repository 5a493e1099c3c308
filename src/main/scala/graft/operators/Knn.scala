package graft.operators

import graft.kernels.CosineLshModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** k-nearest-neighbor operators over an embedding column
  * (`Array[Float]`) — the dense-float path (≙ `Vec.DenseFloat`,
  * `/root/reference/elastiknn-api4s/.../api/Vec.scala:45-63`).
  *
  *   - [[exactTopK]] — brute-force scored scan ≙ the reference's exact query
  *     (`ExactQuery.scala:18-50`): ground truth, O(queries × corpus).
  *   - [[lshTopK]] — hyperplane-LSH bucketed ANN ≙ CosineLsh read path
  *     (`HashingQuery` C1–C5): candidates from shared hash buckets, exact
  *     re-score, per-query top-k with deterministic tiebreak
  *     (≙ doc-id-order emission, `ArrayHitCounter.java:119-134`).
  *   - [[ivfTopK]] — IVF-style coarse quantization: broadcast centroids,
  *     single narrow argmax assignment pass (no row blow-up, no window),
  *     nProbe nearest cells per query, exact re-score within cells.
  *     The scale path for 100 TB embedding corpora.
  *
  * Top-k uses [[TopKAgg]], a bounded-heap `Aggregator`: each map-side
  * partial keeps at most k candidates, so the shuffle carries k rows per
  * (query, partition) instead of every scored candidate — the batch analog
  * of the reference's fixed-size `HitCounter` + kth-greatest selection
  * (C3/C6, `ArrayHitCounter.java:96-134`), and the fix for the full
  * row_number-window shuffle flagged at scale.
  */
object Knn {

  /** Dense similarity kernels as primitive-array UDFs. These replaced the
    * previous zip_with/aggregate higher-order-function columns: HOFs are
    * built-ins but evaluate an *interpreted* lambda per element with
    * per-element null handling, measured 5× slower than the tight primitive
    * loop on the 64-dim corpus (14 µs vs 2.7 µs per pair, tools/SimBench).
    * The arithmetic is the IDENTICAL sequence of double operations the HOF
    * form performed — left-to-right sums from 0.0, no zero-norm guard (0/0
    * cosine stays NaN, exactly as before), null or length-mismatched input
    * → null (zip_with padded the shorter side with nulls, which nulled the
    * whole sum) — so every scored value is bit-for-bit unchanged
    * (mismatches=0 over the full corpus pair set, tools/SimBench). The LSH
    * knn scans call the same functions directly.
    */
  private[graft] def cosine(a: Array[Float], b: Array[Float]): java.lang.Double =
    if (a == null || b == null || a.length != b.length) null
    else {
      var dp = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dp += x * y; n1 += x * x; n2 += y * y
        i += 1
      }
      dp / math.sqrt(n1 * n2)
    }

  private val dotUdf = udf { (a: Array[Float], b: Array[Float]) =>
    if (a == null || b == null || a.length != b.length) null
    else {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      (s: java.lang.Double)
    }
  }

  private def l2Dist(a: Array[Float], b: Array[Float]): java.lang.Double =
    if (a == null || b == null || a.length != b.length) null
    else {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }

  /** 1/(1+dist), the arithmetic of [[l2SimColC]]. */
  private[graft] def l2Sim(a: Array[Float], b: Array[Float]): java.lang.Double = {
    val d = l2Dist(a, b)
    if (d == null) null else 1.0 / (1.0 + d)
  }

  private val cosineUdf = udf(cosine _)
  private val l2DistUdf = udf(l2Dist _)

  private val l1DistUdf = udf { (a: Array[Float], b: Array[Float]) =>
    if (a == null || b == null || a.length != b.length) null
    else {
      var s = 0.0; var i = 0
      while (i < a.length) { s += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
      (s: java.lang.Double)
    }
  }

  def cosineCol(a: String, b: String): Column = cosineColC(col(a), col(b))

  def cosineColC(a: Column, b: Column): Column = cosineUdf(a, b)

  def dotColC(a: Column, b: Column): Column = dotUdf(a, b)

  def dotCol(a: String, b: String): Column = dotColC(col(a), col(b))

  def l2DistColC(a: Column, b: Column): Column = l2DistUdf(a, b)

  def l2DistCol(a: String, b: String): Column = l2DistColC(col(a), col(b))

  def l1DistColC(a: Column, b: Column): Column = l1DistUdf(a, b)

  def l1DistCol(a: String, b: String): Column = l1DistColC(col(a), col(b))

  /** L2 similarity 1/(1+dist) ≙ `ExactModel.l2Similarity`. */
  def l2SimColC(a: Column, b: Column): Column = lit(1.0) / (lit(1.0) + l2DistColC(a, b))

  /** L1 similarity 1/(1+dist) ≙ `ExactModel.l1Similarity`. */
  def l1SimColC(a: Column, b: Column): Column = lit(1.0) / (lit(1.0) + l1DistColC(a, b))

  /** Exact-knn similarity family — ≙ the reference's `Similarity` enum
    * (`/root/reference/elastiknn-api4s/.../api/Similarity.scala:3-5`) for
    * the dense-float corpus kinds; `Exact` queries accept any of them
    * (compat matrix, `docs/pages/api.md:689-715`). The sparse kinds
    * (Jaccard/Hamming) live on the text/bit paths ([[VerifyPairs]],
    * [[SimHashPairs]]) where the payload is a set, not a float vector.
    */
  sealed trait Similarity extends Serializable
  object Similarity {
    case object Cosine extends Similarity

    /** 1/(1+‖a−b‖₂) ≙ `ExactModel.l2Similarity`. */
    case object L2 extends Similarity

    /** 1/(1+‖a−b‖₁) ≙ `ExactModel.l1Similarity`. */
    case object L1 extends Similarity
    case object Dot extends Similarity
  }

  /** The scoring column for a [[Similarity]] — all four are the primitive
    * kernels above (identical arithmetic to the former HOF columns).
    */
  def simColC(similarity: Similarity, a: Column, b: Column): Column = similarity match {
    case Similarity.Cosine => cosineColC(a, b)
    case Similarity.L2     => l2SimColC(a, b)
    case Similarity.L1     => l1SimColC(a, b)
    case Similarity.Dot    => dotColC(a, b)
  }

  /** Bounded top-k aggregator over (sim, id) candidates: keeps the k best
    * by (sim desc, id asc) in both partial and merge phases. Buffer is a
    * sorted list bounded at k, so map-side partials are O(k) — the shuffle
    * never carries the full candidate set.
    */
  final class TopKAgg(k: Int) extends Aggregator[(Double, Long), List[(Double, Long)], Seq[(Double, Long)]] {
    // Total order via Double.compare: NaN sims (zero-norm vectors → 0/0
    // cosine) sort deterministically largest instead of making better()
    // false both ways, which would leave the kept top-k dependent on
    // partition/merge arrival order.
    private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      c > 0 || (c == 0 && a._2 < b._2)
    }
    private def insert(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] = {
      val (front, back) = buf.span(better(_, x))
      val merged = front ::: (x :: back)
      if (merged.length > k) merged.take(k) else merged
    }
    def zero: List[(Double, Long)] = Nil
    def reduce(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] = insert(buf, x)
    // both buffers are sorted best-first → linear merge, not k× list insert
    def merge(a: List[(Double, Long)], b: List[(Double, Long)]): List[(Double, Long)] = {
      val out = List.newBuilder[(Double, Long)]
      var (xs, ys, n) = (a, b, 0)
      while (n < k && (xs.nonEmpty || ys.nonEmpty)) {
        if (ys.isEmpty || (xs.nonEmpty && better(xs.head, ys.head))) { out += xs.head; xs = xs.tail }
        else { out += ys.head; ys = ys.tail }
        n += 1
      }
      out.result()
    }
    def finish(buf: List[(Double, Long)]): Seq[(Double, Long)] = buf
    def bufferEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
    def outputEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Per-query top-k of `scored` (q_id, n_id, sim) rows via the bounded
    * aggregator; emits (q_id, rank, n_id, sim) with sim rounded to 6.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k))
    scored
      .groupBy(col("q_id"))
      .agg(agg(col("sim"), col("n_id").cast("long")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("q_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("entry._2").as("n_id"),
        round(col("entry._1"), 6).as("sim"))
  }

  /** S2 dims validation ≙ `VectorMapper.scala:27-40`: the reference rejects
    * any vector whose length differs from the mapping's dims. Returns rows
    * annotated with `n_dims`/`is_valid`; [[validDims]] filters to the
    * accepted set (the write-path behavior), keeping the reject count
    * observable as a metric instead of silently mis-zipping downstream.
    */
  def dimsReport(df: DataFrame, dims: Int, embCol: String = "embedding"): DataFrame =
    df.withColumn("n_dims", size(col(embCol)))
      .withColumn("is_valid", (col("n_dims") === dims).cast("int"))

  def validDims(df: DataFrame, dims: Int, embCol: String = "embedding"): DataFrame =
    df.filter(size(col(embCol)) === dims)

  /** Brute-force top-k neighbors for each query vector under any
    * [[Similarity]] (default cosine) — ≙ the reference's `Exact` query
    * accepting all similarities. Queries are broadcast (small side); the
    * corpus streams — one pass, no quadratic shuffle, k-bounded aggregation.
    */
  def exactTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                similarity: Similarity = Similarity.Cosine): DataFrame = {
    val q = queries.select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").cast("long").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", simColC(similarity, col("q_emb"), col("n_emb")))
    topK(scored.select("q_id", "n_id", "sim"), k)
  }

  /** Hyperplane-LSH ANN: both sides hash with the seeded CosineLshModel;
    * candidates = pairs sharing ≥1 band bucket; exact cosine re-score;
    * per-query top-k. Recall grows with L and shrinks with rowsPerBand
    * exactly as in the reference (`RecallSuite.scala:59-91`).
    * One [[ProbeScan]]: the corpus is read once, hashed and scored per
    * partition into the [[TopKAgg]] partials, so at most k rows per (query,
    * partition) are exchanged. `dims ≤ 0` takes d from the collected queries.
    */
  def lshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
              numTables: Int = 64, rowsPerBand: Int = 4, seed: Long = 0L,
              dims: Int = -1): DataFrame = {
    val hash = (d: Int) => { val m = new CosineLshModel(d, numTables, rowsPerBand, seed); m.hash _ }
    topK(ProbeScan.knnScored(queries, corpus, dims, numTables, hash, hash, cosine), k)
  }

  /** L2 (p-stable) LSH knn with optional multiprobe — ≙ the reference's
    * `NearestNeighborsQuery.L2Lsh(probes)` read path (`L2LshModel.java:88-140`).
    * The corpus is indexed unprobed; queries emit `probes` extra perturbed
    * buckets per table (Qin et al. shift/expand heap, [[graft.kernels.L2LshModel.hashWithProbes]]),
    * raising recall at fixed L without reindexing. Candidates = distinct
    * bucket-sharing pairs; exact 1/(1+dist) re-score; bounded top-k — the
    * same [[ProbeScan]] shape as [[lshTopK]].
    */
  def l2LshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
                numTables: Int = 24, rowsPerBand: Int = 2, w: Int = 4, probes: Int = 0,
                seed: Long = 0L, dims: Int = -1): DataFrame = {
    def hash(p: Int)(d: Int): Array[Float] => Array[Long] = {
      val m = new graft.kernels.L2LshModel(d, numTables, rowsPerBand, w, seed)
      if (p > 0) m.hashWithProbes(_, p) else m.hash _
    }
    topK(ProbeScan.knnScored(queries, corpus, dims, numTables * (1 + probes), hash(probes), hash(0), l2Sim), k)
  }

  /** Permutation-LSH top-k — ≙ `NearestNeighborsQuery.PermutationLsh` with
    * the freq-aware `min(queryFreq, docFreq)` hit counting of
    * `MatchHashesAndScoreQuery.java:74-81` (C2). Score = Σ min(qf, nf) over
    * shared sign-tagged top-|value| index terms; deterministic id-order
    * tiebreak; bounded top-k (scores are small ints — exactly representable
    * as the aggregator's Double ranking key).
    */
  def permutationTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
                      poolSize: Int = 16, repeating: Boolean = true): DataFrame = {
    import spark.implicits._
    def terms(df: DataFrame, idCol: String, freqCol: String): DataFrame =
      df.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
        .mapPartitions { iter =>
          val model = new graft.kernels.PermutationLshModel(poolSize, repeating)
          iter.flatMap { case (id, e) => model.hash(e).map { case (t, f) => (id, t, f) } }
        }.toDF(idCol, "term", freqCol)
    val q = terms(queries, "q_id", "q_freq")
    val c = terms(corpus, "n_id", "n_freq")
    val scored = q.join(c, Seq("term"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(least(col("q_freq"), col("n_freq"))).cast("double").as("sim"))
    topK(scored.select("q_id", "n_id", "sim"), k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim").cast("long").as("score"))
  }

  /** Seed constant for the IVF centroid sample order (any fixed odd-ish
    * 64-bit constant works; this one is the engine's string-hash salt).
    */
  val IvfSampleSeed: Long = 0x51_7c_c1_b7_27_22_0a_95L

  /** Above this many cells the per-row assignment switches from inline
    * codegen'd expressions (whose size is linear in nCells — wrong shape at
    * 4096 cells) to a `mapPartitions` kernel with the centroid table in the
    * task closure.
    */
  val IvfKernelThreshold: Int = 64

  /** IVF-style ANN. Centroids are a seeded pseudo-random sample of the
    * corpus: the `nCells` vectors minimizing `mix64(SEED·φ + vec_id)` — a
    * uniform sample regardless of id distribution (the round-2 pick,
    * `vec_id < nCells`, silently assumed contiguous ids from 0 and was only
    * uniform by accident of the testdata). `orderBy(hash).limit(nCells)` is
    * a TakeOrdered: one bounded pass, one bounded driver collect — the one
    * deliberate driver-side collect in the engine, ≙ broadcasting k-means
    * centers (a production k-means refinement moves only this table, not
    * the plan shape). cell_id = the centroid's vec_id.
    *
    * Assignment is a single narrow pass with two shapes:
    *   - nCells ≤ [[IvfKernelThreshold]]: an `array_min` over nCells
    *     codegen'd cosine expressions (no row blow-up, no corpus window);
    *   - nCells > threshold: a `mapPartitions` argmax kernel over the
    *     closure-captured centroid table — O(nCells·dims) tight loop per
    *     row instead of an O(nCells)-sized expression tree.
    * Both break sim ties toward the smaller cell_id and treat NaN cosines
    * (zero-norm vectors) as worst.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
              kernelThreshold: Int = IvfKernelThreshold): DataFrame = {
    val sampleHash = udf { (id: Long) => graft.kernels.Hashing.mix64(IvfSampleSeed, id) }
    val centroids: Array[(Long, Array[Float])] = corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .orderBy(sampleHash(col("vec_id")), col("vec_id"))
      .limit(nCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(centroids.nonEmpty, "IVF centroid sample is empty: corpus has no rows")

    val spark = corpus.sparkSession
    import spark.implicits._

    def topCells(df: DataFrame, idCol: String, embAlias: String, n: Int): DataFrame =
      if (nCells <= kernelThreshold) {
        // struct array (−sim, cell_id): array_sort ranks best-first, NaN
        // negsim sorts last, ties → min cell_id
        val scores = array(centroids.map { case (cid, emb) =>
          struct((-cosineColC(col(embAlias), typedlit(emb))).as("negsim"), lit(cid).as("cell_id"))
        }: _*)
        df.withColumn("probe", explode(slice(array_sort(scores), 1, n)))
          .select(col("probe.cell_id").as("cell_id"), col(idCol), col(embAlias))
      } else {
        val cens = centroids // capture the table, not the DataFrame
        df.select(col(idCol).cast("long"), col(embAlias)).as[(Long, Array[Float])]
          .mapPartitions { iter =>
            val m = cens.length
            val nk = math.min(n, m)
            // scratch reused across rows: the per-row sims and the bounded
            // best-first selection buffer — no per-row allocation but the
            // emitted cell array itself
            val sims = new Array[Double](m)
            val sel = new Array[Int](nk)
            // total order (−sim, cell_id): Double.compare treats NaN sims
            // (zero-norm vectors) as largest, so −NaN ranks last = worst —
            // the same placement the inline struct sort gives; ties break
            // toward the smaller cell_id (cens is sorted by id)
            def better(a: Int, b: Int): Boolean = {
              val c = java.lang.Double.compare(-sims(a), -sims(b))
              c < 0 || (c == 0 && cens(a)._1 < cens(b)._1)
            }
            iter.map { case (id, emb) =>
              var i = 0
              while (i < m) { sims(i) = graft.kernels.ExactSim.cosine(emb, cens(i)._2); i += 1 }
              // bounded insertion selection: O(m·nk) worst case with
              // nk ≤ nProbe, vs a full O(m log m) sort + two array
              // allocations per row — the shape the >threshold branch
              // exists for (thousands of cells, single-digit probes)
              var filled = 0
              i = 0
              while (i < m) {
                if (filled < nk || better(i, sel(filled - 1))) {
                  var pos = math.min(filled, nk - 1)
                  while (pos > 0 && better(i, sel(pos - 1))) { sel(pos) = sel(pos - 1); pos -= 1 }
                  sel(pos) = i
                  if (filled < nk) filled += 1
                }
                i += 1
              }
              val kept = new Array[Long](filled)
              i = 0
              while (i < filled) { kept(i) = cens(sel(i))._1; i += 1 }
              (id, emb, kept)
            }
          }
          .toDF(idCol, embAlias, "cells")
          .select(explode(col("cells")).as("cell_id"), col(idCol), col(embAlias))
      }

    val assigned = topCells(
      corpus.select(col("vec_id").cast("long").as("n_id"), col("embedding").as("n_emb")),
      "n_id", "n_emb", n = 1)

    val probes = topCells(
      queries.select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_emb")),
      "q_id", "q_emb", n = nProbe)

    val scored = broadcast(probes).join(assigned, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosineCol("q_emb", "n_emb"))
    topK(scored.select("q_id", "n_id", "sim"), k)
  }
}
