package perfbench

import graft.{Dedup, DedupConfig}
import graft.kernels.Shingler
import graft.operators.{CandidatePairs, ConnectedComponents, Knn}
import graft.operators.Knn.Similarity
import graft.plans.CheckpointedPipeline
import graft.sources.TranscriptGen
import graft.streaming.StreamingDedup
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one checked call contributed to the quality metrics. */
final case class Outcome(ok: Boolean, detail: String,
                         pairs: Truth.PairCounts = Truth.PairCounts.Zero,
                         knnHits: Long = 0, knnTotal: Long = 0)

/** Inputs of the kernel layer: a fixed sample of the workload's own inputs. */
final case class KernelSample(texts: Array[String], pairs: Array[(Array[Long], Array[Long])],
                              vecs: Array[Array[Float]])

/** A closed-loop workload. [[setup]] builds everything a call needs and the
  * exact truth; [[call]] makes one call into the engine (split at the layer
  * boundaries when the tracer is on) and returns the check to run once the
  * call's timing has stopped.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: Path) {
  val cfg: DedupConfig = DedupConfig()
  /** input sizes (convs, turns, parquet bytes) for the run's record */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** per-layer counters summed over traced calls */
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def setup(): Unit
  /** the tables set-up feeds the engine */
  def inputs: Seq[DataFrame]
  def call(i: Int, tr: Tracer): () => Outcome
  /** untimed calls that end set-up (JIT and first-use warm-up) */
  def warmupCalls: Int = 1
  /** number of distinct call inputs; the loop stops there */
  def capacity: Int = Int.MaxValue
  /** calls per rotation of call kinds; the timed loop ends on a whole one,
    * so per-call medians always see the same mix
    */
  def rotation: Int = 1
  /** whether call `i` may be made twice (the traced run pairs each traced
    * call with an untraced one on the same input when it may)
    */
  def repeatable: Boolean = true
  def items(i: Int): Long
  def kernelSample: KernelSample

  protected def count(name: String, v: Double): Unit = counters(name) += v

  /** seconds each named set-up phase took in the latest set-up */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  protected def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Writes `df` as parquet under the workload dir and reads it back, so the
    * engine reads a table with honest size statistics.
    */
  protected def materialize(df: DataFrame, name: String, partitionBy: String*): DataFrame = {
    val p = dir.resolve(name).toString
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(p)
    spark.read.parquet(p)
  }

  protected def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  protected def recordInput(convs: Long, turns: Long, table: String): Unit = {
    info("convs") = convs
    info("turns") = turns
    info("bytes") = info.getOrElse("bytes", 0L).asInstanceOf[Long] + dirBytes(dir.resolve(table))._1
  }

  protected def shinglesOf(text: String): Array[Long] =
    Shingler.shingles(text, cfg.shingleK, cfg.shingleMode, cfg.seed)

  /** doc texts of `turns` as the engine assembles them, keyed by conv_id */
  protected def docTexts(turns: DataFrame): Map[String, String] =
    Dedup.documents(turns).select("conv_id", "doc_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Checks a (conv_id, cluster_id) result against truth labels. */
  protected def checkClusters(rows: Array[(String, String)], ids: IndexedSeq[String],
                              truth: Array[Int]): Outcome = {
    val got = rows.toMap
    if (rows.length != ids.length || got.size != ids.length)
      return Outcome(ok = false, s"expected ${ids.length} cluster rows, got ${rows.length} (${got.size} distinct)")
    val pred = ids.map(id => got.getOrElse(id, null)).toArray
    if (pred.contains(null)) return Outcome(ok = false, "documents missing from the cluster output")
    val pc = Truth.clusterPairs(pred, truth)
    val ok = pc.precision == 1.0 && pc.recall >= 0.99
    Outcome(ok, f"pair recall ${pc.recall}%.4f precision ${pc.precision}%.4f", pc)
  }

  /** Truth components of `docs` (id, shingles, family): exact Jaccard inside a
    * family, union-find over the pairs at or above θ.
    */
  protected def truthLabels(docs: IndexedSeq[(String, Array[Long], String)]): Array[Int] = {
    val groups = docs.indices.groupBy(i => docs(i)._3).values.map(_.toArray).filter(_.length > 1)
    Truth.components(docs.map(_._2).toArray, groups, cfg.theta)
  }

  /** The below-θ-by-construction property of a generator: every in-family
    * pair with different planted ids is below θ, and every pair `linked`
    * names (the planted near-duplicate links) is at or above it.
    */
  protected def assertConstruction(docs: IndexedSeq[GenDoc], sh: Map[String, Array[Long]],
                                   linked: (GenDoc, GenDoc) => Boolean): Unit =
    docs.groupBy(_.family).values.foreach { fam =>
      for (x <- fam.indices; y <- x + 1 until fam.length) {
        val (a, b) = (fam(x), fam(y))
        val j = Truth.jaccard(sh(a.id), sh(b.id))
        if (a.planted != b.planted)
          require(j < cfg.theta, s"generator broke its construction: ${a.id} ~ ${b.id} J=$j ≥ θ")
        else if (linked(a, b))
          require(j >= cfg.theta, s"generator broke its construction: planted ${a.id} ~ ${b.id} J=$j < θ")
      }
    }
}

/** Batch dedup of one corpus: `Dedup.pipeline` per call (batch_dedup,
  * hot_buckets). The traced call runs the same stages one at a time.
  */
abstract class PipelineWorkload(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  protected var input: DataFrame = _
  protected var ids: IndexedSeq[String] = _
  protected var truth: Array[Int] = _
  protected var turns: Long = 0
  protected var sample: KernelSample = _

  def items(i: Int): Long = turns
  def kernelSample: KernelSample = sample
  def inputs: Seq[DataFrame] = Seq(input)

  /** (id, family) of every document, and the turns table */
  protected def generate(): (IndexedSeq[(String, String)], DataFrame)
  protected def afterTexts(texts: Map[String, String], sh: Map[String, Array[Long]]): Unit = ()

  def setup(): Unit = {
    val docs = phase("input") {
      val (docs, table) = generate()
      input = materialize(table, "input")
      turns = input.count()
      recordInput(docs.size.toLong, turns, "input")
      docs
    }
    val texts = phase("texts")(docTexts(input))
    val sh = phase("truth") {
      val sh = texts.map { case (id, t) => id -> shinglesOf(t) }
      afterTexts(texts, sh)
      ids = docs.map(_._1)
      truth = truthLabels(docs.map { case (id, fam) => (id, sh(id), fam) })
      sh
    }
    // kernel sample: the first 256 docs and up to 4096 in-family pairs
    val fams = docs.groupBy(_._2).values.filter(_.size > 1).toSeq.sortBy(_.head._1)
    val pairs = fams.iterator.flatMap(f => f.combinations(2).take(64).map(p => (sh(p(0)._1), sh(p(1)._1)))).take(4096).toArray
    sample = KernelSample(ids.take(256).map(texts).toArray, pairs, Array.empty)
  }

  def call(i: Int, tr: Tracer): () => Outcome = {
    val (rows, counters) =
      if (!tr.enabled) (Dedup.pipeline(spark, input, cfg).select("conv_id", "cluster_id").collect(), () => ())
      else tr.call(i)(tracedPipeline(tr))
    val out = rows.map(r => (r.getString(0), r.getString(1)))
    () => { counters(); checkClusters(out, ids, truth) }
  }

  /** `Dedup.pipeline`, one public stage at a time, each materialized inside
    * its own span (the stage boundaries the pipeline itself checkpoints at,
    * plus assembly and components). Row counts are taken after the call.
    */
  private def tracedPipeline(tr: Tracer) = {
    val m = CandidatePairs.CandidateMetrics.register(spark)
    val docs = tr.span("assembly")(Dedup.documents(input).localCheckpoint(eager = true))
    val sigs = tr.span("signatures")(Dedup.signatures(spark, docs, cfg).localCheckpoint(eager = true))
    val groups = tr.span("repgroups")(Dedup.repGroups(sigs).localCheckpoint(eager = true))
    val rb = groups.select(col("rep").as("conv_id"), col("bands"))
    val cand = tr.span("candidates")(Dedup.candidates(rb, cfg, Some(m)).localCheckpoint(eager = true))
    val ver = tr.span("verify")(Dedup.verify(cand, sigs, cfg).localCheckpoint(eager = true))
    val reps = groups.select(col("rep").as("conv_id"))
    val repClusters = tr.span("components")(ConnectedComponents.assign(reps, ver).localCheckpoint(eager = true))
    val rows = Dedup.mappingFrom(sigs, groups)
      .join(repClusters.withColumnRenamed("conv_id", "rep").select(col("rep"), col("cluster_id")), Seq("rep"))
      .select(col("conv_id"), col("cluster_id"))
      .collect()
    val counters = () => {
      val nDocs = docs.count().toDouble
      val nGroups = groups.count().toDouble
      val nCand = cand.count().toDouble
      val nVer = ver.count().toDouble
      count("assembly.rows_out", nDocs)
      count("signatures.rows_out", sigs.count().toDouble)
      count("signatures.shingles", sigs.agg(sum(col("n_shingles"))).first().getLong(0).toDouble)
      count("repgroups.rows_out", nGroups)
      count("repgroups.docs", nDocs)
      count("candidates.postings", nGroups * cfg.numTables)
      count("candidates.rows_out", nCand)
      count("candidates.pairs", nCand)
      count("candidates.hot_buckets", m.hotBuckets.value.toDouble)
      count("candidates.hot_postings", m.hotPostings.value.toDouble)
      count("candidates.salted_pairs", m.saltedPairs.value.toDouble)
      count("verify.pairs_in", nCand)
      count("verify.pairs_out", nVer)
      count("verify.rows_out", nVer)
      count("components.edges", nVer)
      count("components.rows_out", repClusters.count().toDouble)
      count("components.clusters", rows.map(_.getString(1)).distinct.length.toDouble)
    }
    (rows, counters)
  }
}

/** `batch_dedup`: the flagship shape — a TranscriptGen corpus of long
  * multi-turn conversations with 3 planted dups in every 10.
  */
final class BatchDedup(spark: SparkSession, seed: Long, dir: Path, convs: Int)
    extends PipelineWorkload(spark, seed, dir) {
  protected def generate(): (IndexedSeq[(String, String)], DataFrame) = {
    val docs = (0L until convs).map(i => (f"conv-$i%08d", Gen.transcriptFamily(i)))
    (docs, TranscriptGen.df(spark, convs.toLong, seed, partitions = 4))
  }
}

/** `hot_buckets`: short docs in large families that collide in band buckets
  * but stay below θ, plus planted near-dups, chains and exact cliques. Runs
  * with `bucketCap` = 64, so the families overflow the cap and the salted
  * block join runs (default cap 512 would need families of ~900 docs,
  * several seconds per call on 4 cores).
  */
final class HotBuckets(spark: SparkSession, seed: Long, dir: Path, families: Int, members: Int)
    extends PipelineWorkload(spark, seed, dir) {
  override val cfg: DedupConfig = DedupConfig(bucketCap = 64)
  private var gen: IndexedSeq[GenDoc] = _
  protected def generate(): (IndexedSeq[(String, String)], DataFrame) = {
    gen = Gen.hotBuckets(seed, families, members, pairs = 5, chainLen = 12, cliqueSize = 150).toIndexedSeq
    (gen.map(d => (d.id, d.family)), spark.createDataFrame(Gen.toTurns(gen)).repartition(4))
  }
  override protected def afterTexts(texts: Map[String, String], sh: Map[String, Array[Long]]): Unit = {
    // links: consecutive docs of one planted pair or chain
    val next = gen.zip(gen.drop(1)).map { case (a, b) => a.id -> b.id }.toMap
    assertConstruction(gen.filter(_.family.startsWith("fam")), sh, (a, b) => next.get(a.id).contains(b.id))
  }
}

/** `append_stream`: `CheckpointedPipeline.run` on a base corpus in set-up,
  * then one `append` of a small batch per call ([[Gen.AppendCorpus]]: every
  * conversation has 8 turns, so every batch has the same size).
  */
final class AppendStream(spark: SparkSession, seed: Long, dir: Path, baseConvs: Int,
                         fresh: Int, copies: Int, maxBatches: Int) extends Workload(spark, seed, dir) {
  private val work = dir.resolve("ckpt").toString
  private var base: DataFrame = _
  private var batches: DataFrame = _
  private var batchDocs: IndexedSeq[IndexedSeq[GenDoc]] = _
  private var allDocs: IndexedSeq[(String, Array[Long], String)] = _
  private var sample: KernelSample = _

  def items(i: Int): Long = batchDocs(i).map(_.turns.length.toLong).sum
  def kernelSample: KernelSample = sample
  def inputs: Seq[DataFrame] = Seq(base, batches)
  override def capacity: Int = maxBatches
  override def repeatable: Boolean = false

  def setup(): Unit = {
    import spark.implicits._
    val baseDocs = Gen.AppendCorpus.base(seed, baseConvs)
    batchDocs = (0 until maxBatches).map(b => Gen.AppendCorpus.batch(seed, b, fresh, copies, baseDocs))
    phase("input") {
      base = materialize(spark.createDataFrame(Gen.toTurns(baseDocs)).coalesce(4), "base")
      // every batch in one small table with a batch number column
      batches = materialize(batchDocs.zipWithIndex.flatMap { case (ds, b) => Gen.toTurns(ds).map(t => (b, t)) }
        .map { case (b, t) => (b, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) }
        .toDF("batch", "conv_id", "turn_idx", "role", "text", "tool", "ts").coalesce(1), "batches")
    }
    val docs = baseDocs ++ batchDocs.flatten
    recordInput(docs.size.toLong, docs.map(_.turns.length.toLong).sum, "base")
    info("bytes") = info("bytes").asInstanceOf[Long] + dirBytes(dir.resolve("batches"))._1
    info("batch_convs") = fresh + copies
    val texts = phase("texts")(docTexts(base) ++ docTexts(batches.drop("batch")))
    phase("truth") { allDocs = docs.map(d => (d.id, shinglesOf(texts(d.id)), d.family)) }
    sample = KernelSample(allDocs.take(256).map(d => texts(d._1)).toArray,
      allDocs.groupBy(_._3).values.filter(_.size > 1).flatMap(g => g.combinations(2).take(16).map(p => (p(0)._2, p(1)._2)))
        .take(4096).toArray,
      Array.empty)
    phase("initial_run")(CheckpointedPipeline.run(spark, base, cfg, work)._1.count())
  }

  private def batch(i: Int): DataFrame = batches.filter(col("batch") === i).drop("batch")

  def call(i: Int, tr: Tracer): () => Outcome = {
    val before = if (tr.enabled) dirBytes(Paths.get(work)) else (0L, 0L)
    val (rows, stages) = tr.call(i) {
      tr.span("checkpoint") {
        val (out, st) = CheckpointedPipeline.append(spark, batch(i), cfg, work)
        (out.select("conv_id", "cluster_id").collect(), st)
      }
    }
    if (tr.enabled) {
      val after = dirBytes(Paths.get(work))
      count("checkpoint.bytes_written", (after._1 - before._1).toDouble)
      count("checkpoint.files_written", (after._2 - before._2).toDouble)
      count("checkpoint.stage_s", stages.map(_.wallSec).sum)
      count("checkpoint.rows_out", rows.length.toDouble)
    }
    val out = rows.map(r => (r.getString(0), r.getString(1)))
    // the index after batch i: the base plus batches 0..i
    val n = baseConvs + (i + 1) * (fresh + copies)
    () => {
      val docs = allDocs.take(n)
      checkClusters(out, docs.map(_._1), truthLabels(docs))
    }
  }
}

/** `probe_index`: a static index of text signatures and of dense vectors;
  * each call is one probe batch, in a fixed rotation of
  * `StreamingDedup.nearDupVerified`, `Knn.lshTopK` and `Knn.l2LshTopK`.
  */
final class ProbeIndex(spark: SparkSession, seed: Long, dir: Path, indexDocs: Int, textBatches: Int,
                       textBatch: Int, vecBatches: Int, vecBatch: Int, noise: Int) extends Workload(spark, seed, dir) {
  val K = 10
  val Dims = 32
  private var docsDf: DataFrame = _
  private var probesDf: DataFrame = _
  private var indexSigs: DataFrame = _
  private var probeSigs: DataFrame = _
  private var corpus: DataFrame = _
  private var queries: DataFrame = _
  private var textTruth: IndexedSeq[Set[(String, String)]] = _
  private var knnTruth: Map[(String, Long), Map[Long, Double]] = _
  private var sample: KernelSample = _

  private def kind(i: Int): Int = i % 3
  override def warmupCalls: Int = 3
  override def rotation: Int = 3
  def inputs: Seq[DataFrame] = Seq(docsDf, probesDf, corpus, queries)
  def items(i: Int): Long = if (kind(i) == 0) textBatch else vecBatch
  def kernelSample: KernelSample = sample

  def setup(): Unit = {
    import spark.implicits._
    val index = Gen.probeIndexDocs(seed, indexDocs).toIndexedSeq
    val probes = (0 until textBatches).map(b => Gen.probeBatch(seed, b, textBatch, index))
    val probeTurns = probes.zipWithIndex.flatMap { case (ps, b) => Gen.toTurns(ps).map(t => (b, t)) }
    val (cv, qv) = Gen.vectors(seed, Dims, vecBatches, vecBatch, K, noise)
    phase("input") {
      docsDf = materialize(spark.createDataFrame(Gen.toTurns(index)).repartition(4), "index_turns")
      probesDf = materialize(probeTurns.map { case (b, t) => (b, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) }
        .toDF("batch", "conv_id", "turn_idx", "role", "text", "tool", "ts").repartition(4), "probe_turns", "batch")
      corpus = materialize(cv.toDF("vec_id", "embedding").repartition(4), "corpus")
      queries = materialize(qv.zipWithIndex.flatMap { case (qs, b) => qs.map { case (id, v) => (b, id, v) } }
        .toDF("batch", "vec_id", "embedding"), "queries", "batch")
    }
    phase("index_build") {
      indexSigs = materialize(Dedup.signatures(spark, Dedup.documents(docsDf), cfg), "index_sigs")
      val batchOf = probeTurns.map { case (b, t) => t.conv_id -> b }.toMap
      val bUdf = udf((id: String) => batchOf(id))
      probeSigs = materialize(Dedup.signatures(spark, Dedup.documents(probesDf.drop("batch")), cfg)
        .withColumn("batch", bUdf(col("conv_id"))), "probe_sigs", "batch")
    }
    val texts = phase("texts")(docTexts(docsDf) ++ docTexts(probesDf.drop("batch")))
    val sh = texts.map { case (id, t) => id -> shinglesOf(t) }
    val byFam = index.map(d => d.family -> d.id).toMap
    phase("truth") {
      // links: a near-duplicate probe and the index doc it copies
      assertConstruction(index ++ probes.flatten, sh, (a, b) => a.id.startsWith("ix") != b.id.startsWith("ix"))
      // text truth: exact Jaccard of every probe against its family's index doc
      textTruth = probes.map(_.flatMap { p =>
        byFam.get(p.family).filter(ix => Truth.jaccard(sh(p.id), sh(ix)) >= cfg.theta).map(ix => (p.id, ix))
      }.toSet)
      // the exact top-k of every query under both similarities
      val allQ = queries.drop("batch")
      knnTruth = Seq("cos" -> Similarity.Cosine, "l2" -> Similarity.L2).flatMap { case (name, sim) =>
        Knn.exactTopK(allQ, corpus, K, sim).collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => (name, q) -> rs.map(r => r.getLong(2) -> r.getDouble(3)).toMap }
      }.toMap
    }
    recordInput(indexDocs.toLong + textBatches.toLong * textBatch, probeTurns.size.toLong + index.map(_.turns.length).sum,
      "index_turns")
    info("bytes") = info("bytes").asInstanceOf[Long] + Seq("probe_turns", "corpus", "queries")
      .map(t => dirBytes(dir.resolve(t))._1).sum
    info("vectors") = cv.size
    info("queries") = vecBatches * vecBatch
    val pairSample = probes.flatten.flatMap(p => byFam.get(p.family).map(ix => (sh(p.id), sh(ix)))).take(4096).toArray
    sample = KernelSample(index.take(256).map(d => texts(d.id)).toArray, pairSample,
      (cv.take(512) ++ qv.flatten).map(_._2).toArray)
  }

  def call(i: Int, tr: Tracer): () => Outcome = {
    val kindNo = kind(i)
    val round = i / 3
    val rows = tr.call(i)(tr.span("probe") {
      kindNo match {
        case 0 =>
          val b = round % textBatches
          StreamingDedup.nearDupVerified(probeSigs.filter(col("batch") === b).drop("batch"), indexSigs, cfg)
            .select("conv_id", "matched_id").collect()
        case k =>
          val qs = queries.filter(col("batch") === round % vecBatches).drop("batch")
          if (k == 1) Knn.lshTopK(spark, qs, corpus, K, dims = Dims).collect()
          else Knn.l2LshTopK(spark, qs, corpus, K, probes = 3, dims = Dims).collect()
      }
    })
    if (tr.enabled) count("probe.rows_out", rows.length.toDouble)
    kindNo match {
      case 0 =>
        val truth = textTruth(round % textBatches)
        val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
        () => {
          val pc = Truth.pairSets(got, truth)
          Outcome(pc.precision == 1.0 && pc.recall >= 0.99 && got.size == rows.length,
            f"probe pairs recall ${pc.recall}%.4f precision ${pc.precision}%.4f", pc)
        }
      case k =>
        val name = if (k == 1) "cos" else "l2"
        val got = rows.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        () => checkKnn(name, got, round % vecBatches)
    }
  }

  /** recall@k against `Knn.exactTopK`; every returned neighbour must carry
    * its exact similarity, and recall must reach 0.9.
    */
  private def checkKnn(name: String, got: Array[(Long, Long, Double)], batch: Int): Outcome = {
    val byQ = got.groupBy(_._1)
    var hits = 0L
    var total = 0L
    var badSim = 0
    val mine = knnTruth.keys.collect { case (`name`, q) if (q - 1000000000L) / vecBatch == batch => q }
    mine.foreach { q =>
      val exact = knnTruth((name, q))
      val returned = byQ.getOrElse(q, Array.empty)
      total += exact.size
      hits += returned.count(r => exact.contains(r._2))
      badSim += returned.count(r => exact.get(r._2).exists(s => math.abs(s - r._3) > 1e-6))
    }
    val recall = if (total == 0) 1.0 else hits.toDouble / total
    Outcome(badSim == 0 && recall >= 0.9 && byQ.keySet.subsetOf(mine.toSet),
      f"$name recall@$K $recall%.4f, $badSim wrong similarities", knnHits = hits, knnTotal = total)
  }
}
