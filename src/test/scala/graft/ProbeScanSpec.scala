package graft

import graft.operators.{EmbeddingDedup, Knn, ProbeScan, SimHashPairs, VerifyPairs}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** The broadcast-then-narrow scans: the probe-vs-index scan and the
  * pair-scoring scan, their byte gate and chunked path, and the Spark jobs
  * one call costs.
  */
class ProbeScanSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A chunked probe unions one index scan per chunk. */
  private def chunked(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case u: Union => u }.nonEmpty

  test("lshTopK: a query side over the byte budget is chunked and equals the one-chunk result") {
    val s = spark
    import s.implicits._
    val d = 1024
    val rnd = new scala.util.Random(7)
    val base = Array.fill(256)(Array.fill(d)(rnd.nextGaussian().toFloat))
    val corpus = base.indices.map(i => (i.toLong, base(i))).toDF("vec_id", "embedding")
    // each query row measures more than 4·d bytes, so this many exceed the budget
    val n = (ProbeScan.BroadcastBudget / (4L * d)).toInt + 64
    val queries = (0 until n).map { i =>
      (100000L + i, base(i % base.length).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").repartition(4)
    def run(q: DataFrame) = Knn.lshTopK(s, q, corpus, k = 3, numTables = 8, rowsPerBand = 4, dims = d)
    val whole = run(queries)
    val halves = Seq(0, 1).map(h => run(queries.filter(col("vec_id") % 2 === h)))
    chunked(whole) shouldBe true
    halves.exists(chunked) shouldBe false
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(whole)
    got.map(_._1).size shouldBe n
    got shouldBe halves.map(rows).reduce(_ ++ _)
  }

  test("nearDupVerified: a probe over the byte budget is chunked and equals the one-chunk result") {
    val s = spark
    import s.implicits._
    val w = 40000
    def set(i: Int, from: Int, until: Int) = (from until until).map(j => i.toLong * 1000000L + j).toArray
    // each probe row measures more than 8·w bytes of shingles
    val n = (ProbeScan.BroadcastBudget / (8L * w)).toInt + 8
    val probe = (0 until n).map(i => (f"p$i%03d", Array(7L, 10L * i + 1, 10L * i + 2), set(i, 0, w)))
      .toDF("conv_id", "bands", "shingles").repartition(4)
    // per tenth probe: a near copy (Jaccard 0.95) and a half copy (0.5, verified away);
    // band 7 is shared by every row of both sides
    val targets = 0 until n by 10
    val index = targets.flatMap { i =>
      Seq((f"n$i%03d", Array(7L, 10L * i + 1, 10L * i + 2), set(i, w / 20, w)),
        (f"h$i%03d", Array(7L, 10L * i + 1, 10L * i + 2), set(i, w / 2, w)))
    }.toDF("conv_id", "bands", "shingles")
    val cfg = DedupConfig(minBands = 2)
    val whole = StreamingDedup.nearDupVerified(probe, index, cfg)
    val halves = Seq(0, 1).map(h =>
      StreamingDedup.nearDupVerified(probe.filter(col("conv_id").substr(2, 3).cast("int") % 2 === h), index, cfg))
    chunked(whole) shouldBe true
    halves.exists(chunked) shouldBe false
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    val got = rows(whole)
    got.map(t => (t._1, t._2, t._3)) shouldBe targets.map(i => (f"p$i%03d", f"n$i%03d", 3)).toSet
    got.map(_._4) shouldBe Set(0.95)
    got shouldBe halves.map(rows).reduce(_ ++ _)
  }

  test("job budget: one nearDupVerified call runs the probe collect and one index scan") {
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(spark,
      Dedup.documents(graft.sources.TranscriptGen.df(spark, 200L).toDF()), cfg).localCheckpoint(true)
    val isProbe = col("conv_id").substr(-1, 1).isin("7", "8")
    val (pairs, jobs) = JobBudget(spark)(
      StreamingDedup.nearDupVerified(sigs.filter(isProbe), sigs.filter(!isProbe), cfg).collect())
    pairs should not be empty
    withClue(jobs.mkString("\n", "\n", "\n")) { jobs.size shouldBe 2 }
  }

  test("job budget: one lshTopK call runs the query collect, one corpus scan and the top-k merge") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0 until 500).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val (top, jobs) = JobBudget(spark)(Knn.lshTopK(spark, emb.filter(col("vec_id") < 10), emb, 5).collect())
    top.length shouldBe 50
    withClue(jobs.mkString("\n", "\n", "\n")) { jobs.size shouldBe 3 }
  }

  test("Dedup.verify: a member payload over the byte budget is chunked and equals its one-chunk halves") {
    val s = spark
    import s.implicits._
    val w = 20000
    def set(i: Int, from: Int, until: Int) = (from until until).map(j => i.toLong * 1000000L + j).toArray
    // each id_b member measures more than 8·w/2 bytes, the pairs under a kilobyte
    val n = (ProbeScan.BroadcastBudget / (4L * w)).toInt + 8
    // pair i: a near copy (Jaccard 0.95) for even i, a half copy (0.5, verified away) for odd i
    val sigs = (0 until n).flatMap { i =>
      Seq((f"p$i%03d", set(i, 0, w), 1L), (f"q$i%03d", set(i, if (i % 2 == 0) w / 20 else w / 2, w), 3L))
    }.toDF("conv_id", "shingles", "simhash").repartition(4)
    val pairs = (0 until n).map(i => (f"p$i%03d", f"q$i%03d", 9)).toDF("id_a", "id_b", "matching_bands")
    val cfg = DedupConfig()
    val whole = Dedup.verify(pairs, sigs, cfg)
    val firstHalf = col("id_a").substr(2, 3).cast("int") % 4 < 2
    val halves = Seq(firstHalf, !firstHalf).map(h => Dedup.verify(pairs.filter(h), sigs, cfg))
    chunked(whole) shouldBe true
    halves.exists(chunked) shouldBe false
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toSet
    val got = rows(whole)
    got shouldBe (0 until n by 2).map(i => (f"p$i%03d", f"q$i%03d", 9, 0.95, 63.0 / 64)).toSet
    got shouldBe halves.map(rows).reduce(_ ++ _)
  }

  test("EmbeddingDedup.dupPairs: a member payload over the byte budget is chunked and equals its one-chunk halves") {
    val s = spark
    import s.implicits._
    val d = 4096
    val rnd = new scala.util.Random(5)
    // each member measures more than 4·d bytes: the copies (the id_b side of
    // their family's pair) overflow the budget, either half of them fits
    val n = (ProbeScan.BroadcastBudget / (4L * d)).toInt + 64
    val base = Array.fill(n)(Array.fill(d)(rnd.nextGaussian().toFloat))
    // family i: a vector and a 5%-perturbed copy (cosine ≈ 0.999), ids of equal parity
    val emb = base.indices.flatMap { i =>
      Seq((i.toLong, base(i)), (100000L + i, base(i).map(x => x + 0.05f * rnd.nextGaussian().toFloat)))
    }.toDF("vec_id", "embedding").repartition(4)
    // 12 hyperplanes per band: random vectors rarely share one, near copies almost surely do
    def run(e: DataFrame) = EmbeddingDedup.dupPairs(s, e, 0.9, rowsPerBand = 12, dims = d)
    val whole = run(emb)
    val halves = Seq(0, 1).map(h => run(emb.filter(col("vec_id") % 2 === h)))
    chunked(whole) shouldBe true
    halves.exists(chunked) shouldBe false
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = rows(whole)
    got.map(t => (t._1, t._2)) shouldBe base.indices.map(i => (i.toLong, 100000L + i)).toSet
    got shouldBe halves.map(rows).reduce(_ ++ _)
  }

  test("pair scoring: duplicated payload and pair rows give the two joins' multiplicity") {
    val s = spark
    import s.implicits._
    val sigs = Seq(("a", Array(1L, 2L), 0L), ("a", Array(1L, 2L), 0L), ("b", Array(1L, 2L), 0L),
      ("b", Array(1L, 2L), 0L), ("b", Array(1L, 2L), 0L), ("c", Array(1L), 0L))
      .toDF("conv_id", "shingles", "simhash")
    val pairs = Seq(("a", "b", 4), ("a", "b", 4), ("a", "c", 4), ("c", "x", 4))
      .toDF("id_a", "id_b", "matching_bands")
    val got = VerifyPairs.score(pairs, sigs).collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    // the join: 2 a-rows × 2 pair rows × 3 b-rows; 2 × 1 × 1; "x" has no payload row
    got.count(_ == (("a", "b", 1.0))) shouldBe 12
    got.count(_ == (("a", "c", 0.5))) shouldBe 2
    got.length shouldBe 14
  }

  test("pair scoring: null shingles score as the empty set, a null simhash as a null similarity") {
    val s = spark
    import s.implicits._
    val sigs = Seq[(String, Array[Long], java.lang.Long)](("a", null, 0L), ("b", null, 0L),
      ("c", Array(1L, 2L), null), ("d", Array.emptyLongArray, 5L))
      .toDF("conv_id", "shingles", "simhash")
    val pairs = Seq(("a", "b", 2), ("a", "c", 2), ("a", "d", 2)).toDF("id_a", "id_b", "matching_bands")
    val got = VerifyPairs.score(pairs, sigs).collect()
      .map(r => (r.getString(1), r.getDouble(3), Option(r.get(4)))).sortBy(_._1)
    got shouldBe Array(("b", 1.0, Some(1.0)), ("c", 0.0, None), ("d", 1.0, Some(62.0 / 64)))
  }

  test("job budget: one Dedup.verify call on a materialized candidate set runs the pair and member collects and one scan") {
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(spark,
      Dedup.documents(graft.sources.TranscriptGen.df(spark, 300L).toDF()), cfg).localCheckpoint(true)
    val cand = Dedup.candidates(sigs, cfg).localCheckpoint(true)
    val (pairs, jobs) = JobBudget(spark)(Dedup.verify(cand, sigs, cfg).collect())
    pairs should not be empty
    withClue(jobs.mkString("\n", "\n", "\n")) { jobs.size shouldBe 3 }
  }

  test("SimHash dupPairs on a dup-dense corpus: the candidate table crosses the byte budget, is chunked, and equals the exact pairs") {
    val s = spark
    import s.implicits._
    // m empty docs (all fingerprint to the 0L sentinel), no exact-dup
    // collapse: the candidates hold the m-clique, m(m-1)/2 pairs measuring
    // 24 bytes plus two 5-char ids each — past the whole budget
    val m = 1200
    (m.toLong * (m - 1) / 2) * (24 + 2 * 2 * 5) should be > ProbeScan.BroadcastBudget
    val docs = (0 until m).map(i => (f"e$i%04d", "")) ++
      (0 until 10).map(i => (f"o$i%03d", s"organic document $i word${i * 7} word${i * 11} tail $i"))
    val cfg = DedupConfig()
    val fps = graft.operators.Signatures.simhashSignatures(s, docs.toDF("conv_id", "doc_text"), cfg)
      .select("conv_id", "simhash").localCheckpoint(true)
    val out = SimHashPairs.dupPairs(fps, cfg.simHashBands, 0.9, cfg.bucketCap)
    chunked(out) shouldBe true
    val got = out.select("id_a", "id_b").as[(String, String)].collect()
    val f = fps.as[(String, Long)].collect().sortBy(_._1)
    val expected = (for {
      i <- f.indices; j <- (i + 1) until f.length
      if graft.kernels.ExactSim.hammingSim64(f(i)._2, f(j)._2) >= 0.9
    } yield (f(i)._1, f(j)._1)).toSet
    got.length shouldBe expected.size
    got.toSet shouldBe expected
  }
}
