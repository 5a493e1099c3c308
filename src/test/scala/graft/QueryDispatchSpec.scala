package graft

import graft.kernels.ExactSim
import graft.operators._
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Round-5 surfaces: the skew-safe SimHash path (pairs + clusters),
  * similarity-parameterized exact knn, the L2/multiprobe/permutation knn
  * dispatch through the Queries AST, the stream-static probe scan,
  * and the per-bucket duplicate-id dedupe contract.
  */
class QueryDispatchSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

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

  /** Tiny text corpus with planted structure: a family of boilerplate
    * near-dups, an m-clique of identical docs, several empty docs (they all
    * fingerprint to the 0L sentinel — the canonical hot bucket), and
    * organic filler.
    */
  private def textCorpus() = {
    val s = spark
    import s.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again in the morning"
    val docs =
      (0 until 6).map(i => (f"b$i%03d", boiler + (if (i % 2 == 0) "" else " tail"))) ++
        (0 until 5).map(i => (f"c$i%03d", "identical clique text repeated verbatim every time exactly")) ++
        (0 until 4).map(i => (f"e$i%03d", "")) ++
        (0 until 10).map(i => (f"o$i%03d", s"organic document number $i with its own distinct content " +
          s"word${i * 7} word${i * 11} word${i * 13} trailing segment $i"))
    docs.toDF("conv_id", "doc_text")
  }

  test("SimHashDedup pairs through the skew-safe scan equal brute-force Hamming pairs (both bucket paths)") {
    val corpus = textCorpus()
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(spark, corpus, cfg)
    val fps = sigs.select("conv_id", "simhash").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      if ExactSim.hammingSim64(fps(i)._2, fps(j)._2) >= 0.9
    } yield {
      val (a, b) = (fps(i)._1, fps(j)._1)
      if (a < b) (a, b) else (b, a)
    }).toSet
    expected should not be empty // planted clique + empty docs guarantee pairs
    for (cap <- Seq(512, 2)) { // cap=2: every bucket (incl. the 0L sentinel) goes salted
      val got = Queries.run(spark, textCorpus(), Queries.SimHashDedup(cfg.copy(bucketCap = cap), 0.9))
        .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
      withClue(s"bucketCap=$cap: ") { got shouldBe expected }
    }
  }

  test("SimHashClusters labels every doc; clusters equal naive union-find over brute-force pairs") {
    val corpus = textCorpus()
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(spark, corpus, cfg)
    val fps = sigs.select("conv_id", "simhash").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // naive union-find over all-pairs hamming >= 0.9
    val parent = scala.collection.mutable.Map(fps.map(f => f._1 -> f._1): _*)
    def find(x: String): String = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      i <- fps.indices; j <- (i + 1) until fps.length
      if ExactSim.hammingSim64(fps(i)._2, fps(j)._2) >= 0.9
    } {
      val (ra, rb) = (find(fps(i)._1), find(fps(j)._1))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = fps.map(f => f._1 -> find(f._1)).toMap
    val got = Queries.run(spark, corpus, Queries.SimHashClusters(cfg.copy(bucketCap = 3), 0.9))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got.keySet shouldBe expected.keySet // every doc labeled
    got shouldBe expected // min-member cluster ids match
    // the identical clique and the empty docs each collapsed to one cluster
    got("c004") shouldBe "c000"
    got("e003") shouldBe "e000"
  }

  test("exact knn is similarity-parameterized: L2/L1/Dot orderings match kernel ground truth") {
    val s = spark
    import s.implicits._
    // vectors chosen so cosine, L2, L1 and dot each rank DIFFERENT neighbors
    // first for query 0 = [1, 0]
    val vecs = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(10f, 0f)),   // cosine 1.0, far in L2/L1, dot 10
      (2L, Array(1.1f, 0.1f)),// closest in L2/L1
      (3L, Array(0f, 5f))     // orthogonal, dot 0
    ).toDF("vec_id", "embedding")
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def ranked(sim: (Array[Float], Array[Float]) => Double): Seq[Long] =
      raw.toSeq.filter(_._1 != 0L)
        .map { case (id, v) => (id, sim(raw(0L), v)) }
        .sortBy { case (id, x) => (-x, id) }.map(_._1)
    def got(similarity: Knn.Similarity): Seq[Long] =
      Queries.run(s, vecs, Queries.ExactKnn(3, _.filter(col("vec_id") === 0L), similarity))
        .orderBy("rank").select("n_id").collect().map(_.getLong(0)).toSeq
    got(Knn.Similarity.Cosine) shouldBe ranked(ExactSim.cosine)
    got(Knn.Similarity.L2) shouldBe ranked(ExactSim.l2Sim)
    got(Knn.Similarity.L1) shouldBe ranked(ExactSim.l1Sim)
    got(Knn.Similarity.Dot) shouldBe ranked(ExactSim.dot)
    // the parameterization is real: L2 and cosine disagree on rank 1 here
    got(Knn.Similarity.Cosine).head should not be got(Knn.Similarity.L2).head
  }

  test("L2Lsh/multiprobe/permutation dispatch through Queries.run; probing widens the candidate set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Queries.run(spark, emb, Queries.ExactKnn(5, _.filter(col("vec_id") < 10), Knn.Similarity.L2))
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(q: Queries.DedupQuery): Double = {
      val got = Queries.run(spark, emb, q)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val unprobed = recallOf(Queries.L2LshKnn(5, numTables = 12, rowsPerBand = 2, w = 4, probes = 0,
      queriesFilter = _.filter(col("vec_id") < 10)))
    val probed = recallOf(Queries.L2LshKnn(5, numTables = 12, rowsPerBand = 2, w = 4, probes = 6,
      queriesFilter = _.filter(col("vec_id") < 10)))
    probed should be >= unprobed
    probed should be >= 0.8
    val perm = Queries.run(spark, emb, Queries.PermutationKnn(5, poolSize = 16,
      queriesFilter = _.filter(col("vec_id") < 10)))
    perm.count() shouldBe 50 // 10 queries × top-5, every query served
    perm.columns should contain("score")
  }

  test("near-dup probe scan equals the exploded posting join (hot, repeated band)") {
    val s = spark
    import s.implicits._
    // index with one hot band (60 members on band 1) + per-doc unique bands,
    // and one doc carrying band 500 twice; stream docs hit the hot band and
    // a few unique ones, and one carries band 500 twice too
    val index = ((0 until 60).map(i => (f"i$i%03d", Array(1L, 100L + i, 200L + i))) :+
      ("irep", Array(500L, 1L, 500L))).toDF("conv_id", "bands")
    val stream = ((0 until 8).map(i => (f"s$i%03d", Array(1L, 100L + i * 2, 999L))) :+
      ("srep", Array(500L, 500L, 100L))).toDF("conv_id", "bands")
    // the posting join: one row per (stream posting, index posting) on a band
    val postingJoin = stream.select(col("conv_id"), explode(col("bands")).as("band"))
      .join(index.select(col("conv_id").as("matched_id"), explode(col("bands")).as("band")), "band")
      .filter(col("conv_id") =!= col("matched_id"))
      .groupBy("conv_id", "matched_id").count()
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1), r.getAs[Number](2).intValue)).toSet
    for (minBands <- Seq(1, 2)) withClue(s"minBands=$minBands: ") {
      val got = rows(StreamingDedup.nearDupAgainstIndex(stream, index, DedupConfig(minBands = minBands)))
      got shouldBe rows(postingJoin.filter(col("count") >= minBands))
      got should not be empty
    }
    // occurrences multiply: band 500 is 2 stream × 2 index postings
    rows(StreamingDedup.nearDupAgainstIndex(stream, index, DedupConfig(minBands = 1))) should contain(("srep", "irep", 4))
  }

  test("duplicate postings in one bucket count one matching band, not several (both paths)") {
    val s = spark
    import s.implicits._
    val sigs = Seq(
      ("x", Array(1L, 1L, 2L)), // band 1 twice: must count ONCE toward (x,y)
      ("y", Array(1L, 2L))
    ).toDF("conv_id", "bands")
    for (cap <- Seq(100, 1)) {
      val got = CandidatePairs.candidatePairs(sigs, DedupConfig(minBands = 1, bucketCap = cap))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      withClue(s"bucketCap=$cap: ") { got shouldBe Set(("x", "y", 2)) }
    }
  }
}
