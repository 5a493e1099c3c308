package graft

import graft.operators.{Knn, ProbeScan}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** The probe-vs-index scan: its byte gate and chunked path, and the Spark
  * jobs one probe call costs.
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
}
