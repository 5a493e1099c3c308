package perfbench

import graft.plans.CheckpointedPipeline
import java.nio.file.Files
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def small(name: String, seed: Long): Workload = {
    val dir = Files.createTempDirectory("perfbench-spec")
    name match {
      case "batch_dedup"   => new BatchDedup(spark, seed, dir, convs = 200)
      case "hot_buckets"   => new HotBuckets(spark, seed, dir, families = 1, members = 110)
      case "append_stream" => new AppendStream(spark, seed, dir, baseConvs = 60, fresh = 10, copies = 2, maxBatches = 3)
      case "probe_index"   => new ProbeIndex(spark, seed, dir, indexDocs = 100, textBatches = 2, textBatch = 12,
                                             vecBatches = 2, vecBatch = 5, noise = 50)
    }
  }

  /** Fingerprint of every table a workload feeds the engine: the turn
    * tables by the engine's own input fingerprint, vector tables by an
    * order-independent hash of their rows.
    */
  private def fingerprint(w: Workload): String = {
    w.setup()
    w.inputs.map { df =>
      if (df.columns.contains("turn_idx")) CheckpointedPipeline.inputFingerprint(df)
      else {
        val h = xxhash64(df.columns.sorted.map(c => col(c).cast("string")): _*)
        df.agg(count(lit(1)), bit_xor(h), sum(h.cast("decimal(38,0)"))).first().toString
      }
    }.mkString("/")
  }

  Main.Workloads.foreach { name =>
    test(s"$name: the same seed gives an identical input fingerprint, another seed does not") {
      val a = fingerprint(small(name, 7L))
      assert(fingerprint(small(name, 7L)) == a)
      assert(fingerprint(small(name, 8L)) != a)
    }
  }

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    val Some((p, v)) = Stats.tail(xs)
    assert(p == 90.0 && math.abs(v - 90.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of the children, clipped to the span") {
    val root = Span(0, "call", -1, 0, 0, 100)
    val kids = Seq(
      Span(1, "a", 0, 0, 10, 30),
      Span(2, "b", 0, 0, 20, 50),   // overlaps a: union 10..50
      Span(3, "c", 0, 0, 60, 70),
      Span(4, "d", 0, 0, 95, 130))  // clipped to 95..100
    assert(Trace.selfNs(root, kids) == 100 - 40 - 10 - 5)
    assert(Trace.selfNs(root, Nil) == 100)
    assert(Trace.selfNs(kids.head, Nil) == 20)
  }

  test("the listener attributes each job's tasks to the span active when it started") {
    val sc = spark.sparkContext
    val listener = new TaskListener
    sc.addSparkListener(listener)
    try {
      val tr = new Tracer(sc, enabled = true)
      spark.range(5).count() // untagged: not counted anywhere
      tr.call(0) {
        tr.span("narrow")(spark.range(0, 1000, 1, 2).filter("id % 7 = 0").collect())
        tr.span("shuffle")(spark.range(0, 1000, 1, 2).repartition(3).selectExpr("count(*)").collect())
      }
      BusDrain.drain(sc)
      val Seq(narrow, shuffle, root) = tr.spans
      assert(root.name == "call" && narrow.parent == root.id && shuffle.parent == root.id)
      val a = listener.agg(Trace.tagOf(narrow.id))
      val b = listener.agg(Trace.tagOf(shuffle.id))
      assert(a.jobs == 1 && a.tasks >= 2 && a.shuffleRecords == 0)
      assert(b.jobs >= 1 && b.shuffleRecords >= 1000)
      assert(listener.agg(Trace.tagOf(root.id)).jobs == 0)
      assert(tr.selfNs(root) <= root.durNs - narrow.durNs - shuffle.durNs + 1)
      assert(sc.getLocalProperty(Trace.TagKey) == null)
    } finally sc.removeSparkListener(listener)
  }
}
