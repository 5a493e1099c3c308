package graft

import graft.sources.TranscriptGen
import graft.operators.ConnectedComponents
import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** End-to-end contract tests (SURVEY §5 layer 4, ≙ RecallSuite):
  *   - dup-pair recall ≥ 0.99 vs the exact-Jaccard all-pairs oracle at the
  *     same shingle/L/k config (north rule);
  *   - precision = 1.0 (every emitted pair is exactly verified);
  *   - cluster assignments equal the oracle's connected components;
  *   - determinism across reruns and across parallelism levels
  *     (≙ RecallSuite.scala:243-247).
  */
class DedupPipelineSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("dedup-e2e")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val cfg = DedupConfig()
  private val nConvs = 1500L

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("recall >= 0.99 and precision = 1.0 vs exact all-pairs oracle; clusters match oracle components") {
    val transcripts = TranscriptGen.df(spark, nConvs)
    val docs = Dedup.documents(transcripts.toDF()).cache()
    val sigs = Dedup.signatures(spark, docs, cfg).cache()

    val lshPairs = Dedup.verify(Dedup.candidates(sigs, cfg), sigs, cfg).cache()
    val oracle = Dedup.exactAllPairs(sigs, cfg.theta).cache()

    val lsh = pairSet(lshPairs)
    val truth = pairSet(oracle)

    truth.size should be > 100 // planted structure produced real dups
    withClue(s"truth=${truth.size} lsh=${lsh.size} missed=${(truth -- lsh).take(5)}: ") {
      val recall = (truth intersect lsh).size.toDouble / truth.size
      recall should be >= 0.99
    }
    // precision 1.0: verify stage is exact, so every LSH pair must be in truth
    (lsh -- truth) shouldBe empty

    // clusters: pipeline clusters == connected components over oracle pairs
    val pipelineClusters = Dedup.clusters(docs, lshPairs)
      .select("conv_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toMap
    val oracleClusters = ConnectedComponents
      .assign(docs, oracle.select("id_a", "id_b"))
      .select("conv_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toMap
    pipelineClusters shouldBe oracleClusters

    // the production pipeline (exact-dup collapse → rep-level LSH → member
    // join-back) must produce the same clusters as the direct all-docs path
    val collapsedClusters = Dedup.pipeline(spark, transcripts.toDF(), cfg)
      .select("conv_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toMap
    collapsedClusters shouldBe oracleClusters

    // member-pair expansion of the collapsed pipeline equals the truth set
    val mapping = Dedup.exactGroups(sigs)
    val repSigs = sigs.join(mapping.select(col("rep").as("conv_id")).distinct(), Seq("conv_id"), "left_semi")
    val repPairs = Dedup.verify(Dedup.candidates(repSigs, cfg), repSigs, cfg)
    val expanded = pairSet(Dedup.expandToMemberPairs(mapping, repPairs))
    withClue(s"expanded=${expanded.size} truth=${truth.size}: ") {
      (truth -- expanded).size.toDouble / truth.size should be <= 0.01
      (expanded -- truth) shouldBe empty
    }

    // planted exact-dup groups (positions 6,8 = original + noisy copy) must co-cluster
    val planted = (0L until nConvs).groupBy(TranscriptGen.plantedClusterKey)
      .filter { case (k, ids) => k.startsWith("dup-") && ids.size >= 2 }
    planted.foreach { case (_, ids) =>
      val orig = f"conv-${ids.min}%08d"
      val copy = f"conv-${ids.max}%08d"
      withClue(s"$orig vs $copy: ") {
        pipelineClusters(orig) shouldBe pipelineClusters(copy)
      }
    }

    // empty conversations are mutual duplicates (Jaccard(∅,∅)=1, ExactModel.java:13)
    val empties = (0L until nConvs).filter(i => TranscriptGen.plantedClusterKey(i) == "empty")
      .map(i => f"conv-$i%08d")
    empties.size should be > 2
    empties.map(pipelineClusters).toSet.size shouldBe 1

    docs.unpersist(); sigs.unpersist(); lshPairs.unpersist(); oracle.unpersist()
  }

  test("verified pair set is identical across reruns and parallelism levels (determinism contract)") {
    def runAt(master: String, shufflePartitions: Int): Set[(String, String)] = {
      val s = SparkSession.builder()
        .master(master)
        .appName(s"dedup-det-$master")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      try {
        val docs = Dedup.documents(TranscriptGen.df(s, 400L))
        val sigs = Dedup.signatures(s, docs, cfg)
        pairSet(Dedup.verify(Dedup.candidates(sigs, cfg), sigs, cfg))
      } finally () // keep the shared session; local master is fixed per JVM
    }
    // Same JVM/session: vary partitioning + rerun. (True multi-master runs
    // happen in Bench's scaling harness; SparkSession master is per-JVM.)
    val r1 = runAt("local[4]", 3)
    val r2 = runAt("local[4]", 13)
    val r3 = runAt("local[4]", 13)
    r1 shouldBe r2
    r2 shouldBe r3
    r1.size should be > 20
  }

  test("connected components: chains, cliques, and isolated vertices resolve correctly") {
    val s = spark
    import s.implicits._
    // pathological chain a0-a1-...-a19 + a clique + untouched singleton
    val chain = (0 until 19).map(i => (f"a$i%02d", f"a${i + 1}%02d"))
    val clique = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"b$i", s"b$j")
    val edges = (chain ++ clique).toList.toDF("id_a", "id_b")
    val all = ((0 to 19).map(i => f"a$i%02d") ++ (0 until 5).map(i => s"b$i") :+ "zzz").toList.toDF("conv_id")
    val assign = ConnectedComponents.assign(all, edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    (0 to 19).foreach(i => assign(f"a$i%02d") shouldBe "a00")
    (0 until 5).foreach(i => assign(s"b$i") shouldBe "b0")
    assign("zzz") shouldBe "zzz"
  }

  test("driver union-find fast path ≡ distributed pointer-jumping loop (incl. gate overflow fallback)") {
    val s = spark
    import s.implicits._
    val chain = (0 until 19).map(i => (f"a${i + 1}%02d", f"a$i%02d")) // reversed orientation
    val clique = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"b$j", s"b$i")
    val edges = (chain ++ clique ++ Seq(("y", "x"), ("x", "w"))).toList.toDF("id_a", "id_b")
    def comp(gate: Int): Set[(String, String)] =
      ConnectedComponents.components(edges, driverGate = gate)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val fast = comp(ConnectedComponents.DriverEdgeGate)
    val dist = comp(0)                 // gate disabled → distributed loop
    val overflow = comp(5)             // 31 edges > gate 5 → falls back to distributed
    fast shouldBe dist
    overflow shouldBe dist
    fast.filter(_._1.startsWith("a")).map(_._2) shouldBe Set("a00")
    fast.toMap.apply("y") shouldBe "w"
  }

  test("CC driver gate is byte-aware: long ids overflow the byte budget and force the distributed path") {
    val s = spark
    import s.implicits._
    // same chain topology, but each id padded to ~200 chars: the ROW count
    // (19 edges) is far below any row gate, while the byte estimate is not
    def pad(id: String): String = id * 100
    val edges = (0 until 19).map(i => (pad(f"a$i%02d"), pad(f"a${i + 1}%02d"))).toList.toDF("id_a", "id_b")
    val expectDist = ConnectedComponents.components(edges, driverGate = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // budget smaller than the estimate for 19 × ~400-char edges → the fast
    // path must refuse the collect on byte grounds and fall back
    ConnectedComponents.estimateDriverBytes(19, 400.0) should be > 1000L
    spark.conf.set(ConnectedComponents.ByteBudgetConfKey, "1000")
    try {
      val viaByteGate = ConnectedComponents.components(edges)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      viaByteGate shouldBe expectDist
    } finally spark.conf.unset(ConnectedComponents.ByteBudgetConfKey)
    // the row gate is conf-overridable too (deployments lower it without
    // code changes); overriding to 5 forces distributed despite the
    // default-gate call site
    spark.conf.set(ConnectedComponents.EdgeGateConfKey, "5")
    try {
      ConnectedComponents.components(edges)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe expectDist
      // …but an EXPLICIT call-site gate always wins over the conf: a
      // caller that opted out (0 = always distributed) must stay opted
      // out even when the deployment conf re-enables a large gate
      spark.conf.set(ConnectedComponents.EdgeGateConfKey, "5000000")
      ConnectedComponents.components(edges, driverGate = 0)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe expectDist
    } finally spark.conf.unset(ConnectedComponents.EdgeGateConfKey)
    // sizing sanity: the full 5M-row gate of short ids fits a 16g driver's
    // fifth but NOT a 4g driver's (the round-3 bug: the row gate alone
    // would have collected on both), and KB-scale ids fit neither
    val budget16g = 16L * 1024 * 1024 * 1024 / 5
    val budget4g = 4L * 1024 * 1024 * 1024 / 5
    ConnectedComponents.estimateDriverBytes(5_000_000L, 24.0) should be < budget16g
    ConnectedComponents.estimateDriverBytes(5_000_000L, 24.0) should be > budget4g
    ConnectedComponents.estimateDriverBytes(5_000_000L, 2000.0) should be > budget16g
  }

  test("components gate stats observed on the edge materialization equal the aggregation they replace") {
    val s = spark
    import s.implicits._
    // the separate stats job the observation replaced
    def aggStats(edges: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = edges.agg(count(lit(1)),
        avg(functions.length(col("id_a")) + functions.length(col("id_b")))).first()
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }
    def pad(id: String): String = id * 100
    val chain = (0 until 19).map(i => (f"a${i + 1}%02d", f"a$i%02d"))
    val clique = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"b$j", s"b$i")
    val fixtures = Seq(
      "chain + clique" -> (chain ++ clique ++ Seq(("y", "x"), ("x", "w"))).toList.toDF("id_a", "id_b"),
      "long ids" -> (0 until 19).map(i => (pad(f"a$i%02d"), pad(f"a${i + 1}%02d"))).toList.toDF("id_a", "id_b"),
      "empty" -> Seq.empty[(String, String)].toDF("id_a", "id_b"))
    val observed = fixtures.map { case (name, edges) =>
      val m = ConnectedComponents.materialize(edges)
      withClue(name) { (m.count, m.avgPairWidth) shouldBe aggStats(edges) }
      name -> m
    }.toMap
    // empty: avg is null, so the width is 0.0 and the fast path stays open
    (observed("empty").count, observed("empty").avgPairWidth) shouldBe ((0L, 0.0))
    ConnectedComponents.componentsOf(observed("empty")).count() shouldBe 0L
    // long ids: the observed width is what overflows the byte budget
    observed("long ids").avgPairWidth shouldBe 600.0
    ConnectedComponents.estimateDriverBytes(observed("long ids").count, observed("long ids").avgPairWidth) should be > 1000L
  }

  test("job budget: the components fast path on an already-materialized edge set runs exactly 2 jobs") {
    val s = spark
    import s.implicits._
    val chain = (0 until 19).map(i => (f"a${i + 1}%02d", f"a$i%02d"))
    val edges = chain.toList.toDF("id_a", "id_b").localCheckpoint(eager = true)
    // the edge materialization (which observes the gate stats) + the collect
    val (comp, jobs) = JobBudget(spark)(ConnectedComponents.components(edges))
    withClue(jobs.mkString("\n", "\n", "\n")) { jobs.size shouldBe 2 }
    comp.collect().map(_.getString(1)).toSet shouldBe Set("a00")
  }

  test("a dropped observation: materialize recomputes the same count and width") {
    val s = spark
    import s.implicits._
    val chain = (0 until 19).map(i => (f"a${i + 1}%02d", f"a$i%02d"))
    val edges = (chain ++ Seq(("long" * 50, "x"))).toList.toDF("id_a", "id_b")
    val (observed, observedJobs) = JobBudget(spark)(ConnectedComponents.materialize(edges))
    graft.operators.Observed.dropAll = true
    val (recomputed, jobs) =
      try JobBudget(spark)(ConnectedComponents.materialize(edges))
      finally graft.operators.Observed.dropAll = false
    // the miss costs the aggregation job the observation replaced
    jobs.size should be > observedJobs.size
    (recomputed.count, recomputed.avgPairWidth) shouldBe ((observed.count, observed.avgPairWidth))
    (recomputed.count, recomputed.avgPairWidth) shouldBe ((20L, (19 * 6 + 201).toDouble / 20))
  }
}
