package graft

import graft.plans.CheckpointedPipeline
import graft.sources.TranscriptGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, substring}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory

/** Resumability contract (north rule): checkpointed stages with lineage are
  * reused on rerun; changed config invalidates them; resumed results equal
  * fresh results.
  */
class CheckpointedPipelineSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val workDir = Files.createTempDirectory("graft-ckpt").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    new Directory(new java.io.File(workDir)).deleteRecursively()
  }

  private def clustersMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("conv_id", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toMap

  /** The incremental fixture: every block's near-dup (pos 7) and noisy copy
    * (pos 8) arrive after their original (pos 6) is indexed.
    */
  private def splitCorpus() = {
    val allT = TranscriptGen.df(spark, 400L)
    val pos = pmod(substring(col("conv_id"), 6, 8).cast("long"), lit(10))
    (allT.filter(pos <= 6 || pos === 9), allT.filter(pos === 7), allT.filter(pos === 8))
  }

  private def lineageField(dir: String, name: String): String = {
    val json = Files.readString(Paths.get(dir, "_lineage.json"))
    (s""""$name":"?([^",}]*)""").r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(fail(s"no $name in $json"))
  }

  test("fresh run writes all stages with lineage; rerun reuses every checkpoint; results identical") {
    val cfg = DedupConfig()
    val transcripts = TranscriptGen.df(spark, 400L)

    val (c1, s1) = CheckpointedPipeline.run(spark, transcripts, cfg, workDir)
    val m1 = clustersMap(c1)
    s1.map(_.name) shouldBe Seq("signatures", "pairs", "clusters")
    all(s1.map(_.reused)) shouldBe false
    Seq("signatures", "pairs", "clusters").foreach { st =>
      Files.exists(Paths.get(s"$workDir/$st/_lineage.json")) shouldBe true
    }
    // a cold corpus records the skew counters too, with zero salted work
    Files.readString(Paths.get(s"$workDir/pairs/_lineage.json")) should include(""""hot_buckets":""")
    // signatures laid out by stable id-hash bucket for per-bucket resume
    Files.list(Paths.get(s"$workDir/signatures")).iterator().hasNext shouldBe true
    // the generator's range partitions hold whole conversations: assembled in place
    lineageField(s"$workDir/signatures", "assembly_path") shouldBe "in_place"
    lineageField(s"$workDir/signatures", "assembly_partitions") shouldBe
      transcripts.rdd.getNumPartitions.toString

    val (c2, s2) = CheckpointedPipeline.run(spark, transcripts, cfg, workDir)
    all(s2.map(_.reused)) shouldBe true
    clustersMap(c2) shouldBe m1

    // partial resume: drop the final stage only → earlier stages reused
    new Directory(new java.io.File(s"$workDir/clusters")).deleteRecursively()
    val (c3, s3) = CheckpointedPipeline.run(spark, transcripts, cfg, workDir)
    s3.collect { case st if st.name != "clusters" => st.reused } shouldBe Seq(true, true)
    s3.find(_.name == "clusters").get.reused shouldBe false
    clustersMap(c3) shouldBe m1

    // config change invalidates all checkpoints
    val (c4, s4) = CheckpointedPipeline.run(spark, transcripts, cfg.copy(numTables = 32), workDir)
    all(s4.map(_.reused)) shouldBe false
    // same clusters at this corpus (lower L still finds the planted dups)
    clustersMap(c4) shouldBe m1
  }

  test("incremental append equals full recompute, including clusters merged across the split") {
    // split the planted corpus so every block's near-dup (pos 7) and
    // noisy copy (pos 8) arrive AFTER their original (pos 6) is indexed —
    // the daily-ingest shape, with guaranteed cross-batch merges
    val cfg = DedupConfig()
    val allT = TranscriptGen.df(spark, 400L)
    val (old, batch1, batch2) = splitCorpus()

    val wdFull = Files.createTempDirectory("graft-ckpt-full").toString
    val wdInc = Files.createTempDirectory("graft-ckpt-inc").toString
    try {
      val (full, _) = CheckpointedPipeline.run(spark, allT, cfg, wdFull, nBuckets = 8)
      val fullMap = clustersMap(full)

      CheckpointedPipeline.run(spark, old, cfg, wdInc, nBuckets = 8)
      // each append's lineage: the chain hash built from the fingerprint it
      // observed equals the one built from the public inputFingerprint pass,
      // and the footer-summed row counts equal full scans of the directories
      def appendChecked(batch: org.apache.spark.sql.DataFrame) = {
        val priorChain = Files.readString(Paths.get(wdInc, "signatures", "_lineage.json"))
        val (out, st) = CheckpointedPipeline.append(spark, batch, cfg, wdInc, nBuckets = 8)
        val fp = CheckpointedPipeline.inputFingerprint(batch)
        val chained = java.lang.Long.toHexString(
          graft.kernels.Hashing.hashString(priorChain + "+" + fp)) + "-app-" + fp
        lineageField(s"$wdInc/signatures", "config_hash") shouldBe chained
        lineageField(s"$wdInc/clusters", "config_hash") shouldBe chained
        lineageField(s"$wdInc/signatures", "rows").toLong shouldBe spark.read.parquet(s"$wdInc/signatures").count()
        lineageField(s"$wdInc/clusters", "rows").toLong shouldBe spark.read.parquet(s"$wdInc/clusters").count()
        // the known-schema read returns what schema inference would
        out.schema shouldBe spark.read.parquet(s"$wdInc/clusters").schema
        st.head.rows shouldBe batch.select("conv_id").distinct().count()
        (out, st)
      }
      val (_, st1) = appendChecked(batch1)
      st1.map(_.name) shouldBe Seq("signatures_append", "pairs_increment", "clusters")
      // chained append: the second batch runs against the mutated state
      val (inc, _) = appendChecked(batch2)
      val incMap = clustersMap(inc)

      incMap shouldBe fullMap
      // the test must actually exercise cross-batch merging: every block's
      // pos-7/pos-8 conv lands in its pos-6 original's cluster
      val merged = incMap.count { case (id, cl) => id != cl &&
        (id.drop(5).toLong % 10 == 7 || id.drop(5).toLong % 10 == 8) }
      merged should be > 50 // 80 planted cross-batch dups; near-dup recall ≥ 0.99

      // appended signature state stays usable: a fresh full `run` over the
      // combined input in the same workDir rebuilds (chained lineage ≠ the
      // combined fingerprint — no stale reuse) and still agrees
      val (rerun, st3) = CheckpointedPipeline.run(spark, allT, cfg, wdInc, nBuckets = 8)
      all(st3.map(_.reused)) shouldBe false
      clustersMap(rerun) shouldBe fullMap
    } finally {
      new Directory(new java.io.File(wdFull)).deleteRecursively()
      new Directory(new java.io.File(wdInc)).deleteRecursively()
    }
  }

  test("an appended doc bridging two old clusters merges them") {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def conv(id: String, text: String) = (id, 0, "user", text, "", ts)
    val aText = (1 to 30).map(i => s"a$i").mkString(" ")
    val bText = (1 to 30).map(i => s"b$i").mkString(" ")
    // J(A,B) = 0; J(A+B, A) = 28/58 ≈ 0.48 — the bridge needs a sub-0.5
    // threshold, and r=1/minBands=1 makes banding complete at that sim
    val cfg = DedupConfig(rowsPerBand = 1, minBands = 1, theta = 0.45)
    val old = Seq(conv("A", aText), conv("B", bText))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val bridge = Seq(conv("C", s"$aText $bText"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val wd = Files.createTempDirectory("graft-ckpt-bridge").toString
    try {
      val (before, _) = CheckpointedPipeline.run(spark, old, cfg, wd, nBuckets = 2)
      clustersMap(before) shouldBe Map("A" -> "A", "B" -> "B") // two singleton clusters
      val (after, _) = CheckpointedPipeline.append(spark, bridge, cfg, wd, nBuckets = 2)
      clustersMap(after) shouldBe Map("A" -> "A", "B" -> "A", "C" -> "A") // merged through C
    } finally new Directory(new java.io.File(wd)).deleteRecursively()
  }

  test("append fails fast on redelivered batches and torn checkpoint state instead of corrupting") {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def conv(id: String, text: String) = (id, 0, "user", text, "", ts)
    val cfg = DedupConfig()
    val old = Seq(conv("A", (1 to 30).map(i => s"a$i").mkString(" ")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val batch = Seq(conv("B", (1 to 30).map(i => s"b$i").mkString(" ")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val wd = Files.createTempDirectory("graft-ckpt-gate").toString
    val sigLineage = Paths.get(wd, "signatures", "_lineage.json")
    val cluLineage = Paths.get(wd, "clusters", "_lineage.json")
    try {
      CheckpointedPipeline.run(spark, old, cfg, wd, nBuckets = 2)
      CheckpointedPipeline.append(spark, batch, cfg, wd, nBuckets = 2)

      // redelivered batch: B is already indexed → reject, don't duplicate
      val e1 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, batch, cfg, wd, nBuckets = 2)
      }
      e1.getMessage should include("already exist in the index")

      // torn data-vs-lineage: lineage row count disagrees with the parquet
      val goodSig = Files.readString(sigLineage)
      Files.writeString(sigLineage, goodSig.replaceFirst(""""rows":\d+""", """"rows":999"""))
      val more = Seq(conv("C", (1 to 30).map(i => s"c$i").mkString(" ")))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val e2 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, more, cfg, wd, nBuckets = 2)
      }
      e2.getMessage should include("lineage")
      Files.writeString(sigLineage, goodSig)

      // torn lineage-vs-lineage: sidecars disagree on config hash
      val goodClu = Files.readString(cluLineage)
      Files.writeString(cluLineage,
        goodClu.replaceFirst(""""config_hash":"[^"]*"""", """"config_hash":"deadbeef""""))
      val e3 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, more, cfg, wd, nBuckets = 2)
      }
      e3.getMessage should include("different config hashes")
      Files.writeString(cluLineage, goodClu)

      // a checkpoint column that no longer matches: the known-schema read
      // would see nulls, so the footer check must refuse instead
      val cluDir = s"$wd/clusters"
      val goodCluRows = spark.read.parquet(cluDir).localCheckpoint(eager = true)
      goodCluRows.withColumnRenamed("cluster_id", "cid").write.mode("overwrite").parquet(cluDir)
      Files.writeString(cluLineage, goodClu)
      val e4 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, more, cfg, wd, nBuckets = 2)
      }
      e4.getMessage should include("schema mismatch")
      goodCluRows.write.mode("overwrite").parquet(cluDir)
      Files.writeString(cluLineage, goodClu)

      // state restored: a valid append still works
      val (after, _) = CheckpointedPipeline.append(spark, more, cfg, wd, nBuckets = 2)
      clustersMap(after).keySet shouldBe Set("A", "B", "C")
    } finally new Directory(new java.io.File(wd)).deleteRecursively()
  }

  test("lineage records hot-bucket/salted-path metrics on a boilerplate-family corpus (no silent caps)") {
    val s = spark
    import s.implicits._
    // 120 near-identical docs (30 shared words + 1 unique): distinct shingle
    // sets (no exact collapse), but nearly every band bucket holds all 120
    // reps — far over bucketCap=8, so the salted path must do real work
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val transcripts = (0 until 120).map { i =>
      (f"c$i%04d", 0, "user", s"$base unique$i", "", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val work = Files.createTempDirectory("graft-ckpt-hot").toString
    try {
      val cfg = DedupConfig(bucketCap = 8)
      CheckpointedPipeline.run(spark, transcripts, cfg, work, nBuckets = 4)
      val lineage = Files.readString(Paths.get(s"$work/pairs/_lineage.json"))
      val hotBuckets = """"hot_buckets":(\d+)""".r.findFirstMatchIn(lineage).map(_.group(1).toLong)
      val saltedPairs = """"salted_pairs":(\d+)""".r.findFirstMatchIn(lineage).map(_.group(1).toLong)
      hotBuckets.getOrElse(fail(s"no hot_buckets in lineage: $lineage")) should be > 0L
      saltedPairs.getOrElse(fail(s"no salted_pairs in lineage: $lineage")) should be > 0L
    } finally new Directory(new java.io.File(work)).deleteRecursively()
  }

  test("append requires the checkpoint's own config; a dirty mutation window blocks append and forces run() to rebuild") {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def conv(id: String, text: String) = (id, 0, "user", text, "", ts)
    val cfg = DedupConfig()
    val old = Seq(conv("A", (1 to 30).map(i => s"a$i").mkString(" ")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val batch = Seq(conv("B", (1 to 30).map(i => s"b$i").mkString(" ")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val more = Seq(conv("C", (1 to 30).map(i => s"c$i").mkString(" ")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val wd = Files.createTempDirectory("graft-ckpt-cfg").toString
    try {
      CheckpointedPipeline.run(spark, old, cfg, wd, nBuckets = 2)

      // different cfg (seed) or nBuckets: bands would be incomparable with
      // the indexed signatures — must fail, not silently find nothing
      val e1 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, batch, cfg.copy(seed = 99L), wd, nBuckets = 2)
      }
      e1.getMessage should include("config mismatch")
      val e2 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, batch, cfg, wd, nBuckets = 4)
      }
      e2.getMessage should include("config mismatch")

      // ...and the gate still works AFTER an append, where the chained
      // config_hash no longer carries the cfg prefix
      CheckpointedPipeline.append(spark, batch, cfg, wd, nBuckets = 2)
      val e3 = intercept[IllegalArgumentException] {
        CheckpointedPipeline.append(spark, more, cfg.copy(numTables = 32), wd, nBuckets = 2)
      }
      e3.getMessage should include("config mismatch")

      // dirty marker (a prior append died inside its mutation window):
      // append refuses; run() treats every checkpoint as non-reusable even
      // though the sidecars match, rebuilds, and clears the marker
      val wd2 = Files.createTempDirectory("graft-ckpt-dirty").toString
      try {
        val (c1, _) = CheckpointedPipeline.run(spark, old, cfg, wd2, nBuckets = 2)
        val m1 = clustersMap(c1)
        Files.writeString(Paths.get(wd2, "_dirty"), "{}")
        val e4 = intercept[IllegalArgumentException] {
          CheckpointedPipeline.append(spark, batch, cfg, wd2, nBuckets = 2)
        }
        e4.getMessage should include("dirty")
        val (c2, st) = CheckpointedPipeline.run(spark, old, cfg, wd2, nBuckets = 2)
        all(st.map(_.reused)) shouldBe false // sidecars match, but dirty wins
        clustersMap(c2) shouldBe m1
        Files.exists(Paths.get(wd2, "_dirty")) shouldBe false
        // marker gone: normal reuse and append both work again
        val (_, st2) = CheckpointedPipeline.run(spark, old, cfg, wd2, nBuckets = 2)
        all(st2.map(_.reused)) shouldBe true
        CheckpointedPipeline.append(spark, batch, cfg, wd2, nBuckets = 2)
      } finally new Directory(new java.io.File(wd2)).deleteRecursively()
    } finally new Directory(new java.io.File(wd)).deleteRecursively()
  }

  test("append under driverEdgeGate = 0 gives the driver path's clusters and pairs_increment count") {
    val cfg = DedupConfig()
    val (old, batch1, _) = splitCorpus()
    def appendOnce(gateConf: Option[String]): (Map[String, String], Seq[CheckpointedPipeline.StageInfo]) = {
      val wd = Files.createTempDirectory("graft-ckpt-gate0").toString
      try {
        CheckpointedPipeline.run(spark, old, cfg, wd, nBuckets = 8)
        gateConf.foreach(spark.conf.set(graft.operators.ConnectedComponents.EdgeGateConfKey, _))
        try {
          val (out, st) = CheckpointedPipeline.append(spark, batch1, cfg, wd, nBuckets = 8)
          (clustersMap(out), st)
        } finally spark.conf.unset(graft.operators.ConnectedComponents.EdgeGateConfKey)
      } finally new Directory(new java.io.File(wd)).deleteRecursively()
    }
    val (driverMap, driverSt) = appendOnce(None)
    val (distMap, distSt) = appendOnce(Some("0"))
    distMap shouldBe driverMap
    // the distributed loop unions two projections of the edge set: the
    // observed edge count must still be counted once
    val edgeRows = driverSt.find(_.name == "pairs_increment").get.rows
    edgeRows should be > 0L
    distSt.find(_.name == "pairs_increment").get.rows shouldBe edgeRows
  }

  test("job budget: one append stays within its pinned Spark job count") {
    val cfg = DedupConfig()
    val (old, batch1, _) = splitCorpus()
    val wd = Files.createTempDirectory("graft-ckpt-jobs").toString
    try {
      CheckpointedPipeline.run(spark, old, cfg, wd, nBuckets = 8)
      val (_, jobs) = JobBudget(spark)(CheckpointedPipeline.append(spark, batch1, cfg, wd, nBuckets = 8))
      // measured: 53 jobs when the fingerprint, the batch row count, the
      // schema inferences, the edge count, the components stats and the
      // lazy index rep subtree each ran their own jobs; 38 with each index
      // pass and gate run once; 22 with the new×old branch as one probe
      // scan; 21 with the new×new verify as one pair scan (on this fixture
      // its candidate set is empty, which now costs no job). A new job in
      // append must show up here.
      withClue(jobs.mkString("\n", "\n", "\n")) { jobs.size should be <= 21 }
    } finally new Directory(new java.io.File(wd)).deleteRecursively()
  }

  test("job budget: a one-partition batch appended to a 64-bucket index runs no listing or rebalance job") {
    val cfg = DedupConfig()
    val (old, batch1, _) = splitCorpus()
    val wd = Files.createTempDirectory("graft-ckpt-jobs64").toString
    try {
      // a round-robin input splits conversations: assembled through the exchange
      CheckpointedPipeline.run(spark, old.repartition(3), cfg, wd, nBuckets = 64)
      lineageField(s"$wd/signatures", "assembly_path") shouldBe "exchange"
      lineageField(s"$wd/signatures", "assembly_partitions") shouldBe "8"
      val batch = batch1.coalesce(1)
      val (_, jobs) = JobBudget(spark)(CheckpointedPipeline.append(spark, batch, cfg, wd, nBuckets = 64))
      // measured 19: the batch is assembled in place (layout pass + the
      // signatures checkpoint, no exchange), the index is listed on the
      // driver (no 64-task leaf-listing job), and the single-partition
      // batch is written without a rebalance exchange — the signatures
      // append and the clusters overwrite are one job each
      withClue(jobs.mkString("\n", "\n", "\n")) {
        jobs.size should be <= 19
        jobs.filter(j => j.contains("tasks=  64") || j.contains("Listing leaf files")) shouldBe empty
        jobs.count(_.contains("desc=parquet at CheckpointedPipeline")) shouldBe 2
      }
      lineageField(s"$wd/signatures", "assembly_path") shouldBe "in_place"
      lineageField(s"$wd/signatures", "assembly_partitions") shouldBe "1"
    } finally new Directory(new java.io.File(wd)).deleteRecursively()
  }
}
