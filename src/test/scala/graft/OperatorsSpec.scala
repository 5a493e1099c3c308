package graft

import graft.operators._
import graft.kernels.ExactSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Operator-level Spark tests: salted candidate generation equivalence,
  * ANN recall vs exact ground truth, assembly ordering, text analysis,
  * multimodal plumbing.
  */
class OperatorsSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

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

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("salted pair generation (bucketCap) emits exactly the same pairs as the direct path") {
    val s = spark
    import s.implicits._
    // synthetic signatures: one mega-bucket (200 docs sharing band 1) plus
    // scattered small buckets — forces the salted block-decomposition path
    // when bucketCap is small.
    val rows = (0 until 200).map { i =>
      val extra = if (i % 3 == 0) Array(100L + i) else Array(200L + i)
      (f"d$i%04d", Array(1L) ++ extra)
    }
    val sigs = rows.toDF("conv_id", "bands")
    val loose = DedupConfig(bucketCap = 1000, minBands = 1)
    val tight = DedupConfig(bucketCap = 16, minBands = 1) // mega-bucket 200 > 16 → salted path
    val direct = CandidatePairs.candidatePairs(sigs, loose)
    val salted = CandidatePairs.candidatePairs(sigs, tight)
    val d = direct.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val sal = salted.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    d.size shouldBe 200 * 199 / 2 // the mega-bucket clique
    sal shouldBe d // identical pairs AND identical matching-band counts
  }

  test("the hot pass enumerates exactly the bands the small scan recorded") {
    val s = spark
    import s.implicits._
    // band 1: 40 ids and band 2: 30 ids (hot at bucketCap 16); band 3: 5 ids (small)
    val sigs = (0 until 40).map { i =>
      (f"d$i%03d", Array(1L, 100L + i) ++ (if (i < 30) Array(2L) else Array.empty[Long]) ++
        (if (i < 5) Array(3L) else Array.empty[Long]))
    }.toDF("conv_id", "bands")
    val m = CandidatePairs.CandidateMetrics.register(s)
    val (_, recorded) = CandidatePairs.smallScan(sigs, DedupConfig(bucketCap = 16, minBands = 1), Some(m))
    recorded shouldBe Set(1L, 2L)
    m.hotBuckets.value shouldBe 2L
    def bandsOf(hot: DataFrame) = hot.select("band").distinct().as[Long].collect().toSet
    val hot = CandidatePairs.hotPostings(sigs, recorded)
    bandsOf(hot) shouldBe recorded
    hot.count() shouldBe 70L
    // selection by the recorded set: a band is enumerated even where a
    // re-scan of the postings would classify its run as small
    bandsOf(CandidatePairs.hotPostings(sigs, Set(3L))) shouldBe Set(3L)
  }

  test("duplicate ids in a bucket emit no self-pairs; non-ASCII ids orient by UTF-8 byte order") {
    val s = spark
    import s.implicits._
    // "😀" (😀, U+1F600) vs "�": Java String order puts the
    // surrogate (0xD83D) first, UTF-8 byte order the opposite — the pair
    // must come out in byte order from BOTH the small-bucket scan and the
    // salted path so hit-counting sees one key.
    val smiley = "😀"; val repl = "�"
    val sigs = Seq(
      ("dup", Array(1L, 1L)),   // same id twice in bucket 1 (ragged input)
      (smiley, Array(2L, 3L)),
      (repl, Array(2L, 3L))
    ).toDF("conv_id", "bands")
    for (cap <- Seq(100, 1)) { // 1 forces every bucket down the salted path
      val got = CandidatePairs.candidatePairs(sigs, DedupConfig(minBands = 1, bucketCap = cap))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      withClue(s"bucketCap=$cap: ") {
        got shouldBe Set((repl, smiley, 2)) // byte order; no ("dup","dup")
      }
    }
  }

  test("candidate threshold (minBands) filters by matching-band count") {
    val s = spark
    import s.implicits._
    val sigs = Seq(
      ("a", Array(1L, 2L, 3L)),
      ("b", Array(1L, 2L, 9L)), // shares 2 bands with a
      ("c", Array(1L, 8L, 7L))  // shares 1 band with a
    ).toDF("conv_id", "bands")
    val pairs2 = CandidatePairs.candidatePairs(sigs, DedupConfig(minBands = 2, bucketCap = 100))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    pairs2.toSet shouldBe Set(("a", "b", 2))
  }

  test("LSH ANN reaches high recall@5 vs exact brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 30)
    val exact = Knn.exactTopK(queries, emb, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Knn.lshTopK(spark, queries, emb, 5, numTables = 48, rowsPerBand = 6)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    withClue(s"recall=$recall: ") { recall should be >= 0.8 }
  }

  test("embedding-cosine dedup equals the exact all-pairs oracle (recall & precision 1.0), both bucket paths") {
    val s = spark
    import s.implicits._
    // synthetic corpus: 80 gaussian base vectors + planted near-dups —
    // a scaled copy (cosine exactly ~1), a perturbed copy, and a 3-chain
    // (base → pert → pert²) so the cluster test exercises transitivity
    val rng = new java.util.Random(7L)
    val base = Array.fill(80)(Array.fill(24)(rng.nextGaussian().toFloat))
    def perturb(v: Array[Float], eps: Float): Array[Float] =
      v.indices.map(i => v(i) + eps * v((i + 1) % v.length)).toArray
    val rows =
      base.indices.map(i => (i.toLong, base(i))) ++
        Seq(
          (1000L, base(0).map(_ * 1.5f)),          // dup of 0 (scale-invariant)
          (1001L, perturb(base(1), 0.04f)),        // near-dup of 1
          (1002L, perturb(perturb(base(2), 0.04f), 0.04f)), // chain: 2–?–1003
          (1003L, perturb(base(2), 0.04f)))
    val emb = rows.toDF("vec_id", "embedding")

    val theta = 0.97
    val exact = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Knn.cosineColC(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= theta)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.size should be >= 4 // planted pairs present (incl. the chain hop)

    for (cap <- Seq(512, 3)) { // 3 forces the salted block path
      val got = EmbeddingDedup.dupPairs(s, emb, theta,
        numTables = 24, rowsPerBand = 8, bucketCap = cap)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      withClue(s"cap=$cap: ") { got shouldBe exact }
    }

    // clusters: transitive closure of the pairs, min member id canonical
    val clusters = EmbeddingDedup.clusters(s, emb, theta, numTables = 24, rowsPerBand = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters.size shouldBe rows.size
    clusters(1000L) shouldBe 0L
    clusters(1001L) shouldBe 1L
    clusters(2L) shouldBe 2L
    clusters(1002L) shouldBe 2L // transitive: reachable through 1003
    clusters(1003L) shouldBe 2L
    clusters(50L) shouldBe 50L // singleton
  }

  test("IVF ANN returns k ranked neighbors per query with decent recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 30)
    val exact = Knn.exactTopK(queries, emb, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Knn.ivfTopK(queries, emb, 5, nCells = 16, nProbe = 8)
    val rows = ivf.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) => rs.length shouldBe 5 }
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"IVF recall@5 (nCells=16, nProbe=8, hash-sampled centroids) = $recall%.3f")
    // pinned at the measured value (0.733, deterministic corpus + seeded
    // sample) minus nothing — a centroid-quality regression fails this
    withClue(s"recall=$recall: ") { recall should be >= 0.73 }
  }

  test("IVF kernel argmax branch (nCells > threshold) equals the inline-expression branch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 15)
    def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = Knn.ivfTopK(queries, emb, 5, nCells = 24, nProbe = 6, kernelThreshold = 64)
    val kernel = Knn.ivfTopK(queries, emb, 5, nCells = 24, nProbe = 6, kernelThreshold = 0)
    rows(kernel) shouldBe rows(inline)
  }

  test("IVF kernel branch at the 4096-cell shape: probing all cells equals the exact scan") {
    val s = spark
    import s.implicits._
    // synthetic 5000-vector corpus (the sf0.001 table is too small to carry
    // 4096 cells — the shape the kernel branch exists for)
    val rnd = new scala.util.Random(7)
    val dims = 8
    val corpus = (0L until 5000L).map { id =>
      (id, Array.fill(dims)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    // nCells=4096 ≫ kernelThreshold → the bounded-selection mapPartitions
    // branch runs for both assignment (n=1) and probing; nProbe = nCells
    // makes every query probe every cell, so the candidate set is the full
    // corpus and IVF must equal exact brute force bit-for-bit
    val ivf = Knn.ivfTopK(queries, corpus, 5, nCells = 4096, nProbe = 4096)
    val exact = Knn.exactTopK(queries, corpus, 5)
    def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    rows(ivf) shouldBe rows(exact)
  }

  test("IVF centroid sample is id-distribution independent (offset corpus works)") {
    // round-2 regression: filter(vec_id < nCells) collected ZERO centroids
    // on a corpus whose ids don't start at 0; the seeded-hash sample must
    // not care about the id range
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val queries = emb.filter(col("vec_id") < 1000015L)
    val out = Knn.ivfTopK(queries, emb, 5, nCells = 16, nProbe = 8).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rs) => rs.length shouldBe 5 }
    out.length shouldBe 15 * 5
  }

  test("bounded TopKAgg equals the full row_number window (C3/C6 equivalence)") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaAgg = Knn.exactTopK(emb.filter(col("vec_id") < 25), emb, 7)
      .select("q_id", "rank", "n_id", "sim")
    val q = emb.filter(col("vec_id") < 25)
      .select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_emb"))
    val c = emb.select(col("vec_id").cast("long").as("n_id"), col("embedding").as("n_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("sim"), asc("n_id"))
    val viaWindow = c.crossJoin(broadcast(q)).filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", Knn.cosineCol("q_emb", "n_emb"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("sim"), 6).as("sim"))
    val a = viaAgg.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = viaWindow.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    a shouldBe b
  }

  test("exact knn is deterministic and self-excluding, ranked by similarity desc") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val r1 = Knn.exactTopK(q, emb, 3).collect().sortBy(r => (r.getLong(0), r.getInt(1)))
    val r2 = Knn.exactTopK(q, emb, 3).collect().sortBy(r => (r.getLong(0), r.getInt(1)))
    r1.map(_.toString) shouldBe r2.map(_.toString)
    r1.foreach { r => r.getLong(0) should not be r.getLong(2) }
    r1.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      byRank.reverse shouldBe byRank.sorted
    }
  }

  test("assembly orders turns by turn_idx regardless of input order; role variant differs") {
    val s = spark
    import s.implicits._
    val t = Seq(
      ("c1", 2, "user", "third", null: String, java.sql.Timestamp.valueOf("2024-01-01 00:02:00")),
      ("c1", 0, "user", "first", null: String, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("c1", 1, "assistant", "second", null: String, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val doc = Assembly.assemble(t).select("doc_text").first().getString(0)
    doc shouldBe "first\nsecond\nthird"
    val withRoles = Assembly.assembleWithRoles(t).select("doc_text").first().getString(0)
    withRoles shouldBe "user: first\nassistant: second\nuser: third"
  }

  test("text analysis: token counts, quality, lang-id, fingerprint determinism") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog of the field is here"),
      (2L, "der hund und die katze und das haus"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val tc = TextAnalysis.tokenCounts(docs).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    tc(1L) shouldBe 13
    tc(3L) shouldBe 1
    // BPE pre-tokenizer: contractions split, punctuation runs separate,
    // leading spaces fold into the following token
    val bpeDocs = Seq((1L, "don't stop, world!!"), (2L, "x")).toDF("doc_id", "text")
    val bpe = TextAnalysis.tokenCounts(bpeDocs).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    bpe(1L) shouldBe 6 // don | 't | ' stop' | , | ' world' | !!
    bpe(2L) shouldBe 1
    val lang = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    lang(1L) shouldBe "en"
    lang(2L) shouldBe "de"
    lang(3L) shouldBe "und"
    val q = TextAnalysis.qualityScore(docs).collect().map(r => r.getLong(0) -> r.getInt(6)).toMap
    q(1L) shouldBe 1
    q(3L) shouldBe 0
    val f1 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val f2 = TextAnalysis.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    f1 shouldBe f2
    f1.map(_._2).size shouldBe 3 // distinct texts → distinct fingerprints
  }

  test("exact dedup groups identical texts and picks min id as canonical") {
    val s = spark
    import s.implicits._
    val docs = Seq((5L, "same text"), (2L, "same text"), (9L, "other")).toDF("doc_id", "text")
    val g = TextAnalysis.exactDedup(docs).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    g shouldBe Set((2, 2L), (1, 9L))
  }

  test("multimodal plumbing: binary payload → per-partition feature extraction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val media = Multimodal.syntheticMedia(docs)
    media.schema("payload").dataType.typeName shouldBe "binary"
    val feats = Multimodal.extractFeatures(spark, media)
    val rows = feats.collect()
    rows.length shouldBe 50
    rows.foreach { r =>
      r.getAs[Int]("width") should be >= 1
      val hist = (0 until 8).map(k => r.getAs[Long](s"hist_$k"))
      hist.sum should be > 0L // non-empty payload → non-empty histogram
      r.getAs[Double]("mean_byte") should (be >= 0.0 and be <= 255.0)
    }
  }

  test("multimodal: real PNG payloads decode via ImageIO; non-image payloads take the byte fallback") {
    val s = spark
    import s.implicits._
    val (w, h) = (7, 5)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var expectedSum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = (x * 37, y * 53, (x + y) * 11) // all ≤ 255 → lossless through PNG
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      expectedSum += r + g + b
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val media = Seq(
      (1L, "image/png", png, png.length),
      (2L, "text/fake", "not an image".getBytes("UTF-8"), 12)
    ).toDF("media_id", "media_type", "payload", "n_bytes")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val p = feats(1L)
    p.getAs[Int]("width") shouldBe w
    p.getAs[Int]("height") shouldBe h
    p.getAs[Int]("channels") shouldBe 3
    p.getAs[Int]("decoded") shouldBe 1
    (0 until 8).map(k => p.getAs[Long](s"hist_$k")).sum shouldBe w.toLong * h * 3
    p.getAs[Double]("mean_byte") shouldBe (expectedSum.toDouble / (w * h * 3)) +- 1e-9
    val f = feats(2L)
    f.getAs[Int]("decoded") shouldBe 0
    f.getAs[Int]("width") shouldBe 3 // byte fallback: floor(sqrt(12))
  }

  test("multimodal: real WAV payloads decode via javax.sound; non-audio payloads take the byte fallback") {
    val s = spark
    import s.implicits._
    // 16-bit signed mono PCM at 8 kHz: sample i = ((i % 256) - 128) << 8,
    // so the decoder's normalized byte v = i % 256 — hist/mean are closed-form
    val rate = 8000f
    val nFrames = 1600
    val data = new Array[Byte](nFrames * 2)
    var expectedSum = 0L
    for (i <- 0 until nFrames) {
      val sVal = ((i % 256) - 128) << 8
      data(2 * i) = (sVal & 0xff).toByte
      data(2 * i + 1) = ((sVal >> 8) & 0xff).toByte
      expectedSum += i % 256
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val media = Seq(
      (1L, "audio/wav", wav, wav.length),
      (2L, "text/fake", "not audio at all".getBytes("UTF-8"), 16)
    ).toDF("media_id", "media_type", "payload", "n_bytes")
    val feats = Multimodal.extractAudioFeatures(spark, media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val a = feats(1L)
    a.getAs[Int]("decoded") shouldBe 1
    a.getAs[Int]("channels") shouldBe 1
    a.getAs[Int]("sample_rate") shouldBe 8000
    a.getAs[Long]("n_frames") shouldBe nFrames.toLong
    a.getAs[Double]("duration_sec") shouldBe (nFrames / rate.toDouble) +- 1e-9
    // v cycles 0..255 six full times plus 0..63: bins 0-1 get 32·7, bins 2-7 get 32·6
    (0 until 8).map(k => a.getAs[Long](s"hist_$k")) shouldBe Seq(224L, 224L, 192L, 192L, 192L, 192L, 192L, 192L)
    a.getAs[Double]("mean_amp") shouldBe (expectedSum.toDouble / nFrames) +- 1e-9
    val f = feats(2L)
    f.getAs[Int]("decoded") shouldBe 0
    f.getAs[Int]("channels") shouldBe 1
    f.getAs[Int]("sample_rate") shouldBe 0
    f.getAs[Long]("n_frames") shouldBe 16L
  }

  test("verify emits exact Jaccard and respects theta (C5 semantics)") {
    val s = spark
    import s.implicits._
    val sigs = Seq(
      ("a", Array(1L, 2L, 3L, 4L), 0L),
      ("b", Array(1L, 2L, 3L, 9L), 0L),
      ("c", Array(7L, 8L), 0L)
    ).toDF("conv_id", "shingles", "simhash")
    val pairs = Seq(("a", "b", 5), ("a", "c", 5)).toDF("id_a", "id_b", "matching_bands")
    val out = VerifyPairs.verify(pairs, sigs, DedupConfig(theta = 0.5))
      .collect().map(r => ((r.getString(1), r.getString(0)), r.getDouble(3))).toMap
    // verify joins reorder columns; fetch by name instead
    val byName = VerifyPairs.verify(pairs, sigs, DedupConfig(theta = 0.5)).collect()
      .map(r => (r.getAs[String]("id_a"), r.getAs[String]("id_b"), r.getAs[Double]("jaccard")))
    byName.map(t => (t._1, t._2)).toSet shouldBe Set(("a", "b"))
    byName.head._3 shouldBe (3.0 / 5.0) +- 1e-12
    out.size shouldBe 1
  }

  test("lshTopK survives a hot corpus band clique (chunked-index guard) with exact results") {
    val s = spark
    import s.implicits._
    // 1200 identical unit vectors: every LSH band bucket holds the whole
    // clique (> the 512 bucketCap), so the plain band join would put
    // 1200 x |queries| rows on one shuffle key per band — the corpus-side
    // skew case. The chunked-index guard must route it AND produce exactly
    // the exact-scan top-k (identical vectors collide in every band, so
    // LSH recall is 1 by construction; ties break by id on both paths).
    val emb = (0 until 1200).map(i => (i.toLong, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val lsh = Knn.lshTopK(s, queries, emb, k = 5, numTables = 8, rowsPerBand = 4, dims = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Knn.exactTopK(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    lsh shouldBe exact
  }
}
