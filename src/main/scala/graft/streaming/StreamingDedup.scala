package graft.streaming

import graft.DedupConfig
import graft.kernels.{Hashing, MinHashModel, Shingler, SimHashModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface for the dedup engine.
  *
  * The reference is request/response serving with no streaming concept
  * (SURVEY §2.9); this is the *additional* capability a training-data
  * pipeline needs: deduplicate documents as they arrive instead of in a
  * nightly batch. Built entirely on public Structured Streaming primitives:
  * stateless mapPartitions for signatures, watermarked `dropDuplicates` for
  * streaming exact dedup.
  *
  * Near-dup streaming (new doc vs historical index) is a stream-static join
  * against a checkpointed signatures table — see [[nearDupAgainstIndex]] —
  * keeping state out of the streaming engine, which is the scalable shape:
  * the "index" is the batch pipeline's durable signatures checkpoint.
  */
object StreamingDedup {

  /** Per-micro-batch signature computation (stateless, kernel hoisted per
    * partition — identical math to the batch path, so stream and batch
    * signatures are interchangeable).
    */
  def signatures(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    docs.selectExpr("conv_id", "coalesce(doc_text, '') as doc_text")
      .as[(String, String)]
      .mapPartitions { iter =>
        val model = new MinHashModel(cfg.numTables, cfg.rowsPerBand, cfg.seed)
        iter.map { case (id, text) =>
          val sh = Shingler.shingles(text, cfg.shingleK, cfg.shingleMode, cfg.seed)
          var setHash = 0x243f6a8885a308d3L ^ cfg.seed
          var i = 0
          while (i < sh.length) { setHash = Hashing.mix64(setHash, sh(i)); i += 1 }
          (id, model.bandHashes(sh), SimHashModel.fingerprint(sh, cfg.seed), setHash)
        }
      }
      .toDF("conv_id", "bands", "simhash", "set_hash")
  }

  /** Signature computation that carries the event-time column through the
    * kernel (no join back to the source — a stream-stream self-join would
    * accumulate unbounded join state).
    */
  def signaturesWithTs(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    docs.selectExpr("conv_id", "coalesce(doc_text, '') as doc_text", "ts")
      .as[(String, String, java.sql.Timestamp)]
      .mapPartitions { iter =>
        val model = new MinHashModel(cfg.numTables, cfg.rowsPerBand, cfg.seed)
        iter.map { case (id, text, ts) =>
          val sh = Shingler.shingles(text, cfg.shingleK, cfg.shingleMode, cfg.seed)
          var setHash = 0x243f6a8885a308d3L ^ cfg.seed
          var i = 0
          while (i < sh.length) { setHash = Hashing.mix64(setHash, sh(i)); i += 1 }
          (id, model.bandHashes(sh), SimHashModel.fingerprint(sh, cfg.seed), setHash, ts)
        }
      }
      .toDF("conv_id", "bands", "simhash", "set_hash", "ts")
  }

  /** Streaming exact dedup: keep the first document per content key within
    * the watermark horizon. `ts` must be an event-time column; late
    * duplicates beyond the watermark are the documented trade-off (state
    * cannot be unbounded at 10^12 scale).
    *
    * State is actually evicted: `dropDuplicatesWithinWatermark` ages dedup
    * keys out once the watermark passes them (a plain `dropDuplicates` on a
    * non-event-time key never evicts), and the event-time column rides the
    * signature kernel itself, so there is no stateful self-join upstream.
    */
  def exactDedupStream(spark: SparkSession, docs: DataFrame, cfg: DedupConfig,
                       watermark: String = "1 hour"): DataFrame = {
    signaturesWithTs(spark, docs.select(col("conv_id"), col("doc_text"), col("ts")), cfg)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("set_hash")
  }

  /** Streaming near-dup detection against a static (checkpointed) signature
    * index: new docs are banded and hash-joined against the index's bands —
    * the read path C1/C2/C5 with the stream as the query side. Returns
    * (conv_id, matched_id, matching_bands) candidates; exact verification
    * joins the payload exactly like the batch verify stage.
    *
    * **Skew-safe**: a hot index band (empty-doc sentinel, boilerplate
    * family) would otherwise put (index members × stream hits) rows on ONE
    * shuffle key — the stream-side analog of the hazard the batch path's
    * [[graft.operators.CandidatePairs]] scan exists for. The scan itself is
    * a sorted mapPartitions and can't run on an unbounded stream, so this
    * salts with the replication on the SMALL side: index rows of a band
    * larger than `bucketCap` are deterministically CHUNKED (each index row
    * lands in exactly one of `g = ⌈n/cap⌉` chunks — no index replication),
    * and each stream row hitting that band is exploded across all g chunks.
    * Every (stream, index) band pair still meets exactly once — the index
    * row sits in one chunk, the stream row visits every chunk — but a hot
    * band's work spreads over g shuffle keys of ≤ cap index rows each. The
    * replication cost is g rows per (stream row × hot band): proportional
    * to the micro-batch, never to the index (the previous orientation
    * replicated the index across the salts — n·g ≈ n²/cap rows per hot
    * band, quadratic in exactly the case salting exists for). Cold bands
    * pay nothing (g = 1). The hot-band table and the chunked index are
    * static, so no streaming state is created.
    */
  def nearDupAgainstIndex(streamSigs: DataFrame, indexSigs: DataFrame, cfg: DedupConfig): DataFrame =
    bandHitsAgainstIndex(
      streamSigs.select(col("conv_id"), explode(col("bands")).as("band")),
      indexSigs.select(col("conv_id").as("matched_id"), explode(col("bands")).as("band")),
      cfg.bucketCap, cfg.minBands)

  /** The generic probe-vs-index skew-safe band join (the machinery behind
    * [[nearDupAgainstIndex]], reused by the knn candidate generation —
    * [[graft.operators.Knn.lshTopK]]/`l2LshTopK` previously ran a plain
    * band self-join whose hot corpus bands (zero-vector cliques, dense
    * near-dup families) concentrated (bucket members × probe hits) rows on
    * one shuffle key). Id columns keep whatever type the caller supplies.
    *
    * @param probeBands (conv_id, band) — the small / unbounded-stream side;
    *                   rows explode across a hot band's chunks
    * @param indexBands (matched_id, band) — the corpus side; each row lands
    *                   in exactly one chunk (never replicated)
    * @return (conv_id, matched_id, matching_bands ≥ minMatches)
    */
  def bandHitsAgainstIndex(probeBands: DataFrame, indexBands: DataFrame,
                           cap: Int, minMatches: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val nParts = math.max(2, probeBands.sparkSession.sparkContext.defaultParallelism * 2)
    // static: fan-out factor per hot band only (tiny — bounded by the
    // number of bands hotter than cap, not by the index)
    val hotBands = indexBands.groupBy(col("band"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select(col("band"), ceil(col("n") / cap).cast("int").as("g"))
    // Hot gate: hot index bands are the exception, and the chunked path
    // below costs two broadcast builds + the salt explodes even when no
    // band is hot (measured ~1 s per knn query at small scale). One
    // narrow aggregation job over the STATIC index side decides (batch
    // action on a static DataFrame — legal under a streaming probe side);
    // the cold branch is the plain pinned band join, identical output.
    val anyHot = hotBands.limit(1).count() > 0L
    if (!anyHot) {
      return probeBands.repartition(nParts, col("band"))
        .join(indexBands.repartition(nParts, col("band")), Seq("band"))
        .filter(col("conv_id") =!= col("matched_id"))
        .groupBy(col("conv_id"), col("matched_id"))
        .agg(count(lit(1)).cast("int").as("matching_bands"))
        .filter(col("matching_bands") >= minMatches)
    }
    val chunkedIndex = indexBands
      .join(broadcast(hotBands), Seq("band"), "left")
      .withColumn("salt",
        when(col("g").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("matched_id")), col("g").cast("long")).cast("int")))
      .select(col("band"), col("salt"), col("matched_id"))
    val saltedProbe = probeBands
      .join(broadcast(hotBands), Seq("band"), "left")
      .withColumn("salt", explode(sequence(lit(0), coalesce(col("g"), lit(1)) - 1)))
      .select(col("conv_id"), col("band"), col("salt"))
    // EXPLICIT partition count on both join sides: the (band, salt) join's
    // output is quadratic in bucket sizes (stream hits × index members per
    // band), which AQE cannot see from the exchanged band-row bytes — at
    // small input sizes it coalesces both sides to one partition and a
    // single task computes the whole join + hit count serially. An explicit
    // repartition on the join keys at 2× cluster parallelism (scale-adaptive,
    // not a constant) is reused by the join (same keys, same count — no
    // extra exchange) and only disables the small-input coalescing. Both
    // sides are static DataFrames, so the repartition creates no streaming
    // state.
    saltedProbe.repartition(nParts, col("band"), col("salt"))
      .join(chunkedIndex.repartition(nParts, col("band"), col("salt")),
        Seq("band", "salt")) // stream-static equi-join: no streaming state
      .filter(col("conv_id") =!= col("matched_id"))
      .groupBy(col("conv_id"), col("matched_id"))
      .agg(count(lit(1)).cast("int").as("matching_bands"))
      .filter(col("matching_bands") >= minMatches)
  }

  /** Exact-Jaccard verification of the streaming candidates — the C5 stage
    * on the stream side, closing the candidates→verified gap (the batch
    * verify's precision-1.0 contract now holds for streamed docs too).
    *
    * Shaped for `foreachBatch`, the production pattern for stream-side
    * joins that need the batch planner: inside `foreachBatch` the
    * micro-batch IS a static DataFrame, so both payload joins below are
    * ordinary batch joins (`batchSigs` must carry `shingles`, i.e. come
    * from the full signature kernel). The same function replays against
    * static frames, which is how the driver oracle checks it.
    *
    * Join discipline (same as [[graft.operators.VerifyPairs]]): the index
    * payload is reduced to matched ids via a broadcast semi-join BEFORE its
    * shingle arrays move — candidates are micro-batch-bounded, the index is
    * not — and the batch-side payload join is micro-batch-sized by
    * definition. One payload-carrying exchange per side, both bounded by
    * candidate density.
    *
    * @param indexPayload where the matched ids' `shingles` are looked up
    *                     (default: `indexSigs`). A caller whose band index
    *                     is a materialized `(conv_id, bands)` subset of a
    *                     larger table passes that table here, so the band
    *                     index need not carry the payload; its conv_ids
    *                     must be unique.
    */
  def nearDupVerified(batchSigs: DataFrame, indexSigs: DataFrame, cfg: DedupConfig,
                      indexPayload: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cands = nearDupAgainstIndex(batchSigs, indexSigs, cfg).localCheckpoint(true)
    val idxPayload = indexPayload.getOrElse(indexSigs)
      .select(col("conv_id").as("matched_id"), col("shingles").as("sh_i"))
      .join(broadcast(cands.select(col("matched_id")).distinct()), Seq("matched_id"), "left_semi")
    val batchPayload = batchSigs.select(col("conv_id"), col("shingles").as("sh_s"))
    cands
      .hint("shuffle_hash")
      .join(batchPayload, Seq("conv_id"))
      .hint("shuffle_hash")
      .join(idxPayload, Seq("matched_id"))
      .withColumn("jaccard", graft.operators.VerifyPairs.jaccardColumn(col("sh_s"), col("sh_i")))
      .filter(col("jaccard") >= cfg.theta)
      .select(col("conv_id"), col("matched_id"), col("matching_bands"), col("jaccard"))
  }
}
