package graft.streaming

import graft.DedupConfig
import graft.kernels.{Hashing, MinHashModel, Shingler, SimHashModel}
import graft.operators.ProbeScan
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
  * Near-dup streaming (new doc vs historical index) matches each
  * micro-batch against a checkpointed signatures table — see
  * [[nearDupAgainstIndex]] — keeping state out of the streaming engine,
  * which is the scalable shape: the "index" is the batch pipeline's durable
  * signatures checkpoint. Both near-dup functions run
  * [[graft.operators.ProbeScan]], which collects the micro-batch, so they are
  * called inside `foreachBatch`, where a micro-batch is a static DataFrame.
  */
object StreamingDedup {

  /** Per-micro-batch signature computation (stateless, kernel hoisted per
    * partition — identical math to the batch path, so stream and batch
    * signatures are interchangeable).
    */
  def signatures(spark: SparkSession, docs: DataFrame, cfg: DedupConfig): DataFrame =
    signaturesWithTs(spark, docs.withColumn("ts", lit(null).cast("timestamp")), cfg).drop("ts")

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
    * index — the read path C1/C2/C5 with the micro-batch as the query side.
    * Returns (conv_id, matched_id, matching_bands) candidates: pairs sharing
    * ≥ `minBands` band postings, counted like a posting join (a band value
    * repeated on either side counts occurrences × occurrences).
    *
    * One [[graft.operators.ProbeScan]]: the batch's bands become a broadcast
    * band table, and the index is read once, narrowly, never exchanged. A
    * hot index band (empty-doc sentinel, boilerplate family) has no join key
    * to pile up on — its members stay spread over the index's partitions.
    */
  def nearDupAgainstIndex(streamSigs: DataFrame, indexSigs: DataFrame, cfg: DedupConfig): DataFrame =
    ProbeScan.textPairs(streamSigs, indexSigs, cfg.minBands, theta = None)

  /** Exact-Jaccard verification of the streaming candidates — the C5 stage
    * on the stream side, closing the candidates→verified gap (the batch
    * verify's precision-1.0 contract now holds for streamed docs too).
    *
    * Shaped for `foreachBatch`, where the micro-batch IS a static
    * DataFrame (`batchSigs` and `indexSigs` must carry `shingles`, i.e. come
    * from the full signature kernel). The same function replays against
    * static frames, which is how the driver oracle checks it.
    *
    * The same [[graft.operators.ProbeScan]] pass as [[nearDupAgainstIndex]]
    * verifies each band hit inline against the index row's own shingles, so
    * only verified pairs leave the index scan and no payload is exchanged.
    * Returns (conv_id, matched_id, matching_bands, jaccard ≥ θ).
    */
  def nearDupVerified(batchSigs: DataFrame, indexSigs: DataFrame, cfg: DedupConfig): DataFrame =
    ProbeScan.textPairs(batchSigs, indexSigs, cfg.minBands, Some(cfg.theta))
}
