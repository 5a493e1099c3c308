package graft.operators

import graft.DedupConfig
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Candidate-pair generation: the batch re-grounding of the reference's
  * inverted-index read path.
  *
  *   - `explode(bands)` → (band, conv_id) rows ≙ Lucene term postings
  *     (S5 / C1: the hash-partitioned shuffle *is* the term dictionary)
  *   - within-bucket pair enumeration ≙ the postings scan (C1)
  *   - `groupBy(idA, idB).count` ≙ per-doc hit counting (C2,
  *     `MatchHashesAndScoreQuery.java:62-82`)
  *   - `matches >= minBands` ≙ the kth-greatest candidate threshold (C3/C4),
  *     global rather than per-segment (SURVEY §4: recall can only improve)
  *
  * **Skew is handled explicitly** (SURVEY §7.4): hot buckets (boilerplate
  * text, empty-doc sentinel bands) blow up quadratically. Buckets larger
  * than `bucketCap` take a salted two-phase path: ids are deterministically
  * chunked, (chunkI ≤ chunkJ) block keys are exploded on both sides, and the
  * quadratic enumeration runs as an equi-join over (band, ci, cj) — spread
  * across ~g²/2 shuffle keys instead of one. **No pairs are lost**: the
  * block decomposition covers every (i < j) pair exactly once.
  */
object CandidatePairs {

  /** Runtime skew counters for the scan — "no silent caps": which work took
    * the salted path is observable, not implied. Accumulator semantics are
    * at-least-once (task retries/speculation can double-count); that is the
    * right trade for metrics — zero extra jobs, zero extra exchanges.
    *
    * @param hotBuckets  runs reclassified as hot (buffered > bucketCap)
    * @param hotPostings posting rows routed to the salted block join
    * @param saltedPairs candidate pairs emitted by the salted path
    */
  final case class CandidateMetrics(
      hotBuckets: org.apache.spark.util.LongAccumulator,
      hotPostings: org.apache.spark.util.LongAccumulator,
      saltedPairs: org.apache.spark.util.LongAccumulator
  ) extends Serializable

  object CandidateMetrics {
    def register(spark: org.apache.spark.sql.SparkSession): CandidateMetrics =
      CandidateMetrics(
        spark.sparkContext.longAccumulator("graft.candidates.hot_buckets"),
        spark.sparkContext.longAccumulator("graft.candidates.hot_postings"),
        spark.sparkContext.longAccumulator("graft.candidates.salted_pairs"))
  }

  /** Code-point "<" ≡ Spark UTF8String binary order — the SAME orientation
    * the hot-bucket path's least/greatest produces. (java.lang.String "<"
    * compares UTF-16 code units, which disagrees with byte order between
    * supplementary-plane chars and [U+E000, U+FFFF]; a pair straddling a
    * small and a hot bucket would then reach the hit-count groupBy as two
    * keys.)
    */
  private def cpLt(a: String, b: String): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    a.length < b.length
  }

  /** Streaming run iterator over band-sorted postings: buffers ids of the
    * current band run up to cap+1 and hands each completed run to `emit`
    * exactly once — small runs (≤ cap) with `overflowed = false` and a full
    * id buffer, oversized runs with `overflowed = true` (the buffer holds
    * the first cap+1 ids; the remaining ids of the run stream through
    * `emitTail`). Memory is O(bucketCap) regardless of band heat.
    *
    * Runs of equal band are contiguous after the sort; ids within a run
    * arrive in shuffle order — irrelevant, pair normalization makes the
    * emitted SET order-independent (determinism contract).
    */
  private final class RunScan[T](iter: Iterator[(Long, String)], cap: Int,
      emit: (Long, Array[String], Boolean) => Iterator[T],
      emitTail: (Long, String) => Iterator[T]) extends Iterator[T] {
    private val buf = new scala.collection.mutable.ArrayBuffer[String](64)
    private var curBand = 0L
    private var overflow = false
    private var pending: Iterator[T] = Iterator.empty
    private var head: Option[(Long, String)] = None

    private def flushRun(): Iterator[T] = {
      val out =
        if (overflow) Iterator.empty // run already emitted at overflow time
        else emit(curBand, buf.toArray, false) // snapshot: emit may be lazy, buf is cleared next
      buf.clear(); overflow = false
      out
    }

    private def advance(): Unit = {
      while (pending.isEmpty && (head.nonEmpty || iter.hasNext)) {
        val (band, id) = head.getOrElse(iter.next())
        head = None
        if (buf.isEmpty && !overflow) { curBand = band; buf += id }
        else if (band == curBand) {
          if (overflow) pending = emitTail(band, id)
          else {
            buf += id
            if (buf.length > cap) {
              // cap exceeded: reclassify the buffered run as hot — hand the
              // buffered prefix to emit, then stream the rest via emitTail
              overflow = true
              val snapshot = buf.toArray
              buf.clear()
              pending = emit(curBand, snapshot, true)
            }
          }
        } else { // run boundary
          head = Some((band, id))
          pending = flushRun()
        }
      }
      if (pending.isEmpty && buf.nonEmpty) pending = flushRun()
    }

    override def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
    override def next(): T = { if (pending.isEmpty) advance(); pending.next() }
  }

  /** The fused small-bucket scan of [[candidatePairs]]: explode → exchange
    * → sort → run scan → map-side partial agg → exchange → final agg,
    * materialized eagerly (the output is the smallest set in the operator).
    * Every oversized run is skipped, and its band value recorded on the way.
    *
    * @return (id_a, id_b, small_bands) over the small buckets, and the bands
    *         of the skipped runs — at most one per hot run; a retried task
    *         can only repeat a value, which the set absorbs
    */
  private[graft] def smallScan(sigs: DataFrame, cfg: DedupConfig,
                               metrics: Option[CandidateMetrics]): (DataFrame, Set[Long]) = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val cap = cfg.bucketCap
    // EXPLICIT partition count: AQE sizes post-shuffle partitions by the
    // exchanged posting BYTES, but this exchange feeds a pair enumeration
    // whose output is quadratic in bucket sizes — on a corpus with many
    // mid-size buckets AQE coalesces the postings to ONE partition and a
    // single task enumerates millions of pairs serially (measured 3-4 s of
    // the events-corpus pairs stage). 2x cluster parallelism (scale-adaptive,
    // not a constant) keeps the enumeration width-parallel with load-balance
    // slack while bounding per-stage task overhead (guide §8: the operator
    // knows the blow-up, the optimizer cannot; a band's bucket is always one
    // partition either way — extra partitions only separate DIFFERENT
    // buckets, so width x 2 captures the available spread).
    val scanParts = math.max(2, spark.sparkContext.defaultParallelism * 2)
    val postings = sigs
      .select(col("conv_id"), explode(col("bands")).as("band"))
      .repartition(scanParts, col("band"))
      .sortWithinPartitions(col("band"))
      .select(col("band"), col("conv_id")).as[(Long, String)]
    val hotBands = spark.sparkContext.collectionAccumulator[Long]("graft.candidates.hot_bands")
    val outerDesc = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription("candidates:scan")
    val smallAgg = postings
      .mapPartitions { iter =>
        new RunScan[(String, String)](iter, cap,
          emit = (band, ids0, overflowed) =>
            if (overflowed) {
              // hot runs pair up in the salted path; record the band for it
              // and count the run for the lineage metrics (this scan always
              // runs exactly once — the salted subtree never touches them)
              hotBands.add(band)
              metrics.foreach { m => m.hotBuckets.add(1); m.hotPostings.add(ids0.length) }
              Iterator.empty
            } else {
              // Duplicate conv_ids within one bucket (duplicate input rows,
              // a conv repeated across sources) must count as ONE posting:
              // emitting (dup, other) once per occurrence would inflate
              // matching_bands past L and could pass minBands spuriously.
              // The salted path dedupes the same way (hot postings are
              // distinct'd before chunking), so a pair straddling both
              // paths counts once.
              val ids = if (ids0.length < 2) ids0 else ids0.distinct
              if (ids.length < 2) Iterator.empty
              else for {
                i <- ids.indices.iterator
                j <- (i + 1 until ids.length).iterator
              } yield {
                val x = ids(i); val y = ids(j)
                if (cpLt(x, y)) (x, y) else (y, x)
              }
            },
          emitTail = (_, _) => {
            metrics.foreach(_.hotPostings.add(1))
            Iterator.empty
          })
      }
      .toDF("id_a", "id_b")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("int").as("small_bands"))
      .localCheckpoint(eager = true)
    spark.sparkContext.setJobDescription(outerDesc)
    (smallAgg, hotBands.value.asScala.toSet)
  }

  /** The distinct (band, conv_id) postings of `bands` — the hot pass selects
    * the bands the small scan recorded rather than re-classifying runs, so
    * a band skipped there is always enumerated here, even when `sigs` is
    * recomputed differently. Materialized once: it feeds the counts
    * aggregation and both block-join replicas.
    */
  private[graft] def hotPostings(sigs: DataFrame, bands: Set[Long]): DataFrame = {
    val sc = sigs.sparkSession.sparkContext
    val outerDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("candidates:hot")
    val hot = sigs
      .select(explode(col("bands")).as("band"), col("conv_id"))
      .filter(col("band").isInCollection(bands))
      .distinct()
      .localCheckpoint(eager = true)
    sc.setJobDescription(outerDesc)
    hot
  }

  /** All unordered candidate pairs (id_a < id_b) with the number of
    * matching bands. Complete (no recall loss from capping).
    *
    * Shape (common, no-hot-band case — ONE fused pass, nothing
    * materialized but the aggregated candidates): the posting rows take
    * one hash exchange, a Tungsten sort by band, and a streaming run scan
    * that enumerates each small (≤ bucketCap) bucket STRAIGHT INTO the
    * hit-count aggregation's map-side partials. The eager materialization
    * of the aggregated output (bounded by candidate density — orders of
    * magnitude below the raw pair stream) doubles as the hot-band probe:
    * the scan records the band of each oversized run in an accumulator,
    * and only when that set is non-empty does the salted block-join
    * subtree get built at all, over those bands' postings selected from
    * the source (a second explode + filter + distinct, paid ONLY on hot
    * corpora). Earlier shapes either checkpointed the full enumerated pair
    * stream (quadratic in bucket sizes — 2.5M rows vs 114k postings on the
    * events corpus, the dominant cost of the stage) or checkpointed the
    * postings and re-scanned them per consumer (~20 s of the narrow-width
    * 600k-conv candidate phase); this shape stores neither.
    *
    * No counts aggregation, no count join, no band self-join (the round-4
    * join shape re-read the postings exchange up to 4x and probed a
    * bucket-count hash relation per read). The scan buffers at most one
    * run AND at most bucketCap+1 rows — memory is O(bucketCap) regardless
    * of how hot a band is.
    */
  def candidatePairs(sigs: DataFrame, cfg: DedupConfig,
                     metrics: Option[CandidateMetrics] = None): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val cap = cfg.bucketCap
    val (smallAgg, hotBands) = smallScan(sigs, cfg, metrics)

    // ---- hot short-circuit: zero oversized runs (the usual case after
    //      exact-dup collapse) means the aggregated counts are already
    //      complete — return without building the ~5-stage salted subtree ----
    if (hotBands.isEmpty) {
      return smallAgg
        .select(col("id_a"), col("id_b"), col("small_bands").as("matching_bands"))
        .filter(col("matching_bands") >= cfg.minBands)
    }

    // ---- oversized buckets (rare branch): salted block decomposition over
    //      the postings of exactly the bands the scan skipped ----
    val hot = hotPostings(sigs, hotBands)
    val hotCounts = hot.groupBy(col("band")).agg(count(lit(1)).as("n"))
    val big = hot.join(broadcast(hotCounts), Seq("band"))
      .withColumn("g", ceil(col("n") / cap).cast("int"))
      .withColumn("chunk", pmod(xxhash64(col("conv_id")), col("g")).cast("int"))

    // left replica: row with chunk ci participates in blocks (ci, cj) for cj >= ci
    val lhs = big
      .withColumn("cj", explode(sequence(col("chunk"), col("g") - 1)))
      .select(col("band"), col("chunk").as("ci"), col("cj"), col("conv_id").as("id_a"))
    // right replica: row with chunk cj participates in blocks (ci, cj) for ci <= cj
    val rhs = big
      .withColumn("ci", explode(sequence(lit(0), col("chunk"))))
      .select(col("band"), col("ci"), col("chunk").as("cj"), col("conv_id").as("id_b"))

    // shuffle_hash: both replicas are wide fan-outs of the hot postings —
    // never broadcastable, and checkpoint-derived size estimates can't be
    // trusted
    val bigPairs = lhs.hint("shuffle_hash")
      .join(rhs, Seq("band", "ci", "cj"))
      .filter(
        // same chunk: strict order avoids self+duplicate pairs; cross-chunk:
        // every pair appears exactly once (ci<cj), order normalized below
        (col("ci") === col("cj") && col("id_a") < col("id_b")) ||
          (col("ci") =!= col("cj") && col("id_a") =!= col("id_b"))
      )
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b")
      )

    // salted-pair counter rides the (rare, small) hot path only — the
    // typed map breaks codegen for these rows, never for the main scan
    val bigPairsCounted = metrics match {
      case Some(m) =>
        bigPairs.as[(String, String)]
          .map { p => m.saltedPairs.add(1); p }
          .toDF("id_a", "id_b")
      case None => bigPairs
    }

    // ---- final hit counting (C2) + threshold (C3/C4): the aggregated
    //      small-bucket counts merge with one row per salted band hit —
    //      sum = total shared bands, exactly the single-aggregation result ----
    smallAgg.select(col("id_a"), col("id_b"), col("small_bands").as("cnt"))
      .unionByName(bigPairsCounted.select(col("id_a"), col("id_b"), lit(1).cast("int").as("cnt")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("cnt")).cast("int").as("matching_bands"))
      .filter(col("matching_bands") >= cfg.minBands)
  }

  /** Per-band bucket-size metrics (diagnostics; ≙ the reference's explain
    * output C8 re-grounded as data).
    */
  def bucketMetrics(sigs: DataFrame): DataFrame = {
    sigs
      .select(explode(col("bands")).as("band"))
      .groupBy("band").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
      .orderBy(desc("bucket_size"))
  }

}
