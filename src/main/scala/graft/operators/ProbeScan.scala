package graft.operators

import graft.kernels.ExactSim
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Broadcast-then-narrow scans — ≙ the reference's read path, where one
  * query's hashes meet the postings in a single pass that counts hits per
  * doc and exact-scores only the hits (`MatchHashesAndScoreQuery` +
  * `HitCounter`, SURVEY C2/C5). A small side is collected into a broadcast
  * table and the large side is read in ONE narrow `mapPartitions` pass that
  * scores inline: only scored rows leave it and it is never exchanged. Over
  * the byte gate [[BroadcastBudget]] the table is cut in its stable row
  * order into chunks, one broadcast and scan each, unioned — row for row
  * the one-chunk result, since every table row is matched on its own.
  *
  * Probe vs index ([[textPairs]], [[knnScored]]): the table maps band →
  * probe rows, one entry per occurrence (a repeated band value counts probe
  * × index occurrences, as a posting join does); a hot index band has no
  * join key to pile up on. Probe and index ids are unique keys. Candidate
  * pairs vs their payload: [[pairScores]].
  */
object ProbeScan {

  /** Measured bytes (ids, bands, payload, 16 per row) one band table holds. */
  private[graft] val BroadcastBudget: Long = 16L << 20

  private def len(a: Array[_]): Int = if (a == null) 0 else a.length

  /** The rows of `rdd` in stable row order (partition, then position), in
    * chunks of at most `budget` measured bytes plus one row. No job without
    * partitions, one when every partition fits its 1/n share of the budget.
    * Otherwise that job's per-partition byte totals place every row in a
    * chunk; each chunk is one more job over the partitions it spans, read
    * from one cached copy (so a partition split between two chunks is cut in
    * the same row order both times), failing loudly if a partition no longer
    * measures what the first job measured.
    */
  private[graft] def chunks[T: ClassTag](rdd: RDD[T], bytesOf: T => Long,
                                         budget: Long = BroadcastBudget): Iterator[Array[T]] = {
    val sc = rdd.sparkContext
    val share = budget / math.max(1, rdd.getNumPartitions)
    if (rdd.getNumPartitions == 0) return Iterator(Array.empty[T])
    val first = rdd.mapPartitions { it =>
      val buf = mutable.ArrayBuilder.make[T]
      var bytes = 0L
      it.foreach { t => bytes += bytesOf(t); if (bytes <= share) buf += t }
      Iterator((bytes, if (bytes <= share) buf.result() else null))
    }.collect()
    if (first.forall(_._2 != null)) Iterator(first.flatMap(_._2))
    else {
      val cache = rdd.getStorageLevel == StorageLevel.NONE
      if (cache) rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val starts = first.map(_._1).scanLeft(0L)(_ + _)
      val n = ((starts.last + budget - 1) / budget).toInt
      Iterator.range(0, n).map { c =>
        val (lo, hi) = (c * budget, (c + 1) * budget)
        val parts = first.indices.filter(p => starts(p) < hi && starts(p + 1) > lo)
        val rows = parts.zip(sc.runJob(rdd, (ctx: TaskContext, it: Iterator[T]) => {
          var at = starts(ctx.partitionId())
          val kept = it.filter { t => val in = at >= lo && at < hi; at += bytesOf(t); in }.toArray
          (at, kept)
        }, parts)).flatMap { case (p, (end, kept)) =>
          require(end == starts(p + 1),
            "the scanned table's rows changed between passes: materialize a nondeterministic input before the scan")
          kept
        }.toArray
        if (cache && c == n - 1) rdd.unpersist(blocking = false)
        rows
      }
    }
  }

  /** The union of `scanOne` over one broadcast per table (empty: no table). */
  private def unionOf[T: ClassTag, O: Encoder](tables: Iterator[T], sc: org.apache.spark.SparkContext)(
      scanOne: Broadcast[T] => Dataset[O]): Option[Dataset[O]] =
    tables.map(sc.broadcast(_)).toList.map(scanOne).reduceOption(_ union _)

  /** One chunk's band table: probe ids, payloads, band → probe rows. */
  private final class Table[I, P](val ids: Array[I], val payload: Array[P], bands: Array[Array[Long]])
      extends Serializable {
    val postings: mutable.LongMap[Array[Int]] = {
      val acc = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
      for (p <- bands.indices; b <- Option(bands(p)).getOrElse(Array.emptyLongArray))
        acc.getOrElseUpdate(b, new mutable.ArrayBuilder.ofInt) += p
      acc.mapValuesNow(_.result())
    }
  }

  /** The union over `tables` of one narrow pass of `index` each: an index
    * row's bands (`bandsOf`, built once per partition) hit probe rows, and
    * `score(table, probe row, hit count, index row)` decides each hit.
    */
  private def scan[I, P, R, O: Encoder](tables: Iterator[Table[I, P]], index: Dataset[R],
                                        bandsOf: () => R => Array[Long],
                                        score: (Table[I, P], Int, Int, R) => Option[O]): Dataset[O] = {
    unionOf(tables, index.sparkSession.sparkContext) { bc =>
      index.mapPartitions { it =>
        val t = bc.value
        val counts = new Array[Int](t.ids.length)
        val hit = new Array[Int](t.ids.length)
        if (t.ids.isEmpty) Iterator.empty
        else {
          val bands = bandsOf()
          it.flatMap { r =>
            val bs = bands(r)
            var n = 0
            for (i <- 0 until len(bs); ps <- Option(t.postings.getOrNull(bs(i))); p <- ps) {
              if (counts(p) == 0) { hit(n) = p; n += 1 }
              counts(p) += 1
            }
            Iterator.range(0, n).flatMap { h =>
              val p = hit(h)
              val c = counts(p)
              counts(p) = 0
              score(t, p, c, r)
            }
          }
        }
      }
    }.get
  }

  private type IndexRow = (String, Array[Long], Array[Long], Long)

  /** Text probe × index pairs sharing ≥ `minBands` band postings, with
    * `conv_id ≠ matched_id`. Both sides carry `(conv_id, bands)`, plus
    * `shingles` when verifying.
    *
    * @param theta      verify each hit by exact Jaccard ≥ θ, or None for
    *                   band hits only (the index then needs no `shingles`)
    * @param matchedKey a long index column carried out as `matched_key`
    * @return (conv_id, matched_id, matching_bands[, jaccard][, matched_key])
    */
  def textPairs(probe: DataFrame, index: DataFrame, minBands: Int, theta: Option[Double],
                matchedKey: Option[String] = None): DataFrame = {
    val spark = probe.sparkSession
    import spark.implicits._
    require(!probe.isStreaming, "the probe side is collected: call the probe scan inside foreachBatch")
    val payload = if (theta.isDefined) col("shingles") else lit(null).cast("array<bigint>")
    val rows = probe.select(col("conv_id"), col("bands"), payload).as[(String, Array[Long], Array[Long])].rdd
    val tables = chunks(rows, (r: (String, Array[Long], Array[Long])) =>
      16L + 2L * Option(r._1).fold(0)(_.length) + 8L * (len(r._2) + len(r._3))
    ).map(c => new Table(c.map(_._1), c.map(_._3), c.map(_._2)))
    val idx = index.select(col("conv_id"), col("bands"), payload, matchedKey.fold(lit(0L))(col).cast("long"))
      .as[IndexRow]
    val none = Array.emptyLongArray
    scan(tables, idx, () => (r: IndexRow) => if (r._1 == null) null else r._2,
      (t: Table[String, Array[Long]], p: Int, c: Int, r: IndexRow) => {
        val pid = t.ids(p)
        if (c < minBands || pid == null || pid == r._1) None
        else theta match {
          case None => Some((pid, r._1, c, Double.NaN, r._4))
          case Some(th) =>
            val j = ExactSim.jaccard(Option(t.payload(p)).getOrElse(none), Option(r._3).getOrElse(none))
            if (j >= th) Some((pid, r._1, c, j, r._4)) else None
        }
      }).toDF("conv_id", "matched_id", "matching_bands", "jaccard", "matched_key")
      .select(Seq(col("conv_id"), col("matched_id"), col("matching_bands")) ++
        theta.map(_ => col("jaccard")) ++ matchedKey.map(_ => col("matched_key")): _*)
  }

  private type VecRow = (Long, Array[Float])

  /** Dense-vector hits: (q_id, n_id, sim) for every query and corpus row
    * sharing ≥ 1 band, with `q_id ≠ n_id`. Both sides carry
    * `(vec_id, embedding)`.
    *
    * @param dims          vector length; ≤ 0 takes the first query row's
    * @param bandsPerQuery bands a query row emits (part of its measured bytes)
    * @param probeHash     dims → the query-side hasher (applied to the collected queries)
    * @param indexHash     dims → the corpus-side hasher (built per partition)
    */
  def knnScored(queries: DataFrame, corpus: DataFrame, dims: Int, bandsPerQuery: Int,
                probeHash: Int => Array[Float] => Array[Long],
                indexHash: Int => Array[Float] => Array[Long],
                sim: (Array[Float], Array[Float]) => java.lang.Double): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(!queries.isStreaming, "the query side is collected: it must be a static DataFrame")
    def vecs(df: DataFrame) = df.select(col("vec_id").cast("long"), col("embedding")).as[VecRow]
    val cs = chunks(vecs(queries).rdd, (r: VecRow) => 16L + 4L * len(r._2) + 8L * bandsPerQuery).buffered
    val d = if (dims > 0) dims else cs.headOption.flatMap(_.headOption).fold(0)(r => len(r._2))
    lazy val hash = probeHash(d)
    scan(cs.map(c => new Table(c.map(_._1), c.map(_._2), c.map(r => hash(r._2)))), vecs(corpus),
      () => { val h = indexHash(d); (r: VecRow) => h(r._2) },
      (t: Table[Long, Array[Float]], p: Int, _: Int, r: VecRow) =>
        if (t.ids(p) == r._1) None else Some((t.ids(p), r._1, sim(t.payload(p), r._2))))
      .toDF("q_id", "n_id", "sim")
  }

  /** One chunk's pair table: the `id_b` members' payload rows, and per `id_a`
    * its partners (b row, carried long), one per pair occurrence × b row
    * occurrence — the multiplicity of the two equi-joins it stands for.
    */
  private final class PairTable[K, P](val ids: Array[K], val payload: Array[P],
                                      val partners: Map[K, Array[(Int, Long)]]) extends Serializable

  private def pairTable[K: ClassTag, P: ClassTag](pairs: Array[(K, K, Long)], members: Array[(K, P)]) = {
    val rowsOf = members.indices.groupBy(r => members(r)._1)
    new PairTable(members.map(_._1), members.map(_._2),
      (for ((a, b, c) <- pairs if a != null; r <- rowsOf.getOrElse(b, Nil)) yield (a, (r, c))).groupMap(_._1)(_._2))
  }

  /** What the last [[pairScores]] call (on any thread) collected: its tables
    * and their measured pair and member-payload bytes. Diagnostics only.
    */
  private[graft] final case class PairScanStats(tables: Int, pairBytes: Long, payloadBytes: Long)
  @volatile private[graft] var lastPairScan: PairScanStats = PairScanStats(0, 0L, 0L)

  /** Candidate pairs exactly scored against their members' payload — ≙ the
    * reference's re-score in the pass that reads the stored payload
    * (SURVEY C5).
    *
    * The pairs, with the `id_b` members' payload, are collected into a
    * broadcast table; `payload` is then read in ONE narrow pass that
    * deserializes only `id_a` members (a broadcast semi-filter on its first
    * column) and scores each against its partners inline. Nothing is
    * exchanged. Multiplicity is the two equi-joins' (payload rows of `id_a`
    * × pair rows × payload rows of `id_b`); a null id matches nothing.
    * The pairs are cut at half the budget and, per pair chunk, the members'
    * payload at the rest, as [[chunks]] does: one table and one scan each,
    * unioned. An empty pair set runs no payload job.
    *
    * @param pairs        (id_a, id_b, a long carried to `score`)
    * @param payload      (id, payload)
    * @param payloadBytes measured bytes of one payload value
    * @param score        (id_a, id_b, carried, a's payload, b's payload) → the row, or None
    */
  private[graft] def pairScores[K: ClassTag: TypeTag, P: ClassTag, O: Encoder](
      pairs: Dataset[(K, K, Long)], payload: Dataset[(K, P)], payloadBytes: P => Long)(
      score: (K, K, Long, P, P) => Option[O]): Dataset[O] = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    def idBytes(k: K): Long = k match { case s: String => 2L * s.length; case _ => 8L }
    def rowsIn[S](bc: Broadcast[S])(has: (S, K) => Boolean): Dataset[(K, P)] =
      payload.filter(udf((k: K) => k != null && has(bc.value, k)).apply(payload.col(payload.columns.head)))
    val pairBytes = (p: (K, K, Long)) => 24L + idBytes(p._1) + idBytes(p._2)
    val memberBytes = (m: (K, P)) => 16L + idBytes(m._1) + payloadBytes(m._2)
    var stats = PairScanStats(0, 0L, 0L)
    val tables = chunks(pairs.rdd, pairBytes, BroadcastBudget / 2).filter(_.nonEmpty).flatMap { ps =>
      val pb = ps.iterator.map(pairBytes).sum
      stats = stats.copy(pairBytes = stats.pairBytes + pb)
      val bs = sc.broadcast(ps.iterator.map(_._2).toSet)
      chunks(rowsIn(bs)(_ contains _).rdd, memberBytes, BroadcastBudget - pb).map { ms =>
        stats = stats.copy(tables = stats.tables + 1, payloadBytes = stats.payloadBytes + ms.iterator.map(memberBytes).sum)
        pairTable(ps, ms)
      }
    }.filter(_.partners.nonEmpty)
    val out = unionOf(tables, sc) { bc =>
      rowsIn(bc)(_.partners contains _).mapPartitions { it =>
        val t = bc.value
        it.flatMap { case (a, pa) =>
          t.partners(a).iterator.flatMap { case (r, c) => score(a, t.ids(r), c, pa, t.payload(r)) }
        }
      }
    }.getOrElse(spark.emptyDataset[O])
    lastPairScan = stats
    out
  }
}
