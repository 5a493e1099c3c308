package graft.operators

import graft.kernels.ExactSim
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.reflect.ClassTag

/** The probe-vs-index band join — ≙ the reference's read path, where one
  * query's hashes meet the postings in a single pass that counts hits per
  * doc and exact-scores only the hits (`MatchHashesAndScoreQuery` +
  * `HitCounter`, SURVEY C2/C5).
  *
  * The probe is collected into a broadcast band table (band → probe rows,
  * one entry per occurrence, so a repeated band value counts probe
  * occurrences × index occurrences, as a posting join does) plus its
  * payload. The index is read in ONE narrow `mapPartitions` pass that counts
  * band hits per probe row and scores each hit inline: only scored hits
  * leave it, the index is never exchanged, and a hot index band has no join
  * key to pile up on. Over the byte gate [[BroadcastBudget]] the probe is
  * cut in its stable row order into chunks, each with its own broadcast and
  * index scan, unioned — row for row the one-chunk result, since every probe
  * row is matched on its own. Probe and index ids are unique keys.
  */
object ProbeScan {

  /** Measured bytes (ids, bands, payload, 16 per row) one band table holds. */
  private[graft] val BroadcastBudget: Long = 16L << 20

  private def len(a: Array[_]): Int = if (a == null) 0 else a.length

  /** The rows of `rdd` in stable row order (partition, then position), in
    * chunks of at most [[BroadcastBudget]] measured bytes plus one row. One
    * job when every partition fits its 1/n share of the budget. Otherwise
    * that job's per-partition byte totals place every row in a chunk; each
    * chunk is one more job over the partitions it spans, failing loudly if
    * a partition no longer measures what the first job measured.
    */
  private[graft] def chunks[T: ClassTag](rdd: RDD[T], bytesOf: T => Long): Iterator[Array[T]] = {
    val sc = rdd.sparkContext
    val share = BroadcastBudget / math.max(1, rdd.getNumPartitions)
    val first = rdd.mapPartitions { it =>
      val buf = mutable.ArrayBuilder.make[T]
      var bytes = 0L
      it.foreach { t => bytes += bytesOf(t); if (bytes <= share) buf += t }
      Iterator((bytes, if (bytes <= share) buf.result() else null))
    }.collect()
    if (first.forall(_._2 != null)) Iterator(first.flatMap(_._2))
    else {
      val starts = first.map(_._1).scanLeft(0L)(_ + _)
      Iterator.range(0, ((starts.last + BroadcastBudget - 1) / BroadcastBudget).toInt).map { c =>
        val (lo, hi) = (c * BroadcastBudget, (c + 1) * BroadcastBudget)
        val parts = first.indices.filter(p => starts(p) < hi && starts(p + 1) > lo)
        parts.zip(sc.runJob(rdd, (ctx: TaskContext, it: Iterator[T]) => {
          var at = starts(ctx.partitionId())
          val kept = it.filter { t => val in = at >= lo && at < hi; at += bytesOf(t); in }.toArray
          (at, kept)
        }, parts)).flatMap { case (p, (end, kept)) =>
          require(end == starts(p + 1),
            "the probe's rows changed between passes: materialize a nondeterministic probe before the scan")
          kept
        }.toArray
      }
    }
  }

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
    val sc = index.sparkSession.sparkContext
    tables.map(sc.broadcast(_)).toList.map { bc =>
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
    }.reduce(_ union _)
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
}
