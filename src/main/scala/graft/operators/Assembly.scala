package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Window-ordered turn assembly: transcripts → one document per conversation.
  *
  * The reference's unit of indexing is a whole ES document
  * (`VectorMapper.scala:125-131` parses one doc at a time); our unit is a
  * whole conversation, assembled from its turns under the total order
  * `(conv_id, turn_idx)` (the input contract's per-row invariant).
  *
  * Spark-first shape: a Tungsten sort-within-partitions on (conv_id,
  * turn_idx, text), then a streaming `mapPartitions` pass that concatenates
  * each contiguous conversation run. The sort needs every turn of a
  * conversation in one partition, and there are two ways to get there:
  *
  *   - IN PLACE, when each conversation already lies inside a single input
  *     partition (range-partitioned generators, one-file batches, tables
  *     sorted by conversation): no exchange at all, so turn text never
  *     crosses the network — the reference's shape, which hashes a
  *     document where it lands. One narrow layout pass over the conv_id
  *     column decides it (see [[placed]]).
  *   - Otherwise ONE hash exchange on conv_id, then the same sort and scan.
  *
  * The previous shape — `groupBy(conv_id).agg(sort_array(collect_list(
  * struct(turn_idx, text))))` — paid for the same exchange PLUS an
  * ObjectHashAggregate (object-form buffers, no codegen) and an interpreted
  * per-element struct comparator inside sort_array; it was the single most
  * expensive operator of the signatures phase (measured 15.7 s of a 25 s
  * phase at 8 cores / 300k convs). The sort pass replaces all of that with
  * binary-row machinery and a linear scan, and unlike the aggregate it
  * spills gracefully (no objectHashAggregate fallback threshold to tune).
  *
  * Ordering semantics are IDENTICAL to the sort_array shape: ascending
  * (turn_idx, text) with nulls first — Spark's struct ordering compares
  * fields in sequence with null < non-null, exactly the default
  * `sortWithinPartitions` order. Equivalence is pinned by AssemblySpec
  * against the old aggregate shape on adversarial inputs (duplicate
  * turn_idx, null text/ts, empty text, supplementary-plane chars), and the
  * two paths against each other on inputs placed in explicit partitions.
  */
object Assembly {

  /** Assembled documents and the plan that assembled them: `inPlace` (no
    * exchange) or through the conv_id exchange; `partitions` is the
    * assembly's width — the input's partition count in place, the
    * exchange's planned count otherwise (before AQE coalesces it).
    */
  final case class Assembled(docs: DataFrame, inPlace: Boolean, partitions: Int) {
    def path: String = if (inPlace) "in_place" else "exchange"
  }

  /** @return (conv_id, doc_text, n_turns, n_chars, first_ts, last_ts)
    *         with doc_text = turn texts joined by a single separator in
    *         turn_idx order. Role/tool are deliberately not part of the
    *         document text under the default normalization config (duplicate
    *         text under different roles must still merge — FIXTURES.md §1).
    */
  def assemble(transcripts: DataFrame): DataFrame =
    placed(transcripts, col("text"), withTs = true).docs

  /** Assembly variant that prefixes each turn with its role (for configs
    * where role changes must break duplicate equivalence).
    */
  def assembleWithRoles(transcripts: DataFrame): DataFrame =
    placed(transcripts, concat_ws(": ", col("role"), col("text")), withTs = true).docs

  /** The pipeline's document shape: (conv_id, doc_text, n_turns, n_chars)
    * WITHOUT the first_ts/last_ts columns. The signature stage consumes
    * only (conv_id, doc_text, n_turns), and reading `ts` costs a
    * per-turn-row external Timestamp materialization plus 8 shuffle
    * bytes/row that the full contract pays for nothing on the hot path
    * (guide §2.3: project before the exchange).
    */
  def assembleDocs(transcripts: DataFrame): DataFrame = placedDocs(transcripts).docs

  /** [[assembleDocs]] with the plan that assembled the documents. */
  def placedDocs(transcripts: DataFrame): Assembled =
    placed(transcripts, col("text"), withTs = false)

  /** Shared sort-then-scan kernel. `textExpr` is evaluated BEFORE the
    * exchange (so the roles variant sorts by the prefixed text, exactly as
    * sort_array over struct(turn_idx, prefixed_text) did).
    *
    * The in-place path is taken only when all of these hold:
    *   - the input is a batch plan, deterministic, with no exchange of its
    *     own (a layout pass would re-run the upstream shuffle, so such an
    *     input takes the exchange path with no pass);
    *   - one narrow pass over the conv_id column ([[layout]]) finds the
    *     non-empty partitions' id ranges strictly disjoint in Spark's
    *     binary string order, with null ids in at most one partition;
    *   - the input is at least as wide as the exchange would make it: ≥
    *     `defaultParallelism` non-empty partitions, or small enough
    *     (Spark's plan-size estimate ≤ non-empty partitions × AQE's
    *     `coalescePartitions.minPartitionSize`) that AQE would coalesce the
    *     exchange to no more partitions than the input already has.
    * Each in-place task then checks that its partition still measures what
    * the pass measured and fails loudly if not (e.g. a file rewritten in
    * between). Rows, schema and nullability are the same on both paths.
    */
  private def placed(transcripts: DataFrame, textExpr: Column, withTs: Boolean): Assembled = {
    val convIdNullable = transcripts.schema("conv_id").nullable
    // same output schema (incl. nullability) as the aggregate shape:
    // concat_ws/count/length are non-null, min/max(ts) nullable
    val baseFields = Seq(
      StructField("conv_id", StringType, convIdNullable),
      StructField("doc_text", StringType, nullable = false),
      StructField("n_turns", IntegerType, nullable = false),
      StructField("n_chars", IntegerType, nullable = false))
    val outSchema = StructType(
      if (withTs) baseFields ++ Seq(
        StructField("first_ts", transcripts.schema("ts").dataType, nullable = true),
        StructField("last_ts", transcripts.schema("ts").dataType, nullable = true))
      else baseFields)
    val inCols = Seq(col("conv_id"), col("turn_idx"), textExpr.as("text")) ++
      (if (withTs) Seq(col("ts")) else Nil)
    val selected = transcripts.select(inCols: _*)
    val (grouped, inPlace, width) = inPlaceLayout(selected) match {
      case Some(slices) =>
        val rdd = selected.queryExecution.toRdd.mapPartitionsWithIndex(checked(slices))
        (Frames.sameRowsAs(selected, rdd), true, slices.length)
      case None =>
        (selected.repartition(col("conv_id")), false,
          selected.sparkSession.sessionState.conf.numShufflePartitions)
    }
    val docs = grouped
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("text"))
      .mapPartitions { rows =>
        new Iterator[Row] {
          private var pending: Row = _          // first row of the next group
          private val sb = new java.lang.StringBuilder(4096)

          override def hasNext: Boolean = pending != null || rows.hasNext

          override def next(): Row = {
            var r = if (pending != null) pending else rows.next()
            pending = null
            val key = r.getString(0)
            sb.setLength(0)
            var firstElem = true
            var nTurns = 0
            // min/max over ts via the external objects' natural order —
            // identical to min(ts)/max(ts) (Timestamp/LocalDateTime/Date
            // compare by instant; nulls ignored like the aggregates)
            var firstTs: AnyRef = null
            var lastTs: AnyRef = null
            var done = false
            while (!done) {
              nTurns += 1
              // concat_ws semantics: null elements are skipped entirely
              // (no separator emitted for them)
              val t = if (r.isNullAt(2)) null else r.getString(2)
              if (t != null) {
                if (firstElem) firstElem = false else sb.append('\n')
                sb.append(t)
              }
              if (withTs && !r.isNullAt(3)) {
                val ts = r.get(3).asInstanceOf[AnyRef]
                if (firstTs == null || cmp(ts, firstTs) < 0) firstTs = ts
                if (lastTs == null || cmp(ts, lastTs) > 0) lastTs = ts
              }
              if (rows.hasNext) {
                val nxt = rows.next()
                if (java.util.Objects.equals(nxt.getString(0), key)) r = nxt
                else { pending = nxt; done = true }
              } else done = true
            }
            val doc = sb.toString
            // n_chars ≡ length(doc_text): Spark counts code points, not
            // UTF-16 units
            val nChars = doc.codePointCount(0, doc.length)
            if (withTs) Row(key, doc, nTurns, nChars, firstTs, lastTs)
            else Row(key, doc, nTurns, nChars)
          }

          private def cmp(a: AnyRef, b: AnyRef): Int =
            a.asInstanceOf[Comparable[AnyRef]].compareTo(b)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    Assembled(docs, inPlace, width)
  }

  /** One input partition's conv_id layout: the least and greatest non-null
    * id in Spark's binary string order (`UTF8String`, not UTF-16
    * `String.compareTo`; null when the partition holds none), whether it
    * holds a null id, and its row count.
    */
  private final case class Slice(min: UTF8String, max: UTF8String, hasNull: Boolean, rows: Long)

  /** The input's partition layout when assembling it in place is sound and
    * no narrower than the exchange; None otherwise (see [[placed]]).
    */
  private def inPlaceLayout(selected: DataFrame): Option[Array[Slice]] = {
    val qe = selected.queryExecution
    if (selected.isStreaming || !qe.optimizedPlan.deterministic || PlanShape.hasExchange(qe.executedPlan)) None
    else Some(layout(selected)).filter(s => disjoint(s) && wide(selected, s))
  }

  /** The layout pass: one narrow job over the conv_id column, one [[Slice]]
    * per input partition. It runs as a SQL execution of its own, so
    * observations (`Dataset.observe`) and scan metrics in the input are
    * reported on it as on any action.
    */
  private def layout(selected: DataFrame): Array[Slice] = {
    val qe = selected.select(col("conv_id")).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("assembly:layout")) {
      qe.toRdd.mapPartitions { rows =>
        var lo: UTF8String = null
        var hi: UTF8String = null
        var hasNull = false
        var n = 0L
        rows.foreach { r =>
          n += 1
          if (r.isNullAt(0)) hasNull = true
          else {
            val k = r.getUTF8String(0)
            if (lo == null || k.compareTo(lo) < 0) lo = k.clone()
            if (hi == null || k.compareTo(hi) > 0) hi = k.clone()
          }
        }
        Iterator.single(Slice(lo, hi, hasNull, n))
      }.collect()
    }
  }

  /** Every conversation lies inside one partition: the id ranges of the
    * partitions holding non-null ids are strictly disjoint, and at most one
    * partition holds null ids.
    */
  private def disjoint(slices: Array[Slice]): Boolean = {
    val ranges = slices.filter(_.min != null).sortWith((a, b) => a.min.compareTo(b.min) < 0)
    slices.count(_.hasNull) <= 1 &&
      ranges.iterator.zip(ranges.iterator.drop(1)).forall { case (a, b) => a.max.compareTo(b.min) < 0 }
  }

  /** The input is at least as wide as the conv_id exchange would make it. */
  private def wide(selected: DataFrame, slices: Array[Slice]): Boolean = {
    val nonEmpty = slices.count(_.rows > 0)
    val conf = selected.sparkSession.sessionState.conf
    nonEmpty >= selected.sparkSession.sparkContext.defaultParallelism || (
      conf.adaptiveExecutionEnabled && conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
        selected.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(nonEmpty) * conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }

  /** Passes partition `i`'s rows through unchanged and fails the task as
    * soon as they stop matching what the layout pass measured: an id
    * outside its range, a null where there was none (or none where there
    * was one), the range's ends missing, or a different row count.
    */
  private def checked(slices: Array[Slice])(i: Int, rows: Iterator[InternalRow]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val want = if (i < slices.length) slices(i) else Slice(null, null, hasNull = false, 0L)
      private val (lo, hi) = (want.min, want.max)
      private var n = 0L
      private var sawNull, sawLo, sawHi, verified = false

      private def fail(what: String): Nothing = throw new IllegalStateException(
        s"assembly input changed after its layout pass: partition $i $what (the pass measured " +
          s"${want.rows} rows, ids [$lo, $hi], null ids ${want.hasNull}) — the input must not " +
          "change while it is assembled")

      override def hasNext: Boolean = {
        val h = rows.hasNext
        if (!h && !verified) {
          verified = true
          if (n != want.rows) fail(s"now holds $n rows")
          if (sawNull != want.hasNull) fail(s"now has null ids: $sawNull")
          if (lo != null && !(sawLo && sawHi)) fail("no longer holds the ends of its id range")
        }
        h
      }

      override def next(): InternalRow = {
        val r = rows.next()
        n += 1
        if (r.isNullAt(0)) sawNull = true
        else {
          val k = r.getUTF8String(0)
          val cLo = if (lo == null) -1 else k.compareTo(lo)
          val cHi = if (hi == null) 1 else k.compareTo(hi)
          if (cLo < 0 || cHi > 0) fail(s"now holds id $k")
          if (cLo == 0) sawLo = true
          if (cHi == 0) sawHi = true
        }
        r
      }
    }

  private object PlanShape extends AdaptiveSparkPlanHelper {
    /** The plan holds a shuffle or broadcast exchange (looking inside
      * adaptive plans); reading cached data does not count.
      */
    def hasExchange(plan: SparkPlan): Boolean =
      find(plan)(p => p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]).isDefined
  }
}
