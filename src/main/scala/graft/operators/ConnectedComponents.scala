package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative connected components over the verified duplicate-pair graph —
  * the clustering stage (north-star requirement; no analog in the reference,
  * which serves per-query top-k).
  *
  * Algorithm: alternating **min-label propagation + pointer jumping**
  * (the DataFrame form of hash-to-min / Kiveris et al. star contraction):
  * each iteration every vertex takes the min label over itself and its
  * neighbors, then follows its label's label (path compression). Pointer
  * jumping gives O(log n) convergence on pathological chains, not O(n).
  *
  * Catalyst cannot express iteration (SURVEY §4), so the loop is
  * driver-side with `localCheckpoint` per iteration to cut lineage — the
  * plan stays constant-size no matter how many rounds run.
  *
  * Labels are the conv_id strings themselves (cluster id = lexicographic
  * min conv_id of the component): deterministic across reruns and
  * parallelism levels, and immune to the id-collision risk a hash-to-long
  * mapping would add at 10^12 scale.
  */
object ConnectedComponents {

  /** Edge-count gate for the driver union-find fast path. Verified dup-pair
    * edges are tiny relative to the corpus in every real dedup run (pairs
    * are rep-level and dup density is sparse), so below this bound the
    * component computation collects the edges once and runs an exact
    * union-find on the driver — two Spark jobs (the edge materialization,
    * which observes the gate stats, and the collect) instead of ~3 jobs ×
    * O(log n) rounds of the distributed loop. Above the gate the distributed
    * pointer-jumping loop runs unchanged — the 10^12-scale path is
    * untouched. The row gate alone is NOT sufficient (5M edges of long
    * string ids is gigabytes of driver objects), so it is paired with the
    * byte budget below; both are spark-conf overridable so deployments with
    * small drivers can lower or disable the fast path without code changes.
    */
  val DriverEdgeGate: Int = 5_000_000

  /** Runtime-conf override for the row gate (int; 0 disables the fast path). */
  val EdgeGateConfKey = "graft.cc.driverEdgeGate"

  /** Runtime-conf override for the driver byte budget (long, bytes). The
    * default budget is maxMemory/5: the collect plus the union-find's
    * interning maps must fit comfortably next to whatever else the driver
    * holds, and must also clear spark.driver.maxResultSize.
    */
  val ByteBudgetConfKey = "graft.cc.driverByteBudget"

  /** Estimated driver-side footprint of collecting + union-finding `n`
    * string-id edges of `avgPairWidth` total chars: per edge ~2 String
    * objects (header + backing array) and a Row, per vertex ~1 HashMap
    * entry + 2 array slots — ~200 B/edge of fixed overhead plus 2 B/char
    * is a deliberately conservative upper estimate.
    */
  def estimateDriverBytes(n: Long, avgPairWidth: Double): Long =
    (n.toDouble * (200.0 + 2.0 * avgPairWidth)).toLong

  /** Exact driver-side union-find with path compression; labels each vertex
    * with the lexicographic-min id of its component — identical semantics to
    * the distributed loop (min-label propagation converges to the same
    * fixpoint), so the two paths are interchangeable and deterministic.
    */
  private def unionFindLabels(edges: Array[(String, String)]): Array[(String, String)] = {
    val idx = new java.util.HashMap[String, Integer](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val cur = idx.get(s)
      if (cur != null) cur.intValue()
      else { idx.put(s, ids.length); ids += s; ids.length - 1 }
    }
    val pairs = edges.map { case (a, b) => (intern(a), intern(b)) }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    // min id per component root, then label every vertex
    val minOf = new java.util.HashMap[Int, String]()
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ids(i).compareTo(cur) < 0) minOf.put(r, ids(i))
      i += 1
    }
    Array.tabulate(ids.length)(j => (ids(j), minOf.get(find(j))))
  }

  /** An edge set materialized once, carrying the fast path's gate stats:
    * the row count and the average summed id width, observed on the
    * materializing job itself (no separate aggregation job). Observed
    * metrics are at-least-once — a re-executed task can count its rows
    * twice — which can only push the gate toward the distributed path.
    * Downstream consumers read the checkpoint, never the observed plan, so
    * nothing is counted again (the distributed loop unions two
    * projections of it).
    */
  final class EdgeSet private[operators] (val df: DataFrame, val count: Long, val avgPairWidth: Double)

  /** Materialize the (id_a, id_b) columns of `edges` in one job, observing
    * the gate stats on the way (an empty edge set has width 0.0).
    */
  def materialize(edges: DataFrame): EdgeSet = {
    val obs = Observation()
    val stats = Seq(count(lit(1)).as("n"), avg(length(col("id_a")) + length(col("id_b"))).as("w"))
    val df = edges.select(col("id_a"), col("id_b"))
      .observe(obs, stats.head, stats.tail: _*)
      .localCheckpoint(eager = true)
    val row = Observed(obs).getOrElse(df.agg(stats.head, stats.tail: _*).first())
    new EdgeSet(df, row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
  }

  private def gateOf(spark: SparkSession, driverGate: Int): Int =
    if (driverGate >= 0) driverGate // caller's choice, incl. 0 = disable
    else spark.conf.get(EdgeGateConfKey, DriverEdgeGate.toString).toInt

  private def stringIds(edges: DataFrame): Boolean =
    Seq("id_a", "id_b").forall(n =>
      edges.schema.fields.exists(f =>
        f.name == n && f.dataType == org.apache.spark.sql.types.StringType))

  /** @param edges (id_a, id_b) undirected edges, any orientation
    * @param maxIter safety bound (log₂ of the largest component diameter;
    *                32 covers anything representable)
    * @param driverGate max edges for the driver union-find fast path
    *                   (0 disables — always distributed; an EXPLICIT value
    *                   always wins over the spark-conf override, which
    *                   only replaces the default)
    * @return (conv_id, cluster_id) for every vertex that appears in an edge
    */
  def components(edges: DataFrame, maxIter: Int = 32, driverGate: Int = -1): DataFrame =
    // Materialize the (narrow) edge columns once: the collect reads the
    // checkpoint's in-memory blocks, and on gate overflow the distributed
    // loop consumes the checkpoint instead of recomputing the whole
    // upstream pipeline. (limit(gate+1).collect() would be one logical job
    // but Spark's CollectLimit scale-up re-runs the result stage several
    // times.)
    if (gateOf(edges.sparkSession, driverGate) > 0 && stringIds(edges))
      componentsOf(materialize(edges), maxIter, driverGate)
    else componentsDistributed(edges, maxIter)

  /** [[components]] over an already-materialized edge set: the fast path
    * costs exactly one more job (the collect).
    */
  def componentsOf(edges: EdgeSet, maxIter: Int = 32, driverGate: Int = -1): DataFrame = {
    val spark = edges.df.sparkSession
    val gate = gateOf(spark, driverGate)
    // ---- fast path: bounded collect + exact union-find (string ids) ----
    // the gate is byte-aware — 5M edges of 8-char ids fit a 4g driver, 5M
    // edges of 1KB ids do not, and a row count alone cannot tell them apart
    val budget = spark.conf.get(ByteBudgetConfKey, (Runtime.getRuntime.maxMemory() / 5).toString).toLong
    if (gate > 0 && stringIds(edges.df) && edges.count <= gate &&
        estimateDriverBytes(edges.count, edges.avgPairWidth) <= budget) {
      import spark.implicits._
      val labeled = unionFindLabels(edges.df.collect().map(r => (r.getString(0), r.getString(1))))
      // LocalRelation: Catalyst sees the exact (small) size, so downstream
      // joins against the corpus broadcast this side automatically
      labeled.toSeq.toDF("conv_id", "cluster_id")
    } else componentsDistributed(edges.df, maxIter)
  }

  /** Distributed min-label propagation + pointer jumping — the ≥gate path. */
  private def componentsDistributed(edges: DataFrame, maxIter: Int): DataFrame = {
    // Materialize the edge list once: every iteration joins against it, and
    // without this the full upstream pipeline (signatures → candidates →
    // verify) would be recomputed per iteration.
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true)

    var labels = sym
      .select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = true)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor-min: smallest label among my neighbors
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "src").withColumnRenamed("label", "src_label"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_label")).as("nbr_label"))

      val propagated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))

      // pointer jumping: label := min(label, label(label)). The whole round
      // stays in codegen'd Column expressions (no typed map — deserializing
      // every row out of Tungsten per round was measurable fixed cost);
      // convergence is a narrow scan of the just-materialized checkpoint.
      val jumpTargets = propagated.select(col("id").as("label"), col("label").as("label2"))
      val jumped = propagated
        .join(jumpTargets, Seq("label"), "left")
        .select(col("id"), col("old_label"), least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
        .localCheckpoint(eager = true)

      converged = jumped.filter(col("old_label") =!= col("label")).isEmpty
      labels = jumped.select(col("id"), col("label"))
      iter += 1
    }
    labels.select(col("id").as("conv_id"), col("label").as("cluster_id"))
  }

  /** Full cluster assignment: every document gets a cluster — vertices in
    * the pair graph get their component min-id, untouched documents are
    * singleton clusters of themselves. Also emits the canonical flag via
    * deterministic min-id rule (≙ row_number canonicalization, SURVEY §2.6).
    *
    * @param allIds DataFrame with a `conv_id` column covering the corpus
    */
  def assign(allIds: DataFrame, edges: DataFrame, maxIter: Int = 32,
             driverGate: Int = -1): DataFrame =
    label(allIds, components(edges, maxIter, driverGate))

  /** [[assign]] over an already-materialized edge set. */
  def assign(allIds: DataFrame, edges: EdgeSet): DataFrame =
    label(allIds, componentsOf(edges))

  private def label(allIds: DataFrame, comp: DataFrame): DataFrame =
    allIds
      .select(col("conv_id"))
      .join(comp.withColumnRenamed("cluster_id", "component_id"), Seq("conv_id"), "left")
      .select(
        col("conv_id"),
        coalesce(col("component_id"), col("conv_id")).as("cluster_id")
      )
      .withColumn("is_canonical", (col("conv_id") === col("cluster_id")).cast("boolean"))
}
