package graft.plans

import graft.{Dedup, DedupConfig}
import graft.kernels.Hashing
import graft.operators.{Assembly, ConnectedComponents, Observed, ProbeScan}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Durable, resumable run of the dedup pipeline for spark-submit-scale jobs:
  * each stage checkpoints to parquet with a `_lineage.json` sidecar, and a
  * rerun reuses any stage whose lineage (config hash + upstream chain)
  * matches — the restart-safety analog of the reference's
  * "derive-from-seed, never store params" philosophy (`ModelCache.scala:17-21`):
  * state that *can* be recomputed is keyed by what produced it, so a resumed
  * run either trusts a checkpoint exactly or rebuilds it.
  *
  * Layout under `workDir`:
  *   signatures/   partitioned by `bucket` = pmod(xxhash64(conv_id), nBuckets)
  *                 — a stable id-hash partitioning, so incremental/partial
  *                 reruns can address per-bucket subsets and downstream
  *                 equi-joins on conv_id start from co-located data
  *   pairs/        verified duplicate pairs (rep-level)
  *   clusters/     final (conv_id, cluster_id, is_canonical)
  * Each with `_lineage.json`: stage, config hash, upstream hash, row count,
  * wall seconds, bucket count — the per-partition lineage + metrics record.
  * The signatures sidecar also records which assembly path built the
  * documents (`assembly_path`: `in_place` or `exchange`) and its width
  * (`assembly_partitions`), see [[graft.operators.Assembly.Assembled]].
  */
object CheckpointedPipeline {

  final case class StageInfo(name: String, rows: Long, wallSec: Double, reused: Boolean)

  private def configHash(cfg: DedupConfig, nBuckets: Int): String = {
    val s = cfg.toString + s"/buckets=$nBuckets/v1"
    java.lang.Long.toHexString(Hashing.hashString(s))
  }

  private def lineagePath(dir: String): java.nio.file.Path = Paths.get(dir, "_lineage.json")

  /** Marker for the non-atomic mutation window of [[append]] (parquet
    * append + two lineage writes): present ⇒ the checkpoint may hold
    * half-appended state that the sidecars do not describe. [[run]] treats
    * it as "nothing reusable" and rebuilds; [[append]] fails fast.
    */
  private def dirtyPath(workDir: String): java.nio.file.Path = Paths.get(workDir, "_dirty")

  private def writeLineage(dir: String, stage: String, cfgHash: String, upstream: String,
                           rows: Long, wallSec: Double, nBuckets: Int, bareCfgHash: String,
                           extra: String = ""): Unit = {
    // bare_config_hash carries the cfg/nBuckets identity on its own:
    // append() chains config_hash through hash(priorChain + batch), which
    // loses the cfg prefix after the first append — the bare field is what
    // lets a later append verify the caller's cfg matches the checkpoint's.
    val json =
      s"""{"stage":"$stage","config_hash":"$cfgHash","bare_config_hash":"$bareCfgHash","upstream":"$upstream","rows":$rows,""" +
        f""""wall_sec":$wallSec%.3f,"n_buckets":$nBuckets$extra,"written_at_ms":${System.currentTimeMillis()}}"""
    Files.writeString(lineagePath(dir), json)
  }

  /** The signatures sidecar's record of which assembly path built the
    * documents, and its width.
    */
  private def assemblyLineage(a: Assembly.Assembled): String =
    s""","assembly_path":"${a.path}","assembly_partitions":${a.partitions}"""

  /** Row count of a just-written parquet checkpoint, answered from the file
    * FOOTERS instead of a data-scan Spark job: the lineage row counts are
    * bookkeeping taken right after each stage write (guide §1.4 — the count
    * is not the computation), and every parquet footer records its row
    * groups' counts exactly. One driver-side metadata pass over the files
    * the write just produced replaces a full count() job per stage (the
    * same answer DuckDB's count pushdown would give).
    */
  private def countFromFooters(spark: SparkSession, dir: String): Long =
    footerRows(spark, parquetFiles(spark, dir))

  /** Parquet data files under `dir` (recursive: partitionBy writes
    * subdirs), as qualified URIs — the form `Dataset.inputFiles` reports.
    */
  private def parquetFiles(spark: SparkSession, dir: String): Seq[String] =
    listing(spark, dir)._2.map(_.getPath.toUri.toString).toSeq

  /** One recursive Hadoop listing of `dir` on the driver: its qualified
    * root and the parquet data files Spark would read under it. Spark's
    * hidden-path rule applies to every path component below the root: a
    * name starting with `.`, or with `_` unless it is a `k=v` partition
    * directory, or ending in `._COPYING_` is skipped (so `_temporary/`,
    * `_SUCCESS` and checksum files are).
    */
  private def listing(spark: SparkSession, dir: String): (Path, Array[FileStatus]) = {
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(path)
    def visible(p: Path): Boolean = p == null || p == root || (!hidden(p.getName) && visible(p.getParent))
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet") && visible(f.getPath)) out += f
    }
    (root, out.toArray)
  }

  /** A file-status cache that answers the one root it was seeded for:
    * Spark's file index takes the driver's listing as is and lists nothing
    * itself (no parallel leaf-listing job over the `bucket=` directories).
    */
  private final class SeededListing(root: Path, files: Array[FileStatus]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) Some(files) else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  private def withFooter[T](spark: SparkSession, file: String)(f: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(new java.net.URI(file)), conf))
    try f(reader) finally reader.close()
  }

  /** Exact row count of `files`, summed from their footers on the driver. */
  private def footerRows(spark: SparkSession, files: Seq[String]): Long =
    files.map(f => withFooter(spark, f)(_.getRecordCount)).sum

  /** Read a checkpoint directory with its KNOWN schema: no schema-inference
    * Spark job, and no listing job — the directory is listed once on the
    * driver ([[listing]]) and Spark's file index is built from that listing
    * (the relation `spark.read.schema(schema).parquet(dir)` builds, without
    * its listing; the session conf is untouched). A supplied schema would
    * silently read a missing or renamed column as nulls, so the Spark
    * schema recorded in one data file's footer is checked against it on the
    * driver first — a column mismatch fails loudly (partition columns live
    * in the directory names, not the files).
    */
  private def readKnown(spark: SparkSession, dir: String, schema: StructType,
                        partitionCols: Set[String] = Set.empty): DataFrame = {
    val (root, files) = listing(spark, dir)
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema),
      new SeededListing(root, files), None, None)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    val df = spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      Frames.asNullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))
    files.headOption.map(_.getPath.toUri.toString).foreach { file =>
      def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toSet
      val recorded = withFooter(spark, file)(r => Option(
        r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
      val expected = shape(StructType(schema.filterNot(f => partitionCols(f.name))))
      val found = recorded.map(j => shape(DataType.fromJson(j).asInstanceOf[StructType]))
      require(found.contains(expected),
        s"schema mismatch in $dir: $file records ${recorded.getOrElse("no Spark schema")} but " +
          s"${expected.toSeq.sorted.mkString(", ")} is required — rebuild with run()")
    }
    df
  }

  /** Footer key under which Spark records a parquet file's Spark schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Schema of the `clusters/` checkpoint that [[run]] and [[append]] write. */
  private val ClustersSchema = StructType(Seq(
    StructField("conv_id", StringType), StructField("cluster_id", StringType),
    StructField("is_canonical", BooleanType)))

  /** A stage checkpoint is reusable iff its lineage exists and records the
    * same config hash + upstream chain (parquet `_SUCCESS` is implied by the
    * sidecar being written strictly after the data).
    */
  private def reusable(dir: String, cfgHash: String, upstream: String): Boolean = {
    val p = lineagePath(dir)
    Files.exists(p) && {
      val s = Files.readString(p)
      s.contains(s""""config_hash":"$cfgHash"""") && s.contains(s""""upstream":"$upstream"""")
    }
  }

  /** Order-independent fingerprint of the input table's content: row count
    * + bit_xor and decimal-sum of per-row xxhash64 over the identity
    * columns. One narrow aggregation pass over the input — the price of
    * sound checkpoint reuse (a config-only key silently reuses stale
    * checkpoints when the same workDir is re-run against different data).
    */
  def inputFingerprint(transcripts: DataFrame): String = {
    val aggs = fingerprintAggs(transcripts)
    fingerprintOf(transcripts.agg(aggs.head, aggs.tail: _*).first())
  }

  /** The aggregate columns of [[inputFingerprint]]: (n, hx, hs). */
  private def fingerprintAggs(transcripts: DataFrame): Seq[Column] = {
    // Identity columns = everything a checkpointed stage can derive values
    // from: Assembly emits first_ts/last_ts from ts, and a roles-aware
    // assembly reads role — a text-only key would silently reuse stale
    // checkpoints when only ts/role changed.
    // ts hashes via its string form: TIMESTAMP and TIMESTAMP_NTZ inputs
    // both cast to string (a direct cast-to-long is illegal for NTZ), and
    // the rendering is deterministic under the pinned UTC session timezone
    val cols = Seq(col("conv_id"), col("turn_idx"), coalesce(col("text"), lit(""))) ++
      (if (transcripts.columns.contains("ts")) Seq(coalesce(col("ts").cast("string"), lit(""))) else Nil) ++
      (if (transcripts.columns.contains("role")) Seq(coalesce(col("role"), lit(""))) else Nil)
    val h = xxhash64(cols: _*)
    Seq(
      count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("hx"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("hs"))
  }

  private def fingerprintOf(row: Row): String = {
    val hs = java.lang.Long.toHexString(Hashing.hashString(row.get(2).toString))
    s"${row.getLong(0)}-${java.lang.Long.toHexString(row.getLong(1))}-$hs"
  }

  /** Run (or resume) the pipeline. Returns the clusters DataFrame plus
    * per-stage lineage info (rows, wall time, whether the checkpoint was
    * reused). Stage lineage keys include the input fingerprint, so a rerun
    * in the same workDir against changed data rebuilds instead of reusing
    * stale checkpoints.
    */
  def run(spark: SparkSession, transcripts: DataFrame, cfg: DedupConfig,
          workDir: String, nBuckets: Int = 64): (DataFrame, Seq[StageInfo]) = {
    Files.createDirectories(Paths.get(workDir))
    val inputFp = inputFingerprint(transcripts)
    val bareCfgHash = configHash(cfg, nBuckets)
    val cfgHash = bareCfgHash + "-" + inputFp
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageInfo]
    // a prior append died inside its mutation window: the parquet dirs may
    // hold rows the sidecars don't describe, so NOTHING is reusable — every
    // stage rebuilds (overwrite clears the torn state), marker removed below
    val dirty = Files.exists(dirtyPath(workDir))

    // extraLineage is evaluated AFTER the stage's write action completes —
    // runtime counters (accumulators) are only full once the job has run
    def stage(name: String, upstream: String, partitionCols: Seq[String],
              extraLineage: () => String = () => "")(compute: => DataFrame): DataFrame = {
      val dir = s"$workDir/$name"
      if (!dirty && reusable(dir, cfgHash, upstream)) {
        val df = spark.read.parquet(dir)
        stages += StageInfo(name, -1L, 0.0, reused = true)
        df
      } else {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"ckpt:$name") // UI/job attribution (guide §1.5)
        val df = compute
        val writer = df.write.mode(SaveMode.Overwrite)
        (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer).parquet(dir)
        val out = spark.read.parquet(dir)
        val rows = countFromFooters(spark, dir)
        spark.sparkContext.setJobDescription(null)
        val wall = (System.nanoTime() - t0) / 1e9
        writeLineage(dir, name, cfgHash, upstream, rows, wall, nBuckets, bareCfgHash, extraLineage())
        stages += StageInfo(name, rows, wall, reused = false)
        out
      }
    }

    // assembled only if the signatures stage is rebuilt; its sidecar records
    // which assembly path ran
    lazy val placed = Assembly.placedDocs(transcripts)
    val sigs = stage("signatures", upstream = "transcripts", partitionCols = Seq("bucket"),
        extraLineage = () => assemblyLineage(placed)) {
      // REBALANCE on the partition column before the partitionBy write
      // (guide §6): without it every write task opens one file per bucket
      // value it holds — tasks × nBuckets files of a few KB each (measured
      // 2k+ files at 128 tasks × 16 buckets), paid again by every
      // downstream scan of signatures/ (pairs payload, mapping, append's
      // index reads). AQE sizes the rebalanced partitions, so big buckets
      // still split into multiple adequately-sized files at scale.
      Dedup.signatures(spark, placed.docs, cfg)
        .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int"))
        .hint("rebalance", col("bucket"))
    }

    // ONE set_hash aggregation serves both downstream stages (the pairs
    // stage's rep bands AND the clusters stage's member→rep mapping) — the
    // previous shape aggregated repGroups twice, paying the set_hash
    // shuffle of the bands payload once per stage. Lazy: a fully-reused
    // resume never computes it.
    lazy val groups = Dedup.repGroups(sigs).localCheckpoint(eager = true)

    // skew counters land in the pairs lineage: which bands overflowed
    // bucketCap and how much work the salted path did is part of the
    // run's metrics record, not a silent internal detail
    val candMetrics = graft.operators.CandidatePairs.CandidateMetrics.register(spark)
    val pairs = stage("pairs", upstream = s"signatures/$cfgHash", partitionCols = Nil,
      extraLineage = () =>
        s""","hot_buckets":${candMetrics.hotBuckets.value},"hot_postings":${candMetrics.hotPostings.value},"salted_pairs":${candMetrics.saltedPairs.value}""") {
      // bands-only rep aggregation (same shape as Dedup.pipeline): the
      // shingle payload is read in place by verify's pair scan
      val repBands = groups.select(col("rep").as("conv_id"), col("bands"))
      Dedup.verify(Dedup.candidates(repBands, cfg, Some(candMetrics)), sigs, cfg)
    }

    val clusters = stage("clusters", upstream = s"pairs/$cfgHash", partitionCols = Nil) {
      val mapping = Dedup.mappingFrom(sigs, groups)
      // one row per group already — no distinct shuffle needed
      val reps = groups.select(col("rep").as("conv_id"))
      val repClusters = ConnectedComponents.assign(reps, pairs.select("id_a", "id_b"))
      mapping
        .join(repClusters.withColumnRenamed("conv_id", "rep").select(col("rep"), col("cluster_id")), Seq("rep"))
        .select(col("conv_id"), col("cluster_id"))
        .withColumn("is_canonical", (col("conv_id") === col("cluster_id")).cast("boolean"))
    }

    // all three stages are rebuilt and their sidecars rewritten — the torn
    // state a dying append left behind is gone
    if (dirty) Files.deleteIfExists(dirtyPath(workDir))
    (clusters, stages.toSeq)
  }

  /** Incrementally label a batch of NEW conversations against an existing
    * checkpointed run — the daily-ingest shape at 10^12-turn scale, where
    * re-running the signature kernel over the whole corpus per batch is the
    * cost that matters. The expensive work is batch-proportional:
    *
    *   - the signature kernel runs over the new batch only;
    *   - new×new candidates take the same exact-collapse → skew-safe scan →
    *     verify path as the full pipeline;
    *   - new×old pairs come from one probe scan of the index against the
    *     broadcast band table of the new representatives (the streaming
    *     probe-vs-index operator), verified inline and kept as one edge
    *     per old exact-duplicate group; the old side is scanned, never
    *     re-hashed or exchanged;
    *   - clusters merge through connected components over the prior
    *     (member → cluster_id) star edges plus the new verified pairs. A new
    *     doc that bridges two old clusters merges them, exactly as a full
    *     recompute would: the star edges preserve each old component's
    *     transitive closure, and deterministic seeded signatures make the
    *     incremental candidate set {new×new} ∪ {new×old} equal to what a
    *     combined-corpus scan would add (old×old pairs are already inside
    *     the prior components). Equivalence is sbt-tested.
    *
    * Passes over the index (`signatures/`), each made once per append:
    *   1. one listing, on the driver, when the directory is opened with its
    *      known schema (no schema-inference or leaf-listing job; a footer
    *      check keeps a column mismatch loud);
    *   2. the gate scan of its conv_id column (gates (b) and (c) below);
    *   3. the new×old probe scan: one narrow read of every member's
    *      (conv_id, bands, shingles, set_hash) against the broadcast band
    *      table of the batch's reps, verifying hits inline
    *      ([[graft.operators.ProbeScan]]); nothing of the index is
    *      exchanged.
    *
    * State afterwards: the new signature rows are APPENDED into
    * `signatures/` (same bucket layout) and `clusters/` is overwritten with
    * the combined labeling; both lineage sidecars are re-keyed to a chained
    * fingerprint hash(prior chain + new-batch fingerprint), so a later
    * `run`/`append` either matches the chain exactly or rebuilds — stale
    * reuse of a mutated checkpoint is impossible.
    *
    * The new-batch fingerprint equals [[inputFingerprint]] of the batch but
    * costs no pass of its own: it is observed (`Dataset.observe`) on the
    * first job that reads the batch — the assembly's layout pass (which then
    * reads the observed columns too), or, for a batch with no layout pass,
    * the job that materializes the batch's signatures (only if the listener
    * bus drops that observation does a pass recompute it). Observed metrics are
    * at-least-once — a re-executed task can fold its rows in twice — so a
    * retry can change only the chain hash (into a key nothing matches: a
    * later run rebuilds), never a gate. No gate reads it: the lineage row
    * count is summed from the footers of the files this append wrote, and
    * the gates read the sidecars and the index itself.
    *
    * Mutation-safety gates (the parquet append + two lineage writes are not
    * atomic, so torn state must be DETECTED, not assumed away): before
    * touching anything, append requires (a) the signatures and clusters
    * sidecars to carry the same config hash — a crash between the two
    * lineage writes leaves them disagreeing; (b) the signatures parquet row
    * count to equal the count its lineage records — a crash between the
    * parquet append and the lineage write leaves data the chain doesn't
    * cover; and (c) the new batch's conv_ids to be disjoint from the index
    * (an at-least-once upstream redelivering a batch would otherwise
    * silently duplicate index rows and cluster labels). (b) and (c) share
    * one narrow pass over the index's conv_id column — the price of safe
    * mutation. On violation append fails fast; rebuild with `run`.
    *
    * @return combined (conv_id, cluster_id, is_canonical) + per-stage info
    */
  def append(spark: SparkSession, newTranscripts: DataFrame, cfg: DedupConfig,
             workDir: String, nBuckets: Int = 64): (DataFrame, Seq[StageInfo]) = {
    val sigDir = s"$workDir/signatures"
    val cluDir = s"$workDir/clusters"
    require(Files.exists(lineagePath(sigDir)) && Files.exists(lineagePath(cluDir)),
      s"append requires a completed run in $workDir (signatures + clusters lineage)")
    // the full prior signatures lineage JSON (config hash incl. input
    // fingerprint + row count) is the chain link — any mismatch downstream
    // rebuilds
    val priorChain = Files.readString(lineagePath(sigDir))
    val cluChain = Files.readString(lineagePath(cluDir))
    def strField(json: String, name: String): String =
      (s""""$name":"([^"]*)"""").r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    def longField(json: String, name: String): Long =
      (s""""$name":(-?\\d+)""").r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
    require(!Files.exists(dirtyPath(workDir)),
      s"dirty checkpoint in $workDir: a prior append died inside its mutation window " +
        "(parquet append / lineage writes) — rebuild with run()")
    require(strField(priorChain, "config_hash") == strField(cluChain, "config_hash"),
      s"torn checkpoint in $workDir: signatures and clusters lineage record different " +
        "config hashes (a prior run/append died between its lineage writes) — rebuild with run()")
    // the caller's cfg must BE the checkpoint's cfg: a different seed /
    // shingleK / numTables / nBuckets makes new-batch bands incomparable
    // with the indexed signatures — new×old candidates would silently vanish
    // instead of failing. config_hash can't carry this after the first
    // append (the chain hash replaces the cfg prefix); bare_config_hash can.
    val bareCfgHash = configHash(cfg, nBuckets)
    require(strField(priorChain, "bare_config_hash") == bareCfgHash,
      s"config mismatch in $workDir: the checkpoint was built with config hash " +
        s"'${strField(priorChain, "bare_config_hash")}' but append was called with " +
        s"'$bareCfgHash' — same DedupConfig and nBuckets are required (or rebuild with run())")
    val priorRows = longField(priorChain, "rows")

    val t0 = System.nanoTime()
    // the batch fingerprint is observed on the first job that reads the
    // batch (the assembly's layout pass, else the signature materialization
    // below) instead of costing a pass of its own
    val fpObs = Observation()
    val fpAggs = fingerprintAggs(newTranscripts)
    val placed = Assembly.placedDocs(newTranscripts.observe(fpObs, fpAggs.head, fpAggs.tail: _*))
    val batchSigs = Dedup.signatures(spark, placed.docs, cfg)
      .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int"))
    // index pass 1, the listing, made once on the driver: the index holds
    // exactly the columns of the batch's signatures. Its pre-append files
    // are remembered, so the lineage can count exactly the files this
    // append adds. Both schema checks run here, before any Spark job.
    val oldSigs = readKnown(spark, sigDir, batchSigs.schema, partitionCols = Set("bucket"))
    val indexFiles = oldSigs.inputFiles.toSet
    val priorClusters = readKnown(spark, cluDir, ClustersSchema)
    val newSigs = batchSigs.localCheckpoint(eager = true)
    val newFp = Observed(fpObs).map(fingerprintOf).getOrElse(inputFingerprint(newTranscripts))
    val chainedHash =
      java.lang.Long.toHexString(Hashing.hashString(priorChain + "+" + newFp)) + "-app-" + newFp
    // index pass 2, gates (b)+(c) in one scan: index row count vs lineage,
    // and id overlap with the new batch (conv_id is unique per side, so
    // left-join multiplicity is ≤1 and count(_new) = |old ids ∩ new ids|)
    val chk = oldSigs.select(col("conv_id"))
      .join(newSigs.select(col("conv_id")).withColumn("_new", lit(1)), Seq("conv_id"), "left")
      .agg(count(lit(1)).as("n"), count(col("_new")).as("overlap")).first()
    require(chk.getLong(0) == priorRows,
      s"torn checkpoint in $workDir: signatures/ holds ${chk.getLong(0)} rows but its lineage " +
        s"records $priorRows (a prior append died between the parquet append and the lineage " +
        "write) — rebuild with run()")
    require(chk.getLong(1) == 0L,
      s"${chk.getLong(1)} conv_ids in the new batch already exist in the index — append " +
        "requires disjoint conv_ids (redelivered batch?); dedupe upstream or rebuild with run()")
    val sigWall = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    // exact collapse within the new batch (identical new docs cost m mapping
    // rows, not m²/2 pairs), then both candidate families over reps only
    val groups = Dedup.repGroups(newSigs).localCheckpoint(eager = true)
    val mappingNew = Dedup.mappingFrom(newSigs, groups)
    val repBands = groups.select(col("rep").as("conv_id"), col("bands"))
    val candMetrics = graft.operators.CandidatePairs.CandidateMetrics.register(spark)
    // The new×new and new×old candidate families are independent until the
    // edge union, and each is a serial chain of eager materializations
    // (candidate scan, verify's pair and member collects) — run them as two
    // concurrent driver threads so one branch's job tail back-fills the
    // other's idle width (guide §2.6); each branch ends in an eager
    // localCheckpoint so its work really happens inside its thread. Spark
    // job submission is thread-safe and job-scoped properties are
    // thread-local, so the branches don't interfere.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (newNew, newOld) = try {
      val fNewNew = pool.submit(new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame =
          Dedup.verify(Dedup.candidates(repBands, cfg, Some(candMetrics)), newSigs, cfg)
            .select(col("id_a"), col("id_b"))
            .localCheckpoint(true)
      })
      // new reps vs the checkpointed index: one probe scan (the operator the
      // streaming surface runs) reads every old member's bands and shingles
      // once, narrowly, and verifies its hits inline. Old exact duplicates
      // share bands and shingles, so a new rep matches all of an old
      // set_hash group or none of it; the minimum matched id per (new rep,
      // set_hash) is that group's rep — one edge per group, and the old star
      // edges connect its members.
      val fNewOld = pool.submit(new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame = {
          val newRepSigs = newSigs.join(groups.select(col("rep").as("conv_id")), Seq("conv_id"), "left_semi")
          // index pass 3: the probe scan
          ProbeScan.textPairs(newRepSigs, oldSigs, cfg.minBands, Some(cfg.theta), matchedKey = Some("set_hash"))
            .groupBy(col("conv_id").as("id_a"), col("matched_key"))
            .agg(min(col("matched_id")).as("id_b"))
            .select(col("id_a"), col("id_b"))
            .localCheckpoint(true)
        }
      })
      (fNewNew.get(), fNewOld.get())
    } finally pool.shutdown()
    val starOld = priorClusters
      .filter(col("conv_id") =!= col("cluster_id"))
      .select(col("conv_id").as("id_a"), col("cluster_id").as("id_b"))
    val starNew = mappingNew.filter(col("conv_id") =!= col("rep"))
      .select(col("conv_id").as("id_a"), col("rep").as("id_b"))
    // the one edge materialization: its job also observes the edge count
    // and the components gate stats
    val edges = ConnectedComponents.materialize(
      newNew.unionByName(newOld).unionByName(starOld).unionByName(starNew))
    val pairsWall = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val vertices = priorClusters.select(col("conv_id"))
      .unionByName(newSigs.select(col("conv_id")))
    val clusters = ConnectedComponents.assign(vertices, edges)
      .localCheckpoint(eager = true) // detach from cluDir parquet before overwriting it

    // persist the combined state: signatures appended in the same bucket
    // layout, clusters overwritten, lineage re-keyed to the chain. The sig
    // lineage records the COMBINED row count (what the directory now holds —
    // the next append's torn-state gate checks against it) and the measured
    // wall times + skew counters land in the sidecars, same as run().
    // The parquet append + two lineage writes are NOT atomic: the _dirty
    // marker brackets the whole mutation window, so a crash anywhere inside
    // leaves a marker that run() answers by rebuilding everything and
    // append() answers by failing fast — the 'signatures/ holding old+new
    // rows under the old lineage' hole is closed for run() too (its reuse
    // gate only matched config_hash + upstream).
    Files.writeString(dirtyPath(workDir), s"""{"appending_fp":"$newFp","started_ms":${System.currentTimeMillis()}}""")
    // same REBALANCE-before-partitionBy as run()'s signatures stage: the
    // appended batch adds ≤ one adequately-sized file per bucket instead of
    // (batch partitions × nBuckets) small ones. A one-partition batch (its
    // count is known without a job) already writes ≤ one file per bucket
    // from its single task, so it skips the rebalance's exchange.
    val onePartition = newSigs.queryExecution.toRdd.getNumPartitions == 1
    (if (onePartition) newSigs else newSigs.hint("rebalance", col("bucket")))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(sigDir)
    // exact, from the footers of the files this append added — never from
    // an observation, since the next append's gate (b) checks against it
    val newRows = footerRows(spark, parquetFiles(spark, sigDir).filterNot(indexFiles))
    writeLineage(sigDir, "signatures", chainedHash, "transcripts+append",
      priorRows + newRows, (System.nanoTime() - t0) / 1e9, nBuckets, bareCfgHash, extra = assemblyLineage(placed))
    clusters.write.mode(SaveMode.Overwrite).parquet(cluDir)
    val out = readKnown(spark, cluDir, ClustersSchema)
    val rows = footerRows(spark, out.inputFiles.toSeq)
    // cand_metrics_scope: these counters instrument the new×new
    // CandidatePairs scan, the only candidate path with hot buckets and
    // salting — the new×old probe scan has neither (its probe side is a
    // broadcast band table, so no bucket is ever a join key)
    writeLineage(cluDir, "clusters", chainedHash, s"pairs/$chainedHash", rows,
      (System.nanoTime() - t2) / 1e9, nBuckets, bareCfgHash,
      extra = s""","cand_metrics_scope":"new_x_new_only","hot_buckets":${candMetrics.hotBuckets.value},"hot_postings":${candMetrics.hotPostings.value},"salted_pairs":${candMetrics.saltedPairs.value}""")
    Files.deleteIfExists(dirtyPath(workDir))
    (out, Seq(
      StageInfo("signatures_append", newRows, sigWall, reused = false),
      StageInfo("pairs_increment", edges.count, pairsWall, reused = false),
      StageInfo("clusters", rows, (System.nanoTime() - t2) / 1e9, reused = false)))
  }
}
