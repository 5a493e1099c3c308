package graft.tools

import graft.DedupConfig
import graft.plans.CheckpointedPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Stage-level attribution for the checkpointed/incremental driver queries
  * (guide §1: measure first). Replicates q_checkpointed_clusters and
  * q_incremental_clusters with per-phase wall times printed, so the
  * expensive sub-steps (fingerprint pass, stage writes, resume reads,
  * append branches, workDir delete) are visible individually.
  */
object CkptProbe {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Counts jobs/stages/tasks + summed task time between marks — the
    * fixed-overhead attribution the UI would give (it is disabled here).
    * The per-job lines come from [[QProbe.JobCounter]].
    */
  private final class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      { stages.incrementAndGet(); () }
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      ()
    }
    def snap(): (Long, Long, Long, Long) = (jobs.get, stages.get, tasks.get, taskMs.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scratch = if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft-ckptprobe"
    else "/tmp/graft-ckptprobe"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ckptprobe")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Dedup.pipeline(spark, graft.sources.TranscriptGen.df(spark, 5000L), DedupConfig()).count()

    val counter = new Counter
    val perJob = new QProbe.JobCounter
    spark.sparkContext.addSparkListener(counter)
    spark.sparkContext.addSparkListener(perJob)
    def mark[T](label: String)(f: => T): T = {
      val (j0, s0, t0, m0) = counter.snap()
      val (r, w) = time(f)
      // listener bus is async; small drain pause so counts attribute right
      Thread.sleep(150)
      val (j1, s1, t1, m1) = counter.snap()
      println(f"[marks] $label%-28s wall=$w%6.2f jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${t1 - t0}%5d taskSec=${(m1 - m0) / 1000.0}%7.2f")
      perJob.drain().foreach(l => println(s"[jobs]   $l"))
      r
    }

    val reps = if (args.nonEmpty) args(0).toInt else 2
    // work dirs live under the same tmpfs-or-/tmp scratch as spark.local.dir
    val scratchDir = Files.createDirectories(Paths.get(scratch))
    for (rep <- 1 to reps) {
      // ---- q_checkpointed_clusters shape ----
      val work = Files.createTempDirectory(scratchDir, "graft-probe-q").toString
      val (ts, tTs) = time {
        graft.SparkEntry.queries // force object init
        mark("ts")(eventTranscripts(spark, sfDir).localCheckpoint(true))
      }
      val ((_, s1), tRun1) = time(mark("run1")(CheckpointedPipeline.run(spark, ts, DedupConfig(), work, nBuckets = 16)))
      val ((resumed, s2), tRun2) = time(CheckpointedPipeline.run(spark, ts, DedupConfig(), work, nBuckets = 16))
      val (_, tOut) = time(resumed
        .select(col("conv_id"), col("cluster_id"), col("is_canonical").cast("long").as("is_canonical"))
        .localCheckpoint(true).count())
      val (_, tDel) = time(deleteRec(work))
      println(f"[probe] rep=$rep ckpt: ts=$tTs%.2f run1=$tRun1%.2f run2=$tRun2%.2f out=$tOut%.2f del=$tDel%.2f  " +
        s"stages1=${s1.map(st => f"${st.name}:${st.wallSec}%.2f").mkString(",")}")

      // ---- q_incremental_clusters shape ----
      val work2 = Files.createTempDirectory(scratchDir, "graft-probe-i").toString
      val (ts2, tTs2) = time(eventTranscripts(spark, sfDir).localCheckpoint(true))
      val (r1, tIdx) = time(mark("incr:index")(CheckpointedPipeline.run(spark, ts2.filter(col("conv_id").startsWith("u")),
        DedupConfig(), work2, nBuckets = 16)))
      val ((combined, st), tApp) = time(mark("incr:append")(CheckpointedPipeline.append(spark,
        ts2.filter(col("conv_id").startsWith("d")), DedupConfig(), work2, nBuckets = 16)))
      val (_, tOut2) = time(combined
        .select(col("conv_id"), col("cluster_id"), col("is_canonical").cast("long").as("is_canonical"))
        .localCheckpoint(true).count())
      val (_, tDel2) = time(deleteRec(work2))
      println(f"[probe] rep=$rep incr: ts=$tTs2%.2f index=$tIdx%.2f append=$tApp%.2f out=$tOut2%.2f del=$tDel2%.2f  " +
        s"idxStages=${r1._2.map(s => f"${s.name}:${s.wallSec}%.2f").mkString(",")}  " +
        s"appStages=${st.map(s => f"${s.name}:${s.wallSec}%.2f").mkString(",")}")
    }
    spark.stop()
  }

  private def deleteRec(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** Same derivation as SparkEntry.eventTranscripts (private there). */
  private def eventTranscripts(s: SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("turn_idx", row_number().over(w))
      .withColumn("n_ev", count(lit(1)).over(Window.partitionBy(col("user_id"))))
    def conv(prefix: String) =
      concat(lit(prefix), lpad(col("user_id").cast("string"), 10, "0")).as("conv_id")
    val orig = base.select(conv("u"), col("turn_idx"), lit("user").as("role"),
      col("event_type").as("text"), lit("").as("tool"), col("ts"))
    val dup = base.filter(col("turn_idx") < col("n_ev"))
      .select(conv("d"), col("turn_idx"), lit("user").as("role"),
        col("event_type").as("text"), lit("").as("tool"), col("ts"))
    orig.unionByName(dup)
  }
}
