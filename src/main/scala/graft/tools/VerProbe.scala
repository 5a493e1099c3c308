package graft.tools

import graft.{Dedup, DedupConfig}
import graft.operators.ProbeScan
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Dev probe: the verify phase of the pipeline on a materialized candidate
  * set — wall and executor CPU time, shuffle bytes written, and the pair
  * scan's table count (one `sigs` scan each) with its collected pair and
  * member-payload bytes. Not part of the engine.
  *
  * Usage: sbt "runMain graft.tools.VerProbe <sfDir | gen:N> [rounds]" —
  * `sfDir` takes the events-derived corpus (each user's events as a
  * conversation plus a near-copy), `gen:N` the N-conversation TranscriptGen
  * corpus the scaling bench runs.
  */
object VerProbe {

  /** Executor CPU and shuffle bytes written by the tasks that end while it listens. */
  private final class TaskTotals extends SparkListener {
    val cpuNs, shuffleBytes = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
      cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
    }
  }

  private def eventsCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def conv(prefix: String) =
      concat(lit(prefix), lpad(col("user_id").cast("string"), 10, "0")).as("conv_id")
    val base = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("turn_idx", row_number().over(w))
      .withColumn("n_ev", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
    val orig = base.select(conv("u"), col("turn_idx"), lit("user").as("role"),
      col("event_type").as("text"), lit("").as("tool"), col("ts"))
    val dup = base.filter(col("turn_idx") < col("n_ev"))
      .select(conv("d"), col("turn_idx"), lit("user").as("role"),
        col("event_type").as("text"), lit("").as("tool"), col("ts"))
    orig.unionByName(dup)
  }

  def main(args: Array[String]): Unit = {
    val source = args.headOption.getOrElse(sys.error("usage: VerProbe <sfDir | gen:N> [rounds]"))
    val rounds = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scratch = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm/graft-verprobe" else "/tmp/graft-verprobe"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Dedup.pipeline(spark, graft.sources.TranscriptGen.df(spark, 5000L), DedupConfig()).count()

    val ts =
      if (source.startsWith("gen:")) graft.sources.TranscriptGen.df(spark, source.stripPrefix("gen:").toLong).toDF()
      else eventsCorpus(spark, source)
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(spark, Dedup.documents(ts), cfg).localCheckpoint(true)
    val groups = Dedup.repGroups(sigs).localCheckpoint(true)
    val repBands = groups.select(col("rep").as("conv_id"), col("bands")).localCheckpoint(true)
    val cand = Dedup.candidates(repBands, cfg).localCheckpoint(true)
    println(s"VERPROBE source=$source cpus=$cpus sigs=${sigs.count()} reps=${repBands.count()} candidates=${cand.count()}")

    (1 to rounds).foreach { round =>
      val totals = new TaskTotals
      spark.sparkContext.addSparkListener(totals)
      val t0 = System.nanoTime()
      val verified = Dedup.verify(cand, sigs, cfg).localCheckpoint(true).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // let the listener bus deliver the last task ends
      spark.sparkContext.removeSparkListener(totals)
      val scan = ProbeScan.lastPairScan
      println(f"VERPROBE round=$round verified=$verified wall_s=$wall%.2f cpu_s=${totals.cpuNs.get / 1e9}%.2f " +
        f"shuffle_write_bytes=${totals.shuffleBytes.get} " +
        f"tables=${scan.tables} pair_bytes=${scan.pairBytes} payload_bytes=${scan.payloadBytes}")
    }
    spark.stop()
  }
}
