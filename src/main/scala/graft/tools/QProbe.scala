package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev probe: run named SparkEntry queries with a per-job listener, so each
  * query's wall time decomposes into its Spark jobs (description, wall,
  * summed task time). Guide §1: find where the time goes before touching
  * anything.
  *
  * Usage: sbt "runMain graft.tools.QProbe <query> [query...]"
  */
object QProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scratch = if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft-qprobe"
    else "/tmp/graft-qprobe"
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-qprobe")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("GRAFT_PAGE_BYTES")
      .fold(builder0)(v => builder0.config("spark.buffer.pageSize", v))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Dedup.pipeline(spark, graft.sources.TranscriptGen.df(spark, 5000L), graft.DedupConfig()).count()

    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val queries = graft.SparkEntry.queries
    args.foreach { name =>
      queries.get(name) match {
        case None => println(s"[qprobe] unknown query $name")
        case Some(fn) =>
          for (rep <- 1 to 2) {
            counter.drain()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(200)
            val jobs = counter.drain()
            println(f"[qprobe] $name rep=$rep wall=$wall%.2f jobs=${jobs.size}")
            jobs.foreach(l => println(s"[qjob]    $l"))
          }
      }
    }
    spark.stop()
  }

  /** One log line per finished job: wall, tasks, summed task time and a
    * label — the job description if set, else the call site (file:line)
    * of the SQL execution that submitted it (adaptive query stages run as
    * jobs of their own, whose result stage names only a pool thread), else
    * the result stage's name.
    */
  final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val jobDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobDesc.put(j.jobId, Option(j.properties.getProperty("spark.job.description"))
        .orElse(Option(j.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(execSite.get(id.toLong))))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("-"))
      jobStart.put(j.jobId, j.time)
      j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
      jobTaskMs.put(j.jobId, new java.util.concurrent.atomic.AtomicLong)
      jobTasks.put(j.jobId, new java.util.concurrent.atomic.AtomicLong)
      ()
    }
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, s.description); ()
      case _ => ()
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val dur = j.time - jobStart.getOrDefault(j.jobId, j.time)
      val tms = Option(jobTaskMs.get(j.jobId)).map(_.get).getOrElse(0L)
      val nt = Option(jobTasks.get(j.jobId)).map(_.get).getOrElse(0L)
      log.add(f"job=${j.jobId}%4d wall=${dur / 1000.0}%6.2f tasks=$nt%4d taskSec=${tms / 1000.0}%7.2f desc=${jobDesc.getOrDefault(j.jobId, "-")}")
      ()
    }
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null) {
        val jid = stageJob.getOrDefault(t.stageId, -1)
        val a = jobTaskMs.get(jid)
        if (a != null) { a.addAndGet(t.taskInfo.duration); () }
        val c = jobTasks.get(jid)
        if (c != null) { c.incrementAndGet(); () }
      }
      ()
    }
    def drain(): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var s = log.poll()
      while (s != null) { out += s; s = log.poll() }
      out.toSeq
    }
  }
}
