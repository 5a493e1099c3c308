package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Closed-loop benchmark with one client on `local[4]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --scratch <dir> [--commit <sha>] [--source <digest>]
  * }}}
  *
  * Untraced (`--trace 0`): sets up three times in one session (inputs,
  * truth, initial build; the first also starts the session) and reports
  * the median as `setup_s`; then makes calls for `--seconds`
  * of summed call time, checks each one after its timing stops, and prints
  * the end-to-end metrics (call timings go to the record and stderr). Traced
  * (`--trace 1`): sets up once and warms up, then alternates untraced calls with calls
  * split at the layer boundaries, and prints the per-layer metrics.
  *
  * The last stdout line is the result object; the full record (provenance,
  * every sample, every failure) is written to `<scratch>/record.json`, and
  * the spans of a traced run to `<scratch>/spans.json`.
  */
object Main {
  val Cores = 4
  val Workloads: Seq[String] = Seq("batch_dedup", "hot_buckets", "append_stream", "probe_index")
  val Layers: Seq[String] =
    Seq("assembly", "signatures", "repgroups", "candidates", "verify", "components", "checkpoint", "probe")

  def make(name: String, spark: SparkSession, seed: Long, dir: Path, seconds: Int): Workload = name match {
    case "batch_dedup"   => new BatchDedup(spark, seed, dir, convs = 6000)
    case "hot_buckets"   => new HotBuckets(spark, seed, dir, families = 3, members = 120)
    case "append_stream" => new AppendStream(spark, seed, dir, baseConvs = 200, fresh = 30, copies = 6,
                                             maxBatches = 8 + seconds)
    case "probe_index"   => new ProbeIndex(spark, seed, dir, indexDocs = 800, textBatches = 4, textBatch = 60,
                                           vecBatches = 4, vecBatch = 40, noise = 1000)
  }

  def session(scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (Cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code = Try(run(opts)) match {
      case Success(c) => c
      case Failure(e) => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  private final case class Call(i: Int, tag: String, seconds: Double, items: Long, traced: Boolean,
                                outcome: Outcome, checkSeconds: Double)

  def run(opts: Map[String, String]): Int = {
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload '$name' (one of ${Workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val scratch = Paths.get(opts("scratch")).toAbsolutePath
    val dir = scratch.resolve("data")

    // ---- set-up, three times in one session (once when traced): inputs,
    // truth and the initial build; the first set-up also starts the session,
    // so the median is a warm set-up. Only a traced run, whose call timings
    // are reported, ends set-up with warm-up calls: the untraced run's
    // bounded metrics are per-call counts, which JIT state does not move ----
    val setupSamples = ArrayBuffer.empty[Double]
    val setupPhases = ArrayBuffer.empty[Seq[(String, Double)]]
    val failures = ArrayBuffer.empty[String]
    val calls = ArrayBuffer.empty[Call]
    val t00 = System.nanoTime()
    val spark = session(scratch)
    val listener = new TaskListener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val tSession = (System.nanoTime() - t00) / 1e9
    val off = new Tracer(sc, enabled = false)
    val tracer = new Tracer(sc, enabled = traced)
    var w: Workload = null
    var next = 0
    (0 until (if (traced) 1 else 3)).foreach { rep =>
      deleteTree(dir)
      Files.createDirectories(dir)
      val t0 = if (rep == 0) t00 else System.nanoTime()
      w = make(name, spark, seed, dir, seconds)
      w.setup()
      val tWarm = System.nanoTime()
      val warm = traced && rep == 0
      if (warm)
        (0 until w.warmupCalls).foreach { i =>
          val o = w.call(i, off)()
          if (!o.ok) failures += s"warm-up call $i: ${o.detail}"
        }
      next = if (warm) w.warmupCalls else 0
      val t1 = System.nanoTime()
      setupSamples += (t1 - t0) / 1e9
      setupPhases += ((if (rep == 0) Seq("session" -> tSession) else Nil) ++ w.phases.toSeq :+
        ("warmup" -> (t1 - tWarm) / 1e9))
    }

    /** One call, tagged so the listener sums its tasks apart from the rest
      * (a traced call's spans carry their own tags).
      */
    def timedCall(i: Int, tr: Tracer): Call = {
      val tag = s"call-${calls.size}"
      if (!tr.enabled) sc.setLocalProperty(Trace.TagKey, tag)
      val t0 = System.nanoTime()
      val check = Try(w.call(i, tr))
      val t1 = System.nanoTime()
      sc.setLocalProperty(Trace.TagKey, null)
      val outcome = check.flatMap(f => Try(f())) match {
        case Success(o) => o
        case Failure(e) => Outcome(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (!outcome.ok) failures += s"call $i: ${outcome.detail}"
      Call(i, tag, (t1 - t0) / 1e9, w.items(i), tr.enabled, outcome, (System.nanoTime() - t1) / 1e9)
    }

    // ---- the closed loop ----
    def spent = calls.map(_.seconds).sum
    if (!traced)
      while ((spent < seconds || calls.size % w.rotation != 0) && next < w.capacity) {
        calls += timedCall(next, off)
        next += 1
      }
    else
      // pairs of calls, untraced and traced, in alternating order
      while ((spent < seconds || calls.count(_.traced) < 2) && next + 1 < w.capacity) {
        val order = if (calls.size % 4 == 0) Seq(off, tracer) else Seq(tracer, off)
        order.foreach { tr =>
          calls += timedCall(next, tr)
          if (!w.repeatable || (tr eq order.last)) next += 1
        }
      }
    BusDrain.drain(sc)

    val timed = calls.filterNot(_.traced).toSeq
    val attempted = calls.size
    val failed = calls.count(!_.outcome.ok)
    val pairs = calls.map(_.outcome.pairs).foldLeft(Truth.PairCounts.Zero)(_ + _)
    val knnHits = calls.map(_.outcome.knnHits).sum
    val knnTotal = calls.map(_.outcome.knnTotal).sum
    val samples = timed.map(_.seconds)
    val tail = Stats.tail(samples)
    // per-call figures of the untraced calls, as medians over the calls
    def perCall(f: (Call, TagAgg) => Double) = Stats.median(timed.map(c => f(c, listener.agg(c.tag))))
    val timing = Seq(
      ("calls.items_per_s", perCall((c, _) => c.items / c.seconds), "1/s"),
      ("calls.p50_s", Stats.median(samples), "s"),
      ("calls.cpu_us_per_item", perCall((c, a) => a.cpuNs / 1e3 / c.items), "us"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("jobs_per_call", perCall((_, a) => a.jobs.toDouble), "count"),
        ("shuffle_bytes_per_item", perCall((c, a) => a.shuffleWriteBytes.toDouble / c.items), "B"),
        ("pair_recall", pairs.recall, "ratio"),
        ("pair_precision", pairs.precision, "ratio"),
        ("setup_s", Stats.median(setupSamples.toSeq), "s"))
      else timing ++ layerMetrics(w, tracer, listener, calls.toSeq, failed.toDouble / attempted,
        if (knnTotal == 0) 0.0 else knnHits.toDouble / knnTotal)

    // ---- the record: provenance, samples, failures ----
    val record = Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "git_commit" -> opts.getOrElse("commit", "unknown"),
      "source_digest" -> opts.getOrElse("source", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> sc.master,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "input" -> w.info.toSeq,
      "setup_s_samples" -> setupSamples.toSeq,
      "setup_phases_s" -> setupPhases.toSeq,
      "timing" -> timing.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) },
      // the tail by the ten-samples-beyond rule; null below 20 calls
      "call_s_tail" -> tail.map { case (p, v) => Seq("percentile" -> p, "value" -> v) },
      "call_samples" -> samples.size,
      "calls" -> calls.map { c =>
        val a = listener.agg(c.tag)
        Seq("i" -> c.i, "s" -> c.seconds, "check_s" -> c.checkSeconds, "items" -> c.items, "traced" -> c.traced,
          "ok" -> c.outcome.ok,
          "cpu_ms" -> a.cpuNs / 1e6, "shuffle_write_bytes" -> a.shuffleWriteBytes)
      }.toSeq,
      "failures" -> failures.toSeq,
      "metrics" -> metrics.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) })
    Files.writeString(scratch.resolve("record.json"), Json(record) + "\n")
    System.err.println(f"[perfbench] JVM uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    if (traced) writeSpans(scratch.resolve("spans.json"), tracer, listener)
    timing.foreach { case (k, v, u) => System.err.println(f"[perfbench] $k%-24s $v%14.4f $u") }
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()

    val correct = failures.isEmpty
    println(Json(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Seq("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }

  /** Per-layer metrics of a traced run, per traced call. */
  private def layerMetrics(w: Workload, tr: Tracer, l: TaskListener, calls: Seq[Call],
                           errorRate: Double, recallAtK: Double): Seq[(String, Double, String)] = {
    val tracedCalls = calls.filter(_.traced)
    val n = math.max(1, tracedCalls.size).toDouble
    val spans = tr.spans
    val perLayer = Layers.flatMap { layer =>
      val ss = spans.filter(_.name == layer)
      val aggs = ss.map(s => l.agg(Trace.tagOf(s.id)))
      val wall = ss.map(_.durNs).sum / 1e9
      val runS = aggs.map(_.runMs).sum / 1e3
      val skews = ss.map(s => l.taskSkew(Trace.tagOf(s.id))).filter(_ > 0)
      Seq(
        ("wall_s", wall / n, "s"),
        ("self_s", ss.map(tr.selfNs).sum / 1e9 / n, "s"),
        ("cpu_s", aggs.map(_.cpuNs).sum / 1e9 / n, "s"),
        ("idle_core_s", (wall * Cores - runS) / n, "s"),
        ("jobs", aggs.map(_.jobs).sum / n, "count"),
        ("tasks", aggs.map(_.tasks).sum / n, "count"),
        ("shuffle_write_bytes", aggs.map(_.shuffleWriteBytes).sum / n, "B"),
        ("shuffle_records", aggs.map(_.shuffleRecords).sum / n, "count"),
        ("spill_bytes", aggs.map(_.spillBytes).sum / n, "B"),
        ("gc_s", aggs.map(_.gcMs).sum / 1e3 / n, "s"),
        ("task_skew", if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio"),
        ("rows_out", w.counters(s"$layer.rows_out") / n, "count")
      ).map { case (m, v, u) => (s"$layer.$m", v, u) }
    }
    val c = w.counters
    def per(k: String) = c(k) / n
    def ratio(a: String, b: String) = if (c(b) == 0) 0.0 else c(a) / c(b)
    val untracedS = calls.filterNot(_.traced).map(_.seconds).sum
    val tracedS = tracedCalls.map(_.seconds).sum
    val special = Seq(
      ("signatures.shingles", per("signatures.shingles"), "count"),
      ("repgroups.collapse_ratio", ratio("repgroups.rows_out", "repgroups.docs"), "ratio"),
      ("candidates.postings", per("candidates.postings"), "count"),
      ("candidates.pairs", per("candidates.pairs"), "count"),
      ("candidates.hot_buckets", per("candidates.hot_buckets"), "count"),
      ("candidates.hot_postings", per("candidates.hot_postings"), "count"),
      ("candidates.salted_pairs", per("candidates.salted_pairs"), "count"),
      ("verify.pairs_in", per("verify.pairs_in"), "count"),
      ("verify.pairs_out", per("verify.pairs_out"), "count"),
      ("verify.yield", ratio("verify.pairs_out", "verify.pairs_in"), "ratio"),
      ("components.edges", per("components.edges"), "count"),
      ("components.clusters", per("components.clusters"), "count"),
      ("checkpoint.bytes_written", per("checkpoint.bytes_written"), "B"),
      ("checkpoint.files_written", per("checkpoint.files_written"), "count"),
      ("checkpoint.stage_s", per("checkpoint.stage_s"), "s"),
      ("probe.recall_at_k", recallAtK, "ratio"),
      ("checks.error_rate", errorRate, "ratio"),
      ("trace.overhead_ratio", if (untracedS == 0) 0.0 else tracedS / untracedS, "ratio"),
      ("jvm.peak_rss_mb", peakRssMb(), "MB"))
    val kernels = Kernels.measure(w.kernelSample, w.cfg).map { case (k, v) => (k, v, "ns") }
    perLayer ++ special ++ kernels
  }

  private def writeSpans(p: Path, tr: Tracer, l: TaskListener): Unit = {
    val spans = tr.spans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Files.writeString(p, Json(spans.map { s =>
      val a = l.agg(Trace.tagOf(s.id))
      Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "call" -> s.callId,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> tr.selfNs(s) / 1e6, "jobs" -> a.jobs, "tasks" -> a.tasks,
        "cpu_ms" -> a.cpuNs / 1e6, "task_run_ms" -> a.runMs, "shuffle_write_bytes" -> a.shuffleWriteBytes)
    }) + "\n")
  }
}
