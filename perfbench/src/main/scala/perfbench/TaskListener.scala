package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task metrics summed per tag. */
final class TagAgg {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Sums executor task metrics per tag: a job's tasks go to the tag
  * ([[Trace.TagKey]]) that was set on the submitting thread when the job
  * started. Jobs without a tag are not counted. Read only after
  * [[org.apache.spark.perfbench.BusDrain.drain]].
  */
final class TaskListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, TagAgg]
  // (launch ms, finish ms) of every task, per stage id
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.TagKey))).orNull
    if (tag != null) {
      e.stageIds.foreach(stageTag(_) = tag)
      aggs.getOrElseUpdate(tag, new TagAgg).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val a = aggs.getOrElseUpdate(tag, new TagAgg)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.gcMs += m.jvmGCTime
      }
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  def agg(tag: String): TagAgg = synchronized(aggs.getOrElse(tag, new TagAgg))

  /** max/median task time of the longest-running stage under `tag`
    * (first launch to last finish); 0 when the tag ran no tasks.
    */
  def taskSkew(tag: String): Double = synchronized {
    val stages = stageTag.collect { case (s, t) if t == tag && stageTasks.contains(s) => stageTasks(s) }
    if (stages.isEmpty) 0.0
    else {
      val slowest = stages.maxBy(ts => ts.map(_._2).max - ts.map(_._1).min)
      val durs = slowest.map { case (l, f) => (f - l).toDouble }.toSeq
      val med = Stats.median(durs)
      durs.max / math.max(med, 1.0) // task times are whole ms
    }
  }
}
