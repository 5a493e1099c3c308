package graft

import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits, with [[graft.tools.QProbe.JobCounter]]
  * (one log line per finished job: its call site, wall and task time). The
  * bus is drained before the listener is added and again before it is read,
  * so earlier jobs are not counted and no job of the block is missed.
  */
object JobBudget {
  def apply[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    BusDrain.drain(sc)
    val counter = new graft.tools.QProbe.JobCounter
    sc.addSparkListener(counter)
    try {
      val r = f
      BusDrain.drain(sc)
      (r, counter.drain())
    } finally sc.removeSparkListener(counter)
  }
}
