package graft.operators

import org.apache.spark.sql.{Observation, Row}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Try

/** Metrics observed (`Dataset.observe`) on a job that runs anyway, in place
  * of an aggregation job of their own. Spark hands them over through the
  * listener bus once that job has finished, and a bus whose event queue
  * overflowed drops the event — so callers wait a bounded time and, on a
  * miss, recompute with the aggregation the observation replaced.
  */
private[graft] object Observed {
  val MaxWait: Duration = Duration(30, "s")

  /** Test hook: while set, every observation reads as dropped. */
  @volatile private[graft] var dropAll: Boolean = false

  def apply(obs: Observation): Option[Row] =
    if (dropAll) None else Try(Await.result(obs.future, MaxWait)).toOption
}
