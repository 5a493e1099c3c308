package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer. `parent` is -1 for a root
  * span; spans of one engine call share `callId`.
  */
final case class Span(id: Int, name: String, parent: Int, callId: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {

  /** Spark local property carrying the tag of the span (or window) that is
    * active when a job starts; the [[TaskListener]] attributes the job's
    * tasks to it.
    */
  val TagKey = "perfbench.tag"

  def tagOf(spanId: Int): String = s"span-$spanId"

  /** Self time of `span`: its duration minus the part of it that the union
    * of its children's intervals covers (children clipped to the span).
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val ivs = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Records spans in memory. Entering a span sets [[Trace.TagKey]] on the
  * calling thread (threads the engine starts inherit it) and restores the
  * enclosing tag on exit. A disabled tracer only runs the body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var callId = -1

  def spans: Seq[Span] = done.toSeq

  /** Runs `f` as the root span of engine call `id`. */
  def call[T](id: Int)(f: => T): T = { callId = id; span("call")(f) }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val outer = sc.getLocalProperty(Trace.TagKey)
      sc.setLocalProperty(Trace.TagKey, Trace.tagOf(id))
      val t0 = System.nanoTime()
      stack = (id, name, t0) :: stack
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.TagKey, outer)
        done += Span(id, name, parent, callId, t0, t1)
      }
    }

  def children(s: Span): Seq[Span] = done.filter(_.parent == s.id).toSeq
  def selfNs(s: Span): Long = Trace.selfNs(s, children(s))
}
