package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** One timed call into a layer. `parent` is the id of the span that was
  * open on the same thread when this one started (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer.
  *
  * When enabled, a span also tags the Spark jobs its thread submits: the
  * job group becomes the span's name for its duration (the enclosing
  * span's name is restored after), so [[LayerListener]] can attribute job,
  * task and byte counts to the same layer. Disabled, [[span]] only runs
  * its body.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val ctx = sc
      val prevGroup = ctx.getLocalProperty(Tracer.GroupKey)
      ctx.setLocalProperty(Tracer.GroupKey, name)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        open.set(stack)
        ctx.setLocalProperty(Tracer.GroupKey, prevGroup)
      }
    }

  /** Records a span timed outside [[span]] (e.g. across threads). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      done.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs))

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.id)
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span, in seconds: its duration minus the part of
    * its interval that its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}
