package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext

/** One timed call into a layer. `op` is the operation the span belongs to,
  * `parent` the enclosing span (0 for an operation's root span). Times are
  * `System.nanoTime` readings; the wall-clock window in milliseconds is
  * the one Spark's job events are stamped in. */
final case class Span(
    id: Long, parent: Long, op: Long, name: String, layer: String,
    startNs: Long, endNs: Long, wallStartMs: Long, wallEndMs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. A span also tags the Spark
  * jobs its body submits: the job group is set to the span id for the
  * duration of the call (and restored afterwards), so every job the
  * listener sees names the innermost span that submitted it
  * ([[Tracer.spanOf]]). A pooled thread keeps the job group it inherited
  * when it was created, so a job only belongs to the span its group names
  * if it also started inside that span's window. Threads
  * created inside a span inherit its job group (Spark local properties are
  * inheritable); worker threads that outlive one call open their spans with
  * an explicit parent via [[under]]. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Option[(Long, Long)]] { // (span, op)
    override def initialValue(): Option[(Long, Long)] = None
  }

  /** Open an operation's root span on this thread. */
  def op[A](opId: Long, name: String)(body: => A): A = run(0L, opId, name, "op")(body)

  /** A child of the innermost open span on this thread. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val (parent, opId) = current.get().getOrElse(
      throw new IllegalStateException(s"span $name opened outside an operation"))
    run(parent, opId, name, layer)(body)
  }

  /** The innermost open span on this thread, to hand to worker threads. */
  def here: (Long, Long) = current.get().getOrElse(
    throw new IllegalStateException("no open span on this thread"))

  /** A span opened on another thread under an explicit parent. */
  def under[A](parent: (Long, Long), name: String, layer: String)(body: => A): A =
    run(parent._1, parent._2, name, layer)(body)

  private def run[A](parent: Long, opId: Long, name: String, layer: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val saved = current.get()
    val savedGroup = sc.getLocalProperty("spark.jobGroup.id")
    val savedDesc = sc.getLocalProperty("spark.job.description")
    current.set(Some((id, opId)))
    sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      done.add(Span(id, parent, opId, name, layer, t0, t1, w0, System.currentTimeMillis()))
      current.set(saved)
      if (savedGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(savedGroup, savedDesc, interruptOnCancel = false)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {

  /** The Spark job group of span `id`, and back. */
  def group(id: Long): String = s"span-$id"
  def spanOf(group: String): Option[Long] =
    if (group.startsWith("span-")) group.drop(5).toLongOption else None

  /** Total length covered by a set of (start, end) intervals. */
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

  /** A span's self time: its duration minus the part of its interval its
    * children cover. Children may nest or overlap (parallel workers); the
    * covered part is their union, clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
