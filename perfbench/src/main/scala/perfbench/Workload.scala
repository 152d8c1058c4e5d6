package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** One operation's result as its workload saw it.
  *
  * @param kind      "op" for the workload's unit operation (a cycle, a
  *                  drain, a top-k request), "write" for a side write
  * @param seconds   latency of the timed region only (input landing and
  *                  output checks lie outside it)
  * @param startMs   wall-clock start of the timed region, to match Spark
  *                  jobs to the operation
  * @param items     change rows landed, documents offered, or query
  *                  vectors served
  * @param error     why the operation failed or its output was wrong
  * @param quality   share of the expected answers the operation returned
  * @param counters  per-operation layer counts the workload knows from its
  *                  own bookkeeping (metric name → value)
  * @param group     the request class, when a workload mixes classes in
  *                  fixed shares (the collection a top-k request reads) */
final case class OpOutcome(
    kind: String,
    seconds: Double,
    startMs: Long,
    endMs: Long,
    items: Long,
    error: Option[String],
    quality: Double,
    counters: Map[String, Double] = Map.empty,
    group: String = "") {
  def ok: Boolean = error.isEmpty
}

/** A set-up workload, ready to run operations against graft. */
trait Instance {
  /** The `TableStore` root graft writes to. */
  def storeRoot: Path

  /** Run operation `i`; with a tracer, run it traced. */
  def op(i: Int, tracer: Option[Tracer]): OpOutcome

  /** Check graft's state after set-up; None when it is right. */
  def check(): Option[String] = None
}

trait Workload {
  def name: String

  /** Operations a run makes at least, however long they take. */
  def minOps: Int = 2

  /** Generate the inputs from `seed` under `dir` and bring graft to the
    * state the operations start from (initial full load, index build). */
  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double): Instance
}

object Workload {
  val all: Seq[Workload] = Seq(CdcSync, Admission, VectorServe)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (choose from ${all.map(_.name).mkString(", ")})"))

  /** Time `body` as an operation's timed region: as the root span of
    * operation `opId` when traced. Returns the body's value, the latency,
    * and the wall-clock window. */
  def timed[A](tracer: Option[Tracer], opId: Long, name: String)(body: => A)
      : (A, Double, Long, Long) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = tracer match {
      case Some(t) => t.op(opId, name)(body)
      case None => body
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (a, secs, w0, System.currentTimeMillis())
  }

  /** A span when traced, the bare call otherwise. */
  def span[A](tracer: Option[Tracer], name: String, layer: String)(body: => A): A =
    tracer match {
      case Some(t) => t.span(name, layer)(body)
      case None => body
    }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300) +
      (if (root ne e) s" (cause ${root.getClass.getSimpleName}: ${root.getMessage})".take(300) else "")
  }
}
