package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable

/** A timed interval around one call into a layer (or the whole request),
  * on the monotonic clock and, to line up with task times, the wall clock.
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, group: String)

/** Requests and spans. Every request runs under job group `r<id>/`;
  * when tracing, each span gets its own group `r<id>/s<span>` and
  * [[out]] materializes a layer's output at the span boundary (cached
  * and counted, released once the request is checked), so a layer's Spark
  * work runs inside its own span. Spans are kept in memory and written
  * out once, at the end of the run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val sc = spark.sparkContext
  private var nextId = 0
  private var stack: List[(Int, String)] = Nil
  private var req = -1L
  private val held = mutable.ArrayBuffer.empty[() => Unit]

  private def setGroup(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

  /** Run one request under its own job group, as the root span. */
  def request[T](id: Long, kind: String)(body: => T): T = {
    req = id
    try span(s"request.$kind", root = true)(body)
    finally {
      sc.clearJobGroup()
      req = -1L
    }
  }

  /** Release the frames the last request held, once its output is checked. */
  def release(): Unit = { held.foreach(_()); held.clear() }

  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled && !root) body
    else {
      val id = nextId; nextId += 1
      val group = if (root) s"r$req/" else s"r$req/s$id"
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, group) :: stack
      setGroup(group)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (enabled) spans += Span(id, name, parent, req, t0, t1, ms0, System.currentTimeMillis(), group)
        stack = stack.tail
        stack.headOption.foreach(p => setGroup(p._2))
      }
    }

  /** Traced runs only: cache and count `df` so its work lands in the
    * enclosing span; untraced runs pass it through unchanged.
    */
  def out(df: DataFrame, label: String = null): DataFrame =
    if (!enabled) df
    else {
      val c = df.persist()
      val n = c.count()
      held += (() => c.unpersist(blocking = true))
      if (label != null) counts((req, label)) = counts.getOrElse((req, label), 0L) + n
      c
    }

  /** Materialize `df` now and cut its lineage, in traced and untraced runs
    * alike, released once the request is checked: for a frame the request
    * itself consumes more than once. Later plans start from the stored
    * rows, so Spark does not re-analyze and re-plan the recipe so far.
    */
  def hold(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(rdd => held += (() => rdd.unpersist(blocking = true)))
    c
  }

  /** Row counts of labelled [[out]] materializations, by (request, label). */
  val counts = mutable.Map.empty[(Long, String), Long]

  /** Self time of every span: duration minus the time its children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Highest percentile with at least ten samples above it:
    * (value, percentile, samples). With ten or fewer samples it is the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0, s.size)
    else { val i = s.size - 11; (s(i), 100.0 * (i + 1) / s.size, s.size) }
  }
}
