package perfbench

import org.apache.spark.sql.Row

/** One request of a workload's mix: its type and which input variant it uses. */
final case class Req(kind: String, variant: Int)

/** A request's result: input rows it consumed, and an output check run
  * after the clock stops (None when the output is correct).
  */
final case class Done(rows: Long, check: () => Option[String])

trait Workload {
  /** Per-layer metric name for the workload's own set-up step. */
  def setupLayer: String
  /** Build the inputs: generate and persist, or generate and write. Run
    * several times during set-up; each call replaces the previous inputs.
    */
  def setupData(): Unit
  /** Reference answers, computed once with plain Spark and no graft code. */
  def prepareChecks(): Unit
  /** One cycle of the request mix, in seed order; the run repeats it. */
  def cycle: Seq[Req]
  /** Warm-up, before any timing: passes over the cycle with its requests
    * side by side, then requests of the cycle sent one at a time.
    */
  def warmPasses: Int = 1
  def warmSerial: Int = 0
  def run(r: Req, tr: Tracer): Done
  /** True when requests build a fresh, unpersisted GroupBy. */
  def freshGroupBy: Boolean = false
  /** Describes inputs and sizes for the result file. */
  def describe: Map[String, Any]
}

/** Output comparison at stated tolerances. */
object Check {
  /** |got − want| ≤ abs + rel·|want|; nulls must match exactly. */
  def close(got: Any, want: Any, rel: Double, abs: Double): Boolean = (got, want) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (g: Number, w: Number) =>
      val (a, b) = (g.doubleValue, w.doubleValue)
      (a.isNaN && b.isNaN) || math.abs(a - b) <= abs + rel * math.abs(b)
    case (g, w) => g.toString == w.toString
  }

  /** Key → values of a collected result; keys are the first `nKeys`
    * columns, rendered as strings so typed and "All"-relabelled keys match.
    */
  def keyed(rows: Seq[Row], nKeys: Int): Map[Seq[String], Seq[Any]] =
    rows.map { r =>
      val s = r.toSeq
      s.take(nKeys).map(String.valueOf) -> s.drop(nKeys)
    }.toMap

  /** Compare two keyed results; None when every row and value agrees. */
  def sameRows(got: Map[Seq[String], Seq[Any]], want: Map[Seq[String], Seq[Any]],
      rel: Double, abs: Double): Option[String] =
    if (got.size != want.size) Some(s"${got.size} result rows, expected ${want.size}")
    else want.collectFirst {
      case (k, w) if !got.get(k).exists(g =>
          g.size == w.size && g.zip(w).forall { case (a, b) => close(a, b, rel, abs) }) =>
        s"group ${k.mkString(",")}: got ${got.get(k).map(_.mkString(",")).orNull}, " +
          s"expected ${w.mkString(",")}"
    }
}
