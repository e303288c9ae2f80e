// Hosted under org.apache.spark.sql for the same private[sql] access
// as VectorExpressions (the Column <-> Expression bridge).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSeq, BindReferences, Expression, GenericInternalRow, JoinedRow, MutableProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, DeclarativeAggregate, Max, Min, Sum, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._

/** Running-frame window kernels for the rolling and ewm operators.
  *
  * Spark runs a bounded ROWS frame (`rowsBetween(-(w-1), 0)`) as a
  * sliding frame that re-initializes its aggregates and re-feeds every
  * frame row each time the frame moves: `w` aggregate-processor updates
  * per output row, for every aggregate of the frame. The running frame
  * (`rowsBetween(unboundedPreceding, currentRow)`) is one update and one
  * evaluate per row. These aggregates are meant only for that frame
  * (each output is the state after the current row) and keep the state
  * a window needs themselves; with them no operator of the library
  * aggregates over a bounded ROWS frame:
  *
  *   - [[RollingWindow]]: a ring of the last `window` values with null
  *     flags. Evaluate re-folds the ring oldest to newest with the
  *     update sequence of Spark's `Sum`, `Average`, `Min`, `Max` and
  *     `Count`, so each output is bit-identical to the same aggregate
  *     over the bounded frame, at `window` steps per row. Every
  *     row-count rolling statistic is this kernel or a formula over
  *     several of them (`RollingOps.liftAgg`): the decimal sums of
  *     `exact` (and its Σx² variance), the log-sum product and the five
  *     sums of cov/corr.
  *   - [[EwmWindow]]: the six-field ewm state, stepped once per row by
  *     [[EwmState.step]] — pandas' `ewma` / `ewmcov(x, x)` recurrence.
  *
  * A grouped aggregate cannot run them: their buffers can neither
  * merge nor serialize, so a plan that needs either fails with an
  * error naming the kernel. (A `WindowFunction` would be rejected at
  * analysis instead, but analysis also rejects one wrapped in the
  * `AggregateExpression` a window over an imperative aggregate needs.)
  * No SQL function is registered for them.
  */
abstract class RunningWindowAggregate[T] extends TypedImperativeAggregate[T]
    with UnaryLike[Expression] {

  override def nullable: Boolean = true

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$prettyName is a running-frame window function; it cannot $what")
  override def merge(buffer: T, input: T): T = unsupported("merge buffers")
  override def serialize(buffer: T): Array[Byte] = unsupported("serialize its state")
  override def deserialize(bytes: Array[Byte]): T = unsupported("deserialize its state")
}

/** The ring of the last `window` values one rolling kernel keeps: the
  * values in arrival order (oldest at `start`), their null flags and
  * the non-null count. Capacity grows to `window` as rows arrive, so a
  * short group never allocates a long window.
  */
final class RollingRing(window: Int, generic: Boolean) {
  private var cap = math.min(window, 16)
  var doubles: Array[Double] = if (generic) null else new Array[Double](cap)
  var values: Array[Any] = if (generic) new Array[Any](cap) else null
  var ok: Array[Boolean] = new Array[Boolean](cap)
  var start = 0
  var size = 0
  var nonNull = 0L

  /** Index of the i-th oldest value held. */
  def at(i: Int): Int = { val j = start + i; if (j >= cap) j - cap else j }

  private def grow(): Unit = {
    val n = math.min(window, cap * 2)
    val o = new Array[Boolean](n)
    val d = if (doubles == null) null else new Array[Double](n)
    val v = if (values == null) null else new Array[Any](n)
    var i = 0
    while (i < size) {
      val j = at(i)
      o(i) = ok(j)
      if (d != null) d(i) = doubles(j) else v(i) = values(j)
      i += 1
    }
    ok = o; doubles = d; values = v; cap = n; start = 0
  }

  /** Appends one row, dropping the oldest once `window` rows are held. */
  def push(isNull: Boolean, d: Double, v: Any): Unit = {
    if (size == cap && cap < window) grow()
    val j =
      if (size == cap) {
        // full at `window`: the slot of the oldest value takes the new one
        val s = start
        if (ok(s)) nonNull -= 1
        start = if (s + 1 == cap) 0 else s + 1
        s
      } else { size += 1; at(size - 1) }
    ok(j) = !isNull
    if (!isNull) nonNull += 1
    if (doubles != null) doubles(j) = d else values(j) = v
  }
}

/** Rolling `op` over the last `window` rows of the running frame, null
  * while fewer than `minPeriods` values in the window are non-null
  * (`count(v).over(frame) >= minPeriods`, in the same call).
  *
  * Each output equals `op` over the bounded frame bit for bit, because
  * evaluate re-folds the ring in the bounded frame's own update order:
  *   - `sum`: `0.0 + x₁ + x₂ + …` over the non-null values (Spark's
  *     `Sum` adds its first value to a zero), null if none;
  *   - `mean`: the same sum over `count` (Spark's `Average`);
  *   - `min` / `max`: the earliest value no later value strictly
  *     undercuts / exceeds, NaN above every number and `-0.0 == 0.0`
  *     (Spark's `Least` / `Greatest` ordering);
  *   - `count`: the non-null count;
  *   - `var` / `std`: the Σx² identity of the bounded-frame form,
  *     `max((Σx² − (Σx)²/n)/(n − 1), 0)` with n > 1, std its sqrt (one
  *     ring, where the same formula over three kernels holds three).
  * Double inputs (and the double casts `mean` makes of integral and
  * float inputs, and `sum` of float inputs) fold as primitives. Other
  * types fold through Spark's own `Sum` / `Average` / `Min` / `Max`
  * update and evaluate expressions, compiled as Spark's window
  * aggregate processor compiles them, in the same order — an integral
  * sum keeps its long type and ANSI overflow error, a decimal sum or
  * mean its decimal type (the exact sums of the rolling operators).
  * `var` / `std` take a double child.
  */
case class RollingWindow(child: Expression, op: String, window: Int,
    minPeriods: Int, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends RunningWindowAggregate[RollingRing] {
  require(window >= 1, s"window must be >= 1, got $window")
  require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")
  require(Seq("sum", "mean", "min", "max", "count", "var", "std").contains(op),
    s"unknown rolling op: $op")

  override def prettyName: String = s"rolling_$op"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = op match {
      case "count" => true
      case "min" | "max" => child.dataType.isInstanceOf[AtomicType]
      case "var" | "std" => child.dataType == DoubleType
      case _ => child.dataType.isInstanceOf[NumericType]
    }
    if (ok) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName cannot fold ${child.dataType.catalogString}")
  }

  /** Whether the fold runs on primitive doubles (see the class doc). */
  private def primitive: Boolean = (op, child.dataType) match {
    case ("count" | "var" | "std", _) => true
    case (_, DoubleType) => true
    case ("sum", FloatType) => true
    case ("mean", _: IntegralType | FloatType) => true
    case _ => false
  }

  // the reference aggregate of the non-primitive folds, over one input
  // slot (both serialized with the plan, so the update binds to the slot)
  private lazy val slot = AttributeReference("x", child.dataType)()
  private lazy val reference: DeclarativeAggregate = op match {
    case "sum" => Sum(slot)
    case "mean" => Average(slot)
    case "min" => Min(slot)
    case _ => Max(slot)
  }

  override def dataType: DataType = op match {
    case "count" => LongType
    case "var" | "std" => DoubleType
    case _ if primitive => if (op == "min" || op == "max") child.dataType else DoubleType
    case _ => reference.dataType
  }

  override def createAggregationBuffer(): RollingRing =
    new RollingRing(window, generic = !primitive)

  override def update(ring: RollingRing, input: InternalRow): RollingRing = {
    val v = child.eval(input)
    if (v == null) ring.push(isNull = true, 0.0, null)
    else if (op == "count") ring.push(isNull = false, 0.0, null)
    else if (ring.doubles != null)
      ring.push(isNull = false, v.asInstanceOf[Number].doubleValue, null)
    else ring.push(isNull = false, 0.0, InternalRow.copyValue(v))
    ring
  }

  override def eval(ring: RollingRing): Any =
    if (ring.nonNull < minPeriods) null
    else op match {
      case "count" => ring.nonNull
      case _ if ring.doubles == null => genericFold(ring)
      case "sum" => if (ring.nonNull == 0) null else sumOf(ring, squares = false)
      case "mean" =>
        if (ring.nonNull == 0) null else sumOf(ring, squares = false) / ring.nonNull.toDouble
      case "min" | "max" => extremum(ring, op == "max")
      case _ =>
        val n = ring.nonNull.toDouble
        if (!(n > 1)) null
        else {
          val s = sumOf(ring, squares = false)
          val ss = sumOf(ring, squares = true)
          val a = (ss - s * s / n) / (n - 1.0)
          val v = if (a < 0.0) 0.0 else a
          if (op == "var") v else math.sqrt(v)
        }
    }

  private def sumOf(ring: RollingRing, squares: Boolean): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.size) {
      val j = ring.at(i)
      if (ring.ok(j)) { val x = ring.doubles(j); s += (if (squares) x * x else x) }
      i += 1
    }
    s
  }

  private def extremum(ring: RollingRing, max: Boolean): Any = {
    var best = 0.0
    var found = false
    var i = 0
    while (i < ring.size) {
      val j = ring.at(i)
      if (ring.ok(j)) {
        val x = ring.doubles(j)
        val c = SQLOrderingUtil.compareDoubles(x, best)
        if (!found || (if (max) c > 0 else c < 0)) { best = x; found = true }
      }
      i += 1
    }
    if (found) best else null
  }

  // the reference aggregate's expressions, bound and compiled once per
  // task (interpreted where code generation is off)
  @transient private lazy val genericInit =
    MutableProjection.create(reference.initialValues)
  @transient private lazy val genericUpdate = MutableProjection.create(
    reference.updateExpressions, reference.aggBufferAttributes :+ slot)
  @transient private lazy val genericEval = BindReferences.bindReference(
    reference.evaluateExpression, AttributeSeq(reference.aggBufferAttributes))

  private def genericFold(ring: RollingRing): Any = {
    val buffer = new GenericInternalRow(reference.aggBufferAttributes.length)
    genericInit.target(buffer)(InternalRow.empty)
    genericUpdate.target(buffer)
    val in = new GenericInternalRow(1)
    val joined = new JoinedRow(buffer, in)
    var i = 0
    while (i < ring.size) {
      val j = ring.at(i)
      in.update(0, if (ring.ok(j)) ring.values(j) else null)
      genericUpdate(joined)
      i += 1
    }
    genericEval.eval(buffer)
  }

  override def withNewMutableAggBufferOffset(offset: Int): RollingWindow =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): RollingWindow =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): RollingWindow =
    copy(child = newChild)
}

/** pandas' ewm state over one key's rows in ord order: the mean `m`,
  * the biased second moment `cv`, the weight sums `Σw` and `Σw²`, the
  * old weight `w_old` and the non-null count. Per row, [[step]] runs
  * `aggregations.pyx::ewmcov(x, x)`: before the first value a non-null
  * row seeds `m = x`; after it the weights decay by `1 − α` on every
  * row (`ignoreNa = false`) or on non-null rows only, and a non-null
  * row blends the mean (skipped when `x == m`, as pandas skips it) and
  * the moment. The mean and its weight are pandas' `ewma` state `(y,
  * w)` operation for operation, so one state serves mean, var and std.
  */
final class EwmState(alpha: Double, adjust: Boolean, ignoreNa: Boolean) {
  private val f = 1.0 - alpha
  private val f2 = (1.0 - alpha) * (1.0 - alpha)
  private val nw = if (adjust) 1.0 else alpha
  private val nw2 = nw * nw
  var m = 0.0
  var mNull = true
  var cv = 0.0
  var swt = 1.0
  var swt2 = 1.0
  var owt = 1.0
  var nobs = 0L

  def step(curNull: Boolean, cur: Double): Unit = {
    if (mNull) {
      // no mean yet: a non-null row seeds (m = x, cv = 0) with the
      // weights undecayed; null rows leave the state untouched
      if (!curNull) { m = cur; mNull = false; cv = 0.0 }
    } else {
      // one decay step per row (absolute positions) or per value
      // (relative positions, ignore_na)
      val decay = !curNull || !ignoreNa
      val swt1 = if (decay) swt * f else swt
      val swt21 = if (decay) swt2 * f2 else swt2
      val owt1 = if (decay) owt * f else owt
      if (!curNull) {
        // Java's == calls NaN unequal to NaN, where Spark's `===` and
        // DuckDB's `=` call it equal: both routes yield NaN, so the
        // skip agrees with the replay on every input
        val mNew = if (cur == m) m else (owt1 * m + nw * cur) / (owt1 + nw)
        val dm = m - mNew
        val dx = cur - mNew
        val cvNew = (owt1 * (cv + dm * dm) + nw * (dx * dx)) / (owt1 + nw)
        val swtO = swt1 + nw
        val swt2O = swt21 + nw2
        val owtO = owt1 + nw
        m = mNew
        cv = cvNew
        if (adjust) { swt = swtO; swt2 = swt2O; owt = owtO }
        else { swt = swtO / owtO; swt2 = swt2O / (owtO * owtO); owt = 1.0 }
      } else { swt = swt1; swt2 = swt21; owt = owt1 }
    }
    if (!curNull) nobs += 1
  }

  /** The ewm mean so far, null before the first value. */
  def mean: Any = if (mNull) null else m

  /** The ewm variance so far (debiased unless `bias`), null while fewer
    * than `minp` values have arrived or the debias denominator is ≤ 0.
    */
  def variance(bias: Boolean, minp: Int): Any =
    if (nobs < minp || mNull) null
    else if (bias) cv
    else {
      val num = swt * swt
      val den = num - swt2
      if (den > 0.0) num / den * cv else null
    }
}

/** pandas-parity ewm mean (`stat = "mean"`) or variance (`"var"`) of a
  * double child over the running frame in ord order: one
  * [[EwmState.step]] per row, so each key costs O(1) state and O(1)
  * work per row. `bias` and `minPeriods` apply to `var` only (see
  * [[graft.operators.Ewm.variance]]).
  */
case class EwmWindow(child: Expression, stat: String, alpha: Double,
    adjust: Boolean, ignoreNa: Boolean, bias: Boolean = false,
    minPeriods: Int = 0, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends RunningWindowAggregate[EwmState] {
  require(stat == "mean" || stat == "var", s"unknown ewm stat: $stat")
  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
  require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")

  override def prettyName: String = s"ewm_$stat"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName needs a double value, got ${child.dataType.catalogString}")

  private val minp = math.max(minPeriods, 1)

  override def createAggregationBuffer(): EwmState =
    new EwmState(alpha, adjust, ignoreNa)

  override def update(state: EwmState, input: InternalRow): EwmState = {
    val v = child.eval(input)
    state.step(v == null, if (v == null) 0.0 else v.asInstanceOf[Double])
    state
  }

  override def eval(state: EwmState): Any =
    if (stat == "mean") state.mean else state.variance(bias, minp)

  override def withNewMutableAggBufferOffset(offset: Int): EwmWindow =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): EwmWindow =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): EwmWindow =
    copy(child = newChild)
}

/** Column-level entry points. Each returns an aggregate that must be
  * placed `.over(w.rowsBetween(Window.unboundedPreceding,
  * Window.currentRow))`.
  */
object WindowExpressions {
  import org.apache.spark.sql.classic.ExpressionUtils

  private def agg(f: RunningWindowAggregate[_]): Column =
    ExpressionUtils.column(f.toAggregateExpression())

  /** [[RollingWindow]]: `op` over the last `window` rows, null while
    * fewer than `minPeriods` of them are non-null.
    */
  def rolling(op: String, value: Column, window: Int, minPeriods: Int): Column =
    agg(RollingWindow(ExpressionUtils.expression(value), op, window, minPeriods))

  /** [[EwmWindow]] with `stat = "mean"`. */
  def ewmMean(value: Column, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean): Column =
    agg(EwmWindow(ExpressionUtils.expression(value.cast(DoubleType)), "mean",
      alpha, adjust, ignoreNa))

  /** [[EwmWindow]] with `stat = "var"`. */
  def ewmVar(value: Column, alpha: Double, adjust: Boolean, ignoreNa: Boolean,
      bias: Boolean, minPeriods: Int): Column =
    agg(EwmWindow(ExpressionUtils.expression(value.cast(DoubleType)), "var",
      alpha, adjust, ignoreNa, bias, minPeriods))
}
