package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** pandas-parity exponentially weighted mean over one key's sorted
  * row array: input `array<struct<ord, value:double>>` (value at
  * field ordinal 1), output `array<double>` — element i is the ewm
  * mean after row i (null until the first non-null value arrives).
  * See [[graft.operators.Ewm.mean]] for the recurrence contract.
  */
case class EwmMeanFold(child: Expression, alpha: Double, adjust: Boolean,
    ignoreNa: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _)
        if s.length >= 2 && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"EwmMeanFold needs array<struct<ord, value:double>>, got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable

  private val f = 1.0 - alpha
  private val nw = if (adjust) 1.0 else alpha
  // child.dataType is only legal once resolved — defer (withNewChild
  // copies run on the unresolved tree during analysis)
  private lazy val nFields = child.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 2
  }

  /** Shared by eval and the generated code (called via reference). */
  def fold(rows: ArrayData): ArrayData = {
    val n = rows.numElements()
    val out = new Array[Any](n)
    var y = 0.0
    var yNull = true
    var w = 0.0
    var i = 0
    while (i < n) {
      val s = rows.getStruct(i, nFields)
      val curNull = s.isNullAt(1)
      val cur = if (curNull) 0.0 else s.getDouble(1)
      if (yNull) {
        // no mean yet: seed on the first non-null value
        if (!curNull) { y = cur; yNull = false; w = 1.0 } else w = 0.0
      } else {
        // one decay step per row (absolute positions) or per value
        // (relative positions, ignore_na)
        val w1 = if (!curNull || !ignoreNa) w * f else w
        if (!curNull) {
          // pandas skips the no-op blend; Spark's `===` calls NaN
          // equal to NaN, where Java's == does not — both routes
          // yield NaN there, so values agree on every input
          y = if (cur == y) y else (w1 * y + nw * cur) / (w1 + nw)
          w = if (adjust) w1 + nw else 1.0
        } else w = w1
      }
      out(i) = if (yNull) null else java.lang.Double.valueOf(y)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    fold(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ewmMeanFold", this,
        classOf[EwmMeanFold].getName)
      s"${ev.value} = $self.fold($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): EwmMeanFold =
    copy(child = newChild)
}

/** pandas-parity exponentially weighted variance over one key's
  * sorted row array (the [[EwmMeanFold]] treatment applied to
  * `ewmcov(x, x)` — round-14 verdict stretch item 10): input
  * `array<struct<ord, value:double>>`, output `array<double>` —
  * element i is the (debiased unless `bias`) ewm variance after row
  * i, null while fewer than `max(minPeriods, 1)` values have arrived
  * or the debias denominator is ≤ 0. The state recurrence
  * `(m, cv, Σw, Σw², w_old, nobs)` is the declarative fold's
  * arithmetic operation-for-operation — each IEEE `+ − × ÷` in the
  * same order on the same operands (constants `f², nw²` pre-folded
  * exactly as Catalyst constant-folds the `lit(f) * lit(f)` forms) —
  * so results are bit-identical to the declarative form and to the
  * DuckDB replay ([[graft.operators.Ewm.varianceSql]]).
  */
case class EwmVarFold(child: Expression, alpha: Double, adjust: Boolean,
    ignoreNa: Boolean, bias: Boolean, minPeriods: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
  require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _)
        if s.length >= 2 && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"EwmVarFold needs array<struct<ord, value:double>>, got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable

  private val f = 1.0 - alpha
  private val f2 = (1.0 - alpha) * (1.0 - alpha)
  private val nw = if (adjust) 1.0 else alpha
  private val nw2 = nw * nw
  private val minp = math.max(minPeriods, 1)
  private lazy val nFields = child.dataType match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 2
  }

  /** Shared by eval and the generated code (called via reference). */
  def fold(rows: ArrayData): ArrayData = {
    val n = rows.numElements()
    val out = new Array[Any](n)
    var m = 0.0
    var mNull = true
    var cv = 0.0
    var swt = 1.0
    var swt2 = 1.0
    var owt = 1.0
    var nobs = 0L
    var i = 0
    while (i < n) {
      val s = rows.getStruct(i, nFields)
      val curNull = s.isNullAt(1)
      val cur = if (curNull) 0.0 else s.getDouble(1)
      if (mNull) {
        // no mean yet: a non-null row seeds (m = x, cv = 0) with the
        // weights UNDECAYED (the declarative `fresh` branch reads the
        // pre-decay accumulator); null rows leave the state untouched
        if (!curNull) { m = cur; mNull = false; cv = 0.0 }
      } else {
        // one decay step per row (absolute positions) or per value
        // (relative positions, ignore_na)
        val decay = !curNull || !ignoreNa
        val swt1 = if (decay) swt * f else swt
        val swt21 = if (decay) swt2 * f2 else swt2
        val owt1 = if (decay) owt * f else owt
        if (!curNull) {
          // the no-op-blend skip compares like Spark's `===` (NaN ==
          // NaN there, not here) — both routes yield NaN on NaN
          // inputs, so values agree on every input (the EwmMeanFold
          // note)
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
      out(i) =
        if (nobs >= minp && !mNull) {
          if (bias) java.lang.Double.valueOf(cv)
          else {
            val num = swt * swt
            val den = num - swt2
            if (den > 0.0) java.lang.Double.valueOf(num / den * cv) else null
          }
        } else null
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    fold(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val self = ctx.addReferenceObj("ewmVarFold", this,
        classOf[EwmVarFold].getName)
      s"${ev.value} = $self.fold($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): EwmVarFold =
    copy(child = newChild)
}

/** The retired forms of the rolling and ewm operators, kept ONLY as the
  * differential references WindowKernelSpec and DifferentialSpec pin
  * the running-frame kernels ([[RollingWindow]], [[EwmWindow]]) against:
  *
  *   - the bounded-frame rolling aggregates (Spark's `Sum`, `Average`,
  *     `Min`, `Max`, `Count` over `rowsBetween(-(w-1), 0)`, the Σx²
  *     var/std identity, the exact decimal sums and means and the
  *     log-sum product over it), plain and over a masked sub-stream, and
  *     the bounded-frame pair moments of rolling cov and corr;
  *   - the ewm fold: each key's whole rows collected, sorted by ord,
  *     folded by [[EwmMeanFold]] / [[EwmVarFold]] (one native O(n) pass
  *     each) and exploded back out beside their outputs;
  *   - the declarative ewm variance fold, an `aggregate` lambda that
  *     appends each output to an array (O(n²) per key).
  *
  * None of them calls a kernel, and the folds keep their own copy of
  * the recurrence, so a reference stays independent of what it checks.
  * Inputs are a frame whose keys are plain columns.
  */
object WindowTreeForms {
  import org.apache.spark.sql.classic.ExpressionUtils

  def ewmMeanFold(rows: Column, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean): Column =
    ExpressionUtils.column(EwmMeanFold(ExpressionUtils.expression(rows),
      alpha, adjust, ignoreNa))

  def ewmVarFold(rows: Column, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean, bias: Boolean, minPeriods: Int): Column =
    ExpressionUtils.column(EwmVarFold(ExpressionUtils.expression(rows),
      alpha, adjust, ignoreNa, bias, minPeriods))

  private def keysOk(keys: Seq[String], dropNullKeys: Boolean): Column =
    if (dropNullKeys) keys.map(col(_).isNotNull).reduce(_ && _) else lit(true)

  /** The retired shape of `Ewm.mean` / `Ewm.variance`: ONE
    * `groupBy(keys)` collects each grouped row whole — `(__ord, __v,
    * __p)`, where the payload `__p` holds the row's non-key columns —
    * sorts the rows by ord, runs `fold` over them and explodes each
    * payload back out beside its output. Null-key rows that
    * `dropNullKeys` drops come back through a union with a null output.
    * Output columns: the keys, the input's other columns in order, then
    * `name`.
    */
  def ewmFoldRows(df: DataFrame, keys: Seq[String], value: Column,
      ord: Column, name: String, dropNullKeys: Boolean = true)(
      fold: Column => Column): DataFrame = {
    val keyC = keys.map(col)
    val restNames = df.columns.toSeq.filterNot(keys.contains)
    val rest = restNames.map(c => col(s"`$c`"))
    val base = df.filter(keysOk(keys, dropNullKeys))
    val checkedOrd = when(ord.isNull, raise_error(lit(
      "graft: ewm requires a non-null ord on every grouped row")))
      .otherwise(ord)
    val payload = struct(rest: _*)
    val rows = F.collect_list(struct(checkedOrd.as("__ord"),
      value.cast(DoubleType).as("__v"), payload.as("__p")))
    // sort_array compares whole structs, which (ord, value) settle when
    // ord is unique; a payload that cannot be ordered (a map column)
    // sorts through an ord-only comparator instead
    val sorted =
      if (RowOrdering.isOrderable(df.select(payload).schema.head.dataType))
        sort_array(rows)
      else array_sort(rows, (l, r) => {
        val (a, b) = (l.getField("__ord"), r.getField("__ord"))
        when(a < b, -1).when(a > b, 1).otherwise(0)
      })
    val folded = base.groupBy(keyC: _*).agg(sorted.as("__rows"))
      .select(keyC :+ explode(zip_with(col("__rows"), fold(col("__rows")),
        (r, o) => struct(r.getField("__p").as("__p"), o.as(name)))).as("__e"): _*)
      .select(keyC ++ restNames.map(c => col("__e.__p").getField(c).as(c)) :+
        col("__e").getField(name).as(name): _*)
    if (!dropNullKeys) folded
    else folded.union(df.filter(!keysOk(keys, dropNullKeys))
      .select(keyC ++ rest :+ lit(null).cast(DoubleType).as(name): _*))
  }

  def ewmMean(df: DataFrame, keys: Seq[String], value: Column, ord: Column,
      alpha: Double, adjust: Boolean = true, ignoreNa: Boolean = false,
      name: String = "ewm_mean", dropNullKeys: Boolean = true): DataFrame =
    ewmFoldRows(df, keys, value, ord, name, dropNullKeys)(rows =>
      ewmMeanFold(rows, alpha, adjust, ignoreNa))

  def ewmVar(df: DataFrame, keys: Seq[String], value: Column, ord: Column,
      alpha: Double, adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0, name: String = "ewm_var",
      dropNullKeys: Boolean = true): DataFrame =
    ewmFoldRows(df, keys, value, ord, name, dropNullKeys)(rows =>
      ewmVarFold(rows, alpha, adjust, ignoreNa, bias, minPeriods))

  /** `op` of `v` over the bounded frame `rowsBetween(-(window-1), 0)` of
    * `w`, null below `minPeriods` non-null frame values: the aggregates
    * the rolling kernel replaced — var/std by the Σx² identity, with the
    * 0-clamp; `exact` sums, means and Σx² sums through decimals; `prod`
    * as exp(Σ ln|x|) with the zero latch and the parity sign.
    */
  def boundedFrame(op: String, v: Column, window: Int, minPeriods: Int,
      w: org.apache.spark.sql.expressions.WindowSpec,
      exact: Boolean = false): Column = {
    val frame = w.rowsBetween(-(window - 1), Window.currentRow)
    def decSum(c: Column, dec: DecimalType): Column =
      F.sum(c.cast(dec)).over(frame).cast(DoubleType)
    val out = op match {
      case "sum" if exact => decSum(v, DecimalType(28, 6))
      case "mean" if exact =>
        val n = F.count(v).over(frame).cast(DoubleType)
        when(n.isNull || n === 0, lit(null)).otherwise(decSum(v, DecimalType(28, 6)) / n)
      case "sum" => F.sum(v).over(frame)
      case "mean" => F.avg(v).over(frame)
      case "min" => F.min(v).over(frame)
      case "max" => F.max(v).over(frame)
      case "count" => F.count(v).over(frame)
      case "var" | "std" =>
        val vd = v.cast(DoubleType)
        val n = F.count(v).over(frame).cast(DoubleType)
        val (s, ss) =
          if (exact) (decSum(vd, DecimalType(28, 6)), decSum(vd * vd, DecimalType(38, 6)))
          else (F.sum(vd).over(frame), F.sum(vd * vd).over(frame))
        val varC = when(n > 1, greatest((ss - s * s / n) / (n - 1), lit(0.0)))
          .otherwise(lit(null).cast(DoubleType))
        if (op == "var") varC else sqrt(varC)
      case "prod" =>
        val av = v.cast(DoubleType)
        val zeros = F.count(when(av === 0.0, lit(1))).over(frame)
        val negs = F.count(when(av < 0.0, lit(1))).over(frame)
        val sumln = decSum(when(av =!= 0.0, log(abs(av))), DecimalType(38, 8))
        val sign = when(pmod(negs, lit(2L)) === 0, lit(1.0)).otherwise(lit(-1.0))
        when(F.count(av).over(frame) === 0, lit(null).cast(DoubleType))
          .when(zeros > 0, lit(0.0))
          .otherwise(exp(sumln) * sign)
    }
    when(F.count(v).over(frame) >= minPeriods, out)
  }

  /** The retired plain `rollingAgg`: the bounded frame per key. */
  def rolling(df: DataFrame, keys: Seq[String], op: String, value: Column,
      ord: Column, window: Int, minPeriods: Int, name: String = "rolling",
      dropNullKeys: Boolean = true, exact: Boolean = false): DataFrame =
    df.withColumn(name, when(keysOk(keys, dropNullKeys),
      boundedFrame(op, value, window, minPeriods,
        Window.partitionBy(keys.map(col): _*).orderBy(ord), exact)))

  /** The retired masked `rollingAgg`: the bounded frame over the
    * mask-filtered sub-stream, left-joined back on (keys, ord).
    */
  def rollingMasked(df: DataFrame, keys: Seq[String], op: String,
      value: Column, ord: Column, window: Int, minPeriods: Int, mask: Column,
      name: String = "rolling", dropNullKeys: Boolean = true,
      exact: Boolean = false): DataFrame = {
    val keyC = keys.map(col)
    val sub = df.filter(keysOk(keys, dropNullKeys)).filter(mask)
      .select(keyC :+ ord.as("__ord") :+ value.as("__v"): _*)
    val subOut = sub.withColumn(name, boundedFrame(op, col("__v"), window,
        minPeriods, Window.partitionBy(keyC: _*).orderBy(col("__ord")), exact))
      .select(keyC :+ col("__ord") :+ col(name): _*)
    df.withColumn("__ord", ord).join(subOut, keys :+ "__ord", "left").drop("__ord")
  }

  /** The retired `rollingCov` (`stat = "cov"`, divisor `n − ddof`) and
    * `rollingCorr` (`"corr"`): the pair count and the five sums of the
    * pairwise-complete rows over the bounded frame — through decimals
    * when `exact` — finished row-locally, null below `minPeriods` pairs.
    */
  def rollingPair(df: DataFrame, keys: Seq[String], stat: String, x: Column,
      y: Column, ord: Column, window: Int, minPeriods: Int, name: String,
      ddof: Int = 1, exact: Boolean = false,
      dropNullKeys: Boolean = true): DataFrame = {
    val dt = DoubleType
    val frame = Window.partitionBy(keys.map(col): _*).orderBy(ord)
      .rowsBetween(-(window - 1), Window.currentRow)
    val both = when(x.isNotNull && y.isNotNull, lit(1))
    def s(c: Column, dec: DecimalType) =
      if (exact) F.sum(when(both.isNotNull, c.cast(dt)).cast(dec)).over(frame).cast(dt)
      else F.sum(when(both.isNotNull, c.cast(dt))).over(frame)
    val xd = x.cast(dt); val yd = y.cast(dt)
    val n = F.count(both).over(frame).cast(dt)
    val (sx, sy) = (s(xd, DecimalType(28, 6)), s(yd, DecimalType(28, 6)))
    val sxy = s(xd * yd, DecimalType(38, 6))
    val out = stat match {
      case "cov" =>
        when(n > ddof, (sxy - sx * sy / n) / (n - lit(ddof.toDouble)))
          .otherwise(lit(null).cast(dt))
      case "corr" =>
        val cxy = sxy - sx * sy / n
        val cxx = s(xd * xd, DecimalType(38, 6)) - sx * sx / n
        val cyy = s(yd * yd, DecimalType(38, 6)) - sy * sy / n
        when(n >= 2 && cxx > 0 && cyy > 0, cxy / sqrt(cxx * cyy))
          .otherwise(lit(null).cast(dt))
    }
    df.withColumn(name, when(keysOk(keys, dropNullKeys) && n >= minPeriods, out))
  }

  /** The retired declarative fold of `Ewm.variance`: given the sorted
    * `array<struct<__ord, __v:double>>` of one key, returns the per-row
    * output array under the same recurrence as [[EwmVarFold]].
    */
  def varianceOutsDeclarative(rows: Column, alpha: Double,
      adjust: Boolean, ignoreNa: Boolean, bias: Boolean,
      minPeriods: Int): Column = {
    val f = 1.0 - alpha
    val nw = if (adjust) 1.0 else alpha
    val minp = math.max(minPeriods, 1)
    val init = struct(lit(null).cast(DoubleType).as("m"),
      lit(0.0).as("cv"), lit(1.0).as("swt"), lit(1.0).as("swt2"),
      lit(1.0).as("owt"), lit(0L).as("nobs"),
      lit(Array.empty[Double]).cast(ArrayType(DoubleType)).as("outs"))
    F.aggregate(rows, init, (acc, e) => {
      val m = acc.getField("m"); val cv = acc.getField("cv")
      val swt = acc.getField("swt"); val swt2 = acc.getField("swt2")
      val owt = acc.getField("owt"); val nobs = acc.getField("nobs")
      val cur = e.getField("__v")
      val isObs = cur.isNotNull
      val decay = isObs || lit(!ignoreNa)
      val swt1 = when(decay, swt * lit(f)).otherwise(swt)
      val swt21 = when(decay, swt2 * (lit(f) * lit(f))).otherwise(swt2)
      val owt1 = when(decay, owt * lit(f)).otherwise(owt)
      val mNew = when(cur === m, m)
        .otherwise((owt1 * m + lit(nw) * cur) / (owt1 + lit(nw)))
      val dm = m - mNew
      val dx = cur - mNew
      val cvNew = (owt1 * (cv + dm * dm) + lit(nw) * (dx * dx)) /
        (owt1 + lit(nw))
      // post-observation weight sums (adjust keeps them growing;
      // the recursive form renormalizes by the new old_wt)
      val swtO = swt1 + lit(nw); val swt2O = swt21 + lit(nw) * lit(nw)
      val owtO = owt1 + lit(nw)
      val stepped =
        if (adjust) struct(mNew.as("m"), cvNew.as("cv"), swtO.as("swt"),
          swt2O.as("swt2"), owtO.as("owt"))
        else struct(mNew.as("m"), cvNew.as("cv"), (swtO / owtO).as("swt"),
          (swt2O / (owtO * owtO)).as("swt2"), lit(1.0).as("owt"))
      val carried = struct(m.as("m"), cv.as("cv"), swt1.as("swt"),
        swt21.as("swt2"), owt1.as("owt"))
      val fresh = struct(cur.as("m"), lit(0.0).as("cv"), swt.as("swt"),
        swt2.as("swt2"), owt.as("owt"))
      val next = when(m.isNull, when(isObs, fresh).otherwise(
          struct(m.as("m"), cv.as("cv"), swt.as("swt"), swt2.as("swt2"),
            owt.as("owt"))))
        .otherwise(when(isObs, stepped).otherwise(carried))
      val nobsNew = nobs + when(isObs, lit(1L)).otherwise(lit(0L))
      val nswt = next.getField("swt"); val nswt2 = next.getField("swt2")
      val out0 =
        if (bias) next.getField("cv")
        else {
          val num = nswt * nswt
          val den = num - nswt2
          when(den > 0.0, num / den * next.getField("cv"))
        }
      val out = when(nobsNew >= minp && next.getField("m").isNotNull, out0)
      struct(next.getField("m").as("m"), next.getField("cv").as("cv"),
        nswt.as("swt"), nswt2.as("swt2"), next.getField("owt").as("owt"),
        nobsNew.as("nobs"),
        concat(acc.getField("outs"), array(out)).as("outs"))
    }).getField("outs")
  }
}
