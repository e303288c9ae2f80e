package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.WindowExpressions

/** Grouped rolling / cumulative / positional-shift operators —
  * the reference's `numba.py` window kernels re-expressed as Spark
  * window functions (`/root/reference/pandas_plus/groupby/core.py:
  * 1520-1910`).
  *
  * Ordering: the reference relies on physical row order; Spark has
  * none, so every op takes an explicit `ord` column (SURVEY §7.4).
  * For masked variants `ord` must be unique within each group (it is
  * also the join-back key).
  *
  * Mask semantics (the genuinely tricky parity items, SURVEY §2.3):
  *   - '''Cumulative''': masked rows pass through the previous
  *     accumulator (`numba.py:1663-1667`). A windowed aggregate over
  *     `when(mask, v)` with an unbounded-preceding frame reproduces
  *     this exactly: masked rows contribute nothing but still read
  *     the running value. Likewise null values under `skipNa=true`
  *     carry the accumulator (`numba.py` cumsum docstring:
  *     `[1, nan, 3] → [1, 1, 4]`) — which is precisely what
  *     null-skipping SQL aggregates do. No joins needed.
  *   - '''Rolling''': masked rows are removed from the window stream
  *     entirely and emit null (`numba.py:1212-1213`); the window
  *     advances only over mask-passing rows. Computed on the
  *     filtered sub-stream and joined back on (keys, ord) — a
  *     co-partitioned shuffle join on the same keys, no driver
  *     materialization.
  */
final class RollingOps(val gb: GroupBy) extends AnyVal {

  private def keysOk: Column = gb.keysOk

  /** Materializes `ord` for a sliced path, failing loudly when a
    * grouped row carries a null ord: the slicing machinery would file
    * it under a null slice that receives no carry/prefix injection, so
    * the output would silently diverge from the unsplit path (which
    * sorts nulls first) instead of erroring. Null-KEY rows pass
    * through — they emit null output on every path anyway.
    */
  private def checkedOrd(ord: Column): Column =
    when(keysOk && ord.isNull, raise_error(lit(
      "graft: sliceWidth requires a non-null ord on every grouped row " +
        "(null ords silently diverge from the unsplit path)")))
      .otherwise(ord)

  private def aggOf(op: String, v: Column): Column = op match {
    case "sum"   => F.sum(v)
    case "mean"  => F.avg(v)
    case "min"   => F.min(v)
    case "max"   => F.max(v)
    case "count" => F.count(v)
    case other   => sys.error(s"unknown rolling/cumulative op: $other")
  }

  /** Windowed aggregate with optional order-insensitive decimal
    * accumulation for sum/mean (see [[graft.functions.Num]]) — running
    * double sums are association-order-dependent and differ across
    * engines/partitionings in the last ulps; exact mode removes that.
    */
  private def liftAgg(op: String, v: Column, exact: Boolean,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = op match {
    case "sum" if exact =>
      F.sum(v.cast(graft.functions.Num.SumDec)).over(w)
        .cast(org.apache.spark.sql.types.DoubleType)
    case "mean" if exact =>
      graft.functions.Num.safeDiv(
        F.sum(v.cast(graft.functions.Num.SumDec)).over(w)
          .cast(org.apache.spark.sql.types.DoubleType),
        F.count(v).over(w).cast(org.apache.spark.sql.types.DoubleType))
    case "var" | "std" =>
      // pandas rolling var/std (ddof=1) via the Σx² identity over the
      // frame. Exact mode accumulates both sums through decimals so
      // the statistic is partitioning- and engine-independent; the
      // closing arithmetic is fixed-order row-local IEEE double. The
      // 0-clamp absorbs the tiny negative cancellation residue a
      // constant-valued window can produce (pandas clamps the same
      // way internally before its sqrt).
      val dt = org.apache.spark.sql.types.DoubleType
      val vd = v.cast(dt)
      val n = F.count(v).over(w).cast(dt)
      val (s, ss) =
        if (exact)
          (F.sum(vd.cast(graft.functions.Num.SumDec)).over(w).cast(dt),
            F.sum((vd * vd).cast(graft.functions.Num.MomentDec)).over(w).cast(dt))
        else (F.sum(vd).over(w), F.sum(vd * vd).over(w))
      val varC = when(n > 1, greatest((ss - s * s / n) / (n - 1), lit(0.0)))
        .otherwise(lit(null).cast(dt))
      if (op == "var") varC else sqrt(varC)
    case "prod" =>
      // running/windowed product via exp(Σ ln|x|)·(−1)^#neg with a
      // zero latch — the [[GroupBy]] "prod" formula lifted over the
      // frame; null before the first non-null value (house cumulative
      // rule: null values carry the running product)
      val dt = org.apache.spark.sql.types.DoubleType
      val av = v.cast(dt)
      val cnt = F.count(av).over(w)
      val zeros = F.count(when(av === 0.0, lit(1))).over(w)
      val negs = F.count(when(av < 0.0, lit(1))).over(w)
      val sumln = F.sum(when(av =!= 0.0, log(abs(av)))
        .cast(graft.functions.Num.DotDec)).over(w).cast(dt)
      val sign = when(pmod(negs, lit(2L)) === 0, lit(1.0)).otherwise(lit(-1.0))
      when(cnt === 0, lit(null).cast(dt))
        .when(zeros > 0, lit(0.0))
        .otherwise(exp(sumln) * sign)
    case _ => aggOf(op, v).over(w)
  }

  // ------------------------------------------------------------ cumulative

  /** Shared cumulative driver (reference `_cumulative_reduce`,
    * `numba.py:1613-1674`). `skipNa=false` poisons the accumulator
    * from the first (unmasked) null onward, matching the non-nan
    * ScalarFuncs variants (`numba.py:288-296`).
    */
  def cumAgg(op: String, value: Column, ord: Column,
      mask: Option[Column] = None, skipNa: Boolean = true,
      name: String = "cum", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame = sliceWidth match {
    case Some(wdt) =>
      // the sliced carry combines sum/min/max/count partials; second
      // moments (var/std) have no carry representation there yet
      require(!Seq("var", "std", "prod").contains(op),
        s"sliceWidth cum $op is unsupported: the injected prefix carry " +
          "has no representation for this aggregate — run unsplit")
      cumSliced(op, value, ord, mask, skipNa, name, exact, wdt)
    case None =>
      val cum = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val v = mask.map(m => when(m, value)).getOrElse(value)
      val out0 = liftAgg(op, v, exact, cum)
      val out =
        if (skipNa) out0
        else {
          val nullFlag = mask.map(m => m && value.isNull).getOrElse(value.isNull)
          when(F.count(when(nullFlag, lit(1))).over(cum) === 0, out0)
        }
      gb.dfWithKeys.withColumn(name, when(keysOk, out))
  }

  /** Skew-split cumulative (hot-key lever, see [[rollingAgg]]'s
    * `sliceWidth`): rows accumulate inside (key, time-slice)
    * partitions, and each slice's running state is seeded by ONE
    * injected row carrying the combined prefix of all earlier slices —
    * per-slice partial aggregates (sum/min/max, value count, null-flag
    * count) combined with a window over slice summaries, so no full-key
    * pass exists anywhere. Count-shaped aggregates run as weighted sums
    * (an injected row must contribute the whole prefix count, which
    * `count()` cannot), and sum/mean require `exact = true`: the
    * injected prefix is an aggregate, so only order-insensitive decimal
    * accumulation reproduces the unsplit result bit-for-bit (a double
    * running sum re-associates). Requires integral, per-key-unique,
    * non-null `ord`.
    */
  private def cumSliced(op: String, value: Column, ord: Column,
      mask: Option[Column], skipNa: Boolean, name: String, exact: Boolean,
      wdt: Long): DataFrame = {
    require(wdt > 0, s"sliceWidth must be positive, got $wdt")
    require(!Seq("sum", "mean").contains(op) || exact,
      s"sliceWidth cum $op needs exact=true: the injected prefix is an " +
        "aggregate, and double running sums re-associate under slicing")
    val sl = "__graft_slice"; val inj = "__graft_inj"
    val o = "__graft_o"; val v = "__graft_v"
    val cw = "__graft_cw"; val nw = "__graft_nw"
    def fdiv(c: Column): Column =
      ((c.cast("decimal(38,0)") - pmod(c, lit(wdt))) / lit(wdt)).cast("long")
    val vRaw = mask.map(m => when(m, value)).getOrElse(value)
    val decimal = exact && (op == "sum" || op == "mean")
    val vCast = if (decimal) vRaw.cast(graft.functions.Num.SumDec) else vRaw
    val nullFlag = mask.map(m => m && value.isNull).getOrElse(value.isNull)
    val native = gb.dfWithKeys
      .withColumn(o, checkedOrd(ord))
      .withColumn(v, vCast)
      .withColumn(cw, when(vRaw.isNotNull, 1L).otherwise(0L))
      .withColumn(nw, when(nullFlag, 1L).otherwise(0L))
      .withColumn(sl, fdiv(col(o)))
      .withColumn(inj, lit(0))
    val keySl = gb.keyCols :+ col(sl)
    // per-slice partials (non-null-key rows), then the running prefix
    // over slice summaries — one row per occupied slice, tiny per key
    val partials = native.filter(keysOk).groupBy(keySl: _*).agg(
      F.sum(col(v)).as("__s"), F.min(col(v)).as("__mn"),
      F.max(col(v)).as("__mx"), F.sum(col(cw)).as("__c"),
      F.sum(col(nw)).as("__n"), F.max(col(o)).as("__mo"))
    val pw = Window.partitionBy(gb.keyCols: _*).orderBy(col(sl))
    val pwf = pw.rowsBetween(Window.unboundedPreceding, -1)
    val prefixV = op match {
      case "min" => F.min(col("__mn")).over(pwf)
      case "max" => F.max(col("__mx")).over(pwf)
      case _     => F.sum(col("__s")).over(pwf)
    }
    val vType = native.schema(v).dataType
    val others = native.columns
      .filterNot(c => gb.keyNames.contains(c) ||
        Seq(o, v, cw, nw, sl, inj).contains(c))
    val injected = partials
      .withColumn("__pv", prefixV)
      .withColumn("__pc", F.sum(col("__c")).over(pwf))
      .withColumn("__pn", F.sum(col("__n")).over(pwf))
      // the prefix's own max ord: strictly below this slice's range, so
      // the injected row sorts first; null ord never arises (required
      // non-null) and rn=1 slices (no predecessor) are dropped
      .withColumn("__po", F.max(col("__mo")).over(pwf))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") > 1)
      .select(
        gb.keyNames.map(col) ++
          others.map(c => lit(null).cast(native.schema(c).dataType).as(c)) ++
          Seq(col("__po").as(o), col("__pv").cast(vType).as(v),
            coalesce(col("__pc"), lit(0L)).as(cw),
            coalesce(col("__pn"), lit(0L)).as(nw),
            col(sl), lit(1).as(inj)): _*)
    val cum = Window.partitionBy(keySl: _*).orderBy(col(o))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cnt = F.sum(col(cw)).over(cum)
    val out0 = op match {
      case "sum" =>
        F.sum(col(v)).over(cum).cast(org.apache.spark.sql.types.DoubleType)
      case "mean" => graft.functions.Num.safeDiv(
        F.sum(col(v)).over(cum).cast(org.apache.spark.sql.types.DoubleType),
        cnt.cast(org.apache.spark.sql.types.DoubleType))
      case "min"   => F.min(col(v)).over(cum)
      case "max"   => F.max(col(v)).over(cum)
      case "count" => cnt
      case other   => sys.error(s"unknown sliced cumulative op: $other")
    }
    val out = if (skipNa) out0 else when(F.sum(col(nw)).over(cum) === 0, out0)
    native.unionByName(injected.select(native.columns.map(col): _*))
      .withColumn(name, when(keysOk, out))
      .filter(col(inj) === 0)
      .drop(o, v, cw, nw, sl, inj)
  }

  def cumsum(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cumsum",
      exact: Boolean = false, sliceWidth: Option[Long] = None): DataFrame =
    cumAgg("sum", value, ord, mask, skipNa, name, exact, sliceWidth)

  def cummin(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cummin",
      sliceWidth: Option[Long] = None): DataFrame =
    cumAgg("min", value, ord, mask, skipNa, name, sliceWidth = sliceWidth)

  def cummax(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cummax",
      sliceWidth: Option[Long] = None): DataFrame =
    cumAgg("max", value, ord, mask, skipNa, name, sliceWidth = sliceWidth)

  /** 0-based running ordinal per group, counting all rows including
    * null values (reference `cumcount`, `numba.py:1816-1868`; masked
    * rows carry the previous count, leading masked rows yield −1 —
    * kernel-faithful). `sliceWidth`: hot-key lever, see [[cumAgg]].
    */
  def cumcount(ord: Column, mask: Option[Column] = None,
      name: String = "cumcount",
      sliceWidth: Option[Long] = None): DataFrame = sliceWidth match {
    case Some(_) =>
      // counted rows = rows whose `counted` is non-null; the sliced
      // count op counts exactly those, and the -1 survives the
      // keysOk-null passthrough (null - 1 = null)
      val counted = mask.map(m => when(m, lit(1))).getOrElse(lit(1))
      cumAgg("count", counted, ord, None, skipNa = true, name,
        sliceWidth = sliceWidth)
        .withColumn(name, col(name) - 1)
    case None =>
      val cum = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counted = mask.map(m => when(m, lit(1))).getOrElse(lit(1))
      gb.dfWithKeys.withColumn(name,
        when(keysOk, F.count(counted).over(cum) - 1))
  }

  // ------------------------------------------------------------ shift/diff

  /** Lag (n>0) / lead (n<0) within group in `ord` order (reference
    * `core.py:1789-1838`). Masked rows emit null and are skipped by
    * the shift stream (`numba.py:1533-1583`). `sliceWidth`: hot-key
    * lever (see [[rollingAgg]]) — a lag reaches at most n rows back
    * (lead: forward), so slices inject n boundary rows; combined with
    * `mask` it slices the filtered sub-stream ([[maskedSliced]]).
    */
  def shift(value: Column, ord: Column, n: Int = 1,
      mask: Option[Column] = None, name: String = "shift",
      sliceWidth: Option[Long] = None): DataFrame =
    (mask, sliceWidth) match {
      case (Some(m), Some(_)) =>
        maskedSliced(value, ord, m, name) { sub =>
          sub.shift(col("__v"), col("__ord"), n, None, name, sliceWidth)
        }
      case (None, Some(wdt)) =>
        slicedStream(value, ord, math.abs(n), wdt, forward = n < 0, name) {
          (v, w) =>
            when(keysOk,
              if (n >= 0) lag(v, n).over(w) else lead(v, -n).over(w))
        }
      case (None, None) =>
        val w = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
        val e = if (n >= 0) lag(value, n).over(w) else lead(value, -n).over(w)
        gb.dfWithKeys.withColumn(name, when(keysOk, e))
      case (Some(_), None) =>
        subStream(value, ord, mask, name) { (v, w) =>
          if (n >= 0) lag(v, n).over(w.orderBy(col("__ord"))) else lead(v, -n).over(w.orderBy(col("__ord")))
        }
    }

  /** `x[i] − x[i−n]` within group (reference `core.py:1840-1889`).
    * `sliceWidth`: hot-key lever, as in [[shift]].
    */
  def diff(value: Column, ord: Column, n: Int = 1,
      mask: Option[Column] = None, name: String = "diff",
      sliceWidth: Option[Long] = None): DataFrame =
    (mask, sliceWidth) match {
      case (Some(m), Some(_)) =>
        maskedSliced(value, ord, m, name) { sub =>
          sub.diff(col("__v"), col("__ord"), n, None, name, sliceWidth)
        }
      case (None, Some(wdt)) =>
        slicedStream(value, ord, math.abs(n), wdt, forward = n < 0, name) {
          (v, w) =>
            when(keysOk,
              v - (if (n >= 0) lag(v, n).over(w) else lead(v, -n).over(w)))
        }
      case (None, None) =>
        val w = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
        val lagged = if (n >= 0) lag(value, n).over(w) else lead(value, -n).over(w)
        gb.dfWithKeys.withColumn(name, when(keysOk, value - lagged))
      case (Some(_), None) =>
        subStream(value, ord, mask, name) { (v, w) =>
          val ww = w.orderBy(col("__ord"))
          v - (if (n >= 0) lag(v, n).over(ww) else lead(v, -n).over(ww))
        }
    }

  /** Fractional change vs the n-back row within group (pandas
    * `pct_change`): `(x[i] − x[i−n]) / x[i−n]` as DOUBLE. Delegates
    * to [[shift]], so the masked form computes over the filtered
    * sub-stream (masked rows null, skipped by the lag) and
    * `sliceWidth` is the same hot-key lever. One deliberate
    * divergence from pandas: a ZERO base yields null, not ±inf —
    * the engine-portable choice (IEEE inf round-trips differently
    * across engines and serializers), and the one this library makes
    * everywhere (see Num.safeDiv).
    */
  def pctChange(value: Column, ord: Column, n: Int = 1,
      mask: Option[Column] = None, name: String = "pct_change",
      sliceWidth: Option[Long] = None): DataFrame = {
    val tmp = Iterator.from(0)
      .map(i => if (i == 0) "__graft_pcbase" else s"__graft_pcbase$i")
      .find(c => !gb.df.columns.contains(c)).get
    shift(value, ord, n, mask, tmp, sliceWidth)
      .withColumn(name, graft.functions.Num.safeDiv(
        value.cast("double") - col(tmp).cast("double"),
        col(tmp).cast("double")))
      .drop(tmp)
  }

  // -------------------------------------------------------------- rolling

  /** Rolling aggregate over the last `window` rows per group;
    * `minPeriods` (default = window) counts '''non-null values in the
    * window''' (`numba.py:1240`). Masked variant computes over the
    * filtered sub-stream and joins back — masked rows are null and do
    * not advance the window.
    *
    * `sliceWidth` is the hot-key skew lever (the windowed analogue of
    * `GroupBy.aggregateSalted`, same design as `Joins.asof`): the
    * per-key window partition is cut into `sliceWidth`-sized TIME
    * slices, and each slice's frames are completed by injecting the
    * last `window − 1` rows preceding the slice (collected from
    * per-slice tail summaries, never a full-key pass). One hot key
    * then spreads over (time range / sliceWidth) tasks instead of
    * serializing on one. Requires an integral, per-key-unique,
    * non-null `ord`; combined with `mask` it slices the mask-filtered
    * sub-stream ([[maskedSliced]] — a skewed key usually stays skewed
    * after filtering). Output equals the unsplit path
    * (DifferentialSpec).
    *
    * Every shape runs [[org.apache.spark.sql.graft.RollingWindow]] over
    * the running frame: one update and one evaluate per row, where a
    * bounded ROWS frame re-aggregates all `window` frame rows on every
    * row. The kernel re-folds its ring of the last `window` values in
    * the bounded frame's update order, so outputs are bit-identical to
    * it (WindowKernelSpec). `exact = true` (decimal sums) and `prod`
    * (log sums) keep Spark's aggregates over the bounded frame.
    */
  def rollingAgg(op: String, value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val mp = minPeriods.getOrElse(window)
    // `v` over the ord-ascending window `w`: the running-frame kernel,
    // or, for the decimal sums of `exact` and the log sums of `prod`,
    // Spark's aggregates over the bounded frame
    def agg(v: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
      if (exact || op == "prod") {
        val frame = w.rowsBetween(-(window - 1), Window.currentRow)
        when(F.count(v).over(frame) >= mp, liftAgg(op, v, exact, frame))
      } else {
        val vv = if (op == "var" || op == "std") v.cast("double") else v
        WindowExpressions.rolling(op, vv, window, mp)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      }
    (mask, sliceWidth) match {
      case (Some(m), Some(_)) =>
        maskedSliced(value, ord, m, name) { sub =>
          sub.rollingAgg(op, col("__v"), col("__ord"), window, Some(mp),
            None, name, exact, sliceWidth)
        }
      case (None, Some(wdt)) =>
        slicedStream(value, ord, window - 1, wdt, forward = false, name) {
          (v, w) => when(keysOk, agg(v, w))
        }
      case (None, None) =>
        gb.dfWithKeys.withColumn(name, when(keysOk,
          agg(value, Window.partitionBy(gb.keyCols: _*).orderBy(ord))))
      case (Some(_), None) =>
        subStream(value, ord, mask, name) { (v, w) => agg(v, w.orderBy(col("__ord"))) }
    }
  }

  /** Time/value-RANGE rolling aggregate — pandas `rolling("10min")`
    * (offset windows): the frame is every row whose ord lies within
    * `span` of the current row's ord, not a fixed row count, so
    * irregular event spacing gets calendar-true windows. `closed`
    * follows pandas: "right" (default) = `(t−span, t]`, "both" =
    * `[t−span, t]`, "left" = `[t−span, t)`, "neither" = `(t−span, t)`.
    * `minPeriods` defaults to 1 like pandas offset windows (not the
    * row-count form's full-window default). `ord` must be integral
    * (timestamp callers pass `unix_micros(ts)` with `span` in micros —
    * the Funnel timestamp rule); masked rows are removed from the
    * sub-stream and emit null exactly like the row-count form. Same
    * scale shape as every window op: one hash exchange by key, one
    * sort. Cost per row grows with the frame: Spark's window exec
    * re-aggregates a bounded RANGE frame on every row whose bounds
    * move, as it does a bounded ROWS frame, and no running-frame kernel
    * covers RANGE frames yet (the rows a time span holds vary per row).
    */
  def rollingAggRange(op: String, value: Column, ord: Column, span: Long,
      minPeriods: Int = 1, mask: Option[Column] = None,
      closed: String = "right", name: String = "rolling",
      exact: Boolean = false): DataFrame = {
    require(span >= 1, s"span must be >= 1, got $span")
    require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")
    val (lo, hi) = closed match {
      case "right"   => (-(span - 1), 0L)
      case "both"    => (-span, 0L)
      case "left"    => (-span, -1L)
      case "neither" => (-(span - 1), -1L)
      case other => throw new IllegalArgumentException(
        s"closed must be right/both/left/neither, got $other")
    }
    mask match {
      case None =>
        val frame = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
          .rangeBetween(lo, hi)
        gb.dfWithKeys.withColumn(name,
          when(keysOk && F.count(value).over(frame) >= minPeriods,
            liftAgg(op, value, exact, frame)))
      case Some(_) =>
        subStream(value, ord, mask, name) { (v, w) =>
          val frame = w.orderBy(col("__ord")).rangeBetween(lo, hi)
          when(F.count(v).over(frame) >= minPeriods,
            liftAgg(op, v, exact, frame))
        }
    }
  }

  def rollingSumRange(value: Column, ord: Column, span: Long,
      minPeriods: Int = 1, mask: Option[Column] = None,
      closed: String = "right", name: String = "rolling_sum",
      exact: Boolean = false): DataFrame =
    rollingAggRange("sum", value, ord, span, minPeriods, mask, closed,
      name, exact)

  def rollingMeanRange(value: Column, ord: Column, span: Long,
      minPeriods: Int = 1, mask: Option[Column] = None,
      closed: String = "right", name: String = "rolling_mean",
      exact: Boolean = false): DataFrame =
    rollingAggRange("mean", value, ord, span, minPeriods, mask, closed,
      name, exact)

  def rollingMinRange(value: Column, ord: Column, span: Long,
      minPeriods: Int = 1, mask: Option[Column] = None,
      closed: String = "right", name: String = "rolling_min",
      exact: Boolean = false): DataFrame =
    rollingAggRange("min", value, ord, span, minPeriods, mask, closed,
      name, exact)

  def rollingMaxRange(value: Column, ord: Column, span: Long,
      minPeriods: Int = 1, mask: Option[Column] = None,
      closed: String = "right", name: String = "rolling_max",
      exact: Boolean = false): DataFrame =
    rollingAggRange("max", value, ord, span, minPeriods, mask, closed,
      name, exact)

  /** Shared machinery of the row-reaching skew-split ops (sliced
    * rolling / shift / diff): rows are processed inside (key,
    * time-slice) partitions, and every computation that would reach
    * `lim` rows beyond the slice boundary is completed by injected
    * copies of those rows. They come from per-slice tails — each slice
    * keeps its own boundary-nearest `lim` (ord, value) pairs via a
    * window WITHIN the slice, so it parallelizes — concatenated per key
    * in slice order and re-truncated, so a sparse slice correctly pulls
    * rows from several slices back. `forward = true` mirrors everything
    * for lead-shaped ops: slice HEADS are carried to PRECEDING slices.
    * Injected rows sort strictly outside their slice's native ord range
    * (before it backward, after it forward) and are dropped after the
    * window. `out` receives the materialized value column and the
    * (key, slice)-partitioned, ord-ascending window.
    */
  private def slicedStream(value: Column, ord: Column, lim: Int, wdt: Long,
      forward: Boolean, name: String)(
      out: (Column, org.apache.spark.sql.expressions.WindowSpec) => Column): DataFrame = {
    require(wdt > 0, s"sliceWidth must be positive, got $wdt")
    val sl = "__graft_slice"; val inj = "__graft_inj"
    val o = "__graft_o"; val v = "__graft_v"
    // floor division, exact across the long range (see Joins.rangeJoin)
    def fdiv(c: Column): Column =
      ((c.cast("decimal(38,0)") - pmod(c, lit(wdt))) / lit(wdt)).cast("long")
    val native = gb.dfWithKeys
      .withColumn(o, checkedOrd(ord)).withColumn(v, value)
      .withColumn(sl, fdiv(col(o))).withColumn(inj, lit(0))
    val injected = if (lim == 0) {
      // a frame that never leaves the current row needs no injection
      native.limit(0)
    } else {
      val keySl = gb.keyCols :+ col(sl)
      val tw = Window.partitionBy(keySl: _*)
        .orderBy(if (forward) col(o).asc else col(o).desc)
      val tails = native.filter(keysOk)
        .select(keySl :+ col(o) :+ col(v): _*)
        .withColumn("__r", row_number().over(tw))
        .filter(col("__r") <= lim)
      val tailAgg = tails.groupBy(keySl: _*)
        .agg(sort_array(F.collect_list(struct(col(o).as("o"), col(v).as("v"))))
          .as("__tail"))
      // running concat over slice SUMMARIES (one row per occupied
      // slice), truncated to the boundary-nearest lim entries — per-key
      // data volume is slices × lim, not the raw rows
      val sw = Window.partitionBy(gb.keyCols: _*)
        .orderBy(if (forward) col(sl).desc else col(sl).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val carries = tailAgg
        .withColumn("__prev",
          sort_array(flatten(F.collect_list(col("__tail")).over(sw))))
        .filter(F.size(col("__prev")) > 0)
        .withColumn("__keep",
          if (forward) F.slice(col("__prev"), 1, lim)
          else when(F.size(col("__prev")) <= lim, col("__prev"))
            .otherwise(F.slice(col("__prev"), -lim, lim)))
        .select(gb.keyCols ++ Seq(col(sl), explode(col("__keep")).as("__t")): _*)
      val others = native.columns
        .filterNot(c => gb.keyNames.contains(c) || Seq(o, v, sl, inj).contains(c))
      carries.select(
        gb.keyNames.map(col) ++
          others.map(c => lit(null).cast(native.schema(c).dataType).as(c)) ++
          Seq(col("__t").getField("o").as(o), col("__t").getField("v").as(v),
            col(sl), lit(1).as(inj)): _*)
    }
    val w = Window.partitionBy(gb.keyCols :+ col(sl): _*).orderBy(col(o))
    native.unionByName(injected.select(native.columns.map(col): _*))
      .withColumn(name, out(col(v), w))
      .filter(col(inj) === 0)
      .drop(o, v, sl, inj)
  }

  def rollingSum(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_sum", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("sum", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  def rollingMean(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_mean", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("mean", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  def rollingMin(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_min", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("min", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  def rollingMax(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_max", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("max", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  /** Rolling sample variance (pandas `rolling().var()`, ddof=1; null
    * below `minPeriods` or with < 2 non-null values in the frame).
    * Masked sub-stream and `sliceWidth` hot-key semantics come from
    * [[rollingAgg]] like every other rolling op.
    */
  def rollingVar(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_var", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("var", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  /** Rolling sample standard deviation (pandas `rolling().std()`,
    * ddof=1). See [[rollingVar]].
    */
  def rollingStd(value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling_std", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame =
    rollingAgg("std", value, ord, window, minPeriods, mask, name, exact,
      sliceWidth)

  /** Rolling pairwise covariance of `x` and `y` over the last `window`
    * rows (pandas `rolling().cov()` for one pair, ddof=1): only
    * frame rows where BOTH are non-null contribute
    * (pairwise-complete, the [[GroupBy.cov]] rule); `minPeriods`
    * counts those pairs (default = window); null when pairs ≤ ddof.
    *
    * `exact = true` accumulates the pair moments in decimal —
    * bit-identical replay, the oracle-gate path. The default is the
    * plain-double codegen path (the grouped [[GroupBy.cov]] twin's
    * round-11 treatment): window frames accumulate in a deterministic
    * per-partition order anyway, so the double path here is
    * RUN-deterministic — exact only buys decimal (order-free)
    * arithmetic for cross-engine bit equality.
    *
    * CONDITIONING (measured, pinned in RollingSpec "ill-conditioned"):
    * neither path is robust to a large common offset with small
    * variance, and `exact` is NOT the more accurate leg there —
    * decimal buys order-free replay determinism, never conditioning.
    * With unit variance and window 50:
    *   - fast (double): relative arithmetic — ~1e-9 of a centered
    *     reference at offset 1e3, accurate until true moment
    *     cancellation at eps·n·offset² ≈ variance (offset ≳ 4e6·sd),
    *     total breakdown by 1e8 (even the null pattern diverges);
    *   - exact (decimal, scale 6): its fixed ABSOLUTE quantum enters
    *     corr through sx²/n scaled by the offset, so error grows
    *     ∝ offset — already ~2.5e-4 at offset 1e3.
    * Rule: if |mean| ≳ 1e3 × the frame standard deviation, center the
    * series first (subtract any per-key constant; cov/corr are
    * shift-invariant), then either path is accurate.
    */
  def rollingCov(x: Column, y: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, ddof: Int = 1,
      name: String = "rolling_cov", exact: Boolean = false): DataFrame =
    pairMomentWindow(x, y, ord, window, minPeriods, name, exact) {
      (n, sx, sy, sxy, _, _) =>
        when(n > ddof, (sxy - sx * sy / n) / (n - lit(ddof.toDouble)))
          .otherwise(lit(null).cast(org.apache.spark.sql.types.DoubleType))
    }

  /** Rolling pairwise Pearson correlation (pandas `rolling().corr()`
    * for one pair): null when either marginal variance of the frame's
    * pairwise-complete rows is non-positive or pairs < 2 (pandas NaN
    * → this library's null). See [[rollingCov]] for the float policy
    * and the `exact` knob (double-fast default, decimal twin).
    */
  def rollingCorr(x: Column, y: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None,
      name: String = "rolling_corr", exact: Boolean = false): DataFrame =
    pairMomentWindow(x, y, ord, window, minPeriods, name, exact) {
      (n, sx, sy, sxy, sxx, syy) =>
        val cxy = sxy - sx * sy / n
        val cxx = sxx - sx * sx / n
        val cyy = syy - sy * sy / n
        when(n >= 2 && cxx > 0 && cyy > 0, cxy / sqrt(cxx * cyy))
          .otherwise(lit(null).cast(org.apache.spark.sql.types.DoubleType))
    }

  /** Shared frame-scoped pair-moment machinery behind
    * [[rollingCov]]/[[rollingCorr]]: the five frame sums over
    * pairwise-complete rows plus the pair count, finished row-locally
    * by `f`. `exact` picks decimal accumulation (bit-exact replay,
    * oracle path) over the plain-double default — the same twin shape
    * as the grouped [[GroupBy]] `pairMoment`.
    */
  private def pairMomentWindow(x: Column, y: Column, ord: Column,
      window: Int, minPeriods: Option[Int], name: String,
      exact: Boolean = false)(
      f: (Column, Column, Column, Column, Column, Column) => Column): DataFrame = {
    val dt = org.apache.spark.sql.types.DoubleType
    val mp = minPeriods.getOrElse(window)
    val frame = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
      .rowsBetween(-(window - 1), Window.currentRow)
    val both = when(x.isNotNull && y.isNotNull, lit(1))
    def s(c: Column, dec: org.apache.spark.sql.types.DecimalType) =
      if (exact)
        F.sum(when(both.isNotNull, c.cast(dt)).cast(dec)).over(frame).cast(dt)
      else F.sum(when(both.isNotNull, c.cast(dt))).over(frame)
    val xd = x.cast(dt); val yd = y.cast(dt)
    val n = F.count(both).over(frame).cast(dt)
    val stat = f(n, s(xd, graft.functions.Num.SumDec),
      s(yd, graft.functions.Num.SumDec),
      s(xd * yd, graft.functions.Num.MomentDec),
      s(xd * xd, graft.functions.Num.MomentDec),
      s(yd * yd, graft.functions.Num.MomentDec))
    gb.dfWithKeys.withColumn(name, when(keysOk && n >= mp, stat))
  }

  /** Expanding (cumulative) mean — pandas `expanding().mean()`: the
    * [[cumAgg]] machinery with op = mean; masked rows carry the
    * previous value like every cumulative op. `exact = true` for the
    * order-insensitive decimal path (required under `sliceWidth`).
    */
  def cummean(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cummean",
      exact: Boolean = false, sliceWidth: Option[Long] = None): DataFrame =
    cumAgg("mean", value, ord, mask, skipNa, name, exact, sliceWidth)

  /** Expanding sample variance — pandas `expanding().var()` (ddof=1;
    * null below 2 non-null values). No `sliceWidth` form: the sliced
    * carry machinery combines sum/min/max/count partials, not second
    * moments — a hot key's expanding variance needs the (future)
    * moment-carry extension, so the op refuses rather than silently
    * produce a wrong split.
    */
  def cumvar(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cumvar",
      exact: Boolean = false): DataFrame =
    cumAgg("var", value, ord, mask, skipNa, name, exact, None)

  /** Cumulative product (pandas `cumprod` under the house null rule:
    * null/masked rows carry the running product): exp(Σ ln|x|) with a
    * zero latch and parity sign — see the liftAgg "prod" case. Like
    * [[cumvar]], no `sliceWidth` form (the prefix carry has no
    * product representation yet).
    */
  def cumprod(value: Column, ord: Column, mask: Option[Column] = None,
      skipNa: Boolean = true, name: String = "cumprod"): DataFrame =
    cumAgg("prod", value, ord, mask, skipNa, name, exact = false, None)

  /** Compute `build(__v, partitionWindow)` over the mask-filtered
    * sub-stream and left-join the result back on (keys, ord). Both
    * sides shuffle on the same keys, so Catalyst co-partitions the
    * join with the window stage; masked-out rows emit null.
    */
  private def subStream(value: Column, ord: Column, mask: Option[Column],
      name: String)(build: (Column, org.apache.spark.sql.expressions.WindowSpec) => Column): DataFrame = {
    val keyC = gb.keyCols
    val sub = gb.base.filter(mask.get)
      .select(keyC :+ ord.as("__ord") :+ value.as("__v"): _*)
    val w = Window.partitionBy(keyC: _*)
    val subOut = sub
      .withColumn(name, build(col("__v"), w))
      .select(keyC :+ col("__ord") :+ col(name): _*)
    gb.dfWithKeys
      .withColumn("__ord", ord)
      .join(subOut, gb.keyNames :+ "__ord", "left")
      .drop("__ord")
  }

  /** Masked + sliceWidth: the masked variants run on the mask-filtered
    * sub-stream, which can itself be hot-key skewed (a bot-heavy key
    * stays hot after a quality filter). This builds a [[RollingOps]]
    * over that sub-stream — where the whole sliced machinery applies
    * unchanged — lets `run` compute the sliced op on it, and joins the
    * result back on (keys, ord) exactly like [[subStream]]. Same
    * contract as the unmasked sliced paths: integral, per-key-unique,
    * non-null `ord` (on the sub-stream's rows).
    */
  private def maskedSliced(value: Column, ord: Column, mask: Column,
      name: String)(run: RollingOps => DataFrame): DataFrame = {
    val sub = gb.base.filter(mask)
      .select(gb.keyCols :+ ord.as("__ord") :+ value.as("__v"): _*)
    val subOut = run(new RollingOps(
        new GroupBy(sub, gb.keyNames.map(col), gb.sort, gb.dropNullKeys)))
      .select(gb.keyCols :+ col("__ord") :+ col(name): _*)
    gb.dfWithKeys
      .withColumn("__ord", ord)
      .join(subOut, gb.keyNames :+ "__ord", "left")
      .drop("__ord")
  }

  // ------------------------------------------------------------------ fill

  /** Forward-fill nulls within each group — pandas `GroupBy.ffill`:
    * each null row takes the most recent non-null value at or before
    * it in `ord` order; rows before the first valid value stay null.
    * `limit` bounds how far a value propagates (a null more than
    * `limit` rows past the last valid row stays null — pandas limit
    * semantics). ONE window pass (`last(ignoreNulls)` over the
    * cumulative frame; `limit` adds a row-number distance check in
    * the same window stage) — no joins, no second shuffle, and the
    * hot-key story is the ordinary window-exchange one: rows hash by
    * key, each key sorts once.
    */
  def ffill(value: Column, ord: Column, limit: Option[Int] = None,
      name: String = "ffill"): DataFrame =
    fill(value, ord, limit, name, forward = true)

  /** Backward-fill — pandas `GroupBy.bfill`: the mirror of [[ffill]]
    * (next non-null at or after the row; `limit` counts rows forward
    * to that value).
    */
  def bfill(value: Column, ord: Column, limit: Option[Int] = None,
      name: String = "bfill"): DataFrame =
    fill(value, ord, limit, name, forward = false)

  private def fill(value: Column, ord: Column, limit: Option[Int],
      name: String, forward: Boolean): DataFrame = {
    require(limit.forall(_ >= 1), s"limit must be >= 1, got $limit")
    val ordered = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
    val w =
      if (forward) ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled =
      if (forward) F.last(value, ignoreNulls = true).over(w)
      else F.first(value, ignoreNulls = true).over(w)
    val out = limit match {
      case None => filled
      case Some(l) =>
        val rn = row_number().over(ordered)
        val validRn = when(value.isNotNull, rn)
        val dist =
          if (forward) rn - F.max(validRn).over(w)
          else F.min(validRn).over(w) - rn
        when(value.isNotNull, value).when(dist <= l, filled)
    }
    gb.dfWithKeys.withColumn(name, when(keysOk, out))
  }

  /** Linear interpolation of nulls within each group — pandas
    * `interpolate()`: interior nulls take the straight line between
    * the surrounding non-null values, spaced by ROW POSITION
    * (`method = "linear"`, the pandas default) or by the ord values
    * themselves (`method = "index"`); trailing nulls forward-fill
    * from the last value, leading nulls stay null, and `limit` bounds
    * how many consecutive nulls after a valid value are filled — all
    * pandas `limit_direction='forward'` semantics. ONE window stage
    * (six windowed lookups over the same two frames), no joins; for
    * `method = "index"` the ord must be numeric and unique per group.
    */
  def interpolate(value: Column, ord: Column, method: String = "linear",
      limit: Option[Int] = None, name: String = "interp"): DataFrame = {
    require(method == "linear" || method == "index",
      s"method must be linear or index, got $method")
    require(limit.forall(_ >= 1), s"limit must be >= 1, got $limit")
    val ordered = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
    val back = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rn = row_number().over(ordered).cast("double")
    val axis = if (method == "linear") rn else ord.cast("double")
    val validAxis = when(value.isNotNull, axis)
    val prevV = F.last(value, ignoreNulls = true).over(back).cast("double")
    val prevA = F.last(validAxis, ignoreNulls = true).over(back)
    val nextV = F.first(value, ignoreNulls = true).over(fwd).cast("double")
    val nextA = F.first(validAxis, ignoreNulls = true).over(fwd)
    // distance gate is always in ROWS (pandas limit counts nulls, not
    // axis span)
    val prevRn = F.max(when(value.isNotNull, rn)).over(back)
    val withinLimit = limit match {
      case None => lit(true)
      case Some(l) => rn - prevRn <= l
    }
    val interior = prevV + (nextV - prevV) * (axis - prevA) / (nextA - prevA)
    val filled = when(value.isNotNull, value.cast("double"))
      .when(prevV.isNull, lit(null).cast("double")) // leading run
      .when(nextV.isNull, when(withinLimit, prevV)) // trailing: ffill
      .otherwise(when(withinLimit, interior))
    gb.dfWithKeys.withColumn(name, when(keysOk, filled))
  }

  /** Exponentially weighted mean — pandas `ewm(alpha).mean()`, full
    * `adjust` × `ignore_na` parity; see [[Ewm.mean]] (a linear
    * recurrence, stepped once per row by a kernel over the running
    * frame of each key: O(1) state per key, no rows collected).
    */
  def ewmMean(value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      name: String = "ewm_mean"): DataFrame =
    Ewm.mean(gb, value, ord, alpha, adjust, ignoreNa, name)

  /** Exponentially weighted variance / std — pandas
    * `ewm(alpha).var()/std()` (debiased by default); see
    * [[Ewm.variance]].
    */
  def ewmVar(value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0,
      name: String = "ewm_var"): DataFrame =
    Ewm.variance(gb, value, ord, alpha, adjust, ignoreNa, bias,
      minPeriods, name)

  def ewmStd(value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0,
      name: String = "ewm_std"): DataFrame =
    Ewm.std(gb, value, ord, alpha, adjust, ignoreNa, bias,
      minPeriods, name)

  // -------------------------------------------------------- sessionization

  /** Split each group into sub-groups wherever the gap between
    * consecutive (ord-ordered, monotonic) values exceeds `maxDiff` —
    * the reference's `group_nearby_members` (`core.py:1891-1910`,
    * kernel `numba.py:1021-1063`). Emits a 0-based per-group
    * sub-group index (`name`); pair with the group keys for a global
    * identity. The streaming twin is `session_window(ts, gap)`
    * (graft.streaming).
    *
    * `sliceWidth`: hot-key lever, same contract as [[rollingAgg]]
    * (integral, per-key-unique, non-null `ord`). The op decomposes
    * into the two sliced shapes already proven: gap flags via a 1-row
    * lag completed across slice boundaries ([[slicedStream]]), then
    * the running gap count as a sliced cumulative count (one
    * count-weighted prefix row per slice, [[cumAgg]]) — both carries
    * are slice-summary-sized, no full-key pass anywhere.
    */
  def groupNearbyMembers(value: Column, ord: Column, maxDiff: Double,
      name: String = "subgroup",
      sliceWidth: Option[Long] = None): DataFrame = sliceWidth match {
    case Some(wdt) =>
      val flag = "__graft_gap"
      val flagged = slicedStream(value, ord, 1, wdt, forward = false, flag) {
        (v, w) => when(v - lag(v, 1).over(w) > maxDiff, lit(1))
      }
      new RollingOps(new GroupBy(flagged, gb.keyNames.map(col), gb.sort,
          gb.dropNullKeys))
        .cumAgg("count", col(flag), ord, None, skipNa = true, name,
          sliceWidth = sliceWidth)
        .drop(flag)
    case None =>
      val w = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gap = when(value - lag(value, 1).over(w) > maxDiff, lit(1)).otherwise(lit(0))
      gb.dfWithKeys.withColumn(name, when(keysOk, F.sum(gap).over(cum)))
  }
}

object RollingOps {
  import scala.language.implicitConversions
  implicit def toRollingOps(gb: GroupBy): RollingOps = new RollingOps(gb)
}
