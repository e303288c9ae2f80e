package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.WindowExpressions
import org.apache.spark.sql.types.{DecimalType, DoubleType}

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
  * Frames: no op aggregates over a bounded ROWS frame, which Spark
  * re-aggregates on every row. Row-count rolling (`rollingAgg`, cov and
  * corr) places [[org.apache.spark.sql.graft.RollingWindow]], a kernel
  * that keeps the last `window` values itself, over the running frame
  * `rowsBetween(unboundedPreceding, currentRow)`: one update and one
  * evaluate per row. Cumulative ops place Spark's own aggregates over
  * the running frame, RANGE rolling over a value range. All three
  * build the composite statistics from one table of formulas
  * ([[liftAgg]]): the exact decimal sum and mean, the Σx² variance and
  * the log-sum product.
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
  *   - '''Rolling, shift, diff''': masked rows are removed from the
  *     window stream entirely and emit null (`numba.py:1212-1213`); the
  *     window advances only over mask-passing rows. A masked op is the
  *     unmasked op, `sliceWidth` included, run on the mask-filtered
  *     sub-stream and joined back on (keys, ord) by [[onSubStream]]: a
  *     shuffle join, no driver materialization, null-safe on the keys
  *     under `dropNullKeys = false`. It returns the unmasked op's
  *     columns in the same order.
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

  /** Spark's own aggregates over the frame `w`. */
  private def sparkFrame(w: WindowSpec): RollingOps.Frame = { (op, c, minPeriods) =>
    val a = (op match {
      case "sum"   => F.sum(c)
      case "mean"  => F.avg(c)
      case "min"   => F.min(c)
      case "max"   => F.max(c)
      case "count" => F.count(c)
      case other   => sys.error(s"unknown rolling/cumulative op: $other")
    }).over(w)
    if (minPeriods == 0) a else when(F.count(c).over(w) >= minPeriods, a)
  }

  /** `op` of `v` over one frame, null while fewer than `minPeriods`
    * values of `v` in it are non-null: the one formula table of the
    * cumulative, RANGE and ROWS forms. `frame` places the plain
    * aggregates; the rest are built from them, with `exact` summing
    * through decimals (see [[graft.functions.Num]]) — running double
    * sums are association-order-dependent and differ across
    * engines/partitionings in the last ulps; exact mode removes that.
    */
  private def liftAgg(op: String, v: Column, exact: Boolean, minPeriods: Int,
      frame: RollingOps.Frame): Column = {
    val dt = DoubleType
    def agg(o: String, c: Column): Column = frame(o, c, 0)
    def decSum(c: Column, dec: DecimalType): Column = agg("sum", c.cast(dec)).cast(dt)
    val n = agg("count", v)
    def gated(out: Column): Column =
      if (minPeriods == 0) out else when(n >= minPeriods, out)
    op match {
      case "sum" if exact => gated(decSum(v, Num.SumDec))
      case "mean" if exact => gated(Num.safeDiv(decSum(v, Num.SumDec), n.cast(dt)))
      case "var" | "std" =>
        // pandas rolling var/std (ddof=1) via the Σx² identity over the
        // frame. Exact mode accumulates both sums through decimals so
        // the statistic is partitioning- and engine-independent; the
        // closing arithmetic is fixed-order row-local IEEE double. The
        // 0-clamp absorbs the tiny negative cancellation residue a
        // constant-valued window can produce (pandas clamps the same
        // way internally before its sqrt).
        val vd = v.cast(dt)
        val nd = n.cast(dt)
        val (s, ss) =
          if (exact) (decSum(vd, Num.SumDec), decSum(vd * vd, Num.MomentDec))
          else (agg("sum", vd), agg("sum", vd * vd))
        val varC = when(nd > 1, greatest((ss - s * s / nd) / (nd - 1), lit(0.0)))
          .otherwise(lit(null).cast(dt))
        gated(if (op == "var") varC else sqrt(varC))
      case "prod" =>
        // running/windowed product via exp(Σ ln|x|)·(−1)^#neg with a
        // zero latch — the [[GroupBy]] "prod" formula lifted over the
        // frame; null before the first non-null value (house cumulative
        // rule: null values carry the running product)
        val av = v.cast(dt)
        val zeros = agg("count", when(av === 0.0, lit(1)))
        val negs = agg("count", when(av < 0.0, lit(1)))
        val sumln = decSum(when(av =!= 0.0, log(abs(av))), Num.DotDec)
        val sign = when(pmod(negs, lit(2L)) === 0, lit(1.0)).otherwise(lit(-1.0))
        gated(when(agg("count", av) === 0, lit(null).cast(dt))
          .when(zeros > 0, lit(0.0))
          .otherwise(exp(sumln) * sign))
      case _ => frame(op, v, minPeriods)
    }
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
      val out0 = liftAgg(op, v, exact, 0, sparkFrame(cum))
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
    require(!Seq("sum", "mean").contains(op) || exact,
      s"sliceWidth cum $op needs exact=true: the injected prefix is an " +
        "aggregate, and double running sums re-associate under slicing")
    import RollingOps.{SliceOrd => o, SliceValue => v, Slice => sl}
    val cw = "__graft_cw"; val nw = "__graft_nw"
    val vRaw = mask.map(m => when(m, value)).getOrElse(value)
    val decimal = exact && (op == "sum" || op == "mean")
    val nullFlag = mask.map(m => m && value.isNull).getOrElse(value.isNull)
    val native = slicePrologue(ord, wdt,
      v -> (if (decimal) vRaw.cast(Num.SumDec) else vRaw),
      cw -> when(vRaw.isNotNull, 1L).otherwise(0L),
      nw -> when(nullFlag, 1L).otherwise(0L))
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
    val carries = partials
      .withColumn("__pv", prefixV)
      .withColumn("__pc", F.sum(col("__c")).over(pwf))
      .withColumn("__pn", F.sum(col("__n")).over(pwf))
      // the prefix's own max ord: strictly below this slice's range, so
      // the injected row sorts first; null ord never arises (required
      // non-null) and rn=1 slices (no predecessor) are dropped
      .withColumn("__po", F.max(col("__mo")).over(pwf))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") > 1)
    val cum = Window.partitionBy(keySl: _*).orderBy(col(o))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the value count is the running sum of the count weights, which
    // the injected row's prefix count enters whole
    val out0 = liftAgg(op, col(v), exact, 0, { (agg, c, _) =>
      if (agg == "count") F.sum(col(cw)).over(cum) else sparkFrame(cum)(agg, c, 0)
    })
    val out = if (skipNa) out0 else when(F.sum(col(nw)).over(cum) === 0, out0)
    sliceEpilogue(native, carries,
      Seq(col("__po").as(o), col("__pv").cast(native.schema(v).dataType).as(v),
        coalesce(col("__pc"), lit(0L)).as(cw), coalesce(col("__pn"), lit(0L)).as(nw)),
      name, when(keysOk, out))
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
    * the shift stream (`numba.py:1533-1583`): the unmasked shift of the
    * mask-filtered sub-stream ([[onSubStream]]). `sliceWidth`: hot-key
    * lever (see [[rollingAgg]]) — a lag reaches at most n rows back
    * (lead: forward), so slices inject n boundary rows.
    */
  def shift(value: Column, ord: Column, n: Int = 1,
      mask: Option[Column] = None, name: String = "shift",
      sliceWidth: Option[Long] = None): DataFrame =
    shifted(value, ord, n, mask, name, sliceWidth)((_, lagged) => lagged)

  /** `x[i] − x[i−n]` within group (reference `core.py:1840-1889`).
    * Masked and `sliceWidth` forms as in [[shift]].
    */
  def diff(value: Column, ord: Column, n: Int = 1,
      mask: Option[Column] = None, name: String = "diff",
      sliceWidth: Option[Long] = None): DataFrame =
    shifted(value, ord, n, mask, name, sliceWidth)(_ - _)

  /** `out(v, v shifted by n)` per row: the machinery of [[shift]] and
    * [[diff]].
    */
  private def shifted(value: Column, ord: Column, n: Int, mask: Option[Column],
      name: String, sliceWidth: Option[Long])(out: (Column, Column) => Column): DataFrame = {
    def lagged(v: Column, w: WindowSpec): Column =
      if (n >= 0) lag(v, n).over(w) else lead(v, -n).over(w)
    (mask, sliceWidth) match {
      case (Some(m), _) =>
        onSubStream(value, ord, m, name) { sub =>
          sub.shifted(col(RollingOps.SubValue), col(RollingOps.SubOrd), n, None,
            name, sliceWidth)(out)
        }
      case (None, Some(wdt)) =>
        slicedStream(value, ord, math.abs(n), wdt, forward = n < 0, name) {
          (v, w) => when(keysOk, out(v, lagged(v, w)))
        }
      case (None, None) =>
        gb.dfWithKeys.withColumn(name, when(keysOk,
          out(value, lagged(value, Window.partitionBy(gb.keyCols: _*).orderBy(ord)))))
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
      .withColumn(name, Num.safeDiv(
        value.cast("double") - col(tmp).cast("double"),
        col(tmp).cast("double")))
      .drop(tmp)
  }

  // -------------------------------------------------------------- rolling

  /** Rolling aggregate over the last `window` rows per group;
    * `minPeriods` (default = window; 0 ≤ minPeriods ≤ window, as pandas
    * requires) counts '''non-null values in the window'''
    * (`numba.py:1240`). The masked variant is the unmasked op over the
    * mask-filtered sub-stream, joined back ([[onSubStream]]) — masked
    * rows are null and do not advance the window.
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
    * sub-stream (a skewed key usually stays skewed after filtering).
    * Output equals the unsplit path (DifferentialSpec).
    *
    * Every shape and op runs [[org.apache.spark.sql.graft.RollingWindow]]
    * over the running frame: one update and one evaluate per row, where
    * a bounded ROWS frame re-aggregates all `window` frame rows on every
    * row. The kernel re-folds its ring of the last `window` values in
    * the bounded frame's update order, so outputs are bit-identical to
    * it (WindowKernelSpec). The kernel folds a double var/std itself;
    * `exact = true` (decimal sums, and var/std over them) and `prod`
    * (log sums) are [[liftAgg]]'s formulas over the kernel's sums and
    * counts.
    */
  def rollingAgg(op: String, value: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None, mask: Option[Column] = None,
      name: String = "rolling", exact: Boolean = false,
      sliceWidth: Option[Long] = None): DataFrame = {
    val mp = RollingOps.minPeriodsIn(window, minPeriods)
    // `v` over the ord-ascending window `w`: kernels over its running
    // frame. The kernel folds a double var/std itself, in one ring where
    // liftAgg's formula holds three (half the time at window 50)
    def agg(v: Column, w: WindowSpec): Column = {
      val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def kernel(o: String, c: Column, m: Int): Column =
        WindowExpressions.rolling(o, c, window, m).over(running)
      if (!exact && (op == "var" || op == "std")) kernel(op, v.cast(DoubleType), mp)
      else liftAgg(op, v, exact, mp, kernel)
    }
    (mask, sliceWidth) match {
      case (Some(m), _) =>
        onSubStream(value, ord, m, name) { sub =>
          sub.rollingAgg(op, col(RollingOps.SubValue), col(RollingOps.SubOrd),
            window, Some(mp), None, name, exact, sliceWidth)
        }
      case (None, Some(wdt)) =>
        slicedStream(value, ord, window - 1, wdt, forward = false, name) {
          (v, w) => when(keysOk, agg(v, w))
        }
      case (None, None) =>
        gb.dfWithKeys.withColumn(name, when(keysOk,
          agg(value, Window.partitionBy(gb.keyCols: _*).orderBy(ord))))
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
    * the Funnel timestamp rule); the masked form is the unmasked op on
    * the mask-filtered sub-stream, exactly like the row-count form.
    * Same scale shape as every window op: one hash exchange by key, one
    * sort. Cost per row grows with the frame: Spark's window exec
    * re-aggregates a bounded RANGE frame on every row whose bounds
    * move, and no running-frame kernel covers RANGE frames yet (the
    * rows a time span holds vary per row).
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
      case Some(m) =>
        onSubStream(value, ord, m, name) { sub =>
          sub.rollingAggRange(op, col(RollingOps.SubValue), col(RollingOps.SubOrd),
            span, minPeriods, None, closed, name, exact)
        }
      case None =>
        val frame = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
          .rangeBetween(lo, hi)
        gb.dfWithKeys.withColumn(name,
          when(keysOk, liftAgg(op, value, exact, minPeriods, sparkFrame(frame))))
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
      out: (Column, WindowSpec) => Column): DataFrame = {
    import RollingOps.{SliceOrd => o, SliceValue => v, Slice => sl}
    val native = slicePrologue(ord, wdt, v -> value)
    val carries = if (lim == 0) {
      // a frame that never leaves the current row needs no injection
      native.limit(0).withColumn("__t", struct(col(o).as("o"), col(v).as("v")))
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
      tailAgg
        .withColumn("__prev",
          sort_array(flatten(F.collect_list(col("__tail")).over(sw))))
        .filter(F.size(col("__prev")) > 0)
        .withColumn("__keep",
          if (forward) F.slice(col("__prev"), 1, lim)
          else when(F.size(col("__prev")) <= lim, col("__prev"))
            .otherwise(F.slice(col("__prev"), -lim, lim)))
        .select(gb.keyCols ++ Seq(col(sl), explode(col("__keep")).as("__t")): _*)
    }
    sliceEpilogue(native, carries,
      Seq(col("__t").getField("o").as(o), col("__t").getField("v").as(v)),
      name, out(col(v), Window.partitionBy(gb.keyCols :+ col(sl): _*).orderBy(col(o))))
  }

  /** The slice prologue of the skew-split ops ([[slicedStream]],
    * [[cumSliced]]): [[GroupBy.dfWithKeys]] plus the checked ord, the
    * given value columns, the slice index `⌊ord / wdt⌋` and the
    * injected-row flag, 0 on these native rows.
    */
  private def slicePrologue(ord: Column, wdt: Long,
      values: (String, Column)*): DataFrame = {
    require(wdt > 0, s"sliceWidth must be positive, got $wdt")
    import RollingOps.{SliceOrd, Slice, Injected}
    values.foldLeft(gb.dfWithKeys.withColumn(SliceOrd, checkedOrd(ord))) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.withColumn(Slice, Num.floorDiv(col(SliceOrd), wdt))
      .withColumn(Injected, lit(0))
  }

  /** The slice epilogue: one injected row per `carries` row — its keys
    * and slice, the prologue's columns from `set`, every other input
    * column null — unioned into `native`; `out` over both as column
    * `name`; then the injected rows and the prologue's columns dropped.
    */
  private def sliceEpilogue(native: DataFrame, carries: DataFrame,
      set: Seq[Column], name: String, out: Column): DataFrame = {
    import RollingOps.{Slice, Injected}
    val input = gb.dfWithKeys.columns.toSeq
    val injected = carries.select(
      gb.keyNames.map(col) ++
        input.filterNot(gb.keyNames.contains)
          .map(c => lit(null).cast(native.schema(c).dataType).as(c)) ++
        set :+ col(Slice) :+ lit(1).as(Injected): _*)
    native.unionByName(injected.select(native.columns.map(col): _*))
      .withColumn(name, out)
      .filter(col(Injected) === 0)
      .drop(native.columns.filterNot(input.contains): _*)
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
    * counts those pairs (default = window, at most window); null when
    * pairs ≤ ddof. The pair count and the five sums are
    * [[org.apache.spark.sql.graft.RollingWindow]]s over the running
    * frame, like every [[rollingAgg]] form — no bounded frame — and are
    * built and finished by the same [[graft.functions.Num.pairMoments]]
    * as the grouped [[GroupBy.cov]].
    *
    * `exact = true` accumulates the pair moments in decimal —
    * bit-identical replay, the oracle-gate path. The default is plain
    * double sums (the grouped [[GroupBy.cov]] twin's round-11
    * treatment): the kernel folds each window oldest to newest, so the
    * double path here is RUN-deterministic — exact only buys decimal
    * (order-free) arithmetic for cross-engine bit equality.
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
    pairMomentWindow(x, y, ord, window, minPeriods, name, exact)(_.cov(ddof))

  /** Rolling pairwise Pearson correlation (pandas `rolling().corr()`
    * for one pair): null when either marginal variance of the frame's
    * pairwise-complete rows is non-positive or pairs < 2 (pandas NaN
    * → this library's null). See [[rollingCov]] for the float policy
    * and the `exact` knob (double-fast default, decimal twin).
    */
  def rollingCorr(x: Column, y: Column, ord: Column, window: Int,
      minPeriods: Option[Int] = None,
      name: String = "rolling_corr", exact: Boolean = false): DataFrame =
    pairMomentWindow(x, y, ord, window, minPeriods, name, exact)(_.corr)

  /** [[rollingCov]] / [[rollingCorr]]: the pair count and five sums of
    * [[graft.functions.Num.pairMoments]] — the builder the grouped
    * [[GroupBy.cov]] / [[GroupBy.corr]] use — each a
    * [[org.apache.spark.sql.graft.RollingWindow]] over the running
    * frame, null below `minPeriods` pairs, finished row-locally by `f`.
    */
  private def pairMomentWindow(x: Column, y: Column, ord: Column,
      window: Int, minPeriods: Option[Int], name: String, exact: Boolean)(
      f: Num.PairMoments => Column): DataFrame = {
    val mp = RollingOps.minPeriodsIn(window, minPeriods)
    val running = Window.partitionBy(gb.keyCols: _*).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = Num.pairMoments(x, y, when(x.isNotNull && y.isNotNull, lit(1)), exact) {
      (op, c) => WindowExpressions.rolling(op, c, window, 0).over(running)
    }
    gb.dfWithKeys.withColumn(name, when(keysOk && m.n >= mp, f(m)))
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

  /** A masked op: `run` computes the unmasked op (its `sliceWidth` form
    * included) on a [[RollingOps]] over the mask-filtered sub-stream of
    * (keys, [[RollingOps.SubOrd]], [[RollingOps.SubValue]]), and its
    * column `name` is left-joined back on (keys, ord); masked-out rows
    * emit null. The expression join keeps `dfWithKeys`' column order,
    * which is the unmasked op's. Unless the sub-stream is broadcast,
    * both sides shuffle on (keys, ord): Spark does not take the window
    * stage's hash(keys) layout for that join. Under
    * `dropNullKeys = false` a null key is a group, so the keys join
    * null-safe; Spark then hashes (coalesce(k, default), isnull(k),
    * ord), with the same number of exchanges.
    */
  private def onSubStream(value: Column, ord: Column, mask: Column,
      name: String)(run: RollingOps => DataFrame): DataFrame = {
    import RollingOps.{SubOrd, SubValue}
    val sub = gb.base.filter(mask)
      .select(gb.keyCols :+ ord.as(SubOrd) :+ value.as(SubValue): _*)
    val joinKeys = gb.keyNames :+ SubOrd
    val out = run(new RollingOps(new GroupBy(sub, gb.keyCols, gb.sort, gb.dropNullKeys)))
      .select(joinKeys.map(n => col(n).as(s"__graft_r_$n")) :+ col(name): _*)
    val keyEq: (Column, Column) => Column = if (gb.dropNullKeys) _ === _ else _ <=> _
    val on = gb.keyNames.map(n => keyEq(col(n), col(s"__graft_r_$n"))) :+
      (col(SubOrd) === col(s"__graft_r_$SubOrd"))
    gb.dfWithKeys.withColumn(SubOrd, ord)
      .join(out, on.reduce(_ && _), "left")
      .drop(SubOrd +: joinKeys.map(n => s"__graft_r_$n"): _*)
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

  /** Places aggregate `op` ("sum", "mean", "min", "max" or "count") of a
    * column over one window frame, null while fewer than `minPeriods`
    * of the column's values in the frame are non-null.
    */
  private type Frame = (String, Column, Int) => Column

  /** The ord and value columns of a masked op's sub-stream. */
  private val SubOrd = "__ord"
  private val SubValue = "__v"

  /** The columns the slice prologue adds to the input rows. */
  private val SliceOrd = "__graft_o"
  private val SliceValue = "__graft_v"
  private val Slice = "__graft_slice"
  private val Injected = "__graft_inj"

  /** A row-count window's `minPeriods`: `window` by default, and like
    * pandas' `min_periods` at least 0 and at most `window`.
    */
  private def minPeriodsIn(window: Int, minPeriods: Option[Int]): Int = {
    require(window >= 1, s"window must be >= 1, got $window")
    val mp = minPeriods.getOrElse(window)
    require(mp >= 0, s"min_periods $mp must be >= 0")
    require(mp <= window, s"min_periods $mp must be <= window $window")
    mp
  }
}
