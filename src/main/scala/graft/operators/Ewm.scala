package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WindowExpressions

/** Exponentially weighted mean, variance and std — pandas
  * `GroupBy.ewm(alpha).mean()/var()/std()` with full `adjust` ×
  * `ignore_na` parity (the reference stops at plain rolling windows,
  * `pandas_plus/groupby/numba.py:1520-1910`; ewm is the one classic
  * pandas window family it lacks, added here for surface completeness).
  *
  * Semantics (pandas `_libs/window/aggregations.pyx::ewma`): state is
  * `(y, w)` — the running mean and the accumulated relative weight of
  * everything already blended. Per row, ord-ascending:
  *   - while no value has been seen, a non-null row seeds `y = x`,
  *     `w = 1`; null rows emit null;
  *   - otherwise the old weight decays one step per row when
  *     `ignore_na = false` (absolute positions — nulls still age the
  *     history) but only on non-null rows when `ignore_na = true`
  *     (relative positions);
  *   - a non-null row blends `y' = (w·y + nw·x) / (w + nw)` with
  *     `nw = 1` (adjust) or `nw = α` (recursive), then `w' = w + nw`
  *     (adjust) or `w' = 1`; pandas skips the blend when `x == y`
  *     (the value cannot move), and so do we;
  *   - every row emits the current `y` (nulls carry the last mean).
  *
  * The one deliberate divergence: pandas decays in a single
  * `pow(1-α, deltas)` per observation, we multiply `(1-α)` stepwise —
  * mathematically identical, and stepwise is what an engine-portable
  * replay can pin (`pow` is only faithfully rounded per engine; a
  * chain of `×` is IEEE correctly rounded everywhere, the
  * sample_temperature lesson). Results can differ from pandas by an
  * ulp after long null runs, never in which rows are filled.
  *
  * Scale shape: an ewm is a linear recurrence, sequential per key, and
  * a window over the running frame is exactly a per-key sequential
  * pass: Spark feeds each key's rows in ord order, one update and one
  * evaluate per row. So every op here is ONE window,
  * `when(keysOk, kernel.over(running))` over the input rows, where the
  * kernel ([[org.apache.spark.sql.graft.EwmWindow]]) holds the
  * six-field state of [[org.apache.spark.sql.graft.EwmState]]: O(1)
  * state and work per row, however long a key's history. The window
  * needs the rows clustered by key and sorted by (key, ord): one hash
  * exchange and one sort, and over a [[GroupBy.persisted]] cache,
  * range-partitioned and key-sorted once, no exchange. No rows are
  * collected, so no key's history has to fit one array and the input's
  * other columns stay where they are. A single hot key still runs in
  * one task. No window-rescaling trick survives unbounded spans: the
  * prefix-sum form needs `(1-α)^(-rank)`, which overflows double past
  * `~690/-ln(1-α)` rows, so the honest general path is the recurrence.
  * The known extension for a hot key is the affine-scan form — per-row
  * state maps `(N, D) → (f·N + nw·x, f·D + nw)` compose associatively,
  * so slices can run independently and chain summary-sized carries —
  * at the cost of a different summation order than pandas (no longer
  * bit-equal, hence not the default here).
  */
object Ewm {

  /** pandas' other decay parameterizations, as the α they denote:
    * `span` (α = 2/(span+1)), `com` (α = 1/(1+com)), `halflife`
    * (α = 1 − exp(−ln2/halflife)) — compute once on the driver and
    * pass to [[mean]]/[[variance]], exactly like pandas normalizes
    * internally.
    */
  def alphaFromSpan(span: Double): Double = {
    require(span >= 1.0, s"span must be >= 1, got $span")
    2.0 / (span + 1.0)
  }

  def alphaFromCom(com: Double): Double = {
    require(com >= 0.0, s"com must be >= 0, got $com")
    1.0 / (1.0 + com)
  }

  def alphaFromHalflife(halflife: Double): Double = {
    require(halflife > 0.0, s"halflife must be > 0, got $halflife")
    1.0 - math.exp(-math.log(2.0) / halflife)
  }

  /** See object doc. `ord` must be non-null on every grouped row and
    * unique within each group (it orders the recurrence); value casts
    * to double. The same IEEE operation sequence as the DuckDB replay
    * [[meanSql]].
    */
  def mean(gb: GroupBy, value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      name: String = "ewm_mean"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    running(gb, ord, name)(WindowExpressions.ewmMean(value, alpha, adjust, ignoreNa))
  }

  /** The shape [[mean]] and [[variance]] share: ONE window over the
    * running frame of each key in ord order, `when(keysOk, kernel)`, so
    * null-key rows that `gb.base` drops come out with a null output.
    * Output columns: the keys, the input's other columns in order, then
    * `name`.
    */
  private def running(gb: GroupBy, ord: Column, name: String)(
      kernel: Column): DataFrame = {
    val checkedOrd = when(gb.keysOk && ord.isNull, raise_error(lit(
      "graft: ewm requires a non-null ord on every grouped row")))
      .otherwise(ord)
    val w = Window.partitionBy(gb.keyCols: _*).orderBy(checkedOrd)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rest = gb.dfWithKeys.columns.toSeq.filterNot(gb.keyNames.contains)
    gb.dfWithKeys.select(gb.keyCols ++ rest.map(c => col(s"`$c`")) :+
      when(gb.keysOk, kernel.over(w)).as(name): _*)
  }

  /** Exponentially weighted variance — pandas `ewm(alpha).var()`
    * (`aggregations.pyx::ewmcov` with x = y), same `adjust` ×
    * `ignore_na` parity and window shape as [[mean]]. State per key is
    * `(mean, cov, Σw, Σw², w_old, nobs)`; per non-null row the three
    * weight sums decay stepwise, the mean blends (skipping the no-op
    * blend like pandas), and the biased second moment updates as
    *   cov' = (w·(cov + (m_old − m)²) + nw·(x − m)²) / (w + nw).
    * Each row emits the debiased value `Σw² / (Σw² − Σw²ᵢ) · cov`
    * (`bias = true` emits cov itself), null while fewer than
    * `max(minPeriods, 1)` values have arrived or when the debias
    * denominator is ≤ 0 (a single value has no spread). Bit-exact
    * replay via [[varianceSql]].
    */
  def variance(gb: GroupBy, value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0,
      name: String = "ewm_var"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")
    running(gb, ord, name)(WindowExpressions.ewmVar(value, alpha, adjust,
      ignoreNa, bias, minPeriods))
  }

  /** `sqrt` of [[variance]] — pandas `ewm(alpha).std()`. */
  def std(gb: GroupBy, value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0,
      name: String = "ewm_std"): DataFrame = {
    val v = variance(gb, value, ord, alpha, adjust, ignoreNa, bias,
      minPeriods, name)
    v.withColumn(name, sqrt(col(name)))
  }

  /** DuckDB replay of [[variance]]: the same recursive-CTE shape as
    * [[meanSql]] but stepping the full `(m, cv, Σw, Σw², w_old, nobs)`
    * state, with the decayed weights and blended mean staged in
    * nested subqueries so every intermediate is computed once — the
    * identical IEEE operation sequence, hence bit-exact for dyadic
    * alphas. The debiasing ratio is applied in the final projection
    * (it is a pure function of the state).
    */
  def varianceSql(srcSql: String, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean, bias: Boolean = false, minPeriods: Int = 0,
      out: String = "ewm_var"): String = {
    val f = s"CAST(${1.0 - alpha} AS DOUBLE)"
    val f2 = s"CAST(${(1.0 - alpha) * (1.0 - alpha)} AS DOUBLE)"
    val nwD = if (adjust) 1.0 else alpha
    val nw = s"CAST($nwD AS DOUBLE)"
    val nw2 = s"CAST(${nwD * nwD} AS DOUBLE)"
    val minp = math.max(minPeriods, 1)
    def dec(base: String, factor: String): String =
      if (ignoreNa) s"CASE WHEN v IS NOT NULL THEN $base * $factor ELSE $base END"
      else s"$base * $factor"
    // post-observation weight sums under each adjust rule
    val (swtO, swt2O, owtO) =
      if (adjust) (s"(swt1 + $nw)", s"(swt21 + $nw2)", s"(owt1 + $nw)")
      else (s"((swt1 + $nw) / (owt1 + $nw))",
        s"((swt21 + $nw2) / ((owt1 + $nw) * (owt1 + $nw)))", "1.0")
    val debias =
      if (bias) "cv"
      else "CASE WHEN swt * swt - swt2 > 0 THEN " +
        s"swt * swt / (swt * swt - swt2) * cv END"
    s"""WITH RECURSIVE ev AS (
       |  SELECT k, rid, CAST(v AS DOUBLE) AS v,
       |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY o) AS rn
       |  FROM ($srcSql)),
       | st AS (
       |  SELECT k, rid, rn, v AS m, CAST(0.0 AS DOUBLE) AS cv,
       |    CAST(1.0 AS DOUBLE) AS swt, CAST(1.0 AS DOUBLE) AS swt2,
       |    CAST(1.0 AS DOUBLE) AS owt,
       |    CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS nobs
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT k, rid, rn,
       |    CASE WHEN m0 IS NULL THEN v
       |         WHEN v IS NULL THEN m0 ELSE mn END,
       |    CASE WHEN m0 IS NULL THEN (CASE WHEN v IS NOT NULL THEN 0.0 ELSE cv0 END)
       |         WHEN v IS NULL THEN cv0
       |         ELSE (owt1 * (cv0 + (m0 - mn) * (m0 - mn))
       |               + $nw * ((v - mn) * (v - mn))) / (owt1 + $nw) END,
       |    CASE WHEN m0 IS NULL THEN swt0
       |         WHEN v IS NULL THEN swt1 ELSE $swtO END,
       |    CASE WHEN m0 IS NULL THEN swt20
       |         WHEN v IS NULL THEN swt21 ELSE $swt2O END,
       |    CASE WHEN m0 IS NULL THEN owt0
       |         WHEN v IS NULL THEN owt1 ELSE $owtO END,
       |    nobs + CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END
       |  FROM (
       |    SELECT *, CASE WHEN v = m0 THEN m0
       |      ELSE (owt1 * m0 + $nw * v) / (owt1 + $nw) END AS mn
       |    FROM (
       |      SELECT e.k, e.rid, e.rn, e.v, s.m AS m0, s.cv AS cv0,
       |        s.swt AS swt0, s.swt2 AS swt20, s.owt AS owt0, s.nobs,
       |        ${dec("s.swt", f)} AS swt1,
       |        ${dec("s.swt2", f2)} AS swt21,
       |        ${dec("s.owt", f)} AS owt1
       |      FROM st s JOIN ev e ON e.k = s.k AND e.rn = s.rn + 1)))
       |SELECT rid, CASE WHEN nobs >= $minp AND m IS NOT NULL
       |  THEN $debias END AS $out
       |FROM st""".stripMargin
  }

  /** DuckDB replay of [[mean]] as a linear RECURSIVE CTE stepping
    * `rn → rn+1` per key (the pack_sequences pattern): the identical
    * seed / stepwise-decay / blend arithmetic, so results are
    * bit-exact (α and 1−α must be exactly representable doubles —
    * pick dyadic gate alphas). `srcSql` must yield
    * `(k, rid, o, v)`: key, output row id, order, double value.
    */
  def meanSql(srcSql: String, alpha: Double, adjust: Boolean,
      ignoreNa: Boolean, out: String = "ewm_mean"): String = {
    val f = s"CAST(${1.0 - alpha} AS DOUBLE)"
    val nw = s"CAST(${if (adjust) 1.0 else alpha} AS DOUBLE)"
    // the decayed old weight, inlined (SQL cannot bind a local)
    def w1(v: String, w: String) =
      if (ignoreNa) s"CASE WHEN $v IS NOT NULL THEN $w * $f ELSE $w END"
      else s"$w * $f"
    // the anchor row's types become the recursion's types — cast both
    // state columns to DOUBLE or a decimal-typed source truncates
    // every subsequent round
    s"""WITH RECURSIVE ev AS (
       |  SELECT k, rid, CAST(v AS DOUBLE) AS v,
       |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY o) AS rn
       |  FROM ($srcSql)),
       | st AS (
       |  SELECT k, rid, rn, v AS y,
       |    CAST(CASE WHEN v IS NOT NULL THEN 1.0 ELSE 0.0 END AS DOUBLE) AS w
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.k, e.rid, e.rn,
       |    CASE WHEN s.y IS NULL THEN e.v
       |         WHEN e.v IS NULL THEN s.y
       |         WHEN e.v = s.y THEN s.y
       |         ELSE (${w1("e.v", "s.w")} * s.y + $nw * e.v)
       |              / (${w1("e.v", "s.w")} + $nw) END,
       |    CASE WHEN s.y IS NULL THEN
       |           CASE WHEN e.v IS NOT NULL THEN 1.0 ELSE 0.0 END
       |         WHEN e.v IS NOT NULL THEN
       |           ${if (adjust) s"${w1("e.v", "s.w")} + $nw" else "1.0"}
       |         ELSE ${w1("e.v", "s.w")} END
       |  FROM st s JOIN ev e ON e.k = s.k AND e.rn = s.rn + 1)
       |SELECT rid, y AS $out FROM st""".stripMargin
  }
}
