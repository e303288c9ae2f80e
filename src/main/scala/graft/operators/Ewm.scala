package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Exponentially weighted mean — pandas `GroupBy.ewm(alpha).mean()`
  * with full `adjust` × `ignore_na` parity (the reference stops at
  * plain rolling windows, `pandas_plus/groupby/numba.py:1520-1910`;
  * ewm is the one classic pandas window family it lacks, added here
  * for surface completeness).
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
  * Scale shape: an ewm is a linear recurrence — irreducibly
  * sequential per key — so this is the funnel pattern: ONE
  * `groupBy(keys)`, a row-local sorted fold over each key's history,
  * and an explode that brings every row back out beside its output.
  * The collected rows are whole rows (ord, value and the input's
  * other columns), so there is no join back on (keys, ord) and no
  * second shuffle; over a [[GroupBy.persisted]] cache, which is
  * range-partitioned and sorted by the keys once, the groupBy itself
  * needs no exchange. Per-key state is that key's whole rows; keys
  * with histories too large for one task should be pre-thinned or
  * time-sessionized first (same contract as Funnel.funnel). No
  * window-rescaling trick survives unbounded spans: the prefix-sum
  * form needs `(1-α)^(-rank)`, which overflows double past
  * `~690/-ln(1-α)` rows, so the honest general path is the fold.
  *
  * Known limit of the fold form: the per-row output append copies the
  * accumulated array, so a SINGLE key's cost is quadratic in its
  * history length — negligible to ~10⁴ rows per key, real beyond.
  * The known extension for extreme histories is the affine-scan
  * form — per-row state maps `(N, D) → (f·N + nw·x, f·D + nw)`
  * compose associatively, so slices can fold independently and chain
  * summary-sized carries — at the cost of a different summation order
  * than pandas (no longer bit-equal, hence not the default here).
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
    * unique within each group (it orders the fold); value casts to
    * double. The per-key fold is ONE native O(n) pass
    * ([[org.apache.spark.sql.graft.EwmMeanFold]]) — the same IEEE
    * operation sequence as the DuckDB replay [[meanSql]].
    */
  def mean(gb: GroupBy, value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      name: String = "ewm_mean"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    foldRows(gb, value, ord, name)(rows =>
      org.apache.spark.sql.graft.FoldExpressions.ewmMeanFold(
        rows, alpha, adjust, ignoreNa))
  }

  /** The shape [[mean]] and [[variance]] share: ONE `groupBy(keys)`
    * collects each grouped row whole — `(__ord, __v, __p)`, where the
    * payload `__p` holds the row's non-key columns — sorts the rows by
    * ord, runs `fold` over them and explodes each payload back out
    * beside its output. Null-key rows that `gb.base` drops come back
    * through a union with a null output. Output columns: the keys, the
    * input's other columns in order, then `name`.
    */
  private def foldRows(gb: GroupBy, value: Column, ord: Column,
      name: String)(fold: Column => Column): DataFrame = {
    val keyC = gb.keyNames.map(col)
    val restNames = gb.dfWithKeys.columns.toSeq.filterNot(gb.keyNames.contains)
    val rest = restNames.map(c => col(s"`$c`"))
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
      if (RowOrdering.isOrderable(gb.dfWithKeys.select(payload).schema.head.dataType))
        sort_array(rows)
      else array_sort(rows, (l, r) => {
        val (a, b) = (l.getField("__ord"), r.getField("__ord"))
        when(a < b, -1).when(a > b, 1).otherwise(0)
      })
    val folded = gb.base.groupBy(keyC: _*).agg(sorted.as("__rows"))
      .select(keyC :+ explode(zip_with(col("__rows"), fold(col("__rows")),
        (r, o) => struct(r.getField("__p").as("__p"), o.as(name)))).as("__e"): _*)
      .select(keyC ++ restNames.map(c => col("__e.__p").getField(c).as(c)) :+
        col("__e").getField(name).as(name): _*)
    if (!gb.dropNullKeys) folded
    else folded.union(gb.dfWithKeys
      .filter(!gb.keyNames.map(col(_).isNotNull).reduce(_ && _))
      .select(keyC ++ rest :+ lit(null).cast(DoubleType).as(name): _*))
  }

  /** Exponentially weighted variance — pandas `ewm(alpha).var()`
    * (`aggregations.pyx::ewmcov` with x = y), same `adjust` ×
    * `ignore_na` parity and fold shape as [[mean]]. State per key is
    * `(mean, cov, Σw, Σw², w_old, nobs)`; per non-null row the three
    * weight sums decay stepwise, the mean blends (skipping the no-op
    * blend like pandas), and the biased second moment updates as
    *   cov' = (w·(cov + (m_old − m)²) + nw·(x − m)²) / (w + nw).
    * Each row emits the debiased value `Σw² / (Σw² − Σw²ᵢ) · cov`
    * (`bias = true` emits cov itself), null while fewer than
    * `max(minPeriods, 1)` values have arrived or when the debias
    * denominator is ≤ 0 (a single value has no spread). Same scale
    * contract as [[mean]]: one groupBy, a sorted fold over each key's
    * whole rows, explode — no join-back; bit-exact replay via
    * [[varianceSql]].
    */
  def variance(gb: GroupBy, value: Column, ord: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false,
      bias: Boolean = false, minPeriods: Int = 0,
      name: String = "ewm_var"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(minPeriods >= 0, s"minPeriods must be >= 0, got $minPeriods")
    // ONE native O(n) pass ([[org.apache.spark.sql.graft.EwmVarFold]]);
    // [[varianceOutsDeclarative]] is retained ONLY as the differential
    // reference (DifferentialSpec pins bit-equality on randomized null
    // patterns; the 6-field state is where operation-order risk
    // concentrates, so the pin is the proof)
    foldRows(gb, value, ord, name)(rows =>
      org.apache.spark.sql.graft.FoldExpressions.ewmVarFold(
        rows, alpha, adjust, ignoreNa, bias, minPeriods))
  }

  /** The pre-round-15 declarative fold of [[variance]] — kept ONLY as
    * the differential reference DifferentialSpec pins
    * [[org.apache.spark.sql.graft.EwmVarFold]] against (the pattern of
    * the retired text tree forms): given the sorted
    * `array<struct<__ord, __v:double>>` of one key, returns the
    * per-row output array under the identical recurrence.
    */
  private[graft] def varianceOutsDeclarative(rows: Column, alpha: Double,
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
