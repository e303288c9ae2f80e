package graft

import graft.operators.{GroupBy, RollingOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kernel-faithful semantics tests for rolling/cumulative ops,
  * mirroring the reference's documented examples
  * (`/root/reference/pandas_plus/groupby/numba.py` cumsum docstring,
  * `numba.py:1663-1667` masked carry, `numba.py:1212-1213` masked
  * rolling, `tests/test_groupby/test_rolling_mask.py`).
  */
class RollingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def df(rows: (Int, Int, Option[Double], Boolean)*): DataFrame =
    rows.toSeq.toDF("ord", "key", "value", "m")

  def ops(d: DataFrame) = new RollingOps(new GroupBy(d, Seq(col("key"))))

  def vals(d: DataFrame, c: String): Seq[Any] =
    d.orderBy("ord").select(c).collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq

  test("cumsum skipNa=true carries the accumulator through nulls (reference doc example)") {
    // [1, nan, 3 | 4, 5, nan] → [1, 1, 4 | 4, 9, 9]
    val d = df((0, 0, Some(1.0), true), (1, 0, None, true), (2, 0, Some(3.0), true),
      (3, 1, Some(4.0), true), (4, 1, Some(5.0), true), (5, 1, None, true))
    assert(vals(ops(d).cumsum(col("value"), col("ord")), "cumsum") ===
      Seq(1.0, 1.0, 4.0, 4.0, 9.0, 9.0))
  }

  test("cumsum skipNa=false poisons from the first null") {
    val d = df((0, 0, Some(1.0), true), (1, 0, None, true), (2, 0, Some(3.0), true))
    assert(vals(ops(d).cumsum(col("value"), col("ord"), skipNa = false), "cumsum") ===
      Seq(1.0, null, null))
  }

  test("masked cumsum passes the previous accumulator through masked rows") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(10.0), false), (2, 0, Some(3.0), true))
    assert(vals(ops(d).cumsum(col("value"), col("ord"),
      mask = Some(col("m"))), "cumsum") === Seq(1.0, 1.0, 4.0))
  }

  test("masked rows before the first unmasked row are null") {
    val d = df((0, 0, Some(9.0), false), (1, 0, Some(1.0), true))
    assert(vals(ops(d).cumsum(col("value"), col("ord"),
      mask = Some(col("m"))), "cumsum") === Seq(null, 1.0))
  }

  test("cumcount counts all rows; masked rows carry; leading masked row is -1") {
    val d = df((0, 0, None, false), (1, 0, Some(1.0), true), (2, 0, None, true))
    assert(vals(ops(d).cumcount(col("ord")), "cumcount") === Seq(0L, 1L, 2L))
    assert(vals(ops(d).cumcount(col("ord"), mask = Some(col("m"))), "cumcount") ===
      Seq(-1L, 0L, 1L))
  }

  test("cummin/cummax with skipNa") {
    val d = df((0, 0, Some(3.0), true), (1, 0, Some(1.0), true), (2, 0, None, true),
      (3, 0, Some(2.0), true))
    assert(vals(ops(d).cummin(col("value"), col("ord")), "cummin") ===
      Seq(3.0, 1.0, 1.0, 1.0))
    assert(vals(ops(d).cummax(col("value"), col("ord")), "cummax") ===
      Seq(3.0, 3.0, 3.0, 3.0))
  }

  test("shift lag/lead within group; masked shift skips masked rows and emits null there") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), false), (2, 0, Some(3.0), true))
    assert(vals(ops(d).shift(col("value"), col("ord"), 1), "shift") ===
      Seq(null, 1.0, 2.0))
    assert(vals(ops(d).shift(col("value"), col("ord"), -1), "shift") ===
      Seq(2.0, 3.0, null))
    // masked: stream is [row0, row2]; row1 emits null; row2's lag is row0
    assert(vals(ops(d).shift(col("value"), col("ord"), 1,
      mask = Some(col("m"))), "shift") === Seq(null, null, 1.0))
  }

  test("diff within group") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(4.0), true), (2, 0, Some(9.0), true))
    assert(vals(ops(d).diff(col("value"), col("ord"), 1), "diff") ===
      Seq(null, 3.0, 5.0))
  }

  test("rolling sum window=2: minPeriods defaults to window; counts non-null in window") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), true), (2, 0, None, true),
      (3, 0, Some(4.0), true))
    // windows: [1]=1 non-null<2→null; [1,2]=3; [2,null]: 1 non-null→null; [null,4]: 1→null
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 2), "rolling_sum") ===
      Seq(null, 3.0, null, null))
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 2,
      minPeriods = Some(1)), "rolling_sum") === Seq(1.0, 3.0, 2.0, 4.0))
  }

  test("rolling mean/min/max") {
    val d = df((0, 0, Some(2.0), true), (1, 0, Some(4.0), true), (2, 0, Some(6.0), true))
    assert(vals(ops(d).rollingMean(col("value"), col("ord"), 2,
      minPeriods = Some(1)), "rolling_mean") === Seq(2.0, 3.0, 5.0))
    assert(vals(ops(d).rollingMin(col("value"), col("ord"), 2,
      minPeriods = Some(1)), "rolling_min") === Seq(2.0, 2.0, 4.0))
    assert(vals(ops(d).rollingMax(col("value"), col("ord"), 2,
      minPeriods = Some(1)), "rolling_max") === Seq(2.0, 4.0, 6.0))
  }

  test("masked rolling: window advances only over masked-in rows; masked rows null") {
    // stream without row1: [1, 3, 4]; window=2 sums: [null(1<2mp), 4, 7]
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(99.0), false),
      (2, 0, Some(3.0), true), (3, 0, Some(4.0), true))
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 2,
      mask = Some(col("m"))), "rolling_sum") === Seq(null, null, 4.0, 7.0))
  }

  test("rolling var/std (ddof=1): hand-computed windows; single-obs frame is null even at minPeriods=1") {
    // values [1, 2, 4]; window=2 mp=2: var = [null, 0.5, 2.0]
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), true), (2, 0, Some(4.0), true))
    assert(vals(ops(d).rollingVar(col("value"), col("ord"), 2), "rolling_var") ===
      Seq(null, 0.5, 2.0))
    assert(vals(ops(d).rollingStd(col("value"), col("ord"), 2), "rolling_std") ===
      Seq(null, math.sqrt(0.5), math.sqrt(2.0)))
    // a null inside the frame: [1, null, 4] window=2 mp=1 — every
    // frame has <2 non-null values, so var is null everywhere (the
    // ddof=1 guard, independent of minPeriods — pandas NaN semantics)
    val dn = df((0, 0, Some(1.0), true), (1, 0, None, true), (2, 0, Some(4.0), true))
    assert(vals(ops(dn).rollingVar(col("value"), col("ord"), 2,
      minPeriods = Some(1)), "rolling_var") === Seq(null, null, null))
    // constant window: exact-zero variance (the 0-clamp), not an ulp residue
    val dc = df((0, 0, Some(3.0), true), (1, 0, Some(3.0), true), (2, 0, Some(3.0), true))
    assert(vals(ops(dc).rollingVar(col("value"), col("ord"), 3,
      minPeriods = Some(2), exact = true), "rolling_var") === Seq(null, 0.0, 0.0))
  }

  test("masked rolling var computes over the filtered sub-stream") {
    // stream without row1: [1, 3, 5]; window=2 vars: [null, 2.0, 2.0]
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(99.0), false),
      (2, 0, Some(3.0), true), (3, 0, Some(5.0), true))
    assert(vals(ops(d).rollingVar(col("value"), col("ord"), 2,
      mask = Some(col("m"))), "rolling_var") === Seq(null, null, 2.0, 2.0))
  }

  test("rolling cov/corr: pairwise-complete frames, minPeriods counts pairs") {
    // x = [1, 2, null, 4], y = [2, 4, 6, 8]; window=3 mp=2
    // frames (pairs): [.]=1, [(1,2),(2,4)], [(1,2),(2,4)], [(2,4),(4,8)]
    val d = Seq(
      (0, 0, Some(1.0), 2.0), (1, 0, Some(2.0), 4.0),
      (2, 0, None, 6.0), (3, 0, Some(4.0), 8.0)
    ).toDF("ord", "key", "x", "y")
    val ops = new RollingOps(new GroupBy(d, Seq(col("key"))))
    val cv = vals(ops.rollingCov(col("x"), col("y"), col("ord"), 3,
      minPeriods = Some(2)), "rolling_cov")
    // cov((1,2),(2,4)) = ((1-1.5)(2-3)+(2-1.5)(4-3))/1 = 1.0
    // cov((2,4),(4,8)) = ((2-3)(4-6)+(4-3)(8-6))/1 = 4.0
    assert(cv === Seq(null, 1.0, 1.0, 4.0))
    val cr = vals(ops.rollingCorr(col("x"), col("y"), col("ord"), 3,
      minPeriods = Some(2)), "rolling_corr")
    assert(cr === Seq(null, 1.0, 1.0, 1.0)) // y = 2x on complete pairs
    // zero x-variance in the frame: corr null, cov 0
    val dz = Seq((0, 0, 3.0, 1.0), (1, 0, 3.0, 5.0)).toDF("ord", "key", "x", "y")
    val opz = new RollingOps(new GroupBy(dz, Seq(col("key"))))
    assert(vals(opz.rollingCorr(col("x"), col("y"), col("ord"), 2,
      minPeriods = Some(2)), "rolling_corr") === Seq(null, null))
    assert(vals(opz.rollingCov(col("x"), col("y"), col("ord"), 2,
      minPeriods = Some(2)), "rolling_cov") === Seq(null, 0.0))
  }

  test("rolling cov/corr: fast default and exact twin agree to 1e-12 on a real table") {
    // round-11 verdict item 5: rollingCov/rollingCorr get the same
    // fast-double default + decimal exact twin as the grouped pair
    // (GroupBy.cov/corr, round 11); this pins the two paths to each
    // other on events sf0.001 so the default flip cannot silently
    // change the statistic beyond ulp noise. Same tolerance shape as
    // the grouped pin: corr absolute 1e-12, cov relative 1e-10 (the
    // moment identity cancels large partial sums).
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val y = pmod(col("event_id"), lit(89L)).cast("double")
    val o = new RollingOps(new GroupBy(ev, Seq(col("user_id"))))
    def byId(d: DataFrame, c: String): Map[Long, Double] =
      d.filter(col(c).isNotNull).select(col("event_id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val crF = byId(o.rollingCorr(col("value"), y, col("ts"), 15,
      minPeriods = Some(5)), "rolling_corr")
    val crE = byId(o.rollingCorr(col("value"), y, col("ts"), 15,
      minPeriods = Some(5), exact = true), "rolling_corr")
    assert(crF.keySet === crE.keySet)
    crF.foreach { case (k, v) =>
      assert(math.abs(v - crE(k)) < 1e-12, s"rolling_corr mismatch at $k") }
    val cvF = byId(o.rollingCov(col("value"), y, col("ts"), 15,
      minPeriods = Some(5)), "rolling_cov")
    val cvE = byId(o.rollingCov(col("value"), y, col("ts"), 15,
      minPeriods = Some(5), exact = true), "rolling_cov")
    assert(cvF.keySet === cvE.keySet)
    cvF.foreach { case (k, v) =>
      assert(math.abs(v - cvE(k)) < 1e-10 * math.max(1.0, math.abs(v)),
        s"rolling_cov mismatch at $k") }
  }

  test("rolling cov/corr fast path: ill-conditioned worst case is bounded (and documented)") {
    // round-12 advice item 4 asked to bound the fast path's
    // cancellation worst case; measuring it (round 13) found the
    // REVERSE of the expected ranking, so this pins both legs against
    // an independent centered-double reference (unit variance,
    // window 50, common offset `off`):
    //   - FAST (double): relative arithmetic — matches the reference
    //     to ~1e-9 at off 1e3 and stays accurate until true moment
    //     cancellation at eps·n·off² ≈ var (off ≳ 4e6·sd), where it
    //     breaks completely (noise variances, diverging null pattern).
    //   - EXACT (decimal, scale 6): order-free for bit-identical
    //     replay, NOT more accurate — its fixed ABSOLUTE quantum
    //     (5e-7) enters corr through sx²/n scaled by the offset, so
    //     its error grows ∝ off (measured 2.5e-4 at off 1e3) and at
    //     large offsets it is the LESS accurate leg.
    // Contract: for series with |mean| ≫ 1e3×sd, center the series
    // before rolling cov/corr (either path); `exact` buys replay
    // determinism, never conditioning — rollingCov scaladoc.
    def series(off: Double): (Seq[Double], Seq[Double]) = (
      (0 until 300).map(i => off + math.sin(i * 2.39996)),
      (0 until 300).map(i =>
        off + 0.6 * math.sin(i * 2.39996) + 0.8 * math.cos(i * 1.7)))
    def refCorr(off: Double): Map[Long, Double] = {
      val (xs, ys) = series(off)
      (4 until 300).map { i => // minPeriods=5 → first non-null at i=4
        val lo = math.max(0, i - 49)
        val vx = xs.slice(lo, i + 1); val vy = ys.slice(lo, i + 1)
        val n = vx.size
        val mx = vx.sum / n; val my = vy.sum / n
        val cxy = vx.zip(vy).map { case (a, b) => (a - mx) * (b - my) }.sum
        val cxx = vx.map(a => (a - mx) * (a - mx)).sum
        val cyy = vy.map(b => (b - my) * (b - my)).sum
        i.toLong -> cxy / math.sqrt(cxx * cyy)
      }.toMap
    }
    def engineCorr(off: Double, exact: Boolean): Map[Long, Double] = {
      val (xs, ys) = series(off)
      val d = (0 until 300).map(i => (i.toLong, 0L, xs(i), ys(i)))
        .toDF("ord", "key", "x", "y")
      val o = new RollingOps(new GroupBy(d, Seq(col("key"))))
      o.rollingCorr(col("x"), col("y"), col("ord"), 50,
        minPeriods = Some(5), exact = exact)
        .filter(col("rolling_corr").isNotNull)
        .select(col("ord"), col("rolling_corr")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    def maxErr(got: Map[Long, Double], ref: Map[Long, Double]): Double =
      if (got.keySet != ref.keySet) Double.PositiveInfinity // null drift
      else got.map { case (k, v) => math.abs(v - ref(k)) }.max
    val ref3 = refCorr(1e3)
    val fast3 = maxErr(engineCorr(1e3, exact = false), ref3)
    val exact3 = maxErr(engineCorr(1e3, exact = true), ref3)
    info(f"offset 1e3: fast err=$fast3%.2e  exact err=$exact3%.2e")
    // measured r13: fast 1.3e-9, exact 2.5e-4 — bounds leave ~30x room
    assert(fast3 < 1e-7,
      f"fast rolling corr degraded at offset 1e3: $fast3%.2e (was ~1e-9)")
    assert(exact3 < 8e-3,
      f"exact rolling corr quantization grew at offset 1e3: $exact3%.2e (was ~2.5e-4)")
    // breakdown regime: at off 1e8 the fast path's frame variances are
    // pure cancellation noise — if this ever becomes accurate, a
    // stabilization landed; update the scaladoc contract and this pin
    val fast8 = maxErr(engineCorr(1e8, exact = false), refCorr(1e8))
    info(f"offset 1e8: fast err=$fast8%.2e")
    assert(fast8 > 1e-3,
      "fast rolling corr agreed with the centered reference at offset 1e8 — " +
        "the documented breakdown regime moved; update rollingCov scaladoc + pin")
  }

  test("expanding mean/var (cummean/cumvar) with null skip; sliced var refuses") {
    val d = df((0, 0, Some(2.0), true), (1, 0, None, true),
      (2, 0, Some(4.0), true), (3, 0, Some(6.0), true))
    assert(vals(ops(d).cummean(col("value"), col("ord"), exact = true),
      "cummean") === Seq(2.0, 2.0, 3.0, 4.0))
    // vars: [2]=null, [2]=null, [2,4]=2.0, [2,4,6]=4.0
    assert(vals(ops(d).cumvar(col("value"), col("ord"), exact = true),
      "cumvar") === Seq(null, null, 2.0, 4.0))
    intercept[IllegalArgumentException] {
      ops(d).cumAgg("var", col("value"), col("ord"), sliceWidth = Some(10L))
    }
  }

  test("cumprod: null carries, zero latches, sign flips; sliced refuses") {
    val d = df((0, 0, Some(2.0), true), (1, 0, None, true),
      (2, 0, Some(-3.0), true), (3, 0, Some(0.0), true), (4, 0, Some(5.0), true))
    val out = vals(ops(d).cumprod(col("value"), col("ord")), "cumprod")
    assert(math.abs(out(0).asInstanceOf[Double] - 2.0) < 1e-6)  // ln terms decimal-round at scale 8
    assert(math.abs(out(1).asInstanceOf[Double] - 2.0) < 1e-6)  // null carries
    assert(math.abs(out(2).asInstanceOf[Double] - (-6.0)) < 1e-6)
    assert(out(3) === 0.0 && out(4) === 0.0)                     // zero latches
    // leading null: no value yet → null
    val d2 = df((0, 0, None, true), (1, 0, Some(3.0), true))
    assert(vals(ops(d2).cumprod(col("value"), col("ord")), "cumprod")(0) == null)
    intercept[IllegalArgumentException] {
      ops(d).cumAgg("prod", col("value"), col("ord"), sliceWidth = Some(10L))
    }
  }

  test("window larger than group: minPeriods guard holds") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), true))
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 50), "rolling_sum") ===
      Seq(null, null))
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 50,
      minPeriods = Some(1)), "rolling_sum") === Seq(1.0, 3.0))
  }

  test("groupNearbyMembers splits on gaps > maxDiff, per group") {
    val d = Seq((0, 0, 1.0), (1, 0, 2.0), (2, 0, 10.0), (3, 0, 11.0), (4, 1, 5.0))
      .toDF("ord", "key", "value")
    val out = new RollingOps(new GroupBy(d, Seq(col("key"))))
      .groupNearbyMembers(col("value"), col("ord"), 3.0)
    assert(vals(out, "subgroup") === Seq(0L, 0L, 1L, 1L, 0L))
  }

  test("rolling sliceWidth time-split equals the unsplit output (skew lever)") {
    // hot key 0 holds ~half the rows; nulls present so minPeriods
    // counting crosses slice boundaries; sparse keys force frames to
    // pull injected rows from several slices back
    val rows = (1 to 500).map { i =>
      val k = if (i % 2 == 0) 0 else i % 5
      val v = if (i % 11 == 0) None else Some(i * 0.5)
      (k, (i * 37 % 4999).toLong, v)
    }
    val d = rows.toDF("key", "ts", "v")
    val gb = new GroupBy(d, Seq(col("key")))
    def run(op: String, window: Int, mp: Option[Int], exact: Boolean,
        width: Option[Long]): Map[(Int, Long), Any] =
      new RollingOps(gb)
        .rollingAgg(op, col("v"), col("ts"), window, minPeriods = mp,
          name = "r", exact = exact, sliceWidth = width)
        .select("key", "ts", "r").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    for {
      (op, exact) <- Seq(("sum", true), ("mean", true), ("min", false),
        ("max", false), ("count", false), ("var", true), ("std", true))
      (window, mp) <- Seq((7, None), (7, Some(3)), (1, None), (50, Some(1)))
    } {
      val base = run(op, window, mp, exact, None)
      // widths: single-row slices; mid; everything in one slice
      for (width <- Seq(40L, 700L, 100000L)) {
        val split = run(op, window, mp, exact, Some(width))
        assert(split === base, s"op=$op window=$window mp=$mp width=$width")
      }
    }
  }

  test("cumulative sliceWidth time-split equals the unsplit output (skew lever)") {
    // same hot-key/nulls fixture shape as the rolling test; mask and
    // skipNa=false exercise the injected prefix's weight and
    // null-poison carries across slice boundaries
    val rows = (1 to 400).map { i =>
      val k = if (i % 2 == 0) 0 else i % 5
      val v = if (i % 13 == 0) None else Some(i * 0.25)
      (k, (i * 41 % 3989).toLong, v)
    }
    val d = rows.toDF("key", "ts", "v")
    val gb = new GroupBy(d, Seq(col("key")))
    def run(op: String, exact: Boolean, skipNa: Boolean,
        mask: Option[org.apache.spark.sql.Column],
        width: Option[Long]): Map[(Int, Long), Any] =
      new RollingOps(gb)
        .cumAgg(op, col("v"), col("ts"), mask, skipNa, "c", exact, width)
        .select("key", "ts", "c").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    for {
      (op, exact) <- Seq(("sum", true), ("mean", true), ("min", false),
        ("max", false), ("count", false))
      skipNa <- Seq(true, false)
      mask <- Seq(None, Some(col("ts") % 3 =!= 0))
    } {
      val base = run(op, exact, skipNa, mask, None)
      for (width <- Seq(50L, 100000L)) {
        val split = run(op, exact, skipNa, mask, Some(width))
        assert(split === base,
          s"op=$op skipNa=$skipNa mask=${mask.isDefined} width=$width")
      }
    }
    // cumcount (masked): -1 for leading masked rows must survive slicing
    val ops = new RollingOps(gb)
    val ccBase = ops.cumcount(col("ts"), Some(col("ts") % 3 =!= 0))
      .select("key", "ts", "cumcount").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    val ccSplit = ops.cumcount(col("ts"), Some(col("ts") % 3 =!= 0),
        sliceWidth = Some(50L))
      .select("key", "ts", "cumcount").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    assert(ccSplit === ccBase)
    // sum/mean without exact must be rejected under slicing
    intercept[IllegalArgumentException] {
      ops.cumsum(col("v"), col("ts"), sliceWidth = Some(50L))
    }
  }

  test("shift/diff sliceWidth time-split equals the unsplit output (lag and lead)") {
    val rows = (1 to 400).map { i =>
      val k = if (i % 2 == 0) 0 else i % 5
      val v = if (i % 13 == 0) None else Some(i * 0.25)
      (k, (i * 41 % 3989).toLong, v)
    }
    val d = rows.toDF("key", "ts", "v")
    val gb = new GroupBy(d, Seq(col("key")))
    val ops = new RollingOps(gb)
    def grab(df: DataFrame, c: String): Map[(Int, Long), Any] =
      df.select(col("key"), col("ts"), col(c)).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    for {
      n <- Seq(1, 3, -2) // lag 1, lag 3 (multi-row tail), lead 2 (heads)
      width <- Seq(50L, 100000L)
    } {
      assert(grab(ops.shift(col("v"), col("ts"), n, sliceWidth = Some(width)), "shift")
        === grab(ops.shift(col("v"), col("ts"), n), "shift"), s"shift n=$n width=$width")
      assert(grab(ops.diff(col("v"), col("ts"), n, sliceWidth = Some(width)), "diff")
        === grab(ops.diff(col("v"), col("ts"), n), "diff"), s"diff n=$n width=$width")
    }
    // sliced results must not depend on the physical partitioning of
    // the input (tail/carry assembly is explicitly sorted everywhere)
    val base13 = new RollingOps(new GroupBy(d.repartition(13), Seq(col("key"))))
    val base1 = new RollingOps(new GroupBy(d.repartition(1), Seq(col("key"))))
    assert(
      grab(base13.rollingSum(col("v"), col("ts"), 7, minPeriods = Some(1),
        exact = true, sliceWidth = Some(50L)), "rolling_sum")
        === grab(base1.rollingSum(col("v"), col("ts"), 7, minPeriods = Some(1),
          exact = true, sliceWidth = Some(50L)), "rolling_sum"))
  }

  test("masked rolling/shift/diff sliceWidth equals the unsplit masked output") {
    // the masked variants run on the mask-filtered sub-stream, which
    // stays skewed when the key is; sliceWidth must split THAT stream
    // and join back identically to the unsplit masked path
    val rows = (1 to 400).map { i =>
      val k = if (i % 2 == 0) 0 else i % 5
      val v = if (i % 13 == 0) None else Some(i * 0.25)
      (k, (i * 41 % 3989).toLong, v)
    }
    val d = rows.toDF("key", "ts", "v")
    val ops = new RollingOps(new GroupBy(d, Seq(col("key"))))
    val m = Some(col("ts") % 3 =!= 0)
    def grab(df: DataFrame, c: String): Map[(Int, Long), Any] =
      df.select(col("key"), col("ts"), col(c)).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    for (width <- Seq(50L, 700L, 100000L)) {
      assert(grab(ops.rollingSum(col("v"), col("ts"), 7, minPeriods = Some(3),
        mask = m, exact = true, sliceWidth = Some(width)), "rolling_sum")
        === grab(ops.rollingSum(col("v"), col("ts"), 7, minPeriods = Some(3),
          mask = m, exact = true), "rolling_sum"), s"rolling width=$width")
      for (n <- Seq(2, -1)) {
        assert(grab(ops.shift(col("v"), col("ts"), n, mask = m,
          sliceWidth = Some(width)), "shift")
          === grab(ops.shift(col("v"), col("ts"), n, mask = m), "shift"),
          s"shift n=$n width=$width")
        assert(grab(ops.diff(col("v"), col("ts"), n, mask = m,
          sliceWidth = Some(width)), "diff")
          === grab(ops.diff(col("v"), col("ts"), n, mask = m), "diff"),
          s"diff n=$n width=$width")
      }
    }
  }

  test("groupNearbyMembers sliceWidth equals the unsplit output") {
    // monotone-ish value with occasional big jumps; sub-group
    // boundaries must land identically however the timeline is sliced
    // (including boundaries that coincide with slice edges)
    val rows = (1 to 400).map { i =>
      val k = i % 3
      val ts = (i * 7).toLong
      val v = i * 1.0 + (if (i % 17 == 0) i * 10.0 else 0.0)
      (k, ts, v)
    }
    val d = rows.toDF("key", "ts", "v")
    val ops = new RollingOps(new GroupBy(d, Seq(col("key"))))
    def grab(df: DataFrame): Map[(Int, Long), Any] =
      df.select(col("key"), col("ts"), col("subgroup")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.get(2)).toMap
    val base = grab(ops.groupNearbyMembers(col("v"), col("ts"), 30.0))
    for (width <- Seq(7L, 100L, 100000L)) {
      assert(grab(ops.groupNearbyMembers(col("v"), col("ts"), 30.0,
        sliceWidth = Some(width))) === base, s"width=$width")
    }
  }

  test("sliced ops raise on a null ord instead of silently diverging") {
    // a null ord would land in a null slice that receives no
    // carry/prefix injection; the guard fails loudly. Null-KEY rows
    // with null ords pass through (they emit null output anyway).
    val d = Seq((Option(0), Option(1L), 1.0), (Option(0), Option.empty[Long], 2.0))
      .toDF("key", "ts", "v")
    val ops = new RollingOps(new GroupBy(d, Seq(col("key"))))
    for (run <- Seq[() => DataFrame](
      () => ops.rollingSum(col("v"), col("ts"), 2, minPeriods = Some(1),
        sliceWidth = Some(10L)),
      () => ops.cumsum(col("v"), col("ts"), exact = true,
        sliceWidth = Some(10L)),
      () => ops.shift(col("v"), col("ts"), 1, sliceWidth = Some(10L)))) {
      val e = intercept[Exception] { run().collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("non-null ord")), e.toString)
    }
    // null-key row with a null ord is fine — output is null there
    val dn = Seq((Option(0), Option(1L), 1.0), (Option.empty[Int], Option.empty[Long], 2.0))
      .toDF("key", "ts", "v")
    val out = new RollingOps(new GroupBy(dn, Seq(col("key"))))
      .cumsum(col("v"), col("ts"), exact = true, sliceWidth = Some(10L))
      .select("key", "cumsum").collect()
      .map(r => (if (r.isNullAt(0)) null else r.get(0)) ->
        (if (r.isNullAt(1)) null else r.get(1))).toMap
    assert(out === Map(0 -> 1.0, (null: Any) -> null))
  }

  test("null-key rows emit null from window ops") {
    val d = Seq((0, Some(1), Some(1.0)), (1, None, Some(2.0)))
      .toDF("ord", "key", "value")
    val out = new RollingOps(new GroupBy(d, Seq(col("key"))))
      .cumsum(col("value"), col("ord"))
    assert(vals(out, "cumsum") === Seq(1.0, null))
  }

  // -------------------------------------------------------------- fill

  test("ffill/bfill: hand-checked fills, leading/trailing nulls stay null, groups isolated") {
    val d = df((0, 0, None, true), (1, 0, Some(1.0), true), (2, 0, None, true),
      (3, 0, None, true), (4, 0, Some(4.0), true), (5, 0, None, true),
      (6, 1, Some(7.0), true), (7, 1, None, true))
    assert(vals(ops(d).ffill(col("value"), col("ord")), "ffill") ===
      Seq(null, 1.0, 1.0, 1.0, 4.0, 4.0, 7.0, 7.0))
    assert(vals(ops(d).bfill(col("value"), col("ord")), "bfill") ===
      Seq(1.0, 1.0, 4.0, 4.0, 4.0, null, 7.0, null))
  }

  test("ffill/bfill limit bounds propagation distance (pandas limit semantics)") {
    val d = df((0, 0, Some(1.0), true), (1, 0, None, true), (2, 0, None, true),
      (3, 0, None, true), (4, 0, Some(5.0), true))
    assert(vals(ops(d).ffill(col("value"), col("ord"), limit = Some(2)), "ffill") ===
      Seq(1.0, 1.0, 1.0, null, 5.0))
    assert(vals(ops(d).bfill(col("value"), col("ord"), limit = Some(1)), "bfill") ===
      Seq(1.0, null, null, 5.0, 5.0))
    assertThrows[IllegalArgumentException] {
      ops(d).ffill(col("value"), col("ord"), limit = Some(0))
    }
  }

  test("ffill: null-key rows emit null") {
    val d = Seq((0, Some(1), Option.empty[Double]), (1, Some(1), Some(2.0)),
      (2, None, Some(9.0)))
      .toDF("ord", "key", "value")
    val out = new RollingOps(new GroupBy(d, Seq(col("key"))))
      .ffill(col("value"), col("ord"))
    assert(vals(out, "ffill") === Seq(null, 2.0, null))
  }

  // ------------------------------------------------------- range rolling

  /** pandas `Series.rolling('3s', closed=...)` over values
    * [1, 2, nan, 8, 16, 32] at seconds [0, 1, 2, 5, 6, 20] — offset
    * windows on an irregular time axis, all four closed rules.
    */
  def rangeDf: DataFrame = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), true),
    (2, 0, None, true), (5, 0, Some(8.0), true), (6, 0, Some(16.0), true),
    (20, 0, Some(32.0), true))

  test("range rolling sum matches pandas offset windows for every closed rule") {
    def got(closed: String): Seq[Any] =
      vals(ops(rangeDf).rollingSumRange(col("value"), col("ord"), 3,
        closed = closed), "rolling_sum")
    assert(got("right") === Seq(1.0, 3.0, 3.0, 8.0, 24.0, 32.0))
    assert(got("both") === Seq(1.0, 3.0, 3.0, 8.0, 24.0, 32.0))
    assert(got("left") === Seq(null, 1.0, 3.0, null, 8.0, null))
    assert(got("neither") === Seq(null, 1.0, 3.0, null, 8.0, null))
  }

  test("range rolling: minPeriods counts non-null frame rows; mask removes rows from the stream") {
    assert(vals(ops(rangeDf).rollingSumRange(col("value"), col("ord"), 3,
      minPeriods = 2), "rolling_sum") ===
      Seq(null, 3.0, 3.0, null, 24.0, null))
    // mask drops the ord-1 row entirely: ord-2's window sees only ord-0
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), false),
      (2, 0, Some(4.0), true))
    assert(vals(ops(d).rollingSumRange(col("value"), col("ord"), 3,
      mask = Some(col("m"))), "rolling_sum") === Seq(1.0, null, 5.0))
    assertThrows[IllegalArgumentException] {
      ops(d).rollingSumRange(col("value"), col("ord"), 3, closed = "bogus")
    }
    assertThrows[IllegalArgumentException] {
      ops(d).rollingSumRange(col("value"), col("ord"), 0)
    }
  }

  test("range rolling mean/min/max facades") {
    val d = rangeDf
    assert(vals(ops(d).rollingMeanRange(col("value"), col("ord"), 3),
      "rolling_mean") === Seq(1.0, 1.5, 1.5, 8.0, 12.0, 32.0))
    assert(vals(ops(d).rollingMinRange(col("value"), col("ord"), 3),
      "rolling_min") === Seq(1.0, 1.0, 1.0, 8.0, 8.0, 32.0))
    assert(vals(ops(d).rollingMaxRange(col("value"), col("ord"), 3),
      "rolling_max") === Seq(1.0, 2.0, 2.0, 8.0, 16.0, 32.0))
  }

  // ----------------------------------------------------------- resample

  test("resample emits empty bins with pandas identities (count 0, sum 0.0, mean null)") {
    import graft.operators.{AggSpec, Resample}
    // pandas: df.resample('2D').agg(count/sum/mean) over days
    // [0, 1, 5, 5.5, 12] values [1, nan, 4, 8, 2] → bins 0..6 with
    // n [1,0,2,0,0,0,1], sum [1,0,12,0,0,0,2], mean [1,ø,6,ø,ø,ø,2]
    val d = Seq((0L, 0, Some(1.0)), (10L, 0, None), (50L, 0, Some(4.0)),
      (55L, 0, Some(8.0)), (120L, 0, Some(2.0)),
      (40L, 1, Some(7.0))) // second group: single bucket, no empties
      .toDF("ord", "key", "value")
    val out = Resample.resample(new GroupBy(d, Seq(col("key"))),
      col("ord"), 20L,
      Seq(AggSpec("count", col("value"), "n"),
        AggSpec("sum", col("value"), "sum_v"),
        AggSpec("mean", col("value"), "mean_v")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(4)) null else r.get(4))).toSeq
    assert(out === Seq(
      (0, 0L, 1L, 1.0, 1.0), (0, 1L, 0L, 0.0, null), (0, 2L, 2L, 12.0, 6.0),
      (0, 3L, 0L, 0.0, null), (0, 4L, 0L, 0.0, null), (0, 5L, 0L, 0.0, null),
      (0, 6L, 1L, 2.0, 2.0), (1, 2L, 1L, 7.0, 7.0)))
  }

  test("resample: negative ords anchor at 0 (floor division); guards raise") {
    import graft.operators.{AggSpec, Resample}
    val d = Seq((-25L, 0, Some(3.0)), (5L, 0, Some(1.0)))
      .toDF("ord", "key", "value")
    val out = Resample.resample(new GroupBy(d, Seq(col("key"))),
      col("ord"), 10L, Seq(AggSpec("sum", col("value"), "s")))
      .select("bucket", "s").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // −25 → bucket −3 ([−30, −20)); empties −2, −1; 5 → bucket 0
    assert(out === Seq((-3L, 3.0), (-2L, 0.0), (-1L, 0.0), (0L, 1.0)))
    assertThrows[IllegalArgumentException] {
      Resample.resample(new GroupBy(d, Seq(col("key"))), col("ord"), 0L,
        Seq(AggSpec("sum", col("value"), "s")))
    }
    assertThrows[IllegalArgumentException] {
      Resample.resample(new GroupBy(d, Seq(col("key"))), col("ord"), 10L,
        Seq(AggSpec("sum", col("value"), "bucket")))
    }
  }

  // --------------------------------------------------------------- ewm

  /** pandas 2.2.2 `Series.ewm(alpha=0.25, ...).mean()` over
    * [3, nan, 1, nan, nan, 5, 5, nan, 2] — all four adjust×ignore_na
    * modes, values pinned to the exact doubles pandas emits (the
    * stepwise decay reproduces pandas' pow-decay bit-for-bit here).
    */
  val ewmIn: Seq[Option[Double]] = Seq(Some(3.0), None, Some(1.0), None, None,
    Some(5.0), Some(5.0), None, Some(2.0))

  def ewmDf: DataFrame = df(ewmIn.zipWithIndex.map {
    case (v, i) => (i, 0, v, true) }: _*)

  def ewmCheck(adjust: Boolean, ignoreNa: Boolean, exp: Seq[Double]): Unit = {
    val got = vals(ops(ewmDf).ewmMean(col("value"), col("ord"), 0.25,
      adjust = adjust, ignoreNa = ignoreNa), "ewm_mean")
    assert(got === exp, s"adjust=$adjust ignoreNa=$ignoreNa")
  }

  test("ewm mean adjust=true ignore_na=false matches pandas bit-for-bit") {
    ewmCheck(adjust = true, ignoreNa = false, Seq(3.0, 3.0, 1.72, 1.72, 1.72,
      3.6968805179517363, 4.277493745240944, 4.277493745240944,
      3.2708517396963708))
  }

  test("ewm mean adjust=true ignore_na=true matches pandas bit-for-bit") {
    ewmCheck(adjust = true, ignoreNa = true, Seq(3.0, 3.0, 1.8571428571428572,
      1.8571428571428572, 1.8571428571428572, 3.2162162162162162,
      3.8685714285714288, 3.8685714285714288, 3.2560819462227912))
  }

  test("ewm mean adjust=false ignore_na=false matches pandas bit-for-bit") {
    ewmCheck(adjust = false, ignoreNa = false, Seq(3.0, 3.0, 2.3846153846153846,
      2.3846153846153846, 2.3846153846153846, 3.3577817531305905,
      3.768336314847943, 3.768336314847943, 3.224232833356268))
  }

  test("ewm mean adjust=false ignore_na=true matches pandas bit-for-bit") {
    ewmCheck(adjust = false, ignoreNa = true, Seq(3.0, 3.0, 2.5, 2.5, 2.5,
      3.125, 3.59375, 3.59375, 3.1953125))
  }

  test("ewm mean: leading nulls stay null until the seed; groups isolated; null keys null") {
    val d = Seq((0, Some(0), Option.empty[Double]), (1, Some(0), Some(2.0)),
      (2, Some(0), Some(4.0)), (3, Some(1), Some(9.0)), (4, None, Some(7.0)))
      .toDF("ord", "key", "value")
    val out = new RollingOps(new GroupBy(d, Seq(col("key"))))
      .ewmMean(col("value"), col("ord"), 0.5)
    // adjust=true: [null, 2, (0.5*2+4)/1.5=10/3] ; key 1 seeds at 9
    assert(vals(out, "ewm_mean") === Seq(null, 2.0, 10.0 / 3.0, 9.0, null))
  }

  test("ewm mean/var fold the null-key group when dropNullKeys = false (pandas dropna=False)") {
    // pandas 2.2.2 df.groupby("key", dropna=False)["value"].ewm(alpha=0.5)
    // .mean() / .var(): the null key is one more group, as cumsum has it
    val d = Seq((0, Some("a"), Some(1.0)), (1, None, Some(2.0)),
      (2, Some("a"), Some(3.0)), (3, None, None), (4, None, Some(4.0)),
      (5, Some("a"), Some(6.0))).toDF("ord", "key", "value")
    val ops = new RollingOps(new GroupBy(d, Seq(col("key")), dropNullKeys = false))
    assert(vals(ops.ewmMean(col("value"), col("ord"), 0.5), "ewm_mean") ===
      Seq(1.0, 2.0, 2.3333333333333335, 2.0, 3.6, 4.428571428571429))
    assert(vals(ops.ewmVar(col("value"), col("ord"), 0.5), "ewm_var") ===
      Seq(null, null, 2.0, null, 2.0, 6.428571428571429))
  }

  test("ewm carries input columns sort_array cannot order (a map column)") {
    val d = Seq((0, 0, 1.0, Map("a" -> 1)), (1, 0, 3.0, Map("b" -> 2)))
      .toDF("ord", "key", "value", "tags")
    val out = ops(d).ewmMean(col("value"), col("ord"), 0.5)
    assert(out.columns.toSeq === Seq("key", "ord", "value", "tags", "ewm_mean"))
    assert(vals(out, "ewm_mean") === Seq(1.0, (0.5 * 1.0 + 3.0) / 1.5))
    assert(vals(out, "tags") === Seq(Map("a" -> 1), Map("b" -> 2)))
  }

  def ewmVarCheck(adjust: Boolean, ignoreNa: Boolean, exp: Seq[Any]): Unit = {
    val got = vals(ops(ewmDf).ewmVar(col("value"), col("ord"), 0.25,
      adjust = adjust, ignoreNa = ignoreNa), "ewm_var")
    assert(got === exp, s"adjust=$adjust ignoreNa=$ignoreNa")
  }

  test("ewm var adjust=true matches pandas bit-for-bit (both ignore_na modes)") {
    ewmVarCheck(adjust = true, ignoreNa = false, Seq(null, null, 2.0, 2.0, 2.0,
      5.333695062398263, 3.09020637526167, 3.09020637526167,
      3.4628062988744035))
    ewmVarCheck(adjust = true, ignoreNa = true, Seq(null, null, 2.0, 2.0, 2.0,
      4.594594594594595, 3.6259459459459458, 3.6259459459459458,
      3.3013060179257367))
  }

  test("ewm var adjust=false matches pandas bit-for-bit (both ignore_na modes)") {
    ewmVarCheck(adjust = false, ignoreNa = false, Seq(null, null, 2.0, 2.0, 2.0,
      3.357997823721437, 2.8751353982141366, 2.8751353982141366,
      2.7332084392832248))
    ewmVarCheck(adjust = false, ignoreNa = true, Seq(null, null, 2.0, 2.0, 2.0,
      2.9600000000000004, 2.7817047817047817, 2.7817047817047817,
      2.523204747774481))
  }

  test("ewm std is the sqrt; bias=true emits the biased moment (0 at the seed)") {
    val stds = vals(ops(ewmDf).ewmStd(col("value"), col("ord"), 0.25),
      "ewm_std")
    assert(stds(0) === null && stds(2) === math.sqrt(2.0))
    val biased = vals(ops(ewmDf).ewmVar(col("value"), col("ord"), 0.25,
      bias = true), "ewm_var")
    assert(biased(0) === 0.0) // single value: biased spread is 0
    assert(biased(2) === 0.9216)
  }

  test("ewm span/com/halflife parameterizations match pandas") {
    import graft.operators.Ewm
    val d = df((0, 0, Some(3.0), true), (1, 0, Some(1.0), true),
      (2, 0, Some(5.0), true), (3, 0, Some(2.0), true))
    assert(vals(ops(d).ewmMean(col("value"), col("ord"),
      Ewm.alphaFromSpan(5.0)), "ewm_mean") ===
      Seq(3.0, 1.7999999999999998, 3.3157894736842097, 2.7692307692307687))
    assert(vals(ops(d).ewmMean(col("value"), col("ord"),
      Ewm.alphaFromHalflife(2.0)), "ewm_mean") ===
      Seq(3.0, 1.8284271247461903, 3.2654091966098644, 2.7712361663282534))
    assert(Ewm.alphaFromCom(3.0) === 0.25)
    assertThrows[IllegalArgumentException] { Ewm.alphaFromSpan(0.5) }
    assertThrows[IllegalArgumentException] { Ewm.alphaFromHalflife(0.0) }
  }

  // -------------------------------------------------------- interpolate

  test("interpolate matches pandas: interior linear/index, trailing ffill, leading null, limit") {
    // pandas: [nan, 1, nan, nan, 7, nan] at index [0, 10, 20, 25, 40, 50]
    val d = df((0, 0, None, true), (10, 0, Some(1.0), true),
      (20, 0, None, true), (25, 0, None, true), (40, 0, Some(7.0), true),
      (50, 0, None, true))
    assert(vals(ops(d).interpolate(col("value"), col("ord")), "interp") ===
      Seq(null, 1.0, 3.0, 5.0, 7.0, 7.0))
    assert(vals(ops(d).interpolate(col("value"), col("ord"),
      method = "index"), "interp") === Seq(null, 1.0, 3.0, 4.0, 7.0, 7.0))
    assert(vals(ops(d).interpolate(col("value"), col("ord"),
      limit = Some(1)), "interp") === Seq(null, 1.0, 3.0, null, 7.0, 7.0))
    assertThrows[IllegalArgumentException] {
      ops(d).interpolate(col("value"), col("ord"), method = "spline")
    }
    // groups isolated; null keys emit null
    val dn = Seq((0, Some(0), Some(2.0)), (1, Some(0), None),
      (2, Some(0), Some(4.0)), (3, None, None))
      .toDF("ord", "key", "value")
    val out = new RollingOps(new GroupBy(dn, Seq(col("key"))))
      .interpolate(col("value"), col("ord"))
    assert(vals(out, "interp") === Seq(2.0, 3.0, 4.0, null))
  }

  test("ewm mean: alpha=1 forgets instantly; invalid alpha and null ord raise") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(5.0), true))
    assert(vals(ops(d).ewmMean(col("value"), col("ord"), 1.0), "ewm_mean") ===
      Seq(1.0, 5.0))
    assertThrows[IllegalArgumentException] {
      ops(d).ewmMean(col("value"), col("ord"), 0.0)
    }
    val dn = Seq((Option.empty[Int], 0, 1.0)).toDF("ord", "key", "value")
    val ex = intercept[Exception] {
      new RollingOps(new GroupBy(dn, Seq(col("key"))))
        .ewmMean(col("value"), col("ord"), 0.5).collect()
    }
    assert(ex.getMessage.contains("non-null ord"))
  }

  test("masked ops keep the null-key group under dropNullKeys=false") {
    // keys null x3, v = 10, 20, 30, mask = T, F, T: the sub-stream is
    // [10, 30], the masked row emits null
    val d = Seq[(Int, Option[Int], Double, Boolean)](
      (1, None, 10.0, true), (2, None, 20.0, false), (3, None, 30.0, true))
      .toDF("ord", "key", "value", "m")
    val g = new RollingOps(new GroupBy(d, Seq(col("key")), dropNullKeys = false))
    val m = Some(col("m"))
    assert(vals(g.rollingSum(col("value"), col("ord"), 2, Some(1)), "rolling_sum") ===
      Seq(10.0, 30.0, 50.0))
    assert(vals(g.rollingSum(col("value"), col("ord"), 2, Some(1), mask = m),
      "rolling_sum") === Seq(10.0, null, 40.0))
    assert(vals(g.rollingSum(col("value"), col("ord"), 2, Some(1), mask = m,
      sliceWidth = Some(2L)), "rolling_sum") === Seq(10.0, null, 40.0))
    assert(vals(g.shift(col("value"), col("ord"), 1, mask = m), "shift") ===
      Seq(null, null, 10.0))
    assert(vals(g.diff(col("value"), col("ord"), 1, mask = m), "diff") ===
      Seq(null, null, 20.0))
    // span 3 over ords 1..3: row 3's frame (0, 3] holds ords 1 and 3
    assert(vals(g.rollingSumRange(col("value"), col("ord"), 3, mask = m),
      "rolling_sum") === Seq(10.0, null, 40.0))
  }

  test("a masked op returns the unmasked op's columns in the same order") {
    // neither key leads: a column key after ord and an appended expression key
    val d = Seq[(Int, Int, Double, Boolean)](
      (1, 0, 10.0, true), (2, 0, 20.0, false), (3, 1, 30.0, true), (4, 1, 40.0, true))
      .toDF("ord", "key", "value", "m")
    for (drop <- Seq(true, false)) {
      val g = new RollingOps(new GroupBy(d, Seq(col("key"), (col("ord") % 2).as("par")),
        dropNullKeys = drop))
      val (v, o, m) = (col("value"), col("ord"), Some(col("m")))
      val pairs = Seq[Option[Column] => DataFrame](
        mk => g.rollingSum(v, o, 2, Some(1), mask = mk),
        mk => g.rollingSum(v, o, 2, Some(1), mask = mk, sliceWidth = Some(2L)),
        mk => g.shift(v, o, 1, mask = mk),
        mk => g.diff(v, o, 1, mask = mk),
        mk => g.rollingSumRange(v, o, 3, mask = mk))
      for (f <- pairs) {
        val plain = f(None).columns.toSeq
        assert(plain.take(5) === Seq("ord", "key", "value", "m", "par"), plain)
        assert(f(m).columns.toSeq === plain)
      }
    }
  }

  test("rolling minPeriods must lie in [0, window], as pandas requires") {
    val d = df((0, 0, Some(1.0), true), (1, 0, Some(2.0), true))
    for (exact <- Seq(false, true)) {
      val over = intercept[IllegalArgumentException](
        ops(d).rollingSum(col("value"), col("ord"), 2, Some(3), exact = exact))
      assert(over.getMessage.contains("min_periods 3 must be <= window 2"), over.getMessage)
      val neg = intercept[IllegalArgumentException](
        ops(d).rollingSum(col("value"), col("ord"), 2, Some(-1), exact = exact))
      assert(neg.getMessage.contains("min_periods -1 must be >= 0"), neg.getMessage)
      for (mp <- Seq(-1, 3)) {
        intercept[IllegalArgumentException](ops(d).rollingCov(col("value"),
          col("value"), col("ord"), 2, Some(mp), exact = exact))
        intercept[IllegalArgumentException](ops(d).rollingCorr(col("value"),
          col("value"), col("ord"), 2, Some(mp), exact = exact))
      }
    }
    // the bounds themselves stay legal
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 2, Some(0)), "rolling_sum") ===
      Seq(1.0, 3.0))
    assert(vals(ops(d).rollingSum(col("value"), col("ord"), 2, Some(2)), "rolling_sum") ===
      Seq(null, 3.0))
  }
}
