package graft

import graft.operators.{AggSpec, GroupBy, Margins}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // GRAFT_TEST_CPUS sweeps the suite across parallelism levels —
  // partitioning-dependent assumptions fail at SOME width, not all
  private val cpus = sys.env.getOrElse("GRAFT_TEST_CPUS", "4")
  lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-less parquet timestamps (timestamp[us]) read as TIMESTAMP
      // (LTZ, UTC session) not TIMESTAMP_NTZ: matches the DuckDB
      // oracle's naive-as-UTC reading and keeps unix_micros legal
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Differential semantics tests on the reference's canonical fixture
  * (`/root/reference/tests/test_groupby/test_core.py:29-37`):
  * key = [1,1,2,1,3,3,6,1,6], values = [-1,0.3,4,3.5,8,6,3,1,12.6],
  * mask = key != 1. Expected values are the pandas-oracle results the
  * reference's own tests assert.
  */
class GroupBySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (ord, key, value) — ord mirrors the physical row order pandas sees.
  def fixture: DataFrame = Seq(
    (0, 1, -1.0), (1, 1, 0.3), (2, 2, 4.0), (3, 1, 3.5), (4, 3, 8.0),
    (5, 3, 6.0), (6, 6, 3.0), (7, 1, 1.0), (8, 6, 12.6)
  ).toDF("ord", "key", "value")

  def gb = new GroupBy(fixture, Seq(col("key")))

  def asMap(df: DataFrame, value: String = "value"): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.getAs[Any](value)).toMap

  test("sum per group matches pandas oracle") {
    assert(asMap(gb.sum(Seq(col("value")))) ===
      Map(1 -> 3.8, 2 -> 4.0, 3 -> 14.0, 6 -> 15.6))
  }

  test("masked sum: mask filters inside the aggregate, groups with no masked rows drop") {
    val m = Some(col("key") =!= 1)
    assert(asMap(gb.sum(Seq(col("value")), mask = m)) ===
      Map(2 -> 4.0, 3 -> 14.0, 6 -> 15.6))
  }

  test("observedOnly=false keeps fully-masked groups (null agg)") {
    val m = Some(col("key") =!= 1)
    val out = asMap(gb.sum(Seq(col("value")), mask = m, observedOnly = false))
    assert(out.keySet === Set(1, 2, 3, 6))
    assert(out(1) == null)
  }

  test("keyDomain + reindex realizes observed_only=False over the cartesian domain") {
    // (1,a) (1,b) (2,a) observed → domain includes unobserved (2,b);
    // (3,null) contributes k1=3 to the domain even though the row
    // itself is dropped from grouping (per-level factorization)
    val d = Seq((Some(1), Some("a"), 10.0), (Some(1), Some("b"), 20.0),
      (Some(2), Some("a"), 30.0), (Some(3), None, 40.0))
      .toDF("k1", "k2", "value")
    val g = new GroupBy(d, Seq(col("k1"), col("k2")))
    val out = g.reindex(g.size(), g.keyDomain, fill = Some(0L))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map((1, "a") -> 1L, (1, "b") -> 1L, (2, "a") -> 1L,
      (2, "b") -> 0L, (3, "a") -> 0L, (3, "b") -> 0L))
  }

  test("keyDomain refuses an unbounded cartesian domain (maxDomain guard)") {
    // 60 x 60 distinct values = 3600 combos > maxDomain=1000: the build
    // must fail loudly BEFORE materializing the cross join (SURVEY §7.4
    // item 4 — a high-cardinality key would otherwise silently explode)
    val d = (0 until 60).map(i => (i, s"v$i", 1.0)).toDF("k1", "k2", "value")
    val g = new GroupBy(d, Seq(col("k1"), col("k2")))
    val e = intercept[IllegalArgumentException] { g.keyDomain(maxDomain = 1000) }
    assert(e.getMessage.contains("3600"))
    assert(e.getMessage.contains("maxDomain"))
    // under the cap the same domain builds fine
    assert(g.keyDomain(maxDomain = 5000).count() === 3600)
  }

  test("reindex fills only join-missed combos, not genuine null aggregates") {
    // group "a" has only null values → mean is genuinely null and must
    // SURVIVE the fill; "c" is unobserved → filled (advisory regression:
    // na.fill over the joined frame overwrote both)
    val d = Seq(("a", scala.None), ("a", scala.None), ("b", Some(2.0)))
      .toDF("k", "v")
    val g = new GroupBy(d, Seq(col("k")))
    val domain = Seq("a", "b", "c").toDF("k")
    val out = g.reindex(g.mean(Seq(col("v"))), domain, fill = Some(0L))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) scala.None else Some(r.getDouble(1)))).toMap
    assert(out === Map("a" -> scala.None, "b" -> Some(2.0), "c" -> Some(0.0)))
  }

  test("unpersist releases only a persisted GroupBy's own cache") {
    val cached = fixture.cache()
    cached.count()
    // never-persisted GroupBy must not evict the caller's cache
    new GroupBy(cached, Seq(col("key"))).unpersist()
    assert(cached.storageLevel.useMemory)
    val p = new GroupBy(cached, Seq(col("key"))).persisted
    p.sum(Seq(col("value"))).collect()
    assert(p.df.storageLevel.useMemory)
    p.unpersist()
    assert(!p.df.storageLevel.useMemory)
    assert(cached.storageLevel.useMemory) // caller cache untouched
    cached.unpersist()
  }

  test("approx nunique and median track the exact ops") {
    // 1000 rows, 2 keys, values 0..499 per key → nunique 500, median ~249.5
    val d = (0 until 1000).map(i => (i % 2, (i / 2).toDouble)).toDF("key", "value")
    val g = new GroupBy(d, Seq(col("key")))
    val approx = asMap(g.nuniqueApprox(Seq(col("value")), rsd = 0.02))
    assert(approx.values.forall { n =>
      math.abs(n.asInstanceOf[Long] - 500L) <= 500 * 0.06 })
    // accuracy >> n distinct → approx median is an exact data value
    val med = asMap(g.medianApprox(Seq(col("value"))))
    assert(med.values.forall { m =>
      math.abs(m.asInstanceOf[Double] - 249.5) <= 1.0 })
  }

  test("null keys are dropped (pandas dropna=True parity)") {
    val df = Seq((Some(1), 1.0), (None, 2.0), (Some(1), 3.0), (None, 4.0))
      .toDF("key", "value")
    val out = new GroupBy(df, Seq(col("key"))).sum(Seq(col("value")))
    assert(out.collect().map(r => (r.get(0), r.getDouble(1))).toSeq === Seq((1, 4.0)))
  }

  test("null values skipped by sum/mean/count; size counts them") {
    val df = Seq((1, Some(1.0)), (1, None), (2, None)).toDF("key", "value")
    val g = new GroupBy(df, Seq(col("key")))
    assert(asMap(g.sum(Seq(col("value")))) === Map(1 -> 1.0, 2 -> null))
    assert(asMap(g.count(Seq(col("value"))), "value") === Map(1 -> 1L, 2 -> 0L))
    assert(asMap(g.size(), "size") === Map(1 -> 2L, 2 -> 1L))
  }

  test("mean/min/max/median per group") {
    assert(asMap(gb.mean(Seq(col("value"))))(3) === 7.0)
    assert(asMap(gb.min(Seq(col("value"))))(1) === -1.0)
    assert(asMap(gb.max(Seq(col("value"))))(6) === 12.6)
    assert(asMap(gb.median(Seq(col("value"))))(1) === 0.65)
  }

  test("first/last return first/last non-null in ord order") {
    val df = Seq((0, 1, None), (1, 1, Some(5.0)), (2, 1, Some(7.0)), (3, 1, None))
      .toDF("ord", "key", "value")
    val g = new GroupBy(df, Seq(col("key")))
    assert(asMap(g.first(Seq(col("value")), col("ord"))) === Map(1 -> 5.0))
    assert(asMap(g.last(Seq(col("value")), col("ord"))) === Map(1 -> 7.0))
  }

  test("var matches pandas ddof=1; ddof=0 and ddof=2 variants") {
    val v = asMap(gb.variance(Seq(col("value"))))
    assert(math.abs(v(3).asInstanceOf[Double] - 2.0) < 1e-12)
    val v0 = asMap(gb.variance(Seq(col("value")), ddof = 0))
    assert(math.abs(v0(3).asInstanceOf[Double] - 1.0) < 1e-12)
    // ddof = 2 on a 2-element group: n - ddof = 0 → null, not error (ANSI-safe)
    val v2 = asMap(gb.variance(Seq(col("value")), ddof = 2))
    assert(v2(3) == null)
  }

  test("agg zips funcs to columns 1:1 and rejects mismatched lengths") {
    val out = gb.agg(Seq("sum", "max"),
      Seq(col("value").as("s"), col("value").as("m")))
    assert(out.columns.toSeq === Seq("key", "s", "m"))
    val e = intercept[IllegalArgumentException] {
      gb.agg(Seq("sum"), Seq(col("value"), col("value")))
    }
    assert(e.getMessage.contains("must match"))
  }

  test("transform broadcasts the group aggregate back to input shape") {
    val out = gb.sum(Seq(col("value").as("total")), transform = true)
    assert(out.count() === 9)
    val row = out.filter(col("ord") === 0).select("total").head.getDouble(0)
    assert(math.abs(row - 3.8) < 1e-12)
  }

  test("transform mode works for every aggregation op") {
    val ordV = struct(col("ord"), col("value"))
    val out = gb.aggregate(Seq(
        AggSpec("mean", col("value"), "t_mean"),
        AggSpec("min", col("value"), "t_min"),
        AggSpec("median", col("value"), "t_med"),
        AggSpec("nunique", col("value"), "t_nu"),
        AggSpec("first", col("value"), "t_first", ord = Some(ordV)),
        AggSpec("last", col("value"), "t_last", ord = Some(ordV)),
        AggSpec("var", col("value"), "t_var", ddof = 2),
        AggSpec("approx_nunique", col("value"), "t_anu")),
      transform = true)
    assert(out.count() === 9) // input-shaped
    val k1 = out.filter(col("key") === 1).collect()
    assert(k1.forall(r => math.abs(r.getAs[Double]("t_mean") - 0.95) < 1e-12))
    assert(k1.forall(_.getAs[Double]("t_min") === -1.0))
    assert(k1.forall(_.getAs[Long]("t_nu") === 4L))
    assert(k1.forall(_.getAs[Double]("t_first") === -1.0))
    assert(k1.forall(_.getAs[Double]("t_last") === 1.0))
    assert(k1.forall(_.getAs[Long]("t_anu") === 4L))
  }

  test("transform leaves null-key rows null") {
    val df = Seq((Some(1), 1.0), (None, 2.0)).toDF("key", "value")
    val out = new GroupBy(df, Seq(col("key")))
      .sum(Seq(col("value").as("t")), transform = true)
    assert(out.filter(col("key").isNull).select("t").head.isNullAt(0))
  }

  test("margins=All emits per-level All rows plus grand total") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0))
      .toDF("k1", "k2", "value")
    val out = new GroupBy(df, Seq(col("k1"), col("k2")))
      .sum(Seq(col("value")), margins = Margins.All)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out === Map(
      ("a", "x") -> 1.0, ("a", "y") -> 2.0, ("b", "x") -> 3.0,
      ("a", "All") -> 3.0, ("b", "All") -> 3.0,
      ("All", "x") -> 4.0, ("All", "y") -> 2.0, ("All", "All") -> 6.0))
  }

  test("margins=Levels(0) only adds All rows for level 0") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0))
      .toDF("k1", "k2", "value")
    val out = new GroupBy(df, Seq(col("k1"), col("k2")))
      .sum(Seq(col("value")), margins = Margins.Levels(Seq(0)))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("a", "x"), ("a", "y"), ("b", "x"), ("All", "x"), ("All", "y")))
  }

  test("ratio / subsetRatio / density") {
    val r = asMap(gb.ratio(col("value") * 2, col("value"), name = "r"), "r")
    assert(math.abs(r(3).asInstanceOf[Double] - 2.0) < 1e-12)

    val sr = asMap(gb.subsetRatio(col("value"), col("value") > 6.0), "subset_ratio")
    assert(math.abs(sr(3).asInstanceOf[Double] - 8.0 / 14.0) < 1e-12)

    val d = asMap(gb.density(col("value"), exact = true), "density")
    assert(math.abs(d.values.map(_.asInstanceOf[Double]).sum - 100.0) < 1e-9)
  }

  test("non-additive density divides by the sum of group AGGREGATES") {
    // op=mean routes the two-stage branch: denominator = Σ group means
    // (2 + 6 = 8), NOT the global mean of all rows
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 6.0)).toDF("k", "value")
    val out = new GroupBy(df, Seq(col("k"))).density(col("value"), op = "mean")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("a") - 25.0) < 1e-9)
    assert(math.abs(out("b") - 75.0) < 1e-9)
  }

  test("normalized valueCounts: proportions of the masked total; all-masked values drop") {
    val df = Seq("x", "x", "x", "y", "z").toDF("v")
    val out = GroupBy.valueCounts(df, col("v"), normalize = true,
        mask = Some(col("v") =!= "z"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // z is fully masked → dropped (observed_only parity with size(mask))
    assert(out.keySet === Set("x", "y"))
    assert(math.abs(out("x") - 0.75) < 1e-12)
    assert(math.abs(out("y") - 0.25) < 1e-12)
  }

  test("two-level density divides by the level-0 subtotal (reference core.py:1367)") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 3.0), ("b", "x", 2.0), ("b", "y", 6.0))
      .toDF("k1", "k2", "value")
    val out = new GroupBy(df, Seq(col("k1"), col("k2")))
      .density(col("value"), exact = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // each level-0 slice sums to 100, not the whole result
    assert(math.abs(out(("a", "x")) - 25.0) < 1e-9)
    assert(math.abs(out(("a", "y")) - 75.0) < 1e-9)
    assert(math.abs(out(("b", "x")) - 25.0) < 1e-9)
    assert(math.abs(out(("b", "y")) - 75.0) < 1e-9)
    // >2 levels raise, as in the reference
    intercept[IllegalArgumentException] {
      new GroupBy(df, Seq(col("k1"), col("k2"), col("value")))
        .density(col("value"))
    }
  }

  test("nunique counts distinct non-null values per group, mask applies inside") {
    val df = Seq(
      (1, Some("a")), (1, Some("a")), (1, Some("b")), (1, None),
      (2, Some("c")), (2, None)
    ).toDF("key", "v")
    val g = new GroupBy(df, Seq(col("key")))
    assert(asMap(g.nunique(Seq(col("v").as("n"))), "n") ===
      Map(1 -> 2L, 2 -> 1L)) // nulls don't count as a distinct value
    assert(asMap(g.nunique(Seq(col("v").as("n")), mask = Some(col("v") =!= "a")), "n") ===
      Map(1 -> 1L, 2 -> 1L))
  }

  test("keyCount counts all rows per group regardless of value nullity") {
    val df = Seq((1, Some(1.0)), (1, None), (2, None)).toDF("key", "value")
    val g = new GroupBy(df, Seq(col("key")))
    assert(asMap(g.keyCount("n"), "n") === Map(1 -> 2L, 2 -> 1L))
  }

  test("datetime mean uses integer-division semantics (reference util.py:1290)") {
    // reference mean_from_sum_count floors the int64 division; three
    // timestamps 1s apart → mean floors to the middle, not rounds
    val df = Seq((1, 1000001L), (1, 1000002L), (1, 1000004L)).toDF("key", "us")
    val g = new GroupBy(df, Seq(col("key")))
    val m = g.mean(Seq(col("us").as("m"))).collect().head.getDouble(1)
    assert(math.floor(m).toLong === 1000002L) // (1+2+4)/3 = 2.33 → 2
  }

  test("groupsOf returns sorted row ids per group") {
    val out = gb.groupsOf(col("ord")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(out(1) === Seq(0, 1, 3, 7))
  }

  test("groupsOf maxGroupSize guard fails loudly on a giant group (round-9 verdict item 5)") {
    val d = spark.range(100).select((col("id") % 2).as("k"), col("id"))
    val g = new GroupBy(d, Seq(col("k")))
    // within bound: both 50-row groups pass
    assert(g.groupsOf(col("id"), maxGroupSize = 50).count() === 2L)
    // one row over: the aggregation itself raises, not an executor OOM
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    val e = intercept[Exception] {
      g.groupsOf(col("id"), maxGroupSize = 49).collect()
    }
    assert(msgs(e).contains("maxGroupSize"), msgs(e))
    intercept[IllegalArgumentException] { g.groupsOf(col("id"), maxGroupSize = 0) }
  }

  /** The perfbench reuse table in miniature: keys (k1, k2), a unique
    * order `ts`, three nullable values on a half-integer grid (so every
    * sum is exact whatever the row order) and a boolean mask; with
    * `nullKeys` some rows carry a null k1 or k2.
    */
  private def reuseFixture(nullKeys: Boolean): DataFrame =
    (0 until 48).map { i =>
      val k1 = if (nullKeys && i % 11 == 3) None else Some(i % 3)
      val k2 = if (nullKeys && i % 13 == 5) None else Some(s"s${i % 2}")
      def v(j: Int) = if ((i + j) % 7 == 0) None else Some(((i * (j + 3)) % 17 - 8) / 2.0)
      (k1, k2, i.toLong, v(1), v(2), v(3), i % 3 != 1)
    }.toDF("k1", "k2", "ts", "v1", "v2", "v3", "m")

  test("persisted GroupBy returns identical results") {
    import graft.api.Implicits._
    import graft.operators.Reshape
    val (v1, v2, v3, m, ts) = (col("v1"), col("v2"), col("v3"), col("m"), col("ts"))
    // the 13 perfbench reuse request kinds; the grouped kinds return
    // key-ordered results when `sort`, the windowed ones input rows
    val grouped: Seq[(String, GroupBy => DataFrame)] = Seq(
      "sum_masked" -> (_.sum(Seq(v1, v2), mask = Some(m))),
      "mean_masked" -> (_.mean(Seq(v1, v2), mask = Some(m))),
      "min_max" -> (_.agg(Seq("min", "max"), Seq(v1, v2))),
      "std" -> (_.std(Seq(v1))),
      "nunique" -> (_.nunique(Seq(round(v3, 1).as("v3r")))),
      "size_margins" -> (_.size(margins = Margins.All)),
      "crosstab" -> (g => Reshape.crosstab(g.df, Seq(col("k1")), col("k2"),
        margins = Margins.All)))
    val windowed: Seq[(String, GroupBy => DataFrame)] = Seq(
      "transform_mean" -> (_.mean(Seq(v1), transform = true)),
      "rolling_sum" -> (_.rolling(5, Some(1)).sum(v1, ts)),
      "rolling_mean" -> (_.rolling(5, Some(1)).mean(v2, ts)),
      "cumsum" -> (_.windows.cumsum(v1, ts)),
      "cummax" -> (_.windows.cummax(v2, ts)),
      "ewm_mean" -> (_.windows.ewmMean(v3, ts, alpha = 0.25)))
    // doubles agree to 1e-12 (std's moment merge is order-dependent)
    def close(a: Row, b: Row): Boolean = a.length == b.length &&
      a.toSeq.zip(b.toSeq).forall {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    def rows(d: DataFrame, ordered: Boolean): Seq[Row] = {
      val rs = d.collect().toSeq
      if (ordered) rs else rs.sortBy(_.toString)
    }
    // (label, sort, dropNullKeys, fixture, request kinds)
    val variants = Seq(
      ("sorted", true, true, reuseFixture(false), grouped ++ windowed),
      ("sort = false", false, true, reuseFixture(false), grouped),
      ("dropNullKeys = false", true, false, reuseFixture(true), grouped ++ windowed))
    for ((label, sort, dropNull, d, kinds) <- variants) {
      val plain = GroupBy(d, Seq(col("k1"), col("k2")), sort = sort,
        dropNullKeys = dropNull)
      val p = plain.persisted
      for ((kind, run) <- kinds) {
        // sorted grouped results must agree row for row, nulls first
        val ordered = sort && grouped.exists(_._1 == kind)
        val (got, want) = (rows(run(p), ordered), rows(run(plain), ordered))
        assert(got.size === want.size && got.zip(want).forall { case (a, b) => close(a, b) },
          s"$label / $kind:\n${got.mkString("\n")}\nvs\n${want.mkString("\n")}")
      }
      p.unpersist()
    }
  }

  test("expression key aliased to an existing column name is rejected (review regression)") {
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)).toDF("x", "v")
    // silently grouping by raw x would be wrong; silently replacing x
    // would corrupt value expressions — the collision must be loud
    val e = intercept[IllegalArgumentException] {
      new GroupBy(df, Seq((col("x") % 2).as("x"))).sum(Seq(col("v"))).collect()
    }
    assert(e.getMessage.contains("alias it to a fresh name"))
    // the fresh-alias form groups by the expression
    val out = new GroupBy(df, Seq((col("x") % 2).as("x2")))
      .sum(Seq(col("v"))).collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(out === Map(0 -> 60.0, 1 -> 40.0))
  }

  test("duplicate output names are rejected") {
    val e = intercept[IllegalArgumentException] {
      gb.agg(Seq("sum", "mean"), Seq(col("value"), col("value")))
    }
    assert(e.getMessage.contains("duplicate output column names"))
  }

  test("aggregateSalted matches aggregate incl. observedOnly group drop") {
    val m = Some(col("key") =!= 1)
    val salted = gb.aggregateSalted(
      Seq(graft.operators.AggSpec("sum", col("value"), "s", exact = true)),
      saltBuckets = 4, mask = m)
    val plain = gb.aggregate(
      Seq(graft.operators.AggSpec("sum", col("value"), "s", exact = true)),
      mask = m)
    assert(salted.collect().toSeq === plain.collect().toSeq)
  }

  test("quantile/skew/kurt match a scala oracle with pandas semantics") {
    val data = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 5.0), ("b", 5.0), ("b", 6.0), ("b", 7.0), ("b", 30.0),
      ("c", 1.0), ("c", 2.0), // n=2: skew null, kurt null
      ("d", 1.0), ("d", 2.0), ("d", 4.0)) // n=3: skew defined, kurt null
    val d = data.toDF("k", "v")
    val g = new GroupBy(d, Seq(col("k")))

    def quantileOracle(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted; val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    def moments(xs: Seq[Double]): (Double, Double, Double, Double) = {
      val n = xs.size.toDouble; val m = xs.sum / n
      def ck(k: Int) = xs.map(x => math.pow(x - m, k)).sum / n
      (n, ck(2), ck(3), ck(4))
    }
    def skewOracle(xs: Seq[Double]): Option[Double] = {
      val (n, m2, m3, _) = moments(xs)
      if (n < 3) None
      else Some(m3 / math.pow(m2, 1.5) * math.sqrt(n * (n - 1)) / (n - 2))
    }
    def kurtOracle(xs: Seq[Double]): Option[Double] = {
      val (n, m2, _, m4) = moments(xs)
      if (n < 4) None
      else Some(((n + 1) * (m4 / (m2 * m2) - 3) + 6) * (n - 1) / ((n - 2) * (n - 3)))
    }
    val byKey = data.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    for (q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      val got = g.quantile(Seq(col("v")), q).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      for ((k, xs) <- byKey)
        assert(math.abs(got(k) - quantileOracle(xs, q)) < 1e-9,
          s"quantile($q) key $k")
    }
    val sk = g.skew(Seq(col("v"))).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val ku = g.kurt(Seq(col("v"))).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    for ((k, xs) <- byKey) {
      (sk(k), skewOracle(xs)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"skew key $k")
        case (a, b) => assert(a === b, s"skew key $k")
      }
      (ku(k), kurtOracle(xs)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"kurt key $k")
        case (a, b) => assert(a === b, s"kurt key $k")
      }
    }
    intercept[IllegalArgumentException] { g.quantile(Seq(col("v")), 1.5) }
  }

  test("cov/corr: pairwise-complete pandas semantics, ddof variants, degenerate groups") {
    val d = Seq[(String, Option[Double], Option[Double])](
      ("a", Some(1.0), Some(2.0)), ("a", Some(2.0), Some(4.0)), ("a", Some(3.0), Some(6.0)),
      ("b", Some(1.0), Some(5.0)), ("b", Some(2.0), Some(3.0)),
      ("c", Some(1.0), Some(7.0)),                       // n=1: cov/corr null
      ("d", Some(1.0), Some(1.0)), ("d", Some(1.0), Some(3.0)), // x-variance 0
      ("e", Some(1.0), Some(2.0)), ("e", None, Some(10.0)), ("e", Some(2.0), Some(4.0))
    ).toDF("k", "x", "y")
    val g = new GroupBy(d, Seq(col("k")))
    def m(df: org.apache.spark.sql.DataFrame, c: String): Map[String, Any] =
      df.collect().map(r => r.getString(0) -> r.get(r.fieldIndex(c))).toMap

    val cv = m(g.cov(col("x"), col("y")), "cov")
    assert(cv("a") === 2.0 && cv("b") === -1.0 && cv("c") == null)
    assert(cv("d") === 0.0)
    assert(cv("e") === 1.0)  // the null-x pair is excluded entirely

    val cvp = m(g.cov(col("x"), col("y"), ddof = 0), "cov")
    assert(math.abs(cvp("a").asInstanceOf[Double] - 4.0 / 3) < 1e-12)
    assert(cvp("c") === 0.0 || cvp("c") == null) // n=1, ddof=0: defined, zero
    assert(cvp("b") === -0.5)

    val cr = m(g.corr(col("x"), col("y")), "corr")
    assert(cr("a") === 1.0 && cr("b") === -1.0)
    assert(cr("c") == null)   // n < 2
    assert(cr("d") == null)   // zero marginal variance → null, not NaN
    assert(cr("e") === 1.0)

    // mask composes: only 'a' rows with x >= 2 → n=2 per pair
    val cm = m(g.cov(col("x"), col("y"), mask = Some(col("x") >= 2.0)), "cov")
    assert(cm("a") === 1.0 && !cm.contains("c")) // fully-masked group drops

    // exact=false (plain double sums, codegen-friendly — the DEFAULT
    // since round 11): same values on this well-conditioned fixture,
    // same null semantics on the degenerate groups
    val cf = m(g.corr(col("x"), col("y"), exact = false), "corr")
    assert(cf("a") === 1.0 && cf("b") === -1.0 && cf("c") == null &&
      cf("d") == null)
    val cvf = m(g.cov(col("x"), col("y"), exact = false), "cov")
    assert(math.abs(cvf("a").asInstanceOf[Double] - 2.0) < 1e-12)
  }

  test("cov/corr: fast default and exact twin agree to 1e-12 on a real table") {
    // round-11 verdict item 3: corr defaults to the fast (plain
    // double) path; this pins the two paths to each other at 1e-12 on
    // lineitem sf0.001 so the default flip cannot silently change the
    // statistic beyond ulp noise
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val g = new GroupBy(li, Seq(col("l_returnflag"), col("l_linestatus")))
    val x = col("l_quantity"); val y = col("l_extendedprice")
    def byKey(df: org.apache.spark.sql.DataFrame, c: String) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex(c))).toMap
    val fast = byKey(g.corr(x, y), "corr")
    val exact = byKey(g.corr(x, y, exact = true), "corr")
    assert(fast.keySet === exact.keySet)
    fast.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) < 1e-12, s"corr mismatch at $k") }
    // cov gets a relative 1e-10: the moment identity Σxy − ΣxΣy/n
    // cancels ~1e7-magnitude partial sums on this table, so the
    // double path's last-ulp accumulation-order noise amplifies a
    // couple of decades (measured ~2e-12 relative here) — still 14
    // orders below the statistic, but past a literal 1e-12
    val fastCv = byKey(g.cov(x, y), "cov")
    val exactCv = byKey(g.cov(x, y, exact = true), "cov")
    fastCv.foreach { case (k, v) =>
      assert(math.abs(v - exactCv(k)) < 1e-10 * math.max(1.0, math.abs(v)),
        s"cov mismatch at $k") }
  }

  test("prod: sign parity, zero latch, empty-group identity, null skip; sem = std/sqrt(n)") {
    val d = Seq(
      ("a", Some(2.0)), ("a", Some(-3.0)), ("a", Some(0.5)),   // -3.0
      ("b", Some(-2.0)), ("b", Some(-5.0)),                    // 10.0
      ("c", Some(4.0)), ("c", Some(0.0)), ("c", Some(-7.0)),   // 0.0 (latch)
      ("d", None),                                             // empty → 1.0
      ("e", Some(1.5))
    ).toDF("k", "v")
    val g = new GroupBy(d, Seq(col("k")))
    val p = g.aggregate(Seq(graft.operators.AggSpec("prod", col("v"), "p")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(p("a") - (-3.0)) < 1e-6)  // ln terms decimal-round at scale 8
    assert(math.abs(p("b") - 10.0) < 1e-6)
    assert(p("c") === 0.0)
    assert(p("d") === 1.0)   // pandas: prod of all-NaN group is 1.0
    assert(math.abs(p("e") - 1.5) < 1e-6)

    // sem: std/sqrt(n); group [2, 4, 6]: std=2, n=3
    val ds = Seq(("x", 2.0), ("x", 4.0), ("x", 6.0)).toDF("k", "v")
    val s = new GroupBy(ds, Seq(col("k")))
      .aggregate(Seq(graft.operators.AggSpec("sem", col("v"), "s")))
      .head().getDouble(1)
    assert(math.abs(s - 2.0 / math.sqrt(3.0)) < 1e-12)
  }

  test("any/all: skipna with pandas empty-group identities; idxmin/idxmax first-occurrence ties; ohlc") {
    val d = Seq[(String, Int, Option[Double])](
      ("a", 0, Some(5.0)), ("a", 1, Some(2.0)), ("a", 2, Some(2.0)), ("a", 3, Some(5.0)),
      ("b", 4, None), ("b", 5, None),
      ("c", 6, Some(-1.0))
    ).toDF("k", "ord", "v")
    val g = new GroupBy(d, Seq(col("k")))
    def m(df: DataFrame): Map[String, Any] =
      df.collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(m(g.any(Seq((col("v") > 0).as("f")))) ===
      Map("a" -> true, "b" -> false, "c" -> false)) // all-null group → false
    assert(m(g.all(Seq((col("v") > 0).as("f")))) ===
      Map("a" -> true, "b" -> true, "c" -> false))  // all-null group → true
    // ties: min value 2.0 at ords 1,2 → idxmin 1; max 5.0 at 0,3 → idxmax 0
    assert(m(g.idxmin(Seq(col("v").as("i")), col("ord"))) ===
      Map("a" -> 1, "b" -> null, "c" -> 6))
    assert(m(g.idxmax(Seq(col("v").as("i")), col("ord"))) ===
      Map("a" -> 0, "b" -> null, "c" -> 6))
    val o = g.ohlc(col("v"), col("ord")).collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3), r.get(4))).toMap
    assert(o("a") === ((5.0, 5.0, 2.0, 5.0)))
    assert(o("c") === ((-1.0, -1.0, -1.0, -1.0)))
  }

  test("rank: pandas methods (min/dense/first/average), pct, descending, null handling") {
    // group g: values [10, 20, 20, null, 30]
    val d = Seq((0, "g", Some(10.0)), (1, "g", Some(20.0)), (2, "g", Some(20.0)),
      (3, "g", None), (4, "g", Some(30.0)), (5, "h", Some(1.0)))
      .toDF("ord", "k", "v")
    val g = new GroupBy(d, Seq(col("k")))
    def ranks(method: String, asc: Boolean = true, pct: Boolean = false) =
      g.rank(col("v"), method, ascending = asc, pct = pct,
          ord = Some(col("ord")))
        .collect().map(r => r.getInt(0) ->
          (if (r.isNullAt(r.fieldIndex("rank"))) null
           else r.getDouble(r.fieldIndex("rank")))).toMap
    assert(ranks("min") === Map(0 -> 1.0, 1 -> 2.0, 2 -> 2.0, 3 -> null,
      4 -> 4.0, 5 -> 1.0))
    assert(ranks("dense") === Map(0 -> 1.0, 1 -> 2.0, 2 -> 2.0, 3 -> null,
      4 -> 3.0, 5 -> 1.0))
    assert(ranks("first") === Map(0 -> 1.0, 1 -> 2.0, 2 -> 3.0, 3 -> null,
      4 -> 4.0, 5 -> 1.0))
    assert(ranks("average") === Map(0 -> 1.0, 1 -> 2.5, 2 -> 2.5, 3 -> null,
      4 -> 4.0, 5 -> 1.0))
    // pct: average rank / non-null count (4 in g)
    assert(ranks("average", pct = true) === Map(0 -> 0.25, 1 -> 0.625,
      2 -> 0.625, 3 -> null, 4 -> 1.0, 5 -> 1.0))
    // descending: 30 ranks 1
    assert(ranks("min", asc = false) === Map(0 -> 4.0, 1 -> 2.0, 2 -> 2.0,
      3 -> null, 4 -> 1.0, 5 -> 1.0))
    // dense+pct divides by the DISTINCT non-null count (3 in g, not
    // the 4 non-null rows — pandas GH#15630), so the top value
    // reaches exactly 1.0 despite the tie
    assert(ranks("dense", pct = true) === Map(0 -> (1.0 / 3), 1 -> (2.0 / 3),
      2 -> (2.0 / 3), 3 -> null, 4 -> 1.0, 5 -> 1.0))
    intercept[IllegalArgumentException] { g.rank(col("v"), "median") }
  }
  test("maskSlice / maskIndices compile reference positional masks onto the explicit row id") {
    import spark.implicits._
    // rows with explicit 0-based ids, grouped by parity of v
    val d = (0L until 20L).map(i => (i, (i % 3).toString, i.toDouble))
      .toDF("rid", "k", "v")
    val g = new GroupBy(d, Seq(col("k")))
    // slice(4, 16, 3) -> ids 4, 7, 10, 13 (all ≡ 1 mod 3: the stride
    // aligns with the grouping, so the other groups are fully masked
    // and drop under observed-only, like a pandas pre-filter would)
    val s = g.aggregate(Seq(AggSpec("sum", col("v"), "s")),
        mask = Some(GroupBy.maskSlice(col("rid"), 4L, 16L, 3L)))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(s === Map("1" -> (4.0 + 7.0 + 10.0 + 13.0)), s"got $s")
    // default step 1: half-open [4, 7) -> ids 4, 5, 6
    val s1 = g.aggregate(Seq(AggSpec("sum", col("v"), "s")),
        mask = Some(GroupBy.maskSlice(col("rid"), 4L, 7L)))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(s1 === Map("0" -> 6.0, "1" -> 4.0, "2" -> 5.0))
    // fancy indexer: ids {0, 5, 19}; empty indexer masks everything
    val f = g.aggregate(Seq(AggSpec("sum", col("v"), "s")),
        mask = Some(GroupBy.maskIndices(col("rid"), Seq(0L, 5L, 19L))))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(f === Map("0" -> 0.0, "1" -> 19.0, "2" -> 5.0))
    // empty indexer masks every row -> observed-only drops all groups
    val e = g.aggregate(Seq(AggSpec("count", col("v"), "n")),
        mask = Some(GroupBy.maskIndices(col("rid"), Seq.empty)))
    assert(e.count() === 0L)
    // guards
    intercept[IllegalArgumentException] { GroupBy.maskSlice(col("rid"), -1L, 5L) }
    intercept[IllegalArgumentException] { GroupBy.maskSlice(col("rid"), 5L, 4L) }
    intercept[IllegalArgumentException] { GroupBy.maskSlice(col("rid"), 0L, 5L, 0L) }
  }

  test("getGroup returns one group's rows; arity and missing-label behavior") {
    import spark.implicits._
    val d = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (4, null, 9.0))
      .toDF("id", "k", "v")
    val g = new GroupBy(d, Seq(col("k")))
    val a = g.getGroup("a").select("id").as[Int].collect().sorted
    assert(a.toSeq === Seq(1, 3))
    assert(g.getGroup("zzz").count() === 0L)
    intercept[IllegalArgumentException] { g.getGroup("a", "b") }
    // two-key form
    val g2 = new GroupBy(d, Seq(col("k"), col("id")))
    assert(g2.getGroup("a", 3).select("v").as[Double].collect().toSeq === Seq(3.0))
    // null label under dropNullKeys (default): no group can have a
    // null label — raise like pandas' KeyError instead of silently
    // returning empty (round-9 verdict item 9)
    val eN = intercept[IllegalArgumentException] { g.getGroup(null) }
    assert(eN.getMessage.contains("null is not a group label"))
    // dropNullKeys = false: null IS a group label and addresses it
    val gn = new GroupBy(d, Seq(col("k")), dropNullKeys = false)
    assert(gn.getGroup(null).select("id").as[Int].collect().toSeq === Seq(4))
  }
}
