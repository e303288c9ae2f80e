package perfbench

import graft.api.Implicits._
import graft.operators.{GroupBy, Margins, Reshape}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference harness's table shape (BASELINE.md): `k1` uniform over
  * 1,000 groups, `k2` over 8 labels, a unique order column `ts`, three
  * Gaussian value columns with ~5% nulls, and a boolean mask `m`. Built
  * in Spark from `range`, so a seed and a row count fix every value.
  */
object GbData {
  val Epoch = 1700000000L

  def table(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    def value(i: Int) =
      when(rand(seed + 10 + i) >= 0.05, randn(seed + 20 + i)).as(s"v$i")
    spark.range(0L, rows, 1L, parts).select(
      pmod(xxhash64(col("id"), lit(seed)), lit(1000L)).cast("int").as("k1"),
      concat(lit("s"), pmod(xxhash64(col("id"), lit(seed + 1)), lit(8L)).cast("string")).as("k2"),
      timestamp_seconds(lit(Epoch) + col("id")).as("ts"),
      value(1), value(2), value(3),
      (rand(seed + 30) < 0.5).as("m"))
  }

  /** Order-sensitive digest of a row-level output column: count, sum, a
    * ts-weighted sum (catches values landing on the wrong row) and the
    * absolute sum that scales the tolerance.
    */
  def digest(df: DataFrame, c: String): Seq[Any] = {
    val w = pmod(xxhash64(col("ts")), lit(997L)).cast("double") / 997.0
    df.agg(count(col(c)), sum(col(c)), sum(col(c) * w), sum(abs(col(c)))).head().toSeq
  }

  def sameDigest(got: Seq[Any], want: Seq[Any]): Option[String] = {
    val scale = 1e-9 * math.max(1.0, Option(want(3)).map(_.toString.toDouble).getOrElse(0.0))
    val ok = got.head == want.head &&
      got.zip(want).tail.forall { case (a, b) => Check.close(a, b, 1e-9, scale) }
    if (ok) None else Some(s"digest ${got.mkString(",")} expected ${want.mkString(",")}")
  }
}

/** groupby_reuse: one persisted GroupBy over (k1, k2), then a seed-ordered
  * mix of aggregations, window ops and a crosstab that all read its cached
  * key partitioning.
  */
final class GroupByReuse(spark: SparkSession, seed: Long, rows: Long) extends Workload {
  val setupLayer = "GroupBy.persist_ms"
  private val parts = 8
  private var gb: GroupBy = _
  private var want: Map[String, Any] = Map.empty

  def describe: Map[String, Any] = Map("rows" -> rows, "k1_groups" -> 1000,
    "k2_values" -> 8, "null_frac" -> 0.05, "rolling_window" -> 50, "ewm_alpha" -> 0.2)

  private def raw = GbData.table(spark, rows, seed, parts)
  private val keys = Seq(col("k1"), col("k2"))
  private val (v1, v2, v3, m, ts) = (col("v1"), col("v2"), col("v3"), col("m"), col("ts"))

  def setupData(): Unit = {
    if (gb != null) gb.unpersist()
    gb = GroupBy(raw, keys).persisted
    gb.df.count()
  }

  private val Grouped = Seq("sum_masked", "mean_masked", "min_max", "std", "nunique")
  private val Windowed = Seq("transform_mean", "rolling_sum", "rolling_mean",
    "cumsum", "cummax", "ewm_mean")
  private val Kinds = Grouped ++ Windowed ++ Seq("size_margins", "crosstab")

  val cycle: Seq[Req] =
    new scala.util.Random(seed).shuffle(Kinds).map(Req(_, 0))
  // after one cold pass the next pass still ran ~1.4x slower than the one
  // after it (JIT); the second pass mostly overlaps the reference queries
  override val warmPasses = 2

  def prepareChecks(): Unit = {
    val df = raw
    val g = df.groupBy(keys: _*).agg(
      sum(when(m, v1)), sum(when(m, v2)), avg(when(m, v1)), avg(when(m, v2)),
      min(v1), max(v2), stddev_samp(v1), count_distinct(round(v3, 1)),
      count(when(m, lit(1))).as("mn")).collect().toSeq
    def pick(masked: Boolean, idx: Int*) =
      Check.keyed(g.filter(r => !masked || r.getLong(10) > 0)
        .map(r => Row.fromSeq(Seq(r.get(0), r.get(1)) ++ idx.map(i => r.get(i)))), 2)
    val cube = df.cube(keys: _*).agg(count(lit(1)), grouping(col("k1")), grouping(col("k2")))
      .collect().toSeq.map { r =>
        def lab(i: Int) = if (r.getByte(3 + i) == 1) "All" else String.valueOf(r.get(i))
        Seq(lab(0), lab(1)) -> Seq[Any](r.getLong(2))
      }.toMap
    val cells = df.groupBy("k1", "k2").count().collect()
      .map(r => (r.getInt(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val labels = cells.keys.map(_._2).toSeq.distinct.sorted
    val rowKeys = cells.keys.map(_._1).toSeq.distinct
    def cellsOf(rk: Option[String]): Seq[Any] = {
      val in = cells.filter { case ((r, _), _) => rk.forall(_ == r) }
      labels.map(l => in.collect { case ((_, `l`), n) => n }.sum) :+ in.values.sum
    }
    val crosstab = (rowKeys.map(rk => Seq(rk) -> cellsOf(Some(rk))) :+
      (Seq("All") -> cellsOf(None))).toMap
    val wp = Window.partitionBy(keys: _*)
    val wo = wp.orderBy(ts)
    val roll = wo.rowsBetween(-49, Window.currentRow)
    val cum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val decay = pow(lit(0.8), -col("rn").cast("double"))
    val windowed = df.withColumn("rn", row_number().over(wo)).select(ts,
      avg(v1).over(wp).as("transform_mean"),
      when(count(v1).over(roll) >= 1, sum(v1).over(roll)).as("rolling_sum"),
      when(count(v2).over(roll) >= 1, avg(v2).over(roll)).as("rolling_mean"),
      sum(v1).over(cum).as("cumsum"),
      max(v2).over(cum).as("cummax"),
      (sum(when(v3.isNotNull, v3 * decay)).over(cum) /
        sum(when(v3.isNotNull, decay)).over(cum)).as("ewm_mean"))
    val wsum = pmod(xxhash64(ts), lit(997L)).cast("double") / 997.0
    val d = windowed.agg(count(lit(1)), Windowed.flatMap(c => Seq(count(col(c)),
      sum(col(c)), sum(col(c) * wsum), sum(abs(col(c))))): _*).head().toSeq.tail
    want = Map(
      "sum_masked" -> pick(true, 2, 3), "mean_masked" -> pick(true, 4, 5),
      "min_max" -> pick(false, 6, 7), "std" -> pick(false, 8),
      "nunique" -> pick(false, 9), "size_margins" -> cube, "crosstab" -> crosstab) ++
      Windowed.zipWithIndex.map { case (c, i) => c -> d.slice(4 * i, 4 * i + 4) }
  }

  def run(r: Req, tr: Tracer): Done = {
    def grouped(layer: String, build: => DataFrame, nKeys: Int = 2): Done = {
      val res = tr.span(layer)(tr.out(build))
      val got = tr.span("bench.collect")(Check.keyed(res.collect().toSeq, nKeys))
      Done(rows, () =>
        Check.sameRows(got, want(r.kind).asInstanceOf[Map[Seq[String], Seq[Any]]], 1e-9, 1e-12))
    }
    def windowed(build: => DataFrame, c: String): Done = {
      val res = tr.span("Rolling.window")(tr.out(build))
      val got = tr.span("bench.collect")(GbData.digest(res, c))
      Done(rows, () => GbData.sameDigest(got, want(r.kind).asInstanceOf[Seq[Any]]))
    }
    r.kind match {
      case "sum_masked" => grouped("GroupBy.agg", gb.sum(Seq(v1, v2), mask = Some(m)))
      case "mean_masked" => grouped("GroupBy.agg", gb.mean(Seq(v1, v2), mask = Some(m)))
      case "min_max" => grouped("GroupBy.agg", gb.agg(Seq("min", "max"), Seq(v1, v2)))
      case "std" => grouped("GroupBy.agg", gb.std(Seq(v1), ddof = 1))
      case "nunique" => grouped("GroupBy.agg", gb.nunique(Seq(round(v3, 1).as("v3r"))))
      case "size_margins" => grouped("GroupBy.agg", gb.size(margins = Margins.All))
      case "crosstab" =>
        grouped("Reshape.crosstab",
          Reshape.crosstab(gb.df, Seq(col("k1")), col("k2"), margins = Margins.All), 1)
      case "transform_mean" =>
        val res = tr.span("GroupBy.agg")(tr.out(gb.mean(Seq(v1), transform = true)))
        val got = tr.span("bench.collect")(GbData.digest(res, "v1"))
        Done(rows, () => GbData.sameDigest(got, want(r.kind).asInstanceOf[Seq[Any]]))
      case "rolling_sum" => windowed(gb.rolling(50, Some(1)).sum(v1, ts), "rolling_sum")
      case "rolling_mean" => windowed(gb.rolling(50, Some(1)).mean(v2, ts), "rolling_mean")
      case "cumsum" => windowed(gb.windows.cumsum(v1, ts), "cumsum")
      case "cummax" => windowed(gb.windows.cummax(v2, ts), "cummax")
      case "ewm_mean" => windowed(gb.windows.ewmMean(v3, ts, alpha = 0.2), "ewm_mean")
    }
  }
}

/** groupby_oneshot: a larger table of the same shape written once as
  * parquet; every request scans it, filters a date range, builds a fresh
  * unpersisted GroupBy on a key pair or a computed bucket key, and runs
  * one zipped masked `agg`.
  */
final class GroupByOneshot(spark: SparkSession, seed: Long, rows: Long, path: String)
    extends Workload {
  val setupLayer = "Tables.write_ms"
  override val freshGroupBy = true
  private val parts = 8
  private val Variants = 4
  private val WindowFrac = 0.6
  private var want: Map[Int, Map[Seq[String], Seq[Any]]] = Map.empty
  // ts is Epoch + row id, so every window holds exactly this many rows
  private val windowRows = (WindowFrac * rows).toLong + 1

  def describe: Map[String, Any] = Map("rows" -> rows, "partitioned_by" -> "k2",
    "variants" -> Variants, "date_window_frac" -> WindowFrac)

  def setupData(): Unit =
    Tables.writePartitioned(GbData.table(spark, rows, seed, parts), path, Seq("k2"))

  // variant i: a seed-chosen date window of fixed width; even variants
  // group by the key pair, odd ones by a computed bucket key
  private val starts: Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(Variants)(GbData.Epoch + (rnd.nextDouble() * (1 - WindowFrac) * rows).toLong)
  }
  val cycle: Seq[Req] = (0 until Variants).map(i => Req(if (i % 2 == 0) "pair" else "bucket", i))

  private def inWindow(i: Int): Column = col("ts").between(
    timestamp_seconds(lit(starts(i))),
    timestamp_seconds(lit(starts(i) + (WindowFrac * rows).toLong)))
  private def keys(i: Int): Seq[Column] =
    if (i % 2 == 0) Seq(col("k1"), col("k2"))
    else Seq(pmod(xxhash64(col("k1")), lit(50L)).as("kb"), col("k2"))

  def prepareChecks(): Unit = {
    val df = spark.read.parquet(path)
    want = (0 until Variants).map { i =>
      val rs = df.filter(inWindow(i)).groupBy(keys(i): _*).agg(
        sum(when(col("m"), col("v1"))), avg(when(col("m"), col("v2"))),
        max(when(col("m"), col("v3"))), count(when(col("m"), lit(1))), count(lit(1)))
        .collect().toSeq
      require(rs.map(_.getLong(6)).sum == windowRows, s"window $i does not hold $windowRows rows")
      val kept = rs.filter(_.getLong(5) > 0)
        .map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
      i -> Check.keyed(kept, 2)
    }.toMap
  }

  def run(r: Req, tr: Tracer): Done = {
    val df = tr.span("Tables.scan")(
      tr.out(Tables.readParquet(spark, path).filter(inWindow(r.variant))))
    val res = tr.span("GroupBy.agg")(tr.out(
      GroupBy(df, keys(r.variant)).agg(Seq("sum", "mean", "max"),
        Seq(col("v1"), col("v2"), col("v3")), mask = Some(col("m")))))
    val got = tr.span("bench.collect")(Check.keyed(res.collect().toSeq, 2))
    Done(windowRows, () => Check.sameRows(got, want(r.variant), 1e-9, 1e-12))
  }
}
