package graft

import graft.operators.{GroupBy, RollingOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall time of the rolling forms that compose several window
  * aggregates (exact sums, var, prod, cov/corr) and of the plain rolling
  * sum, over one persisted input: `rows` rows in 200 keys, a window of
  * 50, nulls on every 7th row. Each form runs through a no-op write
  * `warm` times untimed, then `runs` times; it prints the median and the
  * fastest run in ms. Not part of any benchmark: it compares checkouts.
  *
  * {{{
  * sbt "Test/runMain graft.RollingTiming"               # 400k rows, 2 warm, 7 runs
  * sbt "Test/runMain graft.RollingTiming 100000 1 3"    # smaller, faster
  * }}}
  */
object RollingTiming {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(400000L)
    val warm = args.lift(1).map(_.toInt).getOrElse(2)
    val runs = args.lift(2).map(_.toInt).getOrElse(7)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val input = spark.range(rows).select((col("id") % 200).as("k"),
      col("id").as("ord"),
      when(col("id") % 7 === 3, lit(null)).otherwise(sin(col("id")) * 100).as("v"),
      (cos(col("id")) * 37).as("y")).persist()
    input.count()
    val ops = new RollingOps(new GroupBy(input, Seq(col("k"))))
    val (v, y, ord) = (col("v"), col("y"), col("ord"))
    val forms: Seq[(String, () => DataFrame)] = Seq(
      "sum" -> (() => ops.rollingSum(v, ord, 50, Some(1))),
      "sum exact" -> (() => ops.rollingSum(v, ord, 50, Some(1), exact = true)),
      "var" -> (() => ops.rollingVar(v, ord, 50, Some(1))),
      "var exact" -> (() => ops.rollingVar(v, ord, 50, Some(1), exact = true)),
      "prod" -> (() => ops.rollingAgg("prod", v, ord, 50, Some(1))),
      "corr" -> (() => ops.rollingCorr(v, y, ord, 50, Some(2))),
      "corr exact" -> (() => ops.rollingCorr(v, y, ord, 50, Some(2), exact = true)))
    for ((name, form) <- forms) {
      def once(): Double = {
        val t0 = System.nanoTime()
        form().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      (1 to warm).foreach(_ => once())
      val ms = (1 to runs).map(_ => once()).sorted
      println(f"[rolling-timing] $name%-11s median ${ms(ms.size / 2)}%8.1f ms  " +
        f"min ${ms.head}%8.1f ms  ($rows rows, window 50, $runs runs)")
    }
    spark.stop()
  }
}
