package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

/** Native kernel vs retired tree form, for the differential specs. */
object KernelDiff {

  /** Asserts native == tree (`<=>`) on every row of `df` (its text column
    * is `t`) and the same output schema, through both evaluation paths:
    * the optimizer folds a projection over local rows with the
    * interpreted `eval`, and a projection above an exchange runs the
    * generated code. `pairs` are (label, native, tree).
    */
  def assertSame(df: DataFrame, pairs: Seq[(String, Column, Column)]): Unit =
    for (d <- Seq(df, df.repartition(1))) {
      val sel = d.select(col("t") +: pairs.zipWithIndex.flatMap {
        case ((_, n, e), i) =>
          Seq(n.as(s"n$i"), e.as(s"e$i"), (n <=> e).as(s"eq$i"))
      }: _*)
      for (((label, _, _), i) <- pairs.zipWithIndex)
        assert(sel.schema(s"n$i").copy(name = "") === sel.schema(s"e$i").copy(name = ""),
          s"schema of $label")
      for (r <- sel.collect(); ((label, _, _), i) <- pairs.zipWithIndex)
        assert(r.getBoolean(3 * i + 3),
          s"$label on '${r.get(0)}': native ${r.get(3 * i + 1)} != tree ${r.get(3 * i + 2)}")
    }

  /** Runs `body` with the session conf `key` set to `value`, restoring
    * the previous setting after.
    */
  def withConf[T](spark: org.apache.spark.sql.SparkSession, key: String,
      value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
