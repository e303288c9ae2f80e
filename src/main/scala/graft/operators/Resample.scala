package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** pandas `df.resample(freq).agg(...)` — fixed-width time-bucket
  * aggregation that EMITS EMPTY BINS: unlike the streaming tumbling
  * window (graft.streaming.EventStreams.tumbling), a resample is a
  * reindex — every bucket between each group's first and last
  * observation appears in the output, with pandas' per-op empty-bin
  * identities (`sum → 0.0` and `count → 0` — pandas min_count=0 —
  * everything else null).
  *
  * The axis is integral (timestamp callers pass `unix_micros(ts)` and
  * a width in micros — the Funnel timestamp rule); buckets are
  * anchored at 0 via floor division, exact across the long range.
  *
  * Scale shape: ONE aggregation over (keys, bucket) — partial
  * map-side combine like any hash agg — plus a per-key (min, max)
  * bucket agg whose `sequence()` explode materializes only the BIN
  * table (total bins across keys, not rows) for the completion join:
  * bins ≈ span/width per key, so the reindex side is summary-sized
  * unless the caller picks a width far below their span (their call).
  * Both sides shuffle on the same keys — a co-partitioned equijoin.
  */
object Resample {

  def resample(gb: GroupBy, ord: Column, width: Long,
      specs: Seq[AggSpec], bucketName: String = "bucket"): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    require(specs.nonEmpty, "no aggregations given")
    require(!specs.exists(_.name == bucketName),
      s"aggregate name collides with bucket column '$bucketName'")
    val checkedOrd = when(ord.isNull, raise_error(lit(
      "graft: resample requires a non-null ord on every grouped row")))
      .otherwise(ord)
    val keyN = gb.keyNames
    val bucketed = gb.base.withColumn(bucketName, Num.floorDiv(checkedOrd, width))
    val agg = new GroupBy(bucketed, (keyN :+ bucketName).map(col),
      sort = false, dropNullKeys = gb.dropNullKeys).aggregate(specs)
    // per-key bin domain: [min bucket, max bucket], one row per bin —
    // the summary-sized reindex side
    val domain = bucketed.groupBy(keyN.map(col): _*)
      .agg(F.min(col(bucketName)).as("__lo"), F.max(col(bucketName)).as("__hi"))
      .select((keyN.map(col) :+
        explode(sequence(col("__lo"), col("__hi"))).as(bucketName)): _*)
    val joined = domain.join(agg, keyN :+ bucketName, "left")
    // pandas empty-bin identities
    val out = specs.map { s =>
      s.op match {
        case "sum" => coalesce(col(s.name), lit(0.0)).as(s.name)
        case "count" | "size" =>
          coalesce(col(s.name), lit(0L)).as(s.name)
        case _ => col(s.name)
      }
    }
    joined.select((keyN.map(col) :+ col(bucketName)) ++ out: _*)
      .orderBy((keyN :+ bucketName).map(col): _*)
  }
}
