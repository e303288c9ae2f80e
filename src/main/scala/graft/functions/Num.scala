package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Numeric helpers shared by the operator layer.
  *
  * Two concerns drive this file:
  *
  *  1. '''Determinism at scale.''' Double-precision sums depend on
  *     accumulation order, which in a distributed engine depends on
  *     partitioning. The `exact*` helpers aggregate through a wide
  *     decimal (exact integer arithmetic) and cast the final result to
  *     double, so a sum computed on 1 partition and on 1000 partitions
  *     is bit-identical — and identical to any other engine that does
  *     exact decimal aggregation (the correctness oracle).
  *  2. '''ANSI safety.''' Spark 4 enables ANSI mode by default, where
  *     `x / 0` and decimal overflow raise. All divisions here are
  *     guarded so the library is usable in any session.
  */
object Num {

  /** 22 integer digits + 6 fractional: enough for 1e12 rows of 1e9
    * magnitude values without overflow, while staying inside both
    * Spark's and common oracles' 38-digit decimal width after sum
    * widening (28 + 10 carry digits = 38).
    */
  val SumDec: DecimalType = DecimalType(28, 6)

  /** Wider variant for higher-order moment sums (x², x·y on large
    * magnitudes): 32 integer digits.
    */
  val MomentDec: DecimalType = DecimalType(38, 6)

  /** Dot-product-term variant (embedding similarity): 8 fractional
    * digits. The scale is deliberately coarse: engines convert double
    * to decimal through double arithmetic, whose rounding agrees with
    * exact conversion only when value·10^scale is far below 2^53 —
    * at scale 8 a unit-magnitude term has ~2e-10 boundary-flip
    * probability, at scale 15+ it is ~3%.
    */
  val DotDec: DecimalType = DecimalType(38, 8)

  /** Order-insensitive sum of a floating column: exact decimal
    * accumulation, double result. Null iff no non-null inputs.
    */
  def exactSum(c: Column): Column = sum(c.cast(SumDec)).cast(DoubleType)

  /** Order-insensitive mean (sum/count with exact decimal sum). */
  def exactMean(c: Column): Column =
    safeDiv(exactSum(c), count(c).cast(DoubleType))

  /** `a / b`, null when b is null or 0 (ANSI-safe). */
  def safeDiv(a: Column, b: Column): Column =
    when(b.isNull || b === 0, lit(null)).otherwise(a / b)

  /** Variance from single-pass sums with arbitrary `ddof` (delta
    * degrees of freedom), the reference's Σx² identity:
    * `(Σx² − (Σx)²/n) / (n − ddof)`; null when `n <= ddof`.
    * For ddof 0/1 prefer the built-in `var_pop`/`var_samp`
    * (Welford-style central moments, numerically stronger); this is
    * for the general-ddof surface.
    */
  def varianceExpr(v: Column, ddof: Int,
      lift: Column => Column = identity): Column = {
    val n = lift(count(v)).cast(DoubleType)
    val s = lift(sum(v.cast(DoubleType)))
    val ss = lift(sum(pow(v.cast(DoubleType), 2)))
    when(n > ddof, (ss - s * s / n) / (n - lit(ddof.toDouble)))
  }

  /** `⌊c / w⌋` of an integral `c` as a long, exact across the whole long
    * range (negative values round toward −∞): Spark's `/` on longs is
    * double division, inexact past 2^53, so the remainder is subtracted
    * in `decimal(38,0)` first, which makes the quotient integral.
    */
  def floorDiv(c: Column, w: Long): Column =
    ((c.cast("decimal(38,0)") - pmod(c, lit(w))) / lit(w)).cast("long")

  /** The sums a pairwise-complete covariance or correlation of `x` and
    * `y` needs: the pair count and Σx, Σy, Σxy, Σx², Σy² over the rows
    * where `both` is non-null, each placed by `agg(op, column)` with op
    * "sum" or "count" (a grouped aggregate or one over a window frame).
    * `exact` accumulates the sums in decimal, so they do not depend on
    * the order rows arrive in; otherwise they are plain double sums.
    */
  def pairMoments(x: Column, y: Column, both: Column, exact: Boolean)(
      agg: (String, Column) => Column): PairMoments = {
    val xd = x.cast(DoubleType); val yd = y.cast(DoubleType)
    def s(c: Column, dec: DecimalType): Column = {
      val paired = when(both.isNotNull, c.cast(DoubleType))
      if (exact) agg("sum", paired.cast(dec)).cast(DoubleType) else agg("sum", paired)
    }
    PairMoments(agg("count", both).cast(DoubleType), s(xd, SumDec), s(yd, SumDec),
      s(xd * yd, MomentDec), s(xd * xd, MomentDec), s(yd * yd, MomentDec))
  }

  /** [[pairMoments]]' sums, finished row-locally in double. */
  final case class PairMoments(n: Column, sx: Column, sy: Column, sxy: Column,
      sxx: Column, syy: Column) {

    /** Covariance with divisor `n − ddof`, null when n ≤ ddof. */
    def cov(ddof: Int): Column =
      when(n > ddof, (sxy - sx * sy / n) / (n - lit(ddof.toDouble)))
        .otherwise(lit(null).cast(DoubleType))

    /** Pearson correlation, null when n < 2 or either marginal variance
      * is not positive (pandas' NaN).
      */
    def corr: Column = {
      val cxy = sxy - sx * sy / n
      val cxx = sxx - sx * sx / n
      val cyy = syy - sy * sy / n
      when(n >= 2 && cxx > 0 && cyy > 0, cxy / sqrt(cxx * cyy))
        .otherwise(lit(null).cast(DoubleType))
    }
  }
}
