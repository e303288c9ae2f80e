package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The retired expression-tree and regex forms of the native text
  * kernels in [[TextFunctions]], kept ONLY as the differential
  * references the specs pin the kernels against. Each is built from
  * stock Spark functions, each separately oracle-proven, and none
  * calls a native kernel — so a reference stays independent of the
  * kernel it checks.
  */
object TextTreeForms {

  /** Word n-grams: one `split` per gram inside the lambda. */
  def ngramArray(text: Column, n: Int, sep: String = " "): Column =
    if (sep.isEmpty) charNgramArray(text, n)
    else {
      val w = split(text, java.util.regex.Pattern.quote(sep))
      if (n == 1) w
      else
        // the descending sequence(0, size-n) on a short doc would
        // evaluate slice(start=0) and throw — guard with an empty array
        when(F.size(w) >= n,
          F.transform(F.sequence(lit(0), F.size(w) - n),
            i => array_join(F.slice(w, i + lit(1), lit(n)), sep)))
          .otherwise(array())
    }

  /** Character n-grams: sliding `substr` windows. */
  def charNgramArray(text: Column, n: Int): Column =
    when(length(text) >= n,
      F.transform(F.sequence(lit(0), length(text) - n),
        i => text.substr(i + lit(1), lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Token chunks: 1 + ⌈(tokens − size)/step⌉ `slice` windows. */
  def chunkArray(text: Column, size: Int, overlap: Int,
      sep: String = " "): Column = {
    val step = size - overlap
    val w = split(text, java.util.regex.Pattern.quote(sep))
    val n = F.size(w)
    // ceil((n - size) / step) in exact integer math (n > size branch)
    val a = greatest(n - lit(size), lit(0)) + lit(step - 1)
    val nChunks = lit(1) + (a - pmod(a, lit(step))) / lit(step)
    F.transform(F.sequence(lit(0), nChunks.cast("int") - 1),
      i => array_join(F.slice(w, i * step + 1, lit(size)), sep))
  }

  /** [[TextFunctions.fingerprint]] as the fold the oracle SQL mirrors. */
  def fingerprint(text: Column): Column =
    F.aggregate(split(text, " "), lit(0L),
      (acc, w) =>
        (acc * 31 + conv(substring(md5(w), 1, 8), 16, 10).cast(LongType))
          % 1000000007L)

  /** [[TextFunctions.normalizeForDedup]] as the regex chain the oracle
    * SQL mirrors.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** [[TextFunctions.hashFeatureBuckets]] as the composition of the
    * tree [[ngramArray]] and [[PortableHash.polyHash]].
    */
  def hashFeatureBuckets(text: Column, dim: Int,
      grams: Seq[Int] = Seq(1, 2)): Column = {
    val arrs = grams.map(n => ngramArray(text, n))
    val feats = if (arrs.sizeIs == 1) arrs.head else concat(arrs: _*)
    F.transform(feats, g => PortableHash.polyHash(g) % dim)
  }

  /** [[TextFunctions.scriptFractions]] as one `regexp_count` per class. */
  def scriptFractions(text: Column): Column = {
    val denom = length(regexp_replace(text, "\\s", "")).cast(DoubleType)
    val fields = TextFunctions.ScriptClasses.map { case (name, cls) =>
      Num.safeDiv(regexp_count(text, lit(cls)).cast(DoubleType), denom)
        .as(s"f_$name")
    } :+ Num.safeDiv(regexp_count(text, lit(TextFunctions.GarbageClass))
      .cast(DoubleType), denom).as("f_garbage")
    struct(fields: _*)
  }
}
