package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** The retired expression forms of [[Dedup]]'s MinHash signatures, kept
  * ONLY as the differential references the specs pin the native kernel
  * ([[org.apache.spark.sql.graft.MinHashMins]]) against: k `min`
  * aggregates over the exploded, distinct (doc_id, shingle) table, and
  * k `array_min(transform(…))` lambdas per row. Neither calls the
  * kernel, so a reference stays independent of what it checks.
  */
object MinHashTreeForms {

  private val P = graft.functions.PortableHash.P

  private def pmod(x: Column, m: Column): Column = ((x % m) + m) % m

  /** [[Dedup.minHashSignatures]] as one aggregation of k mins. */
  def minHashSignatures(sh: DataFrame, k: Int = 64, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_)): DataFrame = {
    val x = pmod(baseHash(col("shingle")), lit(P))
    val mins = Dedup.minHashCoeffs(k, seed).zipWithIndex.map { case ((a, b), j) =>
      F.min(pmod(x * lit(a) + lit(b), lit(P))).as(s"h$j")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** The signature column of [[Dedup.withMinHashSignature]] as k lambdas
    * over the row's base-hash array.
    */
  def signature(text: Column, n: Int = 2, k: Int = 64, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_), sep: String = " "): Column = {
    val xs = F.transform(Dedup.shingleArray(text, n, sep), s => pmod(baseHash(s), lit(P)))
    F.array(Dedup.minHashCoeffs(k, seed).map { case (a, b) =>
      array_min(F.transform(xs, x => pmod(x * lit(a) + lit(b), lit(P))))
    }: _*)
  }

  /** [[Dedup.minHashPairs]] over the aggregate signatures. */
  def minHashPairs(df: DataFrame, id: Column, text: Column, n: Int = 2,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      seed: Long = 42L, baseHash: Column => Column = xxhash64(_),
      sep: String = " "): DataFrame =
    Dedup.minHashCandidates(
      minHashSignatures(Dedup.shingles(df, id, text, n, sep), k, seed, baseHash),
      bands, threshold)

  /** [[Dedup.minHashKeep]] over the aggregate signatures: ords joined
    * back by doc_id, claims as an aggregation joined back on the bucket.
    */
  def minHashKeep(df: DataFrame, id: Column, text: Column, ord: Column,
      n: Int = 2, k: Int = 64, bands: Int = 16, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_), sep: String = " "): DataFrame = {
    val sigs = minHashSignatures(Dedup.shingles(df, id, text, n, sep), k, seed, baseHash)
    val ords = df.select(id.as("doc_id"), ord.as("__ord"))
    val withOrd = Dedup.bandBuckets(sigs, bands).join(ords, "doc_id")
    val claims = withOrd.groupBy("band", "bucket")
      .agg(F.min(struct(col("__ord"), col("doc_id"))).as("__c"))
      .select(col("band"), col("bucket"),
        col("__c").getField("doc_id").as("__claimant"))
    withOrd.join(claims, Seq("band", "bucket"))
      .groupBy("doc_id")
      .agg(F.count(when(col("__claimant") =!= col("doc_id"), lit(1)))
        .as("lost_bands"))
      .select(col("doc_id"), col("lost_bands"),
        (col("lost_bands") === 0).as("kept"))
  }
}
