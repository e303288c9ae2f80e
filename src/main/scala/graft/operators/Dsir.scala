package graft.operators

import graft.functions.{Num, PortableHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType

/** Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
  * score raw-corpus documents by the log-likelihood ratio between a
  * TARGET-domain bag-of-hashed-ngrams model and a RAW-corpus model,
  * then resample proportionally — the published recipe for "select
  * pretraining data that looks like the target domain" without a
  * trained classifier. No reference counterpart; designed Spark-first.
  *
  * The feature space is `buckets` hashed token buckets (the paper's
  * hashed n-grams): CONSTANT size regardless of corpus vocabulary, so
  * both models broadcast at any corpus scale — the property that makes
  * this the 100 TB domain-selection tool. Hashing uses the
  * engine-portable [[graft.functions.PortableHash]] so every count,
  * and therefore every weight, replays bit-identically in the oracle.
  *
  * Float policy (library-wide): per-token `ln` terms are single IEEE
  * doubles summed through decimal casts — partitioning can never move
  * a score; gates round log-derived outputs (ln is correctly rounded
  * per-engine, not bit-pinned across engines).
  */
object Dsir {

  /** Hashed feature bucket of a token: `polyHash(token) mod buckets`,
    * in [0, buckets). Engine-portable ([[PortableHash.polyHashSql]]).
    */
  def bucketOf(token: Column, buckets: Int): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    PortableHash.polyHash(token) % buckets
  }

  /** DuckDB rendering of [[bucketOf]] over SQL expression `e`. */
  def bucketOfSql(e: String, buckets: Int): String =
    s"(${PortableHash.polyHashSql(e)} % $buckets)"

  /** Hashed-unigram bucket counts of a corpus: `(bucket, cnt)` —
    * at most `buckets` rows (the model). One token-key shuffle with
    * map-side partial counts; the output is broadcast-sized by
    * construction.
    */
  def bucketCounts(df: DataFrame, text: Column, buckets: Int,
      sep: String = " "): DataFrame =
    // the model is a REUSED artifact with ≥2 consumers by design
    // ([[totalOf]]'s action + the scorer's broadcast): lazily
    // checkpointed so the corpus-wide count pass runs once per model,
    // not once per consumer (round-14 — dsir_weights was paying 2
    // extra full-corpus token passes); ≤ `buckets` rows, so the
    // blocks are trivially small at any corpus scale
    Materialize.checkpoint(
      df.select(explode(split(text, java.util.regex.Pattern.quote(sep)))
          .as("token"))
        .filter(col("token") =!= "")
        .select(bucketOf(col("token"), buckets).as("bucket"))
        .groupBy("bucket")
        .agg(F.count(lit(1)).as("cnt")), eager = false)

  /** Total token count behind a bucket-counts model (tiny action;
    * pass the result into [[logImportanceWeights]] so scoring stays
    * lazy).
    */
  def totalOf(counts: DataFrame): Long =
    counts.agg(coalesce(F.sum(col("cnt")), lit(0L))).head().getLong(0)

  /** Per-document DSIR log importance weight
    * `ln p_target(doc) − ln p_raw(doc)` under add-1-smoothed
    * hashed-unigram models:
    *
    * {{{ log_w = Σ_tokens [ln(tc_b + 1) − ln(rc_b + 1)]
    *           − n_tokens · [ln(T + B) − ln(R + B)] }}}
    *
    * where `tc_b`/`rc_b` are the token's target/raw bucket counts,
    * `T`/`R` the model totals and `B` the bucket count. Positive =
    * more target-like. Returns `(doc_id, n_tokens, log_w)`; documents
    * with zero tokens are absent (no evidence either way).
    *
    * Distributed shape: tokenize → TWO broadcast lookups against the
    * bucket-sized models → one groupBy(doc). The corpus never
    * shuffles for the lookups; the per-doc aggregation is the single
    * data shuffle. Missing buckets coalesce to count 0 (smoothing
    * handles them), so a model trained on a small target corpus is
    * fine.
    */
  def logImportanceWeights(df: DataFrame, id: Column, text: Column,
      targetCounts: DataFrame, targetTotal: Long,
      rawCounts: DataFrame, rawTotal: Long,
      buckets: Int, sep: String = " "): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(targetTotal >= 0 && rawTotal >= 0,
      s"totals must be non-negative, got target=$targetTotal raw=$rawTotal")
    val toks = df.select(id.as("doc_id"),
        explode(split(text, java.util.regex.Pattern.quote(sep))).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), bucketOf(col("token"), buckets).as("bucket"))
    val tc = coalesce(col("tcnt"), lit(0L)).cast(DoubleType)
    val rc = coalesce(col("rcnt"), lit(0L)).cast(DoubleType)
    val normConst = math.log(targetTotal.toDouble + buckets) -
      math.log(rawTotal.toDouble + buckets)
    toks
      .join(F.broadcast(targetCounts.select(col("bucket"),
        col("cnt").as("tcnt"))), Seq("bucket"), "left")
      .join(F.broadcast(rawCounts.select(col("bucket"),
        col("cnt").as("rcnt"))), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(
        F.count(lit(1)).as("n_tokens"),
        F.sum((F.log(tc + 1) - F.log(rc + 1)).cast(Num.DotDec))
          .cast(DoubleType).as("__graft_sumlr"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__graft_sumlr") -
          col("n_tokens").cast(DoubleType) * lit(normConst)).as("log_w"))
  }

  /** Collect a bucket-counts model to a plain map — a BOUNDED action
    * (≤ `buckets` rows by construction), the model form the
    * projection scorer embeds as a literal.
    */
  def collectModel(counts: DataFrame): Map[Int, Long] =
    counts.collect().map(r => r.getAs[Any]("bucket") match {
      case i: Int  => i -> r.getAs[Long]("cnt")
      case l: Long => l.toInt -> r.getAs[Long]("cnt")
    }).toMap

  /** PROJECTION-form DSIR scoring: both bucket models embedded as
    * literal maps (constant-size by construction — the hashed feature
    * space is the broadcastability guarantee), the per-document log
    * importance weight computed entirely row-locally: tokenize →
    * per-token `ln(tc+1) − ln(rc+1)` terms folded through a DECIMAL
    * accumulator (the same decimal summation as
    * [[logImportanceWeights]], so the two forms are BIT-EQUAL) minus
    * the count-scaled normalizer. Null for token-free documents
    * (which the groupBy form omits entirely).
    *
    * This is the zero-shuffle / streaming twin (the
    * `withMinHashSignature` pattern): a pure projection, so it runs
    * identically inside `readStream` micro-batches, in a join-free
    * scoring pass over 100 TB, or composed with
    * [[Sampling.weightedSample]] via [[acceptanceWeight]] with no
    * aggregation anywhere.
    */
  def logImportanceWeightProjection(text: Column,
      targetModel: Map[Int, Long], targetTotal: Long,
      rawModel: Map[Int, Long], rawTotal: Long,
      buckets: Int, sep: String = " "): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val tm = typedLit(targetModel)
    val rm = typedLit(rawModel)
    val toks = F.filter(split(text, java.util.regex.Pattern.quote(sep)),
      t => t =!= "")
    val normConst = math.log(targetTotal.toDouble + buckets) -
      math.log(rawTotal.toDouble + buckets)
    // fold accumulator types: a (38,8)+(38,8) add would widen past 38
    // and Spark would REDUCE the scale to 7 (losing the 8th decimal
    // every step); bounding the term at (20,8) and the accumulator at
    // (28,8) keeps every add exact at scale 8 — the term still rounds
    // at scale 8 exactly like the groupBy form's DotDec cast, so the
    // two forms stay bit-equal
    val termDec = org.apache.spark.sql.types.DecimalType(20, 8)
    val accDec = org.apache.spark.sql.types.DecimalType(28, 8)
    val sumlr = F.aggregate(toks, lit(0).cast(accDec), (acc, t) => {
      val b = bucketOf(t, buckets).cast("int")
      val tc = coalesce(element_at(tm, b), lit(0L)).cast(DoubleType)
      val rc = coalesce(element_at(rm, b), lit(0L)).cast(DoubleType)
      (acc + (F.log(tc + 1) - F.log(rc + 1)).cast(termDec)).cast(accDec)
    }).cast(DoubleType)
    when(F.size(toks) > 0,
      sumlr - F.size(toks).cast(DoubleType) * lit(normConst))
  }

  /** Rejection-sampling acceptance weight for a log importance ratio:
    * `min(1, exp(log_w)) = exp(min(log_w, 0))` — accept-with-
    * probability-min(1, r) is the classic envelope-free acceptance
    * rule for resampling toward the target distribution. Feed the
    * result to [[Sampling.weightedSample]] (deterministic,
    * replayable) or any probabilistic sampler.
    */
  def acceptanceWeight(logW: Column): Column =
    F.exp(F.least(logW, lit(0.0)))
}
