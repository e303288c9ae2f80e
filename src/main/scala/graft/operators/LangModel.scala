package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType

/** Corpus-level unigram language-model scoring — the CCNet-family
  * quality signal (Wenzek et al. 2020: docs are ranked by their
  * perplexity under an LM trained on a trusted corpus; here the
  * unigram restriction of that recipe, which needs no external model
  * artifacts) plus distribution-drift measurement between corpus
  * snapshots. No reference counterpart; designed Spark-first.
  *
  * Determinism note (the library-wide float policy): per-token
  * `ln(count)` terms are computed in IEEE double — identical in any
  * engine whose `ln` is correctly rounded — and SUMMED through
  * decimal casts, so accumulation order (partitioning) can never
  * change a score. Gate queries round log-derived outputs like the
  * var/std family; the frequency-mean outputs are decimal-exact
  * unrounded.
  */
object LangModel {

  /** Unigram counts of a reference corpus: `(token, cnt)` over
    * whitespace tokens, plus the caller retrieves the grand total from
    * [[totalTokens]]. One shuffle on the token key (map-side partial
    * counts); the table is vocabulary-sized.
    */
  def unigramCounts(ref: DataFrame, text: Column,
      sep: String = " "): DataFrame =
    // the LM is a reused artifact: [[totalTokens]]'s action plus one
    // or two broadcast lookups per scorer ([[scoreByBigram]] probes it
    // for the token AND its predecessor) — a lazy checkpoint runs the
    // reference-corpus count pass once per model instead of once per
    // consumer (round-14); the table is vocabulary-sized
    Materialize.checkpoint(
      ref.select(explode(split(text, java.util.regex.Pattern.quote(sep)))
          .as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(F.count(lit(1)).as("cnt")), eager = false)

  /** Total token count of a counts table (one tiny aggregation —
    * an action; pass the result into [[scoreByUnigram]] so the scorer
    * itself stays fully lazy).
    */
  def totalTokens(counts: DataFrame): Long =
    counts.agg(F.sum(col("cnt"))).head().getLong(0)

  /** Score every document of `df` under the unigram LM of a reference
    * corpus: per document,
    *
    *  - `n_tokens` — scored token count,
    *  - `mean_logp` — mean per-token log-probability
    *    `Σ ln(cnt_w / total) / n` (natural log; OOV tokens score as
    *    count `smoothing`, the +k floor). Higher = more reference-like;
    *    `exp(-mean_logp)` is the unigram perplexity.
    *  - `mean_freq` — mean per-token relative frequency (the log-free
    *    twin: decimal-exact, engine-order-insensitive, no rounding
    *    caveat).
    *
    * Distributed shape: tokenize (posexplode-free — order is
    * irrelevant to a bag-of-words score) → BROADCAST lookup against
    * the vocabulary-sized counts table → one groupBy(doc). The corpus
    * scan never shuffles for the lookup; the per-doc aggregation is
    * the single data shuffle, keyed on the document id. ln terms are
    * decimal-cast before summation so partitioning cannot reorder a
    * float accumulation.
    */
  def scoreByUnigram(df: DataFrame, id: Column, text: Column,
      counts: DataFrame, total: Long, smoothing: Long = 1L,
      sep: String = " "): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    require(smoothing >= 1, s"smoothing must be >= 1, got $smoothing")
    val toks = df.select(id.as("doc_id"),
        explode(split(text, java.util.regex.Pattern.quote(sep))).as("token"))
      .filter(col("token") =!= "")
    val c = coalesce(col("cnt"), lit(smoothing)).cast(DoubleType)
    toks
      .join(F.broadcast(counts.select(col("token"), col("cnt"))),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        F.count(lit(1)).as("n_tokens"),
        // decimal-summed ln terms: each term is one IEEE double,
        // the sum is order-exact
        F.sum(F.log(c).cast(graft.functions.Num.DotDec))
          .cast(DoubleType).as("__graft_sumln"),
        F.sum((c / lit(total.toDouble)).cast(graft.functions.Num.DotDec))
          .cast(DoubleType).as("__graft_sumfreq"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__graft_sumln") / col("n_tokens").cast(DoubleType) -
          F.log(lit(total.toDouble))).as("mean_logp"),
        (col("__graft_sumfreq") / col("n_tokens").cast(DoubleType))
          .as("mean_freq"))
  }

  /** Bigram counts of a reference corpus: `(w1, w2, cnt)` over
    * adjacent whitespace-token pairs (empty tokens dropped BEFORE
    * pairing, so consecutive separators collapse — the
    * [[unigramCounts]] token stream). Pairs form ROW-LOCALLY (zip of
    * the token array with its own shift — no positional self-join, no
    * window), then one shuffle on the pair key; the table is
    * bigram-vocabulary-sized.
    */
  def bigramCounts(ref: DataFrame, text: Column,
      sep: String = " "): DataFrame = {
    val toks = F.filter(split(text, java.util.regex.Pattern.quote(sep)),
      w => w =!= "")
    // floor the slice length at 0: a zero-token document would give
    // size-1 = -1 and slice throws on negative lengths at runtime
    val pairLen = greatest(F.size(toks) - 1, lit(0))
    ref.select(explode(F.zip_with(
        F.slice(toks, lit(1), pairLen),
        F.slice(toks, lit(2), pairLen),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(F.count(lit(1)).as("cnt"))
      // no materialization: unlike [[unigramCounts]] this table has a
      // single consumer (the scorer's broadcast), so a checkpoint is
      // pure write/read overhead (round-14, measured +25% on the
      // bigram row at x10)
  }

  /** Score every document under a BIGRAM LM with stupid backoff
    * (Brants et al., "Large Language Models in Machine Translation",
    * EMNLP 2007 — the web-scale recipe: no normalized discounting,
    * just a fixed backoff factor): per token position,
    *
    *  - first token (no history): `ln(cnt_w / total)` under the
    *    unigram model (OOV floors at `smoothing`),
    *  - seen bigram: `ln(cnt_{w1 w2} / cnt_{w1})`,
    *  - unseen bigram: `ln(alpha) + ln(cnt_w / total)` — the backoff.
    *
    * Returns `(doc_id, n_tokens, n_backoff, mean_logp)`; higher
    * mean_logp = more reference-like, and n_backoff/n_tokens is the
    * "novel continuations" fraction — a useful quality signal on its
    * own. A material upgrade over [[scoreByUnigram]] toward the CCNet
    * 5-gram-KenLM recipe while keeping the everything-replayable
    * contract: every `ln` argument is an integer count (the same
    * double in any correctly-rounding engine) except the two
    * constants, and per-document accumulation decimal-sums.
    *
    * Distributed shape: bigrams form row-locally (no self-join), then
    * THREE broadcast lookups against the two vocabulary-sized count
    * tables (bigram on the pair, unigram on the token and on its
    * predecessor) and one groupBy(doc). The corpus never shuffles for
    * the lookups; the per-doc aggregation is the single data shuffle.
    */
  def scoreByBigram(df: DataFrame, id: Column, text: Column,
      bigrams: DataFrame, unigrams: DataFrame, total: Long,
      alpha: Double = 0.4, smoothing: Long = 1L,
      sep: String = " "): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    require(smoothing >= 1, s"smoothing must be >= 1, got $smoothing")
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    val toks = F.filter(split(text, java.util.regex.Pattern.quote(sep)),
      w => w =!= "")
    // (prev, token) rows with prev = null at position 1 — the shifted
    // zip again, so history attaches row-locally
    val prevArr = F.concat(array(lit(null).cast("string")),
      F.slice(toks, lit(1), greatest(F.size(toks) - 1, lit(0))))
    // drop zero-token documents BEFORE pairing: prevArr is [null]
    // while toks is [], and zip_with pads to the longer array — a
    // phantom (null, null) row that would score the empty doc with
    // n_tokens=1 where the oracle (and the unigram family) drop it
    val rows = df.filter(F.size(toks) > 0)
      .select(id.as("doc_id"),
        explode(F.zip_with(prevArr, toks,
          (p, t) => struct(p.as("prev"), t.as("token")))).as("r"))
      .select(col("doc_id"), col("r.prev").as("prev"),
        col("r.token").as("token"))
    val lnTotal = F.log(lit(total.toDouble))
    val lnAlpha = lit(math.log(alpha))
    val scored = rows
      .join(F.broadcast(bigrams.select(col("w1"), col("w2"),
          col("cnt").as("__bcnt"))),
        col("prev") === col("w1") && col("token") === col("w2"), "left")
      .join(F.broadcast(unigrams.select(col("token"),
        col("cnt").as("__ucnt"))), Seq("token"), "left")
      .join(F.broadcast(unigrams.select(col("token").as("prev"),
        col("cnt").as("__pcnt"))), Seq("prev"), "left")
    val uni = F.log(coalesce(col("__ucnt"), lit(smoothing))
      .cast(DoubleType)) - lnTotal
    val logp = when(col("prev").isNull, uni)
      .when(col("__bcnt").isNotNull && col("__pcnt").isNotNull,
        F.log(col("__bcnt").cast(DoubleType)) -
          F.log(col("__pcnt").cast(DoubleType)))
      .otherwise(lnAlpha + uni)
    val backoff = when(col("prev").isNotNull &&
      (col("__bcnt").isNull || col("__pcnt").isNull), 1L).otherwise(0L)
    scored
      .groupBy("doc_id")
      .agg(
        F.count(lit(1)).as("n_tokens"),
        F.sum(backoff).as("n_backoff"),
        F.sum(logp.cast(graft.functions.Num.DotDec))
          .cast(DoubleType).as("__graft_sumln"))
      .select(col("doc_id"), col("n_tokens"), col("n_backoff"),
        (col("__graft_sumln") / col("n_tokens").cast(DoubleType))
          .as("mean_logp"))
  }

  /** Kullback–Leibler divergence KL(P ‖ Q) between two corpora's
    * unigram distributions — the standard corpus-drift probe run when
    * a new crawl snapshot lands ("did the token distribution move?").
    * P is `left`'s distribution; tokens of P absent from Q score with
    * count `smoothing` so the divergence stays finite (add-k on the Q
    * side only; P's support defines the sum). Because the smoothed Q
    * is NOT renormalized, the statistic can dip slightly below zero
    * when P's support misses much of Q's mass — it is a drift SCORE
    * with KL semantics on shared support, not a strict divergence;
    * compare snapshots against the same reference, don't test ≥ 0.
    * Returns ONE row: `(n_tokens_p, n_types_p, kl_nats)`.
    *
    * Shape: two vocabulary-sized count tables, one hash join on the
    * token key, one scalar aggregation — nothing is corpus-sized
    * after the counting passes. The ln terms decimal-sum like
    * [[scoreByUnigram]].
    */
  def unigramKl(left: DataFrame, leftText: Column,
      right: DataFrame, rightText: Column,
      smoothing: Long = 1L, sep: String = " "): DataFrame = {
    require(smoothing >= 1, s"smoothing must be >= 1, got $smoothing")
    val p = unigramCounts(left, leftText, sep)
    val q = unigramCounts(right, rightText, sep)
      .withColumnRenamed("cnt", "qcnt")
    // P's total comes out of the scalar aggregation itself
    // (n_tokens_p); only Q's total needs a bounded pre-action
    val totalQ = totalTokens(q.withColumnRenamed("qcnt", "cnt")
      .select("token", "cnt"))
    val pc = col("cnt").cast(DoubleType)
    val qc = coalesce(col("qcnt"), lit(smoothing)).cast(DoubleType)
    // KL = Σ_w (p_w/P)·ln((p_w/P)/(q_w/Q))
    //    = [Σ p_w·(ln p_w − ln q_w)] / P − ln P + ln Q
    // (the per-type terms decimal-sum; the constant rearrangement
    // keeps every ln argument an integer count — the same doubles in
    // any engine)
    p.join(q, Seq("token"), "left")
      .agg(
        F.sum(col("cnt")).as("n_tokens_p"),
        F.count(lit(1)).as("n_types_p"),
        F.sum(((F.log(pc) - F.log(qc)) * pc)
          .cast(graft.functions.Num.DotDec))
          .cast(DoubleType).as("__graft_s"))
      .select(col("n_tokens_p"), col("n_types_p"),
        (col("__graft_s") / col("n_tokens_p").cast(DoubleType) -
          F.log(col("n_tokens_p").cast(DoubleType)) +
          F.log(lit(totalQ.toDouble))).as("kl_nats"))
  }
}
