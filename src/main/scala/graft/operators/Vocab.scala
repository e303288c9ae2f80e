package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** Frequency-ranked vocabulary construction and token-id encoding —
  * the tokenizer-prep stage of a training-data pipeline (build the
  * word table once over the corpus, then map every document to id
  * sequences). No reference counterpart; designed Spark-first.
  */
object Vocab {

  /** Top-`maxSize` corpus vocabulary by token frequency: one row per
    * kept token with `(token, token_id, freq)`, ids dense from 1 in
    * (freq DESC, token ASC) order — a total, engine-independent
    * ranking (the token tie-break makes equal-frequency ids
    * deterministic). Id 0 is RESERVED for out-of-vocabulary tokens
    * (see [[encodeTokens]]). `minCount` drops the long hapax tail
    * before ranking.
    *
    * Distributed shape: tokenize → map-side partial count → one
    * shuffle on the token key → distributed top-`maxSize`
    * (TakeOrderedAndProject — each partition keeps its own top
    * `maxSize`, the driver merges heaps; nothing sorts the full
    * vocabulary). The final dense-rank window runs over the
    * ALREADY-LIMITED vocab-sized frame (≤ maxSize rows — one small
    * task, not a corpus-wide single-partition window).
    */
  def buildVocab(df: DataFrame, text: Column, maxSize: Int,
      minCount: Long = 1L, sep: String = " "): DataFrame = {
    require(maxSize >= 1, s"maxSize must be >= 1, got $maxSize")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val counts = df
      .select(explode(split(text, java.util.regex.Pattern.quote(sep))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(F.count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
    val top = counts.orderBy(col("freq").desc, col("token")).limit(maxSize)
    top.withColumn("token_id",
        row_number().over(Window.orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .select(col("token"), col("token_id"), col("freq"))
  }

  /** Encode each document's token sequence as vocabulary ids, in
    * order, with out-of-vocabulary tokens mapped to 0: one row per
    * document, `(doc_id, ids)`.
    *
    * Distributed shape: positional tokenize (posexplode) → BROADCAST
    * hash join against the vocab (≤ maxSize rows by construction —
    * always broadcastable, so the corpus-side explosion is probed
    * map-side and never shuffles for the lookup) → one groupBy(doc)
    * reassembly sorted by position. The single corpus shuffle is that
    * reassembly, keyed on the document id — the same key the corpus
    * is usually already laid out on.
    */
  def encodeTokens(df: DataFrame, id: Column, text: Column,
      vocab: DataFrame, sep: String = " "): DataFrame = {
    val toks = df.select(id.as("doc_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "token")))
    toks
      .join(F.broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .withColumn("__tid", coalesce(col("token_id"), lit(0L)))
      .groupBy("doc_id")
      .agg(F.transform(array_sort(F.collect_list(
          struct(col("__pos"), col("__tid")))), s => s.getField("__tid"))
        .as("ids"))
  }

  /** [[encodeTokens]] composed with a corpus-level report: token count
    * and OOV rate per document, `(doc_id, n_tokens, n_oov, oov_rate)`
    * — the coverage check run after every vocab rebuild. Same plan
    * shape as [[encodeTokens]] minus the reassembly sort.
    */
  def oovStats(df: DataFrame, id: Column, text: Column,
      vocab: DataFrame, sep: String = " "): DataFrame =
    df.select(id.as("doc_id"),
        explode(split(text, java.util.regex.Pattern.quote(sep))).as("token"))
      .join(F.broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        F.count(lit(1)).as("n_tokens"),
        F.count(when(col("token_id").isNull, lit(1))).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))

  /** Byte-Pair-Encoding merge learning (Sennrich et al. 2016): the
    * `rounds` highest-frequency adjacent symbol-pair merges over the
    * corpus, starting from single characters. Returns one row per
    * learned merge: `(merge_rank, left, right, merged, pair_freq)`,
    * rank 1 = first/most-frequent. Ties break on (left ASC, right
    * ASC) — a total, engine-independent rule. Stops early when no
    * pair reaches `minPairFreq`.
    *
    * Distributed shape — the property that makes BPE trainable at
    * corpus scale: ONE corpus-wide pass builds the word-FREQUENCY
    * table (the classic BPE formulation trains on word counts, not
    * running text), and every round after operates on that
    * vocab-sized table: adjacent-pair explode → hash count →
    * TakeOrdered(1) for the argmax (a one-row bounded action per
    * round, like the IVF centroid probe), then a row-local
    * left-to-right fold rewrites the symbol arrays. Each round
    * checkpoints the vocab-sized table ([[Materialize.checkpoint]]) so
    * K rounds keep constant lineage (the dedup-clusters pattern), and
    * releases the previous round's blocks.
    */
  def learnBpeMerges(df: DataFrame, text: Column, rounds: Int,
      minPairFreq: Long = 1L, sep: String = " "): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1, got $minPairFreq")
    val spark = df.sparkSession
    import spark.implicits._
    var cur = Materialize.checkpoint(df
      .select(explode(split(text, java.util.regex.Pattern.quote(sep))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(F.count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("syms"), col("freq")), eager = true)
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    var done = false
    for (r <- 1 to rounds if !done) {
      val pairTop = cur.filter(F.size(col("syms")) >= 2)
        .select(col("freq"), explode(F.zip_with(
          F.slice(col("syms"), lit(1), F.size(col("syms")) - 1),
          F.slice(col("syms"), lit(2), F.size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(F.sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairTop.isEmpty || pairTop.head.getAs[Long]("pf") < minPairFreq) {
        done = true
      } else {
        val a = pairTop.head.getAs[String]("a")
        val b = pairTop.head.getAs[String]("b")
        merges += ((r, a, b, a + b, pairTop.head.getAs[Long]("pf")))
        // release the PREVIOUS round's checkpoint blocks once the new
        // round's checkpoint has materialized (the eager checkpoint
        // cuts lineage, so the old blocks are dead) — otherwise
        // checkpointed partitions accumulate linearly with merge
        // rounds, material at realistic BPE vocab sizes (thousands of
        // merges); the connectedComponents pattern
        val prev = cur
        cur = Materialize.checkpoint(
          cur.withColumn("syms", mergePair(col("syms"), a, b)), eager = true)
        Materialize.release(prev)
      }
    }
    // the result is driver-built: the last round's table is dead too
    Materialize.release(cur)
    merges.toSeq.toDF("merge_rank", "left", "right", "merged", "pair_freq")
  }

  /** Row-local left-to-right BPE merge of adjacent (`a`, `b`) symbol
    * occurrences in an array column — overlapping occurrences merge
    * greedily from the left (`[a,a,a]` with pair (a,a) → `[aa,a]`),
    * the standard BPE scan order.
    */
  private[operators] def mergePair(syms: Column, a: String, b: String): Column =
    F.aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(F.size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(F.slice(acc, lit(1), F.size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Segment every document with an already-learned merge list
    * ([[learnBpeMerges]] output collected to `(left, right)` pairs in
    * rank order): one row per document, `(doc_id, pieces)` — the
    * in-order concatenation of each word's final symbol sequence.
    *
    * Distributed shape: each DISTINCT word is segmented once (the
    * merge folds run over the vocab-sized table, not the corpus),
    * then a BROADCAST join maps words to piece arrays and one
    * groupBy(doc) reassembles in word order — the [[encodeTokens]]
    * economics. The merge list is rank-ordered fold composition:
    * K merges = K chained row-local rewrites.
    */
  def bpeSegment(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)], sep: String = " "): DataFrame = {
    val toks = df.select(id.as("doc_id"),
      posexplode(split(text, java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "word")))
      .filter(col("word") =!= "")
    val pieces = merges.foldLeft(split(col("word"), "").as("syms")) {
      case (acc, (a, b)) => mergePair(acc, a, b)
    }
    val wordPieces = toks.select(col("word")).distinct()
      .withColumn("__pieces", pieces)
    toks
      .join(F.broadcast(wordPieces), Seq("word"))
      .groupBy("doc_id")
      .agg(F.flatten(F.transform(array_sort(F.collect_list(
          struct(col("__pos"), col("__pieces")))),
        s => s.getField("__pieces"))).as("pieces"))
  }
}
