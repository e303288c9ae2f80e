package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for large text corpora — the
  * training-data-pipeline extension surface (no reference
  * counterpart; designed Spark-first for the 100 TB case).
  *
  * All stages are hash-partitioned joins/aggregations on shingle or
  * bucket keys — no driver-side state, no all-pairs comparison except
  * within LSH buckets (by construction small).
  */
object Dedup {

  /** Exact dedup by one or more key expressions (hash-groupBy):
    * per distinct key, the minimum id (the row to keep) and the
    * duplicate count.
    */
  def exact(df: DataFrame, id: Column, keys: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(F.min(id).as("keep_id"), F.count(lit(1)).as("n_dups"))

  /** Streaming exact dedup: drop duplicate keys on an unbounded
    * stream with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark` — a key's state is reaped once
    * the watermark passes its event time + horizon, so memory tracks
    * the horizon, not history). Duplicates arriving within the
    * horizon are suppressed; `eventTime` must be a timestamp column
    * of `df`. On a batch frame it falls back to a GLOBAL
    * dropDuplicates — a superset of the streaming suppression:
    * duplicates farther apart than the horizon are also removed in
    * batch but both survive on the stream (their state was already
    * reaped). Validate horizon-sensitive logic on a real stream.
    */
  def exactStream(df: DataFrame, keys: Seq[String], eventTime: String,
      horizon: String): DataFrame =
    if (df.isStreaming)
      df.withWatermark(eventTime, horizon).dropDuplicatesWithinWatermark(keys)
    else df.dropDuplicates(keys)

  /** Row-local word n-gram shingle array of a text column (possibly
    * with duplicates — downstream consumers either `distinct()` after
    * exploding or are duplicate-insensitive like the MinHash min).
    * Documents shorter than n words yield an empty array. Delegates to
    * [[graft.functions.TextFunctions.ngramArray]] — the same gram
    * builder the repetition quality filters use, so dedup and quality
    * stages of a pipeline share one expression shape.
    */
  def shingleArray(text: Column, n: Int, sep: String = " "): Column =
    graft.functions.TextFunctions.ngramArray(text, n, sep)

  /** Distinct (id, word n-gram shingle) pairs of a text column —
    * the shared first stage of the similarity-based dedups.
    */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int,
      sep: String = " "): DataFrame =
    df.select(id.as("doc_id"), explode(shingleArray(text, n, sep)).as("shingle"))
      .distinct()

  /** Exact n-gram Jaccard similarity for every pair of ids sharing at
    * least one shingle, thresholded. The inverted-index self-join on
    * the shingle key is the canonical distributed formulation: shuffle
    * by shingle, pairs emerge co-partitioned; nothing is quadratic in
    * the corpus — only in per-shingle posting lists, which
    * `maxDocFreq` bounds: shingles appearing in more than that many
    * documents (boilerplate headers, license text) are dropped from
    * the universe BEFORE pairing, capping any posting list's join
    * fan-out at maxDocFreq² while near-dup signal lives in the rare
    * shingles. Jaccard is then computed over the restricted universe
    * on both numerator and denominator (scores stay consistent).
    * The cap is ON by default — one boilerplate shingle shared by n
    * documents otherwise turns the self-join quadratic on a single hot
    * key, precisely on the corpora this operator targets. Pass `None`
    * only as an explicit opt-out for small-corpus verification.
    *
    * `prefixFilter` (off by default) switches candidate generation to
    * prefix filtering (the AllPairs/PPJoin family, Bayardo et al.
    * 2007): under a global shingle order (rarest first), a pair with
    * Jaccard ≥ t must share a shingle within each document's first
    * `|d| − ⌈t·|d|⌉ + 1` shingles, so only those prefixes are indexed
    * and self-joined; a size filter (`min ≥ t·max`) prunes further,
    * and surviving candidates are verified with the exact
    * intersection count. This is LOSSLESS — output is identical to
    * the all-pairs form at the same threshold — but the join volume
    * drops from Σ df² to Σ (prefix-df)², concentrated on the rarest
    * shingles. It pays in the near-dup regime (t ≥ ~0.5, prefixes
    * ~(1−t) of each doc); at low thresholds the prefixes approach the
    * full sets and the plain inverted index is cheaper. Composes with
    * `maxDocFreq` (prefixes are taken over the capped universe).
    *
    * Materialization: the capped and prefix-filtered paths hold the
    * (doc, shingle) table as one lazy [[Materialize.checkpoint]] per
    * call — written to the session's checkpoint dir when one is set,
    * executor-local blocks otherwise. The plain capless path stays a
    * fully lazy plan.
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      n: Int = 2, threshold: Double = 0.2,
      maxDocFreq: Option[Int] = scala.Some(5000),
      prefixFilter: Boolean = false, sep: String = " "): DataFrame = {
    val sh0 = shingles(df, id, text, n, sep)
    val sh1 = maxDocFreq match {
      case scala.Some(cap) =>
        // doc-frequency filter: one extra aggregation on the same
        // shingle key the join shuffles on — co-partitioned, no
        // additional exchange for the probe side
        val keep = sh0.groupBy("shingle")
          .agg(F.count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
          .select("shingle")
        sh0.join(keep, "shingle").select(col("doc_id"), col("shingle"))
      case scala.None => sh0
    }
    // the capped and prefix-filtered paths re-derive the (doc,
    // shingle) table through consumers with DIFFERENT partitionings
    // (the cap join and doc-freq agg by shingle, per-doc counts and
    // the prefix window by doc_id, verification by id+shingle) —
    // unmaterialized, each re-runs the explode + corpus-wide distinct
    // lineage: the round-14 plan audit read the Generate/HashAggregate
    // subtree FOUR times in the executed dedup_ngram plan. A LAZY
    // checkpoint materializes it once per call (reliable under a
    // checkpoint dir — the table is corpus-sized — local otherwise).
    // The PLAIN CAPLESS path (maxDocFreq = None, no prefix filter —
    // the explicit small-corpus verification shape) is deliberately
    // left unmaterialized: its only consumers are the two identical
    // self-join sides (one shared exchange via reuse) plus the cheap
    // counts agg, and the checkpoint measured as pure overhead there
    // (the minHashKeep lesson: materialize only when consumers'
    // partitionings differ).
    val sh =
      if (maxDocFreq.isDefined || prefixFilter)
        Materialize.checkpoint(sh1, eager = false)
      else sh1
    val counts = sh.groupBy("doc_id").agg(F.count(lit(1)).as("n_sh"))
    val inter =
      if (!prefixFilter)
        sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
          .agg(F.count(lit(1)).as("i"))
      else prefixFilteredIntersections(sh, threshold)
    inter
      .join(counts.as("ca"), col("ida") === col("ca.doc_id"))
      .join(counts.as("cb"), col("idb") === col("cb.doc_id"))
      .select(col("ida"), col("idb"),
        (col("i").cast(DoubleType) * lit(1.0) /
          (col("ca.n_sh") + col("cb.n_sh") - col("i")).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate generation + exact verification for the prefix-filtered
    * Jaccard path. Returns (ida, idb, i) intersection counts for every
    * pair that can reach `threshold` — a lossless superset filter:
    *
    *   J(a,b) ≥ t  ⇒  |a∩b| ≥ ⌈t·|a|⌉ (and ⌈t·|b|⌉), so the
    *   intersection cannot fit entirely in either document's last
    *   ⌈t·|d|⌉ − 1 shingles; under ANY global total order the
    *   smallest common shingle therefore falls inside BOTH prefixes
    *   of length |d| − ⌈t·|d|⌉ + 1.
    *
    * The global order is (doc-frequency asc, shingle asc) — rarest
    * first, which makes the indexed prefixes land on the most
    * selective shingles. The `1e-9` slack on the two ⌈t·n⌉ / t·max
    * comparisons guards against double rounding UP past an exact
    * integer product (which would shorten a prefix below the safe
    * bound); rounding the other way only lengthens prefixes — safe.
    *
    * Shuffles: doc-freq agg (by shingle, co-partitioned with the sh
    * lineage), one window (by doc_id) for the per-doc rank, the prefix
    * self-join (by shingle, volume Σ prefix-df²), pair-distinct, and
    * the two verification probes of the full posting lists restricted
    * to candidate ids. All bounded by candidate volume — never corpus².
    */
  private def prefixFilteredIntersections(sh: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(F.count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("__df"), col("shingle"))
    val ranked = sh.join(dfreq, "shingle")
      .select(col("doc_id"), col("shingle"),
        row_number().over(byRarity).as("__rnk"),
        F.count(lit(1)).over(Window.partitionBy("doc_id")).as("__n"))
    val prefix = ranked
      .filter(col("__rnk") <=
        col("__n") - F.ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("shingle"), col("__n"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.__n"), col("b.__n")).cast(DoubleType) >=
            lit(threshold) * greatest(col("a.__n"), col("b.__n")) - lit(1e-9))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("ida"), col("shingle")), Seq("ida"))
      .join(sh.select(col("doc_id").as("idb"), col("shingle")),
        Seq("idb", "shingle"))
      .groupBy("ida", "idb").agg(F.count(lit(1)).as("i"))
  }

  /** The permutation coefficients (a_j, b_j) of [[minHashSignatures]],
    * exposed so an external oracle can replay the exact computation:
    * a ∈ [1, p−1], b ∈ [0, p−1], drawn from a seeded generator.
    */
  def minHashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    requireK(k)
    val p = graft.functions.PortableHash.P
    val rnd = new scala.util.Random(seed)
    // floorMod, not abs-then-mod. NOTE: the two differ for EVERY
    // negative draw (~half of them), so switching mappings changes all
    // coefficients for a fixed seed — signatures persisted under an
    // abs-based mapping do not reproduce and must be regenerated.
    // floorMod is the correct form: abs(Long.MinValue) is negative,
    // which would let a slip to <= 0 (breaking the permutation-range
    // invariant), and floorMod keeps every draw in range.
    Seq.fill(k)((java.lang.Math.floorMod(rnd.nextLong(), p - 1) + 1,
      java.lang.Math.floorMod(rnd.nextLong(), p)))
  }

  private def requireK(k: Int): Unit =
    require(k >= 1, s"k, the MinHash signature length, must be >= 1, got $k")

  /** MinHash signatures: k permutation-style hash functions
    * `h_j(s) = (a_j·x + b_j) mod p` over a base shingle hash x,
    * minimized per document: one aggregation collects each document's
    * hashes, and the native kernel
    * ([[org.apache.spark.sql.graft.MinHashMins]]) folds them in one pass
    * with k running mins. Deterministic: a/b derive from a seeded
    * generator. `baseHash` defaults to xxhash64; pass
    * [[graft.functions.PortableHash.polyHash]] when results must be
    * reproducible outside Spark (cross-engine verification).
    */
  def minHashSignatures(sh: DataFrame, k: Int = 64,
      seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_)): DataFrame = {
    requireK(k)
    docSignatures(sh.select(col("doc_id"), array(baseHash(col("shingle"))).as("__hs")),
      k, seed)
  }

  /** One signature per distinct `doc_id` of `rows` (doc_id, __hs: an
    * array of base hashes): the kernel over the concatenation of the
    * id's hash arrays, which equals the signature of the union of its
    * shingles because the min is duplicate-insensitive. Ids whose arrays
    * hold no hash at all are dropped.
    */
  private def docSignatures(rows: DataFrame, k: Int, seed: Long): DataFrame =
    rows.groupBy("doc_id").agg(F.flatten(F.collect_list(col("__hs"))).as("__hs"))
      .filter(F.size(col("__hs")) > 0)
      .select(col("doc_id"), signatureOf(col("__hs"), k, seed).as("sig"))

  /** The base hashes of a text's word n-grams: the kernel's input, which
    * it reduces mod p itself. A lambda, because `baseHash` is any column
    * function.
    */
  private def gramHashes(text: Column, n: Int, sep: String,
      baseHash: Column => Column): Column =
    F.transform(shingleArray(text, n, sep), baseHash)

  /** The k-value signature of a base-hash array (one kernel call). */
  private def signatureOf(hs: Column, k: Int, seed: Long): Column =
    org.apache.spark.sql.graft.MinHashExpressions.minHashMins(hs, minHashCoeffs(k, seed))

  /** LSH banding: split the signature into `bands` rows-per-band
    * slices; documents sharing any identical (band, slice) are
    * candidate near-duplicates. The join key is the slice itself
    * (a few longs) rather than a 32-bit hash of it — same shuffle
    * structure, but candidacy is EXACTLY slice equality: no hash
    * collisions, so the output is reproducible by any engine from the
    * signatures alone. Candidate pairs are scored by signature
    * agreement (the MinHash Jaccard estimator).
    *
    * Shuffle economics: the band self-join and the pair-distinct carry
    * only (band, bucket, doc_id) — NOT the full k-long signatures,
    * which would otherwise be replicated `bands` times through the
    * join and again through the distinct. The two signatures are
    * re-joined exactly once per surviving distinct pair for the
    * agreement estimate; those joins probe `signatures` on its own
    * groupBy("doc_id") output partitioning, so no extra shuffle of the
    * signature table, and its pre-exchange aggregation is shared via
    * exchange reuse.
    */
  /** Explode a frame carrying a `sig` column into one row per LSH band:
    * every non-`sig` column is preserved, plus (band, bucket) where
    * bucket is the band's signature slice. Rows-per-band =
    * size(sig) div bands, with the LAST band absorbing the remainder —
    * every signature hash participates in banding even when bands does
    * not divide k. (bands > k degenerates to empty early slices; the
    * public entry points reject that combination.) A null `sig` gives
    * no rows.
    */
  private[operators] def bandBuckets(withSig: DataFrame, bands: Int): DataFrame = {
    val rpb = s"(size(sig) div $bands)"
    val len = s"IF(b = ${bands - 1}, size(sig) - b * $rpb, $rpb)"
    withSig.select(col("*"),
        posexplode(expr(s"IF(sig IS NULL, NULL, transform(sequence(0, ${bands - 1}), b -> " +
          s"slice(sig, b * $rpb + 1, $len)))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .drop("sig")
  }

  def minHashCandidates(signatures: DataFrame, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val buckets = bandBuckets(signatures.select(col("doc_id"), col("sig")), bands)
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    val sa = signatures.select(col("doc_id").as("ida"), col("sig").as("siga"))
    val sb = signatures.select(col("doc_id").as("idb"), col("sig").as("sigb"))
    pairs.join(sa, "ida").join(sb, "idb")
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), z -> z))")
          .cast(DoubleType) / expr("size(siga)"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("est_jaccard"))
  }

  /** End-to-end MinHash+LSH near-dup pairs.
    *
    * `cacheSignatures` (default on) persists the signature table —
    * k longs per document, tiny next to the corpus — before the
    * banding stage. The table (every document's shingle hashes,
    * collected per doc_id, then one kernel pass per document) has FOUR
    * consumers downstream (both sides of the band self-join and both
    * agreement re-joins); without the persist, Spark's exchange reuse
    * only partially deduplicates the recomputation under AQE. The
    * cache entry is released by the
    * ContextCleaner once the result plan is unreachable; pass false to
    * manage persistence yourself (e.g. when composing with your own
    * cache of the signatures).
    */
  def minHashPairs(df: DataFrame, id: Column, text: Column, n: Int = 2,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      cacheSignatures: Boolean = true, sep: String = " "): DataFrame =
    minHashPairsWithSignatures(df, id, text, n, k, bands, threshold, seed,
      baseHash, cacheSignatures, sep)._1

  /** [[minHashPairs]] variant that also returns the (persisted, when
    * `cacheSignatures`) signature table the pairs were built on. The
    * cache entry is otherwise released only when the ContextCleaner
    * collects the unreachable plan — fine for one-shot jobs, but a
    * long-lived session issuing many dedups can accumulate
    * MEMORY_AND_DISK entries between GC cycles. With the handle the
    * caller can `unpersist()` deterministically once the pairs are
    * materialized (or reuse the signatures for further banding runs).
    */
  def minHashPairsWithSignatures(df: DataFrame, id: Column, text: Column,
      n: Int = 2, k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      cacheSignatures: Boolean = true,
      sep: String = " "): (DataFrame, DataFrame) = {
    requireK(k)
    require(bands >= 1 && bands <= k,
      s"bands must be in [1, k=$k], got $bands (bands > k would make " +
        "every per-band slice empty — all docs collide in every bucket)")
    // the shingle hashes are computed row-locally and collected per
    // doc_id: one shuffle of 8-byte hashes instead of the distinct and
    // the aggregation of the exploded (doc_id, shingle) string table
    val sigs = docSignatures(
      df.select(id.as("doc_id"), gramHashes(text, n, sep, baseHash).as("__hs")), k, seed)
    val shared =
      if (cacheSignatures)
        sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sigs
    (minHashCandidates(shared, bands, threshold), shared)
  }

  /** MinHash signature as a pure per-row PROJECTION (appended as
    * column `out`) — zero shuffles, because the k-min is
    * duplicate-insensitive: min over the row-local shingle array
    * equals min over the distinct shingle set, so the explode +
    * distinct + groupBy of [[minHashSignatures]] is unnecessary when
    * the consumer only needs the signature. This is also the only
    * formulation available on an unbounded stream (no groupBy).
    * Documents with no shingles (shorter than n words) get an
    * all-null signature — filter or handle explicitly downstream.
    *
    * One hash pass per shingle and one kernel call per row
    * ([[org.apache.spark.sql.graft.MinHashMins]]): the k mins are taken
    * in a single loop over the hashes.
    */
  def withMinHashSignature(df: DataFrame, text: Column, out: String = "sig",
      n: Int = 2, k: Int = 64, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_), sep: String = " "): DataFrame = {
    requireK(k)
    require(!df.columns.contains(out),
      s"output column '$out' already exists on the input — pick another " +
        "`out` name (silently replacing a caller's column is never right)")
    df.withColumn(out, signatureOf(gramHashes(text, n, sep, baseHash), k, seed))
  }

  /** `df` with its column `text` replaced by the signature `sig`, one
    * row for each row with shingle signal: a shingle with a non-null hash
    * (without one the kernel's k values would all be null). The hash
    * array is a projection of its own that the test and the kernel
    * share, and a row without signal explodes to no row: a Filter on
    * `sig` would be pushed below the projection that computes it and
    * sign every document twice.
    */
  private def signaturesWithSignal(df: DataFrame, text: String, n: Int, k: Int,
      seed: Long, baseHash: Column => Column, sep: String): DataFrame =
    df.withColumn("__hs", gramHashes(col(text), n, sep, baseHash))
      .select(col("*"), explode(when(F.array_max(col("__hs")).isNotNull,
        array(signatureOf(col("__hs"), k, seed)))).as("sig"))
      .drop(text, "__hs")

  /** Near-dup SUPPRESSION (a keep/drop verdict per document) rather
    * than pair enumeration: each of a document's LSH band buckets is
    * CLAIMED by the first document sharing it (minimum `ord`, doc_id
    * tie-break), and a document is kept iff it claims every one of its
    * own bands. This is the greedy streaming-dedup semantic expressed
    * in batch: near-dups of a kept document lose at least one bucket;
    * near-dups of a SUPPRESSED document may also be suppressed
    * (transitive chains — the standard greedy bucket-claim behavior).
    *
    * Returns (doc_id, lost_bands, kept), one row per document with a
    * non-null id and at least one shingle. Each input row is banded on
    * its own: two rows sharing an id both claim (identical rows are
    * counted twice in `lost_bands`). The signatures are a projection of
    * the input rows (one kernel call per row), claims are one window
    * on the (band, bucket) key and the verdict one aggregation by
    * doc_id — two shuffles of docs × bands rows, no join and no pair
    * materialization at all. Cost
    * regime (measured head-to-head vs [[minHashPairs]] + anti-join,
    * the Bench `dedup_minhash_keep*` rows): at gate-scale duplicate
    * density the two forms are within ~35% of each other either way —
    * the claim/verdict aggregations roughly buy back what skipping
    * pair materialization saves. The keep form's structural advantage
    * is that its volume NEVER exceeds docs × bands regardless of
    * duplicate density, while the pairs form materializes O(dup pairs)
    * rows — quadratic per duplicate cluster — so it is the safe
    * default for dup-heavy corpora, and the only form with a
    * streaming twin.
    */
  def minHashKeep(df: DataFrame, id: Column, text: Column, ord: Column,
      n: Int = 2, k: Int = 64, bands: Int = 16, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      sep: String = " "): DataFrame = {
    requireK(k)
    require(bands >= 1 && bands <= k,
      s"bands must be in [1, k=$k], got $bands")
    // (doc_id, __ord, sig) in one pass over the rows. The hash array is
    // its own projection, so the size test and the kernel share it, and
    // a text with no shingle gets a null sig, which bandBuckets explodes
    // to nothing: a Filter here would be pushed below the projection
    // and hash every shingle twice.
    val sigs = df.select(id.as("doc_id"), ord.as("__ord"),
        gramHashes(text, n, sep, baseHash).as("__hs"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("__ord"),
        when(F.size(col("__hs")) > 0, signatureOf(col("__hs"), k, seed)).as("sig"))
    val claimant = F.min(struct(col("__ord"), col("doc_id")))
      .over(Window.partitionBy("band", "bucket")).getField("doc_id")
    bandBuckets(sigs, bands)
      .select(col("doc_id"), claimant.as("__claimant"))
      .groupBy("doc_id")
      .agg(F.count(when(col("__claimant") =!= col("doc_id"), lit(1)))
        .as("lost_bands"))
      .select(col("doc_id"), col("lost_bands"),
        (col("lost_bands") === 0).as("kept"))
  }

  /** Streaming twin of [[minHashKeep]]: emits the doc_ids that claim
    * ALL their LSH band buckets within the watermark horizon. Two
    * chained stateful operators, both with horizon-bounded state:
    * `dropDuplicatesWithinWatermark` on (band, bucket) keeps each
    * bucket's first-ARRIVED claim, and a tumbling event-time window
    * counts each document's surviving claims (== bands ⇒ kept), so a
    * verdict is emitted once the watermark passes its window.
    * Signatures come from [[withMinHashSignature]] — a pure
    * projection, the only streaming-safe formulation. Caveats mirror
    * [[exactStream]]: near-dups farther apart than the horizon are
    * both kept (their claims were reaped), and within one micro-batch
    * arrival order is not totalized (the batch twin's `ord` is). On a
    * batch frame it falls back to [[minHashKeep]] ordered by
    * (eventTime, id).
    */
  def minHashKeepStream(df: DataFrame, id: Column, text: Column,
      eventTime: String, horizon: String,
      n: Int = 2, k: Int = 64, bands: Int = 16, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      sep: String = " "): DataFrame = {
    requireK(k)
    require(bands >= 1 && bands <= k,
      s"bands must be in [1, k=$k], got $bands")
    if (!df.isStreaming)
      minHashKeep(df, id, text, struct(col(eventTime), id), n, k, bands,
        seed, baseHash, sep)
        .filter(col("kept")).select("doc_id")
    else {
      // empty documents have no shingle signal and no row here
      val sigDf = signaturesWithSignal(
        df.select(id.as("doc_id"), col(eventTime), text.as("__graft_t")),
        "__graft_t", n, k, seed, baseHash, sep)
      bandBuckets(sigDf, bands)
        .withWatermark(eventTime, horizon)
        .dropDuplicatesWithinWatermark(Seq("band", "bucket"))
        .groupBy(col("doc_id"), F.window(col(eventTime), horizon))
        .agg(F.count(lit(1)).as("__graft_n"))
        .filter(col("__graft_n") === bands)
        .select("doc_id")
    }
  }

  /** Embedding-cosine near-duplicate pairs. With `planes` set (the
    * DEFAULT), candidates come from shared random-hyperplane LSH
    * buckets — one map pass + bucket equijoin, the scale path.
    * `planes = None` is an explicit opt-out that compares ALL pairs
    * (quadratic cross join): small-corpus verification only, never the
    * plan you want at scale. `exact` uses order-insensitive decimal
    * accumulation for both the bucket-sign dots and the cosine scores,
    * making the bucketed output replayable cross-engine from the
    * seeded hyperplanes.
    *
    * `tables` is the recall/fan-out dial for dense corpora: at scale
    * you want MORE planes (finer buckets bound the within-bucket pair
    * fan-out) and several independent hash tables (seeds `seed + t`)
    * to recover the recall the finer buckets lose — candidates share a
    * bucket in ANY table. With `tables > 1` the per-table joins carry
    * only (bucket, id) — pairs are deduplicated on ids alone and the
    * two vectors re-joined once (same shuffle economics as
    * [[minHashCandidates]]).
    *
    * `dim` is the embedding dimensionality; when omitted it is probed
    * with one tiny driver job (`select size(vec) limit 1`) — supply it
    * for fully lazy composition (streaming frames cannot run the
    * probe).
    */
  def embeddingPairs(df: DataFrame, id: Column, vec: Column,
      threshold: Double, planes: Option[Int] = scala.Some(16),
      exact: Boolean = false, seed: Long = 42L,
      tables: Int = 1, dim: Option[Int] = scala.None): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    require(dim.forall(_ > 0), s"dim must be positive, got $dim")
    // per-vector norms ride each join side so pair scoring is one
    // fused dot, not three accumulators (bit-identical — see
    // Similarity.cosineWithNorms)
    val a = df.select(id.as("ida"), vec.as("va"),
      Similarity.norm(vec).as("__na"))
    val b = df.select(id.as("idb"), vec.as("vb"),
      Similarity.norm(vec).as("__nb"))
    val pairs = planes match {
      case scala.Some(p) =>
        // the hyperplane table needs the embedding dimensionality; the
        // fallback probe is one tiny driver job, but it IS a driver
        // action inside an otherwise lazy builder (and fails on a
        // streaming frame) — pass `dim` to stay fully lazy
        val d = dim.getOrElse(df.select(F.size(vec)).head().getInt(0))
        def bucketed(t: Int): (DataFrame, DataFrame) = {
          val hp = Similarity.hyperplanes(p, d, seed + t)
          (a.withColumn("bucket", Similarity.lshBucket(col("va"), hp, exact)),
            b.withColumn("bucket", Similarity.lshBucket(col("vb"), hp, exact)))
        }
        if (tables == 1) {
          // one bucket per vector: a pair can match at most once, no
          // dedup pass needed and the vectors ride the single join
          val (ab, bb) = bucketed(0)
          ab.join(bb, Seq("bucket")).filter(col("ida") < col("idb"))
        } else {
          val idPairs = (0 until tables).map { t =>
            val (ab, bb) = bucketed(t)
            ab.select(col("ida"), col("bucket"))
              .join(bb.select(col("idb"), col("bucket")), Seq("bucket"))
              .filter(col("ida") < col("idb"))
              .select(col("ida"), col("idb"))
          }.reduce(_ unionByName _).distinct()
          idPairs.join(a, Seq("ida")).join(b, Seq("idb"))
        }
      case scala.None =>
        a.join(b, col("ida") < col("idb"))
    }
    val scored =
      if (!exact)
        pairs.select(col("ida"), col("idb"),
          Similarity.cosineWithNorms(col("va"), col("vb"),
            col("__na"), col("__nb")).as("cos"))
      else {
        val terms = pairs.select(col("ida"), col("idb"),
          explode(zip_with(col("va"), col("vb"), (x, y) =>
            struct((x.cast(DoubleType) * y.cast(DoubleType)).as("xy"),
              (x.cast(DoubleType) * x.cast(DoubleType)).as("xx"),
              (y.cast(DoubleType) * y.cast(DoubleType)).as("yy")))).as("t"))
        terms.groupBy("ida", "idb")
          .agg(
            F.sum(col("t.xy").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("dot"),
            F.sum(col("t.xx").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("na"),
            F.sum(col("t.yy").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("nb"))
          .select(col("ida"), col("idb"),
            graft.functions.Num.safeDiv(col("dot"),
              sqrt(col("na")) * sqrt(col("nb"))).as("cos"))
      }
    scored.filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): semantic
    * near-dup removal over an embedding column. Every document is
    * assigned map-side to its nearest centroid (literal-expression
    * argmax — no join, no shuffle; centroids from
    * [[Similarity.ivfCentroids]] or any caller-trained list), then
    * cosine pairs are computed WITHIN clusters only and a document is
    * dropped iff some (ord, id)-earlier cluster-mate sits within the
    * threshold — the paper's "keep one per ε-ball" rule made
    * deterministic by the explicit ord. Returns one verdict row per
    * document: (doc_id, cid, kept).
    *
    * Distributed shape: the only shuffles are the cluster-key
    * self-join and the dropped-id distinct. Pair volume is Σ(cluster
    * size)² — the paper's own dial: choose nCentroids so clusters
    * stay bounded (they cluster 1e9 docs into 25k clusters); the
    * corpus-wide all-pairs never happens. The earliest-mate rule
    * (rather than transitive closure) is the published semantics and
    * needs no iterative driver loop — compose
    * [[connectedComponents]] over [[embeddingPairs]] when full
    * ε-closure clustering is wanted instead.
    *
    * `exact = true` makes BOTH the centroid assignment and the pair
    * cosines decimal-accumulated (order-insensitive), so the verdict
    * replays bit-identically in any engine given the same centroid
    * literals — the gate mode. Default accumulates doubles
    * (codegen-friendly, the production mode).
    *
    * `cacheAssignments` (default on) persists the centroid-assignment
    * table (the minHashPairs pattern); the entry is released by the
    * ContextCleaner once the plan is unreachable. A long-lived
    * session issuing many runs should use [[semDedupWithState]] and
    * `unpersist()` the returned handle deterministically.
    */
  def semDedup(df: DataFrame, id: Column, vec: Column, ord: Column,
      centroids: Seq[(Int, Seq[Double])], threshold: Double,
      exact: Boolean = false, cacheAssignments: Boolean = true): DataFrame =
    semDedupWithState(df, id, vec, ord, centroids, threshold, exact,
      cacheAssignments)._1

  /** [[semDedup]] variant that also returns the (persisted, when
    * `cacheAssignments`) centroid-assignment table, so callers can
    * `unpersist()` it deterministically after materializing the
    * verdicts — the same state-handle contract as
    * [[minHashPairsWithSignatures]].
    */
  def semDedupWithState(df: DataFrame, id: Column, vec: Column, ord: Column,
      centroids: Seq[(Int, Seq[Double])], threshold: Double,
      exact: Boolean = false,
      cacheAssignments: Boolean = true): (DataFrame, DataFrame) = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    // persisted like minHashPairs' signature table: the k-centroid
    // argmax is the most expensive expression here and `assigned`
    // feeds three consumers (both pair sides + the verdict join) —
    // uncached it would be re-evaluated per consumer, and the cost
    // grows with the centroid count (which scales with the corpus
    // under the SemDeDup recipe)
    val assigned0 = df.select(id.as("doc_id"), ord.as("__ord"), vec.as("v"))
      .withColumn("cid", Similarity.assignCentroid(col("v"), centroids, exact))
    val assigned =
      if (cacheAssignments)
        assigned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else assigned0
    val a = assigned.select(col("cid"), col("doc_id").as("ida"),
      col("__ord").as("orda"), col("v").as("va"))
    val b = assigned.select(col("cid"), col("doc_id").as("idb"),
      col("__ord").as("ordb"), col("v").as("vb"))
    // strict (ord, id) precedence: a is the earlier mate, so only the
    // later member of a pair can be dropped — the claim is retry- and
    // partitioning-independent
    val cand = a.join(b, Seq("cid"))
      .filter(col("orda") < col("ordb") ||
        (col("orda") === col("ordb") && col("ida") < col("idb")))
    val scored =
      if (!exact)
        cand.select(col("idb"),
          Similarity.cosine(col("va"), col("vb")).as("cos"))
      else {
        val terms = cand.select(col("ida"), col("idb"),
          explode(zip_with(col("va"), col("vb"), (x, y) =>
            struct((x.cast(DoubleType) * y.cast(DoubleType)).as("xy"),
              (x.cast(DoubleType) * x.cast(DoubleType)).as("xx"),
              (y.cast(DoubleType) * y.cast(DoubleType)).as("yy")))).as("t"))
        terms.groupBy("ida", "idb")
          .agg(
            F.sum(col("t.xy").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("dot"),
            F.sum(col("t.xx").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("na"),
            F.sum(col("t.yy").cast(graft.functions.Num.DotDec))
              .cast(DoubleType).as("nb"))
          .select(col("idb"),
            graft.functions.Num.safeDiv(col("dot"),
              sqrt(col("na")) * sqrt(col("nb"))).as("cos"))
      }
    val dropped = scored.filter(col("cos") >= threshold)
      .select(col("idb").as("doc_id")).distinct()
      .withColumn("__graft_dup", lit(true))
    val verdicts = assigned.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cid"),
        coalesce(!col("__graft_dup"), lit(true)).as("kept"))
    (verdicts, assigned)
  }

  /** 64-bit SimHash per document: each word hash votes ±1 on its bit
    * positions; the sign vector packs into one long. One aggregation
    * pass (64 sums). `wordHash` defaults to xxhash64; pass
    * [[graft.functions.PortableHash.hash62]] for cross-engine
    * reproducibility (its two top bits are constant-zero — harmless:
    * those positions deterministically vote 0 in every engine).
    */
  def simHash(df: DataFrame, id: Column, text: Column,
      wordHash: Column => Column = xxhash64(_)): DataFrame = {
    val words = df.select(id.as("doc_id"),
      explode(split(text, " ")).as("w"))
      .withColumn("h", wordHash(col("w")))
    val bitSums = (0 until 64).map { b =>
      F.sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"s$b")
    }
    words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup candidate pairs with Hamming distance ≤
    * `maxDistance`. Candidates block on 16-bit quarters of the hash
    * (pigeonhole: distance ≤ 3 ⇒ one quarter matches exactly), so the
    * join key is selective at scale; the exact popcount filter runs
    * only on blocked pairs.
    */
  def simHashPairs(df: DataFrame, id: Column, text: Column,
      maxDistance: Int = 3,
      wordHash: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs(simHash(df, id, text, wordHash), col("doc_id"),
      col("simhash"), maxDistance)

  /** Near-dup candidate pairs of ANY 64-bit signature column with
    * Hamming distance ≤ `maxDistance` — the blocking engine behind
    * [[simHashPairs]], shared by the image dHash pipeline
    * ([[Multimodal.imageDHash]]) and any caller-supplied 64-bit
    * fingerprint. Candidates block on disjoint bit blocks of the hash
    * (pigeonhole: distance ≤ d ⇒ one of d+1 blocks matches exactly),
    * so the join key is selective at scale; the exact popcount filter
    * runs only on blocked pairs. Returns `(ida, idb, hamming)` with
    * `ida < idb`.
    */
  def hammingPairs(hashed: DataFrame, id: Column, hash: Column,
      maxDistance: Int): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance must be in [0, 63], got $maxDistance")
    // pigeonhole: distance <= d means at least one of d+1 disjoint
    // bit blocks matches exactly, so blocking stays complete up to
    // d = 63 (block count adapts; width = 64 / (d+1), remainder
    // widens the last block)
    val nb = math.min(maxDistance + 1, 64)
    val w = 64 / nb
    val base = hashed.select(id.as("doc_id"), hash.as("__graft_hash"))
    val blockCols = (0 until nb).map { q =>
      val width = if (q == nb - 1) 64 - q * w else w
      val mask = if (width >= 64) -1L else (1L << width) - 1
      shiftright(col("__graft_hash"), q * w).bitwiseAND(lit(mask))
    }
    val blocks = base.select(col("doc_id"), col("__graft_hash"),
      posexplode(array(blockCols: _*)))
      .select(col("doc_id"), col("__graft_hash"), col("pos").as("q"),
        col("col").as("block"))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.q") === col("b.q") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        bit_count(col("a.__graft_hash").bitwiseXOR(col("b.__graft_hash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Segment-level (paragraph/sentence) exact dedup with document
    * reassembly — the granular form of corpus dedup (the C4 recipe
    * applies it at sentence-span granularity): split each document on
    * `sep`, keep each distinct segment's FIRST occurrence corpus-wide
    * (first = minimal `(ord, position)` — pass a stable `ord` such as
    * the document id so the claim is partition/retry independent),
    * drop every other occurrence, and reassemble each document from
    * its surviving segments in original order. Documents whose
    * segments are all claimed elsewhere disappear from the output.
    * Returns `(doc_id, text, n_kept)`.
    *
    * Distributed shape: posexplode → claim aggregation keyed on the
    * segment's md5 (128-bit — the hash groupBy never shuffles full
    * segment text twice; collision probability is negligible at any
    * realistic corpus) → co-partitioned equijoin back on the same key
    * → per-document reassembly. Two hash shuffles (segment hash, doc
    * id), volume linear in total segment count, no driver state — the
    * same skeleton as [[exact]] one granularity down.
    */
  def dedupSegments(df: DataFrame, id: Column, text: Column, ord: Column,
      sep: String = "\n\n"): DataFrame = {
    val segs = df.select(id.as("doc_id"), ord.as("__graft_ord"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "seg")))
      .withColumn("__graft_h", md5(col("seg")))
    val claims = segs.groupBy(col("__graft_h"))
      .agg(F.min(struct(col("__graft_ord").as("o"), col("pos").as("p")))
        .as("__graft_claim"))
    segs.join(claims, "__graft_h")
      .where(col("__graft_ord") === col("__graft_claim.o") &&
        col("pos") === col("__graft_claim.p"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(F.transform(
          sort_array(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg")), sep).as("text"),
        F.count(lit(1)).as("n_kept"))
  }

  /** Duplicate-SPAN removal (token-granular exact substring dedup —
    * the ExactSubstr recipe of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", approximated at
    * word-`k`-gram resolution): a token is removed iff EVERY `k`-token
    * window covering it is a duplicated gram whose corpus-wide first
    * occurrence (minimal `(ord, pos)` — pass a stable `ord`) lies
    * elsewhere. Copied passages ≥ k tokens vanish from every document
    * but the one that claimed them; the k−1 tokens on each flank of a
    * copied run survive through their partially-novel windows, so
    * removal converges on the true repeated span as k shrinks.
    * Documents shorter than k tokens have no windows and pass
    * untouched. Returns `(doc_id, text, n_kept, n_removed)` with the
    * document reassembled from surviving tokens (every input document
    * appears; a fully-claimed one comes back empty).
    *
    * Distributed shape: gram posexplode → first-claim aggregation on
    * the gram's md5 (the [[dedupSegments]] skeleton one granularity
    * down) → per-document flag-array regroup → a row-local O(n·k)
    * window-coverage fold. Two hash shuffles, volume linear in token
    * count × 1 gram/token; no driver state, retry/partition
    * independent.
    */
  def dedupSpans(df: DataFrame, id: Column, text: Column, ord: Column,
      k: Int = 50, sep: String = " "): DataFrame = {
    require(k >= 2, s"span gram width k must be >= 2, got $k")
    val base = df.select(id.as("doc_id"), ord.as("__graft_ord"),
      split(text, java.util.regex.Pattern.quote(sep)).as("toks"))
    val gramsExpr = F.transform(F.sequence(lit(0), F.size(col("toks")) - k),
      i => array_join(F.slice(col("toks"), i + lit(1), lit(k)), sep))
    val grams = base
      .where(F.size(col("toks")) >= k)
      .select(col("doc_id"), col("__graft_ord"),
        posexplode(gramsExpr).as(Seq("pos", "gram")))
      .withColumn("__graft_h", md5(col("gram")))
      .drop("gram")
    val claims = grams.groupBy(col("__graft_h"))
      .agg(F.count(lit(1)).as("__graft_cnt"),
        F.min(struct(col("__graft_ord").as("o"), col("pos").as("p")))
          .as("__graft_w"))
    val flags = grams.join(claims, "__graft_h")
      .select(col("doc_id"), col("pos"),
        (col("__graft_cnt") > 1 &&
          !(col("__graft_w.o") === col("__graft_ord") &&
            col("__graft_w.p") === col("pos"))).as("dup"))
      .groupBy(col("doc_id"))
      .agg(F.transform(
        sort_array(collect_list(struct(col("pos"), col("dup")))),
        s => s.getField("dup")).as("__graft_flags"))
    base.join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        // kept(i) = no windows (short doc) OR some covering window is
        // a non-duplicate gram; window p covers token i iff
        // max(0, i−k+1) <= p <= min(i, n−k)
        F.transform(F.sequence(lit(0), F.size(col("toks")) - 1),
          i => {
            val lo = greatest(lit(0), i - (k - 1))
            val hi = least(i, F.size(col("toks")) - k)
            struct(element_at(col("toks"), i + 1).as("tok"),
              (col("__graft_flags").isNull ||
                !F.forall(F.slice(col("__graft_flags"), lo + 1, hi - lo + 1),
                  b => b)).as("keep"))
          }).as("__graft_marked"))
      .select(col("doc_id"),
        array_join(F.transform(
          F.filter(col("__graft_marked"), s => s.getField("keep")),
          s => s.getField("tok")), sep).as("text"),
        F.size(F.filter(col("__graft_marked"), s => s.getField("keep")))
          .cast(LongType).as("n_kept"),
        F.size(F.filter(col("__graft_marked"), s => !s.getField("keep")))
          .cast(LongType).as("n_removed"))
  }

  /** Eval-set decontamination screen: flag every training document
    * sharing at least one word `n`-gram with any document of an
    * eval/holdout set, with the count of distinct shared n-grams (the
    * standard pretraining contamination check — n around 8-13 word
    * grams in common recipes; the default here is 8).
    *
    * The eval side collapses to its DISTINCT n-gram set, which is tiny
    * relative to a training corpus, so by default it is broadcast and
    * the probe is a map-side hash semijoin — the 100 TB training scan
    * never shuffles. Set `broadcastEval = false` when the eval side is
    * itself too large to broadcast; the probe becomes a shuffled
    * equijoin on the n-gram key.
    */
  def contamination(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int = 8,
      broadcastEval: Boolean = true, sep: String = " "): DataFrame = {
    // per-doc gram uniqueness via the ROW-LOCAL array_distinct, not
    // shingles()'s corpus-wide distinct: the training side must reach
    // the probe straight off the scan with no shuffle (a corpus-wide
    // distinct would shuffle the full gram explosion just to remove
    // duplicates the row-local form already removes)
    val trainSh = train.select(trainId.as("doc_id"),
      explode(array_distinct(shingleArray(trainText, n, sep))).as("shingle"))
    val evalSh = eval.select(explode(shingleArray(evalText, n, sep)).as("shingle"))
      .distinct()
    val probe = if (broadcastEval) F.broadcast(evalSh) else evalSh
    // trainSh is doc-distinct and probe is distinct, so the join
    // multiplicity is exactly one row per (doc, shared gram); the only
    // shuffle in the default path is this final aggregation, whose
    // input is already just the shared-gram hits
    trainSh.join(probe, "shingle")
      .groupBy(col("doc_id"))
      .agg(F.count(lit(1)).as("n_shared"))
  }

  /** Bloom filter over an eval/holdout set's word n-grams — the probe
    * side of [[contaminationFlags]] when the eval set is too large for
    * the exact broadcast join of [[contamination]]: the sketch is KB–MB
    * at any fpp while the exact distinct-gram set grows with the eval
    * corpus. Built distributed (`stat.bloomFilter` tree-aggregates
    * per-partition sketches); the one driver action is the build
    * itself, plus — when `expectedItems` is not supplied — a CHEAP
    * sizing probe: the TOTAL gram count, computed row-locally as
    * Σ max(tokens − n + 1, 0) with no explode, no distinct, no
    * shuffle (round-14 verdict item 7: the previous default ran the
    * full explode → corpus-wide distinct → count lineage — an entire
    * extra shuffled pass over the eval corpus — to size a sketch that
    * only needs an UPPER bound). Total ≥ distinct always, so the
    * sketch is sized conservatively: its realized fpp is AT OR BELOW
    * the target (the fpp contract is a ceiling), at the price of
    * (duplication factor)× more bits — near 1× for the ≥5-gram
    * shingles this screen uses, where almost every gram is unique.
    * Pass `expectedItems` to stay probe-free (the `dim`-parameter
    * pattern) or to pin the exact distinct count.
    *
    * Size `fpp` for the DOCUMENT-level false-positive target, not the
    * gram level: a clean doc with g grams is flagged with probability
    * ≈ 1 − (1 − fpp)^g, so aim fpp ≈ target_doc_fp / typical grams per
    * doc (e.g. 1e-4 for ~1% doc-level noise on 100-gram docs).
    */
  def evalGramBloom(eval: DataFrame, evalText: Column, n: Int = 8,
      fpp: Double = 1e-4, expectedItems: Option[Long] = scala.None,
      sep: String = " "): org.apache.spark.util.sketch.BloomFilter = {
    val grams = eval.select(explode(shingleArray(evalText, n, sep)).as("shingle"))
    val items = expectedItems.getOrElse {
      // row-local gram count — one narrow scan, nothing exploded or
      // shuffled
      val perDoc = F.array_size(shingleArray(evalText, n, sep))
      eval.agg(F.coalesce(F.sum(perDoc.cast("long")), lit(0L)))
        .head().getLong(0)
    }
    grams.stat.bloomFilter("shingle", math.max(items, 1L), fpp)
  }

  /** Row-local decontamination screen: flag each training document
    * whose n-grams MIGHT intersect the eval set, by probing every gram
    * against the bloom in one short-circuiting codegen'd loop
    * ([[org.apache.spark.sql.graft.BloomAnyContain]]). A pure
    * projection over the training scan — no join, no shuffle, no
    * state — so unlike [[contamination]] it runs IDENTICALLY on an
    * unbounded stream, and the probe side it ships is constant-size.
    * One-sided error: never false-negative (every truly contaminated
    * doc is flagged); false-positives at the document-level rate
    * described on [[evalGramBloom]]. Typical deployment: this flag as
    * the cheap first pass, [[contamination]] on the flagged survivors
    * for exact shared-gram counts.
    */
  def contaminationFlags(train: DataFrame, trainId: Column,
      trainText: Column, bloom: org.apache.spark.util.sketch.BloomFilter,
      n: Int = 8, sep: String = " "): DataFrame =
    train.select(trainId.as("doc_id"),
      org.apache.spark.sql.graft.BloomExpressions.bloomAnyContain(
        shingleArray(trainText, n, sep), bloom).as("maybe_contaminated"))

  /** FUZZY eval-set decontamination: flag training documents that are
    * MinHash NEAR-duplicates of some eval/holdout document — the
    * screen [[contamination]]'s exact shared-n-gram count cannot
    * provide when contamination is paraphrased or lightly edited
    * (the common case for benchmark text scraped into web corpora).
    * Returns one row per flagged training document:
    * (doc_id, n_eval_matches, max_est) — how many eval docs it
    * collides with at `threshold`, and the best signature-agreement
    * Jaccard estimate.
    *
    * Distributed shape: BOTH sides take the projection-form signature
    * ([[withMinHashSignature]] — zero shuffle off either scan), the
    * eval side's (band, bucket) slices broadcast
    * (`broadcastEval = false` falls back to a shuffled equijoin when
    * the eval corpus is itself huge), so the 100 TB training scan
    * meets the probe map-side. Candidate hits — NOT the corpus — are
    * deduplicated and re-joined to the two signature tables once for
    * the agreement estimate (the [[minHashCandidates]] shuffle
    * economics: buckets carry only ids, signatures ride exactly one
    * join per surviving pair). Volume is bounded by train docs ×
    * bands on the probe side and by true collisions afterward.
    */
  def contaminationFuzzy(train: DataFrame, trainId: Column,
      trainText: Column, eval: DataFrame, evalId: Column,
      evalText: Column, n: Int = 2, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      broadcastEval: Boolean = true, sep: String = " ",
      cacheSignatures: Boolean = true): DataFrame =
    contaminationFuzzyWithSignatures(train, trainId, trainText, eval,
      evalId, evalText, n, k, bands, threshold, seed, baseHash,
      broadcastEval, sep, cacheSignatures)._1

  /** [[contaminationFuzzy]] variant that also returns the two
    * (persisted, when `cacheSignatures`) signature tables — train and
    * eval — so a long-lived session can `unpersist()` them
    * deterministically after materializing the flags, or reuse the
    * eval signatures across many training batches (the standing-
    * pipeline shape). Same state-handle contract as
    * [[minHashPairsWithSignatures]].
    */
  def contaminationFuzzyWithSignatures(train: DataFrame, trainId: Column,
      trainText: Column, eval: DataFrame, evalId: Column,
      evalText: Column, n: Int = 2, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      broadcastEval: Boolean = true, sep: String = " ",
      cacheSignatures: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    requireK(k)
    require(bands >= 1 && bands <= k,
      s"bands must be in [1, k=$k], got $bands")
    def sigOf(df: DataFrame, id: Column, text: Column, outId: String) = {
      // sub-n-word documents have no shingle signal — mirror the
      // aggregation form, which never emits a row for them
      val sig = signaturesWithSignal(df.select(id.as(outId), text.as("__graft_t")),
        "__graft_t", n, k, seed, baseHash, sep)
      // persisted like minHashPairs' signature table: each side's
      // k-element signature expression feeds BOTH the band explode
      // (which would otherwise collapse the projection and re-evaluate
      // the signature once PER BAND) and the verification re-join —
      // uncached this op measured ~bands× slower than the exact screen
      if (cacheSignatures)
        sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sig
    }
    val tSig = sigOf(train, trainId, trainText, "doc_id")
    val eSig = sigOf(eval, evalId, evalText, "eval_id")
    val tB = bandBuckets(tSig.select(col("doc_id"), col("sig")), bands)
    val eB = bandBuckets(eSig.select(col("eval_id"), col("sig")), bands)
    val probe = if (broadcastEval) F.broadcast(eB) else eB
    val hits = tB.join(probe, Seq("band", "bucket"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val ePairSig = eSig.select(col("eval_id"), col("sig").as("__esig"))
    val flags = hits
      .join(tSig.select(col("doc_id"), col("sig").as("__tsig")), "doc_id")
      .join(if (broadcastEval) F.broadcast(ePairSig) else ePairSig, "eval_id")
      .withColumn("est",
        expr("size(filter(zip_with(__tsig, __esig, (x, y) -> x = y), z -> z))")
          .cast(DoubleType) / expr("size(__tsig)"))
      .filter(col("est") >= threshold)
      .groupBy(col("doc_id"))
      .agg(F.count(lit(1)).as("n_eval_matches"), F.max(col("est")).as("max_est"))
    (flags, tSig, eSig)
  }

  /** Connected components of a near-duplicate pair graph: every vertex
    * of `pairs` labeled with the MINIMUM vertex id reachable through
    * the graph (the transitive closure of "is a near-dup of") —
    * turning pairwise candidates from [[ngramJaccardPairs]] /
    * [[minHashPairs]] / [[embeddingPairs]] into duplicate CLUSTERS.
    * Returns `(member_id, cluster_id)`; only vertices with at least
    * one non-self edge appear (compose with [[dedupByClusters]] to
    * re-admit singletons).
    *
    * Distributed shape: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — each round is two per-key window minima plus a
    * distinct, all hash-partitioned on vertex id, converging in
    * O(log² n) rounds regardless of component diameter (naive
    * min-label flooding needs O(diameter) rounds — a chain of
    * paraphrased docs would serialize it). The driver loop holds no
    * data — per round it compares successive edge SETS (two counts +
    * an except on checkpointed frames) and each round's result is
    * checkpointed ([[Materialize.checkpoint]]) so plan lineage stays
    * constant-size; the previous round's blocks are released. Vertex
    * ids may be any orderable type (both sides must agree).
    */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
      maxRounds: Int = 25): DataFrame = {
    val w = Window.partitionBy("a")

    // large-star: every vertex's LARGER neighbors re-point to the min
    // of its closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      sym.withColumn("m", least(F.min(col("b")).over(w), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    // small-star: every vertex's SMALLER neighbors (and itself)
    // re-point to the min of its smaller neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b")).where(col("a") =!= col("b"))
      val withMin = or.withColumn("m", F.min(col("b")).over(w))
      withMin.select(col("b").as("v"), col("m"))
        .union(withMin.select(col("a").as("v"), col("m")))
        .where(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    }

    var cur = Materialize.checkpoint(
      pairs.select(greatest(a, b).as("a"), least(a, b).as("b"))
        .where(col("a") =!= col("b")).distinct(), eager = true)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = Materialize.checkpoint(smallStar(largeStar(cur)), eager = true)
      // both sides are oriented (a > b) and distinct, so set equality
      // is equal counts + one empty difference
      converged = next.count() == cur.count() && next.except(cur).isEmpty
      Materialize.release(cur)
      cur = next
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds (rounds needed grow ~log^2 of the largest component)")
    // at the fixpoint the graph is a forest of stars centered at each
    // component's minimum: non-roots appear only as `a`, roots only as `b`
    cur.select(col("a").as("member_id"), col("b").as("cluster_id"))
      .union(cur.select(col("b"), col("b")).distinct())
  }

  /** Frequency-based boilerplate removal: drop every occurrence of any
    * line (segment on `sep`) that appears in at least `minDf` DISTINCT
    * documents — navigation chrome, cookie banners, license footers,
    * "terms of service" paragraphs — and reassemble each document from
    * its surviving lines in original order. Unlike [[dedupSegments]]
    * (which keeps a first occurrence), boilerplate is removed from
    * EVERY document, including the first: a line ubiquitous enough to
    * clear `minDf` carries no training signal anywhere. Lines shorter
    * than `minChars` characters are exempt (never dropped) so
    * structural blanks and one-word list items survive; a document all
    * of whose lines are boilerplate comes back with empty `text` and
    * `n_kept = 0` rather than disappearing. Returns
    * `(doc_id, text, n_kept, n_removed)`.
    *
    * Distributed shape: posexplode → distinct (line-md5, doc) →
    * per-hash doc-frequency count → the FLAGGED set (df ≥ minDf) only
    * — by definition small, since each flagged line recurs across ≥
    * minDf documents — broadcast back over the segment stream as a
    * map-side left-semi mark, then one per-document reassembly
    * groupBy. The full corpus shuffles twice (df count, reassembly),
    * both keyed and combiner-friendly; the join never shuffles. Set
    * `broadcastFlagged = false` if a pathological corpus makes the
    * flagged set itself huge — the mark becomes a shuffled equijoin.
    */
  def removeBoilerplate(df: DataFrame, id: Column, text: Column,
      minDf: Int, sep: String = "\n", minChars: Int = 2,
      broadcastFlagged: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf): df >= 1 would flag every line")
    val segs = df.select(id.as("doc_id"),
        posexplode(split(text, java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "seg")))
      .withColumn("__graft_h",
        when(length(col("seg")) >= minChars, md5(col("seg"))))
    val flagged0 = segs.where(col("__graft_h").isNotNull)
      .select(col("__graft_h"), col("doc_id")).distinct()
      .groupBy(col("__graft_h"))
      .agg(F.count(lit(1)).as("__graft_df"))
      .where(col("__graft_df") >= minDf)
      .select(col("__graft_h"), lit(true).as("__graft_bp"))
    val flagged = if (broadcastFlagged) broadcast(flagged0) else flagged0
    segs.join(flagged, Seq("__graft_h"), "left")
      .withColumn("__graft_keep", coalesce(col("__graft_bp"), lit(false)) === false)
      .groupBy(col("doc_id"))
      .agg(
        array_join(F.transform(
          sort_array(collect_list(when(col("__graft_keep"),
            struct(col("pos"), col("seg"))))),
          s => s.getField("seg")), sep).as("text"),
        F.sum(when(col("__graft_keep"), 1L).otherwise(0L)).as("n_kept"),
        F.sum(when(col("__graft_keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Transitive near-dup dedup verdicts: cluster the candidate pair
    * graph with [[connectedComponents]], then keep exactly ONE
    * representative per cluster — the member with minimal
    * `(ord, id)`, so `ord = -length(text)` keeps the longest document
    * and `ord = id` the first. Documents in no pair are their own
    * (kept) singleton cluster. Returns `(doc_id, cluster_id, kept)` —
    * the pairwise analog of [[minHashKeep]], but closed under
    * transitivity: A~B and B~C collapse to one survivor even when A
    * and C never paired. Pair vertices absent from `df` still
    * propagate labels (they connect components) but are not output
    * and never chosen as representatives — only present documents
    * compete for `kept`.
    */
  def dedupByClusters(df: DataFrame, id: Column, ord: Column,
      pairs: DataFrame, pa: Column, pb: Column,
      maxRounds: Int = 25): DataFrame = {
    val cc = connectedComponents(pairs, pa, pb, maxRounds)
    val docs = df.select(id.as("doc_id"), ord.as("__graft_ord"))
    val labeled = docs
      .join(cc.withColumnRenamed("member_id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val reps = labeled.groupBy("cluster_id")
      .agg(F.min(struct(col("__graft_ord").as("o"), col("doc_id").as("d")))
        .as("__graft_rep"))
      .select(col("cluster_id"), col("__graft_rep").getField("d").as("__graft_keep"))
    labeled.join(reps, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("__graft_keep")).as("kept"))
  }
}
