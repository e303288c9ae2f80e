package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — training-data-pipeline extension surface.
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *     query set against the corpus; one scan, no corpus shuffle.
  *     The baseline and the verifier for the approximate path.
  *   - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed by
  *     sign-bit keys (one map pass), queries probe only their bucket.
  *     At 100 TB the bucket join replaces the full cross product;
  *     recall is tunable via `planes` (and multi-probe, not
  *     implemented here).
  */
object Similarity {

  /** Row-level cosine similarity of two float-array columns — a
    * native codegen'd Catalyst expression (one fused loop, stays
    * inside WholeStageCodegen) with the same left-to-right double
    * accumulation the declarative `aggregate`/`zip_with` form
    * produced, so results are bit-identical to it.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosineSim(a, b)

  /** ‖v‖ = sqrt(v·v), the cosine denominator factor. Precomputed ONCE
    * per vector (a projection on each join side) the candidate-pair
    * scoring loop drops from three accumulators per element to one
    * fused dot — at 100 TB the pair volume dwarfs the vector count,
    * so this is a ~3× flop cut on the ANN hot path. Same
    * left-to-right accumulation as [[cosine]]'s internal norms.
    */
  def norm(vec: Column): Column =
    sqrt(org.apache.spark.sql.graft.VectorExpressions.vecDot(vec, vec))

  /** Cosine from a fused dot and two precomputed norms — BIT-IDENTICAL
    * to [[cosine]](a, b): same dot and norm accumulation order, IEEE
    * multiplication is commutative, and the null surface matches
    * (length mismatch / null element poison the dot or a norm; zero
    * norm nulls via safeDiv exactly like cosine's zero denominator).
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    Num.safeDiv(
      org.apache.spark.sql.graft.VectorExpressions.vecDot(a, b), na * nb)

  /** Exact top-k neighbours of each query vector (`queries` must be
    * broadcast-small; the corpus side streams). `exact=true` computes
    * the dot products via explode + decimal sums — order-insensitive,
    * for oracle comparison; the default zip_with path is the fast
    * production one.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, k: Int, exact: Boolean = false): DataFrame = {
    val q = queries.select(id.as("qid"), vec.as("qv"), norm(vec).as("__qn"))
    // the corpus norm rides the STREAM side of a codegen'd broadcast
    // join: unwrapped, whole-stage codegen defers the projection into
    // the per-build-row loop and the norm recomputes per CANDIDATE —
    // exactly the flop doubling the precompute exists to avoid. The
    // OncePerRow barrier pins it to once per corpus row (round-14;
    // same trap as Pq.adcTopK, see OPTIMIZATION_r14.md). The exact
    // path never reads __nn, so it is wrapped only where consumed.
    val c = corpus.select(id.as("nid"), vec.as("nv"),
      org.apache.spark.sql.graft.VectorExpressions.oncePerRow(
        norm(vec)).as("__nn"))
    val cand = c.join(broadcast(q), col("qid") =!= col("nid"))
    val scored =
      if (exact) exactCosScores(cand)
      else cand.select(col("qid"), col("nid"),
        cosineWithNorms(col("qv"), col("nv"),
          col("__qn"), col("__nn")).as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= k)
  }

  /** Corpus statistics for [[bm25TopK]]: document count, mean document
    * length (whitespace tokens), and per-query-term document
    * frequencies — k+2 numbers for a k-term query, computed in ONE
    * bounded aggregation pass. Precompute and reuse across queries on
    * a static corpus (the bounded-probe pattern shared with the IVF
    * centroids — nothing here scales with corpus size on the driver).
    */
  final case class Bm25Stats(nDocs: Long, avgdl: Double, df: Map[String, Long])

  def bm25Stats(docs: DataFrame, text: Column, terms: Seq[String],
      sep: String = " "): Bm25Stats = {
    val w = split(text, java.util.regex.Pattern.quote(sep))
    val aggs = Seq(F.count(lit(1)).as("__n"),
      F.sum(size(w).cast("long")).as("__sdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        F.sum(when(array_contains(w, t), 1L).otherwise(0L)).as(s"__df$i")
      }
    val r = docs.agg(aggs.head, aggs.tail: _*).head()
    require(r.getLong(0) > 0, "bm25Stats: empty corpus")
    Bm25Stats(r.getLong(0), r.getLong(1).toDouble / r.getLong(0).toDouble,
      terms.zipWithIndex.map { case (t, i) => t -> r.getLong(i + 2) }.toMap)
  }

  /** BM25-scored keyword retrieval — the lexical twin of the embedding
    * top-k family (curation uses: topic mining, lexical contamination
    * checks, quality-by-query probes). Standard Robertson/Sparck Jones
    * term saturation with one deliberate deviation: the idf is the
    * RATIONAL form (N − df + 0.5)/(df + 0.5) — the argument of the
    * classic log-idf, monotone in it, chosen because transcendental
    * libm results differ across engines in the last ulp and this
    * library's correctness bar is bit-exact cross-engine replay.
    * Rankings are preserved per term; absolute scores weight
    * high-idf terms more steeply than log-BM25.
    *
    * Plan shape for 100 TB: the bounded stats pass above (skippable
    * via `stats`), then scoring is a ROW-LOCAL projection — per-term
    * tf via an array filter on the split tokens, no explode, no
    * shuffle — and the top-k is orderBy+limit (TakeOrderedAndProject:
    * each task keeps k rows, the driver merges task heads). Docs
    * containing no query term are filtered before the sort.
    */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      sep: String = " ", stats: Option[Bm25Stats] = None): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = stats.getOrElse(bm25Stats(docs, text, terms, sep))
    val w = split(text, java.util.regex.Pattern.quote(sep))
    val dl = size(w).cast(org.apache.spark.sql.types.DoubleType)
    val score = terms.map { t =>
      val dfT = st.df(t).toDouble
      val idf = (st.nDocs.toDouble - dfT + 0.5) / (dfT + 0.5)
      val tf = F.size(F.filter(w, x => x === t))
        .cast(org.apache.spark.sql.types.DoubleType)
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(st.avgdl)))
    }.reduce(_ + _)
    val top = docs.select(id.as("doc_id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // rank assigned over the <= k surviving rows (driver-merged head)
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
  }

  /** Deterministic random hyperplanes: `planes` × `dim` doubles from a
    * seeded generator (java.util.Random is a fixed LCG — stable across
    * JVMs).
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket key of a vector under the given hyperplanes.
    * `exact=true` accumulates each plane's dot product in decimal —
    * order-insensitive, so the sign (hence the bucket) is identical in
    * any engine that does decimal accumulation; the default double
    * fold is the fast production path.
    */
  /** Decimal term/accumulator types for the exact fold. Chosen so the
    * fold NEVER rounds: (37,8) + (28,8) → (38,8) under Spark's add
    * rule (max(p1−s1, p2−s2) + max(s1,s2) + 1 = 38 ≤ 38), so the
    * scale stays 8 at every step and the cast back to (37,8) changes
    * precision only. With DotDec (38,8) terms the sum type would
    * overflow to 39 and Spark demotes the scale to 7, silently
    * rounding each step — which an engine summing DECIMAL(38,8)
    * exactly would NOT reproduce.
    */
  private val TermDec = org.apache.spark.sql.types.DecimalType(28, 8)
  private val AccDec = org.apache.spark.sql.types.DecimalType(37, 8)

  /** Exact decimal fold: Σ terms at scale 8, no intermediate rounding
    * — bit-identical to any engine's exact decimal sum of the same
    * scale-8 terms. `terms` must already be DECIMAL(28,8).
    */
  private def decFold(terms: Column): Column =
    aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(AccDec),
      (acc, t) => (acc + t).cast(AccDec))

  private def planeDots(vec: Column, planes: Seq[Seq[Double]],
      exact: Boolean): Seq[Column] =
    planes.map { p =>
      if (exact)
        decFold(zip_with(vec, lit(p.toArray),
          (x, w) => (x.cast(DoubleType) * w).cast(TermDec)))
      else
        org.apache.spark.sql.graft.VectorExpressions.vecDot(vec, lit(p.toArray))
    }

  def lshBucket(vec: Column, planes: Seq[Seq[Double]],
      exact: Boolean = false): Column =
    planeDots(vec, planes, exact).zipWithIndex.map { case (dot, i) =>
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Multi-probe bucket list: the vector's own bucket first, then the
    * buckets reached by flipping the sign bit of each of the
    * `nProbe - 1` smallest-|dot| (lowest-margin) hyperplanes — the
    * standard multi-probe LSH recall lever (probe the buckets the
    * vector most nearly fell into) without re-hashing or extra tables.
    * Ties in |dot| break on the plane's bit mask, so the probe set is
    * total-ordered and engine-reproducible; with `exact=true` the
    * margins are decimal, making the probe set bit-reproducible
    * cross-engine. All probes are distinct single-bit flips, so a
    * (query, candidate) pair can match in at most one probe bucket.
    */
  def lshProbes(vec: Column, planes: Seq[Seq[Double]], nProbe: Int,
      exact: Boolean = false): Column = {
    require(nProbe >= 1 && nProbe <= planes.size + 1,
      s"nProbe must be in [1, planes+1], got $nProbe for ${planes.size} planes")
    // nProbe == 1 (the lshTopK default) is just the vector's own bucket
    // — skip the margin/array_sort/slice machinery entirely
    if (nProbe == 1) return array(lshBucket(vec, planes, exact))
    // one (margin, bit-mask, signed-bit) struct array holding each
    // plane's dot exactly once; base and flips both derive from THIS
    // array, so the per-plane dot subtree appears once in the plan
    // (codegen subexpression elimination shares the identical array
    // between the two consumers) instead of being embedded twice.
    // array_sort orders structs lexicographically and the mask is
    // monotone in plane index, so (|dot|, mask, bit) asc == (|dot|,
    // plane) asc — `bit` is determined by (dot, mask) and cannot
    // reorder ties. Mask stored directly because shiftleft takes only
    // a literal shift amount.
    val structs = array(planeDots(vec, planes, exact).zipWithIndex.map {
      case (dot, i) =>
        F.named_struct(lit("m"), abs(dot), lit("f"), lit(1L << i),
          lit("b"), when(dot >= 0, lit(1L << i)).otherwise(lit(0L)))
    }: _*)
    val base = aggregate(structs, lit(0L),
      (acc, s) => acc.bitwiseOR(s.getField("b")))
    val flips = F.transform(slice(array_sort(structs), 1, nProbe - 1),
      s => s.getField("f"))
    F.concat(array(base), F.transform(flips, f => base.bitwiseXOR(f)))
  }

  /** Exact-decimal cosine scoring of candidate pairs (qid, nid, qv,
    * nv) — shared by the `exact` paths of [[bruteForceTopK]] and
    * [[lshTopK]]: explode + decimal sums, order-insensitive.
    */
  private def exactCosScores(pairs: DataFrame): DataFrame = {
    val terms = pairs
      .select(col("qid"), col("nid"),
        explode(zip_with(col("qv"), col("nv"),
          (x, y) => struct((x.cast(DoubleType) * y.cast(DoubleType)).as("xy"),
            (x.cast(DoubleType) * x.cast(DoubleType)).as("xx"),
            (y.cast(DoubleType) * y.cast(DoubleType)).as("yy")))).as("t"))
    terms.groupBy("qid", "nid")
      .agg(
        F.sum(col("t.xy").cast(Num.DotDec)).cast(DoubleType).as("dot"),
        F.sum(col("t.xx").cast(Num.DotDec)).cast(DoubleType).as("na"),
        F.sum(col("t.yy").cast(Num.DotDec)).cast(DoubleType).as("nb"))
      .select(col("qid"), col("nid"),
        Num.safeDiv(col("dot"), sqrt(col("na")) * sqrt(col("nb"))).as("cos"))
  }

  /** LSH-bucketed ANN: candidates share one of the query's probe
    * buckets; exact cosine ranks within. Trades recall for a
    * bucket-key equijoin. `nProbe > 1` multi-probes the query's
    * lowest-margin neighboring buckets (see [[lshProbes]]) — recall
    * rises toward brute force at cost ≈ nProbe × the candidate volume,
    * while the corpus side still holds exactly one bucket per vector
    * (no corpus blow-up, same single equijoin shape). `exact=true`
    * makes bucket assignment AND scores decimal-exact (cross-engine
    * reproducible given the same seed).
    *
    * `dim` is the embedding dimensionality; when omitted it is probed
    * with one tiny driver job — supply it for fully lazy composition
    * (mirrors the embeddingPairs contract).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, planes: Int = 12, seed: Long = 42L, nProbe: Int = 1,
      exact: Boolean = false, dim: Option[Int] = None): DataFrame = {
    require(dim.forall(_ > 0), s"dim must be positive, got $dim")
    val d = dim.getOrElse(corpus.select(F.size(vec)).head().getInt(0))
    val hp = hyperplanes(planes, d, seed)
    // corpus norm behind the OncePerRow barrier — the stream side of
    // the bucket broadcast join would otherwise re-derive it per
    // candidate (the bruteForceTopK/Pq.adcTopK deferral trap); the
    // bucket needs no barrier, join keys evaluate before the probe
    val c = corpus.select(id.as("nid"), vec.as("nv"),
      org.apache.spark.sql.graft.VectorExpressions.oncePerRow(
        norm(vec)).as("__nn"), lshBucket(vec, hp, exact).as("bucket"))
    val q = queries.select(id.as("qid"), vec.as("qv"),
      norm(vec).as("__qn"), explode(lshProbes(vec, hp, nProbe, exact)).as("bucket"))
    val cand = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
    val scored =
      if (exact) exactCosScores(cand)
      else cand.select(col("qid"), col("nid"),
        cosineWithNorms(col("qv"), col("nv"),
          col("__qn"), col("__nn")).as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------- IVF

  /** Cosine of a vector column against a LITERAL vector with every
    * dot product accumulated in decimal — reproducible in any engine
    * computing the same decimal sums over the same literals.
    */
  private def cosExact(v: Column, w: Seq[Double]): Column = {
    val wl = lit(w.toArray)
    val dot = decFold(zip_with(v, wl,
      (x, p) => (x.cast(DoubleType) * p).cast(TermDec)))
    val nv = decFold(zip_with(v, v,
      (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(TermDec)))
    val nw = decFold(zip_with(wl, wl, (x, y) => (x * y).cast(TermDec)))
    Num.safeDiv(dot.cast(DoubleType),
      sqrt(nv.cast(DoubleType)) * sqrt(nw.cast(DoubleType)))
  }

  /** Per-row (cos, cid) scores against a driver-side centroid list —
    * pure expressions over literal arrays, so centroid assignment is
    * map-side work with no join and no shuffle. Keep nCentroids
    * moderate (≤ a few hundred): the expression tree grows linearly
    * with it. `exact` switches the dots to decimal accumulation.
    */
  private def centroidScores(v: Column,
      centroids: Seq[(Int, Seq[Double])], exact: Boolean): Column =
    // named_struct, not struct(...as("cos")): aliases nested inside
    // array() are stripped at analysis, losing the field names
    array(centroids.map { case (cid, cv) =>
      F.named_struct(
        lit("cos"), if (exact) cosExact(v, cv) else cosine(v, lit(cv.toArray)),
        lit("cid"), lit(cid))
    }: _*)

  /** cid of the max-cosine centroid (ties → larger cid, a fixed rule).
    *
    * The production (`exact = false`) path runs the native
    * [[org.apache.spark.sql.graft.NearestCentroid]] expression — one
    * fused loop whose generated code is O(1) in the centroid count,
    * with per-score arithmetic bit-identical to the declarative
    * k-way [[centroidScores]] argmax it replaces (which grew the
    * expression tree ∝ k and fell out of codegen past a few dozen
    * centroids — the SemDeDup recipe scales k WITH the corpus, so
    * that shape was superlinear on the bench). The decimal-exact
    * oracle path keeps the declarative form.
    */
  private def nearestCid(v: Column, centroids: Seq[(Int, Seq[Double])],
      exact: Boolean): Column =
    if (exact) {
      // drop unscorable entries (null cos from zero-norm/dimension-
      // mismatched vectors, NaN cos from NaN components) BEFORE the
      // argmax, so a vector with no scorable centroid yields a null
      // cid — the same verdict the native NearestCentroid production
      // path returns for degenerate vectors. Without the filter the
      // struct argmax would resolve all-null scores to the largest
      // cid (nulls-smallest struct ordering) and NaN scores to a NaN
      // winner, silently diverging from production.
      val scorable = F.filter(centroidScores(v, centroids, exact),
        s => s.getField("cos").isNotNull && !F.isnan(s.getField("cos")))
      when(F.size(scorable) > 0, array_max(scorable).getField("cid"))
    }
    else org.apache.spark.sql.graft.VectorExpressions.nearestCentroid(v, centroids)

  /** Public form of the nearest-centroid assignment — the map-side
    * cluster label [[graft.operators.Dedup.semDedup]] partitions on
    * (pure expressions over literal centroids: no join, no shuffle,
    * stream-safe). Same (cos, cid)-lexicographic argmax as the IVF
    * index, so an assignment computed here replays in any engine
    * computing the same decimal dots (`exact = true`).
    */
  def assignCentroid(v: Column, centroids: Seq[(Int, Seq[Double])],
      exact: Boolean = false): Column =
    nearestCid(v, centroids, exact)

  /** cids of the `nProbe` highest-cosine centroids — public so
    * composed indexes (Pq.ivfPqTopK) probe with the same rule the
    * IVF index uses.
    */
  def probeCentroids(v: Column, centroids: Seq[(Int, Seq[Double])],
      nProbe: Int, exact: Boolean = false): Column =
    probeCids(v, centroids, nProbe, exact)

  private def probeCids(v: Column, centroids: Seq[(Int, Seq[Double])],
      nProbe: Int, exact: Boolean): Column =
    transform(
      slice(reverse(array_sort(centroidScores(v, centroids, exact))), 1, nProbe),
      s => s.getField("cid"))

  /** Spherical-k-means centroids for an IVF index: deterministic
    * hash-ordered sample as seeds (TakeOrdered — no global sort
    * materialized), then `iters` Lloyd rounds — assign by max cosine
    * (map-side expression), recompute element-wise means (one
    * partial-aggregated groupBy of #centroids × dim cells). Only the
    * centroid table itself ever reaches the driver.
    */
  /** Hard bound on [[ivfCentroids]]' `nCentroids`: the centroid table
    * is collected to the driver (nCentroids × dim doubles) and the
    * assignment expression tree grows linearly with it, so "≤ a few
    * hundred" is a structural contract, not advice — enforced so it
    * cannot be silently violated at scale.
    */
  val MaxCentroids = 512

  def ivfCentroids(corpus: DataFrame, id: Column, vec: Column,
      nCentroids: Int, iters: Int = 2, exact: Boolean = false,
      seedHash: Column => Column = F.xxhash64(_)): Seq[(Int, Seq[Double])] = {
    require(nCentroids >= 1 && nCentroids <= MaxCentroids,
      s"nCentroids must be in [1, $MaxCentroids] (centroids are collected " +
        s"to the driver and embedded as literal expressions), got $nCentroids")
    val c = corpus.select(id.as("nid"), vec.as("nv"))
    var centroids: Seq[(Int, Seq[Double])] = c
      // id tie-break after the hash so seed selection is total even
      // under hash collisions
      .orderBy(seedHash(col("nid")), col("nid"))
      .limit(nCentroids)
      .select(col("nv"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq)
      .zipWithIndex
      .map { case (v, i) => (i, v) }
      .toSeq
    for (_ <- 1 to iters) Materialize.scope { s =>
      // materialize the assignment BEFORE the positional explode:
      // CollapseProject would otherwise merge the k-centroid argmax
      // into the post-Generate projection and re-evaluate it once per
      // EXPLODED element — a dim× blowup of the most expensive
      // expression in the loop (observed as a ~64× slowdown at
      // k = 160). The persisted frame is (cid, vector) — corpus-sized
      // but narrow — and is released with the round's scope.
      val assigned = s.persist(c
        .select(nearestCid(col("nv"), centroids, exact).as("cid"), col("nv")))
      centroids = assigned
        .select(col("cid"), posexplode(col("nv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // decimal-exact mean: double avg is accumulation-order- (hence
        // partitioning-) dependent, which would make the trained
        // centroids — and every downstream bucket and top-k — vary
        // between runs of the same corpus at different parallelism
        .agg((F.sum(col("x").cast(DoubleType).cast(Num.DotDec))
          .cast(DoubleType) / F.count(col("x"))).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cid, xs) => (cid, xs.sortBy(_._2).map(_._3).toSeq) }
        .toSeq
        .sortBy(_._1)
    }
    centroids
  }

  /** IVF ANN: corpus vectors are inverted-file-indexed under their
    * nearest centroid (one bucket each, assigned map-side); each query
    * probes its `nProbe` nearest centroids and ranks exact cosine
    * within those buckets only. Candidate volume ≈ corpus × nProbe /
    * nCentroids — the classic quality/cost dial. The corpus is never
    * shuffled: centroids are literal expressions and the probe list is
    * a broadcast join side; the final rank is a window partitioned by
    * query id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2,
      exact: Boolean = false,
      seedHash: Column => Column = F.xxhash64(_)): DataFrame = {
    val cents = ivfCentroids(corpus, id, vec, nCentroids, iters, exact, seedHash)
    val indexed = corpus.select(id.as("nid"), vec.as("nv"),
      norm(vec).as("__nn"), nearestCid(vec, cents, exact).as("cid"))
    val probes = queries.select(id.as("qid"), vec.as("qv"),
      norm(vec).as("__qn"), explode(probeCids(vec, cents, nProbe, exact)).as("cid"))
    val cand = indexed.join(broadcast(probes), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
    val scored =
      if (exact) exactCosScores(cand)
      else cand.select(col("qid"), col("nid"),
        cosineWithNorms(col("qv"), col("nv"),
          col("__qn"), col("__nn")).as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= k)
  }
}
