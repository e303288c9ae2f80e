package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.Num

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the compressed-domain
  * ANN path of the similarity stack: vectors split into `m`
  * subspaces, each subspace k-means'd into `ksub` codes, every vector
  * stored as `m` small ints (×`4·dim/m` compression over float32).
  * Asymmetric distance (ADC) then ranks corpus rows against an exact
  * query using only the codes — the memory-bound full-scan shape that
  * makes billion-row rerankers affordable where raw floats don't fit.
  * Complements [[Similarity.ivfTopK]] (prune-then-exact) with the
  * orthogonal compress-then-scan trade; the reference has no vector
  * surface at all (`pandas_plus/nanops.py` stops at `nb_dot`).
  *
  * Scale shape, fit: per Lloyd iteration ONE corpus pass assigns all
  * `m` subspaces map-side (codebooks are literal expressions — no
  * join, no shuffle of vectors) and one partial-aggregated
  * `groupBy(sub, code, pos)` of `m·ksub·dsub = ksub·dim` cells
  * recomputes every sub-centroid — same shuffle volume as one IVF
  * iteration regardless of `m`. Only codebook tables (`m·ksub·dsub`
  * doubles, [[MaxCells]]-bounded) reach the driver. Encode is a pure
  * projection; ADC scans the corpus once per query batch with the
  * queries broadcast — the corpus never shuffles anywhere.
  *
  * Determinism: seeds are the first `ksub` rows by the portable
  * integer hash (ties → id), means are decimal-exact, and empty codes
  * keep their previous centroid. Distances come in two forms (the
  * Similarity `exact` convention): the production default is the
  * native fused double loop ([[org.apache.spark.sql.graft.NearestSubCode]]
  * / [[org.apache.spark.sql.graft.PqAdcDistance]] — row-local
  * sequential sums, deterministic across partitionings, O(1) codegen
  * in ksub); `exact = true` swaps in order-free decimal sums of
  * scale-8-rounded terms so fit, codes, and ADC ranks replay
  * bit-identically in any engine (gate: pq_encode / pq_adc_topk
  * unroll the whole fit in DuckDB CTEs on that path).
  */
object Pq {

  /** Driver-side codebook bound (m·ksub·dsub doubles collected and
    * re-embedded as literals; the assignment expression also grows
    * with ksub) — the [[Similarity.MaxCentroids]] contract.
    */
  val MaxCells = 65536

  private val TermDec = org.apache.spark.sql.types.DecimalType(28, 8)
  private val AccDec = org.apache.spark.sql.types.DecimalType(37, 8)

  private def decFold(terms: Column): Column =
    aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(AccDec),
      (acc, t) => (acc + t).cast(AccDec))

  /** `codebooks(j)` = the `ksub` (code, sub-centroid) pairs of
    * subspace `j`; every sub-centroid has `dsub = dim / m` loadings.
    */
  final case class PqModel(dim: Int, codebooks: Seq[Seq[(Int, Seq[Double])]]) {
    def m: Int = codebooks.size
    def dsub: Int = dim / m
    def ksub: Int = codebooks.head.size
  }

  /** 1-based sub-slice of `v` for subspace `j` (0-based). */
  private def subVec(v: Column, j: Int, dsub: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** Decimal-exact squared L2 distance between a vector column and a
    * literal sub-centroid: scale-8-rounded `(x−c)²` terms, order-free
    * decimal sum, back to double.
    */
  private def l2sq(v: Column, c: Seq[Double]): Column =
    decFold(zip_with(v, lit(c.toArray), (x, p) => {
      val d = x.cast(DoubleType) - p
      (d * d).cast(TermDec)
    })).cast(DoubleType)

  /** Code of the min-distance sub-centroid (ties → smaller code, the
    * lexicographic struct-min rule). Null/NaN distances (null or
    * dimension-mismatched vectors, NaN components) are dropped first,
    * so degenerate rows yield a null code rather than an arbitrary
    * winner — the [[Similarity.assignCentroid]] verdict rule.
    *
    * The production (`exact = false`) path runs the native
    * [[org.apache.spark.sql.graft.NearestSubCode]] expression — one
    * fused double loop over the subspace slice, O(1) generated code
    * in ksub (the NearestCentroid lesson: the declarative ksub-way
    * struct-min re-walks the slice through decimal casts and falls
    * out of codegen; measured 34 s on the PQ bench row before this
    * twin). The decimal-exact declarative path backs the oracle
    * replay. Both take the FULL vector: a wrong-length vector yields
    * null on either path.
    */
  private def nearestCode(v: Column, j: Int, dim: Int, dsub: Int,
      codebook: Seq[(Int, Seq[Double])], exact: Boolean): Column =
    if (exact) {
      val sv = subVec(v, j, dsub)
      val scored = array(codebook.map { case (code, cv) =>
        F.named_struct(lit("d"), l2sq(sv, cv), lit("c"), lit(code))
      }: _*)
      val scorable = F.filter(scored,
        s => s.getField("d").isNotNull && !F.isnan(s.getField("d")))
      when(size(v) === dim && F.size(scorable) > 0,
        array_min(scorable).getField("c"))
    } else org.apache.spark.sql.graft.VectorExpressions
      .nearestSubCode(v, dim, j * dsub, codebook)

  /** Fit `m` sub-codebooks of `ksub` centroids each by `iters` plain
    * (L2) Lloyd rounds, all subspaces trained in the SAME passes.
    * Seeds: subspace slices of the first `ksub` valid rows by
    * `seedHash(id)` (ties → id). Empty codes keep their previous
    * centroid. `dim` must be divisible by `m`.
    */
  def fit(corpus: DataFrame, id: Column, vec: Column, dim: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 2, exact: Boolean = false,
      seedHash: Column => Column = F.xxhash64(_)): PqModel = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim must be a positive multiple of m, got dim=$dim m=$m")
    require(ksub >= 1 && m * ksub * (dim / m) <= MaxCells,
      s"m*ksub*dsub must be in [1, $MaxCells] (codebooks are collected " +
        s"to the driver and embedded as literals), got m=$m ksub=$ksub dim=$dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dsub = dim / m
    val c = corpus
      .filter(vec.isNotNull && size(vec) === dim)
      .select(id.as("nid"), vec.as("nv"))
    val seeds = c.orderBy(seedHash(col("nid")), col("nid"))
      .limit(ksub)
      .select(col("nv"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq)
    require(seeds.length == ksub,
      s"need at least ksub=$ksub valid rows to seed, got ${seeds.length}")
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      seeds.zipWithIndex.map { case (v, code) =>
        (code, v.slice(j * dsub, (j + 1) * dsub))
      }.toSeq
    }
    for (_ <- 1 to iters) Materialize.scope { s =>
      // one pass assigns every subspace; materialize the argmins
      // BEFORE the explodes (the ivfCentroids CollapseProject lesson:
      // a Generate would re-evaluate the k-way argmin per exploded
      // element — dim× the most expensive expression in the loop)
      val assigned = s.persist(c.select(array((0 until m).map { j =>
        struct(lit(j).as("sub"),
          nearestCode(col("nv"), j, dim, dsub, books(j), exact).as("code"),
          subVec(col("nv"), j, dsub).as("sv"))
      }: _*).as("__a")))
      val means = assigned
        .select(explode(col("__a")).as("a"))
        // NaN components pass the length/null validity filter but
        // nearestCode returns a null ("unscorable") code — drop them
        // here or the means collect NPEs on the null-code group
        .filter(col("a.code").isNotNull)
        .select(col("a.sub").as("sub"), col("a.code").as("code"),
          posexplode(col("a.sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg((F.sum(col("x").cast(DoubleType).cast(Num.DotDec))
          .cast(DoubleType) / F.count(col("x"))).as("mean"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
        .groupBy(_._1)
        .map { case (k, xs) => (k, xs.map(_._2).sortBy(_._1).map(_._2).toSeq) }
      books = (0 until m).map { j =>
        books(j).map { case (code, prev) =>
          (code, means.getOrElse((j, code), prev))
        }
      }
    }
    PqModel(dim, books)
  }

  /** Append each row's `m` sub-codes (the PQ compression step): a
    * pure projection over literal codebooks — zero shuffle,
    * streaming-safe; invalid rows (null / wrong length) get null
    * codes. Emits `{prefix}0..{prefix}{m-1}` int columns (scalar
    * columns, not an array — the gate-comparison lesson).
    */
  def encode(df: DataFrame, vec: Column, model: PqModel,
      prefix: String = "code", exact: Boolean = false): DataFrame = {
    val cols = model.codebooks.zipWithIndex.map { case (cb, j) =>
      nearestCode(vec, j, model.dim, model.dsub, cb, exact)
        .cast(IntegerType).as(s"$prefix$j")
    }
    df.select(df.columns.map(col).toIndexedSeq ++ cols: _*)
  }

  /** [[encode]] with each code projection behind the
    * [[org.apache.spark.sql.graft.OncePerRow]] evaluation barrier —
    * the scan-path form: when the coded corpus feeds the stream side
    * of a broadcast join in the same codegen stage, the barrier pins
    * each NearestSubCode loop to once per corpus row instead of once
    * per join candidate. Values are identical to [[encode]].
    */
  private def encodeEager(df: DataFrame, vec: Column,
      model: PqModel): DataFrame = {
    val cols = model.codebooks.zipWithIndex.map { case (cb, j) =>
      org.apache.spark.sql.graft.VectorExpressions.oncePerRow(
        nearestCode(vec, j, model.dim, model.dsub, cb, exact = false)
          .cast(IntegerType)).as(s"code$j")
    }
    df.select(df.columns.map(col).toIndexedSeq ++ cols: _*)
  }

  /** Asymmetric-distance top-k: corpus rows are ranked for each query
    * by `Σⱼ ‖q[j] − codebookⱼ[codeⱼ]‖²` — the query stays exact, the
    * corpus contributes only its codes. The corpus never shuffles:
    * queries broadcast, distance is row-local arithmetic against
    * literal codebooks, and the final rank is a per-query window.
    * Ranks ascending by (distance, nid) — fully deterministic.
    * Self-pairs (same id) are excluded like [[Similarity.ivfTopK]].
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, k: Int, model: PqModel,
      exact: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(id.as("qid"), vec.as("qv"))
    if (exact) {
      val enc = encode(
        corpus.select(id.as("nid"), vec.as("nv")), col("nv"), model,
        exact = true).drop("nv")
      // invalid corpus rows carry null codes — drop them BEFORE ranking
      // (a null distance would sort nulls-first into the top-k)
      val valid = enc.filter(
        (0 until model.m).map(j => col(s"code$j").isNotNull).reduce(_ && _))
      val cand = valid.join(broadcast(q), col("qid") =!= col("nid"))
      rankByAdc(cand, model, k, exact = true)
    } else {
      // production path, two scan-cost fixes (round-14, measured on the
      // pq_adc_topk rows — plans/r14/):
      //  1. the validity screen runs on the RAW vector (size/null/NaN —
      //     provably the exact condition under which NearestSubCode
      //     yields a null code), not on isNotNull(code_j): the code
      //     filter pushes below the encode projection and re-evaluates
      //     all m nearestSubCode loops per row (the duplicated-
      //     expression trap, optimization guide §4.4) — the raw-vector
      //     screen is one cheap array scan and halves encode cost;
      //  2. ADC distances come from per-query lookup tables
      //     ([[org.apache.spark.sql.graft.PqAdcLutDistance]]), so the
      //     broadcast side of the candidate scan carries ONLY (qid,
      //     batch index) — the query vectors stop being copied per
      //     candidate row and the per-candidate cost drops from dim
      //     multiply-adds to m lookups. The table build collects the
      //     query batch ONCE on the driver ([[queryBatch]]) — the same
      //     rows (and bytes) broadcast(q) previously collected there,
      //     bounded by the broadcast contract — and the broadcast side
      //     is rebuilt FROM that collected batch (a LocalRelation), so
      //     the queries plan executes exactly once and a
      //     nondeterministic queries input cannot broadcast qids the
      //     tables never saw (round-14 advice item).
      val validCorpus = corpus.select(id.as("nid"), vec.as("nv"))
        .filter(size(col("nv")) === model.dim &&
          !exists(col("nv"), x => x.isNull || isnan(x)))
      //  3. each code projection is wrapped in
      //     [[org.apache.spark.sql.graft.OncePerRow]]: whole-stage-
      //     codegen'd broadcast joins DEFER the stream side's projected
      //     expressions to their consume site INSIDE the per-build-row
      //     loop, so unwrapped every candidate re-runs all m
      //     NearestSubCode loops — measured 8× the entire remaining
      //     scan cost (ratio matches the reference count exactly; see
      //     OPTIMIZATION_r14.md "pq_adc_topk"). The barrier pins the
      //     encode to once per CORPUS row; the corpus still never
      //     shuffles.
      val enc = encodeEager(validCorpus, col("nv"), model).drop("nv")
      val (qLocal, luts) = queryBatch(q, model)
      val cand = enc.join(broadcast(qLocal.select(col("qid"), col(LutIdx))),
        col("qid") =!= col("nid"))
      rankByAdc(cand, model, k, exact = false, luts = Some(luts))
    }
  }

  /** IVF-PQ (the Jégou 2011 composition): corpus rows are coded AND
    * bucketed under their nearest spherical-k-means centroid
    * ([[Similarity.ivfCentroids]] — map-side literal assignment, no
    * join); each query probes its `nProbe` nearest buckets and ranks
    * ADC within those buckets only. Candidate volume ≈ corpus ×
    * nProbe / nCentroids like IVF, but each candidate costs m code
    * lookups instead of a dim-float exact score — the
    * prune-then-compressed-scan shape billion-row indexes actually
    * run. The bucket match is an EQUIJOIN (probes broadcast); the
    * corpus still never shuffles.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, k: Int, model: PqModel, nCentroids: Int = 16,
      nProbe: Int = 4, ivfIters: Int = 2, exact: Boolean = false,
      seedHash: Column => Column = F.xxhash64(_)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cents = Similarity.ivfCentroids(corpus, id, vec, nCentroids,
      ivfIters, exact, seedHash)
    // the scan path uses the eager (OncePerRow) encode so the coded
    // projection cannot be deferred into the bucket join's per-match
    // loop (see [[adcTopK]]); the exact oracle path keeps the plain
    // declarative form untouched
    val enc0 = corpus.select(id.as("nid"), vec.as("nv"))
    val enc = (if (exact) encode(enc0, col("nv"), model, exact = true)
               else encodeEager(enc0, col("nv"), model))
      .withColumn("cid", Similarity.assignCentroid(col("nv"), cents, exact))
      .drop("nv")
    val valid = enc.filter(col("cid").isNotNull &&
      (0 until model.m).map(j => col(s"code$j").isNotNull).reduce(_ && _))
    if (exact) {
      val probes = queries.select(id.as("qid"), vec.as("qv"),
        explode(Similarity.probeCentroids(vec, cents, nProbe, exact)).as("cid"))
      val cand = valid.join(broadcast(probes), Seq("cid"))
        .filter(col("qid") =!= col("nid"))
      rankByAdc(cand, model, k, exact = true)
    } else {
      // production path: lookup-table ADC (see [[adcTopK]]) — the
      // probe broadcast carries (qid, lut index, cid) only, never the
      // vectors; probes derive from the ONE collected batch, so the
      // queries plan executes exactly once (round-14 advice item)
      val q = queries.select(id.as("qid"), vec.as("qv"))
      val (qLocal, luts) = queryBatch(q, model)
      val probes = qLocal.select(col("qid"), col(LutIdx),
        explode(Similarity.probeCentroids(col("qv"), cents, nProbe, exact))
          .as("cid"))
      val cand = valid.join(broadcast(probes), Seq("cid"))
        .filter(col("qid") =!= col("nid"))
      rankByAdc(cand, model, k, exact = false, luts = Some(luts))
    }
  }

  /** Column name of the dense query-batch index joined onto the
    * broadcast side and consumed by the LUT expression. Positional
    * keying works for ANY qid type — the previous qid-keyed HashMap
    * missed every lookup for id types whose internal Catalyst form
    * lacks value equality (binary, array, struct) and silently nulled
    * the whole top-k (round-14 advice item).
    */
  private val LutIdx = "__graft_lutidx"

  /** Collect the query batch ONCE and derive from it (a) the per-query
    * ADC lookup tables and (b) a driver-local `(qid, qv, __graft_lutidx)`
    * DataFrame the scan's broadcast side is built from — so the
    * caller-supplied queries plan executes exactly once and the tables
    * ship in a Spark BROADCAST variable (per-executor) instead of the
    * expression tree (per-task). Collecting is bounded by the same
    * contract that already broadcast the batch to every executor.
    *
    * `lut[j·ksub+c]` = the decimal-free per-subspace distance
    * `‖q[j] − booksⱼ[c]‖²` (left-to-right double fold over the
    * sub-slice — the same element order as the fused scan loop).
    * Invalid query rows (null vector, wrong length, null elements)
    * store a null table, which
    * [[org.apache.spark.sql.graft.PqAdcLutDistance]] turns into the
    * null distance the fused loop produced for them; NaN elements ride
    * through as NaN cells (total NaN → null, same verdict). The query
    * vector is cast to array<double> BEFORE collection, so integral /
    * decimal query vectors read correctly (lossless to 2^53 — the
    * VecFoldExpression convention; the raw internal array was
    * previously read with getDouble blind to the element type,
    * round-14 advice item).
    */
  private def queryBatch(q: DataFrame, model: PqModel): (DataFrame,
      org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    val spark = q.sparkSession
    val qd = q.select(col("qid"), col("qv")
      .cast(org.apache.spark.sql.types.ArrayType(DoubleType)).as("qv"))
    val qidType = qd.schema("qid").dataType
    val rows = qd.queryExecution.executedPlan.executeCollect()
    val dsub = model.dsub
    val luts = new Array[Array[Double]](rows.length)
    val localRows = new Array[Array[Any]](rows.length)
    var idx = 0
    while (idx < rows.length) {
      val r = rows(idx)
      val qv = if (r.isNullAt(1)) null else r.getArray(1)
      val lut: Array[Double] =
        if (qv == null || qv.numElements() != model.dim) null
        else {
          var anyNull = false
          var i = 0
          while (i < model.dim && !anyNull) {
            if (qv.isNullAt(i)) anyNull = true
            i += 1
          }
          if (anyNull) null
          else {
            val out = new Array[Double](model.m * model.ksub)
            var j = 0
            while (j < model.m) {
              val book = model.codebooks(j)
              var c = 0
              while (c < model.ksub) {
                val cv = book(c)._2
                var d = 0.0
                var t = 0
                while (t < dsub) {
                  val x = qv.getDouble(j * dsub + t)
                  val diff = x - cv(t)
                  d += diff * diff
                  t += 1
                }
                out(j * model.ksub + book(c)._1) = d
                c += 1
              }
              j += 1
            }
            out
          }
        }
      luts(idx) = lut
      localRows(idx) = Array[Any](r.get(0, qidType), qv, idx)
      idx += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", qidType),
      org.apache.spark.sql.types.StructField("qv",
        org.apache.spark.sql.types.ArrayType(DoubleType)),
      org.apache.spark.sql.types.StructField(LutIdx, IntegerType,
        nullable = false)))
    val local = org.apache.spark.sql.graft.LocalBatch.of(
      spark, schema, localRows.toIndexedSeq)
    (local, spark.sparkContext.broadcast(luts))
  }

  /** Shared ADC ranking tail: distance per (qid, nid) candidate, then
    * a deterministic (distance, nid) per-query rank.
    */
  private def rankByAdc(cand: DataFrame, model: PqModel, k: Int,
      exact: Boolean,
      luts: Option[org.apache.spark.broadcast.Broadcast[
        Array[Array[Double]]]] = None): DataFrame = {
    val adist =
      if (luts.isDefined && !exact)
        org.apache.spark.sql.graft.VectorExpressions.pqAdcLutDistance(
          col(LutIdx), array((0 until model.m).map(j => col(s"code$j")): _*),
          model.m, model.ksub, luts.get)
      else if (exact) {
        // per-subspace decimal distance looked up by code, then an
        // order-free decimal sum across subspaces (each dist is a
        // scale-8 value already; the re-cast is exact round-tripping)
        val dists = (0 until model.m).map { j =>
          val qsub = subVec(col("qv"), j, model.dsub)
          model.codebooks(j).foldLeft(lit(null).cast(DoubleType)) {
            case (acc, (code, cv)) =>
              when(col(s"code$j") === code, l2sq(qsub, cv)).otherwise(acc)
          }
        }
        decFold(array(dists.map(_.cast(TermDec)): _*)).cast(DoubleType)
      } else
        // ONE native fused loop over all m subspaces (codebooks ride
        // as a referenced object — O(1) generated code in m·ksub)
        org.apache.spark.sql.graft.VectorExpressions.pqAdcDistance(
          col("qv"), array((0 until model.m).map(j => col(s"code$j")): _*),
          model.dim, model.codebooks)
    cand
      .select(col("qid"), col("nid"), adist.as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))))
      .filter(col("rank") <= k)
  }
}
