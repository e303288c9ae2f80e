package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, GroupBy, Margins, Reshape}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Representative operator plans with their scale invariants, shared by
  * [[PlanAudit.main]] (prints `explain("formatted")` for eyeballing
  * column pruning / pushdown / join strategies per change) and
  * PlanAuditSpec (ASSERTS the invariants, so a regression — e.g. a lost
  * partitioning key turning a window global — fails CI instead of
  * relying on someone reading stdout).
  *
  * Test-scope: only PlanAuditSpec and the `main` below use it. Usage:
  * `sbt "Test/runMain graft.PlanAudit /root/testdata/sf0.001"`.
  */
object PlanAudit {

  /** One audited plan. The flags are the machine-checked invariants:
    *
    *  - `noSinglePartition`: the executed plan must not contain an
    *    `Exchange SinglePartition` — set on every sliced-window and
    *    dedup/ANN plan, where a single-partition stage would mean the
    *    skew lever or bucketing silently degenerated to one task.
    *    (Deliberately NOT set on grand-total plans: a one-row global
    *    aggregate legitimately finalizes on a single partition.)
    *  - `keySlicedWindows`: the plan hash-partitions by
    *    (key, `__graft_slice`) and evaluates a window over that spec —
    *    the sliced machinery's core property. (Key-only exchanges also
    *    appear — they move slice SUMMARIES, rows ≈ slices — but the
    *    data-sized window must carry the slice key.)
    *  - `equiJoinOnly`: no cartesian/nested-loop join anywhere — set on
    *    the bucketed candidate generators whose whole point is turning
    *    an all-pairs comparison into an equijoin.
    *  - `broadcastProbe`: the plan joins via BroadcastHashJoin with no
    *    SortMergeJoin — set on the decontamination screen, whose point
    *    is that the training-corpus scan is probed map-side and never
    *    shuffled for the join.
    *  - `broadcastScan`: the plan's one join is a deliberate all-pairs
    *    scan against a BROADCAST side (BroadcastNestedLoopJoin, never
    *    SortMergeJoin/CartesianProduct) — the ADC shape: every corpus
    *    row meets every query, queries are the small side, the corpus
    *    never shuffles.
    *  - `cacheLocal`: the plan reads a cache and no Exchange sits
    *    between its root and the cache reads — set on the
    *    [[GroupBy.persisted]] plans, whose cache is range-partitioned
    *    and sorted by the keys once, so every key distribution and key
    *    ordering the plan needs is already there.
    *  - `oneJob`: a warm run is exactly one Spark job (no sampling job
    *    for a range exchange).
    *  - `noSort`: no Sort operator outside the cache.
    *  - `joinFree`: no join operator of any kind.
    *  - `noLoopInvariantSplit`: no higher-order function's lambda body
    *    holds a `split` whose input ignores that lambda's own
    *    variables. Such a split runs once per array element with the
    *    same result (lambdas run interpreted, with no shared
    *    subexpressions), so a per-gram lambda over a document split is
    *    quadratic in its tokens — set on the shingle consumers.
    *  - `noLambda`: no higher-order function anywhere in the plan. Its
    *    lambda runs interpreted, element by element, and the lambda tree
    *    is deserialized with every task — set on the curation page
    *    filter, whose rules each run as one native pass.
    *  - `smallTaskBinaries`: every map stage's task binary, the plan and
    *    closures each task deserializes, stays under a bound that no
    *    per-signature-value expression tree fits in — set on the MinHash
    *    plans, whose k signature values come from one kernel call.
    *  - `noRegex`: no `regexp_replace`, `regexp_extract_all`, `rlike` or
    *    `regexp_count` anywhere in the plan — set on the PII redaction,
    *    whose four categories run as one native pass per document.
    *  - `signOnce`: the plan and each cache it reads call the MinHash
    *    kernel at most once per distinct input — set on the fuzzy
    *    decontamination, where a filter on the signature, pushed below
    *    the projection that computes it, would sign every document
    *    twice.
    *  - `noSlidingFrame`: no window expression in the plan aggregates
    *    over a bounded ROWS frame (one whose lower bound is not
    *    unbounded preceding). Spark re-aggregates such a frame on every
    *    row, so a `rowsBetween(-49, 0)` costs 50 aggregate updates per
    *    row — set on the rolling plans, whose kernel keeps its own ring
    *    over the running frame.
    *  - `noCollect`: no `collect_list`, `sort_array` or `explode`
    *    anywhere in the plan — set on the ewm plan, whose recurrence is
    *    stepped row by row over the running frame instead of folding
    *    each key's collected rows.
    */
  final case class Audited(
      name: String,
      df: DataFrame,
      noSinglePartition: Boolean = false,
      keySlicedWindows: Boolean = false,
      equiJoinOnly: Boolean = false,
      noShuffle: Boolean = false,
      broadcastProbe: Boolean = false,
      windowGroupLimit: Boolean = false,
      takeOrdered: Boolean = false,
      broadcastScan: Boolean = false,
      cacheLocal: Boolean = false,
      oneJob: Boolean = false,
      noSort: Boolean = false,
      joinFree: Boolean = false,
      noLoopInvariantSplit: Boolean = false,
      noLambda: Boolean = false,
      smallTaskBinaries: Boolean = false,
      noRegex: Boolean = false,
      signOnce: Boolean = false,
      noSlidingFrame: Boolean = false,
      noCollect: Boolean = false)

  /** Every operator of a physical plan outside its cached relations:
    * the walk stops at each InMemoryTableScan and looks through AQE's
    * wrapper and query stages.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => q +: operators(q.plan)
    case p => p +: p.children.flatMap(operators)
  }

  def plans(spark: SparkSession, dir: String): Seq[Audited] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val ev0 = spark.read.parquet(s"$dir/events.parquet")
    // the sliced ops need an integral ord: events.ts is long nanos
    // when the parquet stores TIMESTAMP(NANOS) (nanosAsLong), micros
    // via unix_micros otherwise — same branch as the SparkEntry gates,
    // with the six-hour slice width in the matching unit
    val (ev, sixHoursNs) = ev0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (ev0, 21600000000000L)
      case _ => (ev0.withColumn("ts", unix_micros(col("ts"))), 21600000000L)
    }
    val liKeys = Seq(col("l_returnflag"), col("l_linestatus"))
    // filled up front: under AQE a plan sees the cache's layout only
    // once the cache is filled
    val evCached = new GroupBy(ev, Seq(col("user_id"))).persisted
    evCached.df.count()

    Seq(
      Audited("masked grouped agg (q1 shape)",
        new GroupBy(li, liKeys).sum(Seq(col("l_quantity").as("sum_qty")),
          mask = Some(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")))),
      Audited("density single-key (broadcast grand total)",
        new GroupBy(li, Seq(col("l_returnflag"))).density(col("l_extendedprice"))),
      Audited("density two-level (level-0 partitioned window)",
        new GroupBy(li, liKeys).density(col("l_extendedprice"))),
      Audited("valueCounts normalize (broadcast total)",
        GroupBy.valueCounts(orders, col("o_orderpriority"), normalize = true)),
      Audited("crosstab margins single-pass (count-like)",
        Reshape.crosstab(orders, Seq(col("o_orderstatus")),
          col("o_orderpriority"), margins = Margins.All, fillZero = true)),
      Audited("approx nunique (HLL partial/final, no distinct expand)",
        new GroupBy(li, liKeys).nuniqueApprox(Seq(col("l_partkey")))),
      Audited("deterministic hash-ring sample (pure map-side filter)",
        graft.operators.Sampling.deterministicSample(docs, col("doc_id"),
          fraction = 0.35, seed = 7),
        noSinglePartition = true, noShuffle = true),
      Audited("ngram jaccard with hot-shingle cap (co-partitioned df filter)",
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          maxDocFreq = Some(100)),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("ngram jaccard prefix-filtered (prefix equijoin + exact verify)",
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          threshold = 0.6, maxDocFreq = Some(100), prefixFilter = true),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("minhash LSH banding (shuffle on (band, slice-array) key)",
        Dedup.minHashPairs(docs, col("doc_id"), col("text")),
        noSinglePartition = true, equiJoinOnly = true, noLoopInvariantSplit = true,
        smallTaskBinaries = true),
      Audited("minhash keep verdicts (claim window + verdict agg, no join)",
        Dedup.minHashKeep(docs, col("doc_id"), col("text"),
          ord = col("doc_id")),
        noSinglePartition = true, equiJoinOnly = true, noLoopInvariantSplit = true,
        smallTaskBinaries = true),
      Audited("brute-force ANN (native cosine expr — scoring inside codegen)",
        graft.operators.Similarity.bruteForceTopK(embs,
          embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 5),
        noSinglePartition = true),
      Audited("embedding pairs, default LSH bucketing (bucket equijoin, no cross)",
        Dedup.embeddingPairs(embs, col("vec_id"), col("embedding"),
          threshold = 0.4),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("asof sliceWidth (windows on (key, slice); summary-sized carry side)",
        graft.operators.Joins.asof(
          ev.filter(col("event_type") =!= "purchase")
            .select(col("user_id"), col("ts"), col("event_id")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("value").as("p_value")),
          Seq("user_id"), "ts", "ts", rightVals = Seq("p_value" -> "p_value"),
          sliceWidth = Some(sixHoursNs)),
        noSinglePartition = true, keySlicedWindows = true),
      Audited("rolling sliceWidth (per-slice tails; no full-key window anywhere)",
        new graft.operators.RollingOps(new GroupBy(ev, Seq(col("user_id"))))
          .rollingSum(col("value"), col("ts"), 50, minPeriods = Some(1),
            sliceWidth = Some(sixHoursNs)),
        noSinglePartition = true, keySlicedWindows = true, noSlidingFrame = true),
      Audited("cumsum sliceWidth (one injected prefix row per slice)",
        new graft.operators.RollingOps(new GroupBy(ev, Seq(col("user_id"))))
          .cumsum(col("value"), col("ts"), exact = true,
            sliceWidth = Some(sixHoursNs)),
        noSinglePartition = true, keySlicedWindows = true),
      Audited("masked rolling sliceWidth (sub-stream sliced, join-back on keys)",
        new graft.operators.RollingOps(new GroupBy(ev, Seq(col("user_id"))))
          .rollingSum(col("value"), col("ts"), 50, minPeriods = Some(1),
            mask = Some(col("event_type") =!= "click"),
            sliceWidth = Some(sixHoursNs)),
        noSinglePartition = true, keySlicedWindows = true, noSlidingFrame = true),
      Audited("sessionize sliceWidth (gap flags + sliced running count)",
        new graft.operators.RollingOps(new GroupBy(ev, Seq(col("user_id"))))
          .groupNearbyMembers(col("ts"), col("ts"), 4.32e13,
            sliceWidth = Some(sixHoursNs)),
        noSinglePartition = true, keySlicedWindows = true),
      Audited("decontamination probe (eval gram set broadcast — map-side semijoin)",
        Dedup.contamination(docs.where(col("doc_id") % 20 =!= 0),
          col("doc_id"), col("text"),
          docs.where(col("doc_id") % 20 === 0), col("text"), n = 5),
        noSinglePartition = true, equiJoinOnly = true, broadcastProbe = true,
        noLoopInvariantSplit = true),
      Audited("segment dedup (claim agg on segment md5 + co-partitioned join-back)",
        Dedup.dedupSegments(docs, col("doc_id"), col("text"),
          ord = col("doc_id"), sep = " "),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("cluster dedup (star-round components + representative join-back)",
        Dedup.dedupByClusters(docs, col("doc_id"), col("doc_id"),
          Dedup.minHashPairs(docs, col("doc_id"), col("text")),
          col("ida"), col("idb")),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("bloom contamination flags (codegen'd probe — pure projection, zero shuffle)",
        Dedup.contaminationFlags(docs.where(col("doc_id") % 20 =!= 0),
          col("doc_id"), col("text"),
          Dedup.evalGramBloom(docs.where(col("doc_id") % 20 === 0),
            col("text"), n = 5, expectedItems = Some(5000L)), n = 5),
        noSinglePartition = true, noShuffle = true, noLoopInvariantSplit = true),
      Audited("head unsplit (rank-limit pushdown: partial map-side top-n per key)",
        // the r8 bench adjudication (DESIGN.md): row_number <= n plans
        // a WindowGroupLimit (Partial) BEFORE the key shuffle, so the
        // unsplit positional selection is ALREADY skew-safe — each map
        // task keeps n rows per key and the hot key never sorts whole
        new graft.operators.SelectionOps(new GroupBy(orders, Seq(col("o_custkey"))))
          .head(2, Seq(col("o_orderkey"))),
        noSinglePartition = true, windowGroupLimit = true),
      Audited("head sliceWidth (per-slice counts + pruned within-slice row_number)",
        new graft.operators.SelectionOps(new GroupBy(orders, Seq(col("o_custkey"))))
          .head(2, Seq(col("o_orderkey")), sliceWidth = Some(50000L)),
        noSinglePartition = true, keySlicedWindows = true, equiJoinOnly = true),
      Audited("findLastN sliceWidth (descending offsets, index-returning)",
        new graft.operators.SelectionOps(new GroupBy(orders, Seq(col("o_custkey"))))
          .findLastN(3, col("o_orderkey"), Seq(col("o_orderkey")),
            sliceWidth = Some(50000L)),
        noSinglePartition = true, keySlicedWindows = true, equiJoinOnly = true),
      Audited("bm25 top-k (row-local tf scoring; TakeOrderedAndProject, no global sort)",
        // stats precomputed so the audited plan is the pure scoring
        // path: per-task top-k heads merged on the driver, never a
        // whole-corpus sort exchange
        graft.operators.Similarity.bm25TopK(docs, col("doc_id"), col("text"),
          Seq("spark", "window"), k = 10,
          stats = Some(graft.operators.Similarity.Bm25Stats(1000L, 60.0,
            Map("spark" -> 400L, "window" -> 300L)))),
        takeOrdered = true),
      Audited("sequence packing (one hash exchange on shard, then a narrow walk)",
        graft.operators.Sampling.packSequences(docs, col("doc_id"),
          TextFunctions.tokenCountWs(col("text")),
          maxTokens = 400L, ord = col("doc_id"), shards = 8),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("fuzzy decontamination (broadcast eval band buckets; hit-sized re-joins)",
        Dedup.contaminationFuzzy(docs.where(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"),
          docs.where(col("doc_id") % 10 === 0), col("doc_id"), col("text")),
        noSinglePartition = true, equiJoinOnly = true, noLoopInvariantSplit = true,
        signOnce = true),
      Audited("semdedup (map-side centroid assignment; cluster-key equijoin only)",
        Dedup.semDedup(embs, col("vec_id"), col("embedding"), col("vec_id"),
          graft.operators.Similarity.ivfCentroids(embs, col("vec_id"),
            col("embedding"), nCentroids = 4, iters = 1),
          threshold = 0.4),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("incremental dedup, broadcast prior (map-side anti probe, no SMJ)",
        graft.operators.Snapshot.dedupAgainst(
          docs.where(col("doc_id") % 2 === 0), md5(col("text")),
          docs.where(col("doc_id") % 3 === 0), md5(col("text")),
          broadcastPrior = true),
        noSinglePartition = true, broadcastProbe = true),
      Audited("incremental dedup vs bloom sketch (pure filter, zero shuffle)",
        graft.operators.Snapshot.dedupAgainstBloom(
          docs.where(col("doc_id") % 2 === 0), md5(col("text")),
          graft.operators.Snapshot.priorKeyBloom(
            docs.where(col("doc_id") % 3 === 0), md5(col("text")),
            expectedItems = Some(1000L))),
        noSinglePartition = true, noShuffle = true),
      Audited("corpus diff (two pruned scans into one full-outer equijoin)",
        graft.operators.Snapshot.corpusDiff(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 5 =!= 0),
          col("doc_id"), md5(col("text"))),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("vocab encode (top-V heap merge; broadcast lookup, no SMJ)",
        // the vocab-sized row_number window legitimately runs single-
        // partition (<= maxSize rows), so noSinglePartition stays off
        graft.operators.Vocab.encodeTokens(docs, col("doc_id"), col("text"),
          graft.operators.Vocab.buildVocab(docs, col("text"), maxSize = 150,
            minCount = 2)),
        broadcastProbe = true, takeOrdered = true),
      Audited("group winsorize (broadcast fence table — data rows never shuffle)",
        new GroupBy(li, Seq(col("l_returnflag")))
          .winsorize(col("l_quantity"), 0.05, 0.95),
        noSinglePartition = true, broadcastProbe = true),
      Audited("group mode (two partial-aggregatable hash aggs, no window, no sort)",
        new GroupBy(li, Seq(col("l_returnflag"))).mode(col("l_quantity")),
        noSinglePartition = true),
      Audited("group top-k values (partial WindowGroupLimit below the key shuffle)",
        new GroupBy(orders, Seq(col("o_orderstatus")))
          .topKValues(col("o_orderpriority"), 3),
        noSinglePartition = true, windowGroupLimit = true),
      Audited("unigram LM scoring (broadcast vocab lookup — corpus scan never shuffles for the join)",
        graft.operators.LangModel.scoreByUnigram(docs, col("doc_id"),
          col("text"),
          graft.operators.LangModel.unigramCounts(
            docs.where(col("doc_id") % 2 === 0), col("text")),
          total = 100000L),
        noSinglePartition = true, broadcastProbe = true),
      Audited("DSIR weights (two BROADCAST bucket-model lookups — corpus never shuffles for the joins)",
        {
          val tc = graft.operators.Dsir.bucketCounts(
            docs.where(col("doc_id") % 4 === 0), col("text"), 512)
          val rc = graft.operators.Dsir.bucketCounts(
            docs.where(col("doc_id") % 4 =!= 0), col("text"), 512)
          graft.operators.Dsir.logImportanceWeights(
            docs.where(col("doc_id") % 4 =!= 0), col("doc_id"), col("text"),
            tc, 100000L, rc, 300000L, 512)
        },
        noSinglePartition = true, broadcastProbe = true),
      // no flags: the one-row dangling-mass aggregate legitimately
      // finalizes on a single partition and re-enters via a broadcast
      // nested-loop of exactly one row (the grand-total pattern) —
      // the data-sized joins are all equijoins, visible in the print
      Audited("pageRank round (rank⋈edges equijoin + dst hash agg; one-row dangling mass broadcast)",
        graft.operators.GraphOps.pageRank(
          docs.select(col("source").as("src"), col("lang").as("dst")),
          iterations = 2, numVertices = Some(12L))),
      Audited("fuzzy join (hash equijoin on the (prefix, length-bin) block key — never a cross join)",
        graft.operators.Joins.fuzzyJoin(
          orders.select(col("o_orderkey").as("id"), col("o_orderpriority").as("name")),
          col("id"), col("name"),
          orders.select(col("o_orderkey").as("id"), col("o_orderpriority").as("name")),
          col("id"), col("name"), maxDist = 1),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("k-anonymity suppression (combo-key hash agg + co-partitioned struct-key equijoin)",
        graft.operators.Privacy.suppressRare(
          docs.select(col("doc_id"), col("lang"), col("source")),
          Seq(col("lang"), col("source")), k = 3),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("quality-classifier scoring (broadcast weight table; doc-keyed feature aggs — equijoins only)",
        graft.operators.QualityModel.scoreQuality(docs, col("doc_id"),
          col("text"),
          TextFunctions.pseudoWeights(spark, dim = 256)
            .withColumnRenamed("weight", "w")
            .select(col("bucket"), col("w").cast("double").as("weight")),
          dim = 256),
        noSinglePartition = true, equiJoinOnly = true),
      Audited("bigram LM scoring (three BROADCAST vocab lookups — corpus never shuffles for the joins)",
        {
          val ref = docs.where(col("doc_id") % 2 === 0)
          graft.operators.LangModel.scoreByBigram(docs, col("doc_id"),
            col("text"),
            graft.operators.LangModel.bigramCounts(ref, col("text")),
            graft.operators.LangModel.unigramCounts(ref, col("text")),
            total = 100000L)
        },
        noSinglePartition = true, broadcastProbe = true),
      Audited("image dHash hamming pairs (pigeonhole bit-block equijoin — never all-pairs)",
        {
          val bin = docs.select(col("doc_id"),
            encode(col("text"), "UTF-8").as("bytes"))
          val hashed = graft.operators.Multimodal.imageDHash(bin,
            col("doc_id"), col("bytes")).toDF()
          Dedup.hammingPairs(hashed.where(col("valid")), col("id"),
            col("dhash"), maxDistance = 6)
        },
        noSinglePartition = true, equiJoinOnly = true),
      Audited("PCA projection (centered dots against literal components — pure projection)",
        {
          val m = graft.operators.Pca.fit(embs, col("embedding"), k = 2,
            iters = 2, dim = Some(64))
          graft.operators.Pca.project(embs, col("embedding"), m)
        },
        noSinglePartition = true, noShuffle = true),
      Audited("PQ encode (argmin against literal codebooks — pure projection)",
        {
          val m = graft.operators.Pq.fit(embs, col("vec_id"),
            col("embedding"), dim = 64, m = 4, ksub = 4, iters = 1)
          graft.operators.Pq.encode(embs, col("embedding"), m)
        },
        noSinglePartition = true, noShuffle = true),
      Audited("PQ ADC top-k (coded corpus scan, queries BROADCAST — corpus never shuffles for the join)",
        {
          val m = graft.operators.Pq.fit(embs, col("vec_id"),
            col("embedding"), dim = 64, m = 4, ksub = 4, iters = 1)
          graft.operators.Pq.adcTopK(embs, embs.filter(col("vec_id") < 3),
            col("vec_id"), col("embedding"), k = 5, m)
        },
        noSinglePartition = true, broadcastScan = true),
      Audited("IVF-PQ (bucket EQUIJOIN with broadcast probes — pruned compressed scan, corpus never shuffles)",
        {
          val m = graft.operators.Pq.fit(embs, col("vec_id"),
            col("embedding"), dim = 64, m = 4, ksub = 4, iters = 1)
          graft.operators.Pq.ivfPqTopK(embs, embs.filter(col("vec_id") < 3),
            col("vec_id"), col("embedding"), k = 5, m,
            nCentroids = 4, nProbe = 2, ivfIters = 1)
        },
        noSinglePartition = true, broadcastProbe = true),
      Audited("persisted sorted sum (range-partitioned, key-sorted cache: no exchange, one job)",
        evCached.sum(Seq(col("value"))),
        cacheLocal = true, oneJob = true),
      Audited("persisted transform mean (key window over the key-sorted cache: no sort)",
        evCached.mean(Seq(col("value")), transform = true),
        cacheLocal = true, noSort = true),
      Audited("persisted rolling sum and mean (running frame)", {
        val sums = new graft.operators.RollingOps(evCached)
          .rollingSum(col("value"), col("ts"), 50, minPeriods = Some(1))
        new graft.operators.RollingOps(new GroupBy(sums, Seq(col("user_id"))))
          .rollingMean(col("value"), col("ts"), 50, minPeriods = Some(1))
      }, cacheLocal = true, joinFree = true, noSlidingFrame = true),
      Audited("rolling exact, prod and pair moments (running frame)", {
        def ops(d: DataFrame) =
          new graft.operators.RollingOps(new GroupBy(d, Seq(col("user_id"))))
        val (v, ts, y) = (col("value"), col("ts"), col("value") * 0.5 + col("ts") % 7)
        val d1 = ops(ev).rollingSum(v, ts, 50, Some(1), exact = true)
        val d2 = ops(d1).rollingVar(v, ts, 50, Some(1), exact = true)
        val d3 = ops(d2).rollingAgg("prod", v, ts, 50, Some(1), name = "rolling_prod")
        val d4 = ops(d3).rollingCorr(v, y, ts, 50, Some(2), exact = true)
        ops(d4).rollingCov(v, y, ts, 50, Some(2))
      }, noSlidingFrame = true),
      Audited("persisted ewm mean (one running-frame window: no collect, no join-back, no exchange)",
        new graft.operators.RollingOps(evCached).ewmMean(col("value"), col("ts"), 0.25),
        cacheLocal = true, joinFree = true, noCollect = true),
      Audited("curation page filter (one native pass per text rule, no lambda)", {
        val text = col("text")
        docs.withColumn("text", TextFunctions.c4FilteredText(text))
          .filter(TextFunctions.c4DocFlags(text).getField("pass"))
          .filter(TextFunctions.gopherQualityFlags(text).getField("pass"))
          .withColumn("lang", TextFunctions.langIdScript(text))
      }, noLambda = true),
      Audited("pii redaction (one native pass per document, no regex)", {
        val text = col("text")
        docs.withColumn("pii", TextFunctions.piiStats(text))
          .withColumn("text", TextFunctions.redactPii(text))
          .withColumn("tokens", TextFunctions.tokenCountWs(text))
      }, noShuffle = true, noRegex = true),
      Audited("resample (one (keys, bucket) hash agg + summary-sized bin-domain equijoin)",
        graft.operators.Resample.resample(
          new GroupBy(ev, Seq(col("user_id"))), col("ts"), 21600000000000L,
          Seq(graft.operators.AggSpec("sum", col("value"), "s", exact = true),
            graft.operators.AggSpec("count", col("value"), "n"))),
        noSinglePartition = true, equiJoinOnly = true)
    )
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-less parquet timestamps (timestamp[us]) read as TIMESTAMP
      // (LTZ, UTC session) not TIMESTAMP_NTZ: matches the DuckDB
      // oracle's naive-as-UTC reading and keeps unix_micros legal
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    plans(spark, dir).foreach { a =>
      println(s"\n===== ${a.name} =====")
      a.df.explain("formatted")
    }
    spark.stop()
  }
}
