package graft

import graft.operators.{Dsir, GraphOps, Privacy}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the curation wave: DSIR importance weighting
  * (vs an independent in-memory reimplementation), PageRank (vs an
  * independent dense power iteration), k-anonymity suppression.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- DSIR

  /** Independent scala twin of the engine's hashed-unigram DSIR:
    * PortableHash polynomial fold, add-1 smoothing, plain double sums
    * (the engine decimal-sums at scale 8, so compare within 1e-6).
    */
  private def scalaDsir(target: Seq[String], raw: Seq[(Long, String)],
      buckets: Int): Map[Long, (Long, Double)] = {
    def bucket(tok: String): Int =
      (tok.take(64).foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
        % buckets).toInt
    def counts(docs: Seq[String]): Map[Int, Long] =
      docs.flatMap(_.split(" ").filter(_.nonEmpty)).map(bucket)
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val tc = counts(target); val rc = counts(raw.map(_._2))
    val tt = tc.values.sum.toDouble; val rt = rc.values.sum.toDouble
    val norm = math.log(tt + buckets) - math.log(rt + buckets)
    raw.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) None
      else {
        val s = toks.map { t =>
          val b = bucket(t)
          math.log(tc.getOrElse(b, 0L) + 1.0) - math.log(rc.getOrElse(b, 0L) + 1.0)
        }.sum
        Some(id -> (toks.length.toLong, s - toks.length * norm))
      }
    }.toMap
  }

  test("DSIR log weights match an independent scala reimplementation") {
    val target = Seq("alpha beta alpha", "beta gamma", "alpha nu xi")
    val raw = Seq(1L -> "alpha beta", 2L -> "delta epsilon zeta",
      3L -> "beta beta gamma alpha", 4L -> "", 5L -> "omega")
    val exp = scalaDsir(target, raw, buckets = 64)
    val tgtDf = target.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rawDf = raw.toDF("doc_id", "text")
    val tc = Dsir.bucketCounts(tgtDf, col("text"), 64)
    val rc = Dsir.bucketCounts(rawDf, col("text"), 64)
    val got = Dsir.logImportanceWeights(rawDf, col("doc_id"), col("text"),
        tc, Dsir.totalOf(tc), rc, Dsir.totalOf(rc), 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === exp.keySet)       // empty doc 4 absent from both
    for ((id, (n, w)) <- exp) {
      assert(got(id)._1 === n, s"doc $id n_tokens")
      assert(math.abs(got(id)._2 - w) < 1e-6, s"doc $id log_w: ${got(id)._2} vs $w")
    }
    // target-looking docs score above off-target docs
    assert(got(1L)._2 > got(2L)._2)
  }

  test("DSIR acceptance weight is min(1, exp(log_w))") {
    val d = Seq(0.5, 0.0, -1.0).toDF("lw")
    val out = d.select(Dsir.acceptanceWeight(col("lw"))).collect().map(_.getDouble(0))
    assert(out(0) === 1.0 && out(1) === 1.0)
    assert(math.abs(out(2) - math.exp(-1.0)) < 1e-15)
  }

  test("DSIR projection form is bit-equal to the groupBy form; runs on a real stream") {
    val target = Seq("alpha beta alpha", "beta gamma")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val raw = Seq(1L -> "alpha beta", 2L -> "delta epsilon zeta",
      3L -> "beta beta gamma alpha", 5L -> "omega").toDF("doc_id", "text")
    val b = 64
    val tc = Dsir.bucketCounts(target, col("text"), b)
    val rc = Dsir.bucketCounts(raw, col("text"), b)
    val (tt, rt) = (Dsir.totalOf(tc), Dsir.totalOf(rc))
    val grouped = Dsir.logImportanceWeights(raw, col("doc_id"), col("text"),
        tc, tt, rc, rt, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (tm, rm) = (Dsir.collectModel(tc), Dsir.collectModel(rc))
    val proj = raw.select(col("doc_id"),
        Dsir.logImportanceWeightProjection(col("text"), tm, tt, rm, rt, b)
          .as("log_w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(proj === grouped) // BIT-equal, not approximately

    // the projection is a stateless projection: identical on a stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text")
      .select(col("doc_id"),
        Dsir.logImportanceWeightProjection(col("text"), tm, tt, rm, rt, b)
          .as("log_w"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_dsir_stream").start()
    ms.addData(1L -> "alpha beta", 3L -> "beta beta gamma alpha")
    q.processAllAvailable()
    val streamed = spark.table("graft_dsir_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(streamed === Map(1L -> grouped(1L), 3L -> grouped(3L)))
  }

  // ------------------------------------------------------------ PageRank

  /** Independent dense power iteration with the same dangling rule. */
  private def scalaPr(edges: Seq[(String, String)], iters: Int,
      d: Double): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toDouble }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val contrib = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / out(src) }.sum
      }
      r = nodes.map(v => v ->
        ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("pageRank matches an independent dense power iteration; mass conserved") {
    val edges = Seq("a" -> "b", "c" -> "b", "b" -> "a", "a" -> "d",
      "e" -> "a", "a" -> "b" /* duplicate collapses */)
    val exp = scalaPr(edges, 4, 0.85)
    val got = GraphOps.pageRank(edges.toDF("src", "dst"), iterations = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === exp.keySet)
    for ((k, v) <- exp)
      assert(math.abs(got(k) - v) < 1e-6, s"node $k: ${got(k)} vs $v")
    assert(math.abs(got.values.sum - 1.0) < 1e-6, "rank mass must stay 1")
  }

  test("pageRank integer-keyed graphs take the long-key path: same ranks, long node column (round-14 advice)") {
    // integer edges keep 8-byte keys (and the MERGE-pinned per-round
    // joins) instead of casting to string — an API-visible schema
    // change for integer-keyed graphs, pinned here with the same
    // dense power-iteration oracle as the string test
    val intEdges = Seq(1L -> 2L, 3L -> 2L, 2L -> 1L, 1L -> 4L,
      5L -> 1L, 1L -> 2L)
    val out = GraphOps.pageRank(intEdges.toDF("src", "dst"), iterations = 4)
    assert(out.schema("node").dataType ===
      org.apache.spark.sql.types.LongType,
      "integral ids must keep their long key type")
    val got = out.collect().map(r => r.getLong(0).toString -> r.getDouble(1))
      .toMap
    val exp = scalaPr(intEdges.map { case (s, d) =>
      s.toString -> d.toString }, 4, 0.85)
    assert(got.keySet === exp.keySet)
    for ((k, v) <- exp)
      assert(math.abs(got(k) - v) < 1e-6, s"node $k: ${got(k)} vs $v")
    // int-typed edges also stay integral (widen to the cast type)
    val i32 = GraphOps.pageRank(
      intEdges.map { case (s, d) => (s.toInt, d.toInt) }.toDF("src", "dst"),
      iterations = 2)
    assert(i32.schema("node").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("pageRank: two-node cycle is the uniform fixed point") {
    val e = Seq("x" -> "y", "y" -> "x").toDF("src", "dst")
    val r = GraphOps.pageRank(e, iterations = 5).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(r("x") - 0.5) < 1e-9 && math.abs(r("y") - 0.5) < 1e-9)
  }

  test("pageRank releases each round's checkpoint blocks eagerly (round-9 advice)") {
    // Dataset.unpersist cannot free localCheckpoint blocks (RDD-level
    // persist, not CacheManager) — the engine unpersists the
    // checkpointed RDD directly. 12 rounds create 13 checkpoint RDDs;
    // only the RETURNED result may still hold blocks afterward.
    val sc = spark.sparkContext
    val e = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
      .toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val r = GraphOps.pageRank(e, iterations = 12)
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"${leaked.size} persisted RDDs remain after pageRank — per-round " +
        "checkpoint blocks are accumulating instead of being freed")
    // storage-status form of the same pin (round-10 verdict item 5):
    // whatever survives must be AT MOST one round's rank blocks — the
    // returned result — never an accumulation. One rank round on this
    // 3-node graph is a handful of rows; 64 KB is orders of magnitude
    // of headroom above one round and orders below two-rounds-per-
    // iteration leakage at any realistic width.
    val survivors = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
    assert(survivors.length <= 2,
      s"${survivors.length} RDDs still hold blocks after pageRank")
    val bytes = survivors.map(i => i.memSize + i.diskSize).sum
    assert(bytes < 64L * 1024,
      s"$bytes bytes of rank blocks remain after a 12-round run — " +
        "more than one round's result is still resident")
  }

  test("connectedComponents releases each round's checkpoint blocks") {
    // the pageRank pin for the star rounds: a 64-vertex path takes
    // several rounds, each checkpointed; Dataset.unpersist would leave
    // every one of them registered. Only the returned result's final
    // round may still hold blocks.
    val sc = spark.sparkContext
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("x", "y")
    val before = sc.getPersistentRDDs.keySet
    val r = graft.operators.Dedup.connectedComponents(edges, col("x"), col("y"))
    assert(r.count() === 64)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"${leaked.size} persisted RDDs remain after connectedComponents — " +
        "per-round checkpoint blocks are accumulating instead of being freed")
  }

  test("learnBpeMerges releases every round's checkpoint blocks") {
    // the merge list is driver-built, so no round's vocab table may
    // outlive the call — the last round's included
    val sc = spark.sparkContext
    val d = Seq((1L, "low low low lower lowest"), (2L, "newest newest"))
      .toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    val m = graft.operators.Vocab.learnBpeMerges(d, col("text"), 6)
    assert(m.count() === 6)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"${leaked.size} persisted RDDs remain after learnBpeMerges")
  }

  test("pageRank validates its arguments") {
    val e = Seq("a" -> "b").toDF("src", "dst")
    intercept[IllegalArgumentException] { GraphOps.pageRank(e, iterations = 0) }
    intercept[IllegalArgumentException] { GraphOps.pageRank(e, damping = 1.5) }
    intercept[IllegalArgumentException] { GraphOps.pageRank(e, tol = -1.0) }
  }

  test("pageRank tol: early-exit stops iteration; tol = 0 is bit-identical to fixed-count") {
    def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val e = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
      .toDF("src", "dst")
    // a huge tol trips the exit after the FIRST round on this
    // not-yet-converged graph: the result must equal iterations = 1,
    // not iterations = 10 (which differs — asserted below)
    val one = ranks(GraphOps.pageRank(e, iterations = 1))
    val ten = ranks(GraphOps.pageRank(e, iterations = 10))
    assert(one !== ten, "fixture must not converge in one round")
    assert(ranks(GraphOps.pageRank(e, iterations = 10, tol = 100.0)) === one)
    // tol = 0 (default path) is the fully-lazy fixed-count plan
    assert(ranks(GraphOps.pageRank(e, iterations = 5, tol = 0.0)) ===
      ranks(GraphOps.pageRank(e, iterations = 5)))
    // a converged fixture (symmetric 2-cycle: exact fixpoint 0.5/0.5
    // after round one) exits early WITHOUT changing the answer
    val cyc = Seq("x" -> "y", "y" -> "x").toDF("src", "dst")
    val got = ranks(GraphOps.pageRank(cyc, iterations = 50, tol = 1e-15))
    assert(got === Map("x" -> 0.5, "y" -> 0.5))
  }

  // ------------------------------------------------- quality classifier

  test("quality trainer: separable fixture → scoring reproduces the labels; intercept learned") {
    import graft.operators.QualityModel
    val docs = Seq(
      (1L, "great excellent wonderful", true),
      (2L, "awesome great excellent", true),
      (3L, "terrible awful bad", false),
      (4L, "bad horrid awful", false),
      (5L, "great wonderful awesome excellent", true),
      (6L, "awful terrible horrid bad", false)).toDF("doc_id", "text", "y")
    val w = QualityModel.trainQuality(docs, col("doc_id"), col("text"),
      col("y"), dim = 256, iters = 20, lr = 4.0)
    // weight table: observed buckets + the intercept row at -1
    assert(w.filter(col("bucket") === -1L).count() === 1)
    val scored = QualityModel.scoreQuality(docs, col("doc_id"), col("text"),
        w, dim = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(r.fieldIndex("score")) > 0.5)).toMap
    assert(scored === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> true, 6L -> false))
    // balanced classes + disjoint vocab: symmetric gradients keep the
    // intercept near zero while feature weights split by sign
    val wi = w.filter(col("bucket") === -1L).head().getDouble(1)
    assert(math.abs(wi) < 0.2, s"intercept $wi")
    intercept[IllegalArgumentException] {
      QualityModel.trainQuality(docs, col("doc_id"), col("text"), col("y"),
        dim = 256, iters = 0, lr = 1.0)
    }
  }

  test("quality scorer: featureless docs score 0.5, unmatched buckets weigh 0") {
    import graft.operators.QualityModel
    val train = Seq((1L, "good stuff", true), (2L, "bad junk", false))
      .toDF("doc_id", "text", "y")
    val w = QualityModel.trainQuality(train, col("doc_id"), col("text"),
      col("y"), dim = 128, iters = 5, lr = 2.0)
    // "novel words" hit no trained bucket: only the intercept fires
    val out = QualityModel.scoreQuality(
        Seq((9L, "zzz qqq")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), w, dim = 128)
      .head()
    assert(out.getLong(out.fieldIndex("n_features")) === 3) // 2 uni + 1 bi
    // margin = intercept weight only (x = 1); score strictly between
    // 0 and 1
    val s = out.getDouble(out.fieldIndex("score"))
    assert(s > 0.0 && s < 1.0)
  }

  // ------------------------------------------------------ bigram LM

  test("bigram LM with stupid backoff: seen-bigram docs outscore shuffled ones; hand-checked value") {
    import graft.operators.LangModel
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val uni = LangModel.unigramCounts(ref, col("text"))
    val bi = LangModel.bigramCounts(ref, col("text"))
    val total = LangModel.totalTokens(uni) // 4
    assert(total === 4L)
    // bigram table: (a,b) x2, (b,a) x1
    val biM = bi.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getLong(2)).toMap
    assert(biM === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
    val docs = Seq((1L, "a b"), (2L, "b b"), (3L, "zzz")).toDF("doc_id", "text")
    val out = LangModel.scoreByBigram(docs, col("doc_id"), col("text"),
        bi, uni, total, alpha = 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: pos1 ln(2/4), pos2 seen (a,b): ln(2/2) = 0 → mean = ln(.5)/2
    assert(out(1L)._2 === 0L)
    // DotDec per-term rounding resolves at 1e-8 — compare at 1e-7
    assert(math.abs(out(1L)._3 - math.log(0.5) / 2) < 1e-7)
    // doc 2: pos2 bigram (b,b) unseen → backoff ln(.4) + ln(2/4)
    assert(out(2L)._2 === 1L)
    assert(math.abs(out(2L)._3 -
      (math.log(0.5) + (math.log(0.4) + math.log(0.5))) / 2) < 1e-7)
    // doc 3: single OOV token → unigram smoothing ln(1/4), no backoff
    // (position 1 has no history)
    assert(out(3L) === ((1L, 0L,
      out(3L)._3)) && math.abs(out(3L)._3 - math.log(0.25)) < 1e-7)
    // the in-order doc outscores its shuffle
    assert(out(1L)._3 > out(2L)._3)
  }

  test("bigram LM: zero-token documents neither crash counting nor get scored") {
    import graft.operators.LangModel
    // empty and whitespace-only rows mixed into both corpora — the
    // slice(toks, 1, size-1) hazard: size 0 gave length -1 pre-fix
    val ref = Seq((0L, "a b a b"), (1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val uni = LangModel.unigramCounts(ref, col("text"))
    val bi = LangModel.bigramCounts(ref, col("text"))
    val biM = bi.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getLong(2)).toMap
    assert(biM === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
    val docs = Seq((1L, "a b"), (2L, ""), (3L, "  ")).toDF("doc_id", "text")
    val out = LangModel.scoreByBigram(docs, col("doc_id"), col("text"),
      bi, uni, LangModel.totalTokens(uni), alpha = 0.4).collect()
    // empty docs drop out entirely (matching the unigram family and
    // the oracle) instead of scoring a phantom (null, null) token
    assert(out.map(_.getLong(0)).toSet === Set(1L))
  }

  // ----------------------------------------------------------- fuzzy join

  test("fuzzyJoin finds typo pairs within blocks; prefix typos are missed by design") {
    val left = Seq((1L, "Widget Alpha"), (2L, "Gadget Beta"), (3L, "Gizmo"))
      .toDF("id", "name")
    val right = Seq(
      (10L, "widget alpja"),  // dist 1, same prefix → found
      (20L, "Xadget Beta"),   // dist 1 but first char differs → missed (prefix block)
      (30L, "gizmo XL"),      // dist 3 > maxDist → rejected by verify
      (40L, "GIZMO ")         // trim+lower → exact, dist 0
    ).toDF("id", "name")
    val out = graft.operators.Joins.fuzzyJoin(
        left, col("id"), col("name"), right, col("id"), col("name"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(out === Set((1L, 10L, 1), (3L, 40L, 0)))
  }

  test("fuzzyJoin length-band adjacency: a one-char insertion across a bin boundary still matches") {
    // lengths 8 and 9 straddle the lenBand=4 boundary (bins 2 vs 2? 8/4=2, 9/4=2)
    // use 7 vs 8: bins 1 and 2 — adjacent, must still match at dist 1
    val l = Seq((1L, "abcdefg")).toDF("id", "name")       // len 7, bin 1
    val r = Seq((2L, "abcdefgh")).toDF("id", "name")      // len 8, bin 2
    val out = graft.operators.Joins.fuzzyJoin(
      l, col("id"), col("name"), r, col("id"), col("name"), maxDist = 1)
    assert(out.count() === 1)
    // prefixLen = 0 blocks on length alone: complete for maxDist <= lenBand
    val p0 = graft.operators.Joins.fuzzyJoin(
      Seq((1L, "xbcdefg")).toDF("id", "name"), col("id"), col("name"),
      r, col("id"), col("name"), maxDist = 2, prefixLen = 0)
    assert(p0.count() === 1)
  }

  test("fuzzyJoin maxDist > lenBand: probe width auto-widens, length-diff-maxDist pairs found") {
    // lengths 3 and 8 (diff 5 = maxDist): bins 0 and 2 at lenBand 4 —
    // a ±2 probe is required, and the old fixed ±1 silently missed
    // exactly this shape (round-7 advice item). lengths 3 vs 9
    // (dist 6 > maxDist=5) must still NOT match.
    val l = Seq((1L, "abc")).toDF("id", "name")  // len 3, bin 0
    val r = Seq((2L, "abcdefgh"),                // len 8, bin 2, dist 5
      (3L, "abcdefghi")                          // len 9, dist 6 > maxDist
    ).toDF("id", "name")
    val out = graft.operators.Joins.fuzzyJoin(
        l, col("id"), col("name"), r, col("id"), col("name"),
        maxDist = 5, prefixLen = 0)
      .select("right_id").as[Long].collect().toSet
    assert(out === Set(2L))
  }

  // ----------------------------------------------------------------- BPE

  /** Independent in-memory BPE (word-frequency formulation, greedy
    * left-to-right rewrite, (freq DESC, left ASC, right ASC) argmax).
    */
  private def scalaBpe(words: Map[String, Long], rounds: Int)
      : (List[(String, String, Long)], Map[String, List[String]]) = {
    var syms = words.map { case (w, f) => w.toList.map(_.toString) -> f }.toList
    var merges = List.empty[(String, String, Long)]
    var stop = false
    for (_ <- 1 to rounds if !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- syms; p <- s.zip(s.drop(1)))
        counts(p) = counts.getOrElse(p, 0L) + f
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), pf) = counts.toList
          .sortBy { case ((x, y), c) => (-c, x, y) }.head
        merges = merges :+ ((a, b, pf))
        def rw(s: List[String]): List[String] = s.foldLeft(List.empty[String]) {
          (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
        }
        syms = syms.map { case (s, f) => rw(s) -> f }
      }
    }
    val seg = words.keys.map { w =>
      var s = w.toList.map(_.toString)
      for ((a, b, _) <- merges) {
        s = s.foldLeft(List.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
          else acc :+ x
        }
      }
      w -> s
    }.toMap
    (merges, seg)
  }

  test("learnBpeMerges matches an independent in-memory BPE; bpeSegment applies the merges") {
    val docs = Seq((1L, "low low low lower lowest"), (2L, "newest newest"))
    val words = Map("low" -> 3L, "lower" -> 1L, "lowest" -> 1L, "newest" -> 2L)
    val (expMerges, expSeg) = scalaBpe(words, 6)
    // sanity of the oracle itself: the classic first merges
    assert(expMerges.take(3).map(m => (m._1, m._2)) ===
      List(("l", "o"), ("lo", "w"), ("e", "s")))
    val d = docs.toDF("doc_id", "text")
    val got = graft.operators.Vocab.learnBpeMerges(d, col("text"), 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    assert(got === expMerges)
    val seg = graft.operators.Vocab.bpeSegment(d, col("doc_id"), col("text"),
        expMerges.map(m => (m._1, m._2)))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val expDoc1 = "low low low lower lowest".split(" ").toList.flatMap(expSeg)
    val expDoc2 = "newest newest".split(" ").toList.flatMap(expSeg)
    assert(seg(1L) === expDoc1)
    assert(seg(2L) === expDoc2)
  }

  test("learnBpeMerges stops early when no pair reaches minPairFreq") {
    val d = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m = graft.operators.Vocab.learnBpeMerges(d, col("text"), 10,
      minPairFreq = 2L).collect()
    // only (a,b) reaches freq 2; after merging it no pair has freq >= 2
    assert(m.length === 1)
    assert((m(0).getString(1), m(0).getString(2), m(0).getLong(4)) === (("a", "b", 2L)))
  }

  // -------------------------------------------------------- key skew

  test("keySkew: deterministic tie-broken top-N, shares, null keys counted") {
    val d = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(2)(null.asInstanceOf[String])).map(Tuple1(_)).toDF("k")
    val out = graft.operators.Profile.keySkew(d, col("k"), topN = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.length === 3)
    assert(out(0) === ((1L, "a", 5L, 5.0 / 13, 5.0 / 13)))
    assert(out(1) === ((2L, "b", 3L, 3.0 / 13, 8.0 / 13)))  // b before c (tie)
    assert(out(2) === ((3L, "c", 3L, 3.0 / 13, 11.0 / 13)))
    // nulls are a countable key (rank 4 here, outside topN=3; visible at topN=4)
    val withNull = graft.operators.Profile.keySkew(d, col("k"), topN = 4)
      .collect()
    assert(withNull.length === 4 && withNull(3).isNullAt(1) &&
      withNull(3).getLong(2) === 2L)
  }

  test("fuzzyJoin randomized differential: exactly the brute-force pairs admitted by the blocking contract") {
    // deterministic pseudo-random short strings over a 4-letter
    // alphabet — dense enough that near pairs are common
    def str(seed: Int): String = {
      var x = seed * 2654435761L
      val len = 3 + (math.abs(x) % 6).toInt
      (0 until len).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "abcd" (math.abs(x % 4).toInt)
      }.mkString
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val ls = (0 until 60).map(i => (i.toLong, str(i)))
    val rs = (0 until 60).map(i => (1000L + i, str(i + 17)))
    val maxDist = 2; val prefixLen = 2; val lenBand = 4
    val expect = (for {
      (li, ln) <- ls; (ri, rn) <- rs
      lb = ln.length / lenBand; rb = rn.length / lenBand
      if ln.take(prefixLen) == rn.take(prefixLen) && math.abs(lb - rb) <= 1
      if lev(ln, rn) <= maxDist
    } yield (li, ri)).toSet
    val got = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(expect.nonEmpty, "fixture must produce matches")
    assert(got === expect)
    // same fixture through the plain (unfiltered) block join: the
    // q-gram count filter must be invisible in the output
    val plain = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, qgramFilter = false)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(plain === expect)
    // FORCED routing (maxBlockPairs = 1: every non-empty block routes):
    // the default differential's blocks are far below the volume
    // thresholds, so without this the filtered machinery never runs.
    // maxDist = 2 here → the positional q-gram path, with ADAPTIVE
    // width (these 3-8 char keys clamp qEff to 2, and the short-key
    // whole-block fallback covers most of them — both sub-paths fire)
    val routed = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, maxBlockPairs = 1)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(routed === expect)
    // forced verification units on the unique-key fixture: both must
    // equal the adaptive result (round-9 verdict item 4)
    def forced(u: Boolean) = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, dedupKeys = Some(u))
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(forced(true) === expect)
    assert(forced(false) === expect)
  }

  test("fuzzyJoin randomized differential, long keys: the q-gram prefix filter path is lossless") {
    // 12-24 char strings over a TINY alphabet — every bigram is hot
    // (the low-diversity regime the filter exists for) and long enough
    // that maxDist=1 keys all take the q-gram path (pi=3 << grams)
    def str(seed: Int): String = {
      var x = seed * 2654435761L
      val len = 12 + (math.abs(x) % 13).toInt
      (0 until len).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "abc" (math.abs(x % 3).toInt)
      }.mkString
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // right side: half exact copies with a mid-string edit (dist 1),
    // half fresh strings — guarantees dense true pairs
    val ls = (0 until 50).map(i => (i.toLong, str(i)))
    val rs = (0 until 50).map { i =>
      val base = str(i)
      val s = if (i % 2 == 0)
        base.updated(base.length / 2, if (base(base.length / 2) == 'a') 'b' else 'a')
      else str(i + 1000)
      (1000L + i, s)
    }
    val maxDist = 1; val prefixLen = 2; val lenBand = 4
    val expect = (for {
      (li, ln) <- ls; (ri, rn) <- rs
      lb = ln.length / lenBand; rb = rn.length / lenBand
      if ln.take(prefixLen) == rn.take(prefixLen) && math.abs(lb - rb) <= 1
      if lev(ln, rn) <= maxDist
    } yield (li, ri)).toSet
    val got = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(expect.size >= 20, s"fixture must produce dense matches, got ${expect.size}")
    assert(got === expect)
    // FORCED routing at maxDist = 1, both routed paths: q = 0 takes
    // the deletion-neighborhood path, explicit q = 2 forces the
    // positional q-gram path on the identical routed blocks — each
    // must reproduce the brute-force set exactly (lossless)
    def runRouted(qWidth: Int) = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, maxBlockPairs = 1, q = qWidth)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(runRouted(0) === expect)   // deletion neighborhoods
    assert(runRouted(2) === expect)   // positional q-grams, fixed width
    assert(runRouted(6) === expect)   // wide grams (the adaptive pick here)
    // unit choice is output-invariant: force the distinct-key shape
    // (factor 1.0: every corpus "repeats") and the row shape (huge
    // factor) on a fixture with REPEATED keys, so the expansion joins
    // must reproduce exact row-level multiplicities
    val lDup = (ls ++ ls.map { case (i, s) => (10000L + i, s) }).toDF("id", "name")
    def run(factor: Double) = graft.operators.Joins.fuzzyJoin(
        lDup, col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, dedupKeysFactor = factor)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val viaDedup = run(1.0)
    val viaRows = run(1e18)
    assert(viaDedup === viaRows)
    // each duplicated left row carries its own id through expansion
    assert(viaDedup === expect.flatMap { case (li, ri) =>
      Seq((li, ri), (10000L + li, ri)) })
    // the explicit unit override (round-9 verdict item 4) skips the
    // stats jobs entirely but must reproduce the adaptive result on
    // this repeated-key fixture — both forced shapes
    def runForced(u: Boolean) = graft.operators.Joins.fuzzyJoin(
        lDup, col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist, prefixLen, lenBand, dedupKeys = Some(u))
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(runForced(true) === viaDedup)
    assert(runForced(false) === viaDedup)
  }

  test("fuzzyJoin global pair-volume routing: budget-triggered rerouting is output-invariant") {
    // ONE dense block: 80x80 same-prefix keys = 6400 unit pairs —
    // under the per-block default, but over the 4096 per-block floor
    // that the global budget clamps to. maxTotalPairs = 1 forces the
    // global rule to engage (tau = max(1/1, 4096) = 4096 < 6400), so
    // the block reroutes through the deletion path; the default run
    // keeps the plain join. Outputs must match exactly.
    def str(seed: Int): String = {
      var x = seed * 2654435761L
      val len = 10 + (math.abs(x) % 8).toInt
      "zz" + (0 until len).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "abc" (math.abs(x % 3).toInt)
      }.mkString
    }
    val ls = (0 until 80).map(i => (i.toLong, str(i)))
    val rs = (0 until 80).map { i =>
      val base = str(i + 40)   // half overlap the left seeds -> dense dist<=1 pairs
      val s = if (i % 2 == 0) base.updated(3, 'x') else base
      (1000L + i, s)
    }
    def run(budget: Long) = graft.operators.Joins.fuzzyJoin(
        ls.toDF("id", "name"), col("id"), col("name"),
        rs.toDF("id", "name"), col("id"), col("name"),
        maxDist = 1, prefixLen = 2, lenBand = 1000,
        maxTotalPairs = budget)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val viaPlain = run(1L << 26)
    val viaGlobal = run(1L)
    assert(viaPlain.nonEmpty, "fixture must produce matches")
    assert(viaGlobal === viaPlain)
  }

  test("fuzzyJoin deletion path edge cases: empty, 1-char, and bin-straddling keys") {
    // forced routing (maxBlockPairs = 1) + prefixLen = 0 so the empty
    // key is not blocked apart; maxDist = 1, q = 0 -> deletion path
    val l = Seq((1L, ""), (2L, "a"), (3L, "abcdefg"), (4L, " x ")).toDF("id", "name")
    val r = Seq(
      (10L, "a"),          // "" -> dist 1 (insert); "a" -> dist 0
      (20L, "abcdefgh"),   // len 8 vs 7 straddles the lenBand=4 bin boundary
      (30L, "X"),          // norm -> "x"; " x " norm -> "x" dist 0; "a" dist 1
      (40L, "")            // "" dist 0; "a" dist 1
    ).toDF("id", "name")
    val out = graft.operators.Joins.fuzzyJoin(
        l, col("id"), col("name"), r, col("id"), col("name"),
        maxDist = 1, prefixLen = 0, maxBlockPairs = 1)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 10L), (1L, 30L), (1L, 40L),  // "" ~ "a", "" ~ "x", "" ~ ""
      (2L, 10L), (2L, 30L), (2L, 40L),  // "a" ~ "a", "a" ~ "x", "a" ~ ""
      (3L, 20L),                        // insertion across the bin boundary
      (4L, 30L), (4L, 10L), (4L, 40L))) // "x" ~ "x", "x" ~ "a", "x" ~ ""
  }

  // ------------------------------------------------------------- funnel

  test("funnel: greedy-earliest step times, order constraint, ties, maxGap, partial completion") {
    val ev = Seq(
      // u1: view@10, click@5 (before view — ignored), click@20, buy@30 → full
      (1L, 10L, "view"), (1L, 5L, "click"), (1L, 20L, "click"), (1L, 30L, "buy"),
      // u2: view@10, buy@15 (no click) → 1 step
      (2L, 10L, "view"), (2L, 15L, "buy"),
      // u3: click-only → 0 steps but present
      (3L, 7L, "click"),
      // u4: same-ts tie view@10 click@10 buy@10 → step order resolves all 3
      (4L, 10L, "view"), (4L, 10L, "click"), (4L, 10L, "buy"),
      // u5: only non-step events → absent from output
      (5L, 1L, "error")
    ).toDF("u", "ts", "t")
    val out = graft.operators.Funnel.funnel(ev, col("u"), col("ts"), col("t"),
        Seq("view", "click", "buy"))
      .collect().map(r => r.getLong(0) ->
        ((1 to 3).map(i => if (r.isNullAt(i)) null else r.getLong(i)),
          r.getInt(4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === ((Seq(10L, 20L, 30L), 3)))
    assert(out(2L) === ((Seq(10L, null, null), 1)))
    assert(out(3L) === ((Seq(null, null, null), 0)))
    assert(out(4L) === ((Seq(10L, 10L, 10L), 3)))
    // maxGap: u1's click at 20 is within 10 of view@10, but buy@30 is
    // exactly 10 after click@20 → still completes; gap 5 cuts it
    val g5 = graft.operators.Funnel.funnel(ev, col("u"), col("ts"), col("t"),
        Seq("view", "click", "buy"), maxGap = Some(5L))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(g5(1L) === 1) // click@20 is 10 > 5 after view@10
    val g10 = graft.operators.Funnel.funnel(ev, col("u"), col("ts"), col("t"),
        Seq("view", "click", "buy"), maxGap = Some(10L))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(g10(1L) === 3)
    intercept[IllegalArgumentException] {
      graft.operators.Funnel.funnel(ev, col("u"), col("ts"), col("t"),
        Seq("view", "view"))
    }
  }

  test("StatefulFunnel batch mode agrees with the one-shuffle fold; streaming emits completions and idle timeouts") {
    import graft.streaming.{FunnelEvent, StatefulFunnel}
    val baseUs = 1700000000000000L
    def fe(u: Long, offUs: Long, step: Int) = FunnelEvent(u,
      new java.sql.Timestamp((baseUs + offUs) / 1000), baseUs + offUs, step)
    // u1 completes; u2 stalls after step 1; u3 has out-of-order steps
    val evs = Seq(
      fe(1, 0, 0), fe(1, 10, 1), fe(1, 20, 2),
      fe(2, 0, 0), fe(2, 5, 2),
      fe(3, 0, 1), fe(3, 10, 0), fe(3, 20, 1), fe(3, 30, 2))
    import spark.implicits._
    val batch = StatefulFunnel.track(evs.toDS(), k = 3, streaming = false)
      .collect().map(p => p.user_id -> ((p.steps_completed, p.step_ts, p.complete)))
      .toMap
    assert(batch(1L) === ((3, Seq(baseUs, baseUs + 10, baseUs + 20), true)))
    assert(batch(2L) === ((1, Seq(baseUs, -1L, -1L), false)))
    assert(batch(3L) === ((3, Seq(baseUs + 10, baseUs + 20, baseUs + 30), true)))
    // agreement with the declarative fold on the same rows
    val df = evs.map(e => (e.user_id, e.ts_us,
      Seq("a", "b", "c")(e.step))).toDF("u", "ts", "t")
    val fold = graft.operators.Funnel.funnel(df, col("u"), col("ts"), col("t"),
        Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(fold === batch.map { case (u, (d, _, _)) => u -> d })

    // streaming: completion emits immediately; the stalled user emits
    // partial progress once the watermark passes the idle horizon
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-funnel-ckpt").toFile
    val ms = MemoryStream[FunnelEvent]
    val q = StatefulFunnel.track(
        ms.toDS().withWatermark("ts2", "2 seconds").as[FunnelEvent],
        k = 3, idleUs = 1000000L, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_funnel_stream")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    ms.addData(fe(1, 0, 0), fe(1, 10, 1), fe(2, 0, 0))
    q.processAllAvailable()
    ms.addData(fe(1, 20, 2)) // u1 completes here
    q.processAllAvailable()
    // sentinel far in the future: watermark passes u2's idle horizon
    ms.addData(fe(99, 100000000L, 0))
    q.processAllAvailable()
    ms.addData(fe(98, 200000000L, 0))
    q.processAllAvailable()
    val rows = spark.table("graft_funnel_stream").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(3)))).toMap
    q.stop()
    assert(rows(1L) === ((3, true)))
    assert(rows(2L) === ((1, false))) // idle-timeout partial emission
  }

  // ------------------------------------------------------- k-anonymity

  test("suppressRare nulls quasi columns of combos rarer than k; nulls form their own combo") {
    val d = Seq(
      (1L, Some("en"), "web"), (2L, Some("en"), "web"), (3L, Some("en"), "web"),
      (4L, Some("fr"), "web"),                    // count 1 → suppressed
      (5L, None, "web"), (6L, None, "web"), (7L, None, "web") // null combo, count 3
    ).toDF("id", "lang", "source")
    val out = Privacy.suppressRare(d, Seq(col("lang"), col("source")), k = 3)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(out.size === 7)
    assert(out(1L) === ((Some("en"), Some("web"), false)))
    assert(out(4L) === ((None, None, true)))
    assert(out(5L) === ((None, Some("web"), false))) // null lang kept: combo count 3
  }

  test("suppressRare rejects missing columns, duplicate names, flag collisions, bad k") {
    val d = Seq((1L, "a")).toDF("id", "q")
    intercept[IllegalArgumentException] {
      Privacy.suppressRare(d, Seq(col("q")), k = 0)
    }
    intercept[IllegalArgumentException] {
      Privacy.suppressRare(d, Seq((col("q") === "a").as("derived")), k = 2)
    }
    intercept[IllegalArgumentException] {
      Privacy.suppressRare(d.withColumn("suppressed", lit(true)), Seq(col("q")), k = 2)
    }
  }
}
