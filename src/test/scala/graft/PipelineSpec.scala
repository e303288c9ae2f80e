package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.streaming.{EventStreams, SessionEvent, StatefulSessions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-data-pipeline operator semantics: dedup family cross-checks
  * (MinHash/SimHash candidates vs exact Jaccard), ANN recall vs brute
  * force, text heuristics, multimodal batch plumbing, and the
  * streaming twins running as a real Structured Streaming query.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("exact dedup keeps min id per key") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "t")
    val out = Dedup.exact(d, col("id"), Seq(col("t")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("a" -> (1L, 2L), "b" -> (3L, 1L)))
  }

  test("minHashPairsWithSignatures exposes the persisted handle for deterministic release") {
    val (pairs, sigs) = Dedup.minHashPairsWithSignatures(docs,
      col("doc_id"), col("text"), threshold = 0.5)
    val viaPlain = Dedup.minHashPairs(docs, col("doc_id"), col("text"),
      threshold = 0.5).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHandle = pairs.select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHandle === viaPlain)
    // the handle IS the cached frame: callers can unpersist it once the
    // pairs are materialized instead of waiting for the ContextCleaner
    assert(sigs.storageLevel.useMemory)
    sigs.unpersist(blocking = true)
    assert(!sigs.storageLevel.useMemory)
    // cacheSignatures=false returns an unpersisted frame
    val (_, uncached) = Dedup.minHashPairsWithSignatures(docs,
      col("doc_id"), col("text"), threshold = 0.5, cacheSignatures = false)
    assert(!uncached.storageLevel.useMemory)
  }

  test("embeddingPairs with dim supplied skips the probe and matches the probed output") {
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    def pairsOf(d: Option[Int]): Set[(Long, Long)] =
      Dedup.embeddingPairs(embs, col("vec_id"), col("embedding"),
        threshold = 0.4, dim = d)
        .select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(Some(dim)) === pairsOf(None))
    intercept[IllegalArgumentException] {
      Dedup.embeddingPairs(embs, col("vec_id"), col("embedding"),
        threshold = 0.4, dim = Some(0))
    }
  }

  test("minhash candidates recover the exact-jaccard near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 2, threshold = 0.5).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashPairs(docs, col("doc_id"), col("text"),
      threshold = 0.5).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & mh).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall over ${exact.size} pairs")
  }

  test("projection-form minhash signatures equal the groupBy form") {
    // the zero-shuffle per-row signature must reproduce the explode +
    // distinct + k-min aggregation exactly (min is duplicate-
    // insensitive), for both the production and the portable hash
    for (h <- Seq[Column => Column](xxhash64(_),
        graft.functions.PortableHash.polyHash(_))) {
      val viaAgg = Dedup.minHashSignatures(
          Dedup.shingles(docs, col("doc_id"), col("text"), 2),
          k = 64, seed = 42L, baseHash = h)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val viaProj = Dedup.withMinHashSignature(docs, col("text"),
          k = 64, seed = 42L, baseHash = h)
        .select(col("doc_id"), col("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(viaProj === viaAgg)
    }
  }

  test("minHashKeep claims buckets by ord and suppresses later near-dups") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different words in this one")).toDF("id", "t")
    val out = Dedup.minHashKeep(d, col("id"), col("t"), ord = col("id"),
      bands = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((0L, true)))   // first claimant keeps all bands
    assert(out(2L) === ((16L, false))) // identical doc loses every band
    assert(out(3L) === ((0L, true)))   // unrelated doc kept
    // on corpus data: every suppressed doc must share >= 1 band bucket
    // with an EARLIER doc — i.e. appear as idb in the candidate pairs
    // (threshold 0 keeps every banding collision)
    val keep = Dedup.minHashKeep(docs, col("doc_id"), col("text"),
      ord = col("doc_id"))
    val suppressed = keep.filter(!col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val laterOfPair = Dedup.minHashPairs(docs, col("doc_id"), col("text"),
      threshold = 0.0)
      .select("idb").collect().map(_.getLong(0)).toSet
    assert(suppressed.nonEmpty)
    assert(suppressed.subsetOf(laterOfPair))
  }

  test("streaming minhash keep matches the batch twin across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mhk-ckpt").toFile
    val base = 1000000000000000L // µs
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = ms.toDS().toDF("doc_id", "text", "ts")
    val q = Dedup.minHashKeepStream(src, col("doc_id"), col("text"),
        eventTime = "ts", horizon = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mhk")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    def ts(off: Long) = new java.sql.Timestamp(base / 1000 + off)
    // batch 1: two distinct docs
    ms.addData((1L, "alpha beta gamma delta epsilon zeta", ts(0)),
      (2L, "one two three four five six seven", ts(10)))
    q.processAllAvailable()
    // batch 2: near-dup of doc 1 (suppressed) + a fresh doc
    ms.addData((3L, "alpha beta gamma delta epsilon zeta", ts(1000)),
      (4L, "fresh unrelated content entirely here now", ts(1010)))
    q.processAllAvailable()
    // advance the watermark far past every window so verdicts emit
    ms.addData((99L, "watermark mover sentinel words go here", ts(60000)))
    q.processAllAvailable()
    val got = spark.table("graft_mhk").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got === Set(1L, 2L, 4L))
    // batch twin on the same data agrees (sentinel included)
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", ts(0)),
      (2L, "one two three four five six seven", ts(10)),
      (3L, "alpha beta gamma delta epsilon zeta", ts(1000)),
      (4L, "fresh unrelated content entirely here now", ts(1010)),
      (99L, "watermark mover sentinel words go here", ts(60000)))
      .toDF("doc_id", "text", "ts")
    val viaBatch = Dedup.minHashKeepStream(batch, col("doc_id"), col("text"),
      eventTime = "ts", horizon = "10 seconds")
      .collect().map(_.getLong(0)).toSet
    assert(viaBatch === Set(1L, 2L, 4L, 99L))
  }

  test("prenormed cosine scoring is bit-identical to the fused cosine expression") {
    val pairs = embs.select(col("vec_id").as("ida"), col("embedding").as("va"))
      .join(embs.select(col("vec_id").as("idb"), col("embedding").as("vb")),
        col("ida") < col("idb") && col("ida") < 40 && col("idb") < 40)
    val both = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("c1"),
      Similarity.cosineWithNorms(col("va"), col("vb"),
        Similarity.norm(col("va")), Similarity.norm(col("vb"))).as("c2"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // null-surface parity: zero norm and length mismatch null out on
    // both formulations
    val edges = Seq(
      (Array(0f, 0f), Array(1f, 2f)),
      (Array(1f, 2f), Array(1f, 2f, 3f))).toDF("x", "y")
    edges.select(Similarity.cosine(col("x"), col("y")).as("c1"),
      Similarity.cosineWithNorms(col("x"), col("y"),
        Similarity.norm(col("x")), Similarity.norm(col("y"))).as("c2"))
      .collect()
      .foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
  }

  test("simhash of identical texts is identical; near-dups are close") {
    val d = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "completely different words here"))
      .toDF("id", "t")
    val h = Dedup.simHash(d, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 10)
  }

  test("lshTopK with dim supplied skips the probe and matches the probed output") {
    val queries = embs.filter(col("vec_id") < 10)
    val d = embs.select(size(col("embedding"))).head().getInt(0)
    def hits(dim: Option[Int]): Set[(Long, Long)] =
      Similarity.lshTopK(embs, queries, col("vec_id"), col("embedding"),
        3, planes = 4, dim = dim)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits(Some(d)) === hits(None))
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(embs, queries, col("vec_id"), col("embedding"),
        3, planes = 4, dim = Some(0))
    }
  }

  test("lsh ANN hits are a subset of brute-force ranking universe and recall is sane") {
    val queries = embs.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(embs, queries, col("vec_id"),
      col("embedding"), 3).select("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embs, queries, col("vec_id"),
      col("embedding"), 3, planes = 3)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // random embeddings cluster weakly, so single-probe recall is
    // modest by nature; require overlap, not high recall
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(lsh.nonEmpty && recall > 0.0, s"lsh recall $recall")
  }

  // 4 well-separated cluster directions in 16 dims, 25 points each —
  // shared by the IVF and multi-probe LSH recall tests
  def clustered: DataFrame = {
    val rnd = new scala.util.Random(7)
    val dirs = Seq.tabulate(4)(c =>
      Array.tabulate(16)(j => if (j % 4 == c) 5.0f else 0.0f))
    val data = for (c <- 0 until 4; i <- 0 until 25) yield (
      (c * 25 + i).toLong,
      dirs(c).map(v => v + (rnd.nextGaussian() * 0.1).toFloat))
    data.toDF("vec_id", "embedding")
  }

  test("multi-probe lsh probes distinct single-bit-flip buckets, own bucket first") {
    val hp = Similarity.hyperplanes(5, 64, 42L)
    val rows = embs.limit(50)
      .select(Similarity.lshBucket(col("embedding"), hp).as("b"),
        Similarity.lshProbes(col("embedding"), hp, 3).as("ps"))
      .collect()
    rows.foreach { r =>
      val b = r.getLong(0)
      val ps = r.getSeq[Long](1)
      assert(ps.length === 3 && ps.head === b && ps.distinct.length === 3)
      ps.tail.foreach(p =>
        assert(java.lang.Long.bitCount(p ^ b) === 1, s"probe $p vs base $b"))
    }
  }

  test("multi-probe lsh recovers recall on separated clusters") {
    val df = clustered
    val queries = df.filter(col("vec_id") % 25 === 0)
    def hits(nProbe: Int): Set[(Long, Long)] =
      Similarity.lshTopK(df, queries, col("vec_id"), col("embedding"), 5,
          planes = 6, nProbe = nProbe)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(df, queries, col("vec_id"),
        col("embedding"), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = (bf & hits(1)).size.toDouble / bf.size
    val multi = (bf & hits(4)).size.toDouble / bf.size
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi >= 0.9, s"multi-probe recall $multi over ${bf.size} pairs")
  }

  test("ivf ANN reaches high recall on separated clusters") {
    val df = clustered
    val queries = df.filter(col("vec_id") % 25 === 0)
    val bf = Similarity.bruteForceTopK(df, queries, col("vec_id"),
        col("embedding"), 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(df, queries, col("vec_id"), col("embedding"), 5,
        nCentroids = 8, nProbe = 2, iters = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // neighbors live in the query's own cluster, which IVF probes first
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"ivf recall $recall over ${bf.size} pairs")
  }

  test("native NearestCentroid matches the declarative k-way argmax (incl. ties) in codegen and interpreted modes") {
    import spark.implicits._
    // deterministic pseudo-random vectors + centroids, plus exact-tie
    // rows (a vector EQUAL to a centroid that appears twice under two
    // cids — the tie must go to the larger cid)
    def vec(seed: Int, dim: Int): Seq[Float] =
      (0 until dim).map(j => (((seed * 31 + j) * 2654435761L % 1000) / 500.0f - 1f))
    val dim = 16
    val cents: Seq[(Int, Seq[Double])] =
      (0 until 40).map(i => i -> vec(i + 100, dim).map(_.toDouble)) ++
        Seq(77 -> vec(105, dim).map(_.toDouble)) // duplicate of cid 5 → tie
    val rows = (0 until 300).map(i => (i.toLong, vec(i, dim))) :+
      (999L, vec(105, dim)) // exactly centroid 5/77 → tie → cid 77
    val df = rows.toDF("id", "v")
    val native = df.select(col("id"),
        org.apache.spark.sql.graft.VectorExpressions
          .nearestCentroid(col("v"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val declarative = df.select(col("id"),
        Similarity.assignCentroid(col("v"), cents, exact = false).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native === declarative)
    assert(native(999L) === 77)
    // interpreted mode agrees (the eval path, not just doGenCode)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(col("id"),
          org.apache.spark.sql.graft.VectorExpressions
            .nearestCentroid(col("v"), cents).as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(interp === native)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    // null vector and zero-norm vector yield null
    val edge = Seq((1L, Some(Seq.fill(dim)(0.0f))), (2L, None))
      .toDF("id", "v")
    val e = edge.select(org.apache.spark.sql.graft.VectorExpressions
      .nearestCentroid(col("v"), cents)).collect()
    assert(e.forall(_.isNullAt(0)))
  }

  test("ivfCentroids enforces the driver-side centroid bound") {
    // the centroid table is collected to the driver and embedded as
    // literal expressions — the documented "≤ a few hundred" contract
    // is a require, so it cannot be silently violated at scale
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfCentroids(clustered, col("vec_id"), col("embedding"),
        nCentroids = Similarity.MaxCentroids + 1)
    }
    assert(e.getMessage.contains("nCentroids"))
    intercept[IllegalArgumentException] {
      Similarity.ivfCentroids(clustered, col("vec_id"), col("embedding"),
        nCentroids = 0)
    }
  }

  test("embeddingPairs default LSH path is a bucket-consistent subset of all-pairs") {
    val df = clustered
    val all = Dedup.embeddingPairs(df, col("vec_id"), col("embedding"),
        threshold = 0.8, planes = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default (bucketed) path: scores are exact cosine, so its output
    // is always a subset of the all-pairs result at the same threshold
    val lsh = Dedup.embeddingPairs(df, col("vec_id"), col("embedding"),
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.nonEmpty)
    assert(lsh.subsetOf(all), s"bucketed pairs not a subset: ${lsh -- all}")
    // clustered fixture: near-dups are same-cluster, so 16-plane LSH
    // keeps most of them
    assert(lsh.size.toDouble / all.size >= 0.5,
      s"bucketed recall ${lsh.size.toDouble / all.size} over ${all.size}")
    // multi-table: table 0 uses the same seed, so candidates are a
    // superset of single-table; still exact-scored, so still ⊆ all
    val lsh3 = Dedup.embeddingPairs(df, col("vec_id"), col("embedding"),
        threshold = 0.8, tables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(lsh3), "multi-table lost single-table candidates")
    assert(lsh3.subsetOf(all))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val d = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 2f))).toDF("a", "b", "c")
    val r = d.select(Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c"))).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("text functions: tokens, stopwords, langid, fingerprint") {
    val d = Seq("the cat sat of the mat").toDF("t")
    val r = d.select(
      TextFunctions.tokenCountWs(col("t")),
      TextFunctions.stopwordRatio(col("t")),
      TextFunctions.langId(col("t")),
      TextFunctions.fingerprint(col("t"))).head
    assert(r.getInt(0) === 6)
    assert(math.abs(r.getDouble(1) - 3.0 / 6.0) < 1e-12)
    assert(r.getString(2) === "en")
    assert(r.getLong(3) >= 0 && r.getLong(3) < 1000000007L)
    // fingerprint is a pure function of the text
    val r2 = d.select(TextFunctions.fingerprint(col("t"))).head
    assert(r2.getLong(0) === r.getLong(3))
  }

  test("repetition filters: dup-segment fractions, bullets, ellipsis") {
    val d = Seq(
      (1L, "a\nb\na\nb\na"), // 5 segments, 2 distinct
      (2L, "xx\nyy"), // no repetition
      (3L, "- item\n- item2\nplain\nmore...")
    ).toDF("id", "text")
    val out = d.select(col("id"),
      TextFunctions.duplicateSegmentFraction(col("text")).as("f"),
      TextFunctions.duplicateSegmentCharFraction(col("text")).as("cf"),
      TextFunctions.bulletSegmentFraction(col("text")).as("bf"),
      TextFunctions.ellipsisSegmentFraction(col("text")).as("ef"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // dup occurrences beyond first: a ×2, b ×1 → 3 of 5 segments,
    // 3 of 5 chars
    assert(out(1L) === ((3.0 / 5, 3.0 / 5, 0.0, 0.0)))
    assert(out(2L) === ((0.0, 0.0, 0.0, 0.0)))
    assert(out(3L)._3 === 2.0 / 4) // two bullet lines of four
    assert(out(3L)._4 === 1.0 / 4) // one ellipsis line of four
  }

  test("topNgramStats: count argmax, lexicographic tie-break, short-doc guard") {
    val d = Seq(
      (1L, "x y x y z"), // "x y" twice beats the singletons
      (2L, "a a b b"), // all bigrams once → tie → greatest gram wins
      (3L, "solo") // shorter than n → ("", 0, 0.0)
    ).toDF("id", "text")
    val out = d.select(col("id"),
      TextFunctions.topNgramStats(col("text"), 2).as("s"))
      .select(col("id"), col("s.gram"), col("s.cnt"), col("s.char_frac"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === (("x y", 2L, 2.0 * 3 / 9)))
    assert(out(2L) === (("b b", 1L, 3.0 / 7)))
    assert(out(3L) === (("", 0L, 0.0)))
  }

  test("dedupSegments keeps corpus-wide first occurrences and reassembles") {
    val d = Seq(
      (1L, "p1\np2\np3"),
      (2L, "p2\np4"), // p2 claimed by doc 1 → only p4 survives
      (3L, "p1\np2"), // everything claimed → doc vanishes
      (4L, "z1\nz1") // within-doc dup → first occurrence only
    ).toDF("id", "text")
    val out = Dedup.dedupSegments(d, col("id"), col("text"),
        ord = col("id"), sep = "\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) === (("p1\np2\np3", 3L)))
    assert(out(2L) === (("p4", 1L)))
    assert(!out.contains(3L))
    assert(out(4L) === (("z1", 1L)))
  }

  test("contamination counts distinct shared n-grams; broadcast off matches") {
    val train = Seq((1L, "a b c d e f"), (2L, "x y z w q r")).toDF("id", "text")
    val ev = Seq((100L, "c d e f g h")).toDF("id", "text")
    def run(bc: Boolean): Map[Long, Long] =
      Dedup.contamination(train, col("id"), col("text"), ev, col("text"),
          n = 4, broadcastEval = bc)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only "c d e f" is shared, only by doc 1
    assert(run(bc = true) === Map(1L -> 1L))
    assert(run(bc = false) === Map(1L -> 1L))
  }

  test("bloom contamination flags: never false-negative, near-exact at tight fpp, stream twin") {
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val ev = docs.filter(col("doc_id") % 20 === 0)
    val bloom = Dedup.evalGramBloom(ev, col("text"), n = 5, fpp = 1e-6)
    val exact = Dedup.contamination(train, col("doc_id"), col("text"),
        ev, col("text"), n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = Dedup.contaminationFlags(train, col("doc_id"),
        col("text"), bloom, n = 5)
      .filter(col("maybe_contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // one-sided error: every truly contaminated doc must be flagged
    assert(exact.subsetOf(flagged))
    // at fpp 1e-6 on ~100-gram docs, doc-level FP is ~1e-4 — on 475
    // docs, essentially none
    val nTrain = train.count()
    assert(flagged.size <= exact.size + math.max(2L, nTrain / 50).toInt,
      s"${flagged.size} flagged vs ${exact.size} exact")
    // expectedItems supplied: no count probe, same sketch behavior
    val bloom2 = Dedup.evalGramBloom(ev, col("text"), n = 5, fpp = 1e-6,
      expectedItems = Some(5000L))
    val flagged2 = Dedup.contaminationFlags(train, col("doc_id"),
        col("text"), bloom2, n = 5)
      .filter(col("maybe_contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged2))
    // the flag is a pure projection, so it runs identically on a stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.contaminationFlags(ms.toDS().toDF("doc_id", "text"),
        col("doc_id"), col("text"), bloom, n = 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_bloomflags").start()
    val sample = train.limit(40).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    ms.addData(sample.toSeq)
    q.processAllAvailable()
    val viaStream = spark.table("graft_bloomflags")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    val ids = sample.map(_._1).toSet
    assert(viaStream === flagged.filter(ids).map(_ -> true).toMap ++
      ids.diff(flagged).map(_ -> false).toMap)
  }

  test("two bloom probes over non-nullable arrays compile under CODEGEN_ONLY") {
    import org.apache.spark.sql.graft.BloomExpressions.bloomAnyContain
    // regression: the probe's loop flag must be ctx.freshName'd — with
    // non-nullable children nullSafeCodeGen emits the block unbraced
    // into the shared consume scope, so two probes in ONE projection
    // would declare a duplicate local and fail Janino compilation,
    // silently falling back to interpreted eval. CODEGEN_ONLY +
    // fallback=false turns that silent cliff into a test failure.
    val bloomA = Seq("a").toDF("v").stat.bloomFilter("v", 10L, 1e-9)
    val bloomB = Seq("q").toDF("v").stat.bloomFilter("v", 10L, 1e-9)
    val prevFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = spark.range(3).select(
          bloomAnyContain(array(lit("a"), col("id").cast("string")), bloomA)
            .as("fa"),
          bloomAnyContain(array(col("id").cast("string")), bloomB).as("fb"))
        .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
      assert(got.forall { case (fa, fb) => fa && !fb })
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.codegen.factoryMode", prevFm)
      restore("spark.sql.codegen.fallback", prevFb)
    }
  }

  test("multimodal decodeBatch: schema, determinism, batch shape") {
    val bin = Multimodal.attachBinary(docs.limit(10), col("doc_id"), col("text"))
    assert(bin.columns.toSeq === Seq("id", "bytes", "n_bytes", "mime"))
    val out = Multimodal.decodeBatch(bin)
    val rows = out.collect()
    assert(rows.length === 10)
    assert(rows.forall(d => d.meta.width >= 64 && d.meta.width < 64 + 1024))
    assert(rows.forall(_.features.length === 4))
    // deterministic across runs
    val again = Multimodal.decodeBatch(bin).collect()
    assert(rows.map(_.meta).toSeq === again.map(_.meta).toSeq)
    // expression twin agrees with the batched codec
    val exprW = bin.select(col("id"),
      Multimodal.stubWidth(decode(col("bytes"), "UTF-8")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(d => exprW(d.id) === d.meta.width.toLong))
  }

  test("charNgramArray: sliding char windows; sep=\"\" reaches the dedup family for CJK") {
    import graft.functions.TextFunctions
    val d = Seq((1L, "abcde"), (2L, "ab"), (3L, "你好世界你好"))
      .toDF("doc_id", "text")
    val grams = d.select(col("doc_id"),
        TextFunctions.charNgramArray(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(grams(1L) === Seq("abc", "bcd", "cde"))
    assert(grams(2L) === Seq.empty) // shorter than n
    // multi-byte characters count as single positions
    assert(grams(3L) === Seq("你好世", "好世界", "世界你", "界你好"))
    // ngramArray(sep = "") routes to char grams — the whole dedup
    // family's CJK switch
    val viaSep = d.select(TextFunctions.ngramArray(col("text"), 3, "").as("g"))
      .collect().map(_.getSeq[String](0))
    assert(viaSep.toSeq === Seq(grams(1L), grams(2L), grams(3L)))
    // char-gram jaccard finds CJK near-dups that word-split cannot see
    val cjk = Seq((1L, "机器学习模型训练数据"), (2L, "机器学习模型训练样本"),
      (3L, "完全无关的另一段文字")).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(cjk, col("doc_id"),
        col("text"), n = 3, threshold = 0.4, maxDocFreq = scala.None,
        sep = "")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
    // word-split shingles see one "token" per doc and find nothing
    val wordPairs = graft.operators.Dedup.ngramJaccardPairs(cjk,
        col("doc_id"), col("text"), n = 3, threshold = 0.4,
        maxDocFreq = scala.None)
      .collect()
    assert(wordPairs.isEmpty)
    // minHashKeep accepts the same switch (runs, keeps a valid subset)
    val kept = graft.operators.Dedup.minHashKeep(cjk, col("doc_id"),
        col("text"), ord = col("doc_id"), n = 3, sep = "")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(3L) && kept.subsetOf(Set(1L, 2L, 3L)))
  }

  test("profile: one-pass per-column stats; non-orderable columns; null handling") {
    import graft.operators.Profile
    val d = Seq(
      (1L, Some("a"), Seq(1, 2)),
      (2L, None, Seq(3)),
      (3L, Some("b"), Seq.empty[Int]),
      (4L, Some("a"), Seq(4))
    ).toDF("id", "s", "arr")
    val out = Profile.profile(d, exactDistinct = true)
      .collect().map(r => r.getString(1) -> r).toMap
    assert(out("id").getLong(2) === 4L)     // n_nonnull
    assert(out("id").getLong(3) === 0L)     // n_null
    assert(out("id").getString(6) === "1" && out("id").getString(7) === "4")
    assert(out("s").getLong(2) === 3L && out("s").getLong(3) === 1L)
    assert(out("s").getDouble(4) === 0.25)  // null_frac
    assert(out("s").getLong(5) === 2L)      // distinct non-null
    // arrays: counted but no min/max
    assert(out("arr").getLong(2) === 4L)
    assert(out("arr").isNullAt(6) && out("arr").isNullAt(7))
    // one aggregation pass: no union of scans in the plan
    val plan = Profile.profile(d, exactDistinct = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"))
    // unknown column fails loudly
    intercept[IllegalArgumentException] { Profile.profile(d, Seq("nope")) }
  }

  test("bm25TopK matches a sequential scala oracle; stats reuse; rank ties break by id") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, "spark join spark window"),
      (2L, "merge sort batch"),
      (3L, "spark spark spark spark spark"),
      (4L, "window window merge spark"),
      (5L, "the quick brown fox"),
      (6L, "spark join spark window") // exact dup of 1: tie on score
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "window")
    val (k1, b) = (1.25, 0.75)
    // sequential oracle: same rational idf and saturation formula
    val docsLocal = corpus.collect().map(r => (r.getLong(0),
      r.getString(1).split(" ").toSeq))
    val n = docsLocal.length.toDouble
    val avgdl = docsLocal.map(_._2.size).sum.toDouble / n
    def score(toks: Seq[String]): Double = terms.map { t =>
      val df = docsLocal.count(_._2.contains(t)).toDouble
      val idf = (n - df + 0.5) / (df + 0.5)
      val tf = toks.count(_ == t).toDouble
      val dl = toks.size.toDouble
      idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    }.sum
    val expected = docsLocal.map { case (id, toks) => (id, score(toks)) }
      .filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(4)
      .zipWithIndex.map { case ((id, s), i) => (id, s, (i + 1).toLong) }.toSeq
    val got = Similarity.bm25TopK(corpus, col("doc_id"), col("text"),
        terms, k = 4, k1 = k1, b = b)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === expected)
    // docs 1 and 6 tie exactly: id breaks the tie deterministically
    assert(got.map(_._1).indexOf(1L) < got.map(_._1).indexOf(6L) ||
      !got.map(_._1).contains(6L))
    // precomputed stats skip the aggregation and give identical output
    val st = Similarity.bm25Stats(corpus, col("text"), terms)
    val got2 = Similarity.bm25TopK(corpus, col("doc_id"), col("text"),
        terms, k = 4, k1 = k1, b = b, stats = Some(st))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got2 === got)
    // doc 5 contains no query term and never appears at any k
    assert(!Similarity.bm25TopK(corpus, col("doc_id"), col("text"), terms,
        k = 10, k1 = k1, b = b)
      .collect().map(_.getLong(0)).contains(5L))
  }

  test("chunkByTokens: window boundaries, overlap, truncated tail, short docs") {
    import graft.functions.TextFunctions
    def toks(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, toks(10)),  // n <= size: one chunk
      (2L, toks(12)),  // one full + truncated tail (step 7: 1+ceil(2/7)=2)
      (3L, toks(17)),  // exact cover: 10 then 7+overlap tail
      (4L, "solo"),    // single token
      (5L, toks(25))   // 1 + ceil(15/7) = 4 chunks
    ).toDF("doc_id", "text")
    val out = TextFunctions.chunkByTokens(d, col("doc_id"), col("text"),
        size = 10, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(out(1L).map(_._4).toSeq === Seq(10))
    // doc 2: chunk 0 = tokens 1-10, chunk 1 = tokens 8-12 (5 tokens)
    assert(out(2L).map(_._4).toSeq === Seq(10, 5))
    assert(out(2L)(1)._3 === "t8 t9 t10 t11 t12")
    // doc 3: tail chunk starts at token 8, covers 8-17 fully
    assert(out(3L).map(_._4).toSeq === Seq(10, 10))
    assert(out(4L).map(_._3).toSeq === Seq("solo"))
    // doc 5: starts 0,7,14,21 — last truncated to 4 tokens
    assert(out(5L).map(_._4).toSeq === Seq(10, 10, 10, 4))
    // every consecutive pair overlaps by exactly `overlap` tokens
    val c5 = out(5L).map(_._3.split(" ").toSeq)
    for (i <- 0 until 2)
      assert(c5(i).takeRight(3) === c5(i + 1).take(3))
    // invalid parameters fail loudly
    intercept[IllegalArgumentException] {
      TextFunctions.chunkByTokens(d, col("doc_id"), col("text"), 10, 10)
    }
  }

  test("funnelReport: cumulative-AND survivors in one pass; null predicate = fail") {
    import graft.functions.TextFunctions
    val d = Seq(
      (1L, Some(true), true),  // passes both
      (2L, Some(true), false), // fails stage 2
      (3L, Some(false), true), // fails stage 1 (stage 2 never counts it)
      (4L, None, true)         // null stage-1 predicate = fail, not a leak
    ).toDF("id", "a", "b")
    val out = TextFunctions.funnelReport(d, Seq(
        "a" -> col("a"), "b" -> col("b")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq((0, "a", 2L, 0.5), (1, "b", 1L, 0.25)))
    // one job, one aggregation: the plan has no join/union of scans
    val plan = TextFunctions.funnelReport(d, Seq("a" -> col("a"),
      "b" -> col("b"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Union") && !plan.contains("Join"))
  }

  test("chunking and script signals are projections: stream twin matches batch") {
    import graft.functions.TextFunctions
    // both ops are row-local (transform/posexplode, regexp counts) —
    // no aggregation, no watermark needed; a streaming run must emit
    // byte-identical rows to the batch run on the same input
    val sample = docs.limit(30).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val streamIn = ms.toDS().toDF("doc_id", "text")
    val q = TextFunctions.chunkByTokens(streamIn, col("doc_id"), col("text"),
        size = 25, overlap = 5)
      .withColumn("lang", TextFunctions.langIdScript(col("chunk_text")))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_chunks").start()
    ms.addData(sample.toSeq)
    q.processAllAvailable()
    val viaStream = spark.table("graft_chunks")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    q.stop()
    val batchIn = sample.toSeq.toDF("doc_id", "text")
    val viaBatch = TextFunctions.chunkByTokens(batchIn, col("doc_id"),
        col("text"), size = 25, overlap = 5)
      .withColumn("lang", TextFunctions.langIdScript(col("chunk_text")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(viaStream === viaBatch)
    assert(viaStream.nonEmpty)
  }

  test("domainStats: per-domain counts/shares over the whole corpus; topN ties break by name") {
    import graft.functions.TextFunctions
    val d = Seq(
      (1L, "a b see https://x.org/p and https://y.org/q"),  // 6 ws tokens
      (2L, "c https://x.org/r again"),                      // 3
      (3L, "no urls here at all"),                          // 5
      (4L, "one https://z.org end")                         // 3
    ).toDF("id", "text")
    val out = TextFunctions.domainStats(d, col("text"),
      TextFunctions.tokenCountWs(col("text")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // denominators include the domain-less doc 3 (4 docs, 17 tokens)
    assert(out("x.org") === ((2L, 9L, 2.0 / 4.0, 9.0 / 17.0)))
    assert(out("y.org") === ((1L, 6L, 1.0 / 4.0, 6.0 / 17.0)))
    assert(out("z.org") === ((1L, 3L, 1.0 / 4.0, 3.0 / 17.0)))
    assert(!out.contains("")) // no row for the domain-less doc
    // topN: x.org leads by docs; the y/z tie breaks lexicographically
    val top = TextFunctions.domainStats(d, col("text"),
      TextFunctions.tokenCountWs(col("text")), topN = Some(2))
      .collect().map(_.getString(0)).toSeq
    assert(top === Seq("x.org", "y.org"))
  }

  test("HeaderCodec parses real PNG/JPEG/GIF headers byte-for-byte") {
    import Multimodal.HeaderCodec.sniff
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG, 640x480, color type 2 (truecolor -> 3 channels)
    val png = b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 0x0d, 0x49, 0x48, 0x44, 0x52,
      0, 0, 0x02, 0x80, 0, 0, 0x01, 0xe0, 8, 2)
    assert(sniff(png) === Some(("png", 640, 480, 3)))
    // JPEG with an APP0 (JFIF) segment BEFORE the SOF0 — the marker
    // scan must skip it by its 16-bit BE length; 320x240, 3 components
    val jpeg = b(0xff, 0xd8,
      0xff, 0xe0, 0, 16, 0x4a, 0x46, 0x49, 0x46, 0, 1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xc0, 0, 11, 8, 0x00, 0xf0, 0x01, 0x40, 3)
    assert(sniff(jpeg) === Some(("jpeg", 320, 240, 3)))
    // progressive JPEG uses SOF2 — still a frame header
    val jpegProg = b(0xff, 0xd8, 0xff, 0xc2, 0, 11, 8, 0, 10, 0, 20, 1)
    assert(sniff(jpegProg) === Some(("jpeg", 20, 10, 1)))
    // GIF89a 3x5: little-endian screen descriptor
    val gif = "GIF89a".getBytes("US-ASCII") ++ b(3, 0, 5, 0)
    assert(sniff(gif) === Some(("gif", 3, 5, 3)))
    // garbage, truncation, and null are invalid, never a throw
    assert(sniff("not an image".getBytes) === None)
    assert(sniff(png.take(20)) === None)
    assert(sniff(jpeg.take(21)) === None) // cut mid-SOF
    assert(sniff(null) === None)
    assert(sniff(Array.empty[Byte]) === None)
    // batched path: valid flag separates parsed rows from garbage
    val df = Seq((1L, png), (2L, jpeg), (3L, gif),
      (4L, "junk".getBytes)).toDF("id", "bytes")
    val out = Multimodal.decodeHeaders(df, col("id"), col("bytes"))
      .collect().map(d => d.id -> d).toMap
    assert(out(1L).format === "png" && out(1L).width === 640 && out(1L).valid)
    assert(out(2L).height === 240 && out(2L).channels === 3)
    assert(out(3L).format === "gif" && out(3L).width === 3)
    assert(!out(4L).valid && out(4L).format === "unknown")
  }

  test("frame sampling offsets are evenly spaced") {
    val d = Seq(100).toDF("n")
    val out = d.select(Multimodal.frameSampleOffsets(col("n"), 4)).head.getSeq[Int](0)
    assert(out === Seq(0, 25, 50, 75))
  }

  test("tumbling/sessions run as a real structured streaming query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    val out = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toFile
    // stage the batch events as a file stream source
    val ev = EventStreams.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    ev.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val stream = spark.readStream.schema(ev.schema).parquet(dir.getAbsolutePath)
    val agg = EventStreams.tumbling(stream, "1 day")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("graft_tumbling")
      .option("checkpointLocation", out.getAbsolutePath)
      .start()
    q.processAllAvailable()
    val streamed = spark.table("graft_tumbling")
      .select("bucket", "event_type", "n", "sum_value")
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    q.stop()
    val batch = EventStreams.tumbling(ev, "1 day")
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stateful sessionize (batch) matches a sequential scala oracle") {
    val gap = 43200000000L // 12h in µs
    val ev = StatefulSessions.fromEvents(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val got = StatefulSessions.sessionize(ev, gap, streaming = false)
      .collect()
      .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n)).toSet
    // sequential fold oracle over the collected events
    val oracle = ev.collect().groupBy(_.user_id).flatMap { case (uid, es) =>
      val ts = es.map(_.ts_us).sorted
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var (start, last, n) = (ts.head, ts.head, 1L)
      for (t <- ts.tail) {
        if (t - last > gap) { sessions += ((start, last, n)); start = t; n = 0L }
        last = t; n += 1
      }
      sessions += ((start, last, n))
      sessions.map(s => (uid, s._1, s._2, s._3))
    }.toSet
    assert(got === oracle)
    assert(got.nonEmpty)
  }

  test("stateful sessionize emits closed sessions on a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-state-ckpt").toFile
    val ms = MemoryStream[SessionEvent]
    val q = StatefulSessions.sessionize(
        ms.toDS().withWatermark("ts2", "0 seconds"), 5000000L, streaming = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_state_sessions")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    // keep event times far from epoch 0 — the initial watermark is 0,
    // and rows at or below the watermark are dropped as late
    val base = 1000000000000000L // µs, ≈ 2001-09
    def ev(us: Long) =
      SessionEvent(1L, new java.sql.Timestamp((base + us) / 1000), base + us, 1.0)
    // batch 1: two sessions' worth — [0s, 2s] closes when 10s arrives
    ms.addData(ev(0L), ev(2000000L), ev(10000000L))
    q.processAllAvailable()
    // batch 2: 30s closes the [10s] session; [30s] stays open (no emit)
    ms.addData(ev(30000000L))
    q.processAllAvailable()
    val got = spark.table("graft_state_sessions")
      .collect().map(r => (r.getLong(1) - base, r.getLong(2) - base, r.getLong(3))).toSet
    q.stop()
    assert(got === Set((0L, 2000000L, 2L), (10000000L, 10000000L, 1L)))
  }

  test("streaming exact dedup suppresses duplicate keys within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedup-ckpt").toFile
    val ms = MemoryStream[SessionEvent]
    val q = Dedup.exactStream(ms.toDS().toDF(), Seq("user_id", "ts_us"),
        eventTime = "ts2", horizon = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_stream_dedup")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    val base = 1000000000000000L // µs, far from the epoch-0 watermark
    def ev(us: Long) =
      SessionEvent(1L, new java.sql.Timestamp((base + us) / 1000), base + us, 1.0)
    // batch 1: a key twice in one batch → emitted once
    ms.addData(ev(0L), ev(0L), ev(2000000L))
    q.processAllAvailable()
    // batch 2: re-send an old key within the horizon → suppressed
    ms.addData(ev(2000000L), ev(5000000L))
    q.processAllAvailable()
    val got = spark.table("graft_stream_dedup")
      .collect().map(_.getAs[Long]("ts_us") - base).sorted.toSeq
    q.stop()
    assert(got === Seq(0L, 2000000L, 5000000L))
    // batch twin degrades to plain dropDuplicates
    val batch = Seq((1L, 5L), (1L, 5L), (2L, 6L)).toDF("user_id", "ts_us")
      .withColumn("ts2", lit(new java.sql.Timestamp(0L)))
    assert(Dedup.exactStream(batch, Seq("user_id", "ts_us"), "ts2", "10 seconds")
      .count() === 2)
  }

  test("session aggregation matches groupNearbyMembers-derived sessions") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sessions = EventStreams.sessions(ev, "12 hours")
    val total = sessions.agg(sum("n")).head.getLong(0)
    assert(total === ev.count()) // every event lands in exactly one session
    assert(sessions.count() > ev.select("user_id").distinct().count())
  }

  test("ngram jaccard maxDocFreq drops boilerplate shingles from the universe") {
    // every doc shares the "common words" boilerplate; 1&2 also share
    // rare content, 3 is rare-distinct
    val d = Seq(
      (1L, "common words rare one"), (2L, "common words rare one"),
      (3L, "common words other thing")).toDF("id", "t")
    val uncapped = Dedup.ngramJaccardPairs(d, col("id"), col("t"),
        n = 2, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // cap 2 removes "common words" (df=3); only the rare overlap pairs
    val capped = Dedup.ngramJaccardPairs(d, col("id"), col("t"),
      n = 2, threshold = 0.01, maxDocFreq = Some(2))
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 2L)))
    // restricted-universe jaccard: docs 1,2 identical on surviving
    // shingles → 1.0
    assert(capped.head.getAs[Double]("jaccard") === 1.0)
  }

  test("prefix-filtered ngram jaccard is lossless vs the all-pairs path") {
    // prefix filtering must return the IDENTICAL pair set and scores —
    // across thresholds (prefix length depends on t), with and without
    // the doc-frequency cap (prefixes are over the capped universe),
    // on real corpus data
    def pairs(t: Double, cap: Option[Int], prefix: Boolean): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 2, threshold = t, maxDocFreq = cap, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (t <- Seq(0.2, 0.5, 0.8); cap <- Seq(None, Some(30))) {
      val plain = pairs(t, cap, prefix = false)
      val pref = pairs(t, cap, prefix = true)
      assert(pref === plain, s"threshold=$t cap=$cap")
      if (t <= 0.5) assert(plain.nonEmpty, s"vacuous at threshold=$t")
    }
    // the Zipf shape the bench fixture uses (shared boilerplate run +
    // doc-unique tails, near-dup neighbors sharing rare tokens): the
    // regime prefix filtering exists for — equality must hold there too
    val zipf = spark.range(300).select(col("id").as("doc_id"),
      concat(
        lit("terms of service apply to this document "),
        expr("concat_ws(' ', transform(sequence(0, 29), " +
          "j -> concat('u', CAST(id - (CASE WHEN id % 10 = 1 THEN 1 ELSE 0 END) " +
          "AS STRING), '_', CAST(j AS STRING))))"),
        expr("concat(' t', CAST(id % 10 AS STRING))")).as("text"))
    def zp(prefix: Boolean): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(zipf, col("doc_id"), col("text"),
        n = 2, threshold = 0.6, maxDocFreq = None, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val zPlain = zp(prefix = false)
    assert(zPlain.size === 30) // one near-dup pair per 10 docs
    assert(zp(prefix = true) === zPlain)

    // boundary case: threshold exactly at a pair's jaccard must keep it
    // on both paths (the 1e-9 prefix slack may not lose boundary pairs)
    val d = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("id", "t")
    // bigrams: {ab,bc,cd,de} vs {ab,bc,cd,dx} → i=3, union=5, J=0.6
    for (prefix <- Seq(false, true)) {
      val out = Dedup.ngramJaccardPairs(d, col("id"), col("t"),
        n = 2, threshold = 0.6, prefixFilter = prefix, maxDocFreq = None)
        .collect()
      assert(out.length === 1 && out.head.getDouble(2) === 0.6,
        s"prefix=$prefix boundary pair lost")
    }
    // unigram shingles and extreme thresholds follow the same equality
    for (t <- Seq(0.0001, 0.5, 1.0)) {
      val u = pairs(t, None, prefix = false)
      assert(pairs(t, None, prefix = true) === u, s"bigram t=$t")
    }
    def uni(t: Double, prefix: Boolean): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 1, threshold = t, maxDocFreq = None, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val u1 = uni(0.5, prefix = false)
    assert(uni(0.5, prefix = true) === u1)
    assert(u1.nonEmpty)
  }

  test("randomized corpora: both ngram paths match a sequential Scala oracle") {
    // reference-style differential (DifferentialSpec pattern): random
    // small-vocab corpora so shingle collisions are dense, both the
    // inverted-index and the prefix-filtered path asserted against an
    // independent sequential oracle — not just against each other
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 12).map(i => s"w$i")
    for ((t, trial) <- Seq(0.15, 0.4, 0.7).zipWithIndex) {
      val data = (0L until 60L).map { i =>
        val len = 3 + rnd.nextInt(10)
        i -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val df = data.toDF("id", "t")
      def sh(s: String): Set[String] = {
        val w = s.split(" ")
        if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
      }
      val oracle = (for {
        (i, ti) <- data; (j, tj) <- data if i < j
        si = sh(ti); sj = sh(tj)
        inter = (si & sj).size if inter > 0
        jac = inter.toDouble / (si.size + sj.size - inter) if jac >= t
      } yield (i, j) -> jac).toMap
      for (prefix <- Seq(false, true)) {
        val got = Dedup.ngramJaccardPairs(df, col("id"), col("t"),
          n = 2, threshold = t, maxDocFreq = None, prefixFilter = prefix)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        assert(got === oracle, s"trial=$trial prefix=$prefix")
      }
    }
  }

  test("randomized corpora: dedupSegments matches a sequential Scala oracle") {
    // random small-alphabet corpora so cross-doc segment collisions are
    // dense; the sequential oracle walks docs in ord order claiming
    // first occurrences, then reassembles — the distributed claim
    // aggregation must reproduce it exactly
    val rnd = new scala.util.Random(23)
    val alphabet = (0 until 8).map(i => s"s$i")
    for (trial <- 0 until 3) {
      val data = (0L until 40L).map { i =>
        val len = 1 + rnd.nextInt(6)
        i -> Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString("\n")
      }
      val claimed = scala.collection.mutable.Set[String]()
      val oracle = (for {
        (i, t) <- data
        kept = t.split("\n", -1).filter(s => claimed.add(s))
        if kept.nonEmpty
      } yield i -> ((kept.mkString("\n"), kept.length.toLong))).toMap
      val got = Dedup.dedupSegments(data.toDF("id", "t"), col("id"),
          col("t"), ord = col("id"), sep = "\n")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      assert(got === oracle, s"trial=$trial")
    }
  }

  test("randomized graphs: connectedComponents matches a union-find oracle") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (x, y) => parent(find(x.toInt)) = find(y.toInt) }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map { v =>
        v -> (0 until n).filter(u => find(u) == find(v.toInt)).min.toLong
      }.toMap
      val got = Dedup.connectedComponents(edges.toDF("x", "y"),
          col("x"), col("y"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial=$trial")
    }
  }

  test("connectedComponents collapses a long path (multi-round convergence)") {
    // a 64-vertex path has diameter 63: naive min-label flooding would
    // need 63 rounds, the star rounds must do it in O(log^2)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(edges.toDF("x", "y"),
      col("x"), col("y")).collect()
    assert(got.length === 64 && got.forall(_.getLong(1) == 0L))
  }

  test("dedupByClusters keeps one representative per cluster, singletons kept") {
    // docs 1-2-3 chain near-dups (via explicit pairs), 4 isolated;
    // ord favors doc 2 (longest)
    val docs = Seq((1L, "aa"), (2L, "aaaa"), (3L, "aa"), (4L, "zz"))
      .toDF("id", "t")
    val prs = Seq((1L, 2L), (2L, 3L)).toDF("pa", "pb")
    val got = Dedup.dedupByClusters(docs, col("id"), -length(col("t")),
        prs, col("pa"), col("pb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(got === Array((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, true)))
  }

  test("URL extraction, domain normalization, and bloom blocklist flags") {
    val d = Seq(
      (1L, "x https://News.Example.com/a?b=1 y http://cdn.example.com/i.png"),
      (2L, "no urls at all"),
      (3L, "dup https://news.example.com/b and https://news.example.com/c"))
      .toDF("id", "t")
    val out = d.select(col("id"),
        TextFunctions.extractUrls(col("t")).as("u"),
        TextFunctions.textDomains(col("t")).as("dom"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getSeq[String](2)))).toMap
    assert(out(1L)._1 === Seq("https://News.Example.com/a?b=1",
      "http://cdn.example.com/i.png"))
    assert(out(1L)._2 === Seq("news.example.com", "cdn.example.com"))
    assert(out(2L) === ((Seq(), Seq())))
    assert(out(3L)._2 === Seq("news.example.com"))
    // blocklist via the same bloom probe as decontamination — zero
    // shuffle, and never false-negative
    val blocked = Seq("news.example.com").toDF("domain")
    val bloom = blocked.stat.bloomFilter("domain", 100L, 1e-6)
    val flags = d.select(col("id"),
        org.apache.spark.sql.graft.BloomExpressions.bloomAnyContain(
          TextFunctions.textDomains(col("t")), bloom).as("b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("normalizeForDedup collapses case/punctuation/whitespace variants") {
    val d = Seq((1L, "  Hello,  WORLD!! 42 "), (2L, "hello world 42"),
      (3L, "different")).toDF("id", "t")
    val out = d.select(col("id"),
        TextFunctions.normalizeForDedup(col("t")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "hello world 42")
    assert(out(1L) === out(2L))
    // composed with exact dedup, the variants collapse to one group
    val groups = Dedup.exact(d, col("id"),
        Seq(TextFunctions.normalizeForDedup(col("t")).as("nt")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(groups("hello world 42") === 2L)
  }

  test("redactPii scrubs all categories in order; piiStats counts the substitutions") {
    val d = Seq(
      (1L, "mail a.b-c_d@sub.example.co.uk and 192.168.0.1 then 123-45-6789"),
      (2L, "call +4915123456789 or 212-555-0187, visit 8.8.8.8"),
      (3L, "no pii here at all"),
      // the SSN shape must win over the phone pattern (applied first)
      (4L, "id 987-65-4321 only")).toDF("id", "t")
    val out = d.select(col("id"),
        TextFunctions.redactPii(col("t")).as("clean"),
        TextFunctions.piiStats(col("t")).as("st"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getStruct(2).toSeq.map(_.asInstanceOf[Long]))))
      .toMap
    assert(out(1L)._1 === "mail <EMAIL> and <IP> then <SSN>")
    assert(out(1L)._2 === Seq(1L, 1L, 1L, 0L))
    assert(out(2L)._1 === "call <PHONE> or <PHONE>, visit <IP>")
    assert(out(2L)._2 === Seq(0L, 1L, 0L, 2L))
    assert(out(3L) === (("no pii here at all", Seq(0L, 0L, 0L, 0L))))
    assert(out(4L)._1 === "id <SSN> only")
  }

  test("shingles handles documents shorter than n (review regression)") {
    val d = Seq((1L, "one"), (2L, "a b"), (3L, "a b c")).toDF("id", "t")
    val out = Dedup.shingles(d, col("id"), col("t"), n = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((2L, "a b"), (3L, "a b"), (3L, "b c")))
  }

  test("simhash blocking stays complete for maxDistance > 3 (adaptive blocks)") {
    // identical docs (distance 0) must always pair regardless of maxDistance
    val d = Seq((1L, "x y z"), (2L, "x y z")).toDF("id", "t")
    for (md <- Seq(3, 4, 7)) {
      val out = Dedup.simHashPairs(d, col("id"), col("t"), maxDistance = md)
      assert(out.count() === 1, s"maxDistance=$md")
    }
  }

  test("native cosine expression matches the HOF formulation bit-for-bit") {
    import org.apache.spark.sql.Column
    // the declarative form the expression replaced — kept here as the
    // semantic reference
    def hofCos(a: Column, b: Column): Column = {
      def dot(x: Column, y: Column): Column =
        aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
          lit(0.0), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val a = embs.filter(col("vec_id") < 40)
      .select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = embs.filter(col("vec_id") < 40)
      .select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val j = a.crossJoin(b).orderBy("ida", "idb")
    val got = j.select(Similarity.cosine(col("va"), col("vb")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    val exp = j.select(hofCos(col("va"), col("vb")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === exp) // exact — same accumulation order
  }

  test("native cosine/dot edge semantics: null element, length mismatch, zero norm") {
    import org.apache.spark.sql.graft.VectorExpressions._
    val r = spark.range(1).select(
      cosineSim(array(lit(1.0f), lit(2.0f)), array(lit(1.0f), lit(2.0f))).as("self"),
      cosineSim(array(lit(1.0f)), array(lit(1.0f), lit(2.0f))).as("mismatch"),
      cosineSim(array(lit(1.0f), lit(null).cast("float")),
        array(lit(1.0f), lit(2.0f))).as("nullel"),
      cosineSim(array(lit(0.0f), lit(0.0f)), array(lit(1.0f), lit(2.0f))).as("zero"),
      vecDot(array(lit(1.0f), lit(2.0f)), array(lit(3.0), lit(4.0))).as("dot_mixed"))
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    assert(r.getDouble(4) === 11.0)
  }

  test("exact lshBucket fold never rounds intermediate sums (scale-8 regression)") {
    // per-term products quantize to -0.00000004 at scale 8; the exact
    // sum -0.00000008 is negative -> bit unset. A fold that demotes to
    // scale 7 rounds each step to zero and would set the bit.
    val d = Seq((1L, Array(0.4f, 0.4f))).toDF("id", "v")
    val b = d.select(Similarity.lshBucket(col("v"),
        Seq(Seq(-1e-7, -1e-7)), exact = true).as("b"))
      .head().getLong(0)
    assert(b === 0L)
  }

  test("PortableHash.polyHash matches the spec model (incl. empty + truncation)") {
    import graft.functions.PortableHash
    def model(s: String, mult: Int): Long =
      s.take(PortableHash.MaxLen).foldLeft(0L)((acc, c) =>
        (acc * mult + c.toInt) % PortableHash.P)
    val strs = Seq("", "a", "hello world", "x" * 100, "The quick brown fox.")
    val d = strs.toDF("s")
    for (mult <- Seq(31, 37)) {
      val got = d.select(PortableHash.polyHash(col("s"), mult).as("h"))
        .collect().map(_.getLong(0)).toSeq
      assert(got === strs.map(model(_, mult)), s"mult=$mult")
    }
  }

  test("minhash banding absorbs the k % bands remainder (advisory regression)") {
    // k=10, bands=4 → rows-per-band 2, last band spans positions 7-10.
    // doc 2 agrees with doc 1 ONLY on 7-10 → candidate via the last
    // band; doc 3 agrees only on 7-8 (not 9-10) → NOT a candidate:
    // trailing hashes participate in banding instead of being dropped.
    val sigs = Seq(
      (1L, Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L)),
      (2L, Array(11L, 12L, 13L, 14L, 15L, 16L, 7L, 8L, 9L, 10L)),
      (3L, Array(21L, 22L, 23L, 24L, 25L, 26L, 7L, 8L, 29L, 30L))
    ).toDF("doc_id", "sig")
    val got = Dedup.minHashCandidates(sigs, bands = 4, threshold = 0.3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.minHashPairs(docs, col("doc_id"), col("text"), k = 8, bands = 16)
    }
  }

  test("dedupSpans removes claimed duplicate spans, keeps flanks and short docs") {
    val d = Seq(
      (1L, "x1 x2 x3 x4 x5"), // unique — untouched
      (2L, "c1 c2 c3 c4 y1"), // first occurrence claims the span
      (3L, "z1 c1 c2 c3 c4"), // copied span; z1's unique windows shield
                              // the k-1 flank tokens c1 c2
      (4L, "c1 c2 c3 c4 y1"), // verbatim copy of doc 2 — fully claimed
      (5L, "s1 s2")           // shorter than k — no windows, untouched
    ).toDF("id", "text")
    val out = Dedup.dedupSpans(d, col("id"), col("text"),
        ord = col("id"), k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === (("x1 x2 x3 x4 x5", 5L, 0L)))
    assert(out(2L) === (("c1 c2 c3 c4 y1", 5L, 0L)))
    assert(out(3L) === (("z1 c1 c2", 3L, 2L)))
    assert(out(4L) === (("", 0L, 5L)))
    assert(out(5L) === (("s1 s2", 2L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.dedupSpans(d, col("id"), col("text"), ord = col("id"), k = 1)
    }
  }

  test("removeBoilerplate drops high-df lines from every doc; short lines exempt") {
    val d = Seq(
      (1L, "COOKIE BANNER\n-\nunique one"),
      (2L, "COOKIE BANNER\n-\nunique two"),
      (3L, "COOKIE BANNER\n-\nunique three"),
      (4L, "COOKIE BANNER\n-"), // everything flagged or exempt
      (5L, "dup line\ndup line") // within-doc repeat: df counts DOCS (1)
    ).toDF("id", "text")
    val out = Dedup.removeBoilerplate(d, col("id"), col("text"),
        minDf = 3, sep = "\n")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // "COOKIE BANNER" df=4 ≥ 3 → removed everywhere, including doc 4;
    // "-" df=4 too but length 1 < minChars → exempt
    assert(out(1L) === (("-\nunique one", 2L, 1L)))
    assert(out(2L) === (("-\nunique two", 2L, 1L)))
    assert(out(3L) === (("-\nunique three", 2L, 1L)))
    assert(out(4L) === (("-", 1L, 1L))) // not dropped from output
    assert(out(5L) === (("dup line\ndup line", 2L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.removeBoilerplate(d, col("id"), col("text"), minDf = 1)
    }
    // shuffled-equijoin mark path is identical
    val off = Dedup.removeBoilerplate(d, col("id"), col("text"),
        minDf = 3, sep = "\n", broadcastFlagged = false)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(off === out)
  }

  test("scoreLinear matches a scala replay of the hashed-feature model") {
    import graft.functions.PortableHash
    val d = Seq((1L, "a b"), (2L, "a"), (3L, "b c b")).toDF("id", "text")
    val dim = 64
    val w = TextFunctions.pseudoWeights(spark, dim, seed = 7)
    val wm = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scala twin of polyHash (first 64 chars, Horner mod P)
    def ph(s: String): Long =
      s.take(PortableHash.MaxLen).foldLeft(0L)((acc, c) =>
        (acc * 31 + c.toLong) % PortableHash.P)
    def feats(t: String): Seq[String] = {
      val ws = t.split(" ", -1).toSeq
      ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val out = TextFunctions.scoreLinear(d, col("id"), col("text"), w, dim)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    for ((id, t) <- Seq(1L -> "a b", 2L -> "a", 3L -> "b c b")) {
      val fs = feats(t)
      val raw = fs.map(f => wm(ph(f) % dim)).sum
      assert(out(id) === ((fs.size.toLong, raw,
        (raw.toDouble / 1000.0) / fs.size)))
    }
    // pseudo-weights are bounded and deterministic
    assert(wm.values.forall(v => v >= -1000 && v <= 1000))
    assert(TextFunctions.pseudoWeights(spark, dim, seed = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === wm)
  }

  test("portable simhash leaves the two constant-zero hash62 bits unset") {
    import graft.functions.PortableHash
    val d = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("id", "t")
    val hs = Dedup.simHash(d, col("id"), col("t"),
        wordHash = PortableHash.hash62(_))
      .collect().map(_.getLong(1))
    assert(hs.forall(h => (h >>> 62) === 0L))
  }

  // ------------------------------------------------- image perceptual hash

  /** Hand-built P5 payload: header + raw raster bytes. */
  private def pgm(w: Int, h: Int, px: Seq[Int],
      header: String = null): Array[Byte] = {
    val hdr = Option(header).getOrElse(s"P5\n$w $h\n255\n")
    hdr.getBytes("US-ASCII") ++ px.map(_.toByte).toArray
  }

  test("GrayCodec.decodePgm: header forms, comments, truncation, maxval bounds") {
    val px = (0 until 6).map(i => i * 10)
    val ok = Multimodal.GrayCodec.decodePgm(pgm(3, 2, px))
    assert(ok.exists { case (w, h, p) => w == 3 && h == 2 && p.toSeq == px })
    // comments + multi-whitespace header
    val commented = Multimodal.GrayCodec.decodePgm(
      pgm(3, 2, px, header = "P5 # a comment\n 3\t2 # dims\n255\n"))
    assert(commented.exists { case (w, h, p) => w == 3 && h == 2 && p.toSeq == px })
    // truncated raster, wrong magic, 2-byte maxval all rejected
    assert(Multimodal.GrayCodec.decodePgm(pgm(3, 2, px.take(4))) === None)
    assert(Multimodal.GrayCodec.decodePgm(
      pgm(3, 2, px, header = "P6\n3 2\n255\n")) === None)
    assert(Multimodal.GrayCodec.decodePgm(
      pgm(3, 2, px, header = "P5\n3 2\n65535\n")) === None)
    assert(Multimodal.GrayCodec.decodePgm(null) === None)
  }

  test("boxResize: hand-computed 4x4 -> 2x2 box averages (floor division)") {
    // quadrant sums: [0+1+4+5, 2+3+6+7, 8+9+12+13, 10+11+14+15] / 4
    val px = (0 until 16).toArray
    assert(Multimodal.boxResize(px, 4, 4, 2, 2).toSeq === Seq(2, 4, 10, 12))
    // non-divisible: 3 wide -> 2 cells get 1 and 2 columns
    val px2 = Array(10, 20, 30)
    assert(Multimodal.boxResize(px2, 3, 1, 2, 1).toSeq === Seq(10, 25))
  }

  test("dHash64: horizontal-gradient raster sets every bit; flat raster none; brightness-shift invariant") {
    // 9x8 exact grid: pixel = column index -> every right neighbor is
    // brighter -> all 64 bits set
    val grad = Array.tabulate(72)(i => i % 9)
    assert(Multimodal.dHash64(grad, 9, 8) === -1L)
    val flat = Array.fill(72)(7)
    assert(Multimodal.dHash64(flat, 9, 8) === 0L)
    // dHash is a gradient signature: uniform +50 brightness leaves it
    // unchanged
    val bright = grad.map(_ + 50)
    assert(Multimodal.dHash64(bright, 9, 8) === Multimodal.dHash64(grad, 9, 8))
  }

  test("imageDHash + hammingPairs: near-identical rasters pair, unrelated don't; invalid payloads flagged") {
    // quadratic seed term: different seeds give different gradient
    // PATTERNS (a linear-only difference is a constant brightness
    // shift, which dHash ignores by design)
    def raster(seed: Int, bump: Boolean): Seq[Int] =
      (0 until 72).map(i => ((seed * 7 + i * 13 + seed * i * i +
        (if (bump && i % 31 == 0) 1 else 0)) % 256 + 256) % 256)
    val rows = Seq[(Long, Array[Byte])](
      (1L, pgm(9, 8, raster(1, bump = false))),
      (2L, pgm(9, 8, raster(1, bump = true))),   // near-dup of 1
      (3L, pgm(9, 8, raster(77, bump = false))), // unrelated
      (4L, "not an image".getBytes("US-ASCII")), // invalid
      (5L, pgm(4, 3, Seq.fill(12)(9)))           // smaller than the grid
    ).toDF("id", "bytes")
    val hashed = Multimodal.imageDHash(rows, col("id"), col("bytes")).toDF()
    val valid = hashed.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(valid === Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false))
    val pairs = Dedup.hammingPairs(hashed.filter(col("valid")), col("id"),
        col("dhash"), maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("canonicalizeUrl: fragments, tracking runs, case, default ports, trailing slash") {
    import graft.functions.TextFunctions
    val cases = Seq(
      "HTTPS://Example.COM:443/Path/Sub?id=1#frag" ->
        "https://example.com/Path/Sub?id=1",
      "http://Site.ORG:80/" -> "http://site.org",
      // three consecutive tracking params then a real one
      "https://a.com/p?utm_source=x&utm_medium=y&fbclid=z&id=9" ->
        "https://a.com/p?id=9",
      // tracking-only query collapses entirely
      "https://a.com/p?utm_campaign=c" -> "https://a.com/p",
      // ref strips, refresh (not a tracking name) survives
      "https://a.com/p?ref=tw&refresh=1" -> "https://a.com/p?refresh=1",
      // path case preserved; non-default port preserved
      "https://A.com:8443/CaseY/" -> "https://a.com:8443/CaseY",
      "not a url" -> "not a url")
    val out = cases.zipWithIndex
      .map { case ((u, _), i) => (i.toLong, u) }.toDF("i", "u")
      .select(col("i"), TextFunctions.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (((_, want), i) <- cases.zipWithIndex)
      assert(out(i.toLong) === want, s"case $i: ${cases(i)._1}")
  }

  // ---------------------------------------------- streaming ingest dedup

  test("streaming dedup within watermark: first arrival kept, normalization variants dropped across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamDedup.dedupTextWithinWatermark(
      ms.toDS().toDF("id", "ts", "text"), col("text"), "ts", "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("graft_stream_dedup").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      ms.addData((1L, t(0), "Hello, World!"), (2L, t(1), "hello world"),
        (3L, t(2), "fresh content"))
      q.processAllAvailable()
      // batch 2, still inside the horizon: the HELLO variant of row 1
      // is state-dropped; genuinely new text passes
      ms.addData((4L, t(3), "HELLO  world"), (5L, t(4), "brand new"))
      q.processAllAvailable()
      val ids = spark.table("graft_stream_dedup").collect()
        .map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("FineWeb-style curation recipe composes end to end: each stage only removes, survivors satisfy every filter") {
    import graft.functions.TextFunctions
    import graft.operators.{Dedup, Sampling}
    // stage 0: corpus with per-doc page structure so the line filter
    // has signal (the synthetic docs are single-line)
    // terminate the doc's own distinct line so the C4 line filter
    // keeps it (docs stay distinct through minhash) and the page's
    // sentence count reaches minSentences=3
    val corpus = docs.select(col("doc_id"),
      concat_ws("\n", concat(col("text"), lit(".")),
        lit("This is a good retained sentence with words."),
        lit("Short.")).as("text"))
    val n0 = corpus.count()
    // stage 1: C4 line filter + page flags
    val c4 = corpus
      .select(col("doc_id"), TextFunctions.c4FilteredText(col("text")).as("text"),
        TextFunctions.c4DocFlags(col("text")).as("f"))
      .filter(col("f.pass")).drop("f")
      .filter(col("text") =!= "")
    val n1 = c4.count()
    // stage 2: Gopher quality rules (thresholds loosened to the
    // synthetic corpus's short docs — the recipe shape is the test)
    val gop = c4.filter(TextFunctions.gopherQualityFlags(col("text"),
      minWords = 5, minMeanWordLen = 2.0, minStops = 0).getField("pass"))
    val n2 = gop.count()
    // stage 3: near-dup removal (minhash keep verdicts)
    val kept = gop.join(
      Dedup.minHashKeep(gop, col("doc_id"), col("text"), ord = col("doc_id"))
        .filter(col("kept")).select("doc_id"),
      Seq("doc_id"))
    val n3 = kept.count()
    // stage 4: decontamination screen against a fake eval set
    val eval = docs.filter(col("doc_id") % 31 === 0)
    val contaminated = Dedup.contamination(kept, col("doc_id"), col("text"),
      eval, col("text"), n = 5).select(col("doc_id"))
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
    val n4 = clean.count()
    // stage 5: deterministic subsample
    val sampled = Sampling.deterministicSample(clean, col("doc_id"), 0.5, seed = 3)
    val n5 = sampled.count()
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 >= n4 && n4 >= n5,
      s"stages must only remove: $n0 -> $n1 -> $n2 -> $n3 -> $n4 -> $n5")
    assert(n5 > 0, s"the recipe must keep something: $n0 -> $n1 -> $n2 -> $n3 -> $n4 -> $n5")
    // survivors satisfy every stage's predicate
    val survivors = sampled.select(col("doc_id"), col("text"))
    assert(survivors.filter(!TextFunctions.gopherQualityFlags(col("text"),
      minWords = 5, minMeanWordLen = 2.0, minStops = 0)
      .getField("pass")).count() === 0)
    assert(survivors.join(contaminated, Seq("doc_id")).count() === 0)
  }

  // ------------------------------------ published curation rule sets

  test("gopherQualityFlags: hand-checked signals and per-rule verdicts") {
    // 65 words, mean length 205/65 ≈ 3.15, six required stops, all
    // alphabetic -> every rule passes
    val good = Seq.fill(5)(
      "the time of day and all that we have with us here now").mkString(" ")
    val short = "too few words here"               // word-count rule fails
    val symbols = Seq.fill(60)("### ...").mkString(" ") // symbol + alpha + stops fail
    val d = Seq((1L, good), (2L, short), (3L, symbols)).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        graft.functions.TextFunctions.gopherQualityFlags(col("text")).as("g"))
      .select(col("doc_id"), col("g.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val g = out(1L)
    assert(g.getLong(g.fieldIndex("n_words")) === 65)
    assert(math.abs(g.getDouble(g.fieldIndex("mean_word_len")) - 205.0 / 65) < 1e-12)
    assert(g.getLong(g.fieldIndex("n_required_stops")) === 6)
    assert(g.getBoolean(g.fieldIndex("pass")))
    assert(!out(2L).getBoolean(out(2L).fieldIndex("pass_word_count")))
    val s = out(3L)
    assert(!s.getBoolean(s.fieldIndex("pass_symbol_ratio")))
    assert(!s.getBoolean(s.fieldIndex("pass_alpha_words")))
    assert(!s.getBoolean(s.fieldIndex("pass")))
  }

  test("c4FilteredText + c4DocFlags: line retention and page-level drops") {
    import graft.functions.TextFunctions
    val text = Seq(
      "This is a good sentence with plenty of words.",  // kept
      "Too short.",                                     // < 5 words
      "no terminal punctuation on this line at all",    // no punct
      "Uses JavaScript for everything it renders, really.", // javascript
      "Another proper sentence that ends with a bang!"  // kept
    ).mkString("\n")
    val d = Seq((1L, text), (2L, "short. text. here."),
      (3L, "function f() { return 1; } and more prose. ok. fine.")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextFunctions.c4FilteredText(col("text")).as("kept"),
        TextFunctions.c4DocFlags(col("text")).as("f"))
      .select(col("doc_id"), col("kept"), col("f.*"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val k = out(1L)
    assert(k.getString(1) ===
      "This is a good sentence with plenty of words.\n" +
      "Another proper sentence that ends with a bang!")
    assert(k.getLong(k.fieldIndex("n_kept_lines")) === 2)
    assert(k.getBoolean(k.fieldIndex("pass"))) // 2 sentences? '.' + '!' + '.'(Too short.) + '.'(really.) = 4 >= 3
    // doc 2: three sentences but every line fails the 5-word rule
    assert(out(2L).getString(1) === "")
    assert(out(2L).getBoolean(out(2L).fieldIndex("pass")))
    // doc 3: curly brace -> page dropped
    val b = out(3L)
    assert(b.getBoolean(b.fieldIndex("has_brace")))
    assert(!b.getBoolean(b.fieldIndex("pass")))
  }

  // --------------------------------------- persist handles (advice items)

  test("semDedupWithState / contaminationFuzzyWithSignatures expose persisted handles; cache flags opt out") {
    val cents = Similarity.ivfCentroids(embs, col("vec_id"), col("embedding"),
      nCentroids = 4, iters = 1)
    val (verdicts, assigned) = Dedup.semDedupWithState(embs, col("vec_id"),
      col("embedding"), col("vec_id"), cents, threshold = 0.4)
    verdicts.count()
    assert(assigned.storageLevel.useMemory, "assignment table not persisted")
    assigned.unpersist(blocking = true)
    assert(!assigned.storageLevel.useMemory)
    // opt-out leaves nothing cached
    val (_, a2) = Dedup.semDedupWithState(embs, col("vec_id"),
      col("embedding"), col("vec_id"), cents, threshold = 0.4,
      cacheAssignments = false)
    assert(!a2.storageLevel.useMemory)
    val (flags, tSig, eSig) = Dedup.contaminationFuzzyWithSignatures(
      docs, col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 20 === 0), col("doc_id"), col("text"))
    flags.count()
    assert(tSig.storageLevel.useMemory && eSig.storageLevel.useMemory)
    tSig.unpersist(blocking = true); eSig.unpersist(blocking = true)
    assert(!tSig.storageLevel.useMemory && !eSig.storageLevel.useMemory)
  }

  // ------------------------------------ degenerate-vector centroid parity

  test("assignCentroid: exact and production modes agree (null) on degenerate vectors") {
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val rows = Seq(
      (1L, Seq(0.0f, 0.0f)),          // zero norm -> unscorable
      (2L, Seq(Float.NaN, 1.0f)),     // NaN component
      (3L, Seq(1.0f)),                // dimension mismatch
      (4L, Seq(0.6f, 0.8f))           // healthy
    ).toDF("id", "v")
    def cids(exact: Boolean): Map[Long, Any] = rows
      .select(col("id"),
        Similarity.assignCentroid(col("v"), cents, exact).as("cid"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    val e = cids(exact = true); val p = cids(exact = false)
    assert(e === p, s"exact $e vs production $p")
    assert(e(1L) === null && e(2L) === null && e(3L) === null)
    assert(e(4L) === 1)
  }

  // -------------------------------------------------- profile quantiles

  test("profile quantiles: exact interpolated percentiles per numeric column, null for non-numeric, single-pass") {
    import graft.operators.Profile
    val d = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0),
      (4L, "z", 40.0)).toDF("id", "s", "v")
    val out = Profile.profile(d, exactDistinct = true, exactQuantiles = true)
      .collect().map(r => r.getString(1) ->
        (if (r.isNullAt(8)) null else r.getSeq[Double](8))).toMap
    // v: sorted [10,20,30,40]; q25 = 17.5, q50 = 25, q75 = 32.5
    assert(out("v") === Seq(17.5, 25.0, 32.5))
    assert(out("id") === Seq(1.75, 2.5, 3.25))
    assert(out("s") === null)
    // quantiles = Nil drops the column (and the schema position)
    assert(!Profile.profile(d, quantiles = Nil).columns.contains("quantiles"))
  }
}
