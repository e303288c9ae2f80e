package graft

import graft.KernelDiff.assertSame
import graft.functions.PortableHash
import graft.operators.{Dedup, MinHashTreeForms => Tree}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.{MinHashExpressions, MinHashUtil}
import org.scalatest.funsuite.AnyFunSuite

/** The native MinHash kernel ([[org.apache.spark.sql.graft.MinHashMins]])
  * and the Dedup operators built on it against the retired forms they
  * replaced ([[graft.operators.MinHashTreeForms]]): k min aggregates
  * over the exploded shingle table and k min lambdas per row. Values are
  * compared exactly, over edge-case texts, three base hashes (one of
  * them null for some grams), k ∈ {1, 7, 64} and n ∈ {1, 2, 5}, and the
  * keep and pairs results on the sf0.001 documents.
  */
class MinHashKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private val texts = Seq[String](null, "", "one", "one two", "one two three",
    "a a a a a a a a", "x y x y x y x y x y",
    "repeated grams here repeated grams here repeated grams here end",
    "  leading  and  repeated   spaces  ",
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "Привет мир это тест один два три", "中文 文本 有 空格 吗")

  /** Null for every gram whose length is a multiple of 3. */
  private val someNull: Column => Column =
    s => when(length(s) % 3 === 0, lit(null).cast("long")).otherwise(xxhash64(s))

  // murmur3 `hash` is an int, negative for about half the grams: the
  // kernel casts it to long and reduces it as pmod does
  private val hashes = Seq[(String, Column => Column)](
    "xxhash64" -> (xxhash64(_)), "polyHash" -> (PortableHash.polyHash(_)),
    "someNull" -> someNull, "murmur3" -> (hash(_)))

  /** (id, t): one id per text, a null id, and one id over two texts. */
  private def fixture: DataFrame =
    (texts.zipWithIndex.map { case (t, i) => (Option(i.toLong), t) } ++ Seq(
      (None, "alpha beta gamma delta"),
      (Some(100L), "alpha beta gamma"), (Some(100L), "delta epsilon zeta")))
      .toDF("id", "t")

  private def sigMap(df: DataFrame): Map[Any, Seq[Any]] =
    df.select("doc_id", "sig").collect().map(r => r.get(0) -> r.getSeq[Any](1)).toMap

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("the kernel equals k min lambdas, through both evaluation paths") {
    for (k <- Seq(1, 7, 64)) {
      val pairs = for ((h, baseHash) <- hashes; n <- Seq(1, 2, 5)) yield {
        val hs = F.transform(Dedup.shingleArray(col("t"), n), baseHash)
        (s"k=$k n=$n $h",
          MinHashExpressions.minHashMins(hs, Dedup.minHashCoeffs(k)),
          Tree.signature(col("t"), n, k, baseHash = baseHash))
      }
      assertSame(fixture, pairs)
    }
  }

  test("withMinHashSignature and minHashSignatures equal the retired forms") {
    for ((h, baseHash) <- hashes; k <- Seq(1, 7, 64); n <- Seq(1, 2, 5)) {
      val viaProj = Dedup.withMinHashSignature(fixture, col("t"), n = n, k = k,
        baseHash = baseHash).select(col("id"), col("t"), col("sig"))
      val viaTree = fixture.select(col("id"), col("t"),
        Tree.signature(col("t"), n, k, baseHash = baseHash).as("sig"))
      assert(rows(viaProj) === rows(viaTree), s"withMinHashSignature k=$k n=$n $h")
      assert(viaProj.schema === viaTree.schema)
      val sh = Dedup.shingles(fixture, col("id"), col("t"), n)
      val viaAgg = Dedup.minHashSignatures(sh, k, baseHash = baseHash)
      val viaAggTree = Tree.minHashSignatures(sh, k, baseHash = baseHash)
      assert(sigMap(viaAgg) === sigMap(viaAggTree), s"minHashSignatures k=$k n=$n $h")
      assert(viaAgg.schema === viaAggTree.schema)
    }
  }

  test("minHashKeep and minHashPairs rows equal the aggregate form on the corpus") {
    val configs = Seq[(String, Column, Int, Int, Int, Column => Column)](
      ("ord ascending", col("doc_id"), 2, 64, 16, xxhash64(_)),
      ("ord descending", -col("doc_id"), 2, 64, 16, xxhash64(_)),
      ("bands not dividing k", col("doc_id"), 3, 20, 6, xxhash64(_)),
      ("polyHash", -col("doc_id"), 2, 64, 16, PortableHash.polyHash(_)),
      ("null hashes", col("doc_id"), 2, 7, 3, someNull))
    for ((label, ord, n, k, bands, h) <- configs) {
      val keep = Dedup.minHashKeep(docs, col("doc_id"), col("text"), ord, n, k,
        bands, baseHash = h)
      val keepTree = Tree.minHashKeep(docs, col("doc_id"), col("text"), ord, n, k,
        bands, baseHash = h)
      assert(rows(keep) === rows(keepTree), s"keep, $label")
      assert(keep.schema === keepTree.schema)
      assert(keep.filter(!col("kept")).count() > 0, s"keep, $label drops nothing")
      val pairs = Dedup.minHashPairs(docs, col("doc_id"), col("text"), n, k, bands,
        threshold = 0.3, baseHash = h)
      val pairsTree = Tree.minHashPairs(docs, col("doc_id"), col("text"), n, k, bands,
        threshold = 0.3, baseHash = h)
      assert(rows(pairs) === rows(pairsTree), s"pairs, $label")
      assert(pairs.schema === pairsTree.schema)
    }
    // the edge-case texts too: no-shingle and null-id rows drop out.
    // Id 100 has two different texts: keep bands each row on its own
    // (the aggregate form banded the union of their shingles), so its
    // lost_bands may differ; it still gets one verdict row.
    val keep = Dedup.minHashKeep(fixture, col("id"), col("t"), col("id"))
    val keepTree = Tree.minHashKeep(fixture, col("id"), col("t"), col("id"))
    assert(rows(keep.filter(col("doc_id") =!= 100)) ===
      rows(keepTree.filter(col("doc_id") =!= 100)))
    assert(keep.filter(col("doc_id") === 100).count() === 1)
    val (pairs, sigs) = Dedup.minHashPairsWithSignatures(fixture, col("id"), col("t"),
      threshold = 0.0)
    assert(rows(pairs) === rows(Tree.minHashPairs(fixture, col("id"), col("t"),
      threshold = 0.0)))
    assert(sigMap(sigs) === sigMap(Tree.minHashSignatures(
      Dedup.shingles(fixture, col("id"), col("t"), 2))))
    sigs.unpersist()
  }

  test("contaminationFuzzyWithSignatures rows equal the filtered signature projection") {
    val train = fixture.withColumn("id", coalesce(col("id"), lit(-1L)))
    val eval = docs.select(col("doc_id"), col("text")).limit(40)
      .union(Seq((900L, "alpha beta gamma delta"), (901L, "x"), (902L, null: String))
        .toDF("doc_id", "text"))
    for ((h, baseHash) <- hashes) {
      // the form the signature tables had: signature projection, then a
      // filter on its first value
      def filtered(d: DataFrame, id: String, t: String, out: String) =
        Dedup.withMinHashSignature(d.select(col(id).as(out), col(t).as("__t")),
          col("__t"), baseHash = baseHash).drop("__t")
          .filter(F.size(col("sig")) > 0 && col("sig").getItem(0).isNotNull)
      val (flags, tSig, eSig) = Dedup.contaminationFuzzyWithSignatures(train, col("id"),
        col("t"), eval, col("doc_id"), col("text"), threshold = 0.0, baseHash = baseHash)
      val tRef = filtered(train, "id", "t", "doc_id")
      val eRef = filtered(eval, "doc_id", "text", "eval_id")
      assert(rows(tSig) === rows(tRef), s"train signatures, $h")
      assert(rows(eSig) === rows(eRef), s"eval signatures, $h")
      assert(tSig.schema === tRef.schema && eSig.schema === eRef.schema, h)
      assert(rows(flags) === rows(Dedup.contaminationFuzzyWithSignatures(train, col("id"),
        col("t"), eval, col("doc_id"), col("text"), threshold = 0.0, baseHash = baseHash,
        cacheSignatures = false)._1), s"flags, $h")
      tSig.unpersist(); eSig.unpersist()
    }
  }

  test("a null-id document is absent and claims no bucket") {
    val text = "alpha beta gamma delta epsilon zeta"
    val d = Seq((None, text, 0L), (Some(2L), text, 1L),
      (Some(3L), "totally different words in this one", 2L)).toDF("id", "t", "o")
    val keep = Dedup.minHashKeep(d, col("id"), col("t"), ord = col("o"))
    assert(rows(keep) === Set(Seq(2L, 0L, true), Seq(3L, 0L, true)))
    assert(rows(keep) === rows(Tree.minHashKeep(d, col("id"), col("t"), ord = col("o"))))
  }

  test("two identical rows sharing an id: both claim, as in the aggregate form") {
    val text = "alpha beta gamma delta epsilon zeta"
    val d = Seq((1L, text), (1L, text), (2L, text)).toDF("id", "t")
    val keep = Dedup.minHashKeep(d, col("id"), col("t"), ord = col("id"))
    assert(rows(keep) === Set(Seq(1L, 0L, true), Seq(2L, 16L, false)))
    assert(rows(keep) === rows(Tree.minHashKeep(d, col("id"), col("t"), ord = col("id"))))
    val pairs = Dedup.minHashPairs(d, col("id"), col("t"))
    assert(pairs.collect().map(_.toSeq) === Array(Seq(1L, 2L, 1.0)))
  }

  test("k < 1 is rejected by every public MinHash entry point") {
    val d = fixture
    val t = col("t")
    val id = col("id")
    val entries = Seq[(String, Int => Any)](
      "minHashCoeffs" -> (k => Dedup.minHashCoeffs(k)),
      "minHashSignatures" -> (k => Dedup.minHashSignatures(Dedup.shingles(d, id, t, 2), k)),
      "withMinHashSignature" -> (k => Dedup.withMinHashSignature(d, t, k = k)),
      "minHashPairs" -> (k => Dedup.minHashPairs(d, id, t, k = k)),
      "minHashPairsWithSignatures" -> (k => Dedup.minHashPairsWithSignatures(d, id, t, k = k)),
      "minHashKeep" -> (k => Dedup.minHashKeep(d, id, t, id, k = k)),
      "minHashKeepStream" -> (k => Dedup.minHashKeepStream(
        d.withColumn("ts", current_timestamp()), id, t, "ts", "1 minute", k = k)),
      "contaminationFuzzy" -> (k => Dedup.contaminationFuzzy(d, id, t, d, id, t, k = k)),
      "contaminationFuzzyWithSignatures" ->
        (k => Dedup.contaminationFuzzyWithSignatures(d, id, t, d, id, t, k = k)))
    for ((name, f) <- entries; k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](f(k))
      assert(e.getMessage.contains(s"MinHash signature length, must be >= 1, got $k"), name)
    }
  }

  test("modP is exact on [0, 2^62)") {
    val P = MinHashUtil.P
    val rnd = new scala.util.Random(7)
    val edges = Seq(0L, 1L, P - 1, P, P + 1, 2 * P - 1, 2 * P, (P - 1) * (P - 1),
      (P - 1) * (P - 1) + (P - 1), (1L << 62) - 1, 1L << 31, (1L << 31) - 1)
    for (y <- edges ++ Seq.fill(100000)(rnd.nextLong() >>> 2))
      assert(MinHashUtil.modP(y) === y % P, s"y = $y")
  }
}
