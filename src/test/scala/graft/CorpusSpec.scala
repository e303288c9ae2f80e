package graft

import graft.operators.{Dedup, GroupBy, Multimodal, RollingOps, Similarity, Snapshot, Vocab}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-lifecycle operators: snapshot diff, incremental dedup,
  * fuzzy decontamination, SemDeDup, vocabulary build/encode, group
  * winsorize, pct_change, and the WAV header codec.
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("hashFeatureBuckets: native kernel == expression tree, adversarial + corpus") {
    import graft.functions.{TextFunctions, TextTreeForms}
    // the split/ascii/length contract edges the native kernel must
    // replicate: empty text (zero tokens), interior/trailing empty
    // tokens, single token (no bigrams), non-ASCII incl. a surrogate
    // pair (code-point folding), and a token run past the 64-cp
    // polyHash truncation (cap counted over the JOINED gram)
    val tricky = Seq("", " ", "a", "a  b ", " lead", "tail ",
      "café naïve 中文 " + new String(Character.toChars(0x1D11E)),
      ("x" * 70) + " " + ("y" * 70), "a b c d e")
    val trickyDf = tricky.toDF("t")
    for (grams <- Seq(Seq(1, 2), Seq(1), Seq(2), Seq(1, 2, 3))) {
      val rows = trickyDf.select(
        TextFunctions.hashFeatureBuckets(col("t"), 97, grams).as("n"),
        TextTreeForms.hashFeatureBuckets(col("t"), 97, grams).as("e"))
        .collect()
      rows.zip(tricky).foreach { case (r, t) =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"native != tree for '$t' grams=$grams") }
    }
    // the real corpus at the gate dimension
    val diff = docs.select(
        TextFunctions.hashFeatureBuckets(col("text"), 4096).as("n"),
        TextTreeForms.hashFeatureBuckets(col("text"), 4096).as("e"))
      .filter(not(col("n") <=> col("e"))).count()
    assert(diff === 0L)
    // null text stays null (explode_outer callers rely on it)
    val nullRow = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(TextFunctions.hashFeatureBuckets(col("t"), 97).as("n")).head()
    assert(nullRow.isNullAt(0))
  }

  test("round-15 native text kernels == retired regex/tree forms, adversarial + corpus") {
    import graft.functions.{TextFunctions, TextTreeForms}
    // edges each kernel must replicate: empties/whitespace-only
    // (0/0 → null fractions; split-of-empty = one empty token),
    // interior/trailing space runs (empty tokens; \s+ collapse),
    // tab/newline/vertical-tab/form-feed (Java \s vs the garbage
    // class overlap on 0B/0C), control chars + U+FFFD (garbage), all
    // six script ranges incl. mixed han+kana, a surrogate pair
    // (supplementary cp matches NO class, counts once in length),
    // Unicode one-to-many lowercasing (İ → i + combining dot), and
    // accented-latin range boundaries (À = 0x00C0, ɏ = 0x024F)
    val tricky = Seq("", " ", "\t\n", "a", "a  b ", " lead", "tail ",
      "café naïve", "Àɏɐ",
      "Вода water", "مرحبا",
      "中文あア mixed", "한국어 ᄀ",
      "ctrl� end",
      new String(Character.toChars(0x1D11E)) + " clef",
      "İstanbul UPPER Case", "123 mixed! pun.ct,u;at:ion?",
      "a-b--c   d\te\nf")
    val trickyDf = (tricky :+ null).toDF("t")
    def diffOn(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column): Unit = {
      val bad = df.filter(not(c)).count()
      assert(bad === 0L)
    }
    val checks = trickyDf.select(col("t"),
      TextFunctions.scriptFractions(col("t")).as("sf_n"),
      TextTreeForms.scriptFractions(col("t")).as("sf_e"),
      TextFunctions.fingerprint(col("t")).as("fp_n"),
      TextTreeForms.fingerprint(col("t")).as("fp_e"),
      TextFunctions.normalizeForDedup(col("t")).as("nd_n"),
      TextTreeForms.normalizeForDedup(col("t")).as("nd_e"),
      TextFunctions.langIdScript(col("t")).as("li_n"))
    checks.collect().foreach { r =>
      assert(r.get(1) === r.get(2), s"scriptFractions for '${r.get(0)}'")
      assert(r.get(3) === r.get(4), s"fingerprint for '${r.get(0)}'")
      assert(r.get(5) === r.get(6), s"normalizeForDedup for '${r.get(0)}'")
    }
    // langIdScript has no retained tree twin (it shares scriptCounts)
    // — pin its verdicts directly on script-dominant rows
    val lang = checks.select(col("li_n")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(lang(9) === "ru" && lang(10) === "ar" && lang(12) === "ko")
    assert(lang(11) === "ja") // kana present past 5% in the mixed row
    // the real corpus: all three kernels agree row-for-row
    diffOn(docs, TextFunctions.scriptFractions(col("text")) <=>
      TextTreeForms.scriptFractions(col("text")))
    diffOn(docs, TextFunctions.fingerprint(col("text")) <=>
      TextTreeForms.fingerprint(col("text")))
    diffOn(docs, TextFunctions.normalizeForDedup(col("text")) <=>
      TextTreeForms.normalizeForDedup(col("text")))
  }

  // ------------------------------------------------------------ snapshot

  test("corpusDiff: all four statuses, fingerprint-driven change detection") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val newSnap = Seq((2L, "b"), (3L, "CHANGED"), (4L, "d")).toDF("id", "t")
    val out = Snapshot.corpusDiff(oldSnap, newSnap, col("id"), md5(col("t")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val summary = Snapshot.corpusDiffSummary(oldSnap, newSnap, col("id"),
        md5(col("t")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary === Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 1L))
  }

  test("dedupAgainst: anti-join semantics, broadcast and shuffle paths agree") {
    val batch = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "t")
    val prior = Seq((10L, "y"), (11L, "w"), (12L, "y")).toDF("id", "t")
    def ids(broadcastPrior: Boolean): Set[Long] =
      Snapshot.dedupAgainst(batch, md5(col("t")), prior, md5(col("t")),
        broadcastPrior).select("id").collect().map(_.getLong(0)).toSet
    assert(ids(broadcastPrior = true) === Set(1L, 3L))
    assert(ids(broadcastPrior = false) === Set(1L, 3L))
  }

  test("dedupAgainstBloom: never keeps a true duplicate; ~exact at tiny fpp") {
    val batch = docs.limit(100)
    val prior = docs.filter(col("doc_id") % 3 === 0)
    val key = md5(col("text"))
    val exactKept = Snapshot.dedupAgainst(batch, key, prior, key)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Snapshot.priorKeyBloom(prior, key, fpp = 1e-9)
    val bloomKept = Snapshot.dedupAgainstBloom(batch, key, bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one-sided: bloom may only DROP extra rows (false positives),
    // never keep a row the exact screen drops
    assert(bloomKept.subsetOf(exactKept))
    assert(bloomKept.size >= (exactKept.size * 0.95).toInt)
  }

  // ----------------------------------------------- fuzzy decontamination

  test("contaminationFuzzy: flags near-dup train docs, ignores unrelated") {
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, shared),                                  // exact dup of eval 100
      (2L, shared.replace("tok7", "zzz")),           // near dup
      (3L, (200 to 240).map(i => s"other$i").mkString(" "))) // unrelated
      .toDF("id", "t")
    val eval = Seq((100L, shared)).toDF("id", "t")
    val out = Dedup.contaminationFuzzy(train, col("id"), col("t"),
        eval, col("id"), col("t"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId.contains(1L) && byId(1L)._3 === 1.0)
    assert(byId.contains(2L) && byId(2L)._3 >= 0.5)
    assert(!byId.contains(3L))
    assert(byId(1L)._2 === 1L) // one eval match
  }

  // ----------------------------------------------------------- semdedup

  test("semDedup: earliest (ord, id) mate kept, near-dups dropped, clusters respected") {
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
    val df = Seq(
      (1L, Array(1.0f, 0.01f), 10L),  // cluster 0, earliest → kept
      (2L, Array(1.0f, 0.02f), 20L),  // near-dup of 1 → dropped
      (3L, Array(0.02f, 1.0f), 30L),  // cluster 1 → kept (different cluster)
      (4L, Array(1.0f, 0.03f), 5L))   // cluster 0 but EARLIEST ord → kept; drops 1? no: cos(4,1) high, ord 5 < 10 → 1 dropped
      .toDF("id", "vec", "ord")
    val out = Dedup.semDedup(df, col("id"), col("vec"), col("ord"),
        centroids, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(4L) === true)   // earliest in cluster 0
    assert(out(1L) === false)  // preceded by 4
    assert(out(2L) === false)  // preceded by 4 and 1
    assert(out(3L) === true)   // alone in cluster 1
    // exact mode agrees on clear-cut data
    val exact = Dedup.semDedup(df, col("id"), col("vec"), col("ord"),
        centroids, threshold = 0.95, exact = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact === out)
  }

  test("semDedup on the embeddings table: verdict count = corpus, kept ∪ dropped partition") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfCentroids(emb, col("vec_id"), col("embedding"),
      nCentroids = 4, iters = 1)
    val out = Dedup.semDedup(emb, col("vec_id"), col("embedding"),
      col("vec_id"), cents, threshold = 0.4)
    assert(out.count() === emb.count())
    val dropped = out.filter(!col("kept")).count()
    assert(dropped > 0, "synthetic embeddings contain planted near-dups")
  }

  // -------------------------------------------------------------- vocab

  test("buildVocab: frequency rank, deterministic ties, minCount, maxSize") {
    val df = Seq("b a a c b d", "a b c", "e").toDF("t")
    val v = Vocab.buildVocab(df, col("t"), maxSize = 3, minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // counts: a=3, b=3, c=2, d=1, e=1 → minCount drops d/e; ties a/b
    // break on token ASC
    assert(v.toSeq === Seq(("a", 1L, 3L), ("b", 2L, 3L), ("c", 3L, 2L)))
    val capped = Vocab.buildVocab(df, col("t"), maxSize = 2, minCount = 1)
    assert(capped.count() === 2)
  }

  test("encodeTokens: order preserved, OOV → 0; oovStats rates") {
    val df = Seq((1L, "a b zzz a"), (2L, "qq")).toDF("id", "t")
    val vocab = Vocab.buildVocab(df, col("t"), maxSize = 10, minCount = 1)
    val byTok = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enc = Vocab.encodeTokens(df, col("id"), col("t"), vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(enc(1L) === Seq(byTok("a"), byTok("b"), byTok("zzz"), byTok("a")))
    assert(enc(2L) === Seq(byTok("qq")))
    val small = Vocab.buildVocab(df, col("t"), maxSize = 2, minCount = 2)
    val oov = Vocab.oovStats(df, col("id"), col("t"), small)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(oov(1L)._1 === 4L)
    assert(oov(2L) === ((1L, 1L))) // 'qq' below minCount → OOV
  }

  // ----------------------------------------------------------- winsorize

  test("winsorize: clips to group fences, nulls stay null, paths agree") {
    val df = ((1 to 100).map(i => ("g", Some(i.toDouble))) ++
      Seq(("g", None), ("h", Some(1000.0)))).toDF("k", "v")
    val g = new GroupBy(df, Seq(col("k")))
    val out = g.winsorize(col("v"), 0.05, 0.95, out = "w")
    val gRows = out.filter(col("k") === "g")
    val fences = df.filter(col("k") === "g").agg(
      percentile(col("v"), lit(0.05)), percentile(col("v"), lit(0.95)))
      .head()
    val (lo, hi) = (fences.getDouble(0), fences.getDouble(1))
    val ws = gRows.filter(col("v").isNotNull).select("w")
      .collect().map(_.getDouble(0))
    assert(ws.min === lo && ws.max === hi)
    assert(gRows.filter(col("v").isNull).head().getAs[Any]("w") == null)
    // single-member group h: both fences are the value itself
    assert(out.filter(col("k") === "h").head().getAs[Double]("w") === 1000.0)
    val shuffled = g.winsorize(col("v"), 0.05, 0.95, out = "w",
      broadcastQuantiles = false)
    assert(shuffled.select("k", "v", "w").except(
      out.select("k", "v", "w")).count() === 0)
  }

  // ---------------------------------------------------------- pct_change

  test("pctChange: manual series, zero base → null, masked sub-stream") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 15.0), (1L, 3L, 0.0),
      (1L, 4L, 7.0), (2L, 1L, 4.0)).toDF("k", "ord", "v")
    val ops = new RollingOps(new GroupBy(df, Seq(col("k"))))
    val out = ops.pctChange(col("v"), col("ord"), 1, name = "pc")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.getAs[Any]("pc")).map(_.asInstanceOf[Double])).toMap
    assert(out((1L, 1L)) === None)            // no predecessor
    assert(out((1L, 2L)) === Some(0.5))
    assert(out((1L, 3L)) === Some(-1.0))
    assert(out((1L, 4L)) === None)            // zero base
    assert(out((2L, 1L)) === None)
    // masked: the ord-3 row is filtered out of the sub-stream, so
    // ord 4 changes vs ord 2
    val masked = ops.pctChange(col("v"), col("ord"), 1,
        mask = Some(col("v") =!= 0.0), name = "pc")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.getAs[Any]("pc")).map(_.asInstanceOf[Double])).toMap
    assert(masked((1L, 3L)) === None)                  // masked row
    assert(masked((1L, 4L)) === Some((7.0 - 15.0) / 15.0))
  }

  // ------------------------------------------------------- mode / top-k

  test("mode: most frequent per group, smallest-value tie-break, nulls excluded") {
    val df = Seq(("g", Some("b")), ("g", Some("b")), ("g", Some("a")),
      ("g", Some("a")), ("g", Some("c")), ("g", None),
      ("h", Some("z"))).toDF("k", "v")
    val out = new GroupBy(df, Seq(col("k"))).mode(col("v"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out("g") === (("a", 2L))) // a/b tie at 2 → smallest value
    assert(out("h") === (("z", 1L)))
  }

  test("topKValues: rank order, k cap, deterministic ties") {
    val df = Seq("a", "a", "a", "b", "b", "c", "c", "d")
      .map(("g", _)).toDF("k", "v")
    val out = new GroupBy(df, Seq(col("k"))).topKValues(col("v"), 3)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // counts: a=3, b=2, c=2, d=1 → b before c on the value tie-break
    assert(out.toSeq === Seq(("a", 3L, 1L), ("b", 2L, 2L), ("c", 2L, 3L)))
  }

  // ------------------------------------------------------ language model

  test("scoreByUnigram: manual log-probs, OOV smoothing, exact corpus total") {
    val ref = Seq("a a a b").toDF("t") // counts: a=3, b=1; total=4
    val counts = graft.operators.LangModel.unigramCounts(ref, col("t"))
    val total = graft.operators.LangModel.totalTokens(counts)
    assert(total === 4L)
    val df = Seq((1L, "a b"), (2L, "zz")).toDF("id", "t")
    val out = graft.operators.LangModel.scoreByUnigram(df, col("id"),
        col("t"), counts, total)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val exp1 = (math.log(3.0) + math.log(1.0)) / 2.0 - math.log(4.0)
    assert(math.abs(out(1L)._2 - exp1) < 1e-7)
    assert(math.abs(out(1L)._3 - (3.0 / 4 + 1.0 / 4) / 2) < 1e-9)
    // OOV doc: smoothed count 1 → ln(1/4)
    assert(math.abs(out(2L)._2 - (0.0 - math.log(4.0))) < 1e-7)
    assert(out(1L)._1 === 2L && out(2L)._1 === 1L)
  }

  test("unigramKl: zero for identical corpora, positive under drift") {
    val a = Seq("x y x y z").toDF("t")
    val same = graft.operators.LangModel.unigramKl(a, col("t"), a, col("t"))
      .head()
    assert(math.abs(same.getDouble(2)) < 1e-7)
    assert(same.getLong(0) === 5L && same.getLong(1) === 3L)
    // P concentrated on a token rare in Q: KL = ln 5 exactly
    val p5 = Seq("x x x x x").toDF("t")
    val q5 = Seq("x y y y y").toDF("t")
    val drift = graft.operators.LangModel.unigramKl(p5, col("t"), q5, col("t"))
      .head().getDouble(2)
    assert(math.abs(drift - math.log(5.0)) < 1e-6)
  }

  // ------------------------------------------------------------- WAV

  test("AudioCodec.sniffWav: chunk walk, padding, truncated data, corrupt input") {
    def wav(ch: Int, rate: Int, bits: Int, dataSize: Int,
        preChunk: Option[(String, Array[Byte])] = None): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(1024)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      preChunk.foreach { case (tag, payload) =>
        bb.put(tag.getBytes("US-ASCII")).putInt(payload.length).put(payload)
        if (payload.length % 2 == 1) bb.put(0.toByte) // pad byte
      }
      val blockAlign = ch * bits / 8
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(ch.toShort).putInt(rate)
        .putInt(rate * blockAlign).putShort(blockAlign.toShort)
        .putShort(bits.toShort)
      bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      // data payload deliberately absent (header-only row)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    assert(Multimodal.AudioCodec.sniffWav(wav(2, 44100, 16, 400)) ===
      Some((2, 44100, 16, 100L)))
    // an ODD-sized LIST chunk before fmt exercises word-alignment
    assert(Multimodal.AudioCodec.sniffWav(
      wav(1, 8000, 8, 50, preChunk = Some(("LIST", Array[Byte](1, 2, 3))))) ===
      Some((1, 8000, 8, 50L)))
    assert(Multimodal.AudioCodec.sniffWav("nonsense".getBytes) === None)
    assert(Multimodal.AudioCodec.sniffWav(null) === None)
    // fmt present but data chunk missing → None
    val noData = wav(1, 8000, 16, 10)
    assert(Multimodal.AudioCodec.sniffWav(
      java.util.Arrays.copyOf(noData, noData.length - 8)) === None)
  }

  test("VideoCodec.sniffMp4: box walk, v0/v1 tkhd, audio-trak skip, largesize, corrupt input") {
    def be32(bb: java.nio.ByteBuffer, v: Long): java.nio.ByteBuffer =
      bb.putInt(v.toInt)
    def mp4(w: Int, h: Int, timescale: Long, duration: Long,
        tkhdV1: Boolean = false, audioTrakFirst: Boolean = false,
        largesizeFtyp: Boolean = false): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(2048)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      if (largesizeFtyp) {
        // size=1 → 64-bit largesize (24 = 16-byte header + 8 payload)
        be32(bb, 1); bb.put("ftyp".getBytes("US-ASCII")).putLong(24L)
          .put("isom".getBytes("US-ASCII")).putInt(0)
      } else {
        be32(bb, 16); bb.put("ftyp".getBytes("US-ASCII"))
          .put("isom".getBytes("US-ASCII")).putInt(0)
      }
      def mvhd(): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(108)
        b.putInt(108).put("mvhd".getBytes("US-ASCII")).putInt(0)
          .putInt(0).putInt(0).putInt(timescale.toInt).putInt(duration.toInt)
        while (b.position() < 108) b.put(0.toByte)
        b.array()
      }
      def tkhd(tw: Int, th: Int, v1: Boolean): Array[Byte] = {
        val size = if (v1) 8 + 96 else 8 + 84
        val b = java.nio.ByteBuffer.allocate(size)
        b.putInt(size).put("tkhd".getBytes("US-ASCII"))
          .putInt(if (v1) 0x01000007 else 7)
        val dimOff = 8 + (if (v1) 88 else 76)
        while (b.position() < dimOff) b.put(0.toByte)
        b.putInt(tw << 16).putInt(th << 16)
        b.array()
      }
      def trak(tw: Int, th: Int, v1: Boolean): Array[Byte] = {
        val inner = tkhd(tw, th, v1)
        val b = java.nio.ByteBuffer.allocate(8 + inner.length)
        b.putInt(8 + inner.length).put("trak".getBytes("US-ASCII")).put(inner)
        b.array()
      }
      val parts = Seq(mvhd()) ++
        (if (audioTrakFirst) Seq(trak(0, 0, v1 = false)) else Nil) ++
        Seq(trak(w, h, tkhdV1))
      val moovLen = 8 + parts.map(_.length).sum
      be32(bb, moovLen); bb.put("moov".getBytes("US-ASCII"))
      parts.foreach(bb.put)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    assert(Multimodal.VideoCodec.sniffMp4(mp4(640, 480, 600, 1800)) ===
      Some((640, 480, 600L, 1800L)))
    assert(Multimodal.VideoCodec.sniffMp4(
      mp4(1920, 1080, 90000, 450000, tkhdV1 = true)) ===
      Some((1920, 1080, 90000L, 450000L)))
    // an audio trak (zero dims) before the video trak is skipped
    assert(Multimodal.VideoCodec.sniffMp4(
      mp4(320, 240, 600, 60, audioTrakFirst = true)) ===
      Some((320, 240, 600L, 60L)))
    // 64-bit largesize ftyp still walks
    assert(Multimodal.VideoCodec.sniffMp4(
      mp4(64, 64, 600, 1, largesizeFtyp = true)) ===
      Some((64, 64, 600L, 1L)))
    assert(Multimodal.VideoCodec.sniffMp4("notanmp4....".getBytes) === None)
    assert(Multimodal.VideoCodec.sniffMp4(null) === None)
    // truncated mid-moov: clamped walk, no crash, no dims → None
    val full = mp4(640, 480, 600, 1800)
    assert(Multimodal.VideoCodec.sniffMp4(
      java.util.Arrays.copyOf(full, full.length - 60)) === None)
  }

  test("decodeAudioHeaders: batch decode round-trip and invalid rows") {
    val good = Seq((1L, 1, 16000, 16, 320), (2L, 2, 8000, 16, 64))
    val rows = good.map { case (id, ch, rate, bits, ds) =>
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val blockAlign = ch * bits / 8
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + ds)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(ch.toShort).putInt(rate)
        .putInt(rate * blockAlign).putShort(blockAlign.toShort)
        .putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(ds)
      (id, java.util.Arrays.copyOf(bb.array(), bb.position()))
    } :+ ((3L, "garbage".getBytes))
    val df = rows.toDF("id", "bytes")
    val out = Multimodal.decodeAudioHeaders(df, col("id"), col("bytes"))
      .collect().map(h => h.id -> h).toMap
    assert(out(1L).channels === 1 && out(1L).sample_rate === 16000 &&
      out(1L).n_frames === 160L && out(1L).valid)
    assert(out(2L).channels === 2 && out(2L).n_frames === 16L && out(2L).valid)
    assert(!out(3L).valid && out(3L).format === "unknown")
  }
}
