package graft

import graft.functions.{TextFunctions, TextTreeForms}
import graft.KernelDiff.assertSame
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The native token-window kernel behind `ngramArray`,
  * `charNgramArray` and `chunkArray`
  * ([[org.apache.spark.sql.graft.TokenWindows]]) against the expression
  * trees it replaced ([[TextTreeForms]]): every value compared as
  * bytes in Spark (`<=>`), and every output schema compared, over the
  * split edge cases — null, empty, leading/trailing/repeated
  * separators, regex-metacharacter and multi-character separators,
  * leftmost non-overlapping matches, characters outside the BMP and
  * malformed UTF-8.
  */
class TokenWindowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val seps = Seq(" ", "\n", ".", "||", "aa", "")
  private def show(s: String) = s.replace("\n", "\\n")

  private val texts = Seq[String](null, "", " ", "a", "a b", " a  b ",
    "one two three four five six seven eight nine ten",
    "\nline one\n\nline two\n", ".a..b.c.", "||a||||b|||c||", "aaa", "aaaa",
    "baaab aa a", "x||y.z\nw aa v  u", "a.b|c",
    "𝄞 clef 😀b 中文 テキスト",
    (1 to 40).map(i => s"w${i % 7}").mkString(" "))

  // malformed UTF-8 (a 0xFF byte, a 3-byte lead whose second
  // continuation is 'c', a lone continuation byte, an overlong 2-byte
  // form) cast from binary, so the string keeps its raw bytes. No
  // sequence is cut by the end of the text: `substr` would read past it
  private val malformedHex = "61FF6220E2826320802E7C7C61C0AF2061"

  private def fixture: DataFrame =
    texts.toDF("t").union(spark.range(1)
      .select(unhex(lit(malformedHex)).cast("string").as("t")))

  test("fixture keeps its malformed row as raw bytes") {
    assert(fixture.filter(hex(col("t")) === malformedHex).count() === 1L)
  }

  test("ngramArray native == tree: n ∈ {1, 2, 3, 8} × every separator") {
    assertSame(fixture, for (n <- Seq(1, 2, 3, 8); sep <- seps) yield
      (s"ngram n=$n sep='${show(sep)}'",
        TextFunctions.ngramArray(col("t"), n, sep),
        TextTreeForms.ngramArray(col("t"), n, sep)))
  }

  test("charNgramArray native == tree, n ∈ {1, 2, 3, 8}") {
    assertSame(fixture, for (n <- Seq(1, 2, 3, 8)) yield
      (s"char n=$n", TextFunctions.charNgramArray(col("t"), n),
        TextTreeForms.charNgramArray(col("t"), n)))
  }

  test("chunkArray native == tree: (size, overlap) ∈ {(1,0), (3,1), (4,3)} × separators") {
    // a null text is the one deliberate difference: the tree's chunk
    // count ignores a null token count (greatest skips nulls), so it
    // gave one null chunk; the kernel gives a null array
    val nullRow = Seq[String](null).toDF("t").select(
      TextFunctions.chunkArray(col("t"), 3, 1).as("n"),
      TextTreeForms.chunkArray(col("t"), 3, 1).as("e")).head()
    assert(nullRow.isNullAt(0) && nullRow.getSeq[String](1) === Seq(null))
    assertSame(fixture.filter(col("t").isNotNull),
      for ((size, overlap) <- Seq((1, 0), (3, 1), (4, 3)); sep <- seps
        if sep.nonEmpty) yield
        (s"chunk ($size,$overlap) sep='${show(sep)}'",
          TextFunctions.chunkArray(col("t"), size, overlap, sep),
          TextTreeForms.chunkArray(col("t"), size, overlap, sep)))
  }

  test("the corpus: shingles, contamination grams and chunks native == tree") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text").as("t"))
    assertSame(docs, Seq(
      ("ngram n=2", TextFunctions.ngramArray(col("t"), 2),
        TextTreeForms.ngramArray(col("t"), 2)),
      ("ngram n=8", TextFunctions.ngramArray(col("t"), 8),
        TextTreeForms.ngramArray(col("t"), 8)),
      ("chunk (30,5)", TextFunctions.chunkArray(col("t"), 30, 5),
        TextTreeForms.chunkArray(col("t"), 30, 5))))
  }

  test("SQL graft_shingles / graft_char_shingles / graft_chunk_tokens == tree") {
    GraftFunctions.register(spark)
    assertSame(fixture.filter(col("t").isNotNull), Seq(
      ("graft_shingles(t, 2)", expr("graft_shingles(t, 2)"),
        TextTreeForms.ngramArray(col("t"), 2)),
      ("graft_shingles(t, 8)", expr("graft_shingles(t, 8)"),
        TextTreeForms.ngramArray(col("t"), 8)),
      ("graft_char_shingles(t, 3)", expr("graft_char_shingles(t, 3)"),
        TextTreeForms.charNgramArray(col("t"), 3)),
      ("graft_chunk_tokens(t, 3, 1)", expr("graft_chunk_tokens(t, 3, 1)"),
        TextTreeForms.chunkArray(col("t"), 3, 1))))
    assertSame(Seq[String](null).toDF("t"), Seq(
      ("graft_shingles(null, 2)", expr("graft_shingles(t, 2)"),
        TextTreeForms.ngramArray(col("t"), 2)),
      ("graft_char_shingles(null, 3)", expr("graft_char_shingles(t, 3)"),
        TextTreeForms.charNgramArray(col("t"), 3))))
    assert(Seq[String](null).toDF("t").select(expr("graft_chunk_tokens(t, 3, 1)"))
      .head().isNullAt(0))
  }

  test("separator edges: unpaired surrogate never matches; chunk sep \"\" is code points") {
    val d = Seq("a😀b c").toDF("t")
    // an unpaired surrogate separator matches nothing, in Java regex
    // and in the kernel alike
    assertSame(d, Seq(
      ("ngram n=2 lone surrogate", TextFunctions.ngramArray(col("t"), 2, "\uD83D"),
        TextTreeForms.ngramArray(col("t"), 2, "\uD83D")),
      ("chunk lone surrogate", TextFunctions.chunkArray(col("t"), 2, 0, "\uD83D"),
        TextTreeForms.chunkArray(col("t"), 2, 0, "\uD83D"))))
    // chunk windows over characters: one token per code point. The tree
    // split on an empty regex instead, which cut surrogate pairs apart
    // (each half re-encoded as '?') and added a trailing empty token —
    // so "abcd" gained an empty third chunk there
    def chunks(t: String, size: Int, overlap: Int) =
      Seq(t).toDF("t").select(TextFunctions.chunkArray(col("t"), size, overlap, ""))
        .head().getSeq[String](0)
    assert(chunks("abcd", 2, 0) === Seq("ab", "cd"))
    assert(chunks("a😀bc", 2, 1) === Seq("a😀", "😀b", "bc"))
    assert(chunks("", 3, 1) === Seq(""))
  }

  test("char grams clamp a multi-byte sequence cut by the end of the text") {
    // 'a', 'b', then the first two bytes of a 3-byte sequence: the last
    // character is the two bytes left (substr would read past the end)
    val g = spark.range(1)
      .select(TextFunctions.charNgramArray(unhex(lit("6162E282")).cast("string"), 2)
        .as("g"))
      .select(transform(col("g"), x => hex(x.cast("binary")))).head().getSeq[String](0)
    assert(g === Seq("6162", "62E282"))
  }

  test("token counts are null for a null text whether ANSI mode is on or off") {
    val conf = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(conf)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(conf, ansi)
        val r = Seq[String](null, "a b. c, d!").toDF("t").select(
          TextFunctions.tokenCountWs(col("t")),
          TextFunctions.tokenCountRegex(col("t")),
          TextFunctions.punctCount(col("t")),
          TextFunctions.ngramArray(col("t"), 2),
          TextFunctions.chunkArray(col("t"), 2, 0)).collect()
        assert((0 until 3).forall(r(0).isNullAt), s"ansi=$ansi: ${r(0)}")
        assert(r(0).getSeq[String](3) === Seq.empty, s"ansi=$ansi")
        assert(r(0).isNullAt(4), s"ansi=$ansi")
        assert(Seq(r(1).getInt(0), r(1).getInt(1), r(1).getInt(2)) === Seq(4, 4, 3),
          s"ansi=$ansi")
      }
    } finally saved match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
