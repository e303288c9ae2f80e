package graft

import graft.KernelDiff.{assertSame, withConf}
import graft.functions.{TextFunctions => TF, TextTreeForms => Tree}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The native curation rule kernels behind `c4FilteredText`,
  * `c4DocFlags`, `gopherQualityFlags` and the marker functions
  * (`langScore`, `stopwordRatio`, `langId`, `langIdScript`,
  * `qualityScore`) against the lambda trees they replaced
  * ([[graft.functions.TextTreeForms]]): every value compared in Spark
  * (`<=>`) and every output schema compared, through both evaluation
  * paths, over the split, trim, case and UTF-8 edge cases.
  */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val gopherDoc = (1 to 12).map(i =>
    s"the cat and dog went to town number$i.").mkString(" ")

  private val texts = Seq[String](null, "", "\n", "\n\n\n", " ", "   ",
    "One two three four five.\n",
    "One two three four five.\r\nSix seven eight nine ten!\r\nEleven twelve thirteen fourteen fifteen .\r",
    "tabs\tjoin\twords here\tso four.\n  leading and trailing spaces, six words.   ",
    "runs   of    spaces   count   once   here.",
    "He said \"one two three four five\"\nshe said \"no more words here\"",
    "the line ends in a clef 𝄞\nfour five six seven eight 😀.\nnine ten eleven twelve thirteen 😀",
    "....\n......\n#\n# # #\n...\n.. .. ..\n.....\nwords and... more words ... ok....",
    "- bullet one\n* bullet two\n-no space\n*\n- \n-",
    "123 456 789 0 42 the and to of 7.5 #1",
    "The Of And the of and der Die das und ist le la et est les el los es y las",
    "Use JavaScript to enable this page, it has words.\n" +
      "JAVASCRİPT is fine here though ok.\njavascript.\n" +
      "the Kelvin line has five words.\nİstanbul ıs a cıty wıth words!",
    "Lorem ipsum dolor sit amet.\n", "LOREM İPSUM dolor. x! y?", "lorem  ipsum",
    "x LoReM IpSuM y.", "{code} one. two! three?", "der die das und ist der",
    "le la et est les el los es y las", "the of el los", "Привет мир это тест",
    "中文文本没有空格", "日本語のテキストです", "한국어 텍스트", "مرحبا بالعالم",
    gopherDoc, gopherDoc + "\n- a\n- b\n- c", gopherDoc.replace(" ", "  "),
    gopherDoc + " #### ##", gopherDoc.replace("cat", "c..."))

  // malformed UTF-8 cast from binary, so each string keeps its raw bytes:
  // a 0xFF byte, a truncated 3-byte sequence before 'c', a lone
  // continuation byte and an overlong form, among newlines, dots and
  // spaces; the second also needs Spark's lower on a non-ASCII page
  private val malformedHex = Seq(
    "61FF62202E0A2320E282632E2E2E0AC0AF2061202D2062",
    "4C4F52454D20495053554D20FF2E0A54686520636174206973206F6E20746865206D61742E80")

  private def fixture: DataFrame =
    malformedHex.foldLeft(texts.toDF("t")) { (d, h) =>
      d.union(spark.range(1).select(unhex(lit(h)).cast("string").as("t")))
    }

  private val t = col("t")

  /** Every rule at its defaults and at non-default thresholds and marker
    * lists, as (label, native, tree).
    */
  private def rules(t: Column): Seq[(String, Column, Column)] = {
    val stops = Seq("the", "The", "the", "", "ünd", "a")
    val langs = Seq("x" -> Seq("the", "The"), "y" -> Seq("der", "the"),
      "z" -> Seq(""), "w" -> Seq("了", "le"))
    Seq(
      ("c4FilteredText", TF.c4FilteredText(t), Tree.c4FilteredText(t)),
      ("c4FilteredText 1", TF.c4FilteredText(t, 1), Tree.c4FilteredText(t, 1)),
      ("c4FilteredText 0", TF.c4FilteredText(t, 0), Tree.c4FilteredText(t, 0)),
      ("c4FilteredText 8", TF.c4FilteredText(t, 8), Tree.c4FilteredText(t, 8)),
      ("c4DocFlags", TF.c4DocFlags(t), Tree.c4DocFlags(t)),
      ("c4DocFlags 1, 2", TF.c4DocFlags(t, 1, 2), Tree.c4DocFlags(t, 1, 2)),
      ("c4DocFlags 0, 0", TF.c4DocFlags(t, 0, 0), Tree.c4DocFlags(t, 0, 0)),
      ("gopher", TF.gopherQualityFlags(t), Tree.gopherQualityFlags(t)),
      ("gopher loose", TF.gopherQualityFlags(t, 2, 20, 1.0, 4.5, 0.5, 0.2, 0.0,
        0.5, stops, 1), Tree.gopherQualityFlags(t, 2, 20, 1.0, 4.5, 0.5, 0.2,
        0.0, 0.5, stops, 1)),
      ("gopher no stops", TF.gopherQualityFlags(t, minWords = 0, maxBulletFrac = 0.0,
        requiredStops = Seq("zz"), minStops = 0),
        Tree.gopherQualityFlags(t, minWords = 0, maxBulletFrac = 0.0,
          requiredStops = Seq("zz"), minStops = 0)),
      ("langScore en", TF.langScore(t, TF.LangMarkers.head._2),
        Tree.langScore(t, TF.LangMarkers.head._2)),
      ("langScore custom", TF.langScore(t, stops), Tree.langScore(t, stops)),
      ("stopwordRatio", TF.stopwordRatio(t), Tree.stopwordRatio(t)),
      ("stopwordRatio custom", TF.stopwordRatio(t, stops), Tree.stopwordRatio(t, stops)),
      ("langId", TF.langId(t), Tree.langId(t)),
      ("langId custom", TF.langId(t, langs), Tree.langId(t, langs)),
      ("langIdScript", TF.langIdScript(t), Tree.langIdScript(t)),
      ("langIdScript custom", TF.langIdScript(t, langs), Tree.langIdScript(t, langs)),
      ("qualityScore", TF.qualityScore(t, length(t)), Tree.qualityScore(t, length(t))))
  }

  test("fixture keeps its malformed rows as raw bytes") {
    assert(fixture.filter(hex(t).isin(malformedHex: _*)).count() === 2L)
  }

  test("every rule native == tree on the edge cases, defaults and non-default parameters") {
    assertSame(fixture, rules(t))
  }

  test("schemas match the trees for a non-nullable text too") {
    val d = Seq("a b. c").toDF("t").select(coalesce(t, lit("")).as("t"))
    assert(!d.schema("t").nullable)
    assertSame(d, rules(t))
  }

  test("the corpus and the oracle's synthesized C4 pages: native == tree") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val page = concat_ws("\n", col("text"), lit("This line has enough words to pass."),
      lit("Too short."),
      when(col("doc_id") % 3 === 0,
        lit("Except some docs mention javascript libraries, sadly."))
        .otherwise(lit("A perfectly good closing sentence right here!")))
    assertSame(docs.select(col("text").as("t")).union(docs.select(page.as("t"))),
      rules(t))
  }

  test("SQL graft_* text rule functions == tree") {
    GraftFunctions.register(spark)
    assertSame(fixture, Seq(
      ("graft_gopher_flags", expr("graft_gopher_flags(t)"), Tree.gopherQualityFlags(t)),
      ("graft_c4_filter", expr("graft_c4_filter(t)"), Tree.c4FilteredText(t)),
      ("graft_c4_flags", expr("graft_c4_flags(t)"), Tree.c4DocFlags(t)),
      ("graft_lang_id", expr("graft_lang_id(t)"), Tree.langId(t)),
      ("graft_lang_id_script", expr("graft_lang_id_script(t)"), Tree.langIdScript(t)),
      ("graft_stopword_ratio", expr("graft_stopword_ratio(t)"), Tree.stopwordRatio(t)),
      ("graft_quality_score", expr("graft_quality_score(t, length(t))"),
        Tree.qualityScore(t, length(t)))))
  }

  test("a null text gives the ANSI-on values whether ANSI mode is on or off") {
    val ansi = "spark.sql.ansi.enabled"
    val d = Seq[String](null, "- a b...\nthe c d.").toDF("t")
    val segs = Seq(TF.duplicateSegmentFraction(t), TF.bulletSegmentFraction(t),
      TF.ellipsisSegmentFraction(t))
    val native = rules(t).map(_._2) ++ segs
    val expected = withConf(spark, ansi, "true") {
      d.select(rules(t).map(_._3) ++ segs: _*).collect().toSet
    }
    // the retired trees at ANSI off: size(null) = −1 leaks into the counts
    val treeOff = withConf(spark, ansi, "false") {
      d.select(Tree.gopherQualityFlags(t).getField("n_words")).head()
    }
    assert(treeOff.getLong(0) === -1L)
    assert(expected.exists(_.isNullAt(rules(t).size))) // duplicateSegmentFraction
    for (mode <- Seq("true", "false")) withConf(spark, ansi, mode) {
      for (path <- Seq(d, d.repartition(1)))
        assert(path.select(native: _*).collect().toSet === expected, s"ansi=$mode")
    }
  }
}
