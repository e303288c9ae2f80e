package graft

import graft.KernelDiff.{assertSame, withConf}
import graft.functions.{TextFunctions => TF, TextTreeForms => Tree}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftFunctions, PiiUtil}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** The native PII kernel behind `redactPii` and `piiStats`
  * ([[org.apache.spark.sql.graft.PiiUtil]]) and the native
  * `tokenCountWs` against the regex and split forms they replaced
  * ([[graft.functions.TextTreeForms]]): every value compared in Spark
  * (`<=>`) and every output schema compared, through both evaluation
  * paths, over fixed edge cases, the corpus with the `text_pii`
  * injection and a seeded fuzz over a PII-dense alphabet. Inputs the
  * regex forms cannot finish in minutes (the email pattern is quadratic
  * in a run with no `@`) are checked against their expected results.
  */
class PiiKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val t = col("t")

  private def pairs(t: Column): Seq[(String, Column, Column)] = Seq(
    ("redactPii", TF.redactPii(t), Tree.redactPii(t)),
    ("piiStats", TF.piiStats(t), Tree.piiStats(t)),
    ("tokenCountWs", TF.tokenCountWs(t), Tree.tokenCountWs(t)))

  private val texts = Seq[String](null, "", " ", "   ", " a", "a ", "a  b", " a b ",
    // the PipelineSpec rows
    "mail a.b-c_d@sub.example.co.uk and 192.168.0.1 then 123-45-6789",
    "call +4915123456789 or 212-555-0187, visit 8.8.8.8",
    "no pii here at all", "id 987-65-4321 only",
    // email backtracking and restarts
    "a.b-c_d@sub.example.co.uk", "a@b@c.com", "x@y.c", "x@y.co", "u@d.com1.2.3.4",
    "u@d.c.om", "u@.com", "u@-.com", "u@a..bc", "@b.com", "a@", "a@@b.cd", "%+@x.io",
    "one@two.three@four.five", "a@b.cdef.g1", "first@a.bc second@d.ef",
    "x@y.com@z.org", "é@x.com", "é.a@x.com", "mail:me@x.com.", "a@b.c.d.e.fg",
    // IP runs and boundaries
    "1.2.3.4.5", "1234.5.6.7", "1.2.3.4444", "01.002.3.255", "1.2.3", "a1.2.3.4",
    "_1.2.3.4", "1.2.3.4_", "1.2.3.4é", "(1.2.3.4)", "1.2.3.4 5.6.7.8", "1.2.3.4.5.6.7.8",
    "999.999.999.999", "1..2.3.4",
    // SSN next to word and non-word code points
    "123-45-6789", "é123-45-6789", "数123-45-6789", "_123-45-6789",
    "x\u0301123-45-6789", " \u0301123-45-6789", "\u0301123-45-6789",
    "\uD835\uDC00123-45-6789", "\uD835\uDC00\u0301123-45-6789",
    "a\uD834\uDD67123-45-6789", "123-45-6789\u0301", "123-45-6789\uD834\uDD67",
    "123-45-6789é", "123-45-67890", "1123-45-6789", "123-45-6789-12-3456",
    "123-45-6789 987-65-4321",
    // phone branches
    "+" + "1" * 8, "+" + "1" * 9, "+" + "1" * 15, "+" + "1" * 20, "++" + "2" * 10,
    "a+123456789", "212-555-0187", "212.555.0187", "212-555.0187", "2125550187",
    "x212-555-0187", "212-555-01877", "(212) 555-0187", "+1 212-555-0187",
    "1.212.555.0187", "+12.345.678.9012",
    // categories sharing text: each pass reads the previous one's output
    "ip@1.2.3.4.com", "me@10.0.0.1.io 10.0.0.1", "a@b.cd123-45-6789",
    "123-45-6789@x.org", "tel:+4915123456789@x.de")

  // malformed UTF-8 cast from binary, so each string keeps its raw bytes:
  // a 0xFF byte next to an SSN and an email, a truncated 3-byte sequence
  // before an IP, a lone continuation byte and an overlong form among
  // spaces
  private val malformedHex = Seq(
    "FF3132332D34352D36373839206140622E6364FF",
    "E282312E322E332E342080C0AF20202B313233343536373839")

  private def withMalformed(d: DataFrame): DataFrame =
    malformedHex.foldLeft(d) { (d, h) =>
      d.union(spark.range(1).select(unhex(lit(h)).cast("string").as("t")))
    }

  private def fixture: DataFrame = withMalformed(texts.toDF("t"))

  /** The `text_pii` query's injected tail (graft.SparkEntry). */
  private def corpus: DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val inj = concat(col("text"), lit(" reach user"),
      col("doc_id").cast("string"), lit("@test.org from 10.0."),
      (col("doc_id") % 256).cast("string"),
      lit(".7 id 123-45-6789 tel +4915123456789 alt 212-555-0187"))
    docs.select(col("text").as("t")).union(docs.select(inj.as("t")))
  }

  test("the kernel's categories are PiiPatterns' names and tokens, in order") {
    assert(PiiUtil.Categories === TF.PiiPatterns.map(p => (p._1, p._3)))
  }

  test("fixture keeps its malformed rows as raw bytes") {
    assert(fixture.filter(hex(t).isin(malformedHex: _*)).count() === 2L)
  }

  test("native == regex and split forms on the edge cases") {
    assertSame(fixture, pairs(t))
  }

  test("schemas match the regex forms for a non-nullable text too") {
    val d = Seq("a@b.cd 1.2.3.4").toDF("t").select(coalesce(t, lit("")).as("t"))
    assert(!d.schema("t").nullable)
    assertSame(d, pairs(t))
  }

  test("native == regex forms on the corpus with the text_pii injection") {
    val c = corpus
    assertSame(c, pairs(t))
    // the injection is found: every injected row has each category
    val st = c.select(TF.piiStats(t).as("s")).filter(col("s.n_email") > 0)
    assert(st.count() === c.count() / 2)
    assert(st.filter(col("s.n_ip") === 1 && col("s.n_ssn") === 1 &&
      col("s.n_phone") === 2).count() === c.count() / 2)
  }

  test("SQL graft_redact_pii, graft_pii_stats and graft_token_count == regex forms") {
    GraftFunctions.register(spark)
    assertSame(fixture, Seq(
      ("graft_redact_pii", expr("graft_redact_pii(t)"), Tree.redactPii(t)),
      ("graft_pii_stats", expr("graft_pii_stats(t)"), Tree.piiStats(t)),
      ("graft_token_count", expr("graft_token_count(t)"), Tree.tokenCountWs(t))))
  }

  test("a null text gives the regex forms' values whether ANSI mode is on or off") {
    val ansi = "spark.sql.ansi.enabled"
    val d = Seq[String](null, "a@b.cd").toDF("t")
    for (mode <- Seq("true", "false")) withConf(spark, ansi, mode) {
      val expected = d.select(pairs(t).map(_._3): _*).collect().toSet
      assert(expected.exists(_.isNullAt(0)), s"ansi=$mode")
      for (path <- Seq(d, d.repartition(1)))
        assert(path.select(pairs(t).map(_._2): _*).collect().toSet === expected,
          s"ansi=$mode")
    }
  }

  /** `n` seeded strings of up to 64 symbols over a PII-dense alphabet:
    * ASCII digits (also as runs of up to 16, and as groups of up to 4
    * with a `.` or `-` after them), the pattern punctuation,
    * letters, a space, `é`, `数`, U+0301, a non-BMP letter and a
    * malformed byte.
    */
  private def fuzz(n: Int, seed: Long): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val groups = Seq[(Seq[String], Int)](
      ("0123456789".map(_.toString), 30), (Seq("."), 10), (Seq("-"), 8), (Seq("@"), 5),
      (Seq("+"), 3), (Seq("_"), 2), (Seq("%"), 1), ("abcxyzCOMoe".map(_.toString), 18),
      (Seq(" "), 8), (Seq("\u00E9"), 3), (Seq("\u6570"), 2), (Seq("\u0301"), 3),
      (Seq("\uD835\uDC00"), 2))
    val single: IndexedSeq[(Array[Byte], Int)] = groups.flatMap { case (cs, w) =>
      cs.map(c => (c.getBytes(UTF_8), w * 100 / cs.size))
    }.toIndexedSeq :+ ((Array(0xFF.toByte), 100))
    val cum = single.scanLeft(0)(_ + _._2).tail
    val total = cum.last
    def digits(n: Int): Array[Byte] = Array.fill(n)(('0' + rnd.nextInt(10)).toByte)
    def pick(): Array[Byte] = {
      val r = rnd.nextInt(total * 5 / 3)
      if (r < total) single(cum.indexWhere(_ > r))._1
      else if (r < total + total / 20) digits(1 + rnd.nextInt(16))
      // a group of up to 4 digits and its separator
      else digits(1 + rnd.nextInt(4)) :+ (if (rnd.nextBoolean()) '-' else '.').toByte
    }
    Seq.fill(n) {
      val len = rnd.nextInt(65)
      Array.concat(Seq.fill(len)(pick()): _*)
    }
  }

  test("native == regex forms on 100k seeded strings over a PII-dense alphabet") {
    val d = fuzz(100000, 20261020L).toDF("b").select(col("b").cast("string").as("t"))
    assertSame(d, pairs(t))
    // the fuzz reaches every category
    val sums = d.select(Tree.piiStats(t).as("s"))
      .agg(sum("s.n_email"), sum("s.n_ip"), sum("s.n_ssn"), sum("s.n_phone")).head()
    info(s"matches per category: ${sums.toSeq.mkString(", ")}")
    for (i <- 0 until 4) assert(sums.getLong(i) >= 250L, s"category $i: ${sums.getLong(i)}")
  }

  test("linear time: megabyte runs give their expected results") {
    val mb = 1 << 20
    val alnum = "ab1" * (mb / 3)
    val atRun = "a@" * (mb / 2)
    val digits = "7" * mb
    val ips = "1.2.3.4 " * (mb / 8)
    val cases = Seq[(String, String, Seq[Long])](
      (alnum, alnum, Seq(0L, 0L, 0L, 0L)),
      (atRun, atRun, Seq(0L, 0L, 0L, 0L)),
      ("x@" * (mb / 2) + "y.com", "x@" * (mb / 2 - 1) + "<EMAIL>", Seq(1L, 0L, 0L, 0L)),
      (alnum + "@z.org", "<EMAIL>", Seq(1L, 0L, 0L, 0L)),
      (digits, digits, Seq(0L, 0L, 0L, 0L)),
      ("+" + digits, "<PHONE>" + digits.drop(15), Seq(0L, 0L, 0L, 1L)),
      (ips, "<IP> " * (mb / 8), Seq(0L, mb / 8L, 0L, 0L)))
    val d = cases.map(_._1).toDF("t")
    val started = System.nanoTime()
    for (path <- Seq(d, d.repartition(1))) {
      val got = path.select(t, TF.redactPii(t), TF.piiStats(t), TF.tokenCountWs(t))
        .collect().map(r => r.getString(0) -> r).toMap
      for ((in, out, counts) <- cases) {
        val r = got(in)
        assert(r.getString(1) === out, s"redacted, input of ${in.length} chars")
        assert(r.getStruct(2).toSeq === counts, s"counts, input of ${in.length} chars")
        assert(r.getInt(3) === in.count(_ == ' ') + 1)
      }
    }
    // the quadratic regex form takes minutes on the first input alone
    assert((System.nanoTime() - started) / 1e9 < 60.0)
  }
}
