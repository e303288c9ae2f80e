// Hosted under org.apache.spark.sql for the same private[sql] access
// as StringExpressions (the codegen context, the Column <-> Expression
// bridge).
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel of [[PiiScan]]: the PII redaction chain of
  * [[graft.functions.TextFunctions.PiiPatterns]] — four
  * `regexp_replace` passes, each counted with `regexp_count` on its own
  * input — as linear byte scans. The patterns, in application order:
  *
  * {{{
  *   email  [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}   → <EMAIL>
  *   ip     \b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b           → <IP>
  *   ssn    \b\d{3}-\d{2}-\d{4}\b                            → <SSN>
  *   phone  \+\d{9,15}|\b\d{3}[-.]\d{3}[-.]\d{4}\b            → <PHONE>
  * }}}
  *
  * Semantics contract (each point matches Spark's regex functions on
  * JDK 17 bit for bit; PiiKernelSpec fuzzes the kernel against them):
  *
  *   - input: the text's bytes as `regexp_replace` sees them — valid
  *     UTF-8 as is, anything else decoded and re-encoded through
  *     `toString` (each malformed sequence → U+FFFD), see
  *     [[TextRuleUtil.splitBytes]]. Every pattern character is ASCII and
  *     no multi-byte sequence holds an ASCII byte, so matching bytes IS
  *     matching characters;
  *   - progressive: category k scans the text as categories 0..k−1
  *     left it, and its count is its number of replacements, so the
  *     counts are exactly the substitutions of the redacted text;
  *   - matching: leftmost-first, and after a match the search resumes at
  *     its end (`Matcher.find`). Within one pass every test, `\b`
  *     included, reads the pass's input, never its partial output;
  *   - email: the local part is the run of `[A-Za-z0-9._%+-]` that ends
  *     at an `@`, starting no earlier than the previous match's end. The
  *     domain part backtracks to the LAST `.` that has at least one
  *     domain character `[A-Za-z0-9.-]` before it and at least 2 ASCII
  *     letters after it, and the match runs to the end of those letters
  *     (so `u@d.com1.2` matches `u@d.com`);
  *   - ip, ssn: each digit group is a whole run of ASCII digits of the
  *     allowed length (a longer run fails, as greedy backtracking into
  *     it meets a digit where a separator or `\b` is needed);
  *   - phone: the alternation tries `\+\d{9,15}` first, which takes up
  *     to 15 digits of a longer run; the second branch is tried only
  *     where the first fails;
  *   - classes: `\d` and every bracket class are ASCII;
  *   - `\b`: `java.util.regex.Pattern.Bound` on the neighbouring code
  *     points. A word character is `Character.isLetterOrDigit` or `_`,
  *     or a NON_SPACING_MARK with a base character: walking back over
  *     marks reaches a BMP letter or digit. As Java walks back one UTF-16
  *     unit at a time, a supplementary code point on that walk (a low
  *     surrogate) ends it with no base, and so does a supplementary mark
  *     before the boundary. So `é123-45-6789` and `x́123-45-6789`
  *     hold no SSN, `_123-45-6789` neither;
  *   - null text: a null redacted text and null counts.
  *
  * Linear time: each category scans from its trigger bytes only (`@`
  * for email, `+` or an ASCII digit for the others), a pass whose
  * trigger is absent is skipped after one sweep over the bytes, and
  * every run the email pass walks (the local part back from an `@`, the
  * domain part forward and back) lies between two `@`s, so each byte is
  * visited a bounded number of times. Java's email matcher restarts at
  * each byte of a run with no `@` and is quadratic in its length.
  */
object PiiUtil {

  /** (category, replacement token), in application order. */
  val Categories: Seq[(String, String)] = Seq(
    "email" -> "<EMAIL>", "ip" -> "<IP>", "ssn" -> "<SSN>", "phone" -> "<PHONE>")

  private val Tokens: Array[Array[Byte]] =
    Categories.map(c => c._2.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  private final val Email = 0
  private final val Ip = 1
  private final val Ssn = 2
  private final val Phone = 3

  /** `(n_email, n_ip, n_ssn, n_phone, text)`: the per-category counts and
    * the redacted text; every field null for a null text.
    */
  def scan(text: UTF8String): InternalRow = {
    if (text == null) return new GenericInternalRow(Categories.size + 1)
    val valid = text.isValid
    var b = TextRuleUtil.splitBytes(text)
    var hasAt = false
    var hasDigit = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      i += 1
    }
    val counts = new Array[Long](Categories.size)
    var changed = false
    var cat = 0
    while (cat < Categories.size) {
      val triggered = if (cat == Email) hasAt else hasDigit
      if (triggered) {
        val pass = new Pass(b, cat)
        if (pass.count > 0) {
          counts(cat) = pass.count
          b = pass.result
          changed = true
        }
      }
      cat += 1
    }
    val redacted = if (changed || !valid) UTF8String.fromBytes(b) else text
    new GenericInternalRow(Array[Any](counts(0), counts(1), counts(2), counts(3), redacted))
  }

  /** One category's `regexp_replace` over `in`: `count` replacements,
    * `result` the replaced bytes (`in` itself when nothing matched).
    */
  private final class Pass(in: Array[Byte], cat: Int) {
    private val n = in.length
    private var out: Array[Byte] = null
    private var o = 0
    private var copied = 0 // in[copied, …) is not yet in out
    var count = 0L

    if (cat == Email) emails() else digitMatches()

    def result: Array[Byte] =
      if (out == null) in
      else {
        System.arraycopy(in, copied, out, o, n - copied)
        java.util.Arrays.copyOf(out, o + n - copied)
      }

    private def replace(s: Int, e: Int): Unit = {
      // an email match is at least 6 bytes and its token 7, every other
      // match is longer than its token: n + n/6 bytes always suffice
      if (out == null) out = new Array[Byte](n + n / 6 + 1)
      System.arraycopy(in, copied, out, o, s - copied)
      o += s - copied
      val tok = Tokens(cat)
      System.arraycopy(tok, 0, out, o, tok.length)
      o += tok.length
      copied = e
      count += 1
    }

    private def emails(): Unit = {
      var from = 0 // the previous match's end
      var a = 0
      while (a < n) {
        if (in(a) == '@') {
          var s = a
          while (s > from && isLocal(in(s - 1))) s -= 1
          var e = a + 1
          while (e < n && isDomain(in(e))) e += 1
          // the last '.' with a domain byte before it and two letters after
          var j = e - 3
          while (j >= a + 2 && !(in(j) == '.' && isLetter(in(j + 1)) && isLetter(in(j + 2))))
            j -= 1
          if (s < a && j >= a + 2) {
            var m = j + 3
            while (m < n && isLetter(in(m))) m += 1
            replace(s, m)
            from = m
            a = m
          } else a = e // no '@' in (a, e): the domain run holds none
        } else a += 1
      }
    }

    private def digitMatches(): Unit = {
      var s = 0
      while (s < n) {
        val c = in(s)
        val e =
          if (isDigit(c) || (c == '+' && cat == Phone)) matchAt(s) else -1
        if (e > 0) { replace(s, e); s = e } else s += 1
      }
    }

    /** End of this category's match starting at `s`, or −1. */
    private def matchAt(s: Int): Int = {
      if (in(s) == '+') {
        // \+\d{9,15}: greedy, and nothing follows it
        var p = s + 1
        while (p < n && p - s <= 15 && isDigit(in(p))) p += 1
        return if (p - s - 1 >= 9) p else -1
      }
      if (leftWord(in, s)) return -1
      val p = cat match {
        case Ip =>
          var q = digits(s, 1, 3)
          var g = 1
          while (g < 4 && q > 0) {
            q = if (q < n && in(q) == '.') digits(q + 1, 1, 3) else -1
            g += 1
          }
          q
        case Ssn =>
          val q = digits(s, 3, 3)
          val r = if (q > 0 && q < n && in(q) == '-') digits(q + 1, 2, 2) else -1
          if (r > 0 && r < n && in(r) == '-') digits(r + 1, 4, 4) else -1
        case _ =>
          val q = digits(s, 3, 3)
          val r = if (q > 0 && q < n && isPhoneSep(in(q))) digits(q + 1, 3, 3) else -1
          if (r > 0 && r < n && isPhoneSep(in(r))) digits(r + 1, 4, 4) else -1
      }
      if (p > 0 && !rightWord(in, p)) p else -1
    }

    /** End of the digit run at `p` when its length is in [lo, hi], else −1. */
    private def digits(p: Int, lo: Int, hi: Int): Int = {
      var q = p
      while (q < n && q - p <= hi && isDigit(in(q))) q += 1
      if (q - p >= lo && q - p <= hi) q else -1
    }
  }

  @inline private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  @inline private def isLetter(c: Byte): Boolean = {
    val f = c | 0x20
    f >= 'a' && f <= 'z'
  }
  @inline private def isLocal(c: Byte): Boolean =
    isLetter(c) || isDigit(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  @inline private def isDomain(c: Byte): Boolean =
    isLetter(c) || isDigit(c) || c == '.' || c == '-'
  @inline private def isPhoneSep(c: Byte): Boolean = c == '-' || c == '.'

  /** Start of the code point that ends at `i` (> 0) of valid UTF-8. */
  private def prevStart(b: Array[Byte], i: Int): Int = {
    var j = i - 1
    while (j > 0 && (b(j) & 0xC0) == 0x80) j -= 1
    j
  }

  /** The code point of valid UTF-8 starting at `i`. */
  private def codePointAt(b: Array[Byte], i: Int): Int = {
    val c = b(i) & 0xFF
    if (c < 0x80) c
    else if (c < 0xE0) ((c & 0x1F) << 6) | (b(i + 1) & 0x3F)
    else if (c < 0xF0) ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
    else ((c & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) | ((b(i + 2) & 0x3F) << 6) |
      (b(i + 3) & 0x3F)
  }

  @inline private def isWord(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)
  @inline private def isMark(cp: Int): Boolean =
    Character.getType(cp) == Character.NON_SPACING_MARK

  /** `Pattern.hasBaseCharacter` walking back from the code point that
    * ends at `i`: marks are skipped, a BMP letter or digit is a base, and
    * anything else, a supplementary code point or the start included,
    * ends the walk with no base.
    */
  private def baseBefore(b: Array[Byte], i: Int): Boolean = {
    var e = i
    while (e > 0) {
      val j = prevStart(b, e)
      val cp = codePointAt(b, j)
      if (cp >= 0x10000) return false
      if (Character.isLetterOrDigit(cp)) return true
      if (!isMark(cp)) return false
      e = j
    }
    false
  }

  /** `\b`'s left side at `i`: is the code point before `i` a word character? */
  private def leftWord(b: Array[Byte], i: Int): Boolean =
    i > 0 && {
      val j = prevStart(b, i)
      val cp = codePointAt(b, j)
      isWord(cp) || (cp < 0x10000 && isMark(cp) && baseBefore(b, j))
    }

  /** `\b`'s right side at `i`: is the code point at `i` a word character? */
  private def rightWord(b: Array[Byte], i: Int): Boolean =
    i < b.length && {
      val cp = codePointAt(b, i)
      isWord(cp) || (isMark(cp) && baseBefore(b, i))
    }

  /** The struct type of [[PiiScan]]: every field is null exactly for a
    * null text, as the regex forms' counts and text are.
    */
  def scanType(nullable: Boolean): StructType = StructType(
    Categories.map(c => StructField(s"n_${c._1}", LongType, nullable)) :+
      StructField("text", StringType, nullable))
}

/** `PiiScan(text)` → `(n_email, n_ip, n_ssn, n_phone, text)`: the PII
  * counts and the redacted text of one document from one kernel call
  * (never null; its fields are null for a null text). `piiStats` reads
  * the counts and `redactPii` the text, so a projection holding both
  * shares one call. See [[PiiUtil]].
  */
case class PiiScan(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = PiiUtil.scanType(child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "pii_scan"

  override def eval(input: InternalRow): Any =
    PiiUtil.scan(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      InternalRow ${ev.value} = org.apache.spark.sql.graft.PiiUtil.scan(
        ${t.isNull} ? null : ${t.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PiiScan =
    copy(child = newChild)
}

/** Column-level entry point for the PII kernel. */
object PiiExpressions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils

  /** [[PiiScan]] of `text`. */
  def piiScan(text: Column): Column =
    ExpressionUtils.column(PiiScan(ExpressionUtils.expression(text)))
}
