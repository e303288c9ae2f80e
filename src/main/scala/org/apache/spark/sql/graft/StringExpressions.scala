// Hosted under org.apache.spark.sql so the expressions can use the
// private[sql] pieces of the extension surface (classic.ExpressionUtils
// for the Column <-> Expression bridge) — the standard packaging for
// native Catalyst expression libraries.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for [[DeletionHashes]] — static so both the
  * interpreted eval and the generated code call the same body.
  */
object DeletionHashUtil {
  // FNV-64 prime as the polynomial base; the final murmur3 fmix64
  // avalanche breaks the algebraic structure so banding/bucketing
  // downstream sees uniform bits
  private final val B = 1099511628211L

  @inline private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 64-bit hashes of {key} ∪ {key with one code point deleted},
    * mixed with the block-prefix hash — identity first, then the
    * deletion at each position in order.
    *
    * One O(n) pass instead of materializing n strings of length n-1:
    * with H(x) = Σ x(k)·B^(m-1-k), the deletion at i factors into a
    * left-fold prefix value and a positional-power suffix sum,
    * H(del_i) = V(i)·B^(n-1-i) + S(i+1) — so a length-n key costs
    * ~4n long ops and ZERO string allocation (the old expression-tree
    * form built n substring concats per key: measured ~14 CPU-seconds
    * and gigabytes of char churn per 8.6M variants, the GC driver of
    * the x30 recording's variance).
    *
    * Equality semantics match string equality of the variants exactly,
    * modulo 64-bit collisions — which the caller's verification plus
    * structural prefix re-check make additive-only, never lossy.
    * Deletions are per CODE POINT, the unit `levenshtein` counts, so
    * the maxDist ≤ 1 completeness argument holds beyond the BMP.
    */
  def hashes(key: UTF8String, pfx: UTF8String): ArrayData = {
    val cps = key.toString.codePoints().toArray
    val n = cps.length
    val pfxH = fmix(pfx.hashCode().toLong * B + 0x9e3779b97f4a7c15L)
    // pow(k) = B^k; suf(i) = Σ_{j>=i} cp(j)·B^(n-1-j) — absolute
    // exponents, so suf(i+1) drops into the deleted-string hash as-is
    val pow = new Array[Long](n + 1)
    pow(0) = 1L
    var k = 1
    while (k <= n) { pow(k) = pow(k - 1) * B; k += 1 }
    val suf = new Array[Long](n + 1)
    var j = n - 1
    while (j >= 0) { suf(j) = cps(j) * pow(n - 1 - j) + suf(j + 1); j -= 1 }
    val out = new Array[Long](n + 1)
    out(0) = fmix(suf(0) ^ pfxH) // identity: H of the full key
    var v = 0L                   // left fold: V(i) = Σ_{j<i} cp(j)·B^(i-1-j)
    var i = 0
    while (i < n) {
      out(i + 1) = fmix((v * pow(n - 1 - i) + suf(i + 1)) ^ pfxH)
      v = v * B + cps(i)
      i += 1
    }
    // primitive-array form: GenericArrayData(Array[Long]) boxes every
    // element — hundreds of millions of Long objects at 30× — while
    // the unsafe form is one flat allocation the explode reads as-is
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `DeletionHashes(key, pfx)` → `array<long>`: the deletion
  * neighborhood of `key` as 64-bit hashes (identity + one hash per
  * deleted code point), each mixed with the hash of `pfx` so the
  * block key rides inside the join key. The fuzzyJoin deletion path's
  * per-unit kernel — see [[DeletionHashUtil.hashes]] for the O(n)
  * formulation and the collision-safety argument.
  */
case class DeletionHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "deletion_hashes"

  override protected def nullSafeEval(k: Any, p: Any): Any =
    DeletionHashUtil.hashes(k.asInstanceOf[UTF8String],
      p.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, p) =>
      s"${ev.value} = org.apache.spark.sql.graft.DeletionHashUtil.hashes($k, $p);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DeletionHashes =
    copy(left = newLeft, right = newRight)
}

/** Shared kernel for [[HashFeatureBuckets]] — static so both the
  * interpreted eval and the generated code call the same body.
  */
object FeatureBucketUtil {
  private final val P = 2147483647L // PortableHash.P (Mersenne 2^31-1)
  private final val MaxLen = 64     // PortableHash.MaxLen

  /** Hashed token-n-gram feature buckets of `text` — bit-identical to
    * the expression-tree form it replaces
    * (`transform(concat(ngramArray*), g -> polyHash(g) % dim)`,
    * TextFunctions.scala), replayed natively in ONE pass:
    *
    *   - tokens: `split(text, " ")` semantics — literal single-space
    *     separator, Java limit −1: empty input → one empty token
    *     (bucket 0), interior/trailing empty tokens kept (probed,
    *     not assumed);
    *   - grams: for each width n, the `count − n + 1` windows of n
    *     consecutive tokens joined by a single space (none when the
    *     doc has fewer than n tokens), unigram widths emitting the
    *     tokens themselves — all widths in caller order, matching the
    *     `concat` of per-width arrays;
    *   - hash: the PortableHash Horner fold `(acc·31 + cp) % P` over
    *     the gram's first [[MaxLen]] CODE POINTS (Spark's `ascii`/
    *     `substr`/`length` are code-point-based — probed on
    *     surrogate-pair input), empty gram → 0, then `% dim`.
    *
    * The fold runs over the token array directly — the joining space
    * is hashed as code point 32 in stream — so a document costs one
    * split plus ~4 long ops per gram code point, with ZERO gram-
    * string allocation. The expression tree it replaces built every
    * gram string (slice + array_join), then re-walked it per
    * character with `substr(i, 1)` + `ascii` inside nested
    * higher-order functions — non-codegen, one single-char UTF8String
    * allocation per code point; measured 4.2 s of the quality_train
    * bench row's ~8 s at sf0.1 (the dominant term and, with its
    * allocation churn, the row's GC-variance driver).
    */
  def buckets(text: UTF8String, dim: Int, grams: Array[Int]): ArrayData = {
    val s = text.toString
    // Java limit -1 split: empty input -> [""] (one empty token that
    // hashes to bucket 0), interior/trailing empties kept — probed
    // equal to Spark's split() on all the spec's adversarial inputs
    val toks: Array[String] = s.split(" ", -1)
    val nT = toks.length
    var total = 0
    var gi = 0
    while (gi < grams.length) {
      val n = grams(gi)
      if (nT >= n) total += nT - n + 1
      gi += 1
    }
    val out = new Array[Long](total)
    var o = 0
    gi = 0
    while (gi < grams.length) {
      val n = grams(gi)
      var i = 0
      while (i + n <= nT) {
        out(o) = gramBucket(toks, i, n, dim)
        o += 1; i += 1
      }
      gi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** polyHash(toks(start..start+n-1) joined by " ") % dim, folding
    * code points in stream with the MaxLen cap counted over the
    * JOINED gram (separators included), exactly like `polyHash` of
    * the materialized gram string.
    */
  private def gramBucket(toks: Array[String], start: Int, n: Int,
      dim: Int): Long = {
    var h = 0L
    var budget = MaxLen
    var k = start
    while (k < start + n && budget > 0) {
      if (k > start) { h = (h * 31L + 32L) % P; budget -= 1 }
      val tk = toks(k)
      var ci = 0
      while (ci < tk.length && budget > 0) {
        val cp = tk.codePointAt(ci)
        h = (h * 31L + cp) % P
        ci += Character.charCount(cp)
        budget -= 1
      }
      k += 1
    }
    h % dim
  }
}

/** `HashFeatureBuckets(text)` → `array<long>`: hashing-trick feature
  * buckets (token n-grams → polyHash % dim) as a native codegen'd
  * expression — the featurization kernel behind the quality-model
  * train/score surface. `dim` and `grams` are literal parameters of
  * the operator, not data inputs. See [[FeatureBucketUtil.buckets]]
  * for the exact (probed) semantics contract with the expression
  * tree it replaces.
  */
case class HashFeatureBuckets(child: Expression, dim: Int, grams: Seq[Int])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_feature_buckets"

  @transient private lazy val gramsArr: Array[Int] = grams.toArray

  override protected def nullSafeEval(t: Any): Any =
    FeatureBucketUtil.buckets(t.asInstanceOf[UTF8String], dim, gramsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gramsRef = ctx.addReferenceObj("grams", gramsArr, "int[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.FeatureBucketUtil" +
        s".buckets($t, $dim, $gramsRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): HashFeatureBuckets = copy(child = newChild)
}

/** Shared kernel for [[ScriptCharCounts]] — static so both the
  * interpreted eval and the generated code call the same body.
  *
  * Counts per code point, exactly what `regexp_count(text, cls)`
  * counts for the single-character classes of
  * [[graft.functions.TextFunctions.ScriptClasses]] (each match is one
  * code point; all classes are BMP-only, so surrogate halves match
  * nothing), plus Java `\s` (the ASCII set `[ \t\n\x0B\f\r]` —
  * java.util.regex without UNICODE_CHARACTER_CLASS) and the total —
  * so `nonws = total − ws` equals
  * `length(regexp_replace(text, "\\s", ""))` (Spark `length` counts
  * code points). Round-15: the regex formulation paid THIRTEEN
  * java.util.regex scans of every document per text_signals row (6
  * script classes + garbage + non-ws for scriptFractions, and 5
  * fractions recomputed by langIdScript); this is ONE pass, and
  * whole-stage codegen's common-subexpression elimination shares the
  * single call between both consumers in the same projection.
  */
object ScriptCountUtil {
  // slots: 0..5 = ScriptClasses order (latin, cyrillic, arabic, han,
  // kana, hangul), 6 = garbage, 7 = non-whitespace total
  final val NSlots = 8

  def counts(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new Array[Long](NSlots)
    var total = 0L
    var ws = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      total += 1
      // the classes below are mutually exclusive EXCEPT garbage ∩ \s
      // = {0x0B, 0x0C}: regexp_count over GarbageClass counts those
      // two while nonWsChars excludes them from its denominator, so
      // ws and garbage are tallied independently
      if (cp == 0x20 || (cp >= 0x09 && cp <= 0x0D)) ws += 1
      if (cp <= 0x08 || cp == 0x0B || cp == 0x0C ||
        (cp >= 0x0E && cp <= 0x1F) || cp == 0xFFFD) out(6) += 1
      else if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= 0x00C0 && cp <= 0x024F)) out(0) += 1
      else if (cp >= 0x0400 && cp <= 0x04FF) out(1) += 1
      else if ((cp >= 0x0600 && cp <= 0x06FF) ||
        (cp >= 0x0750 && cp <= 0x077F)) out(2) += 1
      else if ((cp >= 0x4E00 && cp <= 0x9FFF) ||
        (cp >= 0x3400 && cp <= 0x4DBF)) out(3) += 1
      else if (cp >= 0x3040 && cp <= 0x30FF) out(4) += 1
      else if ((cp >= 0xAC00 && cp <= 0xD7AF) ||
        (cp >= 0x1100 && cp <= 0x11FF)) out(5) += 1
    }
    out(7) = total - ws
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** One-pass per-code-point script/charset counts (see
  * [[ScriptCountUtil]] for the exact regexp_count semantics
  * contract). Output: `array<long>` in [[ScriptCountUtil]] slot
  * order. CorpusSpec pins equality against the retired regex
  * formulation on mixed-script/surrogate/control fixtures.
  */
case class ScriptCharCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "script_char_counts"

  override protected def nullSafeEval(t: Any): Any =
    ScriptCountUtil.counts(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.ScriptCountUtil.counts($t);")

  override protected def withNewChildInternal(
      newChild: Expression): ScriptCharCounts = copy(child = newChild)
}

/** Shared kernel for [[FingerprintFold]]. Reproduces
  * `aggregate(split(text, " "), 0L, (acc, w) =>
  *   (acc*31 + conv(substring(md5(w),1,8),16,10)::long) % 1000000007)`
  * byte-for-byte: split on every single 0x20 (a UTF-8 space byte
  * never occurs inside a multi-byte sequence, so byte splitting IS
  * character splitting; Java split with limit −1 keeps leading /
  * interior / trailing empty tokens, and so does this scan — n
  * separators always yield n+1 tokens), md5 over each token's UTF-8
  * bytes, first 4 digest bytes as the unsigned 32-bit value
  * `conv(first-8-hex-chars, 16, 10)` parses, same fold arithmetic
  * (no intermediate exceeds 2^36, so Long math is exact). What it
  * deletes vs the expression tree: the per-word 32-char hex string,
  * the substring, and the string→decimal→long conv round-trip.
  */
object FingerprintUtil {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def fingerprint(text: UTF8String): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    val md = mdLocal.get()
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val h = md.digest()
        val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        acc = (acc * 31 + v) % 1000000007L
        start = i + 1
      }
      i += 1
    }
    acc
  }
}

/** Native twin of [[graft.functions.TextFunctions.fingerprint]]'s
  * fold (see [[FingerprintUtil]] for the semantics contract).
  * CorpusSpec pins equality against the retained tree form.
  */
case class FingerprintFold(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint_fold"

  override protected def nullSafeEval(t: Any): Any =
    FingerprintUtil.fingerprint(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.FingerprintUtil.fingerprint($t);")

  override protected def withNewChildInternal(
      newChild: Expression): FingerprintFold = copy(child = newChild)
}

/** Shared kernel for [[NormalizeForDedup]]. Reproduces
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]",
  * " "), "\\s+", " "))` in one pass over the lowercased bytes:
  *
  *  - lowercasing FIRST via the same UTF8String.toLowerCase Spark's
  *    `lower` uses (Unicode one-to-many expansions like İ → i +
  *    combining dot must see the same intermediate);
  *  - every code point outside [a-z0-9] — whether original \s or a
  *    replaced char — becomes whitespace; since the kept set is pure
  *    ASCII, BYTE-level classification is exact (all bytes of a
  *    multi-byte sequence are ≥ 0x80 and each such sequence collapses
  *    into the surrounding run);
  *  - maximal non-kept runs emit one 0x20 (regex pass 2 collapses
  *    every \s+ run of the pass-1 output, whose non-kept chars are
  *    all \s by then), leading/trailing runs emit nothing (trim).
  *
  * What it deletes vs the chain: three full regex engine passes and
  * four intermediate string allocations per document.
  */
object NormalizeUtil {
  def normalize(text: UTF8String): UTF8String = {
    val lowered = text.toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val kept = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (kept) {
        if (pendingSpace && o > 0) { out(o) = 0x20; o += 1 }
        out(o) = b
        o += 1
        pendingSpace = false
      } else pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

/** Native twin of
  * [[graft.functions.TextFunctions.normalizeForDedup]] (see
  * [[NormalizeUtil]] for the semantics contract). CorpusSpec pins
  * equality against the retained regex-chain form.
  */
case class NormalizeForDedup(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_for_dedup"

  override protected def nullSafeEval(t: Any): Any =
    NormalizeUtil.normalize(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.NormalizeUtil.normalize($t);")

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeForDedup = copy(child = newChild)
}

/** Shared kernel for [[TokenWindows]]. Reproduces the expression trees
  * the three window builders of [[graft.functions.TextFunctions]] were
  * (the tree forms are kept as test references):
  *
  *   - word n-grams `transform(sequence(0, size(w) − n), i ->
  *     array_join(slice(w, i+1, n), sep))` guarded by `size(w) >= n`,
  *     `w = split(text, Pattern.quote(sep))`;
  *   - character n-grams `transform(sequence(0, length(text) − n),
  *     i -> substr(text, i+1, n))` guarded by `length(text) >= n`;
  *   - token chunks `transform(sequence(0, nChunks − 1), i ->
  *     array_join(slice(w, i·step + 1, size), sep))`.
  *
  * Semantics contract (each point probed against the tree forms):
  *
  *   - tokens, `sep` non-empty: Java `split` with limit −1 on the
  *     literal `sep`, leftmost and non-overlapping (`"aa"` cuts
  *     `"aaa"` into `"", "a"`); n separators always give n+1 tokens,
  *     so `""` is one empty token and leading, trailing and repeated
  *     separators give empty tokens. The split runs on the UTF-8
  *     bytes: a valid UTF-8 separator can only match at code-point
  *     boundaries, so byte matching IS code-point matching. Input that
  *     is not valid UTF-8 is re-encoded first through `toString`, as
  *     `split` decodes it (each malformed sequence → U+FFFD). A
  *     separator holding an unpaired surrogate never matches, as in
  *     Java regex;
  *   - tokens, `sep` empty: one token per character, stepped by
  *     `UTF8String.numBytesForFirstByte` over the raw bytes — the walk
  *     `length` and `substr` make, so malformed bytes slice exactly as
  *     `substr` slices them (a sequence truncated by the end of the
  *     text is clamped, where `substr` would read past it); `""` has
  *     no tokens;
  *   - windows: window i covers tokens [i·step, i·step + width). Full
  *     windows only (`partial = false`): none when there are fewer
  *     than `width` tokens. Chunks (`partial = true`): at least one
  *     window, the last one cut at the last token, no window that adds
  *     no new token;
  *   - values: consecutive tokens are separated by exactly one `sep`,
  *     so a window joined with `sep` IS the byte range from its first
  *     token's start to its last token's end — each window is a view
  *     of one private copy of the document's bytes, nothing is
  *     re-encoded or re-joined;
  *   - null text: an empty array for full windows (the trees' guard
  *     is null, so they take the empty `otherwise`), null for chunks.
  *
  * Two deliberate departures, both on chunks: the chunk tree gave a null
  * text one null chunk (its count skipped the null token count), and
  * with `sep = ""` it split on an empty regex, which cut surrogate pairs
  * into '?' halves and added a trailing empty token; chunks over
  * characters now use the character tokens above.
  *
  * Why native: Spark runs a higher-order function's lambda interpreted,
  * with no shared subexpressions, so the trees split the document (a
  * full regex pass plus one string per token) once per gram —
  * quadratic in the token count.
  */
object TokenWindowUtil {
  /** `sep` as UTF-8, the form [[windows]] matches. A separator with an
    * unpaired surrogate becomes 0xFF, a byte valid UTF-8 never holds:
    * it never matches, as the surrogate never matches in Java regex.
    */
  def sepBytes(sep: String): Array[Byte] =
    if (sep.codePoints().anyMatch(cp => cp >= 0xD800 && cp <= 0xDFFF))
      Array(0xFF.toByte)
    else sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def windows(text: UTF8String, sep: Array[Byte], width: Int, step: Int,
      partial: Boolean): ArrayData = {
    if (text == null)
      return if (partial) null else new GenericArrayData(Array.empty[Any])
    val src = if (sep.length == 0 || text.isValid) text
      else UTF8String.fromString(text.toString)
    val b = new Array[Byte](src.numBytes)
    src.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    val n = b.length
    val gap = sep.length
    // token t spans [starts(t), starts(t+1) − gap); the last one ends at n
    var starts = new Array[Int](16)
    var k = 0
    var i = 0
    if (gap == 0) {
      while (i < n) {
        starts = put(starts, k, i); k += 1
        i += UTF8String.numBytesForFirstByte(b(i))
      }
    } else {
      starts = put(starts, k, 0); k += 1
      while (i <= n - gap) {
        var j = 0
        while (j < gap && b(i + j) == sep(j)) j += 1
        if (j == gap) { i += gap; starts = put(starts, k, i); k += 1 }
        else i += 1
      }
    }
    val count =
      if (partial) 1 + (math.max(k - width, 0) + step - 1) / step
      else if (k < width) 0
      else (k - width) / step + 1
    val out = new Array[Any](count)
    var w = 0
    while (w < count) {
      val first = w * step
      val last = math.min(first + width, k) - 1
      out(w) =
        if (last < first) UTF8String.EMPTY_UTF8
        else {
          val end = if (last + 1 < k) starts(last + 1) - gap else n
          UTF8String.fromBytes(b, starts(first), end - starts(first))
        }
      w += 1
    }
    new GenericArrayData(out)
  }

  private def put(a: Array[Int], k: Int, v: Int): Array[Int] = {
    val r = if (k == a.length) java.util.Arrays.copyOf(a, k * 2) else a
    r(k) = v
    r
  }
}

/** `TokenWindows(text)` → `array<string>`: the token windows of
  * `text` — word n-grams, character n-grams (`sep = ""`) or chunks
  * (`partial`) — in one byte scan, as a native codegen'd expression.
  * `sep`, `width`, `step` and `partial` are literal parameters. See
  * [[TokenWindowUtil]] for the semantics contract with the expression
  * trees it replaces; the output type and nullability are theirs.
  */
case class TokenWindows(child: Expression, sep: String, width: Int,
    step: Int, partial: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_windows"

  @transient private lazy val sepBytes: Array[Byte] =
    TokenWindowUtil.sepBytes(sep)

  override def eval(input: InternalRow): Any =
    TokenWindowUtil.windows(child.eval(input).asInstanceOf[UTF8String],
      sepBytes, width, step, partial)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val sepRef = ctx.addReferenceObj("sep", sepBytes, "byte[]")
    ev.copy(code = code"""
      ${t.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        org.apache.spark.sql.graft.TokenWindowUtil.windows(
          ${t.isNull} ? null : ${t.value}, $sepRef, $width, $step, $partial);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenWindows = copy(child = newChild)
}

/** Byte-level helpers shared by the curation rule kernels ([[C4Lines]],
  * [[C4DocFlags]], [[GopherFlags]], [[MarkerCount]], [[MarkerLangId]]),
  * which replace the `split` + `filter` lambda trees of
  * [[graft.functions.TextFunctions]] (kept as test references in
  * `TextTreeForms`). Every kernel walks the UTF-8 bytes once; the
  * contract they share with the trees:
  *
  *   - tokens are a literal split on `" "` (words) or `"\n"` (lines)
  *     with limit −1: n separators give n+1 pieces, so `""` is one empty
  *     piece and leading, trailing and repeated separators give empty
  *     ones. A space or newline byte never occurs inside a multi-byte
  *     sequence, so byte splitting IS character splitting;
  *   - input that is not valid UTF-8 is re-encoded first through
  *     `toString`, as `split` decodes it (each malformed sequence →
  *     U+FFFD), see [[splitBytes]];
  *   - every class the rules test is ASCII (`[A-Za-z]`, `#`, `{`, `.`,
  *     `!`, `?`, `"`, `-`, `*`), a multi-byte sequence holds no ASCII
  *     byte, and decoding keeps every ASCII byte of malformed input, so
  *     byte tests are exact: the last byte of a line is one of `.!?"`
  *     exactly when its last code point is;
  *   - lengths count code points (the non-continuation bytes), as
  *     Spark's `length` does;
  *   - markers and stop words match whole tokens exactly and
  *     case-sensitively, as the bytes of their string literal
  *     ([[MarkerTable]]);
  *   - `lower(x).contains(needle)` runs ASCII-only input through ASCII
  *     case folding, which is what Spark's `Lower` does with it, and
  *     any other input through Spark's own `Lower` ([[lowerContains]]),
  *     so `"JAVASCRİPT"` (U+0130 lowers to `i` + U+0307) is no match.
  */
object TextRuleUtil {
  /** The text's bytes as `split` sees them: valid UTF-8 as is, anything
    * else decoded and re-encoded through `toString`.
    */
  def splitBytes(text: UTF8String): Array[Byte] =
    (if (text.isValid) text else UTF8String.fromString(text.toString)).getBytes

  /** `lower(b[s, e)).contains(needle)` for a lower-case ASCII `needle`:
    * ASCII case folding when the slice is ASCII, Spark's `Lower` (with
    * the session's `useICU`) on the slice otherwise.
    */
  def lowerContains(b: Array[Byte], s: Int, e: Int, needle: Array[Byte],
      useICU: Boolean): Boolean = {
    var found = false
    var i = s
    while (i < e) {
      if (b(i) < 0) {
        val lowered = CollationSupport.Lower.exec(UTF8String.fromBytes(b, s, e - s),
          CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
        return lowered.contains(UTF8String.fromBytes(needle))
      }
      if (!found && i + needle.length <= e) {
        var j = 0
        while (j < needle.length && asciiLower(b(i + j)) == needle(j)) j += 1
        found = j == needle.length
      }
      i += 1
    }
    found
  }

  @inline private def asciiLower(c: Byte): Byte =
    if (c >= 'A' && c <= 'Z') (c + 32).toByte else c

  /** Number of non-empty `" "`-separated words in `b[s, e)`. */
  def words(b: Array[Byte], s: Int, e: Int): Int = {
    var n = 0
    var i = s
    while (i < e) {
      if (b(i) != 0x20 && (i == s || b(i - 1) == 0x20)) n += 1
      i += 1
    }
    n
  }

  /** End of the line starting at `s`: the next `\n` or the end. */
  def lineEnd(b: Array[Byte], s: Int): Int = {
    var e = s
    while (e < b.length && b(e) != 0x0A) e += 1
    e
  }
}

/** Token → marker-set lookup for the marker kernels: `sets(k)` is a list
  * of marker words, a token counts once for each set holding it (an
  * `isin` per set). Markers are compared as the bytes of
  * `UTF8String.fromString(m)`, the bytes of the string literal the tree
  * forms compared against.
  */
final class MarkerTable(sets: Seq[Seq[String]]) extends Serializable {
  val nSets: Int = sets.size
  private val words: Array[Array[Byte]] =
    sets.flatten.distinct.map(m => UTF8String.fromString(m).getBytes).toArray
  private val owners: Array[Array[Int]] = sets.flatten.distinct.map(m =>
    sets.indices.filter(k => sets(k).contains(m)).toArray).toArray
  // word indices by byte length: a token is compared with same-length words only
  private val byLen: Array[Array[Int]] = {
    val maxLen = words.map(_.length).maxOption.getOrElse(-1)
    Array.tabulate(maxLen + 1)(l => words.indices.filter(words(_).length == l).toArray)
  }

  /** Adds 1 to `counts(k)` for every set k that holds the token `b[s, e)`. */
  def hit(b: Array[Byte], s: Int, e: Int, counts: Array[Int]): Unit = {
    val len = e - s
    if (len < byLen.length) {
      val cands = byLen(len)
      var c = 0
      while (c < cands.length) {
        val w = words(cands(c))
        var j = 0
        while (j < len && b(s + j) == w(j)) j += 1
        if (j == len) {
          val ks = owners(cands(c))
          var k = 0
          while (k < ks.length) { counts(ks(k)) += 1; k += 1 }
          return
        }
        c += 1
      }
    }
  }

  /** Per-set counts of the `" "`-separated tokens of `b` (empty tokens
    * included); the token count goes in the extra last slot.
    */
  def count(b: Array[Byte]): Array[Int] = {
    val counts = new Array[Int](nSets + 1)
    var s = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        hit(b, s, i, counts)
        counts(nSets) += 1
        s = i + 1
      }
      i += 1
    }
    counts
  }
}

/** Shared kernels of [[MarkerCount]] and [[MarkerLangId]]. They replace
  * `size(filter(split(text, " "), w -> w.isin(markers)))` per marker set
  * (and, for language ID, one such walk per language inside every
  * `when(score === greatest(scores))` branch) with one token walk that
  * counts every set at once ([[MarkerTable.count]]). Contract in
  * [[TextRuleUtil]].
  */
object MarkerUtil {
  private val Und = UTF8String.fromString("und")

  /** Tokens in set 0; with `ratio`, that count over the token count as a
    * double (the tree's `safeDiv`; a text has at least one token).
    */
  def count(text: UTF8String, t: MarkerTable): Int =
    t.count(TextRuleUtil.splitBytes(text))(0)

  def ratio(text: UTF8String, t: MarkerTable): Double = {
    val c = t.count(TextRuleUtil.splitBytes(text))
    c(0).toDouble / c(t.nSets).toDouble
  }

  /** The label of the set with the most hits, the first-listed set on
    * ties, `"und"` when no marker hits or the text is null.
    */
  def langId(text: UTF8String, t: MarkerTable, labels: Array[UTF8String]): UTF8String = {
    if (text == null) return Und
    val c = t.count(TextRuleUtil.splitBytes(text))
    var best = 0
    var k = 1
    while (k < t.nSets) { if (c(k) > c(best)) best = k; k += 1 }
    if (c(best) > 0) labels(best) else Und
  }
}

/** `MarkerCount(text)` → the number of `" "`-separated tokens of `text`
  * that are in `markers` (`int`, null for a null text), or with `ratio`
  * that number over the token count (`double`). See [[MarkerUtil]].
  */
case class MarkerCount(child: Expression, markers: Seq[String], ratio: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = if (ratio) DoubleType else IntegerType
  // the tree's ratio was a safeDiv, nullable whatever the text
  override def nullable: Boolean = ratio || child.nullable
  override def prettyName: String = "marker_count"

  @transient private lazy val table = new MarkerTable(Seq(markers))

  override protected def nullSafeEval(t: Any): Any =
    if (ratio) MarkerUtil.ratio(t.asInstanceOf[UTF8String], table)
    else MarkerUtil.count(t.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markers", table, classOf[MarkerTable].getName)
    val fn = if (ratio) "ratio" else "count"
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.MarkerUtil.$fn($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerCount =
    copy(child = newChild)
}

/** `MarkerLangId(text)` → the marker language ID of `text`: the language
  * whose markers hit most tokens, the first-listed on ties, `"und"` when
  * none hits (never null). See [[MarkerUtil.langId]].
  */
case class MarkerLangId(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(langs.nonEmpty, "language ID needs at least one marker list")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "marker_lang_id"

  @transient private lazy val table = new MarkerTable(langs.map(_._2))
  @transient private lazy val labels = langs.map(l => UTF8String.fromString(l._1)).toArray

  override def eval(input: InternalRow): Any =
    MarkerUtil.langId(child.eval(input).asInstanceOf[UTF8String], table, labels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val tableRef = ctx.addReferenceObj("markers", table, classOf[MarkerTable].getName)
    val labelsRef = ctx.addReferenceObj("labels", labels, "UTF8String[]")
    ev.copy(code = code"""
      ${t.code}
      UTF8String ${ev.value} = org.apache.spark.sql.graft.MarkerUtil.langId(
        ${t.isNull} ? null : ${t.value}, $tableRef, $labelsRef);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerLangId =
    copy(child = newChild)
}

/** Shared kernels of [[C4Lines]] and [[C4DocFlags]], C4's line filter
  * and page flags (Raffel et al. 2020 §2.2) in one walk over the lines.
  * A line is kept when, after trimming trailing ASCII spaces (Spark's
  * `rtrim`; so a line ending `".\r"` fails), its last code point is one
  * of `.!?"`, it has at least `minLineWords` non-empty `" "`-separated
  * words, and `lower(line)` does not contain `"javascript"`. Contract in
  * [[TextRuleUtil]]; the tree forms re-split the text once per consumer
  * and once more per line inside the filter lambda.
  */
object C4Util {
  private val Javascript = "javascript".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Lorem = "lorem ipsum".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def keep(b: Array[Byte], s: Int, e: Int, minLineWords: Int,
      useICU: Boolean): Boolean = {
    var t = e
    while (t > s && b(t - 1) == 0x20) t -= 1
    t > s && {
      val c = b(t - 1)
      c == '.' || c == '!' || c == '?' || c == '"'
    } && TextRuleUtil.words(b, s, e) >= minLineWords &&
      !TextRuleUtil.lowerContains(b, s, e, Javascript, useICU)
  }

  /** The kept lines joined by `"\n"` (`""` when none is kept). */
  def filtered(text: UTF8String, minLineWords: Int, useICU: Boolean): UTF8String = {
    val b = TextRuleUtil.splitBytes(text)
    val out = new Array[Byte](b.length)
    var o = 0
    var s = 0
    while (s <= b.length) {
      val e = TextRuleUtil.lineEnd(b, s)
      if (keep(b, s, e, minLineWords, useICU)) {
        // a kept line is never empty, so o > 0 exactly after a kept line
        if (o > 0) { out(o) = 0x0A; o += 1 }
        System.arraycopy(b, s, out, o, e - s)
        o += e - s
      }
      s = e + 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** `(n_sentences, has_brace, has_lorem_ipsum, n_kept_lines, pass)`:
    * the `.!?` count, `{` presence, `lower(text)` containing
    * `"lorem ipsum"`, the kept-line count, and the page verdict; every
    * field null for a null text.
    */
  def docFlags(text: UTF8String, minSentences: Int, minLineWords: Int,
      useICU: Boolean): InternalRow = {
    if (text == null) return new GenericInternalRow(5)
    val raw = text.getBytes
    val b = if (text.isValid) raw else TextRuleUtil.splitBytes(text)
    var nSentences = 0L
    var hasBrace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == '.' || c == '!' || c == '?') nSentences += 1
      else if (c == '{') hasBrace = true
      i += 1
    }
    val hasLorem = TextRuleUtil.lowerContains(raw, 0, raw.length, Lorem, useICU)
    var kept = 0L
    var s = 0
    while (s <= b.length) {
      val e = TextRuleUtil.lineEnd(b, s)
      if (keep(b, s, e, minLineWords, useICU)) kept += 1
      s = e + 1
    }
    new GenericInternalRow(Array[Any](nSentences, hasBrace, hasLorem, kept,
      nSentences >= minSentences && !hasBrace && !hasLorem))
  }

  /** The tree's struct schema: each field is null exactly for a null text. */
  def flagsType(nullable: Boolean): StructType = StructType(Seq(
    StructField("n_sentences", LongType, nullable),
    StructField("has_brace", BooleanType, nullable),
    StructField("has_lorem_ipsum", BooleanType, nullable),
    StructField("n_kept_lines", LongType, nullable),
    StructField("pass", BooleanType, nullable)))
}

/** `C4Lines(text)` → the lines of `text` that C4's line filter keeps,
  * joined by `"\n"`; null for a null text. See [[C4Util]].
  */
case class C4Lines(child: Expression, minLineWords: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "c4_lines"

  // read from the session when first used, as Spark's Lower reads it
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(t: Any): Any =
    C4Util.filtered(t.asInstanceOf[UTF8String], minLineWords, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.C4Util.filtered($t, $minLineWords, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): C4Lines =
    copy(child = newChild)
}

/** `C4DocFlags(text)` → C4's page flags as one struct (never null; its
  * fields are null for a null text). See [[C4Util.docFlags]].
  */
case class C4DocFlags(child: Expression, minSentences: Int, minLineWords: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = C4Util.flagsType(child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "c4_doc_flags"

  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def eval(input: InternalRow): Any =
    C4Util.docFlags(child.eval(input).asInstanceOf[UTF8String], minSentences,
      minLineWords, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      InternalRow ${ev.value} = org.apache.spark.sql.graft.C4Util.docFlags(
        ${t.isNull} ? null : ${t.value}, $minSentences, $minLineWords, $useICU);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): C4DocFlags =
    copy(child = newChild)
}

/** The thresholds and required stop words of [[GopherFlags]], literal
  * parameters of the expression (defaults in
  * [[graft.functions.TextFunctions.gopherQualityFlags]]).
  */
final case class GopherParams(minWords: Int, maxWords: Int,
    minMeanWordLen: Double, maxMeanWordLen: Double, maxSymbolRatio: Double,
    maxBulletFrac: Double, maxEllipsisFrac: Double, minAlphaWordFrac: Double,
    requiredStops: Seq[String], minStops: Int) {
  // one set per listed stop, so a stop listed twice counts twice, as the
  // tree's sum of per-stop array_contains did
  @transient lazy val stops: MarkerTable = new MarkerTable(requiredStops.map(Seq(_)))
}

/** Shared kernel of [[GopherFlags]]: Gopher's quality rules (Rae et al.
  * 2021, Table A1) in one byte walk. Words are the non-empty `" "`-
  * separated tokens (a newline is part of a word); lines split on
  * `"\n"`. Per word: its code-point length, whether it holds an ASCII
  * letter, and whether it is a required stop. Per line: whether it
  * starts with `"- "` or `"* "` and whether it ends with `"..."`. The
  * symbols are `#` and `...`, counted as `#|\.\.\.` matches do, leftmost
  * and non-overlapping: a run of k dots holds ⌊k/3⌋. Every ratio is
  * `count / n_words` (or `/ n_lines`) in double, null when `n_words` is
  * 0, as the tree's `safeDiv`. Contract in [[TextRuleUtil]].
  */
object GopherUtil {
  def flags(text: UTF8String, p: GopherParams): InternalRow = {
    if (text == null) return nullTextRow(p)
    val b = TextRuleUtil.splitBytes(text)
    val n = b.length
    val stopHits = new Array[Int](p.stops.nSets + 1)
    var nWords = 0L
    var lenSum = 0L
    var nAlpha = 0L
    var nSymbols = 0L
    var nLines = 1L
    var nBullets = 0L
    var nEllipses = 0L
    var wordStart = -1 // start of the current word, −1 between words
    var wordLen = 0
    var wordAlpha = false
    var dots = 0       // length of the current run of '.'
    var lineStart = 0
    var i = 0
    while (i <= n) {
      val c: Int = if (i < n) b(i) else 0x0A
      if (i == n || c == 0x20) {
        if (wordStart >= 0) {
          nWords += 1
          lenSum += wordLen
          if (wordAlpha) nAlpha += 1
          p.stops.hit(b, wordStart, i, stopHits)
          wordStart = -1
        }
      } else {
        if (wordStart < 0) { wordStart = i; wordLen = 0; wordAlpha = false }
        if ((c & 0xC0) != 0x80) wordLen += 1
        val f = c | 0x20
        if (f >= 'a' && f <= 'z') wordAlpha = true
      }
      if (c == '.') dots += 1
      else {
        nSymbols += dots / 3
        if (c == '#') nSymbols += 1
        if (c == 0x0A) {
          if (dots >= 3) nEllipses += 1
          if (i - lineStart >= 2 && (b(lineStart) == '-' || b(lineStart) == '*') &&
            b(lineStart + 1) == 0x20) nBullets += 1
          if (i < n) nLines += 1
          lineStart = i + 1
        }
        dots = 0
      }
      i += 1
    }
    var nStops = 0L
    var k = 0
    while (k < p.stops.nSets) { if (stopHits(k) > 0) nStops += 1; k += 1 }
    def perWord(x: Long): Any = if (nWords == 0) null else x.toDouble / nWords.toDouble
    val meanLen = perWord(lenSum)
    val symbolRatio = perWord(nSymbols)
    val alphaFrac = perWord(nAlpha)
    val bulletFrac = nBullets.toDouble / nLines.toDouble
    val ellipsisFrac = nEllipses.toDouble / nLines.toDouble
    val passWords = nWords >= p.minWords && nWords <= p.maxWords
    val passMeanLen = meanLen != null && {
      val m = meanLen.asInstanceOf[Double]
      m >= p.minMeanWordLen && m <= p.maxMeanWordLen
    }
    val passSymbol = symbolRatio != null && symbolRatio.asInstanceOf[Double] <= p.maxSymbolRatio
    val passBullet = bulletFrac < p.maxBulletFrac
    val passEllipsis = ellipsisFrac < p.maxEllipsisFrac
    val passAlpha = alphaFrac != null && alphaFrac.asInstanceOf[Double] >= p.minAlphaWordFrac
    val passStops = nStops >= p.minStops
    new GenericInternalRow(Array[Any](nWords, meanLen, symbolRatio, bulletFrac,
      ellipsisFrac, alphaFrac, nStops, passWords, passMeanLen, passSymbol,
      passBullet, passEllipsis, passAlpha, passStops,
      passWords && passMeanLen && passSymbol && passBullet && passEllipsis &&
        passAlpha && passStops))
  }

  /** A null text's row, the tree's values with ANSI mode on: no words
    * (n_words, the per-word ratios and the word-count rule null), no
    * lines (fractions 0.0), no stops, `pass` false.
    */
  private def nullTextRow(p: GopherParams): InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, 0.0, 0.0, null, 0L,
      null, false, false, 0.0 < p.maxBulletFrac, 0.0 < p.maxEllipsisFrac, false,
      0L >= p.minStops, false))

  /** The tree's struct schema: n_words, pass_word_count and pass are null
    * only for a null text, the per-word ratios also when there are no
    * words.
    */
  def flagsType(nullable: Boolean): StructType = StructType(Seq(
    StructField("n_words", LongType, nullable),
    StructField("mean_word_len", DoubleType, nullable = true),
    StructField("symbol_ratio", DoubleType, nullable = true),
    StructField("bullet_frac", DoubleType, nullable = false),
    StructField("ellipsis_frac", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = true),
    StructField("n_required_stops", LongType, nullable = false),
    StructField("pass_word_count", BooleanType, nullable),
    StructField("pass_mean_word_len", BooleanType, nullable = false),
    StructField("pass_symbol_ratio", BooleanType, nullable = false),
    StructField("pass_bullets", BooleanType, nullable = false),
    StructField("pass_ellipsis", BooleanType, nullable = false),
    StructField("pass_alpha_words", BooleanType, nullable = false),
    StructField("pass_stopwords", BooleanType, nullable = false),
    StructField("pass", BooleanType, nullable)))
}

/** `GopherFlags(text)` → Gopher's quality signals, per-rule verdicts and
  * composite `pass` as one struct (never null). See [[GopherUtil]].
  */
case class GopherFlags(child: Expression, params: GopherParams)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = GopherUtil.flagsType(child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "gopher_flags"

  override def eval(input: InternalRow): Any =
    GopherUtil.flags(child.eval(input).asInstanceOf[UTF8String], params)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val ref = ctx.addReferenceObj("gopher", params, classOf[GopherParams].getName)
    ev.copy(code = code"""
      ${t.code}
      InternalRow ${ev.value} = org.apache.spark.sql.graft.GopherUtil.flags(
        ${t.isNull} ? null : ${t.value}, $ref);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherFlags =
    copy(child = newChild)
}

/** `SpaceTokenCount(text)` → the size of `split(text, " ")` without the
  * token array: the number of 0x20 bytes plus one, null for a null text.
  * Java's `split` with limit −1 gives n separators n+1 tokens, so `""` is
  * one token and leading, trailing and repeated spaces count empty ones.
  * A space byte never occurs inside a multi-byte sequence, and the
  * decoding `split` applies to malformed UTF-8 keeps every ASCII byte, so
  * the raw bytes are counted as they are.
  */
case class SpaceTokenCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count_ws"

  override protected def nullSafeEval(t: Any): Any =
    TokenCountUtil.spaces(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"org.apache.spark.sql.graft.TokenCountUtil.spaces($t)")

  override protected def withNewChildInternal(newChild: Expression): SpaceTokenCount =
    copy(child = newChild)
}

/** Shared kernel of [[SpaceTokenCount]]. */
object TokenCountUtil {
  def spaces(text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var n = 1
    var i = 0
    while (i < text.numBytes) {
      if (Platform.getByte(base, off + i) == 0x20) n += 1
      i += 1
    }
    n
  }
}

object StringExpressions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def markerCount(text: Column, markers: Seq[String], ratio: Boolean): Column =
    ExpressionUtils.column(MarkerCount(ExpressionUtils.expression(text), markers, ratio))

  def markerLangId(text: Column, langs: Seq[(String, Seq[String])]): Column =
    ExpressionUtils.column(MarkerLangId(ExpressionUtils.expression(text), langs))

  def c4Lines(text: Column, minLineWords: Int): Column =
    ExpressionUtils.column(C4Lines(ExpressionUtils.expression(text), minLineWords))

  def c4DocFlags(text: Column, minSentences: Int, minLineWords: Int): Column =
    ExpressionUtils.column(
      C4DocFlags(ExpressionUtils.expression(text), minSentences, minLineWords))

  def gopherFlags(text: Column, params: GopherParams): Column =
    ExpressionUtils.column(GopherFlags(ExpressionUtils.expression(text), params))

  def tokenWindows(text: Column, sep: String, width: Int, step: Int,
      partial: Boolean): Column =
    ExpressionUtils.column(
      TokenWindows(ExpressionUtils.expression(text), sep, width, step, partial))

  def deletionHashes(key: Column, pfx: Column): Column =
    ExpressionUtils.column(
      DeletionHashes(ExpressionUtils.expression(key),
        ExpressionUtils.expression(pfx)))

  def hashFeatureBuckets(text: Column, dim: Int, grams: Seq[Int]): Column =
    ExpressionUtils.column(
      HashFeatureBuckets(ExpressionUtils.expression(text), dim, grams))

  def scriptCharCounts(text: Column): Column =
    ExpressionUtils.column(
      ScriptCharCounts(ExpressionUtils.expression(text)))

  def fingerprintFold(text: Column): Column =
    ExpressionUtils.column(
      FingerprintFold(ExpressionUtils.expression(text)))

  def normalizeForDedup(text: Column): Column =
    ExpressionUtils.column(
      NormalizeForDedup(ExpressionUtils.expression(text)))

  def spaceTokenCount(text: Column): Column =
    ExpressionUtils.column(SpaceTokenCount(ExpressionUtils.expression(text)))
}
