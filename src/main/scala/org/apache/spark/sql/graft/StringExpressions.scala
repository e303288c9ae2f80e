// Hosted under org.apache.spark.sql so the expressions can use the
// private[sql] pieces of the extension surface (classic.ExpressionUtils
// for the Column <-> Expression bridge) — the standard packaging for
// native Catalyst expression libraries.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

object StringExpressions {
  import org.apache.spark.sql.classic.ExpressionUtils

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
}
