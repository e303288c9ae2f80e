package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.{GopherParams, PiiExpressions, StringExpressions}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis expressions for training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, and document
  * fingerprinting. Pure Catalyst expressions (codegen'd, no UDFs) so
  * they run inside whole-stage codegen at any scale — and are
  * mirrorable in the SQL oracle.
  */
object TextFunctions {

  // The counts below use array_size, not size: size(null) is −1 when
  // spark.sql.ansi.enabled is false, and a −1 poisons token sums.

  /** Whitespace token count: the size of `split(text, " ")`, so
    * leading, trailing and repeated spaces count empty tokens and `""`
    * is one token; null for a null text. Counted natively, without the
    * token array ([[org.apache.spark.sql.graft.SpaceTokenCount]]).
    */
  def tokenCountWs(text: Column): Column = StringExpressions.spaceTokenCount(text)

  /** Regex token count — a BPE-ish lexer class; null for a null text. */
  def tokenCountRegex(text: Column, pattern: String = "[a-z0-9]+"): Column =
    array_size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Punctuation character count; null for a null text. */
  def punctCount(text: Column): Column =
    array_size(regexp_extract_all(text, lit("[.!?,;:]"), lit(0)))

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  // The marker functions below (stopwordRatio, langScore, langId) each
  // run as one native token walk over the `split(text, " ")` tokens
  // (empty tokens included), matching markers exactly and
  // case-sensitively ([[org.apache.spark.sql.graft.MarkerUtil]]).

  /** Fraction of whitespace tokens that are stopwords; null for a null
    * text.
    */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = DefaultStopwords): Column =
    StringExpressions.markerCount(text, stopwords, ratio = true)

  /** Mean word length: (chars excluding separators) / word count —
    * one pass, no explode.
    */
  def meanWordLength(text: Column): Column =
    Num.safeDiv(length(regexp_replace(text, " ", "")).cast(DoubleType),
      tokenCountWs(text).cast(DoubleType))

  /** Composite quality score ∈ [0,1]: length saturation + stopword
    * presence (the heuristic-quality-signal shape used by pretraining
    * filters; weights are illustrative and deterministic).
    */
  def qualityScore(text: Column, nChars: Column): Column =
    least(lit(1.0), nChars.cast(DoubleType) / 400.0) * 0.5 +
      least(lit(1.0), stopwordRatio(text) * 5.0) * 0.5

  /** Per-language stopword marker lists for the language-ID
    * heuristic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "es", "y", "las"))

  /** Marker-count score for one language; null for a null text. */
  def langScore(text: Column, markers: Seq[String]): Column =
    StringExpressions.markerCount(text, markers, ratio = false)

  /** Heuristic language-ID: argmax of marker counts, first-listed
    * language wins ties, "und" (undetermined) when no marker hits or
    * the text is null. The argmax runs inside the one token walk that
    * counts every language's markers.
    */
  def langId(text: Column,
      markers: Seq[(String, Seq[String])] = LangMarkers): Column =
    StringExpressions.markerLangId(text, markers)

  // ------------------------------------------- script / charset signals
  // The Latin-marker langId above cannot see CJK/Cyrillic/Arabic — the
  // majority of real web corpora. Script-range character fractions are
  // the cheap, replayable signal: explicit code-point-range character
  // classes (the \x{...} escape works in BOTH Java regex and RE2;
  // \p{Script=...} does not), evaluated row-locally in a projection.

  /** Script → character class, in the Java ∩ RE2 subset. BMP ranges
    * only (the scripts of interest are BMP), so Java UTF-16 and
    * code-point-counting engines agree on counts.
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}]",
    "han" -> "[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]",
    "kana" -> "[\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]")

  /** Control/replacement characters — the mojibake/garbage signal
    * (tab/newline excluded: they are legitimate document structure).
    */
  val GarbageClass: String =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{FFFD}]"

  /** One-pass native per-code-point counts in ScriptClasses order +
    * garbage + non-ws (slots doc at
    * [[org.apache.spark.sql.graft.ScriptCountUtil]]). Round-15: the
    * regex formulation (kept in test scope as the spec reference,
    * `TextTreeForms.scriptFractions`) paid one java.util.regex scan of
    * the whole document per class per consumer — 13 scans per
    * text_signals row.
    */
  private def scriptCounts(text: Column): Column =
    org.apache.spark.sql.graft.StringExpressions.scriptCharCounts(text)

  private def scriptIdx(name: String): Int =
    ScriptClasses.indexWhere(_._1 == name)

  /** Per-script character fractions (over non-whitespace characters)
    * plus the garbage fraction, as a struct
    * `(f_latin, f_cyrillic, f_arabic, f_han, f_kana, f_hangul,
    * f_garbage)`. Empty/whitespace-only documents yield null fractions
    * (0/0), matching [[Num.safeDiv]] everywhere else.
    */
  def scriptFractions(text: Column): Column = {
    val c = scriptCounts(text)
    val denom = c.getItem(7).cast(DoubleType)
    val fields = ScriptClasses.zipWithIndex.map { case ((name, _), i) =>
      Num.safeDiv(c.getItem(i).cast(DoubleType), denom).as(s"f_$name")
    } :+ Num.safeDiv(c.getItem(6).cast(DoubleType), denom).as("f_garbage")
    struct(fields: _*)
  }

  /** Script-aware language-ID: script fractions decide first (hangul →
    * ko; kana presence → ja, since Japanese text is han+kana mixed;
    * han without kana → zh; cyrillic → ru; arabic → ar — the standard
    * script→language collapse, each threshold on the dominant script
    * of that language's writing system), and Latin-script text falls
    * through to the [[langId]] marker heuristic. Deterministic,
    * row-local, oracle-replayable. All five fractions come from ONE
    * [[scriptCounts]] pass — and whole-stage codegen's subexpression
    * elimination shares that pass with [[scriptFractions]] when both
    * run in the same projection (the text_signals shape).
    */
  def langIdScript(text: Column,
      markers: Seq[(String, Seq[String])] = LangMarkers): Column = {
    val c = scriptCounts(text)
    val denom = c.getItem(7).cast(DoubleType)
    def frac(name: String): Column =
      Num.safeDiv(c.getItem(scriptIdx(name)).cast(DoubleType), denom)
    when(frac("hangul") > 0.3, lit("ko"))
      .when(frac("kana") > 0.05, lit("ja"))
      .when(frac("han") > 0.3, lit("zh"))
      .when(frac("cyrillic") > 0.3, lit("ru"))
      .when(frac("arabic") > 0.3, lit("ar"))
      .otherwise(langId(text, markers))
  }

  /** 64-bit-ish document fingerprint: rolling polynomial hash over
    * per-word hashes (md5-prefix ints), mod 1e9+7 — deterministic and
    * reproducible in any engine with a fold primitive. Round-15: runs
    * as ONE native pass over the UTF-8 bytes
    * ([[org.apache.spark.sql.graft.FingerprintFold]] — the md5 stays,
    * the per-word hex string / substring / string-conv round-trip
    * goes); values are identical by construction and CorpusSpec pins
    * the equality against the tree form (`TextTreeForms.fingerprint`,
    * test scope).
    */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graft.StringExpressions.fingerprintFold(text)

  // ------------------------------------------------- repetition filters
  // The within-document repetition signals used by pretraining quality
  // filters (the Gopher rules, Rae et al. 2021 §A1.1): heavily
  // repetitious documents are boilerplate/spam far more often than
  // prose. All are row-local array expressions — no explode, no
  // shuffle; they run inside a projection at any corpus scale.

  /** Word n-gram array: the `count − n + 1` windows of n consecutive
    * `sep`-separated tokens, each joined by `sep`; documents shorter
    * than n tokens and null documents yield an empty array (n = 1 is
    * the token array itself, `split`, null for a null document). Tokens
    * follow Java `split` on the literal `sep` with limit −1: `""` is
    * one empty token, and leading, trailing and repeated separators
    * give empty tokens. `sep = ""` selects character n-grams
    * ([[charNgramArray]]). The shared gram builder for the repetition
    * stats here and the shingle stage of [[graft.operators.Dedup]].
    *
    * n ≥ 2 runs as one native byte scan per document
    * ([[org.apache.spark.sql.graft.TokenWindows]]): every gram is a
    * slice of the document's bytes.
    */
  def ngramArray(text: Column, n: Int, sep: String = " "): Column = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    if (sep.isEmpty) charNgramArray(text, n)
    else if (n == 1) split(text, java.util.regex.Pattern.quote(sep))
    else StringExpressions.tokenWindows(text, sep, n, 1, partial = false)
  }

  /** Character n-gram array — the shingle unit for unsegmented
    * scripts (CJK text has no whitespace tokens to shingle on; the
    * standard near-dup recipe there is character 3–5-grams). The
    * `length − n + 1` windows of n consecutive characters (code
    * points, as `substr` and `length` count them), so any engine's
    * character-indexed substring replays it; texts shorter than n
    * characters and null texts yield an empty array. Reached from the
    * whole dedup family via `sep = ""`. Runs in the same native kernel
    * as [[ngramArray]].
    */
  def charNgramArray(text: Column, n: Int): Column = {
    require(n >= 1, s"char n-gram width must be >= 1, got $n")
    StringExpressions.tokenWindows(text, "", n, 1, partial = false)
  }

  private def segments(text: Column, sep: String): Column =
    split(text, java.util.regex.Pattern.quote(sep))

  // The segment fractions use array_size, not size: size(null) is −1
  // when spark.sql.ansi.enabled is false. A null text gives null.

  /** Fraction of segments (lines, under the default "\n" separator)
    * that repeat an earlier segment of the same document.
    */
  def duplicateSegmentFraction(text: Column, sep: String = "\n"): Column = {
    val s = segments(text, sep)
    Num.safeDiv((array_size(s) - array_size(array_distinct(s))).cast(DoubleType),
      array_size(s).cast(DoubleType))
  }

  /** Fraction of characters contained in repeated segment occurrences
    * (every occurrence beyond each distinct segment's first), over the
    * document's total segment characters. Distinguishes one long
    * duplicated paragraph from many short ones — the signal the plain
    * segment-count fraction flattens.
    */
  def duplicateSegmentCharFraction(text: Column, sep: String = "\n"): Column = {
    val s = segments(text, sep)
    val dupChars = F.aggregate(array_distinct(s), lit(0L),
      (acc, seg) => acc +
        ((F.size(F.filter(s, x => x === seg)) - 1) * length(seg)).cast(LongType))
    val totChars = F.aggregate(s, lit(0L),
      (acc, seg) => acc + length(seg).cast(LongType))
    Num.safeDiv(dupChars.cast(DoubleType), totChars.cast(DoubleType))
  }

  /** Most frequent word n-gram of a document as a struct
    * `(gram, cnt, char_frac)`: the gram (ties broken toward the
    * lexicographically greatest, so the result is engine-independent),
    * its occurrence count (overlapping occurrences counted), and the
    * fraction of document characters its occurrences cover
    * (cnt · |gram| / |text|). Empty-gram documents (shorter than n
    * words) yield ("", 0, 0.0).
    */
  def topNgramStats(text: Column, n: Int = 2): Column = {
    val gs = ngramArray(text, n)
    val top = array_max(F.transform(array_distinct(gs),
      g => struct(F.size(F.filter(gs, x => x === g)).cast(LongType).as("cnt"),
        g.as("gram"))))
    struct(
      coalesce(top.getField("gram"), lit("")).as("gram"),
      coalesce(top.getField("cnt"), lit(0L)).as("cnt"),
      coalesce(
        (top.getField("cnt") * length(top.getField("gram"))).cast(DoubleType)
          / length(text).cast(DoubleType), lit(0.0)).as("char_frac"))
  }

  /** Fraction of segments starting with a bullet marker. */
  def bulletSegmentFraction(text: Column, sep: String = "\n",
      markers: Seq[String] = Seq("- ", "* ")): Column = {
    val s = segments(text, sep)
    Num.safeDiv(
      array_size(F.filter(s, x => markers.map(m => x.startsWith(m))
        .reduce(_ || _))).cast(DoubleType),
      array_size(s).cast(DoubleType))
  }

  /** Fraction of segments ending in an ellipsis. */
  def ellipsisSegmentFraction(text: Column, sep: String = "\n",
      suffix: String = "..."): Column = {
    val s = segments(text, sep)
    Num.safeDiv(
      array_size(F.filter(s, x => x.endsWith(suffix))).cast(DoubleType),
      array_size(s).cast(DoubleType))
  }

  /** Canonical text normalization for dedup pre-passes (the C4/
    * RefinedWeb recipe shape): lowercase, strip everything but
    * alphanumerics and whitespace, collapse whitespace runs, trim.
    * Exact dedup after normalization catches the near-universal
    * trivial variants (case, punctuation, spacing) that plain hashing
    * misses, at zero extra distributed cost — a row-local projection
    * feeding the same hash groupBy. Patterns stay in the Java ∩ RE2
    * subset so other engines replay them verbatim.
    */
  def normalizeForDedup(text: Column): Column =
    // round-15: one native pass over the lowercased bytes
    // ([[org.apache.spark.sql.graft.NormalizeForDedup]]) replaces
    // three regex passes + four intermediate strings per document;
    // identical output by construction (semantics contract at
    // [[org.apache.spark.sql.graft.NormalizeUtil]]), CorpusSpec pins
    // the equality against the regex chain (TextTreeForms, test scope)
    org.apache.spark.sql.graft.StringExpressions.normalizeForDedup(text)

  // ---------------------------------------------------- URL handling
  // Domain-level filtering (blocklists, per-domain mixing/stats) is a
  // standard pretraining pipeline stage. Row-local regex expressions
  // in the Java ∩ RE2 subset, like the PII table above.

  /** The http(s) URL shape shared by [[extractUrls]] and the oracle. */
  val UrlPattern: String = "https?://[^\\s]+"

  /** All http(s) URLs of a text column, in order of appearance. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** Lowercased host of a URL (empty string when the input does not
    * parse as an http(s) URL — the regexp_extract no-match contract).
    */
  def urlDomain(url: Column): Column =
    lower(regexp_extract(url, "^https?://([^/:?#\\s]+)", 1))

  /** Distinct lowercased domains referenced by a text column — the
    * unit a blocklist or per-domain mixture operates on. Compose with
    * [[graft.operators.Dedup.evalGramBloom]]-style sketches or a
    * broadcast semijoin for the blocklist probe;
    * `BloomAnyContain(textDomains(text), bloom)` flags blocked docs
    * with zero shuffle.
    */
  def textDomains(text: Column): Column =
    array_distinct(F.transform(extractUrls(text), u => urlDomain(u)))

  /** Canonical URL for URL-level dedup and crawl-frontier collapsing —
    * the standard normalizations every crawl pipeline applies before
    * keying on a URL (RFC 3986 §6 syntax-based normalization plus the
    * tracking-parameter strip):
    *
    *  1. drop the fragment (`#...` — never sent to the server),
    *  2. drop tracking query parameters (`utm_*`, `fbclid`, `gclid`,
    *     `msclkid`, `ref`) — a run of up to four consecutive tracking
    *     params collapses per pass and the pass is applied to a fixed
    *     point for realistic URLs (4 rounds) — then tidy a trailing
    *     `?`/`&`,
    *  3. lowercase the scheme and authority (case-insensitive per the
    *     RFC; the path stays case-sensitive),
    *  4. drop default ports (`:80` on http, `:443` on https),
    *  5. drop a single trailing `/` (collapsing `host/` with `host`).
    *
    * Pure row-local regexes, lookaround-free so they stay in the
    * Java ∩ RE2 subset — a projection over the scan, replayable in
    * any engine. Compose with [[graft.operators.Dedup.exact]] keyed on
    * the result for URL-level dedup, or [[urlDomain]] downstream
    * (unchanged by these rules).
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // each pass eats one tracking param per separator position (the
    // consumed [?&] keeps an immediately following param alive for
    // the next pass); 4 passes fix realistic runs
    val noTrack = (1 to 4).foldLeft(noFrag)((u, _) => regexp_replace(u,
      "([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|ref)=[^&]*&?", "$1"))
    val tidy = regexp_replace(noTrack, "[?&]+$", "")
    // lowercase scheme+authority, leave path/query as-is
    val lowered = concat(
      lower(regexp_extract(tidy, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(tidy, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/:?#]+):443([/?#].*)?$", "$1$2"),
      "^(http://[^/:?#]+):80([/?#].*)?$", "$1$2")
    regexp_replace(noPort, "/$", "")
  }

  // ------------------------------------------------- chunking / funnel

  /** The chunk windows of [[chunkByTokens]] as a row-local array
    * column — the unit the SQL registration (`graft_chunk_tokens`)
    * exposes; explode it for the per-chunk rows. Tokens as in
    * [[ngramArray]] (`sep = ""`: one token per character); each chunk
    * is its tokens joined by `sep`, the last one cut at the document
    * end. A null document yields null. Runs in the same native kernel
    * as [[ngramArray]].
    */
  def chunkArray(text: Column, size: Int, overlap: Int,
      sep: String = " "): Column = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    StringExpressions.tokenWindows(text, sep, size, size - overlap,
      partial = true)
  }

  /** Split each document into sliding token windows of `size` tokens
    * overlapping by `overlap` — the training-context chunking step
    * (documents → model-window pieces). Chunk i covers tokens
    * [i·step, i·step + size) with step = size − overlap; a document of
    * n ≤ size tokens yields one chunk; otherwise 1 + ⌈(n − size)/step⌉
    * chunks, the last truncated at the document end (every chunk adds
    * ≥ 1 new token, so no empty tail chunk exists).
    *
    * Scale shape: a row-local window kernel + posexplode — a narrow
    * projection, zero shuffle, output volume ≈ input · (1 + overlap
    * fraction). Output: id, chunk_id (0-based), chunk_text,
    * n_chunk_tokens.
    */
  def chunkByTokens(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, size: Int, overlap: Int,
      sep: String = " "): org.apache.spark.sql.DataFrame =
    df.select(id.as("id"),
        posexplode(chunkArray(text, size, overlap, sep))
          .as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_chunk_tokens", tokenCountWs(col("chunk_text")))

  /** One-pass filter-funnel report: for pipeline stages given as
    * (name, predicate), the row count surviving each CUMULATIVE-AND
    * prefix (rows passing stages 1..k) plus the fraction of the input
    * — the observability view a multi-stage curation pipeline is tuned
    * with ("quality cut keeps 61%, dedup then 54%, decontamination
    * then 53%"). ONE aggregation pass over the input: k conditional
    * counts inside a single agg (no per-stage scans, no shuffle
    * beyond the one-row final), melted to (stage, n_pass, frac) rows
    * with stage_id preserving pipeline order.
    */
  def funnelReport(df: org.apache.spark.sql.DataFrame,
      stages: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(stages.nonEmpty, "funnelReport needs at least one stage")
    val cumulative = stages.scanLeft(lit(true): Column) {
      case (acc, (_, p)) => acc && coalesce(p, lit(false))
    }.tail
    val aggs = count(lit(1)).as("__graft_n") +:
      stages.zip(cumulative).zipWithIndex.map { case (((_, _), c), i) =>
        count(when(c, lit(1))).as(s"__graft_s$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = stages.zipWithIndex.map { case ((name, _), i) =>
      s"$i, '${name.replace("'", "''")}', __graft_s$i"
    }.mkString(", ")
    one.select(expr(
        s"stack(${stages.size}, $stackArgs) AS (stage_id, stage, n_pass)"),
        col("__graft_n"))
      .select(col("stage_id"), col("stage"), col("n_pass"),
        (col("n_pass").cast(DoubleType) / col("__graft_n").cast(DoubleType))
          .as("frac"))
  }

  /** Per-domain corpus report — the standard blocklist-curation view
    * ("which domains dominate my corpus, by docs and by tokens"):
    * one row per distinct referenced domain with document count, token
    * count, and shares of the WHOLE corpus (domain-less documents
    * included in the denominators).
    *
    * Shape: explode(textDomains) → one hash groupBy on domain (the
    * only data-sized shuffle; a doc counts once per domain via the
    * array_distinct inside [[textDomains]]), then a broadcast join of
    * the one-row corpus totals for the shares. `topN` appends an
    * order-by-docs limit (ties broken by domain name, deterministic).
    */
  def domainStats(df: org.apache.spark.sql.DataFrame, text: Column,
      tokens: Column, topN: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val doms = df.select(tokens.cast(LongType).as("__graft_tok"),
      explode(textDomains(text)).as("domain"))
    val totals = df.agg(count(lit(1)).as("__graft_nd"),
      F.sum(tokens.cast(LongType)).as("__graft_nt"))
    val agg = doms.groupBy(col("domain")).agg(
      count(lit(1)).as("n_docs"), F.sum(col("__graft_tok")).as("n_tokens"))
    val out = agg.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast(DoubleType) / col("__graft_nd").cast(DoubleType))
          .as("doc_share"),
        (col("n_tokens").cast(DoubleType) / col("__graft_nt").cast(DoubleType))
          .as("token_share"))
    topN match {
      case Some(n) => out.orderBy(col("n_docs").desc, col("domain")).limit(n)
      case None    => out
    }
  }

  // ------------------------------------- linear quality classifier
  // The fastText-shaped quality classifier every pretraining recipe
  // ends up running (CCNet, GPT-3's WebText similarity filter,
  // LLaMA's wikipedia-reference classifier): hash each word n-gram
  // into a fixed-dimension bucket space (the hashing trick,
  // Weinberger et al. 2009) and score a document as the mean bucket
  // weight of its features. Training happens offline; APPLYING the
  // model at corpus scale is the pipeline's job, and that is a
  // broadcast of the (dim-bounded) weight vector + one combiner-
  // friendly per-document sum — the training scan never shuffles for
  // the model.

  /** Hashing-trick feature buckets of a document: every word n-gram
    * (for each width in `grams`) mapped to [0, dim) by the
    * engine-portable [[PortableHash.polyHash]]. Collisions are the
    * hashing trick's documented tradeoff, not an error; dim sizes the
    * model, not the data.
    */
  def hashFeatureBuckets(text: Column, dim: Int,
      grams: Seq[Int] = Seq(1, 2)): Column = {
    require(dim >= 2, s"feature dimension must be >= 2, got $dim")
    require(grams.nonEmpty, "at least one n-gram width required")
    // native codegen'd kernel (round-11): one streaming pass per doc,
    // zero gram-string allocation — the HOF/polyHash expression tree
    // it replaces was the dominant term (and the GC-variance driver)
    // of the quality_train bench row. Bit-equality with the tree form
    // (TextTreeForms, test scope) is spec-pinned (CorpusSpec) on
    // empty/multi-space/surrogate/>MaxLen inputs; the DuckDB twin
    // (hashFeatureBucketsSql) is unchanged and replays the same buckets.
    org.apache.spark.sql.graft.StringExpressions
      .hashFeatureBuckets(text, dim, grams)
  }

  /** DuckDB rendering of [[hashFeatureBuckets]] over a text expression
    * `e` — unigrams + bigrams (the default `grams`) only. Keep in
    * lockstep.
    */
  def hashFeatureBucketsSql(e: String, dim: Int): String = {
    val h = PortableHash.polyHashSql("g")
    s"list_transform(list_concat(string_split($e, ' '), " +
      s"list_transform(range(1, len(string_split($e, ' '))), " +
      s"i -> string_split($e, ' ')[i] || ' ' || string_split($e, ' ')[i+1])), " +
      s"g -> $h % $dim)"
  }

  /** Score every document under a linear bucket-weight model:
    * `score = (Σ weight[bucket(f)] / scale) / n_features` over the
    * document's [[hashFeatureBuckets]] features (multiplicity
    * counted, as fastText does). `weights` is the trained model —
    * `(bucket, weight)` with INTEGER weights (fixed-point at
    * 1/`scale`), so the per-document sum is exact 64-bit arithmetic
    * and the one float division happens once per document, identically
    * on any engine. Unmatched buckets weigh 0; featureless documents
    * score null. Returns `(doc_id, n_features, raw, score)`.
    *
    * Distributed shape: the weight table is bounded by `dim` and
    * broadcast — the corpus-side explode feeds a map-side hash join,
    * then one partial-aggregated per-document sum. One shuffle, keyed
    * on doc_id.
    */
  def scoreLinear(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, weights: org.apache.spark.sql.DataFrame, dim: Int,
      grams: Seq[Int] = Seq(1, 2),
      scale: Double = 1000.0): org.apache.spark.sql.DataFrame = {
    val w = weights.select(col("bucket").cast(LongType),
      col("weight").cast(LongType))
    df.select(id.as("doc_id"),
        explode_outer(hashFeatureBuckets(text, dim, grams)).as("bucket"))
      .join(broadcast(w), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("bucket")).as("n_features"),
        coalesce(F.sum(col("weight")), lit(0L)).as("raw"))
      .withColumn("score", Num.safeDiv(
        col("raw").cast(DoubleType) / lit(scale),
        col("n_features").cast(DoubleType)))
  }

  /** Deterministic pseudo-weight table over the full bucket space —
    * weight(b) = intHash(b + seed) mod 2001 − 1000, an integer in
    * [−1000, 1000] — for bootstrapping and for oracle-replayable
    * tests of the scoring path without shipping a trained model.
    * Real deployments pass their trained table to [[scoreLinear]]
    * instead.
    */
  def pseudoWeights(spark: org.apache.spark.sql.SparkSession, dim: Int,
      seed: Long = 0L): org.apache.spark.sql.DataFrame =
    spark.range(dim.toLong).select(col("id").as("bucket"),
      (PortableHash.intHash(col("id") + lit(seed)) % 2001 - 1000)
        .as("weight"))

  /** DuckDB rendering of [[pseudoWeights]]. */
  def pseudoWeightsSql(dim: Int, seed: Long = 0L): String =
    s"SELECT b AS bucket, ${PortableHash.intHashSql(s"b + $seed")} % 2001 - 1000 AS weight " +
      s"FROM (SELECT unnest(range($dim)) AS b)"

  // ------------------------------------------------------ PII scrubbing
  // Standard pretraining-pipeline redaction (emails, IPs, SSN-shaped
  // ids, phone numbers) as one row-local native pass — a projection
  // over the corpus scan, no shuffle, nothing to tune at 100 TB. The
  // patterns deliberately use only the Java-regex ∩ RE2 common subset
  // (char classes, bounded quantifiers, \b, alternation — no
  // lookaround, no backrefs) so any engine replays them identically;
  // they are ordered (email → IP → SSN → phone) so no later, looser
  // pattern can eat part of an earlier category's match.

  /** The category → (pattern, replacement token) redaction table, in
    * application order. The kernel behind [[redactPii]] and [[piiStats]]
    * ([[org.apache.spark.sql.graft.PiiUtil]]) applies exactly these
    * patterns with Spark's regex semantics, in time linear in the text
    * (the email pattern alone, run as a Java regex, is quadratic in the
    * length of a run with no `@`); the oracle SQL replays them as
    * regexes.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\+\\d{9,15}|\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Text with every PII category replaced by its token, categories
    * applied in [[PiiPatterns]] order: `regexp_replace` by each pattern
    * in turn, as one linear-time native pass. Null for a null text.
    */
  def redactPii(text: Column): Column =
    PiiExpressions.piiScan(text).getField("text")

  /** Per-category PII match counts as a struct — counted on the same
    * progressively-redacted text [[redactPii]] replaces on, so the
    * counts are exactly the substitutions it performs (`regexp_count`
    * by each pattern on its category's input). The same linear-time
    * native pass as [[redactPii]]: a projection holding both runs it
    * once. Every count is null for a null text.
    */
  def piiStats(text: Column): Column = {
    val scan = PiiExpressions.piiScan(text)
    struct(PiiPatterns.map { case (cat, _, _) =>
      scan.getField(s"n_$cat").as(s"n_$cat")
    }: _*)
  }

  // --------------------------------------- published curation rule sets
  // The two most-cited web-corpus filter recipes as row-local structs:
  // Gopher's MassiveWeb quality rules (Rae et al. 2021, "Scaling
  // Language Models: Methods, Analysis & Insights from Training
  // Gopher", Table A1) and C4's line/document cleaning (Raffel et al.
  // 2020, "Exploring the Limits of Transfer Learning with a Unified
  // Text-to-Text Transformer", §2.2). Each public function is ONE native
  // byte walk per row ([[org.apache.spark.sql.graft.GopherUtil]],
  // [[org.apache.spark.sql.graft.C4Util]], semantics contract at
  // [[org.apache.spark.sql.graft.TextRuleUtil]]) that returns its whole
  // result, so a rule read inside a Filter condition costs one call. The
  // oracle replays them as split + filter list folds.

  /** The Gopher "required stop words" (Table A1): a document must
    * contain at least two of these for the stop-word rule to pass.
    */
  val GopherRequiredStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-quality rules as one struct: the raw signals,
    * per-rule booleans, and the composite `pass` (AND of all rules).
    * Published thresholds as defaults:
    *
    *  - word count in [50, 100000],
    *  - mean word length in [3, 10] chars,
    *  - symbol-to-word ratio (`#` or `...`) ≤ 0.1,
    *  - < 90% of lines start with a bullet, < 30% end with "...",
    *  - ≥ 80% of words contain at least one alphabetic character,
    *  - ≥ 2 of the [[GopherRequiredStops]] present.
    *
    * Words are the non-empty `" "`-separated tokens, lines the
    * `"\n"`-separated ones; lengths count code points, "alphabetic" is
    * ASCII `[A-Za-z]`, stop words match exactly and case-sensitively, and
    * a stop listed twice counts twice. The per-word ratios are null when
    * there are no words. A null text gives `n_words`, the per-word ratios,
    * `pass_word_count` null, fractions 0.0 and `pass` false.
    *
    * (The repetition rules of the same table — duplicate line/char
    * fractions, top-n-gram coverage — ship separately as
    * [[duplicateSegmentFraction]]/[[duplicateSegmentCharFraction]]/
    * [[topNgramStats]] so callers tune them per corpus.)
    */
  def gopherQualityFlags(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      requiredStops: Seq[String] = GopherRequiredStops,
      minStops: Int = 2): Column =
    StringExpressions.gopherFlags(text, GopherParams(minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletFrac,
      maxEllipsisFrac, minAlphaWordFrac, requiredStops, minStops))

  /** C4's LINE filter: keep lines that end in terminal punctuation
    * (".", "!", "?", or a closing double quote, after trimming trailing
    * spaces), carry at least `minLineWords` words, and do not contain
    * the word "javascript" (case-insensitive, Spark's `lower`) — §2.2's
    * retained-line rule. Returns the kept lines re-joined with "\n"
    * (empty string when no line survives; null for a null text).
    */
  def c4FilteredText(text: Column, minLineWords: Int = 5): Column =
    StringExpressions.c4Lines(text, minLineWords)

  /** C4's DOCUMENT flags as one struct: curly-brace presence (code),
    * "lorem ipsum" placeholder text (case-insensitive), the
    * sentence count (terminal-punctuation occurrences — the published
    * proxy), the count of lines the line filter keeps, and the
    * composite `pass` (≥ `minSentences` sentences, no brace, no lorem
    * ipsum — §2.2's page-level drops). Every field is null for a null
    * text.
    */
  def c4DocFlags(text: Column, minSentences: Int = 3,
      minLineWords: Int = 5): Column =
    StringExpressions.c4DocFlags(text, minSentences, minLineWords)
}
