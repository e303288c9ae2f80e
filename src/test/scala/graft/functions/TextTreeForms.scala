package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The retired expression-tree and regex forms of the native text
  * kernels in [[TextFunctions]], kept ONLY as the differential
  * references the specs pin the kernels against. Each is built from
  * stock Spark functions, each separately oracle-proven, and none
  * calls a native kernel — so a reference stays independent of the
  * kernel it checks.
  */
object TextTreeForms {

  /** Word n-grams: one `split` per gram inside the lambda. */
  def ngramArray(text: Column, n: Int, sep: String = " "): Column =
    if (sep.isEmpty) charNgramArray(text, n)
    else {
      val w = split(text, java.util.regex.Pattern.quote(sep))
      if (n == 1) w
      else
        // the descending sequence(0, size-n) on a short doc would
        // evaluate slice(start=0) and throw — guard with an empty array
        when(F.size(w) >= n,
          F.transform(F.sequence(lit(0), F.size(w) - n),
            i => array_join(F.slice(w, i + lit(1), lit(n)), sep)))
          .otherwise(array())
    }

  /** Character n-grams: sliding `substr` windows. */
  def charNgramArray(text: Column, n: Int): Column =
    when(length(text) >= n,
      F.transform(F.sequence(lit(0), length(text) - n),
        i => text.substr(i + lit(1), lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Token chunks: 1 + ⌈(tokens − size)/step⌉ `slice` windows. */
  def chunkArray(text: Column, size: Int, overlap: Int,
      sep: String = " "): Column = {
    val step = size - overlap
    val w = split(text, java.util.regex.Pattern.quote(sep))
    val n = F.size(w)
    // ceil((n - size) / step) in exact integer math (n > size branch)
    val a = greatest(n - lit(size), lit(0)) + lit(step - 1)
    val nChunks = lit(1) + (a - pmod(a, lit(step))) / lit(step)
    F.transform(F.sequence(lit(0), nChunks.cast("int") - 1),
      i => array_join(F.slice(w, i * step + 1, lit(size)), sep))
  }

  /** [[TextFunctions.tokenCountWs]]: the size of the token array. */
  def tokenCountWs(text: Column): Column = array_size(split(text, " "))

  /** [[TextFunctions.redactPii]]: one `regexp_replace` per
    * [[TextFunctions.PiiPatterns]] category, in order.
    */
  def redactPii(text: Column): Column =
    TextFunctions.PiiPatterns.foldLeft(text) { case (t, (_, pat, tok)) =>
      regexp_replace(t, pat, tok)
    }

  /** [[TextFunctions.piiStats]]: each category's `regexp_count` on the
    * text the earlier categories' `regexp_replace` left.
    */
  def piiStats(text: Column): Column = {
    val (_, fields) = TextFunctions.PiiPatterns.foldLeft((text, Seq.empty[Column])) {
      case ((t, acc), (cat, pat, tok)) =>
        (regexp_replace(t, pat, tok),
          acc :+ regexp_count(t, lit(pat)).cast(LongType).as(s"n_$cat"))
    }
    struct(fields: _*)
  }

  /** [[TextFunctions.fingerprint]] as the fold the oracle SQL mirrors. */
  def fingerprint(text: Column): Column =
    F.aggregate(split(text, " "), lit(0L),
      (acc, w) =>
        (acc * 31 + conv(substring(md5(w), 1, 8), 16, 10).cast(LongType))
          % 1000000007L)

  /** [[TextFunctions.normalizeForDedup]] as the regex chain the oracle
    * SQL mirrors.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** [[TextFunctions.hashFeatureBuckets]] as the composition of the
    * tree [[ngramArray]] and [[PortableHash.polyHash]].
    */
  def hashFeatureBuckets(text: Column, dim: Int,
      grams: Seq[Int] = Seq(1, 2)): Column = {
    val arrs = grams.map(n => ngramArray(text, n))
    val feats = if (arrs.sizeIs == 1) arrs.head else concat(arrs: _*)
    F.transform(feats, g => PortableHash.polyHash(g) % dim)
  }

  /** [[TextFunctions.scriptFractions]] as one `regexp_count` per class. */
  def scriptFractions(text: Column): Column = {
    val denom = length(regexp_replace(text, "\\s", "")).cast(DoubleType)
    val fields = TextFunctions.ScriptClasses.map { case (name, cls) =>
      Num.safeDiv(regexp_count(text, lit(cls)).cast(DoubleType), denom)
        .as(s"f_$name")
    } :+ Num.safeDiv(regexp_count(text, lit(TextFunctions.GarbageClass))
      .cast(DoubleType), denom).as("f_garbage")
    struct(fields: _*)
  }

  // ------------------------------------------ curation rule lambda trees

  /** [[TextFunctions.langScore]]: the tokens of `split(text, " ")` in
    * `markers`, one filter lambda.
    */
  def langScore(text: Column, markers: Seq[String]): Column =
    F.size(F.filter(split(text, " "), w => w.isInCollection(markers)))

  /** [[TextFunctions.stopwordRatio]]. */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = TextFunctions.DefaultStopwords): Column =
    Num.safeDiv(langScore(text, stopwords).cast(DoubleType),
      tokenCountWs(text).cast(DoubleType))

  /** [[TextFunctions.qualityScore]] over the tree [[stopwordRatio]]. */
  def qualityScore(text: Column, nChars: Column): Column =
    least(lit(1.0), nChars.cast(DoubleType) / 400.0) * 0.5 +
      least(lit(1.0), stopwordRatio(text) * 5.0) * 0.5

  /** [[TextFunctions.langId]]: every `when` branch re-counts every
    * language.
    */
  def langId(text: Column,
      markers: Seq[(String, Seq[String])] = TextFunctions.LangMarkers): Column = {
    val scores = markers.map { case (l, m) => l -> langScore(text, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** [[TextFunctions.langIdScript]] over the regex [[scriptFractions]]
    * and the tree [[langId]].
    */
  def langIdScript(text: Column,
      markers: Seq[(String, Seq[String])] = TextFunctions.LangMarkers): Column = {
    val f = scriptFractions(text)
    when(f.getField("f_hangul") > 0.3, lit("ko"))
      .when(f.getField("f_kana") > 0.05, lit("ja"))
      .when(f.getField("f_han") > 0.3, lit("zh"))
      .when(f.getField("f_cyrillic") > 0.3, lit("ru"))
      .when(f.getField("f_arabic") > 0.3, lit("ar"))
      .otherwise(langId(text, markers))
  }

  /** [[TextFunctions.gopherQualityFlags]] as split + filter/aggregate
    * lambdas.
    */
  def gopherQualityFlags(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      requiredStops: Seq[String] = TextFunctions.GopherRequiredStops,
      minStops: Int = 2): Column = {
    val words = F.filter(split(text, " "), w => w =!= "")
    val nWords = F.size(words).cast(LongType)
    val meanLen = Num.safeDiv(
      F.aggregate(words, lit(0L), (a, w) => a + length(w).cast(LongType))
        .cast(DoubleType),
      nWords.cast(DoubleType))
    val symbolRatio = Num.safeDiv(
      size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
        .cast(DoubleType),
      nWords.cast(DoubleType))
    val alphaFrac = Num.safeDiv(
      F.size(F.filter(words, w => w.rlike("[A-Za-z]"))).cast(DoubleType),
      nWords.cast(DoubleType))
    val nStops = requiredStops.map(sw =>
      when(array_contains(words, sw), 1L).otherwise(0L))
      .reduce(_ + _)
    val bulletFrac = coalesce(TextFunctions.bulletSegmentFraction(text), lit(0.0))
    val ellipsisFrac = coalesce(TextFunctions.ellipsisSegmentFraction(text), lit(0.0))
    val passWords = nWords >= minWords && nWords <= maxWords
    val passMeanLen = coalesce(
      meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen, lit(false))
    val passSymbol = coalesce(symbolRatio <= maxSymbolRatio, lit(false))
    val passBullet = bulletFrac < maxBulletFrac
    val passEllipsis = ellipsisFrac < maxEllipsisFrac
    val passAlpha = coalesce(alphaFrac >= minAlphaWordFrac, lit(false))
    val passStops = nStops >= minStops
    struct(
      nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_word_frac"),
      nStops.as("n_required_stops"),
      passWords.as("pass_word_count"), passMeanLen.as("pass_mean_word_len"),
      passSymbol.as("pass_symbol_ratio"), passBullet.as("pass_bullets"),
      passEllipsis.as("pass_ellipsis"), passAlpha.as("pass_alpha_words"),
      passStops.as("pass_stopwords"),
      (passWords && passMeanLen && passSymbol && passBullet &&
        passEllipsis && passAlpha && passStops).as("pass"))
  }

  /** [[TextFunctions.c4FilteredText]]: one filter lambda over the lines,
    * splitting each line again for its word count.
    */
  def c4FilteredText(text: Column, minLineWords: Int = 5): Column = {
    val lines = split(text, "\n")
    val kept = F.filter(lines, l => {
      val t = rtrim(l)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        F.size(F.filter(split(l, " "), w => w =!= "")) >= minLineWords &&
        !lower(l).contains("javascript")
    })
    array_join(kept, "\n")
  }

  /** [[TextFunctions.c4DocFlags]], its kept-line count re-splitting the
    * tree [[c4FilteredText]].
    */
  def c4DocFlags(text: Column, minSentences: Int = 3,
      minLineWords: Int = 5): Column = {
    val nSentences = size(regexp_extract_all(text, lit("[.!?]"), lit(0)))
      .cast(LongType)
    val hasBrace = text.contains("{")
    val hasLorem = lower(text).contains("lorem ipsum")
    val keptLines = F.size(F.filter(split(c4FilteredText(text, minLineWords),
      "\n"), l => l =!= "")).cast(LongType)
    struct(
      nSentences.as("n_sentences"), hasBrace.as("has_brace"),
      hasLorem.as("has_lorem_ipsum"), keptLines.as("n_kept_lines"),
      (nSentences >= minSentences && !hasBrace && !hasLorem).as("pass"))
  }
}
