package perfbench

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Sampling}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the generator planted in one shard: the truth the output checks use. */
final case class Planted(
    contaminated: Set[Long],
    exactClusters: Map[Long, Int],
    nearDupClusters: Map[Long, Int],
    pii: Map[Long, Int])

/** Seeded crawl shards shaped for the FineWeb-style recipe: URL variants
  * with tracking parameters, boilerplate lines C4 drops, pages that fail
  * C4 or Gopher, several scripts and languages, emails and IPs, planted
  * exact-copy and near-duplicate clusters, and verbatim spans of a seeded
  * eval set.
  */
final class CrawlGen(seed: Long) {
  private def syllables(rnd: scala.util.Random, letters: String, n: Int, lo: Int, hi: Int) =
    Vector.fill(n)((1 to lo + rnd.nextInt(hi - lo + 1))
      .map(_ => letters(rnd.nextInt(letters.length))).mkString)

  // fixed vocabularies, so every seed draws from the same languages
  private val vocabRnd = new scala.util.Random(7L)
  private val Latin = "abcdefghijklmnoprstuvwy"
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "is", "to"), "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "les"), "es" -> Seq("el", "los", "es", "y", "las"))
  val Langs: Seq[String] = Seq("en", "de", "fr", "es")
  /** Clean pages are mostly English, so the natural language shares sit
    * far from the temperature targets a token mixture must reach.
    */
  val GoodLangWeights: Map[String, Int] = Map("en" -> 8, "de" -> 1, "fr" -> 1, "es" -> 1)
  private val GoodLangs = Langs.flatMap(l => Seq.fill(GoodLangWeights(l))(l))
  // Gopher's required stop words that are not English langId markers
  private val NeutralStops = Seq("be", "that", "have", "with")
  private val vocab: Map[String, Vector[String]] =
    Langs.map(l => l -> syllables(vocabRnd, Latin, 3000, 4, 9)).toMap
  private val longWords = syllables(vocabRnd, Latin, 500, 12, 16)
  private val cyrillic = syllables(vocabRnd, "абвгдежзиклмнопрстуфхцчшы", 800, 3, 9)
  private val arabic = syllables(vocabRnd, "ابتثجحخدذرزسشصضطظعغفقكلمنهوي", 800, 3, 8)
  private val han = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日于起还发成事只作当想看文无开手十用主行方又如前所本见经头面公同三已老从动两长知民样现分将外但身些与高意进把法此实回二理美点月明其种声全工己话儿者向情部正名定女问力机给等几很业最间新什打便位因重被走电四第门相次东政海口使教西再平真听世气信北少关并内加化由却代军产入先山五太水万市眼体别处总才场师书比住员九笑性通目华报立马命张活难神数件安表原车白应路期叫死常提感金何更反合放做系计或司利受光王果亲界及今京务制解各任至清物台象记边共风战干接它许八特觉望直服毛林题建南度统色字请交爱让认算论百吃义科怎元社术结六功指思非流每青管夫连远资队跟带花快条院变联言权往展该领传近留红治决周保达办运武半候七必城父强步完革深区即求品士转量空甚众技轻程告江语英基派满式李息写呢识极令黄德收脸钱党倒未持取设始版双历越史商千片容研像找友孩站广改议形委早房音火际则首单据导影失拿网香似斯专石若兵弟谁校读志飞观争究包组造落视济喜离虽坏兴切"

  val evalDocs: Seq[String] = {
    val rnd = new scala.util.Random(seed * 31 + 5)
    Seq.fill(200)(sentence(rnd, "en", 40, 40).stripSuffix("."))
  }

  private def sentence(rnd: scala.util.Random, lang: String, lo: Int, hi: Int): String = {
    val n = lo + rnd.nextInt(hi - lo + 1)
    val ws = Seq.fill(n) {
      val p = rnd.nextDouble()
      if (p < 0.22) Markers(lang)(rnd.nextInt(5))
      else if (lang != "en" && p < 0.32) NeutralStops(rnd.nextInt(4))
      else vocab(lang)(rnd.nextInt(3000))
    }
    ws.mkString(" ") + "."
  }

  private val Boilerplate = Seq("Home | About | Contact", "Share this page",
    "Please enable javascript to continue reading this page.",
    "Copyright 2024 All rights reserved", "Click here to subscribe")

  // at least 7 lines of 9+ words: ≥ 57 whitespace tokens even where line
  // breaks glue two words, so every planted page clears Gopher's 50-word floor
  private def body(rnd: scala.util.Random, lang: String): Seq[String] =
    Seq.fill(7 + rnd.nextInt(4))(sentence(rnd, lang, 9, 13))

  private def withBoilerplate(rnd: scala.util.Random, lines: Seq[String]): String = {
    val bp = Seq.fill(1 + rnd.nextInt(3))(Boilerplate(rnd.nextInt(Boilerplate.size)))
    (bp.take(1) ++ lines ++ bp.drop(1)).mkString("\n")
  }

  private def url(rnd: scala.util.Random, id: Long): String = {
    val host = s"www.Site${rnd.nextInt(400)}.COM"
    val port = if (rnd.nextInt(4) == 0) ":443" else ""
    val track = Seq("utm_source=news", "utm_medium=social", "fbclid=x" + rnd.nextInt(999),
      "gclid=g" + rnd.nextInt(999), "ref=feed").filter(_ => rnd.nextInt(3) == 0)
    val q = (track :+ s"id=$id").mkString("&")
    val frag = if (rnd.nextBoolean()) "#top" else ""
    s"https://$host$port/articles/$id/?$q$frag"
  }

  /** One shard: rows of (doc_id, url, text) and what was planted in it. */
  def shard(spark: SparkSession, index: Int, docs: Int): (DataFrame, Planted) = {
    val rnd = new scala.util.Random(seed * 1000003L + index)
    val base = index.toLong * 1000000L
    val rows = mutable.ArrayBuffer.empty[Row]
    val contaminated = mutable.Set.empty[Long]
    val exact = mutable.Map.empty[Long, Int]
    val near = mutable.Map.empty[Long, Int]
    val pii = mutable.Map.empty[Long, Int]
    def add(text: String): Long = {
      val id = base + rows.size
      rows += Row(id, url(rnd, id), text)
      id
    }
    // fixed counts of every page kind per shard (clusters of 3), in seed
    // order, so shards of one size carry the same work under any seed
    val per = docs / 100.0
    def n(share: Double) = math.max(1, math.round(share * per).toInt)
    val special = Seq("pii" -> n(6), "eval" -> n(2), "exact" -> n(1), "near" -> n(1),
      "c4" -> n(3), "gopher" -> n(9), "script" -> n(13.5))
    val good = docs - special.map { case (k, c) => if (k == "exact" || k == "near") 3 * c else c }.sum
    val kinds = rnd.shuffle(special.flatMap { case (k, c) => Seq.fill(c)(k) } ++
      (0 until good).map(i => s"good:${GoodLangs(i % GoodLangs.size)}"))
    var cluster = 0
    kinds.zipWithIndex.foreach { case (kind, i) => kind match {
      case k if k.startsWith("good:") => add(withBoilerplate(rnd, body(rnd, k.drop(5))))
      case "pii" => // emails and IPs inside sentences C4 keeps
        val n = 1 + i % 3
        val lines = body(rnd, "en") ++ Seq.fill(n)(
          if (rnd.nextBoolean()) s"write to user${rnd.nextInt(999)}@mail${rnd.nextInt(50)}.org with the form today."
          else s"the server at ${1 + rnd.nextInt(250)}.${rnd.nextInt(250)}.${rnd.nextInt(250)}.${1 + rnd.nextInt(250)} is to be checked today.")
        pii(add(withBoilerplate(rnd, rnd.shuffle(lines)))) = n
      case "eval" => // verbatim span of an eval document
        val ev = evalDocs(rnd.nextInt(evalDocs.size)).split(" ")
        val at = rnd.nextInt(ev.length - 14)
        val lines = body(rnd, "en")
        val span = ev.slice(at, at + 14).mkString(" ") + "."
        contaminated += add(withBoilerplate(rnd, lines.patch(rnd.nextInt(lines.size), Seq(span), 1)))
      case "exact" => // identical text, different URLs
        val text = withBoilerplate(rnd, body(rnd, "en"))
        (0 until 3).foreach(_ => exact(add(text)) = cluster)
        cluster += 1
      case "near" => // ~3% of words replaced
        val lines = body(rnd, Langs(i % Langs.size))
        (0 until 3).foreach { _ =>
          val edited = lines.map(_.split(" ").map(w =>
            if (rnd.nextInt(33) == 0) vocab("en")(rnd.nextInt(3000)) else w).mkString(" "))
          near(add(withBoilerplate(rnd, edited))) = cluster
        }
        cluster += 1
      case "c4" => // C4 page drops: code, placeholder text, too few sentences
        i % 3 match {
          case 0 => add((body(rnd, "en") :+ "the code is main { return 0; } to run.").mkString("\n"))
          case 1 => add((body(rnd, "en") :+ "Lorem ipsum dolor sit amet consectetur.").mkString("\n"))
          case _ => add(body(rnd, "en").take(2).mkString(" "))
        }
      case "gopher" => // Gopher failures that survive C4
        i % 4 match {
          case 0 => add(Seq.fill(10)(Seq.fill(12)(vocab("en")(rnd.nextInt(3000))).mkString(" ") + ".").mkString("\n"))
          case 1 => add(Seq.fill(10)(Seq.fill(6)("# " + vocab("en")(rnd.nextInt(3000))).mkString(" ") + ".").mkString("\n"))
          case 2 => add(Seq.fill(10)(Seq.fill(10)(longWords(rnd.nextInt(500))).mkString(" ") + " the and.").mkString("\n"))
          case _ => add(Seq.fill(3)(sentence(rnd, "en", 6, 8)).mkString("\n"))
        }
      case _ => // other scripts
        i % 3 match {
          case 0 => add(Seq.fill(10)(Seq.fill(10)(cyrillic(rnd.nextInt(800))).mkString(" ") + ".").mkString("\n"))
          case 1 => add(Seq.fill(10)(Seq.fill(10)(arabic(rnd.nextInt(800))).mkString(" ") + ".").mkString("\n"))
          case _ => add(Seq.fill(10)((1 to 30).map(_ => han(rnd.nextInt(han.length))).mkString + "。").mkString("\n"))
        }
    }}
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("url", StringType), StructField("text", StringType)))
    (spark.createDataFrame(rows.asJava, schema),
      Planted(contaminated.toSet, exact.toMap, near.toMap, pii.toMap))
  }
}

/** The mixture a request asked for: the per-language clean token totals
  * it was planned from, the temperature targets and the token budget.
  */
final case class MixturePlan(tokens: Map[String, Long], targets: Map[String, Double],
    budget: Long) {
  val fractions: Map[String, Double] = Sampling.tokenMixtureFractions(tokens, targets, budget)
  /** Tokens the doc-level keep decisions select in expectation. */
  val expectedTotal: Double = fractions.map { case (l, f) => f * tokens(l) }.sum

  /** Allowed |share − target| of language `lang`: five standard
    * deviations of its kept share under the doc-level keep decisions,
    * given each language's summed squared clean-doc token counts.
    */
  def band(lang: String, tokensSq: Map[String, Double]): Double = {
    val v = fractions.map { case (l, f) => l -> f * (1 - f) * tokensSq.getOrElse(l, 0.0) }
    val t = targets(lang)
    // share − t ≈ (kept_lang − t · kept_total) / expectedTotal
    val variance = v.map { case (l, x) => if (l == lang) (1 - t) * (1 - t) * x else t * t * x }.sum
    5.0 * math.sqrt(variance) / expectedTotal
  }

  /** Five standard deviations of the kept token total. */
  def totalBand(tokensSq: Map[String, Double]): Double =
    5.0 * math.sqrt(fractions.map { case (l, f) => f * (1 - f) * tokensSq.getOrElse(l, 0.0) }.sum)
}

/** curation_pipeline: the README recipe on one crawl shard per request,
  * ending in a parquet write of the token mixture.
  */
final class CurationPipeline(spark: SparkSession, seed: Long, docs: Int, dir: String)
    extends Workload {
  val setupLayer = "Tables.write_ms"
  private val Shards = 2
  private val Tau = 2.0
  private val BudgetFrac = 0.4
  private val gen = new CrawlGen(seed)
  private val eval = spark.createDataFrame(gen.evalDocs.map(Tuple1(_))).toDF("text")
  private var planted: Seq[Planted] = Nil

  def describe: Map[String, Any] = Map("shards" -> Shards, "docs_per_shard" -> docs,
    "eval_docs" -> gen.evalDocs.size, "tau" -> Tau, "budget_frac" -> BudgetFrac,
    "share_band" -> "5 binomial sd", "langs" -> gen.Langs,
    "good_page_lang_weights" -> gen.GoodLangWeights,
    "planted_contaminated" -> planted.map(_.contaminated.size).sum,
    "planted_exact_clusters" -> planted.map(_.exactClusters.values.toSet.size).sum,
    "planted_near_dup_clusters" -> planted.map(_.nearDupClusters.values.toSet.size).sum,
    "planted_pii_docs" -> planted.map(_.pii.size).sum)

  private def shardPath(i: Int) = s"$dir/shard-$i"
  // eight rotating outputs, so warm-up requests can run side by side
  private val written = new java.util.concurrent.atomic.AtomicInteger
  private def outPath(slot: Int) = s"$dir/mixture-$slot"

  def setupData(): Unit = {
    planted = (0 until Shards).map { i =>
      val (df, p) = gen.shard(spark, i, docs)
      df.repartition(4).write.mode("overwrite").parquet(shardPath(i))
      p
    }
  }

  def prepareChecks(): Unit = ()

  val cycle: Seq[Req] =
    new scala.util.Random(seed).shuffle((0 until Shards).toList).map(Req("pipeline", _))
  // the first request sent alone after the cold pass ran ~1.3x slower
  // than the next (JIT); a second side-by-side pass cost twice as much
  override val warmSerial = 1

  def run(r: Req, tr: Tracer): Done = {
    val (id, text) = (col("doc_id"), col("text"))
    val crawl = tr.span("Tables.scan")(
      tr.out(Tables.readParquet(spark, shardPath(r.variant)), "docs_in"))
    // pages, deduped and redacted are each consumed more than once by the
    // recipe, so the request holds them instead of recomputing their lineage
    val pages = tr.span("Text.filter") {
      val c4 = tr.out(crawl
        .withColumn("url", canonicalizeUrl(col("url")))
        .withColumn("text", c4FilteredText(text))
        .filter(c4DocFlags(text).getField("pass")), "c4_pass")
      val gopher = tr.out(c4.filter(gopherQualityFlags(text).getField("pass")), "gopher_pass")
      tr.out(tr.hold(gopher.withColumn("lang", langIdScript(text))))
    }
    val deduped = tr.span("Dedup.minHashKeep")(tr.out(tr.hold(pages.join(
      Dedup.minHashKeep(pages, id, text, ord = id).filter(col("kept")).select("doc_id"),
      Seq("doc_id"))), "dedup_kept"))
    val marked = tr.span("Dedup.contamination") {
      val flagged = tr.out(Dedup.contamination(deduped, id, text, eval, col("text"))
        .select(id, lit(true).as("contaminated")), "contaminated")
      tr.out(deduped.join(flagged, Seq("doc_id"), "left"))
    }
    val redacted = tr.span("Text.pii")(tr.out(tr.hold(marked
      .withColumn("pii", piiStats(text))
      .withColumn("text", redactPii(text))
      .withColumn("tokens", tokenCountWs(text)))))
    val clean = col("contaminated").isNull
    val (mixture, plan) = tr.span("Sampling.mixture") {
      // per-language clean token totals feed the temperature targets
      val tokens = redacted.filter(clean).groupBy("lang").agg(sum("tokens")).collect()
        .collect { case r if gen.Langs.contains(r.getString(0)) && !r.isNullAt(1) =>
          r.getString(0) -> r.getLong(1) }.toMap
      val targets = Sampling.temperatureTargets(tokens, Tau)
      val plan = MixturePlan(tokens, targets, (BudgetFrac * tokens.values.sum).toLong)
      val m = tr.out(Sampling.takeTokenMixture(redacted.filter(clean).drop("pii", "contaminated"),
        id, col("lang"), col("tokens"), targets, plan.budget, seed = seed,
        tokenTotals = Some(tokens)), "mixture")
      (m, plan)
    }
    val out = outPath(written.getAndIncrement() % 8)
    tr.span("Tables.write")(Tables.writePartitioned(mixture, out, Seq("lang")))
    Done(docs, () => checkOutput(planted(r.variant), redacted, plan, out))
  }

  /** Planted truth against the request's redacted pages (still held) and
    * its written mixture; runs after the request's clock stops.
    */
  private def checkOutput(truth: Planted, redacted: DataFrame, plan: MixturePlan,
      written: String): Option[String] = {
    // (doc_id, lang, contaminated, emails + IPs found, tokens) per deduplicated doc
    val rows = redacted.select(col("doc_id"), col("lang"), col("contaminated").isNotNull,
      (col("pii.n_email") + col("pii.n_ip")).cast("long"), col("tokens").cast("long"))
      .collect().toSeq
    val ids = rows.map(_.getLong(0)).toSet
    val flagged = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val clusters = truth.exactClusters.values.toSet
    val keptPerCluster = truth.exactClusters.filter(kv => ids(kv._1)).values
      .groupBy(identity).map { case (c, ms) => c -> ms.size }
    val piiWrong = rows.count(r => r.getLong(3) != truth.pii.getOrElse(r.getLong(0), 0).toLong)
    val tokensSq = rows.filter(r => !r.getBoolean(2) && plan.targets.contains(r.getString(1)))
      .groupBy(_.getString(1)).map { case (l, rs) =>
        l -> rs.map(r => r.getLong(4).toDouble * r.getLong(4)).sum }
    val out = spark.read.parquet(written)
    val kept = out.groupBy("lang").agg(sum("tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val keptTotal = kept.values.sum
    val leaked = out.filter(col("text").rlike("@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count()
    val totalBand = plan.totalBand(tokensSq)
    def band(l: String) = plan.band(l, tokensSq)
    val share = kept.map { case (l, t) => l -> t / keptTotal }
    val off = plan.targets.filter { case (l, t) => math.abs(share.getOrElse(l, 0.0) - t) > band(l) }
    def shares = plan.targets.keys.toSeq.sorted.map(l =>
      f"$l ${share.getOrElse(l, 0.0)}%.3f vs ${plan.targets(l)}%.3f ± ${band(l)}%.3f")
    if (!truth.contaminated.subsetOf(ids))
      Some(s"${(truth.contaminated & ids).size} of ${truth.contaminated.size} planted eval spans reached the probe")
    else if (!truth.contaminated.subsetOf(flagged))
      Some(s"${(truth.contaminated & flagged).size} of ${truth.contaminated.size} planted eval spans flagged")
    else if (keptPerCluster.keySet != clusters || keptPerCluster.values.exists(_ != 1))
      Some(s"exact-copy members kept per cluster: $keptPerCluster over ${clusters.size} clusters")
    else if (piiWrong != 0) Some(s"$piiWrong docs with wrong PII counts")
    else if (leaked != 0) Some(s"$leaked output docs still hold an email")
    else if (math.abs(keptTotal - plan.expectedTotal) > totalBand)
      Some(f"mixture kept $keptTotal%.0f tokens, expected ${plan.expectedTotal}%.0f ± $totalBand%.0f")
    else if (off.nonEmpty || kept.keySet != plan.targets.keySet)
      Some("mixture shares off target: " + shares.mkString("; "))
    else None
  }
}
