package graft

import graft.functions.{TextFunctions => TF, TextTreeForms => Tree}
import graft.operators.{Dedup, MinHashTreeForms}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.MinHashExpressions

/** The kernel layer: each native text expression against its retired
  * reference form ([[graft.functions.TextTreeForms]],
  * [[graft.operators.MinHashTreeForms]]), timed in one thread of this
  * process. Each form is analyzed and optimized over a local relation of
  * fixture documents, compiled with `UnsafeProjection` (subexpression
  * elimination on, as a whole-stage projection has it) and run over the
  * rows directly: no SparkContext job, scheduler or shuffle is involved.
  * Prints µs per document for each pair.
  *
  * Usage: `sbt "Test/runMain graft.KernelTiming [docs] [seconds]"`
  * (defaults 2000 documents, 1 s of timed passes per form).
  */
object KernelTiming {

  private val Words = ("the of and to in is that for it with as was on be at by this " +
    "have from or one had not but what all were when we there can an your which their " +
    "said if do will each about how up out them then she many some so these would other " +
    "into has more her two like him see time could no make than first been its who now " +
    "people my made over did down only way find use may water long little very after " +
    "words called just where most know data model training corpus pipeline quality").split(" ")

  /** `n` seeded documents of 8–14 lines, 5–16 words a line, shaped like
    * the curation recipe's pages: most lines end in a period, one
    * document in 16 carries an email and one in 16 an IP address, and
    * some lines carry a number.
    */
  def documents(n: Int, seed: Long = 7L): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n) { d =>
      val lines = Seq.fill(8 + rnd.nextInt(7)) {
        val ws = Seq.fill(5 + rnd.nextInt(12))(Words(rnd.nextInt(Words.length)))
        val num = if (rnd.nextInt(6) == 0) s" ${rnd.nextInt(2000)}" else ""
        ws.mkString(" ") + num + (if (rnd.nextInt(5) == 0) "" else ".")
      }
      val pii =
        if (d % 16 == 3) Seq(s"write to user${rnd.nextInt(999)}@mail${rnd.nextInt(50)}.org today.")
        else if (d % 16 == 11) Seq(s"the server at 10.${rnd.nextInt(250)}.${rnd.nextInt(250)}.7 is up.")
        else Nil
      (lines ++ pii).mkString("\n")
    }
  }

  /** (label, native, reference) over the text column `t`. */
  def pairs(t: Column): Seq[(String, Column, Column)] = {
    val hs = F.transform(Dedup.shingleArray(t, 2), xxhash64(_))
    Seq(
      ("redactPii", TF.redactPii(t), Tree.redactPii(t)),
      ("piiStats", TF.piiStats(t), Tree.piiStats(t)),
      ("pii recipe (stats+redact+tokens)",
        struct(TF.piiStats(t), TF.redactPii(t), TF.tokenCountWs(TF.redactPii(t))),
        struct(Tree.piiStats(t), Tree.redactPii(t), Tree.tokenCountWs(Tree.redactPii(t)))),
      ("tokenCountWs", TF.tokenCountWs(t), Tree.tokenCountWs(t)),
      ("ngramArray n=2", TF.ngramArray(t, 2), Tree.ngramArray(t, 2)),
      ("charNgramArray n=5", TF.charNgramArray(t, 5), Tree.charNgramArray(t, 5)),
      ("chunkArray 32/8", TF.chunkArray(t, 32, 8), Tree.chunkArray(t, 32, 8)),
      ("c4FilteredText", TF.c4FilteredText(t), Tree.c4FilteredText(t)),
      ("c4DocFlags", TF.c4DocFlags(t), Tree.c4DocFlags(t)),
      ("gopherQualityFlags", TF.gopherQualityFlags(t), Tree.gopherQualityFlags(t)),
      ("stopwordRatio", TF.stopwordRatio(t), Tree.stopwordRatio(t)),
      ("langId", TF.langId(t), Tree.langId(t)),
      ("langIdScript", TF.langIdScript(t), Tree.langIdScript(t)),
      ("scriptFractions", TF.scriptFractions(t), Tree.scriptFractions(t)),
      ("fingerprint", TF.fingerprint(t), Tree.fingerprint(t)),
      ("normalizeForDedup", TF.normalizeForDedup(t), Tree.normalizeForDedup(t)),
      ("hashFeatureBuckets", TF.hashFeatureBuckets(t, 1 << 18),
        Tree.hashFeatureBuckets(t, 1 << 18)),
      ("minhash signature k=64",
        MinHashExpressions.minHashMins(hs, Dedup.minHashCoeffs(64)),
        MinHashTreeForms.signature(t, 2, 64)))
  }

  /** `c` over `df`'s rows as a compiled projection and those rows. */
  def compile(df: DataFrame, c: Column): (UnsafeProjection, Seq[InternalRow]) =
    df.select(c).queryExecution.optimizedPlan match {
      case Project(list, rel: LocalRelation) =>
        (GenerateUnsafeProjection.generate(
          BindReferences.bindReferences(list, AttributeSeq(rel.output)),
          subexpressionEliminationEnabled = true), rel.data)
      case other => sys.error(s"expected a projection over local rows, got\n$other")
    }

  /** µs per row of `proj` over `rows`: one warm-up pass, then whole
    * passes until `seconds` have passed.
    */
  def usPerRow(proj: UnsafeProjection, rows: Seq[InternalRow], seconds: Double): Double = {
    var sink = 0L
    def pass(): Unit = rows.foreach(r => sink += proj(r).getSizeInBytes)
    pass()
    var passes = 0
    val start = System.nanoTime()
    while (passes == 0 || System.nanoTime() - start < seconds * 1e9) { pass(); passes += 1 }
    val us = (System.nanoTime() - start) / 1e3 / passes / rows.size
    if (sink == 42L) println() // keeps the results observable
    us
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(2000)
    val seconds = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      // keep projections over local rows unevaluated by the optimizer
      .config("spark.sql.optimizer.excludedRules", ConvertToLocalRelation.ruleName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = documents(nDocs)
    val df = docs.toDF("t")
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    println(f"kernel layer: $nDocs documents, ${docs.map(_.length).sum / nDocs}%d chars " +
      f"on average, ${Runtime.getRuntime.availableProcessors}%d cpus, one thread")
    println(f"${"expression"}%-34s ${"native µs/doc"}%14s ${"reference µs/doc"}%17s ${"ratio"}%7s")
    for ((label, native, reference) <- pairs(col("t"))) {
      val (np, rows) = compile(df, native)
      val (rp, _) = compile(df, reference)
      val n = usPerRow(np, rows, seconds)
      val r = usPerRow(rp, rows, seconds)
      println(f"$label%-34s $n%14.2f $r%17.2f ${r / n}%6.1fx")
    }
    val ran = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - jobs
    println(s"spark jobs run while timing: $ran")
    spark.stop()
  }
}
