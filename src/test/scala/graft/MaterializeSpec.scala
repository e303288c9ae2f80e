package graft

import graft.operators.{Dedup, Dsir, GraphOps, Joins, LangModel, Materialize,
  Reshape, Vocab}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The materialization policy ([[Materialize]]): release semantics, the
  * scope's cleanup on a throw, every checkpointing operator under a
  * reliable checkpoint dir, and a source lint that keeps the policy in
  * one place.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees an eager local checkpoint's RDD-level blocks") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val before = persisted
    val df = Materialize.checkpoint(spark.range(100).toDF("x"), eager = true)
    assert((persisted -- before).nonEmpty, "the local checkpoint holds blocks")
    // Dataset.unpersist only drops CacheManager entries — the blocks stay
    df.unpersist()
    assert((persisted -- before).nonEmpty)
    Materialize.release(df)
    assert((persisted -- before).isEmpty,
      "release must unpersist the checkpoint RDD itself")
  }

  test("scope releases its persists on exit and on a throw; the cause propagates") {
    val before = persisted
    val n = Materialize.scope { s =>
      s.persist(spark.range(50).toDF("x")).count()
    }
    assert(n === 50 && (persisted -- before).isEmpty)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Materialize.scope { s =>
        s.persist(spark.range(50).toDF("x")).count()
        s.persist(spark.range(70).toDF("y")).count()
        throw boom
      }
    }
    assert(thrown eq boom)
    assert((persisted -- before).isEmpty,
      "a throwing scope left persisted RDDs behind")
  }

  // ------------------------------------------ every checkpointing site

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "lorem ipsum dolor sit amet consectetur"),
    (4L, "lorem ipsum dolor sit amet adipiscing"),
    (5L, "low low low lower lowest newest newest")).toDF("doc_id", "text")

  /** One entry per operator that materializes through
    * [[Materialize.checkpoint]]; each returns its collected result. */
  private lazy val sites: Seq[(String, () => Seq[String])] = Seq(
    "fuzzyJoin" -> (() => {
      val left = Seq((1L, "Widget Alpha"), (2L, "Gadget Beta"), (3L, "Gizmo"))
        .toDF("id", "name")
      val right = Seq((10L, "widget alpja"), (20L, "Xadget Beta"),
        (30L, "gizmo XL"), (40L, "GIZMO ")).toDF("id", "name")
      rows(Joins.fuzzyJoin(left, col("id"), col("name"),
        right, col("id"), col("name"), maxDist = 2))
    }),
    "ngramJaccardPairs" -> (() => Seq(false, true).flatMap { prefix =>
      rows(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        n = 2, threshold = 0.5, maxDocFreq = Some(30), prefixFilter = prefix))
    }),
    "pageRank" -> (() =>
      rows(GraphOps.pageRank(Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
        .toDF("src", "dst"), iterations = 3))),
    "connectedComponents" -> (() =>
      rows(Dedup.connectedComponents((0L until 7L).map(i => (i, i + 1))
        .toDF("x", "y"), col("x"), col("y")))),
    "learnBpeMerges" -> (() =>
      rows(Vocab.learnBpeMerges(docs, col("text"), 4))),
    "factorize" -> (() =>
      rows(Reshape.factorize(Seq((0, "b"), (1, "a"), (2, "b"), (3, null))
        .toDF("ord", "c"), col("c"), col("ord")))),
    "Dsir.bucketCounts" -> (() =>
      rows(Dsir.bucketCounts(docs, col("text"), 16))),
    "LangModel.unigramCounts" -> (() =>
      rows(LangModel.unigramCounts(docs, col("text")))))

  private def filesUnder(dir: Path): Int =
    Files.walk(dir).iterator().asScala.count(Files.isRegularFile(_))

  for ((name, run) <- sites)
    test(s"$name under a checkpoint dir: same rows, files written, no leaks") {
      val sc = spark.sparkContext
      val localOut = run()
      val dir = Files.createTempDirectory("graft-ckpt-")
      sc.setCheckpointDir(dir.toString)
      try {
        val before = persisted
        assert(run() === localOut)
        assert(filesUnder(dir) > 0, s"$name wrote no checkpoint files")
        val leaked = persisted -- before
        assert(leaked.isEmpty,
          s"${leaked.size} persisted RDDs remain after a checkpointed $name")
      } finally sc.setCheckpointDir(null)
    }

  test("only Materialize calls Spark's checkpoint APIs in src/main/scala") {
    val call = """localCheckpoint\(|(?<!Materialize)\.checkpoint\(""".r
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if {
              val code = line.split("//", 2)(0).trim
              !code.startsWith("*") && !code.startsWith("/*") &&
                call.findFirstIn(code).isDefined
            } => s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"materialize through graft.operators.Materialize:\n${offenders.mkString("\n")}")
  }
}
