package graft.operators

import graft.functions.{Num, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType

/** Quality-classifier TRAINING — the missing half of the fastText-style
  * curation loop (Joulin et al. 2017 "Bag of Tricks for Efficient Text
  * Classification"; the CCNet/GPT-3 pipelines train a linear model on
  * (trusted seed, random crawl) samples and keep high-scoring docs).
  * [[graft.functions.TextFunctions.scoreLinear]] already applies a
  * bucket-weight model; this trains one, distributed, from any
  * boolean label column. No reference counterpart; designed
  * Spark-first.
  *
  * Model: a linear classifier over the hashing-trick term-frequency
  * features of [[TextFunctions.hashFeatureBuckets]] (x_b = count_b /
  * n_features, plus an intercept feature at bucket −1), squashed by
  * the SOFTSIGN link `p(z) = 0.5 + z / (2·(1+|z|))` and trained by
  * full-batch gradient descent on that link's MATCHING LOSS (Helmbold,
  * Kivinen & Warmuth 1999, "Relative loss bounds for single neurons":
  * for any increasing link, the update `g_b = Σ_d (p_d − y_d)·x_db / N`
  * descends a convex loss). The softsign link is chosen over the
  * logistic exp deliberately: every arithmetic op in training is an
  * IEEE correctly-rounded `+ − × ÷ |·|`, so the trained weights replay
  * BIT-IDENTICALLY in any engine ([[trainQualitySql]] is the DuckDB
  * twin) — the library-wide determinism contract, which `exp` (only
  * faithfully rounded, engine-dependent last ulp, then amplified by
  * iteration) cannot honor. Decision semantics are unchanged:
  * `p > 0.5 ⟺ w·x > 0`, same as logistic.
  *
  * Distributed shape: the feature table builds once (explode → one
  * (doc, bucket) hash count), is re-partitioned on doc_id and
  * persisted; each GD round is one BROADCAST join against the
  * dim-bounded weight table + a doc-keyed aggregation (margins), one
  * co-partitioned join back + a bucket-keyed aggregation (gradients,
  * output ≤ dim+1 rows). Cross-row sums all decimal-accumulate
  * ([[Num.DotDec]]) so partitioning can never change a weight. Only
  * dim-bounded tables (gradients) ever reach the driver — the
  * ivfCentroids pattern. Corpus volume per round: one scan of the
  * cached feature table, two shuffles.
  */
object QualityModel {

  /** Train `iters` full-batch GD rounds; returns the weight table
    * `(bucket, weight)` over every observed bucket plus the intercept
    * (bucket −1), weights in double. `label` must be boolean (or
    * 0/1-numeric); documents with NO features (empty text) carry no
    * gradient signal and are excluded, like fastText's empty-line
    * skip. Compose with [[scoreQuality]] (same featurization) to
    * score, or round `weight × scale` into integer weights for
    * [[TextFunctions.scoreLinear]].
    */
  def trainQuality(df: DataFrame, id: Column, text: Column, label: Column,
      dim: Int, iters: Int, lr: Double,
      grams: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0.0, s"lr must be positive, got $lr")
    val spark = df.sparkSession
    import spark.implicits._
    Materialize.scope { s =>
      val feats = s.persist(features(df, id, text, Some(label), dim, grams)
        .repartition(col("doc_id")))
      val nDocs = feats.select(col("doc_id")).distinct().count()
      require(nDocs > 0, "no documents with features to train on")
      val nD = nDocs.toDouble
      // driver-held weights: dim-bounded (observed buckets + intercept),
      // initialized 0 — the oracle's w0
      val weights = scala.collection.mutable.LinkedHashMap[Long, Double]()
      feats.select(col("bucket")).distinct().orderBy(col("bucket"))
        .collect().foreach(r => weights(r.getLong(0)) = 0.0)
      for (_ <- 1 to iters) {
        val wDf = weights.toSeq.toDF("bucket", "w")
        val margins = feats.join(F.broadcast(wDf), Seq("bucket"))
          .groupBy(col("doc_id"), col("y"))
          .agg(F.sum((col("x") * col("w")).cast(Num.DotDec))
            .cast(DoubleType).as("z"))
        // delta = p(z) − y with the softsign link; expression shape
        // mirrors the oracle SQL token-for-token so each IEEE op
        // rounds identically
        val deltas = margins.select(col("doc_id"),
          ((lit(0.5) + col("z") / (lit(2.0) * (lit(1.0) + abs(col("z"))))) -
            col("y")).as("delta"))
        val grads = feats.join(deltas, Seq("doc_id"))
          .groupBy(col("bucket"))
          .agg(F.sum((col("delta") * col("x")).cast(Num.DotDec))
            .cast(DoubleType).as("g"))
          .collect()
        grads.foreach { r =>
          val b = r.getLong(0); val g = r.getDouble(1)
          weights(b) = weights(b) - lr * g / nD
        }
      }
      weights.toSeq.toDF("bucket", "weight")
    }
  }

  /** Score documents under a trained (double-weight) model — the
    * scoring twin of [[trainQuality]], same featurization: returns
    * `(doc_id, n_features, margin, score)` where margin = w·x
    * (unmatched buckets weigh 0) and score = softsign p(margin) ∈
    * (0, 1); `score > 0.5` is the positive-class verdict.
    * Featureless documents margin 0 / score 0.5 — they carry no
    * signal either way. One broadcast join + one doc-keyed shuffle.
    */
  def scoreQuality(df: DataFrame, id: Column, text: Column,
      weights: DataFrame, dim: Int,
      grams: Seq[Int] = Seq(1, 2)): DataFrame = {
    val feats = features(df, id, text, None, dim, grams)
    val w = weights.select(col("bucket"), col("weight").cast(DoubleType))
    feats.join(F.broadcast(w), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(
        F.sum(col("cnt")).as("n_features"),
        coalesce(F.sum((col("x") * coalesce(col("weight"), lit(0.0)))
          .cast(Num.DotDec)), lit(0).cast(Num.DotDec))
          .cast(DoubleType).as("margin"))
      // intercept is a feature row (bucket −1), so n_features counts
      // it; report the text-feature count the caller expects
      .select(col("doc_id"), (col("n_features") - 1).as("n_features"),
        col("margin"),
        (lit(0.5) + col("margin") /
          (lit(2.0) * (lit(1.0) + abs(col("margin"))))).as("score"))
  }

  /** Shared featurization: `(doc_id[, y], bucket, cnt, x)` — hashed
    * n-gram term frequencies plus the intercept row (bucket −1,
    * x = 1, cnt = 1) per document.
    */
  private def features(df: DataFrame, id: Column, text: Column,
      label: Option[Column], dim: Int, grams: Seq[Int]): DataFrame = {
    val base = label match {
      case Some(l) => df.select(id.as("doc_id"), l.cast(DoubleType).as("y"),
        text.as("__t"))
      case None => df.select(id.as("doc_id"), lit(0.0).as("y"),
        text.as("__t"))
    }
    val toks = base.select(col("doc_id"), col("y"),
      explode(TextFunctions.hashFeatureBuckets(col("__t"), dim, grams))
        .as("bucket"))
    val cnts = toks.groupBy(col("doc_id"), col("y"), col("bucket"))
      .agg(F.count(lit(1)).as("cnt"))
    val tot = cnts.groupBy(col("doc_id"), col("y"))
      .agg(F.sum(col("cnt")).as("__n"))
    val main = cnts.join(tot.select(col("doc_id"), col("__n")), Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("bucket"), col("cnt"),
        (col("cnt").cast(DoubleType) / col("__n").cast(DoubleType)).as("x"))
    val intercept = tot.select(col("doc_id"), col("y"),
      lit(-1L).as("bucket"), lit(1L).as("cnt"), lit(1.0).as("x"))
    main.unionByName(intercept)
  }

  /** DuckDB replay of [[trainQuality]] as unrolled CTEs over the
    * `documents` table (the pageRank/BPE oracle pattern): same
    * featurization ([[TextFunctions.hashFeatureBucketsSql]], grams
    * 1+2 — the default), same decimal-cast margin/gradient sums, same
    * softsign delta and update arithmetic, token-for-token — so the
    * weight table is bit-identical. `labelExpr` is the boolean label
    * SQL (e.g. `lang = 'en'`).
    */
  def trainQualitySql(labelExpr: String, dim: Int, iters: Int,
      lr: Double): String = {
    val bk = TextFunctions.hashFeatureBucketsSql("text", dim)
    val iterCtes = (1 to iters).map { i =>
      s""" m$i AS (SELECT f.doc_id, f.y,
         |   CAST(SUM(CAST(f.x * w.w AS DECIMAL(38,8))) AS DOUBLE) AS z
         |   FROM feats f JOIN w${i - 1} w USING (bucket) GROUP BY 1, 2),
         | d$i AS (SELECT doc_id,
         |   (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS delta FROM m$i),
         | g$i AS (SELECT f.bucket,
         |   CAST(SUM(CAST(d.delta * f.x AS DECIMAL(38,8))) AS DOUBLE) AS g
         |   FROM feats f JOIN d$i d USING (doc_id) GROUP BY 1),
         | w$i AS (SELECT w.bucket,
         |   w.w - $lr * COALESCE(g.g, 0.0) / (SELECT CAST(n AS DOUBLE) FROM nd) AS w
         |   FROM w${i - 1} w LEFT JOIN g$i g USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""WITH b0 AS (SELECT doc_id, CAST($labelExpr AS DOUBLE) AS y,
       |   unnest($bk) AS bucket FROM documents),
       | cnts AS (SELECT doc_id, y, bucket, COUNT(*) AS cnt
       |   FROM b0 GROUP BY 1, 2, 3),
       | tot AS (SELECT doc_id, y, SUM(cnt) AS n FROM cnts GROUP BY 1, 2),
       | feats AS (
       |   SELECT c.doc_id, c.y, c.bucket,
       |     CAST(c.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) AS x
       |   FROM cnts c JOIN tot t USING (doc_id)
       |   UNION ALL
       |   SELECT doc_id, y, CAST(-1 AS BIGINT) AS bucket, 1.0 AS x FROM tot),
       | nd AS (SELECT COUNT(*) AS n FROM tot),
       | w0 AS (SELECT bucket, 0.0 AS w
       |   FROM (SELECT DISTINCT bucket FROM feats)),
       |$iterCtes
       |SELECT bucket, w AS weight FROM w$iters ORDER BY bucket""".stripMargin
  }
}
