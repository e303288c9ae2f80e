package graft

import graft.operators.{GroupBy, RollingOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{WindowExpressions, WindowTreeForms}
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec of the running-frame window kernels
  * ([[org.apache.spark.sql.graft.RollingWindow]],
  * [[org.apache.spark.sql.graft.EwmWindow]]) against the forms they
  * replaced ([[WindowTreeForms]]): the bounded-frame rolling aggregates
  * — plain, exact, var/std, prod and the cov/corr pair moments; plain,
  * masked and sliced — and the collected-row ewm folds. Equality is in
  * bits (`doubleToLongBits` / `floatToIntBits`: `-0.0` differs from
  * `0.0`, NaN is one value) and in schema, never within a tolerance — the kernels claim
  * the same IEEE operation sequence.
  */
class WindowKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Ops = Seq("sum", "mean", "min", "max", "count", "var", "std")

  /** The formulas over the kernel's sums and counts: op and `exact`. */
  private val Formulas = Seq("sum", "mean", "var", "std").map(_ -> true) :+ ("prod" -> false)

  /** Keys 0..5 plus null, a unique int ord per key, doubles with nulls,
    * `±0.0`, NaN and `±Inf`; key 4 is all null, key 5 holds 130 rows
    * (longer than the 50-row window), key 3 one row.
    */
  private lazy val fixture: DataFrame = {
    val rnd = new scala.util.Random(7)
    val specials = Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    def value(allNull: Boolean): Option[Double] = {
      val u = rnd.nextDouble()
      if (allNull || u < 0.2) None
      else if (u < 0.27) Some(specials(rnd.nextInt(specials.size)))
      else Some(math.rint(rnd.nextGaussian() * 1e4) / 64.0 + rnd.nextDouble())
    }
    val sizes = Seq(Some(0) -> 40, Some(1) -> 25, Some(2) -> 60, Some(3) -> 1,
      Some(4) -> 12, Some(5) -> 130, None -> 30)
    val rows = for {
      (k, n) <- sizes
      i <- 0 until n
    } yield (k, i * 10 + rnd.nextInt(10), value(k.contains(4)),
      rnd.nextDouble() < 0.6, s"p$i")
    rows.toDF("k", "ord", "v", "m", "pad")
  }

  /** The fixture with `x`, its values finite below 1e9 (an exact sum
    * casts to decimal, which a NaN or infinity fails under ANSI), and
    * `y`, a second series whose nulls fall on other rows.
    */
  private lazy val pairs: DataFrame = fixture
    .withColumn("x", when(!isnan(col("v")) && abs(col("v")) < 1e9, col("v")))
    .withColumn("y", when(col("ord") % 5 =!= 2, cos(col("ord")) * 37.0))

  private def formula(op: String, exact: Boolean): String =
    if (exact) s"${op}_exact" else op

  private def ops(df: DataFrame, dropNullKeys: Boolean = true) =
    new RollingOps(new GroupBy(df, Seq(col("k")), dropNullKeys = dropNullKeys))

  private def bits(x: Any): Any = x match {
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f)
    case other => other
  }

  /** Rows ordered by (k, ord), every value in bits. */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    df.orderBy(col("k").asc_nulls_first, col("ord"))
      .select(cols.map(c => col(s"`$c`")): _*).collect().toSeq
      .map(_.toSeq.map(bits))

  private def sameAs(got: DataFrame, want: DataFrame, cols: Seq[String],
      clue: String): Unit = {
    assert(got.select(cols.map(col): _*).schema.map(f => (f.name, f.dataType)) ===
      want.select(cols.map(col): _*).schema.map(f => (f.name, f.dataType)), clue)
    val (g, w) = (rowsOf(got, cols), rowsOf(want, cols))
    assert(g.size === w.size, clue)
    val bad = g.zip(w).zipWithIndex.filter { case ((a, b), _) => a != b }
    assert(bad.isEmpty, s"$clue: ${bad.size} rows differ, first ${bad.headOption}")
  }

  for (dropNullKeys <- Seq(true, false); window <- Seq(1, 2, 3, 50, 400)) {
    test(s"rolling kernel bit-equals the bounded frame: window=$window " +
        s"dropNullKeys=$dropNullKeys, every op x minPeriods {0, 1, window}") {
      val combos = for (op <- Ops; mp <- Seq(0, 1, window).distinct) yield (op, mp)
      val got = combos.foldLeft(fixture) { case (d, (op, mp)) =>
        ops(d, dropNullKeys).rollingAgg(op, col("v"), col("ord"), window,
          Some(mp), name = s"${op}_$mp")
      }
      val want = combos.foldLeft(fixture) { case (d, (op, mp)) =>
        WindowTreeForms.rolling(d, Seq("k"), op, col("v"), col("ord"), window,
          mp, s"${op}_$mp", dropNullKeys)
      }
      sameAs(got, want, Seq("k", "ord") ++ combos.map { case (o, m) => s"${o}_$m" },
        s"window=$window dropNullKeys=$dropNullKeys")
    }
  }

  test("rolling kernel keeps Spark's result types and values on non-double inputs") {
    // ints: mean folds as doubles, sum/min/max through Spark's own
    // aggregates (long sum, int min/max); decimals: sum and mean keep
    // their decimal types; floats: sum widens to double; strings:
    // min/max by Spark's ordering
    val fin = when(!col("v").isNaN && abs(col("v")) < 1e9, col("v"))
    val d = fixture
      .withColumn("i", (fin * 3).cast("int"))
      .withColumn("dec", fin.cast("decimal(12,3)"))
      .withColumn("f", col("v").cast("float"))
      .withColumn("s", when(col("v").isNotNull, concat(lit("x"), col("pad"))))
    val cases = Seq("i" -> Ops, "dec" -> Seq("sum", "mean", "min", "max"),
      "f" -> Seq("sum", "mean", "min", "max"), "s" -> Seq("min", "max", "count"))
    for ((c, cOps) <- cases; window <- Seq(3, 50)) {
      val names = cOps.map(o => s"${c}_$o")
      val got = cOps.foldLeft(d) { (acc, op) =>
        ops(acc).rollingAgg(op, col(c), col("ord"), window, Some(1), name = s"${c}_$op")
      }
      val want = cOps.foldLeft(d) { (acc, op) =>
        WindowTreeForms.rolling(acc, Seq("k"), op, col(c), col("ord"), window, 1,
          s"${c}_$op")
      }
      sameAs(got, want, Seq("k", "ord") ++ names, s"$c window=$window")
    }
  }

  for (window <- Seq(1, 3, 50)) {
    test(s"masked rolling kernel bit-equals the masked bounded frame: window=$window") {
      val got = Ops.foldLeft(fixture) { (d, op) =>
        ops(d).rollingAgg(op, col("v"), col("ord"), window, Some(1),
          mask = Some(col("m")), name = op)
      }
      val want = Ops.foldLeft(fixture) { (d, op) =>
        WindowTreeForms.rollingMasked(d, Seq("k"), op, col("v"), col("ord"),
          window, 1, col("m"), op)
      }
      sameAs(got, want, Seq("k", "ord") ++ Ops, s"window=$window")
    }
  }

  for (window <- Seq(2, 50)) {
    test(s"sliceWidth rolling kernel bit-equals the unsplit bounded frame, plain and masked: window=$window") {
      // slices of 40 ords: key 5 spans ten, key 0 four; the injected
      // tails put each slice's first rows' windows back together
      val slice = Some(40L)
      for (op <- Seq("sum", "mean", "max", "var")) {
        sameAs(
          ops(fixture).rollingAgg(op, col("v"), col("ord"), window, Some(1),
            name = op, sliceWidth = slice),
          WindowTreeForms.rolling(fixture, Seq("k"), op, col("v"), col("ord"),
            window, 1, op),
          Seq("k", "ord", op), s"$op window=$window")
        sameAs(
          ops(fixture).rollingAgg(op, col("v"), col("ord"), window, Some(1),
            mask = Some(col("m")), name = op, sliceWidth = slice),
          WindowTreeForms.rollingMasked(fixture, Seq("k"), op, col("v"),
            col("ord"), window, 1, col("m"), op),
          Seq("k", "ord", op), s"masked $op window=$window")
      }
    }
  }

  for (dropNullKeys <- Seq(true, false); window <- Seq(1, 3, 50)) {
    test(s"exact and prod rolling formulas over the kernel bit-equal the bounded frame: " +
        s"window=$window dropNullKeys=$dropNullKeys, minPeriods {0, 1, window}") {
      val combos = for ((op, exact) <- Formulas; mp <- Seq(0, 1, window).distinct)
        yield (op, exact, mp, s"${formula(op, exact)}_$mp")
      val got = combos.foldLeft(pairs) { case (d, (op, exact, mp, name)) =>
        ops(d, dropNullKeys).rollingAgg(op, col("x"), col("ord"), window, Some(mp),
          name = name, exact = exact)
      }
      val want = combos.foldLeft(pairs) { case (d, (op, exact, mp, name)) =>
        WindowTreeForms.rolling(d, Seq("k"), op, col("x"), col("ord"), window, mp,
          name, dropNullKeys, exact)
      }
      sameAs(got, want, Seq("k", "ord") ++ combos.map(_._4),
        s"window=$window dropNullKeys=$dropNullKeys")
    }
  }

  for (window <- Seq(1, 3, 50)) {
    test(s"masked exact and prod rolling formulas bit-equal the masked bounded frame: window=$window") {
      val names = Formulas.map { case (op, exact) => formula(op, exact) }
      val got = Formulas.foldLeft(pairs) { case (d, (op, exact)) =>
        ops(d).rollingAgg(op, col("x"), col("ord"), window, Some(1),
          mask = Some(col("m")), name = formula(op, exact), exact = exact)
      }
      val want = Formulas.foldLeft(pairs) { case (d, (op, exact)) =>
        WindowTreeForms.rollingMasked(d, Seq("k"), op, col("x"), col("ord"),
          window, 1, col("m"), formula(op, exact), exact = exact)
      }
      sameAs(got, want, Seq("k", "ord") ++ names, s"window=$window")
    }
  }

  for (window <- Seq(2, 50)) {
    test(s"sliceWidth exact and prod rolling formulas bit-equal the unsplit bounded frame, plain and masked: window=$window") {
      for ((op, exact) <- Formulas; masked <- Seq(false, true)) {
        val mask = if (masked) Some(col("m")) else None
        val name = formula(op, exact)
        val want =
          if (masked) WindowTreeForms.rollingMasked(pairs, Seq("k"), op, col("x"),
            col("ord"), window, 1, col("m"), name, exact = exact)
          else WindowTreeForms.rolling(pairs, Seq("k"), op, col("x"), col("ord"),
            window, 1, name, exact = exact)
        sameAs(ops(pairs).rollingAgg(op, col("x"), col("ord"), window, Some(1),
            mask = mask, name = name, exact = exact, sliceWidth = Some(40L)),
          want, Seq("k", "ord", name), s"$name masked=$masked window=$window")
      }
    }
  }

  for (dropNullKeys <- Seq(true, false)) {
    test(s"rolling cov and corr over the kernel bit-equal the bounded frame, double and exact: " +
        s"dropNullKeys=$dropNullKeys") {
      // the double forms read the raw values, NaN and infinities included
      for (exact <- Seq(false, true); window <- Seq(1, 2, 3, 50);
           mp <- Seq(0, 1, window).distinct) {
        val x = col(if (exact) "x" else "v")
        val clue = s"exact=$exact window=$window minPeriods=$mp"
        for (ddof <- Seq(0, 1))
          sameAs(
            ops(pairs, dropNullKeys).rollingCov(x, col("y"), col("ord"), window,
              Some(mp), ddof, name = "c", exact = exact),
            WindowTreeForms.rollingPair(pairs, Seq("k"), "cov", x, col("y"),
              col("ord"), window, mp, "c", ddof, exact, dropNullKeys),
            Seq("k", "ord", "c"), s"cov ddof=$ddof $clue")
        sameAs(
          ops(pairs, dropNullKeys).rollingCorr(x, col("y"), col("ord"), window,
            Some(mp), name = "c", exact = exact),
          WindowTreeForms.rollingPair(pairs, Seq("k"), "corr", x, col("y"),
            col("ord"), window, mp, "c", exact = exact, dropNullKeys = dropNullKeys),
          Seq("k", "ord", "c"), s"corr $clue")
      }
    }
  }

  for (dropNullKeys <- Seq(true, false)) {
    test(s"ewm kernel bit-equals the collected-row folds: dropNullKeys=$dropNullKeys, " +
        "adjust x ignoreNa x bias x minPeriods") {
      val out = fixture.columns.toSeq :+ "e"
      for (adjust <- Seq(true, false); ignoreNa <- Seq(true, false)) {
        val clue = s"adjust=$adjust ignoreNa=$ignoreNa"
        sameAs(
          ops(fixture, dropNullKeys).ewmMean(col("v"), col("ord"), 0.3, adjust,
            ignoreNa, name = "e"),
          WindowTreeForms.ewmMean(fixture, Seq("k"), col("v"), col("ord"), 0.3,
            adjust, ignoreNa, "e", dropNullKeys),
          out, s"mean $clue")
        for (bias <- Seq(true, false); minP <- Seq(0, 1, 5)) {
          val want = WindowTreeForms.ewmVar(fixture, Seq("k"), col("v"),
            col("ord"), 0.3, adjust, ignoreNa, bias, minP, "e", dropNullKeys)
          sameAs(
            ops(fixture, dropNullKeys).ewmVar(col("v"), col("ord"), 0.3, adjust,
              ignoreNa, bias, minP, name = "e"),
            want, out, s"var $clue bias=$bias minPeriods=$minP")
          sameAs(
            ops(fixture, dropNullKeys).ewmStd(col("v"), col("ord"), 0.3, adjust,
              ignoreNa, bias, minP, name = "e"),
            want.withColumn("e", sqrt(col("e"))),
            out, s"std $clue bias=$bias minPeriods=$minP")
        }
      }
    }
  }

  test("ewm var kernel bit-equals the declarative fold") {
    val rows = fixture.filter(col("k") === 5)
      .select(struct(col("ord").as("__ord"), col("v").as("__v")).as("s"))
      .groupBy().agg(sort_array(collect_list(col("s"))).as("rows"))
    for (adjust <- Seq(true, false); ignoreNa <- Seq(true, false)) {
      val decl = rows.select(WindowTreeForms.varianceOutsDeclarative(col("rows"),
        0.3, adjust, ignoreNa, bias = false, minPeriods = 2)).head().getSeq[Any](0)
      val kernel = ops(fixture.filter(col("k") === 5))
        .ewmVar(col("v"), col("ord"), 0.3, adjust, ignoreNa, minPeriods = 2)
        .orderBy("ord").select("ewm_var").collect().toSeq.map(_.get(0))
      assert(kernel.map(bits) === decl.map(bits), s"adjust=$adjust ignoreNa=$ignoreNa")
    }
  }

  test("one key with 10^5 rows: rolling and ewm kernels equal their references") {
    val n = 100000
    val d = spark.range(n).select(lit(1).as("k"), col("id").cast("int").as("ord"),
      when(col("id") % 7 === 3, lit(null)).otherwise(sin(col("id")) * 100).as("v"))
    for (op <- Seq("sum", "mean", "std"))
      sameAs(ops(d).rollingAgg(op, col("v"), col("ord"), 50, Some(1), name = op),
        WindowTreeForms.rolling(d, Seq("k"), op, col("v"), col("ord"), 50, 1, op),
        Seq("k", "ord", op), op)
    sameAs(ops(d).ewmMean(col("v"), col("ord"), 0.2, ignoreNa = true),
      WindowTreeForms.ewmMean(d, Seq("k"), col("v"), col("ord"), 0.2,
        ignoreNa = true), Seq("k", "ord", "v", "ewm_mean"), "ewm mean")
  }

  test("kernels and references agree with code generation off") {
    // the window's processor projections and the fold references then
    // run interpreted `eval`, where the tests above run generated code
    KernelDiff.withConf(spark, "spark.sql.codegen.wholeStage", "false") {
      KernelDiff.withConf(spark, "spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        val got = Ops.foldLeft(fixture) { (d, op) =>
          ops(d).rollingAgg(op, col("v"), col("ord"), 3, Some(1), name = op)
        }
        val want = Ops.foldLeft(fixture) { (d, op) =>
          WindowTreeForms.rolling(d, Seq("k"), op, col("v"), col("ord"), 3, 1, op)
        }
        sameAs(got, want, Seq("k", "ord") ++ Ops, "rolling window=3")
        for ((op, exact) <- Formulas)
          sameAs(ops(pairs).rollingAgg(op, col("x"), col("ord"), 3, Some(1),
              name = op, exact = exact),
            WindowTreeForms.rolling(pairs, Seq("k"), op, col("x"), col("ord"), 3, 1,
              op, exact = exact),
            Seq("k", "ord", op), s"rolling ${formula(op, exact)} window=3")
        for (exact <- Seq(false, true))
          sameAs(ops(pairs).rollingCorr(col("x"), col("y"), col("ord"), 3,
              Some(1), name = "c", exact = exact),
            WindowTreeForms.rollingPair(pairs, Seq("k"), "corr", col("x"), col("y"),
              col("ord"), 3, 1, "c", exact = exact),
            Seq("k", "ord", "c"), s"rolling corr exact=$exact window=3")
        sameAs(ops(fixture).ewmVar(col("v"), col("ord"), 0.3, ignoreNa = true,
            minPeriods = 1, name = "e"),
          WindowTreeForms.ewmVar(fixture, Seq("k"), col("v"), col("ord"), 0.3,
            ignoreNa = true, minPeriods = 1, name = "e"),
          fixture.columns.toSeq :+ "e", "ewm var")
      }
    }
  }

  test("the kernels run only over a window: a grouped aggregate of one fails") {
    val e = intercept[Exception] {
      fixture.groupBy("k").agg(WindowExpressions.rolling("sum", col("v"), 3, 1))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("window"), e.getMessage)
    val e2 = intercept[Exception] {
      fixture.groupBy("k").agg(WindowExpressions.ewmMean(col("v"), 0.5, true, false))
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("window"), e2.getMessage)
  }

  test("ewm still fails loudly on a null ord of a grouped row") {
    val d = Seq((Option(1), Option(1), Option(1.0)), (Option(1), None, Option(2.0)))
      .toDF("k", "ord", "v")
    val e = intercept[Exception](ops(d).ewmMean(col("v"), col("ord"), 0.5).collect())
    assert(e.getMessage.contains("non-null ord"), e.getMessage)
  }
}
