package graft

import graft.operators.{AggSpec, GroupBy, RollingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential testing in the reference's style
  * (`tests/test_groupby/test_core.py:24-60`): randomized null-heavy
  * data, every op × mask cross-product, asserted against an
  * independent driver-side Scala oracle (the role pandas plays for
  * the reference). The Spark side exercises the full distributed
  * path (4 partitions, shuffles); the oracle is sequential Scala over
  * the same rows.
  */
case class DiffRow(ord: Int, key: Option[Int], v: Option[Double], m: Boolean)

class DifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  type R = DiffRow
  val R = DiffRow

  def gen(seed: Long, n: Int = 120): Seq[R] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      R(i,
        if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(6)),
        if (rnd.nextDouble() < 0.15) None else Some(math.rint(rnd.nextDouble() * 200) / 4),
        rnd.nextBoolean())
    }
  }

  def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None)         => true
    case (Some(x), Some(y))   => math.abs(x - y) <= 1e-9 * math.max(1, math.abs(x))
    case _                    => false
  }

  for (seed <- Seq(1L, 7L, 42L)) {
    val rows = gen(seed)
    lazy val df = rows.toDF("ord", "key", "v", "m").repartition(4)
    def gb = new GroupBy(df, Seq(col("key")))
    def grouped(useMask: Boolean): Map[Int, Seq[R]] =
      rows.filter(_.key.isDefined)
        .filter(r => !useMask || r.m)
        .groupBy(_.key.get).view.mapValues(_.sortBy(_.ord)).toMap

    def sparkAgg(op: String, mask: Boolean, ddof: Int = 1): Map[Int, Option[Double]] =
      gb.aggregate(Seq(AggSpec(op, col("v"), "r", ddof = ddof,
          ord = Some(struct(col("ord"), col("v"))))),
          mask = if (mask) Some(col("m")) else None)
        .collect().map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None
           else Some(r.get(1) match {
             case l: java.lang.Long   => l.toDouble
             case d: java.lang.Double => d.doubleValue
           }))).toMap

    for (mask <- Seq(false, true)) {
      val g = grouped(mask)

      test(s"seed=$seed mask=$mask: sum/mean/min/max/count vs scala oracle") {
        val vs = g.view.mapValues(_.flatMap(_.v)).toMap
        val expSum = vs.map { case (k, x) =>
          k -> (if (x.isEmpty) None else Some(x.sum)) }
        val expMean = vs.map { case (k, x) =>
          k -> (if (x.isEmpty) None else Some(x.sum / x.size)) }
        val expMin = vs.map { case (k, x) => k -> x.minOption }
        val expMax = vs.map { case (k, x) => k -> x.maxOption }
        val sSum = sparkAgg("sum", mask)
        val sMean = sparkAgg("mean", mask)
        val sMin = sparkAgg("min", mask)
        val sMax = sparkAgg("max", mask)
        assert(sSum.keySet === expSum.keySet)
        expSum.foreach { case (k, e) => assert(close(sSum(k), e), s"sum key $k") }
        expMean.foreach { case (k, e) => assert(close(sMean(k), e), s"mean key $k") }
        expMin.foreach { case (k, e) => assert(close(sMin(k), e), s"min key $k") }
        expMax.foreach { case (k, e) => assert(close(sMax(k), e), s"max key $k") }
        val sCount = sparkAgg("count", mask)
        g.foreach { case (k, rs) =>
          assert(sCount(k) === Some(rs.count(_.v.isDefined).toDouble)
            .map(_.toLong).map(_.toDouble).orElse(None) ||
            sCount(k).map(_.toLong) === Some(rs.count(_.v.isDefined).toLong))
        }
      }

      test(s"seed=$seed mask=$mask: first/last non-null by ord vs scala oracle") {
        val sFirst = sparkAgg("first", mask)
        val sLast = sparkAgg("last", mask)
        g.foreach { case (k, rs) =>
          val nn = rs.filter(_.v.isDefined)
          assert(sFirst(k) === nn.headOption.flatMap(_.v), s"first key $k")
          assert(sLast(k) === nn.lastOption.flatMap(_.v), s"last key $k")
        }
      }

      test(s"seed=$seed mask=$mask: var ddof 0/1 vs scala oracle") {
        for (ddof <- Seq(0, 1)) {
          val sVar = sparkAgg("var", mask, ddof = ddof)
          g.foreach { case (k, rs) =>
            val x = rs.flatMap(_.v)
            val exp =
              if (x.size <= ddof) None
              else {
                val mu = x.sum / x.size
                Some(x.map(d => (d - mu) * (d - mu)).sum / (x.size - ddof))
              }
            assert(close(sVar(k), exp), s"var ddof=$ddof key $k")
          }
        }
      }

      test(s"seed=$seed mask=$mask: cumsum accumulator-carry vs scala oracle") {
        val out = new RollingOps(gb).cumsum(col("v"), col("ord"),
            mask = if (mask) Some(col("m")) else None)
          .collect().map(r => r.getAs[Int]("ord") ->
            (if (r.isNullAt(r.fieldIndex("cumsum"))) None
             else Some(r.getAs[Double]("cumsum")))).toMap
        // oracle: per group in ord order, running sum over non-null,
        // mask-passing values; every row reads the accumulator, null
        // until the first contribution
        val exp = scala.collection.mutable.Map[Int, Option[Double]]()
        rows.groupBy(_.key).foreach {
          case (Some(_), rs) =>
            var acc: Option[Double] = None
            rs.sortBy(_.ord).foreach { r =>
              if ((!mask || r.m) && r.v.isDefined)
                acc = Some(acc.getOrElse(0.0) + r.v.get)
              exp(r.ord) = acc
            }
          case (None, rs) => rs.foreach(r => exp(r.ord) = None)
        }
        rows.foreach(r => assert(close(out(r.ord), exp(r.ord)), s"ord ${r.ord}"))
      }

      test(s"seed=$seed mask=$mask: cummin/cummax accumulator-carry vs scala oracle") {
        val d1 = new RollingOps(gb).cummin(col("v"), col("ord"),
          mask = if (mask) Some(col("m")) else None)
        val out = new RollingOps(new GroupBy(d1, Seq(col("key"))))
          .cummax(col("v"), col("ord"), mask = if (mask) Some(col("m")) else None)
          .collect().map { r =>
            def g(n: String) = if (r.isNullAt(r.fieldIndex(n))) None
                               else Some(r.getAs[Double](n))
            r.getAs[Int]("ord") -> (g("cummin"), g("cummax"))
          }.toMap
        val exp = scala.collection.mutable.Map[Int, (Option[Double], Option[Double])]()
        rows.groupBy(_.key).foreach {
          case (Some(_), rs) =>
            var (mn, mx): (Option[Double], Option[Double]) = (None, None)
            rs.sortBy(_.ord).foreach { r =>
              if ((!mask || r.m) && r.v.isDefined) {
                mn = Some(mn.fold(r.v.get)(math.min(_, r.v.get)))
                mx = Some(mx.fold(r.v.get)(math.max(_, r.v.get)))
              }
              exp(r.ord) = (mn, mx)
            }
          case (None, rs) => rs.foreach(r => exp(r.ord) = (None, None))
        }
        rows.foreach { r =>
          assert(close(out(r.ord)._1, exp(r.ord)._1), s"cummin ord ${r.ord}")
          assert(close(out(r.ord)._2, exp(r.ord)._2), s"cummax ord ${r.ord}")
        }
      }

      test(s"seed=$seed mask=$mask: rollingMax window=4 minPeriods=1 vs scala oracle") {
        val out = new RollingOps(gb).rollingMax(col("v"), col("ord"), 4,
            minPeriods = Some(1), mask = if (mask) Some(col("m")) else None)
          .collect().map(r => r.getAs[Int]("ord") ->
            (if (r.isNullAt(r.fieldIndex("rolling_max"))) None
             else Some(r.getAs[Double]("rolling_max")))).toMap
        val exp = scala.collection.mutable.Map[Int, Option[Double]]()
          .withDefaultValue(None)
        grouped(mask).foreach { case (_, rs) =>
          rs.zipWithIndex.foreach { case (r, i) =>
            val win = rs.slice(math.max(0, i - 3), i + 1).flatMap(_.v)
            exp(r.ord) = win.maxOption
          }
        }
        rows.foreach(r => assert(close(out(r.ord), exp(r.ord)), s"ord ${r.ord}"))
      }

      test(s"seed=$seed mask=$mask: rollingSum window=3 minPeriods=2 vs scala oracle") {
        val out = new RollingOps(gb).rollingSum(col("v"), col("ord"), 3,
            minPeriods = Some(2), mask = if (mask) Some(col("m")) else None)
          .collect().map(r => r.getAs[Int]("ord") ->
            (if (r.isNullAt(r.fieldIndex("rolling_sum"))) None
             else Some(r.getAs[Double]("rolling_sum")))).toMap
        val exp = scala.collection.mutable.Map[Int, Option[Double]]()
          .withDefaultValue(None)
        grouped(mask).foreach { case (_, rs) =>
          rs.zipWithIndex.foreach { case (r, i) =>
            val win = rs.slice(math.max(0, i - 2), i + 1).flatMap(_.v)
            exp(r.ord) = if (win.size >= 2) Some(win.sum) else None
          }
        }
        rows.foreach(r => assert(close(out(r.ord), exp(r.ord)), s"ord ${r.ord}"))
      }
    }

    test(s"seed=$seed: aggregateSalted equals the plain path for every salted op") {
      val specs = Seq(
        graft.operators.AggSpec("sum", col("v"), "o_sum", exact = true),
        graft.operators.AggSpec("mean", col("v"), "o_mean"),
        graft.operators.AggSpec("min", col("v"), "o_min"),
        graft.operators.AggSpec("max", col("v"), "o_max"),
        graft.operators.AggSpec("count", col("v"), "o_count"),
        graft.operators.AggSpec("size", lit(1), "o_size"))
      def toMaps(d: org.apache.spark.sql.DataFrame) =
        d.collect().map { r =>
          r.getInt(0) -> (1 until r.length).map(i =>
            if (r.isNullAt(i)) None else Some(r.get(i) match {
              case l: java.lang.Long   => l.toDouble
              case d2: java.lang.Double => d2.doubleValue
            })).toSeq
        }.toMap
      val plain = toMaps(gb.aggregate(specs, mask = Some(col("m"))))
      val salted = toMaps(gb.aggregateSalted(specs, saltBuckets = 8,
        mask = Some(col("m"))))
      assert(salted.keySet === plain.keySet)
      plain.foreach { case (k, vs) =>
        vs.zip(salted(k)).zipWithIndex.foreach { case ((p, s), i) =>
          assert(close(p, s), s"key $k col ${specs(i).name}") }
      }
    }

    test(s"seed=$seed: first/last tie-break contract is stable across partitionings") {
      // collapse ord to 10 buckets: heavy duplicate order keys inside
      // every group, so min_by/max_by would be partition-luck without
      // the (ord, v) struct tie-break the engine declares
      // (SparkEntry gb_first_last notes the hazard)
      val tied = rows.map(r => r.copy(ord = r.ord % 10))
      val exp = tied.filter(r => r.key.isDefined && r.v.isDefined)
        .groupBy(_.key.get).view.mapValues { rs =>
          val byOrdV = rs.sortBy(r => (r.ord, r.v.get))
          (byOrdV.head.v, byOrdV.last.v)
        }.toMap
      for (parts <- Seq(1, 7, 13)) {
        val df = tied.toDF("ord", "key", "v", "m").repartition(parts)
        val g = new GroupBy(df, Seq(col("key")))
        val out = g.aggregate(Seq(
            AggSpec("first", col("v"), "f", ord = Some(struct(col("ord"), col("v")))),
            AggSpec("last", col("v"), "l", ord = Some(struct(col("ord"), col("v"))))))
          .collect().map { r =>
            def v(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
            r.getInt(0) -> (v(1), v(2))
          }.toMap
        exp.foreach { case (k, (ef, el)) =>
          assert(out(k) === ((ef, el)), s"key $k at repartition($parts)")
        }
      }
    }

    test(s"seed=$seed: masked shift lags over the filtered sub-stream only") {
      val out = new RollingOps(gb).shift(col("v"), col("ord"), 1,
          mask = Some(col("m")))
        .collect().map(r => r.getAs[Int]("ord") ->
          (if (r.isNullAt(r.fieldIndex("shift"))) None
           else Some(r.getAs[Double]("shift")))).toMap
      // oracle: masked-out rows emit null; mask-passing rows lag over
      // the mask-passing sub-stream (null values pass through as values)
      val exp = scala.collection.mutable.Map[Int, Option[Double]]()
        .withDefaultValue(None)
      rows.filter(_.key.isDefined).groupBy(_.key.get).foreach { case (_, rs) =>
        val sub = rs.filter(_.m).sortBy(_.ord)
        sub.zipWithIndex.foreach { case (r, i) =>
          exp(r.ord) = if (i == 0) None else sub(i - 1).v
        }
      }
      rows.foreach(r => assert(out(r.ord) === exp(r.ord), s"ord ${r.ord}"))
    }

    test(s"seed=$seed: chunkByTokens vs scala sliding-window oracle") {
      import graft.functions.TextFunctions
      val rnd = new scala.util.Random(seed * 31 + 5)
      val docsR = (0 until 40).map { i =>
        val n = 1 + rnd.nextInt(120)
        (i.toLong, (0 until n).map(j => s"w${rnd.nextInt(9)}_$j").mkString(" "))
      }
      val (size, overlap) = (5 + rnd.nextInt(20), rnd.nextInt(5))
      val step = size - overlap
      val out = TextFunctions.chunkByTokens(docsR.toDF("doc_id", "text"),
          col("doc_id"), col("text"), size, overlap)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getString(2), r.getInt(3))).toMap
      val expected = docsR.flatMap { case (id, text) =>
        val toks = text.split(" ").toSeq
        val n = toks.size
        val nChunks = 1 + math.max(0, (n - size + step - 1) / step)
        (0 until nChunks).map { i =>
          val piece = toks.slice(i * step, i * step + size)
          (id, i) -> (piece.mkString(" "), piece.size)
        }
      }.toMap
      assert(out === expected, s"size=$size overlap=$overlap")
    }

    test(s"seed=$seed: native EwmVarFold bit-equals the declarative fold (all adjust x ignore_na x bias x minPeriods)") {
      // the two retired forms of Ewm.variance (now in WindowTreeForms,
      // the references WindowKernelSpec pins the running-frame kernel
      // against): the native EwmVarFold and the declarative aggregate
      // lambda. The 6-field state is where operation-order risk
      // concentrates, so they are pinned to each other on this
      // null-heavy randomized fixture (bit equality, not tolerance —
      // both claim the identical IEEE operation sequence)
      import org.apache.spark.sql.graft.WindowTreeForms
      val arrDf = df.select(struct(col("ord").as("__ord"),
          col("v").cast("double").as("__v")).as("s"))
        .groupBy().agg(sort_array(collect_list(col("s"))).as("rows"))
      def bits(xs: Seq[Any]): Seq[Long] = xs.map {
        case null                  => Long.MinValue
        case d: java.lang.Double   => java.lang.Double.doubleToRawLongBits(d)
      }
      for (adjust <- Seq(true, false); ignoreNa <- Seq(true, false);
           bias <- Seq(true, false); minP <- Seq(0, 3)) {
        val row = arrDf.select(
          WindowTreeForms.ewmVarFold(col("rows"), 0.25, adjust, ignoreNa,
            bias, minP).as("n"),
          WindowTreeForms.varianceOutsDeclarative(col("rows"), 0.25,
            adjust, ignoreNa, bias, minP).as("d")).head()
        assert(bits(row.getSeq[Any](0)) === bits(row.getSeq[Any](1)),
          s"adjust=$adjust ignoreNa=$ignoreNa bias=$bias minPeriods=$minP")
      }
    }

    test(s"seed=$seed: shift/diff vs scala oracle") {
      val ops = new RollingOps(gb)
      val sh = ops.shift(col("v"), col("ord"), 1).collect()
        .map(r => r.getAs[Int]("ord") ->
          (if (r.isNullAt(r.fieldIndex("shift"))) None
           else Some(r.getAs[Double]("shift")))).toMap
      grouped(useMask = false).foreach { case (_, rs) =>
        rs.zipWithIndex.foreach { case (r, i) =>
          val exp = if (i == 0) None else rs(i - 1).v
          assert(sh(r.ord) === exp, s"shift ord ${r.ord}")
        }
      }
    }
  }
}
