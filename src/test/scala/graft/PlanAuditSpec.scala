package graft

import org.apache.spark.sql.catalyst.expressions.{Explode, Expression, HigherOrderFunction, LambdaFunction, NamedLambdaVariable, OffsetWindowFunction, RLike, RegExpCount, RegExpExtractAll, RegExpReplace, RowFrame, SortArray, SpecifiedWindowFrame, StringSplit, UnboundedPreceding, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.{MinHashMins, SparkJobs, TaskBinaries}
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked scale invariants over [[PlanAudit.plans]] — the same
  * representative plans the audit main prints. Round 4 verified "every
  * heavy window partitions by (key, slice)" and "no SinglePartition
  * exchange" by reading stdout; this spec turns those claims into
  * assertions so a regression (a lost partitioning key turning a window
  * global, a bucketing default degenerating to a cross join) fails CI.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The smallTaskBinaries bound. With k = 64, the largest map-stage
    * binary of the MinHash plans was 436.1 KiB (keep) and 416.5 KiB
    * (pairs) while the signatures were 64 min aggregates and 64 lambdas,
    * each tree carrying its attributes and creation stack traces, and is
    * 70.0 KiB and 27.2 KiB with the kernel.
    */
  private val MaxTaskBinaryBytes = 128 * 1024

  private lazy val audited = PlanAudit.plans(spark, dir)
    .map(a => (a, a.df.queryExecution.executedPlan.toString))

  test("plans flagged noSinglePartition have no Exchange SinglePartition") {
    val flagged = audited.filter(_._1.noSinglePartition)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(!plan.contains("Exchange SinglePartition"),
        s"${a.name}:\n$plan")
  }

  test("sliced plans window over a (key, __graft_slice) partitioning") {
    val flagged = audited.filter(_._1.keySlicedWindows)
    assert(flagged.nonEmpty)
    val slicedExchange = """hashpartitioning\([^)]*__graft_slice""".r
    val slicedWindow = """windowspecdefinition\([^)]*__graft_slice""".r
    for ((a, plan) <- flagged) {
      assert(slicedExchange.findFirstIn(plan).isDefined,
        s"${a.name}: no (key, slice) exchange\n$plan")
      assert(slicedWindow.findFirstIn(plan).isDefined,
        s"${a.name}: no window over (key, slice)\n$plan")
    }
  }

  test("rank-limit plans push a partial WindowGroupLimit below the key shuffle") {
    val flagged = audited.filter(_._1.windowGroupLimit)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(plan.contains("WindowGroupLimit"), s"${a.name}:\n$plan")
  }

  test("top-k plans use TakeOrderedAndProject, never a whole-input sort") {
    val flagged = audited.filter(_._1.takeOrdered)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(plan.contains("TakeOrderedAndProject"), s"${a.name}:\n$plan")
  }

  test("plans flagged noShuffle contain no Exchange at all") {
    val flagged = audited.filter(_._1.noShuffle)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(!plan.contains("Exchange"), s"${a.name}:\n$plan")
  }

  test("broadcast-probe plans join via BroadcastHashJoin, never SortMergeJoin") {
    val flagged = audited.filter(_._1.broadcastProbe)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged) {
      assert(plan.contains("BroadcastHashJoin"), s"${a.name}:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"${a.name}:\n$plan")
    }
  }

  test("broadcast-scan plans stream the corpus against a broadcast side (ADC shape)") {
    val flagged = audited.filter(_._1.broadcastScan)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged) {
      assert(plan.contains("BroadcastNestedLoopJoin"), s"${a.name}:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"${a.name}:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"${a.name}:\n$plan")
    }
  }

  private def operators(a: PlanAudit.Audited) =
    PlanAudit.operators(a.df.queryExecution.executedPlan)

  test("persisted-GroupBy plans read the key-sorted cache with no Exchange above it") {
    val flagged = audited.filter(_._1.cacheLocal)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged) {
      assert(operators(a).exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"${a.name}: no cache read\n$plan")
      assert(!operators(a).exists(_.nodeName.contains("Exchange")), s"${a.name}:\n$plan")
    }
  }

  test("one-job plans run as exactly one Spark job once warm") {
    val flagged = audited.filter(_._1.oneJob)
    assert(flagged.nonEmpty)
    for ((a, _) <- flagged) {
      a.df.collect() // warm
      // counted on a fresh plan: a re-run of `a.df` itself would reuse
      // the shuffle files its first run left behind
      assert(SparkJobs.count(spark)(a.df.select("*").collect()) === 1, a.name)
    }
  }

  test("noSort plans sort nothing outside the cache") {
    val flagged = audited.filter(_._1.noSort)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(!operators(a).exists(_.isInstanceOf[SortExec]), s"${a.name}:\n$plan")
  }

  test("join-free plans contain no join operator") {
    val flagged = audited.filter(_._1.joinFree)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged)
      assert(!operators(a).exists(_.nodeName.contains("Join")), s"${a.name}:\n$plan")
  }

  /** Every physical operator of a plan, looking through AQE's wrapper
    * and query stages and INTO the plans of the caches it reads: a
    * cached frame with the same plan (the signatures another operator
    * persisted, say) replaces the subtree that computed it.
    */
  private def withCachedPlans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => withCachedPlans(a.executedPlan)
    case q: QueryStageExec => q +: withCachedPlans(q.plan)
    case m: InMemoryTableScanExec => m +: withCachedPlans(m.relation.cacheBuilder.cachedPlan)
    case p => p +: p.children.flatMap(withCachedPlans)
  }

  /** Every `split` inside a lambda body whose input reads none of that
    * lambda's own variables, as SQL.
    */
  private def loopInvariantSplits(a: PlanAudit.Audited): Seq[String] =
    for {
      node <- withCachedPlans(a.df.queryExecution.executedPlan)
      f <- node.expressions.flatMap(_.collect { case f: LambdaFunction => f })
      own = f.arguments.map(_.exprId).toSet
      s <- f.function.collect { case s: StringSplit => s }
      if !s.str.exists {
        case v: NamedLambdaVariable => own(v.exprId)
        case _ => false
      }
    } yield s.sql

  test("shingle consumers split each document once, not once per lambda call") {
    val flagged = audited.filter(_._1.noLoopInvariantSplit)
    assert(flagged.nonEmpty)
    val bad = flagged.map(f => f._1.name -> loopInvariantSplits(f._1))
      .filter(_._2.nonEmpty)
    assert(bad.isEmpty, bad.map { case (n, s) =>
      s"$n: ${s.size} × ${s.distinct.mkString(", ")}" }.mkString("\n"))
  }

  test("noLambda plans hold no higher-order function") {
    val flagged = audited.filter(_._1.noLambda)
    assert(flagged.nonEmpty)
    val bad = for {
      (a, _) <- flagged
      node <- withCachedPlans(a.df.queryExecution.executedPlan)
      f <- node.expressions.flatMap(_.collect { case f: HigherOrderFunction => f })
    } yield s"${a.name}: ${f.prettyName} in ${node.nodeName}"
    if (bad.nonEmpty) fail(s"${bad.size} higher-order functions:\n" +
      bad.groupBy(identity).map { case (k, v) => s"${v.size} × $k" }.mkString("\n"))
  }

  test("smallTaskBinaries plans ship no map-stage task binary over the bound") {
    val flagged = audited.filter(_._1.smallTaskBinaries)
    assert(flagged.nonEmpty)
    for ((a, _) <- flagged) {
      a.df.collect()
      val stages = TaskBinaries.mapStages(a.df)
      assert(stages.nonEmpty, a.name)
      info(s"${a.name}:\n${stages.mkString("\n")}")
      val big = stages.filter(_.bytes > MaxTaskBinaryBytes)
      assert(big.isEmpty, s"${a.name}, over $MaxTaskBinaryBytes bytes:\n${big.mkString("\n")}")
    }
  }

  test("noRegex plans run no regular expression") {
    val flagged = audited.filter(_._1.noRegex)
    assert(flagged.nonEmpty)
    val bad = for {
      (a, _) <- flagged
      node <- withCachedPlans(a.df.queryExecution.executedPlan)
      e <- node.expressions.flatMap(_.collect {
        case e @ (_: RegExpReplace | _: RegExpExtractAll | _: RLike | _: RegExpCount) => e
      })
    } yield s"${a.name}: ${e.prettyName} in ${node.nodeName}"
    assert(bad.isEmpty, bad.distinct.mkString("\n"))
  }

  test("signOnce plans call the MinHash kernel once per input, caches included") {
    val flagged = audited.filter(_._1.signOnce)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged) {
      val root = a.df.queryExecution.executedPlan
      // the plan outside its caches, then each cache it reads on its own
      val caches = withCachedPlans(root).collect {
        case m: InMemoryTableScanExec => m.relation.cacheBuilder.cachedPlan
      }.distinct
      val units = (root +: caches).map(PlanAudit.operators)
      assert(units.flatten.exists(_.expressions.exists(_.exists(_.isInstanceOf[MinHashMins]))),
        s"${a.name}: no MinHash kernel\n$plan")
      for (unit <- units) {
        val calls = unit.flatMap(_.expressions.flatMap(_.collect {
          case m: MinHashMins => m.canonicalized
        }))
        val repeated = calls.groupBy(identity).filter(_._2.size > 1)
        assert(repeated.isEmpty, s"${a.name}: ${repeated.values.map(_.size).mkString(", ")} " +
          s"calls on one input in\n${unit.head.treeString}")
      }
    }
  }

  /** Every expression of every operator, caches included. */
  private def allExpressions(a: PlanAudit.Audited): Seq[(String, Expression)] =
    for {
      node <- withCachedPlans(a.df.queryExecution.executedPlan)
      top <- node.expressions
      e <- top.collect { case e => e }
    } yield (node.nodeName, e)

  test("noSlidingFrame plans aggregate over no bounded ROWS frame") {
    val flagged = audited.filter(_._1.noSlidingFrame)
    assert(flagged.nonEmpty)
    val bad = for {
      (a, _) <- flagged
      (_, w) <- allExpressions(a).collect { case (n, w: WindowExpression) => (n, w) }
      frame <- Some(w.windowSpec.frameSpecification).collect {
        case f @ SpecifiedWindowFrame(RowFrame, lower, _) if lower != UnboundedPreceding => f
      }
      if !w.windowFunction.isInstanceOf[OffsetWindowFunction]
    } yield s"${a.name}: ${w.windowFunction.prettyName} over $frame"
    assert(bad.isEmpty, bad.distinct.mkString("\n"))
  }

  test("noCollect plans collect, sort and explode no arrays") {
    val flagged = audited.filter(_._1.noCollect)
    assert(flagged.nonEmpty)
    val bad = for {
      (a, _) <- flagged
      (node, e) <- allExpressions(a)
      if e.isInstanceOf[CollectList] || e.isInstanceOf[SortArray] || e.isInstanceOf[Explode]
    } yield s"${a.name}: ${e.prettyName} in $node"
    assert(bad.isEmpty, bad.distinct.mkString("\n"))
  }

  test("bucketed candidate generators plan equijoins, not cartesian/nested-loop") {
    val flagged = audited.filter(_._1.equiJoinOnly)
    assert(flagged.nonEmpty)
    for ((a, plan) <- flagged) {
      assert(!plan.contains("CartesianProduct"), s"${a.name}:\n$plan")
      assert(!plan.contains("NestedLoop"), s"${a.name}:\n$plan")
    }
  }
}
