package org.apache.spark.sql.graft

import java.io.{ObjectOutputStream, OutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

import scala.collection.mutable

/** The task binaries of a plan's map stages, built as the scheduler
  * builds them: the closure serializer's bytes of the stage's
  * `(rdd, ShuffleDependency)`, which every task of the stage
  * deserializes before it runs. Lives in this package for
  * `SparkEnv.closureSerializer` (private[spark]).
  */
object TaskBinaries {

  /** One map stage: its task count, binary size and the classes with
    * the most objects in the binary.
    */
  final case class Stage(shuffleId: Int, tasks: Int, bytes: Int, objects: Int,
      topClasses: Seq[(String, Int)]) {
    override def toString: String =
      f"shuffle $shuffleId: $tasks tasks x ${bytes / 1024.0}%.1f KiB, $objects objects (" +
        topClasses.map { case (c, n) => s"$n $c" }.mkString(", ") + ")"
  }

  /** Every map stage of `df`'s executed plan, the plans of the caches it
    * reads included. Run `df` first: under adaptive execution the stages
    * are fixed only once it has run. A reused exchange, or a cache read
    * twice, is no new stage.
    */
  def mapStages(df: DataFrame, top: Int = 6): Seq[Stage] =
    shuffles(df.queryExecution.executedPlan).distinctBy(_.shuffleDependency.shuffleId).map { e =>
      val dep = e.shuffleDependency
      dep.rdd.partitions // as stage creation does, before the binary is built
      val binary: AnyRef = (dep.rdd, dep)
      val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(binary).limit()
      val counts = classCounts(binary)
      Stage(dep.shuffleId, dep.rdd.getNumPartitions, bytes, counts.values.sum,
        counts.toSeq.sortBy { case (c, n) => (-n, c) }.take(top))
    }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] = plan match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case _: ReusedExchangeExec => Nil
    case m: InMemoryTableScanExec => shuffles(m.relation.cacheBuilder.cachedPlan)
    case e: ShuffleExchangeExec => e +: shuffles(e.child)
    case p => p.children.flatMap(shuffles)
  }

  /** Objects per class in the Java serialization of `o`. */
  private def classCounts(o: AnyRef): Map[String, Int] = {
    val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
    val out = new ObjectOutputStream(OutputStream.nullOutputStream()) {
      enableReplaceObject(true)
      override def replaceObject(obj: AnyRef): AnyRef = {
        counts(obj.getClass.getName) += 1
        obj
      }
    }
    try out.writeObject(o) finally out.close()
    counts.toMap
  }
}
