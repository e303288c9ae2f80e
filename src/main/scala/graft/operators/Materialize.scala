package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import scala.collection.mutable.ArrayBuffer

/** The one materialization policy behind every operator-internal reuse
  * point: compute an expensive intermediate once, read it many times,
  * release it deterministically. Three recipes; operators state intent
  * (eager or lazy, scoped or returned) and this module picks the kind.
  *
  * '''Reliable vs local.''' `localCheckpoint` truncates lineage into
  * executor-local blocks: on a real cluster losing one executor then
  * fails every later action on the frame instead of recomputing. When
  * the session has a checkpoint dir (`setCheckpointDir` — the posture
  * for preemptible or dynamically allocated clusters) [[checkpoint]]
  * writes a reliable checkpoint there instead; without one (local
  * mode, the tests, the bench) it takes the local form at the
  * caller's eagerness. No option is read besides the checkpoint dir.
  *
  * '''The persist guard.''' A reliable checkpoint's file-writing job
  * recomputes the frame from lineage unless it is cached (Spark's
  * `RDD.checkpoint` scaladoc: "strongly recommended that this RDD is
  * persisted"), so the reliable recipe persists first — the write job
  * then reads cached blocks and the plan runs exactly once — and
  * releases the cache as soon as the files are down.
  *
  * '''Release.''' `Dataset.unpersist` only drops CacheManager entries;
  * `localCheckpoint` persists at the RDD level, so its blocks stay
  * registered (`sparkContext.getPersistentRDDs`) until the
  * ContextCleaner happens to collect the RDD. [[release]] frees both.
  * Local checkpoint blocks and scoped persists carry no CacheManager
  * entry that outlives the call, so a repeated invocation pays its own
  * cost instead of silently reading an earlier call's cache.
  */
object Materialize {

  /** Materialize `df`: with a checkpoint dir, persist → eager reliable
    * `checkpoint()` → unpersist (always eager); without one,
    * `localCheckpoint(eager)`.
    */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      df.localCheckpoint(eager)
    else scope { s => s.persist(df); df.checkpoint() }

  /** Uncache `df` and, when it is a checkpointed frame, free the
    * RDD-level blocks behind it. A checkpointed frame's plan is a scan
    * over the checkpoint RDD itself, so the blocks are named directly;
    * any other frame only loses its own CacheManager entry — never an
    * upstream cache it happens to read.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Frames persisted through a [[scope]]; released when it exits. */
  final class Scope private[Materialize] {
    private[Materialize] val held = ArrayBuffer.empty[DataFrame]

    /** Persist `df` (MEMORY_AND_DISK) for the rest of the scope. */
    def persist(df: DataFrame): DataFrame = { held += df; df.persist(MEMORY_AND_DISK) }
  }

  /** Run `body`; every frame it persists through the scope is released
    * when the body returns or throws. On a throw the original exception
    * propagates and cleanup failures (say, the SparkContext stop that
    * caused it) ride along as suppressed.
    */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    val out = try body(s) catch { case t: Throwable =>
      s.held.foreach { df =>
        try release(df) catch { case c: Throwable => t.addSuppressed(c) }
      }
      throw t
    }
    s.held.foreach(release)
    out
  }
}
