package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One finished task attempt, reduced to the counters the benchmark reads. */
final case class TaskRec(
    group: String, stage: Int, attempt: Int, failed: Boolean,
    launchMs: Long, finishMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, peakExecB: Long,
    inputB: Long, inputRecords: Long)

/** One submitted stage: its job group, whether its lineage holds a
  * persisted RDD (its tasks read cached blocks), and its wall interval.
  */
final case class StageRec(id: Int, group: String, readsCache: Boolean,
    submitMs: Long, var doneMs: Long)

/** Benchmark-owned listener: rolls task metrics up by Spark job group.
  * Every request (and, in a traced run, every span) runs under its own
  * job group, so filtering by group prefix gives per-request and
  * per-span totals.
  */
final class Rollup extends SparkListener {
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val jobGroups = mutable.ArrayBuffer.empty[String]
  private var tasksStarted = 0L
  private var tasksEnded = 0L
  private var jobsEnded = 0L

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobGroups += groupOf(e.properties)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val cached = si.rddInfos.exists(r => r.storageLevel.useMemory || r.storageLevel.useDisk)
    stages(si.stageId) = StageRec(si.stageId, groupOf(e.properties), cached,
      si.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.doneMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { tasksStarted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += TaskRec(
      stages.get(e.stageId).map(_.group).getOrElse(""), e.stageId, i.attemptNumber,
      !i.successful, i.launchTime, i.finishTime,
      g(_.executorCpuTime), g(_.jvmGCTime),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.diskBytesSpilled),
      g(_.peakExecutionMemory), g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead))
  }

  /** Block until the asynchronous listener bus has delivered every task
    * and job end that was started (bounded wait).
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized { tasksEnded >= tasksStarted && jobsEnded >= jobGroups.size }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def snapshot(pred: String => Boolean): Slice = synchronized {
    Slice(tasks.filter(t => pred(t.group)).toVector,
      stages.values.filter(s => pred(s.group)).toVector,
      jobGroups.count(pred))
  }
}

/** The listener's records for a set of job groups, with the derived
  * per-layer counters.
  */
final case class Slice(tasks: Vector[TaskRec], stages: Vector[StageRec], jobs: Int) {
  private val MB = 1024.0 * 1024.0
  def cpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
  def gcMs: Double = tasks.map(_.gcMs).sum.toDouble
  def shuffleReadMb: Double = tasks.map(_.shuffleReadB).sum / MB
  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteB).sum / MB
  def spillMb: Double = tasks.map(_.spillB).sum / MB
  def inputRecords: Long = tasks.map(_.inputRecords).sum
  def peakExecMb: Double = if (tasks.isEmpty) 0.0 else tasks.map(_.peakExecB).max / MB
  def retried: Int = tasks.count(_.attempt > 0)

  /** Worst stage's max/median task run time (stages of ≥ 2 tasks). */
  def taskSkew: Double = {
    val per = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => math.max(1L, t.finishMs - t.launchMs).toDouble).sorted
      d.last / Stats.median(d)
    }
    if (per.isEmpty) 1.0 else per.max
  }

  /** Tasks over persisted blocks that read them from the block store. */
  def cacheHits: (Int, Int) = {
    val cachedStages = stages.filter(_.readsCache).map(_.id).toSet
    val over = tasks.filter(t => cachedStages(t.stage) && !t.failed)
    (over.count(_.inputB > 0), over.size)
  }

  /** Milliseconds of [startMs, endMs] during which no task of this slice ran. */
  def idleMs(startMs: Long, endMs: Long): Double = {
    val iv = tasks.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (endMs - startMs) - covered).toDouble
  }

  /** Summed wall time of stages that wrote shuffle output. */
  def shuffleMapStageMs: Double = {
    val writers = tasks.filter(_.shuffleWriteB > 0).map(_.stage).toSet
    stages.filter(s => writers(s.id) && s.doneMs >= s.submitMs)
      .map(s => (s.doneMs - s.submitMs).toDouble).sum
  }
}
