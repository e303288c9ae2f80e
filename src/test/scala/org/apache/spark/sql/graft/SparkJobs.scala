package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for specs. Lives in this package for
  * `listenerBus.waitUntilEmpty` (private[spark]), so the count never
  * races the asynchronous listener delivery.
  */
object SparkJobs {
  /** Spark jobs started while `f` runs. */
  def count(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { f; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
    n.get
  }
}
