package org.apache.spark.graftest

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs that each micro-batch of one streaming query
  * runs, keyed by the `streaming.sql.batchId` job property of the jobs
  * whose `sql.streaming.queryId` is `queryId`. Lives under
  * `org.apache.spark` for the `private[spark]` listener-bus drain.
  */
final class BatchJobCounter(sc: SparkContext, queryId: String) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Long, AtomicInteger]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .filter(_.getProperty("sql.streaming.queryId") == queryId)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => jobs.computeIfAbsent(b.toLong, _ => new AtomicInteger).incrementAndGet())

  /** Jobs started by micro-batch `batchId` so far. */
  def jobsOf(batchId: Long): Int = {
    sc.listenerBus.waitUntilEmpty()
    Option(jobs.get(batchId)).fold(0)(_.get)
  }
}
