package org.apache.spark.graftest

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Counts the shuffle-map (shuffle-write) stages completed by the jobs of
  * one job group. Lives under `org.apache.spark` for the scheduler's
  * `private[spark]` views: a stage's shuffle dependency and the listener
  * bus drain.
  */
final class ShuffleStageCounter(group: String) extends SparkListener {
  private val stages = ConcurrentHashMap.newKeySet[Int]()
  private val shuffleStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
      e.stageIds.foreach(stages.add)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stages.contains(e.stageInfo.stageId) && e.stageInfo.shuffleDepId.isDefined)
      shuffleStages.add(e.stageInfo.stageId)

  /** Stages seen for the group (a check that it ran any job at all). */
  def groupStages: Int = stages.size

  def count: Int = shuffleStages.size
}

object ShuffleStageCounter {
  /** Run `body` under job group `group` and return its result with the
    * number of shuffle-write stages it completed.
    */
  def run[A](sc: SparkContext, group: String)(body: => A): (A, ShuffleStageCounter) = {
    val counter = new ShuffleStageCounter(group)
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val a = try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (a, counter)
    } finally sc.removeSparkListener(counter)
  }
}
