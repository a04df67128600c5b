package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two things the benchmark reads that are private to Spark. */
object SparkAccess {
  /** Wait until every posted listener event has been delivered, so
    * counters read after an op include all of that op's events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a stage writes, when it is a shuffle-map stage. */
  def shuffleOf(s: StageInfo): Option[Int] = s.shuffleDepId
}
