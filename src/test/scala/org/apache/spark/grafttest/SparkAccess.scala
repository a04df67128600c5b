package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Spark internals the specs read. */
object SparkAccess {
  /** Wait until every posted listener event has been delivered, so a
    * listener read after an action has seen all of that action's jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
