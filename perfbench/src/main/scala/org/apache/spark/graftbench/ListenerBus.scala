package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Block until every queued listener event has been delivered, so a
    * counter read right after an action sees all of that action's jobs,
    * stages and tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
