package org.apache.spark.shopbench

import org.apache.spark.SparkContext

/** Lets the traced run wait until every posted listener event has been
  * delivered, so an operation's trace is complete when it is read.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
