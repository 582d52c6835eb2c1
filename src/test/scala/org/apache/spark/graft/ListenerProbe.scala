package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the SparkContext's listener bus, which Spark keeps
  * package-private. */
object ListenerProbe {
  /** Listeners attached to the context, across every queue, once the
    * bus has delivered every posted event. */
  def count(sc: SparkContext): Int = {
    sc.listenerBus.waitUntilEmpty()
    sc.listenerBus.listeners.size
  }
}
