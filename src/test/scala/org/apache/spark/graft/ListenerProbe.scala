package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the SparkContext's listener bus, which Spark keeps
  * package-private. */
object ListenerProbe {
  /** Listeners attached to the context, across every queue, once the
    * bus has delivered every posted event. */
  def count(sc: SparkContext): Int = {
    sc.listenerBus.waitUntilEmpty()
    sc.listenerBus.listeners.size
  }

  /** Jobs the context starts while `body` runs. */
  def jobs(sc: SparkContext)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally sc.removeSparkListener(l)
  }
}
