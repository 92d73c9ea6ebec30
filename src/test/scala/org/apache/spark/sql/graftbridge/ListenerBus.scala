package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to Spark's listener bus, which is package-private. */
object ListenerBus {
  /** Number of Spark jobs started while `body` runs. The bus is drained
    * before and after, so jobs of earlier work are not counted and every
    * job `body` started has been delivered.
    */
  def jobsDuring(sc: SparkContext)(body: => Any): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
