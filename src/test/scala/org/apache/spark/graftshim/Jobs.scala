package org.apache.spark.graftshim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started by a block. The listener bus, which Spark keeps
  * package-private, is drained before the listener is attached and
  * before it is read, so no earlier job is counted and none of the
  * block's is missed. */
object Jobs {
  def count[A](sc: SparkContext)(f: => A): (A, Int) = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Wait until every posted listener event has been delivered (query
    * execution listeners ride the same bus). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
