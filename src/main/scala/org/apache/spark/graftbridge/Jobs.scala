package org.apache.spark.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits, for the `graft.Bench` sweep and
  * the job-count specs. Jobs are tagged with a local property, so only
  * the block's own jobs count (Spark hands local properties on to the
  * threads it runs broadcasts in). Lives in Spark's package to drain the
  * listener bus before reading the count. */
object Jobs {
  private val Prop = "graft.jobs"

  def count(sc: SparkContext)(body: => Any): Int = {
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Prop) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, tag)
    try body
    finally {
      sc.setLocalProperty(Prop, prev)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
