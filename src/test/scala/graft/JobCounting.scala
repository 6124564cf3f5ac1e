package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block runs, for the timing-free job-budget
  * specs: a SparkListener, with the listener bus drained before and
  * after the block so every job start is delivered to it.
  */
trait JobCounting { this: SparkSpec =>

  /** Spark jobs that `f` runs, with every listener event delivered. */
  def jobs(f: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }
}
