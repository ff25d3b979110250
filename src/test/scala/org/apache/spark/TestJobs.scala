package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Listener-bus helpers for specs. The drain
  * (`listenerBus.waitUntilEmpty`) is private[spark], hence this package.
  */
object TestJobs {
  /** Wait until every event posted so far has reached its listeners —
    * among them the query-execution listeners a finished action fires.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Counts the Spark jobs a block of code starts. The listener bus is
    * drained before the counter joins, so events of earlier work are
    * not counted, and again before it leaves, so every job `body`
    * started is.
    */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    drainListenerBus(spark)
    sc.addSparkListener(counter)
    try {
      val out = body
      drainListenerBus(spark)
      (out, started.get)
    } finally sc.removeSparkListener(counter)
  }
}
