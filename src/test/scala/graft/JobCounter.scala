package graft

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block launches, counted by a
  * `SparkListener` — a count, so no wall-clock sample decides a test.
  * The listener bus is drained before the block (so no earlier job is
  * counted) and after it (so every job the block started is).
  */
object JobCounter {
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerDrain.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  def jobs(spark: SparkSession)(body: => Any): Int = jobsDuring(spark)(body)._2
}
