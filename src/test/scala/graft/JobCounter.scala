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

  /** The output directories of every Spark file-write command the
    * block ran, in completion order — which tables a step wrote through
    * a job, as opposed to from the driver.
    */
  def writesDuring(spark: SparkSession)(body: => Any): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand => out.add(c.outputPath.toUri.getPath): Unit
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      ListenerDrain.drain(sc)
      scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }
}
