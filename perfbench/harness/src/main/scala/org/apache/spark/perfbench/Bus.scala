package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the traced pass attribute listener events to the operation that
  * caused them: it waits until the listener bus has delivered every
  * event posted so far (an API Spark keeps package-private).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
