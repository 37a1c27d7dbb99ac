package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a listener-counted figure is only exact once every
  * event posted before the read has been delivered.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
