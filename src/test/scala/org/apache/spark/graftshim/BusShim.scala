package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: after it returns, every event posted so far has
  * reached every listener.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
