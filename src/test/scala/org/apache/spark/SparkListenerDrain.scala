package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a listener's counts are complete only after every
  * event posted so far has been delivered. */
object SparkListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
