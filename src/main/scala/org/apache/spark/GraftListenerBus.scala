package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a caller that records listener events reads them only after every
  * event posted so far has been delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
