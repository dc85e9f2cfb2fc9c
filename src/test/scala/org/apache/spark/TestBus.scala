package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * draining it makes every event posted so far visible to listeners.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
