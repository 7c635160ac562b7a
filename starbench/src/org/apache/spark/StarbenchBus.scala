package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * tracer waits for every queued event before it closes a span, so the
  * events a call caused are attributed while that call's span is open. */
object StarbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
