package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the tracer waits for it to empty so that every job, task and query
  * event of a span has been delivered before the span is closed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
