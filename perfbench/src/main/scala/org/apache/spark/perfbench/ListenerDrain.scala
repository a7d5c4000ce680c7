package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's flush, which Spark keeps package-private:
  * a traced span's job and task events are delivered asynchronously and
  * must all have arrived before the span is folded into metrics. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
