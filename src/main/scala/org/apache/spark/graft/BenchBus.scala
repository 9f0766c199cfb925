package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Measurement-fidelity bridge into the (package-private) listener bus.
  *
  * [[graft.Trace.window]] reads the tracer's totals between the
  * windows a caller measures (a bench query, a test block), but Spark
  * posts listener events ASYNCHRONOUSLY: without a drain the tail of one
  * window's events lands in the next. `waitUntilEmpty` is
  * `private[spark]`, hence this one-method accessor in the spark
  * namespace; nothing else in the repo reaches behind the public API.
  */
object BenchBus {
  /** Block until every queued listener event has been dispatched. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
