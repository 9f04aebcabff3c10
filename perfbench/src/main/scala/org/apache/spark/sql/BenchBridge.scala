package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.streaming.StreamingQuery

/** Two internals the traced run needs: the listener bus, drained so that
  * every job, task and query event of a span has been delivered before
  * the span's counters are read; and the session a streaming query runs
  * its micro-batches in, a clone whose listeners are separate. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream
}
