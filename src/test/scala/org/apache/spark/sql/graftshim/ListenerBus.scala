package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test-side shim for the `private[spark]` listener bus. Suites that
  * record query or job events through their own listeners drain the
  * shared async bus before registering them (so earlier suites' events
  * do not reach them) and before reading what they recorded. */
object ListenerBus {

  /** Wait up to `timeoutMs` for the bus to deliver every queued event;
    * false when it timed out. */
  def flush(spark: SparkSession, timeoutMs: Long = 2000): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
