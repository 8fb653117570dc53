package org.apache.spark.perfbench

/** Runs a hook at JVM exit AFTER the SparkContext has stopped. Spark's
  * shutdown-hook manager is package-private; its context-stop hook drains
  * every listener-bus queue, so a lower-priority hook sees every event a
  * listener will ever get. */
object AfterContextStop {
  def register(hook: () => Unit): Unit =
    org.apache.spark.util.ShutdownHookManager.addShutdownHook(
      org.apache.spark.util.ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY - 10)(hook)
}
