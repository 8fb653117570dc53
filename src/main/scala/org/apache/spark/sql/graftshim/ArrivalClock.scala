package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.Clock

/** Trigger clock that a data arrival can wake.
  *
  * Spark's `ProcessingTimeExecutor` runs a trigger, then blocks only in
  * `clock.waitTillTime(nextGridLine)`. This clock keeps wall time like
  * `SystemClock` but ends that wait as soon as `signal()` has been
  * called, so a writer that lands data in the source can start the next
  * trigger at once instead of on the next grid line. The signal is
  * latched: one sent while a trigger runs (or before the first wait)
  * makes the next wait return immediately, and every wait consumes it.
  * A clock nothing signals waits exactly until the target, like
  * `SystemClock`. `ProcessingTime(0)` and `AvailableNow` never wait, so
  * the clock does not change them. */
final class ArrivalClock extends Clock {
  private var signalled = false

  /** Wake the current (or the next) `waitTillTime`. */
  def signal(): Unit = synchronized { signalled = true; notifyAll() }

  override def getTimeMillis(): Long = System.currentTimeMillis()
  override def nanoTime(): Long = System.nanoTime()

  override def waitTillTime(targetTime: Long): Long = synchronized {
    var now = getTimeMillis()
    while (!signalled && now < targetTime) {
      wait(targetTime - now)
      now = getTimeMillis()
    }
    signalled = false
    now
  }
}

/** The one place that starts a stream through Spark's private query
  * manager: `DataStreamWriter.start()` has no way to pass a trigger
  * clock, so this builds what its `foreachBatch` branch builds (a
  * `ForeachBatchSink` over the frame's encoder, append mode, the
  * checkpoint location as an option) and hands `clock` to
  * `StreamingQueryManager.startQuery`. A Spark upgrade that changes
  * those internals breaks here and nowhere else. */
object StreamStart {
  def foreachBatch(source: DataFrame, checkpointDir: String, trigger: Trigger,
                   clock: Clock)(f: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val ds = source.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.sessionState.streamingQueryManager.startQuery(
      userSpecifiedName = None,
      userSpecifiedCheckpointLocation = Some(checkpointDir),
      df = ds,
      extraOptions = Map("checkpointLocation" -> checkpointDir),
      sink = new ForeachBatchSink[Row](f, ds.exprEnc),
      outputMode = OutputMode.Append(),
      useTempCheckpointLocation = false,
      recoverFromCheckpointLocation = true,
      trigger = trigger,
      triggerClock = clock)
  }
}
