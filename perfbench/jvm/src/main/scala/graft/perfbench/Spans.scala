package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store of a traced Serve child. The three listener
  * classes below are wired in purely through `-D` system properties
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), which SparkConf reads,
  * so Serve itself is unchanged. Each span is one JSON line; the lines
  * are written to `-Dperfbench.spans=<file>` once, at exit, after the
  * SparkContext stopped and its listener bus drained. Times are epoch ms.
  *
  * Span kinds:
  *  - `trigger`: one micro-batch (`StreamingQueryProgress`): start,
  *    `triggerExecution`, every phase of `durationMs`, input rows;
  *  - `query`: one action of `Pipeline.sinkBatch` (QueryExecutionListener):
  *    function name, output path, analysis / optimization / planning
  *    phase times, execution time;
  *  - `job`: one Spark job: start, end, stage ids;
  *  - `stage`: one completed stage: task count;
  *  - `task`: one task's end time, run / CPU / GC time, shuffle-write and
  *    input bytes. */
object Spans {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val installed: Unit = Option(System.getProperty("perfbench.spans")).foreach { path =>
    org.apache.spark.perfbench.AfterContextStop.register { () =>
      val sb = new java.lang.StringBuilder
      lines.forEach(l => sb.append(l).append('\n'))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes(UTF_8))
    }
  }

  def install(): Unit = installed

  /** A field value that is already JSON. */
  final case class Raw(json: String)

  def add(kind: String, fields: (String, Any)*): Unit =
    lines.add(fields.iterator.map {
      case (k, Raw(j)) => s""""$k":$j"""
      case (k, v: String) => s""""$k":${Traffic.js(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString(s"""{"kind":"$kind",""", ",", "}"))
}

/** `spark.sql.streaming.streamingQueryListeners`: one `trigger` span per
  * micro-batch progress report. */
final class TriggerListener extends StreamingQueryListener {
  Spans.install()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val phases = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => s""""$k":${v.longValue}""" }.mkString("{", ",", "}")
    Spans.add("trigger", "batch" -> p.batchId, "start" -> start,
      "end" -> (start + p.durationMs.getOrDefault("triggerExecution", 0L)),
      "rows" -> p.numInputRows, "phases" -> Spans.Raw(phases))
  }
}

/** `spark.sql.queryExecutionListeners`: one `query` span per action the
  * sink runs (parquet writes, the bulk POST job, emptiness probes). */
final class SinkListener extends QueryExecutionListener {
  Spans.install()
  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String): (Long, Long) = ph.get(n).map(s => (s.startTimeMs, s.endTimeMs)).getOrElse((0L, 0L))
    val (aS, aE) = phase("analysis")
    val (oS, oE) = phase("optimization")
    val (pS, pE) = phase("planning")
    val out = qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }.getOrElse("")
    val begin = Seq(aS, oS, pS).filter(_ > 0).minOption.getOrElse(System.currentTimeMillis())
    Spans.add("query", "func" -> funcName, "path" -> out, "ok" -> ok,
      "start" -> begin, "plan_end" -> math.max(pE, begin),
      "analyze_ms" -> (aE - aS), "optimize_ms" -> (oE - oS), "plan_ms" -> (pE - pS),
      "exec_ms" -> durationNs / 1e6)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)
}

/** `spark.extraListeners`: scheduler spans (jobs, stages, tasks). */
final class SchedulerListener extends SparkListener {
  Spans.install()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (e.time, e.stageIds.mkString("[", ",", "]")))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t, stages) =>
      Spans.add("job", "job" -> e.jobId, "start" -> t, "end" -> e.time, "stage_ids" -> Spans.Raw(stages))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Spans.add("stage", "stage" -> e.stageInfo.stageId, "tasks" -> e.stageInfo.numTasks,
      "end" -> e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      Spans.add("task", "end" -> e.taskInfo.finishTime, "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6, "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "input_bytes" -> m.inputMetrics.bytesRead)
  }
}
