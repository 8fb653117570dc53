package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.perfbench.Driver.{Segment, pct}

/** Per-layer figures from a traced pass's spans (see `Spans`), restricted
  * to each segment's window and to data triggers (input rows > 0); a
  * query, job or task belongs to the trigger whose interval holds it.
  * "Per trigger" figures are means over data triggers; `query.*` are
  * means over the sink's query executions. */
object Layers {
  private val mapper = new ObjectMapper()

  val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.contains("_ms.") || name.contains("ms_per_k")) "ms"
    else if (name.endsWith("_mb") || name == "bulk.mb") "MB"
    else if (name.endsWith("bytes_max") || name.endsWith("bytes_in")) "bytes"
    else if (name.endsWith("_share")) "ratio"
    else if (name.endsWith("_per_s") || name.endsWith("_1core")) "1/s"
    else "count"

  final case class Trigger(start: Long, end: Long, ph: Map[String, Long]) {
    def exec: Long = end - start
    def holds(t: Long): Boolean = t >= start && t <= end
  }
  final case class Query(func: String, path: String, start: Long, planEnd: Long,
                         analyze: Double, optimize: Double, plan: Double, exec: Double) {
    def kind: String =
      if (path.contains("/ERROR_ITEMS/")) "bulk"
      else if (path.contains("/SUCCESS/")) "archive"
      else if (path.contains("/ERROR/")) "deadletter"
      else if (func == "isEmpty") "probe"
      else "other"
    def total: Double = analyze + optimize + plan + exec
    /** Jobs run in this query's execution: sink actions run one at a time. */
    def holds(job: Job): Boolean = job.start >= start && job.start <= math.max(start, planEnd) + exec + 5
  }
  final case class Job(start: Long, end: Long, stages: Seq[Int])
  final case class Task(end: Long, run: Double, cpu: Double, gc: Double, shuffle: Double, input: Double)

  final case class Parsed(triggers: Seq[Trigger], queries: Seq[Query], jobs: Seq[Job],
                          stageTasks: Map[Int, Int], tasks: Seq[Task], seg: Segment)

  def parse(seg: Segment): Parsed = {
    val nodes: Seq[JsonNode] = seg.spans.filter(_.exists()).map { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).map(mapper.readTree).toVector
    }.getOrElse(Vector.empty)
    def of(k: String) = nodes.filter(_.get("kind").asText() == k)
    val triggers = of("trigger").filter(n => n.get("rows").asLong() > 0 &&
      n.get("start").asLong() >= seg.winStartMs && n.get("start").asLong() <= seg.winEndMs).map { n =>
      val ph = Map.newBuilder[String, Long]
      n.get("phases").fields().forEachRemaining(e => ph += e.getKey -> e.getValue.asLong())
      Trigger(n.get("start").asLong(), n.get("end").asLong(), ph.result())
    }.sortBy(_.start)
    val queries = of("query").map(n => Query(n.get("func").asText(), n.get("path").asText(),
      n.get("start").asLong(), n.get("plan_end").asLong(),
      n.get("analyze_ms").asDouble(), n.get("optimize_ms").asDouble(), n.get("plan_ms").asDouble(),
      n.get("exec_ms").asDouble()))
      .filter(q => triggers.exists(_.holds(q.planEnd)))
    val jobs = of("job").map { n =>
      val ids = Seq.newBuilder[Int]
      n.get("stage_ids").forEach(x => ids += x.asInt())
      Job(n.get("start").asLong(), n.get("end").asLong(), ids.result())
    }.filter(j => triggers.exists(_.holds(j.start)))
    val stageTasks = of("stage").map(n => n.get("stage").asInt() -> n.get("tasks").asInt()).toMap
    val tasks = of("task").map(n => Task(n.get("end").asLong(), n.get("run_ms").asDouble(),
      n.get("cpu_ms").asDouble(), n.get("gc_ms").asDouble(),
      n.get("shuffle_write_bytes").asDouble(), n.get("input_bytes").asDouble()))
      .filter(t => triggers.exists(_.holds(t.end)))
    Parsed(triggers, queries, jobs, stageTasks, tasks, seg)
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Every span-derived per-layer metric over all segments of a pass.
    * Also checks the trace is complete: each segment has data triggers,
    * and the trigger phases add up to `triggerExecution` within 10%. */
  def compute(segments: Seq[Segment], problems: Check.Problems): Map[String, Double] = {
    val ps = segments.map(parse)
    ps.zipWithIndex.foreach { case (p, i) =>
      if (p.triggers.isEmpty) problems += s"trace segment $i has no data triggers"
    }
    val trig = ps.flatMap(_.triggers)
    val n = math.max(1, trig.size).toDouble
    val phaseSum = trig.iterator.map(t => phases.iterator.map(t.ph.getOrElse(_, 0L)).sum).sum.toDouble
    val execSum = trig.iterator.map(_.exec).sum.toDouble
    val phaseShare = if (execSum > 0) phaseSum / execSum else 0.0
    if (math.abs(phaseShare - 1.0) > 0.10)
      problems += f"trigger phases sum to $phaseShare%.3f of triggerExecution (10%% tolerance)"
    val queries = ps.flatMap(_.queries)
    def sinkMs(kind: String) = queries.filter(_.kind == kind).map(_.total).sum / n
    // requests → the trigger that delivered their first document
    val waits = Seq.newBuilder[Double]
    val filesPerTrigger = scala.collection.mutable.Map.empty[Trigger, Int].withDefaultValue(0)
    ps.foreach { p =>
      p.seg.firstDocMs.indices.foreach { k =>
        p.triggers.find(_.holds(p.seg.firstDocMs(k))).foreach { t =>
          waits += (t.start - p.seg.availMs(k)).toDouble
          filesPerTrigger(t) += 1
        }
      }
    }
    val windowMs = ps.map(p => (p.seg.winEndMs - p.seg.winStartMs).toDouble).sum
    val jobs = ps.flatMap(_.jobs)
    val tasks = ps.flatMap(_.tasks)
    val stageTasks = ps.flatMap(_.stageTasks).toMap
    def qJobs(q: Query) = jobs.filter(q.holds)
    val addBatchSelf = ps.flatMap { p =>
      p.triggers.map(t => t.ph.getOrElse("addBatch", 0L) - p.queries.filter(q => t.holds(q.planEnd)).map(_.total).sum)
    }
    Map(
      "trigger.count" -> trig.size.toDouble / math.max(1, ps.size),
      "trigger.execution_ms.p50" -> pct(trig.map(_.exec.toDouble), 50),
      "trigger.execution_ms.p95" -> pct(trig.map(_.exec.toDouble), 95),
      "trigger.latest_offset_ms" -> mean(trig.map(_.ph.getOrElse("latestOffset", 0L).toDouble)),
      "trigger.get_batch_ms" -> mean(trig.map(_.ph.getOrElse("getBatch", 0L).toDouble)),
      "trigger.query_planning_ms" -> mean(trig.map(_.ph.getOrElse("queryPlanning", 0L).toDouble)),
      "trigger.add_batch_ms" -> mean(trig.map(_.ph.getOrElse("addBatch", 0L).toDouble)),
      "trigger.wal_commit_ms" -> mean(trig.map(_.ph.getOrElse("walCommit", 0L).toDouble)),
      "trigger.commit_offsets_ms" -> mean(trig.map(_.ph.getOrElse("commitOffsets", 0L).toDouble)),
      "trigger.wait_ms" -> mean(waits.result()),
      "trigger.idle_share" -> (if (windowMs > 0) 1.0 - execSum / windowMs else 0.0),
      "trigger.self_ms" -> (execSum - phaseSum) / n,
      "trace.phase_sum_share" -> phaseShare,
      "spool.files_per_trigger" -> mean(filesPerTrigger.values.map(_.toDouble)),
      "sink.archive_ms" -> sinkMs("archive"),
      "sink.bulk_ms" -> sinkMs("bulk"),
      "sink.deadletter_ms" -> sinkMs("deadletter"),
      "sink.probe_ms" -> sinkMs("probe"),
      "sink.actions_per_trigger" -> queries.size / n,
      "sink.add_batch_self_ms" -> mean(addBatchSelf),
      "query.analyze_ms" -> mean(queries.map(_.analyze)),
      "query.optimize_ms" -> mean(queries.map(_.optimize)),
      "query.plan_ms" -> mean(queries.map(_.plan)),
      "query.exec_ms" -> mean(queries.map(_.exec)),
      "query.jobs" -> mean(queries.map(q => qJobs(q).size.toDouble)),
      "query.stages" -> mean(queries.map(q => qJobs(q).map(_.stages.size).sum.toDouble)),
      "query.tasks" -> mean(queries.map(q => qJobs(q).flatMap(_.stages).map(stageTasks.getOrElse(_, 0)).sum.toDouble)),
      "spark.jobs_per_trigger" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stages.size).sum / n,
      "spark.tasks_per_trigger" -> tasks.size / n,
      "spark.task_run_ms" -> tasks.map(_.run).sum / n,
      "spark.task_cpu_ms" -> tasks.map(_.cpu).sum / n,
      "spark.gc_ms" -> tasks.map(_.gc).sum / n,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffle).sum / n / 1048576.0,
      "spark.input_mb" -> tasks.map(_.input).sum / n / 1048576.0)
  }

  /** Self time per data trigger of each layer on the trigger path:
    * trigger bookkeeping outside its phases, each phase, and within
    * addBatch the sink's actions by kind and the rest of addBatch. */
  def selfTimes(segments: Seq[Segment]): Map[String, Any] = {
    val ps = segments.map(parse)
    val trig = ps.flatMap(_.triggers)
    val n = math.max(1, trig.size).toDouble
    val queries = ps.flatMap(_.queries)
    val byKind = queries.groupBy(_.kind).map { case (k, qs) => s"sink.$k" -> qs.map(_.total).sum / n }
    val addBatch = trig.map(_.ph.getOrElse("addBatch", 0L)).sum / n
    Map("data_triggers" -> trig.size,
      "trigger" -> (trig.map(_.exec).sum - trig.map(t => phases.map(t.ph.getOrElse(_, 0L)).sum).sum) / n) ++
      phases.filter(_ != "addBatch").map(p => s"phase.$p" -> trig.map(_.ph.getOrElse(p, 0L)).sum / n) ++
      byKind ++ Map("phase.addBatch.self" -> (addBatch - queries.map(_.total).sum / n))
  }
}
