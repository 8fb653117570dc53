package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Service observability counters (reference main.go:216–217 mounts
  * ginprom on `GET /metrics`; main.go:546–584's bulk callbacks feed the
  * indexed/failed counters the k8s ServiceMonitor scrapes,
  * deploy/manifest.yaml:132–153).
  *
  * Counting rides the work that already runs — never an extra job:
  *  - the ingest channels (documents_indexed, documents_dead_lettered)
  *    and bulk_item_rejections are added by Pipeline's sinkBatch once a
  *    batch's writes have all succeeded. The channel totals are the
  *    observation on its persisted decode, filled by the batch's first
  *    action and read from the cached plan; the rejections are the
  *    rows the bulk POST job returns;
  *  - the ALERTS and DedupStream totals come from `Dataset.observe`
  *    nodes those writers put in their OWN write plans (CollectMetrics —
  *    codegen-friendly, computed during the write action itself),
  *    harvested here by a QueryExecutionListener.
  * A batch that replays after it succeeded counts twice — the standard
  * Spark metrics trade, fine for monitoring, never used for data.
  *
  * Snapshot as JSON via `toJson` — FirehoseEndpoint serves it on
  * `GET /metrics`.
  */
final class ServiceMetrics(spark: SparkSession) {

  /** Per-instance observation-name suffix: two pipelines (or a restart
    * that built a fresh ServiceMetrics) on one SparkSession must not
    * harvest each other's observe() nodes — names are matched globally
    * by the listener. */
  private val id = java.util.UUID.randomUUID().toString.take(8)

  /** Observation name the alerting stage's writer attaches to the
    * percolation-matches write. */
  val alertsMetric = s"graft_alerts_matched_$id"

  /** Observation name DedupStream attaches to its per-batch results
    * write: row(uniques, dups). */
  val dedupResultsMetric = s"graft_dedup_results_$id"

  /** Observation name DedupStream attaches to its signature-store
    * write: row(rows appended). */
  val dedupStoreMetric = s"graft_dedup_store_rows_$id"

  /** Micro-batches flushed (one per foreachBatch invocation). */
  val batchesTotal = new AtomicLong(0L)

  /** DedupStream micro-batches processed. */
  val dedupBatches = new AtomicLong(0L)

  /** DedupStream: documents flagged unique (they extend the store). */
  val dedupUniques = new AtomicLong(0L)

  /** DedupStream: documents flagged as near-duplicates. */
  val dedupDups = new AtomicLong(0L)

  /** DedupStream: signature rows appended to the band store. */
  val dedupStoreRows = new AtomicLong(0L)

  /** Documents delivered (POSTed with a target, archived to SUCCESS/). */
  val documentsIndexed = new AtomicLong(0L)

  /** Records dead-lettered to ERROR/ (undecodable / empty envelopes). */
  val documentsDeadLettered = new AtomicLong(0L)

  /** (doc, query) percolation matches written to ALERTS/. */
  val alertsMatched = new AtomicLong(0L)

  /** Per-item `_bulk` rejections (status ≥ 300 in the bulk response). */
  val bulkItemRejections = new AtomicLong(0L)

  // Harvest the writers' observe() metrics. onSuccess only: a failed
  // write fails its micro-batch, which re-runs under checkpoint replay
  // and counts on the attempt that actually committed. Kept as a field so close() can
  // deregister — a leaked listener would keep processing every query
  // event on the shared session for the process lifetime.
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.observedMetrics.get(alertsMetric)
        .foreach(r => alertsMatched.addAndGet(r.getLong(0)))
      // null-guard every field: aggregates over an empty frame observe
      // null, and a throwing listener is silently dropped by the bus
      qe.observedMetrics.get(dedupResultsMetric).foreach { r =>
        if (!r.isNullAt(0)) dedupUniques.addAndGet(r.getLong(0))
        if (!r.isNullAt(1)) dedupDups.addAndGet(r.getLong(1))
      }
      qe.observedMetrics.get(dedupStoreMetric)
        .foreach(r => if (!r.isNullAt(0)) dedupStoreRows.addAndGet(r.getLong(0)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  /** Deregister the harvest listener (service shutdown / tests). */
  def close(): Unit = spark.listenerManager.unregister(listener)

  def snapshot: Map[String, Long] = {
    // listener delivery is async on the shared bus; drain it (bounded —
    // a scrape must not hang behind a backlogged bus) so a /metrics
    // scrape right after a committed batch sees its counts; on timeout
    // the counters are one event-drain stale, still valid
    org.apache.spark.sql.graftshim.Bridge.flushListenerBus(spark)
    Map(
      "batches_total" -> batchesTotal.get(),
      "documents_indexed" -> documentsIndexed.get(),
      "documents_dead_lettered" -> documentsDeadLettered.get(),
      "alerts_matched" -> alertsMatched.get(),
      "bulk_item_rejections" -> bulkItemRejections.get(),
      "dedup_batches" -> dedupBatches.get(),
      "dedup_uniques" -> dedupUniques.get(),
      "dedup_dups" -> dedupDups.get(),
      "dedup_store_rows" -> dedupStoreRows.get())
  }

  def toJson: String = ServiceMetrics.renderJson(snapshot)
}

object ServiceMetrics {
  /** Deterministic (key-sorted) flat JSON object of counters. */
  def renderJson(counts: Map[String, Long]): String =
    counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  /** Content type of the Prometheus text exposition format. */
  val prometheusContentType = "text/plain; version=0.0.4; charset=utf-8"

  /** Prometheus text exposition (version 0.0.4) of the counters — what
    * an off-the-shelf Prometheus scrapes from `GET /metrics` (the
    * reference mounts ginprom, main.go:216–217, and its k8s
    * ServiceMonitor scrapes this format, deploy/manifest.yaml:132–153).
    * Every counter gets the `graft_` namespace and the `_total` suffix
    * the counter convention requires (not doubled when already there). */
  def renderPrometheus(counts: Map[String, Long]): String =
    counts.toSeq.sortBy(_._1).map { case (k, v) =>
      val name = if (k.endsWith("_total")) s"graft_$k" else s"graft_${k}_total"
      s"# TYPE $name counter\n$name $v\n"
    }.mkString
}
