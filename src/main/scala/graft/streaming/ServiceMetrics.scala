package graft.streaming

import java.util.concurrent.atomic.AtomicLong

/** Service observability counters (reference main.go:216–217 mounts
  * ginprom on `GET /metrics`; main.go:546–584's bulk callbacks feed the
  * indexed/failed counters the k8s ServiceMonitor scrapes,
  * deploy/manifest.yaml:132–153).
  *
  * Every counter is added by the code that did the work, from a result
  * that code already holds, once the batch's writes have all succeeded
  * — never from an extra job, and never through the listener bus, so a
  * scrape reads plain atomics:
  *  - Pipeline's sinkBatch adds batches_total, the ingest channels
  *    (documents_indexed, documents_dead_lettered: the observation on
  *    its persisted decode, read from the cached plan),
  *    bulk_item_rejections (the rows the bulk POST job returns) and
  *    alerts_matched (the count of the persisted matches, the probe
  *    that decides the ALERTS write);
  *  - DedupStream's sinkBatch adds the dedup_* counters: uniques and
  *    dups from the observation on its persisted results, store rows
  *    from the row counts in the band write's parquet footers.
  * A batch that replays after it succeeded counts twice — the standard
  * Spark metrics trade, fine for monitoring, never used for data.
  *
  * Snapshot as JSON via `toJson` — FirehoseEndpoint serves it on
  * `GET /metrics`.
  */
final class ServiceMetrics {

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

  def snapshot: Map[String, Long] =
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
