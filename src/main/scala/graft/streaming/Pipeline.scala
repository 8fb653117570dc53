package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ArrivalClock, Bridge, StreamStart}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.expr.GzipFunctions.try_gunzip
import graft.ops.Decode

/** The reference service as a Structured Streaming job.
  *
  * The reference is a streaming HTTP ingester: Firehose POSTs batches
  * (reference main.go:248–365), records decode/explode into documents,
  * and a per-request bulk indexer with exponential-backoff retry on
  * HTTP 429/502/503/504 (reference main.go:399–451, RetryOnStatus at
  * main.go:412) is closed — every document flushed — before the
  * handler answers 200 (main.go:347). Its 5 s FlushInterval
  * (main.go:436) therefore never delays a request. Firehose itself
  * redelivers whole batches on failure (at-least-once) and archives
  * everything to S3 under SUCCESS/ / ERROR/ prefixes
  * (reference cloudformation-template.yaml:160–171).
  *
  * Spark-first re-expression: `readStream` micro-batches are the bulk
  * indexer's flush buffer, and they are arrival-driven: the Firehose
  * endpoint signals the stream's `ArrivalClock` when it lands a batch,
  * which starts the next trigger at once, so batch size follows load.
  * The 5 s `Trigger.ProcessingTime` is only the idle heartbeat, for
  * spools filled by other writers (see `run`);
  * `foreachBatch` is the flush callback, and the retry/backoff envelope
  * stays where the reference has it, inside the bulk transport's POST
  * loop (HttpBulk); the SUCCESS/ERROR prefixes become two sink
  * directories routed by envelope-parse outcome; checkpointing +
  * idempotent batch ids give the same at-least-once-with-replay contract,
  * and a redelivered record overwrites itself at the index (its `_id`
  * is the log event's id). The decode chain itself is `route`,
  * unchanged between batch and streaming (the `k2e_pipeline_*` keys
  * run it through `Decode.pipeline`) — the point of keeping it
  * declarative.
  *
  * A live trigger runs the bulk POST, the SUCCESS archive and, only for
  * a batch with dead letters, the ERROR write. One observation on the
  * persisted decode counts documents and dead letters while the first
  * of them runs, and those counts decide the later writes (sinkBatch).
  *
  * At 100 TB/day posture: the ingest path keeps no streaming state —
  * every stage is a per-record projection that scales with executor
  * count. This object holds only that service; the stateful stream
  * operators the query keys check live in `graft.ops.StreamOps`.
  */
object Pipeline {

  /** Per-record decode with encoding sniff. The reference decides
    * gzip-vs-plain per REQUEST by sniffing the body even when the header
    * claims otherwise (main.go:109–113, errEncodingMismatch); here the
    * decision is per RECORD, by the 1F8B gzip magic on the base64-decoded
    * bytes — one micro-batch can mix plain and gzip records freely, and
    * only true garbage dead-letters. try_gunzip, not gunzip: corrupt
    * gzip must dead-letter the row, not throw — a throwing expression
    * fails the micro-batch, which checkpoint recovery replays forever
    * (poison-record wedge).
    *
    * The envelope is parsed ONCE, with the pruned schema (the inflate +
    * JSON parse dominate per-record cost on this hot path); both
    * delivery channels derive from this frame — see sinkBatch, which
    * persists it so neither channel re-decodes. `err` is null iff the
    * record routes to documents; a parseable envelope with an EMPTY
    * logEvents array dead-letters as "empty logEvents" rather than
    * silently vanishing in the explode — the reference's S3 archival
    * contract accounts for every input record. */
  def decoded(frame: DataFrame): DataFrame = {
    val bin = unbase64(col("data"))
    // request-id propagation with the "manual" fallback (reference
    // main.go:260–266): the HTTP front-end stamps each landed record
    // with its batch's X-Amz-Firehose-Request-Id; sources without the
    // column (MemoryStream tests, pre-existing drop files) fall back the
    // same way an absent header does.
    val withReq =
      if (frame.columns.contains("request_id"))
        frame.withColumn("requestId",
          coalesce(nullif(col("request_id"), lit("")), lit("manual")))
      else frame.withColumn("requestId", lit("manual"))
    // per-record access key for sink auth isolation (reference
    // main.go:422–424 builds the indexer per request — each batch
    // indexes under ITS key); "" = none, sink falls back to its
    // static auth
    val withKey =
      if (withReq.columns.contains("access_key")) withReq
      else withReq.withColumn("access_key", lit(""))
    withKey
      .withColumn("rawBody",
        when(Decode.isGzip(bin), try_gunzip(bin))
          .otherwise(bin).cast("string"))
      .withColumn("env", from_json(col("rawBody"), StructType.fromDDL(Decode.cwSchemaPruned)))
      .withColumn("err",
        when(col("rawBody").isNull, "undecodable record data (corrupt gzip)")
          .when(col("env").isNull || col("env.logEvents").isNull,
            "unparseable CloudWatch envelope")
          .when(size(col("env.logEvents")) === 0, "empty logEvents"))
  }

  /** Flatten already-decoded routable rows into documents (X2 explode +
    * F4 json-or-text + F6/F8 projection), straight from the parsed `env`
    * — no re-decode of the raw data. */
  private def flatten(ok: DataFrame): DataFrame =
    ok.select(
      col("event_id"), col("batch_ms"), col("requestId"), col("access_key"),
      col("env.logGroup").as("logGroup"), col("env.logStream").as("logStream"),
      explode(col("env.logEvents")).as("ev"))
      .select(
        col("event_id"), col("batch_ms"), col("requestId"), col("access_key"),
        col("logGroup"), col("logStream"),
        col("ev.id").as("event_ref"),
        col("ev.timestamp").as("event_ms"),
        Decode.jsonOrText(col("ev.message")).as("message"))

  /** Dead-letter rows keep the payload inspectable: rawBody is null when
    * try_gunzip failed, so fall back to the original base64 `data` — the
    * reference's S3 archival contract keeps the raw record for forensics
    * (cloudformation-template.yaml:170–171). */
  private def deadLetter(bad: DataFrame): DataFrame =
    bad.select(col("event_id"), col("batch_ms"), col("requestId"),
      coalesce(col("rawBody"), col("data")).as("body"), col("err"))

  /** Decode + route one envelope frame into the two delivery channels:
    * (documents, dead-letter). Encoding is sniffed per record — see
    * `decoded`. */
  def route(frame: DataFrame): (DataFrame, DataFrame) = {
    val d = decoded(frame)
    (flatten(d.filter(col("err").isNull)), deadLetter(d.filter(col("err").isNotNull)))
  }

  /** Name of the observation sinkBatch attaches to its persisted decode:
    * row(documents, dead_letters). */
  private val channelCounts = "graft_channel_counts"

  /** One micro-batch flush: decode once, persist, then write each
    * channel from the persisted frame — the inflate + JSON parse run once
    * per record, not once per channel. The persisted decode carries one
    * observation: the documents its routable records explode into (the
    * sum of their logEvents sizes, which is the row count of `flatten`)
    * and its dead-letter records. The first action fills it, and it is
    * read straight from the cached plan (`Bridge.cachedObservation`): no
    * extra job, and nothing waits on the listener bus.
    *
    * Actions run in a fixed order: the bulk POST, the SUCCESS archive,
    * alert matches, then ERROR, only when needed. The POST goes first so
    * it waits for no archive work, and it is the first full action, so
    * the archive knows the counts. Without a target the archive is the
    * first action. Each count decides its channel's write
    * (channelWriter's `hasRows`):
    *  - SUCCESS: documents > 0. When the count is unknown (no target,
    *    or a POST that failed) the archive always writes. It runs in the
    *    POST's `finally`, so a batch whose sink fails for good still
    *    leaves its replay store before it fails, and it never waits for
    *    the counts;
    *  - ERROR: dead letters > 0;
    *  - ALERTS: matches > 0, counted on the persisted matches (one count
    *    job; the write then scans the cache).
    * A channel whose `batch=<id>` already exists is rewritten either way
    * (the stale-replay rule). The same counts feed documents_indexed,
    * documents_dead_lettered and alerts_matched, once per batch whose
    * writes all succeeded. `enrich` is a per-document stage, so
    * documents are what the POST and the archive receive.
    *
    * Each writer receives the batchId so it can be idempotent under
    * replay (see channelWriter); a writer that throws fails the
    * micro-batch, which re-runs from the checkpoint. `enrich` runs on
    * the documents channel before its writers — the in-engine stand-in
    * for the ES-side ingest pipeline the reference triggers per request
    * (main.go:437; see IngestPipeline). */
  private def sinkBatch(archive: (DataFrame, Long, Boolean) => Unit,
                        bulk: Option[(DataFrame, Long) => Long],
                        writeErr: (DataFrame, Long, Boolean) => Unit,
                        enrich: DataFrame => DataFrame,
                        metrics: Option[ServiceMetrics],
                        alerts: Option[((DataFrame, Long, Boolean) => Unit, Seq[(Long, String)])])(
                        batch: Dataset[Row], batchId: Long): Unit = {
    // `batch` runs on the stream's own session. Its queries have no
    // shuffle for adaptive execution to tune, and under it every
    // persisted frame a query scans first becomes a job of its own (a
    // table-cache query stage); without it the POST builds both caches
    // inside its own job
    batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    val d = decoded(batch.toDF())
      .observe(channelCounts,
        coalesce(sum(when(col("err").isNull, size(col("env.logEvents")))), lit(0L)).as("documents"),
        count_if(col("err").isNotNull).as("dead_letters"))
      .persist()
    try {
      // docs has a second consumer beyond the archive whenever a bulk
      // target or the alert stage is on — persist so the enrich chain
      // (regex scrub, grok, geoip lookup) runs once per batch, not
      // once per consumer
      val multi = bulk.isDefined || alerts.isDefined
      val docs0 = enrich(flatten(d.filter(col("err").isNull)))
      val docs = if (multi) docs0.persist() else docs0
      // (documents, dead letters); None until an action has scanned
      // every partition of d with success
      def counts(): Option[(Long, Long)] =
        Bridge.cachedObservation(d, channelCounts).map(r => (r.getLong(0), r.getLong(1)))
      var rejected = 0L
      var alerted = 0L
      try {
        try bulk.foreach(post => rejected = post(docs, batchId))
        finally archive(docs, batchId, counts().forall(_._1 > 0))
        // in-stream alerting (the OpenSearch percolate/watcher role):
        // the registered queries match each micro-batch's documents
        // AFTER enrich — alerts see what the index sees (e.g.
        // post-PII-scrub). The match surface is the message's .text
        // payload when present, else the raw message with JSON
        // punctuation space-normalized (a structured log like
        // {"msg":"slow spark join"} must tokenize to its words, not to
        // '{"msg":"slow'). Keyed by (event_id, event_ref): event_ref
        // alone is only unique within one envelope record, and pooling
        // two different events' tokens under one key would fire
        // conjunctions no single document satisfies.
        alerts.foreach { case (w, queries) =>
          // the normalization wraps ONLY the raw-JSON fallback branch:
          // an extracted .text payload is already running text whose
          // own punctuation ("deploy:canary") is part of the match
          // surface and must survive
          // the .text extraction rides the enrich stage's bound variant
          // when present (parse once); identity-enrich frames fall back
          // to the string path
          val textCol =
            if (docs.columns.contains("message_v"))
              expr("try_variant_get(message_v, '$.text', 'string')")
            else get_json_object(col("message"), "$.text")
          // rules are full query_string expressions (percolateDsl), so
          // the whole rule set rides one codegen pass over the batch —
          // no token explode or join per micro-batch. The match surface
          // carries only doc_id/text, so field-scoped clauses are a
          // registration error here (compile fails fast, like ES with
          // lenient:false).
          val matches = graft.ops.SearchExt.percolateDsl(docs.select(
            concat_ws("/", col("event_id"), col("event_ref")).as("doc_id"),
            coalesce(
              textCol,
              regexp_replace(col("message"), "[{}\\[\\]\",:]+", " ")).as("text")),
            queries, keywordFields = Map.empty)
            .withColumnRenamed("rule_id", "query_id")
            .persist()
          try {
            alerted = matches.count()
            w(matches, batchId, alerted > 0)
          } finally matches.unpersist()
        }
      } finally if (multi) docs.unpersist()
      val seen = counts()
      writeErr(deadLetter(d.filter(col("err").isNotNull)), batchId, seen.forall(_._2 > 0))
      metrics.foreach { m =>
        m.batchesTotal.incrementAndGet()
        seen.foreach { case (n, dead) =>
          m.documentsIndexed.addAndGet(n)
          m.documentsDeadLettered.addAndGet(dead)
        }
        m.bulkItemRejections.addAndGet(rejected)
        m.alertsMatched.addAndGet(alerted)
      }
    } finally d.unpersist()
  }

  /** Idempotent channel writer: each micro-batch lands in its own
    * `batch=<id>` subdirectory with overwrite mode, so a replayed
    * batchId (checkpoint recovery under the at-least-once contract)
    * rewrites the same path instead of appending duplicates — plain
    * append would double rows on every replay. `hasRows` is the
    * caller's knowledge of the frame (sinkBatch reads it from its
    * channel counts, so no probe job runs): a frame without rows writes
    * only when `batch=<id>` already exists (the stale-replay case —
    * skipping there would leave an earlier attempt's rows in place); a
    * fresh empty batch writes nothing, so a long-running stream does
    * not mint one near-empty parquet directory per trigger per channel
    * (up to one trigger per landed request, mostly empty on ERROR).
    * Readers of the channel directory see `batch` as a partition
    * column. */
  def channelWriter(dir: String): (DataFrame, Long, Boolean) => Unit =
    (df0, batchId, hasRows) => {
      // the access key is transport auth, not payload — a credential
      // must never land in the archived parquet channels
      val df = df0.drop("access_key")
      val path = new org.apache.hadoop.fs.Path(s"$dir/batch=$batchId")
      val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      if (hasRows || fs.exists(path))
        df.write.mode("overwrite").parquet(path.toString)
    }

  /** `HttpBulk.toBulkNdjsonKeyed`, under the name perfbench's render
    * probe compiles against. */
  def toBulkNdjsonKeyed(docs: DataFrame, index: String): DataFrame =
    HttpBulk.toBulkNdjsonKeyed(docs, index)

  /** Start the ingest stream over a source of (event_id, batch_ms,
    * data) envelope rows (see SourceConfig.schema): decode (per-record
    * encoding sniff) → route → SUCCESS/ + ERROR/ parquet channels
    * (reference cloudformation-template.yaml:170–171), checkpointed for
    * restart recovery.
    *
    * Triggers are arrival-driven: the query runs on `clock`, and a writer
    * that calls `clock.signal()` after landing data (Serve wires the
    * FirehoseEndpoint to it) ends the wait between triggers, so a
    * request is processed as soon as the running trigger ends, with
    * everything else that landed meanwhile. `trigger` (default
    * `ProcessingTime(5 s)`) is only the heartbeat for spools nothing
    * signals. The wake is edge-triggered and the spool is never polled:
    * a burst larger than the source's `maxFilesPerTrigger` with no later
    * arrival drains its remainder at the heartbeat. With the default
    * clock nothing signals and the heartbeat alone paces the stream;
    * `AvailableNow` and `ProcessingTime(0)` never wait on the clock.
    *
    * `bulk = Some(target)` adds the HTTP `_bulk` transport: documents
    * also POST per partition to the target (HttpBulk), and per-item bulk
    * rejections, when there are any, land in `outDir/ERROR_ITEMS`.
    * SUCCESS/ is written either way — with a target it is the archive
    * copy of every delivered document (Firehose S3BackupMode AllData,
    * cloudformation-template.yaml:162–171), the replay store if the
    * index is lost. The archive runs after the POST, in its `finally`,
    * and is overwrite-idempotent, so even a permanently failing sink
    * leaves a complete replay store, and a replayed batch re-archives
    * the same `batch=<id>` path instead of duplicating. A live trigger
    * runs the POST, the archive and, only for a batch with dead
    * letters, the ERROR write (see sinkBatch); documents_indexed and
    * documents_dead_lettered come from the channel counts the first of
    * them observes.
    *
    * `alertQueries = Some(qs)` adds the in-stream percolation stage
    * with that registered rule set (qs: (query_id, query_string) rows —
    * each rule is a FULL Lucene query_string expression compiled by
    * QueryStringParser: phrases, negation, prefix wildcards, grouping —
    * what real Watcher/Kibana alert rules register, not just
    * conjunctive term sets): matches land in
    * `outDir/ALERTS/batch=<id>` under the same overwrite-idempotent
    * channelWriter discipline as the delivery channels, counted on
    * `/metrics` as alerts_matched. */
  def run(source: DataFrame, outDir: String, checkpointDir: String,
          bulk: Option[HttpBulk.Target] = None,
          trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
          enrich: DataFrame => DataFrame = identity,
          metrics: Option[ServiceMetrics] = None,
          alertQueries: Option[Seq[(Long, String)]] = None,
          clock: ArrivalClock = new ArrivalClock): StreamingQuery = {
    val post = bulk.map(t => HttpBulk.bulkWriter(t.postUrl, t.index, s"$outDir/ERROR_ITEMS",
      flushBytes = t.flushBytes, baseBackoffMs = t.backoffMs))
    StreamStart.foreachBatch(source, checkpointDir, trigger, clock)(sinkBatch(
      channelWriter(s"$outDir/SUCCESS"),
      post,
      channelWriter(s"$outDir/ERROR"),
      enrich, metrics,
      alertQueries.map(qs => (channelWriter(s"$outDir/ALERTS"), qs))) _)
  }
}
