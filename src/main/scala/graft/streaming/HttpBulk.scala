package graft.streaming

import java.net.{HttpURLConnection, URL}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat, lit, struct, to_json}

import graft.Json

/** HTTP transport for the OpenSearch `_bulk` sink (reference
  * main.go:399–451: esutil.BulkIndexer with numWorkers, flushBytes,
  * RetryOnStatus + backoff; main.go:546–584: enqueue with per-item
  * OnSuccess/OnFailure callbacks).
  *
  * Spark-first shape: the documents frame renders to `_bulk` NDJSON
  * action/source pairs (toBulkNdjsonKeyed), and each PARTITION
  * posts its lines in flushBytes-bounded chunks, each chunk under the
  * retry/backoff envelope below — partitions are the reference's worker
  * goroutines, chunking is its flushBytes threshold, and Spark task
  * retries layer on top for node loss. This module owns the retry
  * policy: it is the only layer that sees a transient status. Per-item
  * failures from the bulk response (the OnFailure callback,
  * main.go:566–571) are the only rows the POST job collects; they
  * land idempotently under `errDir/batch=<id>`, only when there are
  * some, so replays overwrite rather than duplicate. The documents are
  * never collected: each executor talks to the endpoint directly,
  * which is the only transport topology that scales to 1000
  * executors.
  *
  * Auth passthrough (reference main.go:321–324, 414: the
  * X-Amz-Firehose-Access-Key header becomes ES Basic auth) is per
  * record: each body posts under its records' own key, and keyless
  * records fall back to the optional static `auth` header value.
  */
object HttpBulk {

  /** Reference flushBytes (main.go:46): one POST body per ≤5 MB of
    * NDJSON, so executor memory per flush is bounded regardless of
    * partition size. */
  val defaultFlushBytes: Int = 5000000

  /** Where a stream's documents POST — a deployment setting: the
    * `_bulk` URL, the target index, and the ingest pipeline the
    * reference binds on every bulk request (main.go:437 stamps
    * `pipeline=<name>` — wire parity for an ES-side pipeline, while the
    * stream's `enrich` runs the same chain in-engine). `flushBytes` and
    * `backoffMs` are the transport's tuning knobs (the reference's
    * flushBytes at main.go:46 and backoff at main.go:400–412). */
  final case class Target(url: String, index: String,
                          pipeline: Option[String] = None,
                          flushBytes: Int = defaultFlushBytes,
                          backoffMs: Long = 50) {
    /** `url` with the `pipeline=` query param, when one is bound. */
    def postUrl: String = pipeline.fold(url)(p =>
      url + (if (url.contains("?")) "&" else "?") + "pipeline=" + p)
  }

  /** Transient sink failure carrying the HTTP status. */
  final case class TransientSinkError(status: Int)
      extends RuntimeException(s"transient sink error: HTTP $status")

  /** Statuses worth retrying (reference main.go:412 RetryOnStatus). */
  val retryOnStatus: Set[Int] = Set(429, 502, 503, 504)

  /** Exponential-backoff retry envelope around one POST (reference
    * main.go:400–412 wraps every bulk flush in
    * backoff.NewExponentialBackOff). Non-transient errors and exhausted
    * attempts propagate: the task fails, its job fails, and under
    * checkpointed `foreachBatch` the micro-batch re-runs on restart —
    * the reference's whole-batch Firehose retry, re-expressed. */
  def withRetry[A](maxAttempts: Int = 5, baseBackoffMs: Long = 50,
                   sleep: Long => Unit = Thread.sleep)(f: => A): A = {
    var attempt = 1
    var delayMs = baseBackoffMs
    var result: Option[A] = None
    while (result.isEmpty) {
      try result = Some(f)
      catch {
        case TransientSinkError(status)
            if retryOnStatus(status) && attempt < maxAttempts =>
          sleep(delayMs)
          delayMs *= 2
          attempt += 1
      }
    }
    result.get
  }

  /** OpenSearch index mapping generated from the documents frame's
    * schema — the index-bootstrap step ahead of the first `_bulk` (the
    * reference leans on ES dynamic mapping, which guesses; a real
    * deployment pins the mapping so e.g. epoch-ms longs index as
    * dates and ids stay keyword-exact). Conventions: STRING → `text`
    * with a `.raw` keyword subfield (the standard search+aggregate
    * dual), `*_ms`/`*_at`-suffixed longs and TIMESTAMP → `date`,
    * struct → `object` with nested properties, ARRAY maps as its
    * element (ES fields are multi-valued natively). PUT the returned
    * JSON to `<es>/<index>` before the first bulk. */
  def mappingJson(schema: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types._
    def field(name: String, dt: DataType): String = dt match {
      case st: StructType => obj(st)
      case ArrayType(et, _) => field(name, et)
      case StringType =>
        """{"type":"text","fields":{"raw":{"type":"keyword","ignore_above":1024}}}"""
      case LongType if name.endsWith("_ms") || name.endsWith("_at") =>
        """{"type":"date","format":"epoch_millis"}"""
      case TimestampType | DateType => """{"type":"date"}"""
      case LongType | IntegerType | ShortType => """{"type":"long"}"""
      case DoubleType | FloatType | (_: DecimalType) => """{"type":"double"}"""
      case BooleanType => """{"type":"boolean"}"""
      case BinaryType => """{"type":"binary"}"""
      case _ => """{"type":"keyword"}"""
    }
    // field names come from a parquet schema and may contain any
    // character — escape for JSON, never interpolate raw
    def obj(st: StructType): String =
      st.fields.map(f => s"${Json.quote(f.name)}:${field(f.name, f.dataType)}")
        .mkString("""{"properties":{""", ",", "}}")
    s"""{"mappings":${obj(schema)}}"""
  }

  /** One HTTP PUT of a JSON body — index creation with the pinned
    * mapping (`PUT <es>/<index>`). Returns (status, response body). */
  def put(url: String, json: String, auth: Option[String]): (Int, String) =
    request("PUT", "application/json", url, json.getBytes("UTF-8"), auth)

  /** One HTTP request with a body. Returns (status, response body).
    * Read timeout is generous — bulk indexing latency, not connect
    * latency, dominates. */
  private def request(method: String, contentType: String, url: String,
                      body: Array[Byte], auth: Option[String]): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      auth.foreach(a => conn.setRequestProperty("Authorization", a))
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val respBody =
        if (is == null) "" else try new String(is.readAllBytes(), "UTF-8") finally is.close()
      (status, respBody)
    } finally conn.disconnect()
  }

  /** One `_bulk` POST of NDJSON lines. */
  def post(url: String, body: Array[Byte], auth: Option[String]): (Int, String) =
    request("POST", "application/x-ndjson", url, body, auth)

  /** Per-item failures from a `_bulk` response: (item id, status, error
    * reason) for every item with status ≥ 300 (the ES contract: one
    * response item per action, `error.reason` on rejection). */
  def itemFailures(respBody: String): Iterator[(String, Int, String)] = {
    val root = new ObjectMapper().readTree(respBody)
    val items = root.path("items")
    if (!items.isArray) Iterator.empty
    else {
      val out = Seq.newBuilder[(String, Int, String)]
      items.forEach { wrapper =>
        val item = wrapper.path("index") // action name is always "index" here
        val status = item.path("status").asInt(200)
        if (status >= 300)
          out += ((item.path("_id").asText(""), status,
            item.path("error").path("reason").asText("bulk item rejected")))
      }
      out.result().iterator
    }
  }

  /** Split a partition's (key, NDJSON line) pairs into ≤maxBytes POST
    * bodies, one key per body: lines of different keys never share a
    * body, so each Firehose batch's documents index under their own
    * credential even when one partition interleaves tenants. The budget
    * is tracked in actual UTF-8 bytes (not UTF-16 char count, which
    * undercounts multibyte-heavy log content up to 3×), so the
    * bounded-executor-memory-per-flush claim holds; a key's buffer
    * flushes the moment it crosses the budget (at most one overshooting
    * line per body, like the reference's flushBytes threshold). Memory
    * is bounded by (keys in flight) × maxBytes — keys per micro-batch
    * are few (one per posting Firehose stream). */
  private[streaming] def chunksByKey(it: Iterator[(String, String)],
                                     maxBytes: Int): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val bufs = new java.util.LinkedHashMap[String, java.io.ByteArrayOutputStream]()
      private val ready = scala.collection.mutable.Queue.empty[(String, Array[Byte])]
      private def fill(): Unit = {
        while (ready.isEmpty && it.hasNext) {
          val (key, line) = it.next()
          val buf = bufs.computeIfAbsent(key, _ => new java.io.ByteArrayOutputStream)
          buf.write(line.getBytes("UTF-8"))
          buf.write('\n')
          if (buf.size >= maxBytes) {
            ready.enqueue((key, buf.toByteArray))
            bufs.remove(key)
          }
        }
        if (ready.isEmpty && !it.hasNext && !bufs.isEmpty) {
          bufs.forEach((k, buf) => if (buf.size > 0) ready.enqueue((k, buf.toByteArray)))
          bufs.clear()
        }
      }
      def hasNext: Boolean = { fill(); ready.nonEmpty }
      def next(): (String, Array[Byte]) = { fill(); ready.dequeue() }
    }

  /** Render a documents frame as OpenSearch `_bulk` NDJSON — one
    * `{"index":{"_index":...,"_id":...}}` action line and one source
    * line per document in the `lines` column (reference main.go:546–560
    * builds exactly this pair per record; outgoing/elasticOutput.go the
    * source shape). The `_id` is the exploded log event's id, which
    * makes Firehose whole-batch redelivery idempotent at the index (same
    * contract the reference gets from ES versioning on id). The
    * per-record sink credential rides as a separate `access_key` column
    * ("" = none): the action/source lines never contain the key (it is
    * transport auth, not document payload), and the bulk writer groups
    * POST bodies by it so each batch indexes under its own key
    * (reference main.go:422–424). */
  def toBulkNdjsonKeyed(docs: DataFrame, index: String): DataFrame = {
    // message_v is the typed VARIANT twin of the raw `message` wire
    // field (IngestPipeline binds it once for in-engine extraction and
    // the SUCCESS store) — serializing both would duplicate the payload
    // in every source line
    val dataCols = docs.columns.filterNot(c => c == "access_key" || c == "message_v")
    val key =
      if (docs.columns.contains("access_key")) coalesce(col("access_key"), lit(""))
      else lit("")
    docs.select(
      key.as("access_key"),
      concat(
        to_json(struct(struct(
          lit(index).as("_index"),
          col("event_ref").as("_id")).as("index"))),
        lit("\n"),
        to_json(struct(dataCols.map(col).toSeq: _*))).as("lines"))
  }

  /** A writer that POSTs the documents frame to `url` as `_bulk`
    * NDJSON and returns the number of per-item rejections. The POST is
    * one `collect` job: each partition posts its bodies and returns only
    * its rejected items, which are rare. They land under
    * `errDir/batch=<id>` through Pipeline.channelWriter, so the
    * directory is written only when some item was rejected or an
    * earlier attempt of the batch left one there (a replay overwrites
    * it). Transient statuses (429/502/503/504, reference main.go:412)
    * retry with exponential backoff inside the task; non-transient HTTP
    * errors and exhausted retries throw, failing the micro-batch for
    * checkpoint replay — the reference's whole-batch-retry contract.
    * `auth` is only the STATIC fallback for records that landed with no
    * access_key of their own — a keyed record posts under ITS key
    * (reference main.go:414, 422–424 — per-request client, per-request
    * credential), and a keyless record never inherits another tenant's
    * captured key. */
  def bulkWriter(url: String, index: String, errDir: String,
                 auth: Option[String] = None,
                 flushBytes: Int = defaultFlushBytes,
                 baseBackoffMs: Long = 50): (DataFrame, Long) => Long =
    (docs, batchId) => {
      val spark = docs.sparkSession
      import spark.implicits._
      val failed = toBulkNdjsonKeyed(docs, index)
        .as[(String, String)]
        .mapPartitions { rows =>
          chunksByKey(rows, flushBytes).flatMap { case (key, body) =>
            val chunkAuth = if (key.nonEmpty) Some("Basic " + key) else auth
            val resp = withRetry(baseBackoffMs = baseBackoffMs) {
              val (status, rb) = post(url, body, chunkAuth)
              if (retryOnStatus(status)) throw TransientSinkError(status)
              if (status >= 400) throw new java.io.IOException(s"bulk POST rejected: HTTP $status")
              rb
            }
            // per-item failures (the reference's OnFailure callback,
            // main.go:566–571)
            itemFailures(resp).toSeq
          }
        }
        .collect()
      Pipeline.channelWriter(errDir)(
        failed.toSeq.toDF("item_id", "status", "err"), batchId, failed.nonEmpty)
      failed.length.toLong
    }
}
