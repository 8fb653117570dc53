package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.Json

/** The reference's HTTP service surface (reference main.go:203–365): a
  * loopback push front-end accepting Firehose delivery batches and
  * handing them to the Structured Streaming dataflow.
  *
  * Contract, mirrored endpoint-for-endpoint:
  *  - `GET /ping` → `{"message":"pong"}` (main.go:220–224, the health
  *    check).
  *  - `POST /firehose` (main.go:248–365):
  *    - `X-Amz-Firehose-Request-Id` header, empty → `"manual"`
  *      (main.go:260–266); the id is stamped on every document of the
  *      batch.
  *    - `X-Amz-Firehose-Access-Key` header stamped on every record of
  *      the batch as the spool's `access_key` field (main.go:321–324,
  *      414) — the sink posts each record under its own key, and a
  *      keyless batch never inherits another request's credential.
  *    - content detect (dataDetect, main.go:74–121): Content-Type must
  *      be `application/json`, Content-Encoding empty or `gzip`, then
  *      the BODY's gzip magic decides the real encoding even when the
  *      header lies (main.go:109–113 treats a mismatch as gzip).
  *    - envelope parse failure → 400 with the firehoseErrorBody shape
  *      (header request id + server time + errorMessage,
  *      main.go:281–287); success → 200 echoing the BODY's requestId
  *      and timestamp (main.go:358–363).
  *
  * Where the Go service splits/indexes records inline in the handler,
  * this front-end does the Spark-correct thing: the handler only lands
  * the batch — one JSON-lines file per request, atomically moved into
  * the `SourceConfig.fileDrop` spool directory — and the streaming
  * pipeline (`Pipeline.run`: decode → route → SUCCESS/ERROR channels,
  * plus the HTTP `_bulk` sink when a target is set) does ALL data work
  * distributed. The HTTP thread never parses payloads or
  * touches executors, so ingest rate is decoupled from processing rate
  * — the topology that survives 1000 executors, where the reference's
  * in-handler processing is bounded by one service instance.
  *
  * `onLanded` runs once per landed batch, after the atomic move and
  * before the 200: Serve passes the ingest stream's
  * `ArrivalClock.signal`, so the stream starts a trigger for the batch
  * at once instead of waiting for its heartbeat (see `Pipeline.run`).
  */
object FirehoseEndpoint {
  /** Default request-body cap. Firehose HTTP-endpoint delivery batches
    * are at most 4 MiB before compression, so 8 MiB accepts any legal
    * batch with headroom; an unbounded `readAllBytes` would let one
    * multi-GB POST occupy the ingest heap (the reference bounds only
    * header-read time, main.go:370 — a service front-end must bound
    * body bytes too). */
  val defaultMaxBodyBytes: Int = 8 * 1024 * 1024

  /** Handler threads are named `<threadPrefix><n>`. */
  private[graft] val threadPrefix = "firehose-endpoint-"

  private val threadSeq = new AtomicLong(0L)

  /** The Firehose HTTP response contract (reference main.go:358–363,
    * structs at main.go:58–69): 200 echoes the REQUEST's id and
    * timestamp; an error response carries the same pair plus
    * `errorMessage`. */
  def firehoseResponse(requestId: String, timestampMs: Long,
                       errorMessage: Option[String] = None): String = {
    val base = s""""requestId":${Json.quote(requestId)},"timestamp":$timestampMs"""
    errorMessage match {
      case Some(m) => s"""{$base,"errorMessage":${Json.quote(m)}}"""
      case None => s"""{$base}"""
    }
  }
}

final class FirehoseEndpoint(dropDir: String, port: Int = 0,
                             maxBodyBytes: Int = FirehoseEndpoint.defaultMaxBodyBytes,
                             extraMetrics: () => Map[String, Long] = () => Map.empty,
                             accessLog: Boolean = false,
                             onLanded: () => Unit = () => ()) {

  private val mapper = new ObjectMapper()
  private val seq = new AtomicLong(0L)

  // ingest-side counters for GET /metrics (reference main.go:216–217
  // mounts ginprom; these are the handler-level numbers it exports)
  private val requestsTotal = new AtomicLong(0L)
  private val rejectedRequests = new AtomicLong(0L)
  private val recordsLanded = new AtomicLong(0L)

  // The spool holds each record's access_key (transport credential) in
  // plaintext until the stream consumes the file, so the drop dir is
  // owner-only (0700; staged files land 0600 below). Retention is
  // bounded by the source's cleanSource=delete option (Serve sets it on
  // SourceConfig.fileDrop) — without it consumed spool files, credential
  // included, would sit on disk indefinitely.
  Files.createDirectories(Paths.get(dropDir))
  try Files.setPosixFilePermissions(Paths.get(dropDir),
    java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
  catch { case _: UnsupportedOperationException => () } // non-POSIX FS

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // owned here so stop() can shut it down: its threads are non-daemon,
  // and a pool left running keeps the JVM (a drained Serve) alive
  private val pool = Executors.newFixedThreadPool(4, new ThreadFactory {
    def newThread(r: Runnable): Thread =
      new Thread(r, FirehoseEndpoint.threadPrefix + FirehoseEndpoint.threadSeq.incrementAndGet())
  })
  server.setExecutor(pool)

  server.createContext("/ping", (ex: HttpExchange) =>
    if (ex.getRequestMethod == "GET") respond(ex, 200, """{"message":"pong"}""")
    else respond(ex, 404, """{"error":"not found"}"""))

  server.createContext("/firehose", (ex: HttpExchange) => handleFirehose(ex))

  // observability surface (reference main.go:216–217): handler counters
  // plus whatever the streaming side supplies (ServiceMetrics.snapshot —
  // docs indexed / dead-lettered / bulk item rejections). Default is the
  // Prometheus text exposition (what the reference's k8s ServiceMonitor
  // scrapes, deploy/manifest.yaml:132–153); JSON stays available under
  // `Accept: application/json` or the explicit `/metrics.json` path.
  server.createContext("/metrics", (ex: HttpExchange) =>
    if (ex.getRequestMethod == "GET") {
      // extraMetrics is caller-supplied — a scrape must ALWAYS get a
      // response, so a supplier failure degrades to handler-only counts
      val counts = Map(
        "requests_total" -> requestsTotal.get(),
        "rejected_requests" -> rejectedRequests.get(),
        "records_landed" -> recordsLanded.get()) ++
        (try extraMetrics() catch { case _: Exception => Map.empty[String, Long] })
      val wantJson = ex.getRequestURI.getPath == "/metrics.json" ||
        header(ex, "Accept").exists(_.contains("application/json"))
      if (wantJson) respond(ex, 200, ServiceMetrics.renderJson(counts))
      else respond(ex, 200, ServiceMetrics.renderPrometheus(counts),
        ServiceMetrics.prometheusContentType)
    } else respond(ex, 404, """{"error":"not found"}"""))

  server.start()

  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort"
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def respond(ex: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json; charset=utf-8"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
    // structured access log, one line per request (the reference's
    // ginzap middleware, main.go:209) — opt-in so test suites stay quiet
    if (accessLog)
      println(s"[firehose] ${ex.getRequestMethod} ${ex.getRequestURI} -> $status")
  }

  /** firehoseErrorBody (main.go:64–69): header-derived request id +
    * server time + errorMessage. */
  private def errorBody(requestId: String, msg: String): String =
    FirehoseEndpoint.firehoseResponse(requestId, System.currentTimeMillis(), Some(msg))

  private def header(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestHeaders.getFirst(name)).filter(_.nonEmpty)

  /** Read at most `max` bytes; null if the stream carries more. */
  private def readBounded(is: java.io.InputStream, max: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](8192)
    var n = is.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size > max) return null
      n = is.read(buf)
    }
    out.toByteArray
  }

  /** Error respond + the rejected-requests counter in one place. */
  private def reject(ex: HttpExchange, status: Int, body: String): Unit = {
    rejectedRequests.incrementAndGet()
    respond(ex, status, body)
  }

  private def handleFirehose(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 404, """{"error":"not found"}"""); return }
    requestsTotal.incrementAndGet()
    // request-id extraction with the "manual" fallback (main.go:260–266)
    val requestId = header(ex, "X-Amz-Firehose-Request-Id").getOrElse("manual")
    // access-key capture for sink auth (main.go:321–324): stamped per
    // record below and ONLY per record — the reference authenticates
    // each batch with ITS OWN key (main.go:414, 422–424 build the
    // indexer per request), so no last-seen global that a keyless batch
    // could inherit across tenants
    val batchKey = header(ex, "X-Amz-Firehose-Access-Key")

    // dataDetect (main.go:74–121)
    val contentType = header(ex, "Content-Type").getOrElse("").split(";")(0).trim
    if (contentType != "application/json") {
      reject(ex, 400, s"""{"error":"unsupported Content-Type: $contentType"}"""); return
    }
    val contentEncoding = header(ex, "Content-Encoding").getOrElse("")
    if (contentEncoding.nonEmpty && contentEncoding != "gzip") {
      reject(ex, 400, s"""{"error":"unsupported Content-Encoding $contentEncoding"}"""); return
    }

    val raw = readBounded(ex.getRequestBody, maxBodyBytes)
    if (raw == null) {
      reject(ex, 413, errorBody(requestId,
        s"request body exceeds $maxBodyBytes bytes")); return
    }
    // the body's magic decides, header mismatch treated as gzip
    // (main.go:109–113 + handler's errEncodingMismatch branch)
    val isGzip = raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b
    // inflation is capped at 4× the wire cap: a tiny gzip of zeros must
    // not balloon into gigabytes on the ingest heap (decompression bomb).
    // Long arithmetic then clamp — 4 * maxBodyBytes would overflow Int
    // past ~512 MiB, turning the cap negative and rejecting every body.
    val inflateCap = math.min(Int.MaxValue.toLong, 4L * maxBodyBytes).toInt
    var pastCap = false
    val bodyBytes =
      if (isGzip)
        try {
          val inflated = readBounded(new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(raw)), inflateCap)
          if (inflated == null) pastCap = true // over the cap, not corrupt
          inflated
        } catch { case _: java.io.IOException => null }
      else if (contentEncoding == "gzip") null // claimed gzip, no magic: corrupt
      else raw
    if (bodyBytes == null) {
      if (pastCap)
        reject(ex, 413, errorBody(requestId,
          s"gzip request body inflates past $inflateCap bytes"))
      else
        reject(ex, 400, errorBody(requestId, "Error parsing GZIP JSON request body"))
      return
    }

    // envelope unmarshal (incoming/firehose.go:21–29); malformed → 400
    // with the firehoseErrorBody shape (main.go:281–287)
    val root =
      try mapper.readTree(new String(bodyBytes, UTF_8))
      catch { case e: Exception => reject(ex, 400, errorBody(requestId, s"invalid JSON: ${e.getMessage}")); return }
    if (root == null || !root.isObject) {
      reject(ex, 400, errorBody(requestId, "request body is not a JSON object")); return
    }
    val records = root.path("records")
    if (!records.isMissingNode && !records.isNull && !records.isArray) {
      reject(ex, 400, errorBody(requestId, "records is not an array")); return
    }
    val envRequestId = root.path("requestId").asText("")
    val envTimestamp = root.path("timestamp").asLong(0L)

    // Hand the batch to the stream: one JSON-lines file per request in
    // the SourceConfig contract (event_id, batch_ms, data, request_id),
    // staged hidden (file sources ignore dot-files) then atomically
    // renamed so the source never lists a half-written file.
    if (records.isArray && records.size() > 0) {
      val sb = new java.lang.StringBuilder
      records.forEach { rec =>
        val line = mapper.createObjectNode()
        line.put("event_id", seq.getAndIncrement())
        line.put("batch_ms", envTimestamp)
        line.put("data", rec.path("data").asText(""))
        line.put("request_id", requestId)
        line.put("access_key", batchKey.getOrElse(""))
        sb.append(mapper.writeValueAsString(line)).append('\n')
      }
      // UUID name: concurrent handler threads must never collide
      val name = s"req-${java.util.UUID.randomUUID()}.json"
      val staged = Paths.get(dropDir, s".$name")
      try {
        Files.write(staged, sb.toString.getBytes(UTF_8))
        // spool lines carry the access_key — owner-only like the dir
        try Files.setPosixFilePermissions(staged,
          java.nio.file.attribute.PosixFilePermissions.fromString("rw-------"))
        catch { case _: UnsupportedOperationException => () }
        Files.move(staged, Paths.get(dropDir, name), StandardCopyOption.ATOMIC_MOVE)
        recordsLanded.addAndGet(records.size().toLong)
        onLanded()
      } catch {
        // batch NOT accepted — 500 with the firehoseErrorBody shape so
        // Firehose redelivers (the reference's splitRecords-failure path,
        // main.go:311–317)
        case e: Exception =>
          reject(ex, 500, errorBody(requestId, s"failed landing batch: ${e.getMessage}"))
          return
      }
    }

    // 200 echoes the BODY's requestId/timestamp (main.go:358–363)
    respond(ex, 200, FirehoseEndpoint.firehoseResponse(envRequestId, envTimestamp))
  }
}
