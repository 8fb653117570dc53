package graft

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{FirehoseEndpoint, HttpBulk, Pipeline, SourceConfig}

/** The HTTP push front-end over loopback (reference main.go:203–365):
  * /ping, request-id extraction with the "manual" fallback, content
  * detect, gzip body binding, access-key capture, the firehoseResponse
  * echo contract, and the full POST → drop-dir → stream → SUCCESS/ERROR
  * dataflow. */
class FirehoseEndpointSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def call(url: String, method: String, body: Array[Byte] = null,
                   headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      if (body != null) {
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(body) finally os.close()
      }
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val resp = if (is == null) "" else try new String(is.readAllBytes(), UTF_8) finally is.close()
      (status, resp)
    } finally conn.disconnect()
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  private def cwBody(id: String): String =
    s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/http","logStream":"s1",
       |"subscriptionFilters":["f"],"logEvents":[
       |{"id":"$id-1","timestamp":1000,"message":"{\\"k\\":1}"},
       |{"id":"$id-2","timestamp":2000,"message":"plain"}]}""".stripMargin

  private def envelope(reqId: String, ts: Long, datas: String*): String =
    s"""{"requestId":"$reqId","timestamp":$ts,"records":[${
      datas.map(d => s"""{"data":"$d"}""").mkString(",")}]}"""

  private val json = Map("Content-Type" -> "application/json")

  test("GET /ping answers pong (main.go:220–224)") {
    val ep = new FirehoseEndpoint(tmp("fh-ping"))
    try assert(call(s"${ep.url}/ping", "GET") == ((200, """{"message":"pong"}""")))
    finally ep.stop()
  }

  test("stop() ends every handler thread, so a drained Serve can exit") {
    def handlerThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(FirehoseEndpoint.threadPrefix)).toSet
    val before = handlerThreads()
    val ep = new FirehoseEndpoint(tmp("fh-stop"))
    val (status, _) = try call(s"${ep.url}/firehose", "POST",
      envelope("r", 1L, b64(cwBody("st"))).getBytes(UTF_8), json)
    finally ep.stop()
    assert(status == 200)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var alive = handlerThreads() -- before
    while (alive.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      alive = handlerThreads() -- before
    }
    assert(alive.isEmpty, s"endpoint threads still alive after stop(): ${alive.map(_.getName)}")
  }

  test("200 echoes the BODY's requestId/timestamp; header id stamps the records") {
    val dropDir = tmp("fh-drop")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      val (status, resp) = call(s"${ep.url}/firehose", "POST",
        envelope("env-req-1", 1635622518652L, b64(cwBody("a"))).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Request-Id" -> "hdr-req-1"))
      assert(status == 200)
      assert(resp == """{"requestId":"env-req-1","timestamp":1635622518652}""")
      val landed = spark.read
        .schema("event_id BIGINT, batch_ms BIGINT, data STRING, request_id STRING")
        .json(dropDir).collect()
      assert(landed.length == 1)
      assert(landed.head.getAs[String]("request_id") == "hdr-req-1")
      assert(landed.head.getAs[Long]("batch_ms") == 1635622518652L)
    } finally ep.stop()
  }

  test("missing request-id header falls back to \"manual\" (main.go:260–266)") {
    val dropDir = tmp("fh-manual")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      val (status, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r", 1L, b64(cwBody("m"))).getBytes(UTF_8), json)
      assert(status == 200)
      val rid = spark.read
        .schema("event_id BIGINT, batch_ms BIGINT, data STRING, request_id STRING")
        .json(dropDir).select("request_id").collect().map(_.getString(0))
      assert(rid.toSeq == Seq("manual"))
    } finally ep.stop()
  }

  test("content detect: wrong type / wrong encoding / corrupt gzip / bad JSON → 400") {
    val ep = new FirehoseEndpoint(tmp("fh-400"))
    try {
      val url = s"${ep.url}/firehose"
      val (s1, b1) = call(url, "POST", "x".getBytes(UTF_8), Map("Content-Type" -> "text/xml"))
      assert(s1 == 400 && b1 == """{"error":"unsupported Content-Type: text/xml"}""")
      val (s2, b2) = call(url, "POST", "x".getBytes(UTF_8),
        json + ("Content-Encoding" -> "br"))
      assert(s2 == 400 && b2 == """{"error":"unsupported Content-Encoding br"}""")
      // claims gzip but carries no gzip magic → corrupt gzip body
      val (s3, b3) = call(url, "POST", "{}".getBytes(UTF_8),
        json + ("Content-Encoding" -> "gzip", "X-Amz-Firehose-Request-Id" -> "rq-3"))
      assert(s3 == 400 && b3.contains(""""requestId":"rq-3"""") && b3.contains("errorMessage"))
      val (s4, b4) = call(url, "POST", "{not json".getBytes(UTF_8), json)
      assert(s4 == 400 && b4.contains(""""requestId":"manual"""") && b4.contains("errorMessage"))
      val (s5, b5) = call(url, "POST", """{"records":"nope"}""".getBytes(UTF_8), json)
      assert(s5 == 400 && b5.contains("records is not an array"))
    } finally ep.stop()
  }

  test("gzip body binding: magic decides even when the header lies (main.go:109–113)") {
    val dropDir = tmp("fh-gz")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      val env = envelope("gz-req", 7L, b64(cwBody("g"))).getBytes(UTF_8)
      // gzip body, correct header
      val (s1, r1) = call(s"${ep.url}/firehose", "POST", graft.expr.GzipCodec.gzip(env),
        json + ("Content-Encoding" -> "gzip"))
      assert(s1 == 200 && r1 == """{"requestId":"gz-req","timestamp":7}""")
      // gzip body, header MISSING: treated as gzip anyway
      val (s2, _) = call(s"${ep.url}/firehose", "POST", graft.expr.GzipCodec.gzip(env), json)
      assert(s2 == 200)
      assert(spark.read.schema("event_id BIGINT, data STRING").json(dropDir).count() == 2)
    } finally ep.stop()
  }

  test("body cap: oversize POST → 413; a gzip bomb cannot inflate past 4× the cap") {
    val ep = new FirehoseEndpoint(tmp("fh-cap"), maxBodyBytes = 2048)
    try {
      val url = s"${ep.url}/firehose"
      // oversize plain body: bounded read stops at the cap → 413
      val big = ("{" + "x" * 4096 + "}").getBytes(UTF_8)
      val (s1, b1) = call(url, "POST", big,
        json + ("X-Amz-Firehose-Request-Id" -> "rq-big"))
      assert(s1 == 413 && b1.contains(""""requestId":"rq-big"""") && b1.contains("errorMessage"))
      // a 1 KiB-compressed gzip of ~1 MiB of zeros: wire size passes the
      // cap, inflation is cut off at 4× cap → rejected, heap never holds
      // the inflated payload
      val bomb = graft.expr.GzipCodec.gzip(Array.fill[Byte](1024 * 1024)('0'))
      assert(bomb.length < 2048, s"test bomb must fit the wire cap, was ${bomb.length}")
      val (s2, b2) = call(url, "POST", bomb, json + ("Content-Encoding" -> "gzip"))
      assert(s2 == 413, s"inflated-past-cap body must answer 413, got $s2")
      assert(b2.contains("inflates past"), "413 must name the inflation cap, not a parse error")
      // corrupt gzip (magic but garbage after) stays a 400 parse error
      val corrupt = Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4)
      val (s2b, b2b) = call(url, "POST", corrupt, json + ("Content-Encoding" -> "gzip"))
      assert(s2b == 400 && b2b.contains("Error parsing GZIP"))
      // a legal small batch still lands
      val (s3, _) = call(url, "POST",
        envelope("r", 1L, b64("""{"ok":1}""")).getBytes(UTF_8), json)
      assert(s3 == 200)
    } finally ep.stop()
  }

  test("concurrent POSTs land atomically: every batch file is whole, no interleaving, no loss") {
    val dir = tmp("fh-conc")
    val ep = new FirehoseEndpoint(dir)
    val nThreads = 8
    val perThread = 10
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val statuses = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      (0 until nThreads).foreach { t =>
        pool.submit(new Runnable {
          override def run(): Unit =
            (0 until perThread).foreach { i =>
              val (s, _) = call(s"${ep.url}/firehose", "POST",
                envelope(s"r-$t-$i", 1L, b64(cwBody(s"t$t-$i"))).getBytes(UTF_8),
                json + ("X-Amz-Firehose-Access-Key" -> s"key$t"))
              statuses.add(s)
            }
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(statuses.toArray.forall(_ == 200), "every concurrent POST must land")
      // one spool file per request, each fully-formed JSON lines with a
      // single consistent tenant key (no cross-request interleaving)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".json"))
      assert(files.length == nThreads * perThread,
        s"expected ${nThreads * perThread} spool files, got ${files.length}")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      files.foreach { f =>
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
        assert(lines.nonEmpty)
        val keys = lines.map(l => om.readTree(l).path("access_key").asText()).distinct
        assert(keys.size == 1, s"spool file $f mixes tenant keys: $keys")
      }
    } finally ep.stop()
  }

  test("access key is stamped per record in the spool, keyless records stamp empty (main.go:321–324)") {
    val dir = tmp("fh-auth")
    val ep = new FirehoseEndpoint(dir)
    try {
      call(s"${ep.url}/firehose", "POST",
        envelope("r", 1L, b64(cwBody("k"))).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Access-Key" -> "Zmg6c2VjcmV0"))
      call(s"${ep.url}/firehose", "POST",
        envelope("r2", 2L, b64(cwBody("k2"))).getBytes(UTF_8), json)
      val lines = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".json")).sorted
        .flatMap(p => scala.io.Source.fromFile(p, "UTF-8").getLines())
      val keys = lines.map { l =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
        m.path("access_key").asText()
      }.toSet
      // the keyed batch's records carry THEIR key; the keyless batch's
      // records carry "" (not the previously seen key) — no last-seen
      // global exists to leak a credential across requests
      assert(keys == Set("Zmg6c2VjcmV0", ""), s"got $keys")
    } finally ep.stop()
  }

  test("e2e: plain AND gzip POSTs flow through the stream to SUCCESS/; garbage to ERROR/ with its payload") {
    import spark.implicits._
    val dropDir = tmp("fh-e2e-drop")
    val outDir = tmp("fh-e2e-out")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      // plain envelope: one good record + one garbage record
      val (s1, _) = call(s"${ep.url}/firehose", "POST",
        envelope("req-p", 10L, b64(cwBody("p")), b64("not an envelope")).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Request-Id" -> "fh-plain"))
      // whole-body-gzip envelope with a per-record-gzip payload inside
      // (both reference gzip layers at once: gzipbinding + main.go:472)
      val gzRecord = java.util.Base64.getEncoder
        .encodeToString(graft.expr.GzipCodec.gzip(cwBody("z").getBytes(UTF_8)))
      val (s2, _) = call(s"${ep.url}/firehose", "POST",
        graft.expr.GzipCodec.gzip(envelope("req-z", 20L, gzRecord).getBytes(UTF_8)),
        json + ("Content-Encoding" -> "gzip", "X-Amz-Firehose-Request-Id" -> "fh-gzip"))
      assert(s1 == 200 && s2 == 200)

      val q = Pipeline.run(SourceConfig.fileDrop(spark, dropDir),
        outDir, tmp("fh-e2e-ckpt"), trigger = Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()

      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      val refs = ok.select("event_ref").as[String].collect().sorted
      assert(refs.toSeq == Seq("p-1", "p-2", "z-1", "z-2"))
      // the header request id rides every document of its batch
      val byReq = ok.select("requestId", "event_ref").as[(String, String)].collect().toSet
      assert(byReq == Set(("fh-plain", "p-1"), ("fh-plain", "p-2"),
        ("fh-gzip", "z-1"), ("fh-gzip", "z-2")))
      // the garbage record dead-letters WITH its payload preserved
      val err = spark.read.parquet(s"$outDir/ERROR")
        .select("requestId", "body").as[(String, String)].collect()
      assert(err.toSeq == Seq(("fh-plain", "not an envelope")))
    } finally ep.stop()
  }

  test("S6 end-to-end: the inbound access key reaches the bulk sink as Basic auth") {
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // minimal _bulk stub recording the Authorization header
    val auths = new ConcurrentLinkedQueue[String]()
    val bulk = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bulk.createContext("/_bulk", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      Option(ex.getRequestHeaders.getFirst("Authorization")).foreach(auths.add)
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    bulk.start()
    val bulkUrl = s"http://127.0.0.1:${bulk.getAddress.getPort}/_bulk"

    val dropDir = tmp("fh-s6-drop")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      // Firehose POST carrying the access key (base64 user:password)
      val (s1, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r", 1L, b64(cwBody("s6"))).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Access-Key" -> "dXNlcjpwdw=="))
      assert(s1 == 200)
      // the service wiring Serve uses: no static auth — the key rides
      // each record through the spool and the sink prefixes "Basic "
      // (reference main.go:414)
      val q = Pipeline.run(
        SourceConfig.fileDrop(spark, dropDir),
        tmp("fh-s6-out"), tmp("fh-s6-ckpt"),
        bulk = Some(HttpBulk.Target(bulkUrl, "graft-docs")),
        trigger = Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()
      assert(auths.size > 0 && auths.toArray.toSet == Set("Basic dXNlcjpwdw=="),
        s"bulk POSTs must carry the inbound key as Basic auth; got ${auths.toArray.toSeq}")
    } finally { ep.stop(); bulk.stop(0) }
  }

  test("arrival wake: a landed batch reaches _bulk long before the 10-minute heartbeat") {
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import org.apache.spark.sql.graftshim.ArrivalClock
    val bodies = new ConcurrentLinkedQueue[String]()
    val bulk = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bulk.createContext("/_bulk", (ex: HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    bulk.start()
    val bulkUrl = s"http://127.0.0.1:${bulk.getAddress.getPort}/_bulk"

    val dropDir = tmp("fh-wake-drop")
    // Serve's wiring: the endpoint signals the clock the stream waits on
    val clock = new ArrivalClock
    val ep = new FirehoseEndpoint(dropDir, onLanded = () => clock.signal())
    val q = Pipeline.run(SourceConfig.fileDrop(spark, dropDir),
      tmp("fh-wake-out"), tmp("fh-wake-ckpt"),
      bulk = Some(HttpBulk.Target(bulkUrl, "graft-docs")),
      trigger = Trigger.ProcessingTime("10 minutes"), clock = clock)
    try {
      // the startup trigger finds an empty spool; after it the stream
      // waits for the next 10-minute grid line unless woken
      val up = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.lastProgress == null && System.nanoTime() < up) Thread.sleep(20)
      assert(q.lastProgress != null, "no startup progress event within 60 s")
      val (status, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r", 1L, b64(cwBody("wk"))).getBytes(UTF_8), json)
      assert(status == 200)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      def delivered = Set("wk-1", "wk-2").forall(id =>
        bodies.toArray.exists(_.toString.contains(s""""_id":"$id"""")))
      while (!delivered && System.nanoTime() < deadline) Thread.sleep(20)
      assert(delivered, s"documents not at _bulk within 20 s: ${bodies.toArray.toSeq}")
    } finally { q.stop(); ep.stop(); bulk.stop(0) }
  }

  test("auth isolation e2e: two tenants' batches each index under their own key (main.go:422–424)") {
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // _bulk stub recording (Authorization, body) pairs
    val pairs = new ConcurrentLinkedQueue[(String, String)]()
    val bulk = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bulk.createContext("/_bulk", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      pairs.add((Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""), body))
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    bulk.start()
    val bulkUrl = s"http://127.0.0.1:${bulk.getAddress.getPort}/_bulk"

    val dropDir = tmp("fh-iso-drop")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      // two tenants POST with different access keys, then a KEYLESS
      // batch, all before one micro-batch — the keyless batch must post
      // unauthenticated, not under whichever tenant key arrived last
      val (s1, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r1", 1L, b64(cwBody("ta"))).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Access-Key" -> "a2V5QQ=="))
      val (s2, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r2", 2L, b64(cwBody("tb"))).getBytes(UTF_8),
        json + ("X-Amz-Firehose-Access-Key" -> "a2V5Qg=="))
      val (s3, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r3", 3L, b64(cwBody("tc"))).getBytes(UTF_8), json)
      assert(s1 == 200 && s2 == 200 && s3 == 200)
      val q = Pipeline.run(
        SourceConfig.fileDrop(spark, dropDir),
        tmp("fh-iso-out"), tmp("fh-iso-ckpt"),
        bulk = Some(HttpBulk.Target(bulkUrl, "graft-docs")),
        trigger = Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()
      val byAuth = pairs.toArray(Array.empty[(String, String)])
        .groupBy(_._1).view.mapValues(_.map(_._2).mkString("\n")).toMap
      assert(byAuth.keySet == Set("Basic a2V5QQ==", "Basic a2V5Qg==", ""),
        s"one auth per tenant plus unauthenticated keyless, got ${byAuth.keySet}")
      assert(byAuth("").contains(""""_id":"tc-1"""")
        && !byAuth("").contains("\"_id\":\"ta") && !byAuth("").contains("\"_id\":\"tb"),
        "the keyless batch must post unauthenticated, never under a tenant key")
      assert(byAuth("Basic a2V5QQ==").contains(""""_id":"ta-1"""")
        && !byAuth("Basic a2V5QQ==").contains("\"_id\":\"tb"),
        "tenant A's docs must post only under tenant A's key")
      assert(byAuth("Basic a2V5Qg==").contains(""""_id":"tb-1"""")
        && !byAuth("Basic a2V5Qg==").contains("\"_id\":\"ta"),
        "tenant B's docs must post only under tenant B's key")
    } finally { ep.stop(); bulk.stop(0) }
  }

  test("GET /metrics: handler + streaming counters after a driven batch (main.go:216–217, 546–584)") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.streaming.ServiceMetrics
    // _bulk stub rejecting the second event of the "m*" records
    // (exercises the rejection counter alongside the channel totals)
    val bulk = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bulk.createContext("/_bulk", (ex: HttpExchange) => {
      val ids = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        .split("\n").grouped(2).map(_.head)
        .map(a => """"_id":"([^"]+)"""".r.findFirstMatchIn(a).get.group(1)).toSeq
      val items = ids.map { id =>
        if (id.startsWith("m") && id.endsWith("-2"))
          s"""{"index":{"_id":"$id","status":400,"error":{"reason":"rejected"}}}"""
        else s"""{"index":{"_id":"$id","status":201}}"""
      }.mkString(",")
      val resp = s"""{"took":1,"errors":true,"items":[$items]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    bulk.start()
    val bulkUrl = s"http://127.0.0.1:${bulk.getAddress.getPort}/_bulk"

    val dropDir = tmp("fh-met-drop")
    val metrics = new ServiceMetrics
    val ep = new FirehoseEndpoint(dropDir, extraMetrics = () => metrics.snapshot)
    // channel totals must ride the writes, never separate count() or
    // isEmpty jobs per trigger — record every action (name, output
    // path) the session runs while the stream drains
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val recorder = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        actions.add((funcName, qe.logical.collectFirst {
          case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            c.outputPath.toString
        }.getOrElse("")))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    // and every Spark job: each action must be exactly one job (no
    // adaptive table-cache stage materializing a persisted frame first)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobCounter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // earlier suites' action events must not reach the recorders
    org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
    spark.listenerManager.register(recorder)
    spark.sparkContext.addSparkListener(jobCounter)
    val out = tmp("fh-met-out")
    try {
      // one good request (2 records → 4 docs, two of which the stub
      // rejects per-item, plus one garbage record), one rejected
      // request, and one clean request (2 docs, nothing rejected) —
      // one spool file per batch
      val (s1, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r1", 1L, b64(cwBody("ma")), b64(cwBody("mb")), b64("garbage")).getBytes(UTF_8), json)
      val (s2, _) = call(s"${ep.url}/firehose", "POST", "{oops".getBytes(UTF_8), json)
      val (s3, _) = call(s"${ep.url}/firehose", "POST",
        envelope("r3", 3L, b64(cwBody("ok"))).getBytes(UTF_8), json)
      assert(s1 == 200 && s2 == 400 && s3 == 200)
      val q = Pipeline.run(
        SourceConfig.fileDrop(spark, dropDir, maxFilesPerTrigger = 1),
        out, tmp("fh-met-ckpt"),
        bulk = Some(HttpBulk.Target(bulkUrl, "graft-docs")),
        trigger = Trigger.AvailableNow(), metrics = Some(metrics))
      try q.processAllAvailable() finally q.stop()

      // JSON stays available under Accept: application/json (and the
      // /metrics.json alias tested below)
      val (ms, body) = call(s"${ep.url}/metrics", "GET",
        headers = Map("Accept" -> "application/json"))
      assert(ms == 200, s"GET /metrics must answer, got $ms")
      val counts = body.stripPrefix("{").stripSuffix("}").split(",")
        .map(_.split(":")).map(a => a(0).replace("\"", "") -> a(1).toLong).toMap
      assert(counts("requests_total") == 3L, s"got $counts")
      assert(counts("rejected_requests") == 1L, s"got $counts")
      assert(counts("records_landed") == 4L, s"got $counts")
      assert(counts("batches_total") == 2L, s"got $counts")
      assert(counts("documents_indexed") == 6L, s"got $counts")
      assert(counts("documents_dead_lettered") == 1L, s"got $counts")
      assert(counts("bulk_item_rejections") == 2L, s"got $counts")

      // default exposition is Prometheus text (version 0.0.4) — the
      // format the reference's k8s ServiceMonitor scrapes (ginprom,
      // main.go:216–217; deploy/manifest.yaml:132–153)
      val (ps, ptext) = call(s"${ep.url}/metrics", "GET")
      assert(ps == 200)
      val promLines = ptext.split("\n")
      val samples = promLines.filterNot(_.startsWith("#"))
        .map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
      // every sample parses as <name> <long>, carries the graft_ prefix
      // and the counter _total suffix, and has a # TYPE line
      assert(samples.nonEmpty)
      samples.keys.foreach { n =>
        assert(n.startsWith("graft_") && n.endsWith("_total"), s"bad metric name $n")
        assert(promLines.contains(s"# TYPE $n counter"), s"missing TYPE for $n")
      }
      assert(samples("graft_requests_total") == 3L, s"got $samples")
      assert(samples("graft_documents_indexed_total") == 6L, s"got $samples")
      assert(samples("graft_bulk_item_rejections_total") == 2L, s"got $samples")
      // the /metrics.json alias answers JSON without the Accept header
      val (js, jbody) = call(s"${ep.url}/metrics.json", "GET")
      assert(js == 200 && jbody.startsWith("{") && jbody.contains("\"requests_total\":3"))

      // none of those numbers came from an extra count() job, and no
      // channel probed its emptiness: per batch, one POST (the collect
      // of the rejected items) and one SUCCESS write; ERROR only for
      // the batch with a dead letter, ERROR_ITEMS only for the batch
      // whose items the stub rejected
      org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
      val seen = actions.toArray(Array.empty[(String, String)]).toSeq
      val funcs = seen.map(_._1)
      assert(!funcs.contains("count") && !funcs.contains("isEmpty"),
        s"no count() or isEmpty probe may run, saw: $seen")
      def batchesIn(channel: String): Seq[String] =
        seen.map(_._2).filter(_.contains(s"/$channel/batch="))
          .map(_.split("/batch=").last)
      assert(funcs.count(_ == "collect") == 2, s"one POST per batch, saw: $seen")
      assert(batchesIn("SUCCESS").sorted == Seq("0", "1"), s"one SUCCESS write per batch, saw: $seen")
      val dirty = batchesIn("ERROR")
      assert(dirty.size == 1, s"one ERROR write, for the batch with a dead letter, saw: $seen")
      assert(batchesIn("ERROR_ITEMS") == dirty,
        s"one ERROR_ITEMS write, for the batch the stub rejected items of, saw: $seen")
      assert(seen.size == 6, s"2 POSTs + 2 archives + 1 ERROR + 1 ERROR_ITEMS, saw: $seen")
      assert(jobs.get == seen.size, s"${jobs.get} Spark jobs for ${seen.size} actions: $seen")
      // the dirty batch is the one holding request r1's documents
      assert(spark.read.parquet(s"$out/SUCCESS/batch=${dirty.head}")
        .select("event_ref").collect().map(_.getString(0)).sorted.toSeq
        == Seq("ma-1", "ma-2", "mb-1", "mb-2"))
      assert(spark.read.parquet(s"$out/ERROR_ITEMS/batch=${dirty.head}").count() == 2)
    } finally {
      ep.stop(); bulk.stop(0)
      spark.listenerManager.unregister(recorder)
      spark.sparkContext.removeSparkListener(jobCounter)
    }
  }

  test("cleanSource=delete disposes of processed drop files once their batch commits") {
    val dropDir = tmp("fh-clean-drop")
    val outDir = tmp("fh-clean-out")
    val ckpt = tmp("fh-clean-ckpt")
    val ep = new FirehoseEndpoint(dropDir)
    def spoolFiles(): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dropDir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    def runOnce(): Unit = {
      val q = Pipeline.run(
        SourceConfig.fileDrop(spark, dropDir, cleanSource = Some("delete")),
        outDir, ckpt, trigger = Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()
    }
    try {
      call(s"${ep.url}/firehose", "POST",
        envelope("r", 1L, b64(cwBody("c1"))).getBytes(UTF_8), json)
      val first = spoolFiles()
      assert(first.size == 1)
      runOnce()
      // the source cleans a batch's files when it COMMITS past them,
      // which happens on a subsequent run; land a second batch and rerun
      call(s"${ep.url}/firehose", "POST",
        envelope("r", 2L, b64(cwBody("c2"))).getBytes(UTF_8), json)
      runOnce()
      val deadline = System.nanoTime() + 15e9.toLong // async cleaner grace
      while (spoolFiles().contains(first.head) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(!spoolFiles().contains(first.head),
        s"batch-0's spool file must be deleted after commit; spool: ${spoolFiles()}")
    } finally ep.stop()
  }

  test("empty channel writes are skipped unless the batch path already exists") {
    import spark.implicits._
    val dir = tmp("fh-emptych")
    val write = Pipeline.channelWriter(dir)
    val empty = Seq.empty[(Long, String)].toDF("event_id", "v")
    write(empty, 0L, false)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "batch=0")),
      "a fresh empty batch must not mint a directory")
    val docs = Seq((1L, "a")).toDF("event_id", "v")
    write(docs, 1L, true)
    write(empty, 1L, false) // stale-replay: the replayed batch is now empty
    assert(spark.read.parquet(s"$dir/batch=1").count() == 0,
      "an empty replay must overwrite the stale non-empty attempt")
  }
}
