package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{HttpBulk, Pipeline}

/** The HTTP `_bulk` transport against a loopback stub server: per-
  * partition POST bodies, flushBytes chunking, 429 retry/backoff,
  * per-item failure routing, auth passthrough, and the full streaming
  * topology end-to-end (reference main.go:399–451, 546–584). */
class HttpBulkSpec extends SparkSpec with TimeLimits {

  /** `failAfter` interrupts the test thread, so a wedged batch fails
    * the test instead of stalling the suite. */
  private implicit val signaler: Signaler = ThreadSignaler

  /** Loopback `_bulk` stub: answers 429 to the first `fail429First`
    * requests, then 200 with a per-item response — status 400 +
    * error.reason for ids in `badIds`, 201 otherwise (the ES bulk
    * contract the reference's OnSuccess/OnFailure callbacks consume). */
  private class BulkStub(fail429First: Int = 0, badIds: Set[String] = Set.empty) {
    val hits = new AtomicInteger(0)
    /** Every request body, answered or not — POSTs per body. */
    val attempted = new ConcurrentLinkedQueue[String]()
    val bodies = new ConcurrentLinkedQueue[String]()
    val authHeaders = new ConcurrentLinkedQueue[String]()
    /** (Authorization-or-"", body) per accepted request — pairing is what
      * the auth-isolation contract is about. */
    val pairs = new ConcurrentLinkedQueue[(String, String)]()
    private val remaining429 = new AtomicInteger(fail429First)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      attempted.add(body)
      if (remaining429.getAndDecrement() > 0) {
        ex.sendResponseHeaders(429, -1)
        ex.close()
      } else {
        bodies.add(body)
        Option(ex.getRequestHeaders.getFirst("Authorization")).foreach(authHeaders.add)
        pairs.add((Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""), body))
        val ids = body.split("\n").grouped(2).map(_.head).map { action =>
          """"_id":"([^"]+)"""".r.findFirstMatchIn(action).get.group(1)
        }.toSeq
        val items = ids.map { id =>
          if (badIds(id))
            s"""{"index":{"_id":"$id","status":400,"error":{"type":"mapper_parsing_exception","reason":"failed to parse field"}}}"""
          else s"""{"index":{"_id":"$id","status":201}}"""
        }.mkString(",")
        val resp = s"""{"took":1,"errors":${ids.exists(badIds)},"items":[$items]}""".getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    /** Mapping PUT bodies (index-creation requests), in arrival order
      * relative to `hits` — a mapping must arrive before any bulk.
      * `mappingStatus`/`mappingBody` simulate index-creation outcomes
      * (200 created / 400 already-exists / 400 rejected). */
    val mappings = new ConcurrentLinkedQueue[String]()
    var mappingStatus: Int = 200
    var mappingBody: String = ""
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      if (ex.getRequestMethod == "PUT") mappings.add(body)
      val resp = mappingBody.getBytes("UTF-8")
      ex.sendResponseHeaders(mappingStatus, if (resp.isEmpty) -1 else resp.length)
      if (resp.nonEmpty) { ex.getResponseBody.write(resp) }
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/_bulk"
    def indexUrl(index: String): String =
      s"http://127.0.0.1:${server.getAddress.getPort}/$index"
    def stop(): Unit = server.stop(0)
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def docsFrame(ids: String*) = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) =>
      (i.toLong, 10L, "/app/a", "s1", id, 1000L + i, s"""{"k":$i}""")
    }.toDF("event_id", "batch_ms", "logGroup", "logStream", "event_ref", "event_ms", "message")
  }

  test("each partition POSTs its bulk body; a 429 retries with backoff and succeeds") {
    val stub = new BulkStub(fail429First = 1)
    try {
      val errDir = tmp("bulk-err")
      val rejected = HttpBulk.bulkWriter(stub.url, "graft-docs", errDir, baseBackoffMs = 1)(
        docsFrame("a1", "a2", "a3", "a4").repartition(2), 0L)
      assert(rejected == 0L)
      assert(stub.hits.get == 3, "2 partitions + 1 retried 429")
      assert(stub.bodies.size == 2, "exactly one accepted body per partition")
      val posted = stub.bodies.toArray.mkString("\n")
      Seq("a1", "a2", "a3", "a4").foreach(id =>
        assert(posted.contains(s""""_id":"$id""""), s"$id must be posted"))
      // no item failures: the batch mints no ERROR_ITEMS directory
      assert(!Files.exists(java.nio.file.Paths.get(errDir, "batch=0")),
        "a batch without rejections must not write errDir/batch=0")
    } finally stub.stop()
  }

  test("a stale ERROR_ITEMS batch with rows is overwritten by a replay without rejections") {
    failAfter(Span(60, Seconds)) {
      val errDir = tmp("bulk-stale-items")
      val rejecting = new BulkStub(badIds = Set("bad-1"))
      try {
        assert(HttpBulk.bulkWriter(rejecting.url, "graft-docs", errDir, baseBackoffMs = 1)(
          docsFrame("good-1", "bad-1").coalesce(1), 5L) == 1L)
      } finally rejecting.stop()
      assert(spark.read.parquet(s"$errDir/batch=5").count() == 1)
      // the replay of batch 5 meets an index that accepts every item:
      // the earlier attempt's rejection must not survive it
      val accepting = new BulkStub()
      try {
        assert(HttpBulk.bulkWriter(accepting.url, "graft-docs", errDir, baseBackoffMs = 1)(
          docsFrame("good-1", "bad-1").coalesce(1), 5L) == 0L)
      } finally accepting.stop()
      assert(spark.read.parquet(s"$errDir/batch=5").count() == 0,
        "the replay must overwrite the stale rejections")
    }
  }

  test("mappingJson pins the index schema: dates from _ms longs, text+raw strings, nested objects") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_ms", LongType),
      StructField("message", StringType),
      StructField("score", DoubleType),
      StructField("tags", ArrayType(StringType)),
      StructField("geo", StructType(Seq(
        StructField("country", StringType),
        StructField("asn", LongType))))))
    val json = HttpBulk.mappingJson(schema)
    // valid JSON with the expected shapes
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val props = node.path("mappings").path("properties")
    assert(props.path("event_id").path("type").asText == "long")
    assert(props.path("event_ms").path("type").asText == "date",
      "epoch-ms longs must index as dates, not dynamic-mapped longs")
    assert(props.path("message").path("type").asText == "text")
    assert(props.path("message").path("fields").path("raw").path("type").asText == "keyword")
    assert(props.path("score").path("type").asText == "double")
    assert(props.path("tags").path("type").asText == "text",
      "arrays map as their element — ES fields are multi-valued natively")
    assert(props.path("geo").path("properties").path("asn").path("type").asText == "long")
  }

  test("Replay re-indexes an archived SUCCESS/ channel with event_ref ids") {
    val stub = new BulkStub()
    try {
      // a two-batch archive written the way channelWriter lands it
      val archiveDir = tmp("bulk-archive")
      docsFrame("r1", "r2").write.parquet(s"$archiveDir/batch=0")
      docsFrame("r3").write.parquet(s"$archiveDir/batch=1")
      val errDir = tmp("bulk-replay-err")
      val n = graft.streaming.Replay.replay(
        spark, archiveDir, stub.url, "graft-docs", errDir, baseBackoffMs = 1,
        mappingUrl = Some(stub.indexUrl("graft-docs")))
      assert(n == 3L, s"replay must count the re-indexed documents, got $n")
      // the pinned mapping arrived (index bootstrap before the first
      // bulk): archive epoch-ms columns as dates, message as text
      val mapping = stub.mappings.toArray.mkString
      assert(mapping.contains(""""event_ms":{"type":"date""""),
        s"mapping must pin epoch-ms longs as dates: $mapping")
      assert(mapping.contains(""""message":{"type":"text""""),
        s"mapping must pin message as text: $mapping")
      val posted = stub.bodies.toArray.mkString("\n")
      Seq("r1", "r2", "r3").foreach(id =>
        assert(posted.contains(s""""_id":"$id""""), s"$id must be re-indexed"))
      // the archive's batch partition column is lineage, not payload
      assert(!posted.contains(""""batch""""),
        "the batch partition column must not leak into _source")
    } finally stub.stop()
  }

  test("Replay mapping PUT: already-exists is tolerated, a rejected mapping aborts") {
    val stub = new BulkStub()
    try {
      val archiveDir = tmp("bulk-archive2")
      docsFrame("x1").write.parquet(s"$archiveDir/batch=0")
      // replaying into a live index: 400 resource_already_exists passes
      stub.mappingStatus = 400
      stub.mappingBody = """{"error":{"type":"resource_already_exists_exception"}}"""
      val n = graft.streaming.Replay.replay(
        spark, archiveDir, stub.url, "graft-docs", tmp("bulk-re1"), baseBackoffMs = 1,
        mappingUrl = Some(stub.indexUrl("graft-docs")))
      assert(n == 1L)
      // a genuinely rejected mapping must abort BEFORE any bulk posts —
      // silently proceeding would rebuild the index on dynamic mapping
      stub.mappingBody = """{"error":{"type":"mapper_parsing_exception"}}"""
      val before = stub.hits.get
      val e = intercept[java.io.IOException] {
        graft.streaming.Replay.replay(
          spark, archiveDir, stub.url, "graft-docs", tmp("bulk-re2"), baseBackoffMs = 1,
          mappingUrl = Some(stub.indexUrl("graft-docs")))
      }
      assert(e.getMessage.contains("mapping PUT"))
      assert(stub.hits.get == before, "no bulk may post after a rejected mapping")
    } finally stub.stop()
  }

  test("per-item bulk rejections land under errDir/batch=<id>") {
    import spark.implicits._
    val stub = new BulkStub(badIds = Set("bad-1"))
    try {
      val errDir = tmp("bulk-itemerr")
      assert(HttpBulk.bulkWriter(stub.url, "graft-docs", errDir, baseBackoffMs = 1)(
        docsFrame("good-1", "bad-1", "good-2").coalesce(1), 3L) == 1L)
      val failed = spark.read.parquet(s"$errDir/batch=3")
      val rows = failed.select("item_id", "status", "err")
        .as[(String, Int, String)].collect()
      assert(rows.toSeq == Seq(("bad-1", 400, "failed to parse field")))
    } finally stub.stop()
  }

  test("flushBytes chunks one partition into multiple POST bodies") {
    val stub = new BulkStub()
    try {
      // tiny flushBytes: every action/source pair overflows the chunk
      HttpBulk.bulkWriter(stub.url, "graft-docs", tmp("bulk-chunk"), flushBytes = 10)(
        docsFrame("c1", "c2", "c3").coalesce(1), 0L)
      assert(stub.bodies.size == 3, s"3 chunked POSTs, got ${stub.bodies.size}")
    } finally stub.stop()
  }

  test("auth passthrough: the Authorization header rides every request") {
    val stub = new BulkStub()
    try {
      HttpBulk.bulkWriter(stub.url, "graft-docs", tmp("bulk-auth"),
        auth = Some("Basic Zmg6c2VjcmV0"))(docsFrame("a1").coalesce(1), 0L)
      assert(stub.authHeaders.toArray.toSeq == Seq("Basic Zmg6c2VjcmV0"))
    } finally stub.stop()
  }

  test("auth isolation: interleaved access keys each POST under their own Basic auth") {
    import spark.implicits._
    val stub = new BulkStub()
    try {
      // one partition interleaving two tenants' keys plus a keyless record
      val docs = Seq(
        (1L, 10L, "keyA", "/app/a", "s1", "a1", 1000L, """{"k":1}"""),
        (2L, 10L, "keyB", "/app/a", "s1", "b1", 1001L, """{"k":2}"""),
        (3L, 10L, "keyA", "/app/a", "s1", "a2", 1002L, """{"k":3}"""),
        (4L, 10L, "", "/app/a", "s1", "n1", 1003L, """{"k":4}"""))
        .toDF("event_id", "batch_ms", "access_key", "logGroup", "logStream",
          "event_ref", "event_ms", "message")
      HttpBulk.bulkWriter(stub.url, "graft-docs", tmp("bulk-keyed"),
        auth = Some("Basic ZmFsbGJhY2s="))(docs.coalesce(1), 0L)
      val byAuth = stub.pairs.toArray(Array.empty[(String, String)])
        .groupBy(_._1).view.mapValues(_.map(_._2).mkString("\n")).toMap
      assert(byAuth.keySet == Set("Basic keyA", "Basic keyB", "Basic ZmFsbGJhY2s="),
        s"3 per-key POSTs expected, got ${byAuth.keySet}")
      assert(byAuth("Basic keyA").contains(""""_id":"a1"""")
        && byAuth("Basic keyA").contains(""""_id":"a2"""")
        && !byAuth("Basic keyA").contains(""""_id":"b1""""))
      assert(byAuth("Basic keyB").contains(""""_id":"b1"""")
        && !byAuth("Basic keyB").contains("\"_id\":\"a"))
      assert(byAuth("Basic ZmFsbGJhY2s=").contains(""""_id":"n1""""))
      // the credential never leaks into the indexed document source
      stub.bodies.forEach(b => assert(!b.contains("access_key"),
        "access_key must not appear in any bulk body"))
    } finally stub.stop()
  }

  test("runHttp end-to-end: documents POST to the endpoint, garbage dead-letters to ERROR/") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"h1","timestamp":1000,"message":"m1"},
        |{"id":"h2","timestamp":2000,"message":"m2"}]}""".stripMargin
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

    val stub = new BulkStub()
    try {
      val in = MemoryStream[(Long, Long, String)]
      val outDir = tmp("http-sink")
      in.addData((1L, 10L, b64(goodBody)), (2L, 20L, b64("not an envelope")))
      val q = Pipeline.run(
        in.toDF().toDF("event_id", "batch_ms", "data"), outDir, tmp("http-ckpt"),
        bulk = Some(HttpBulk.Target(stub.url, "graft-docs")),
        trigger = Trigger.AvailableNow(),
        // the alerting wire must work on the HTTP topology too: m1
        // matches a registered single-term query, m2 does not
        alertQueries = Some(Seq(5L -> "m1")))
      try {
        q.processAllAvailable()
        val posted = stub.bodies.toArray.mkString("\n")
        assert(posted.contains(""""_id":"h1"""") && posted.contains(""""_id":"h2""""))
        val alerts = spark.read.parquet(s"$outDir/ALERTS")
          .select("doc_id", "query_id").as[(String, Long)].collect().toSeq
        assert(alerts == Seq(("1/h1", 5L)), s"wrong alerts on the HTTP topology: $alerts")
        val err = spark.read.parquet(s"$outDir/ERROR")
        assert(err.select("event_id").as[Long].collect().toSeq == Seq(2L))
        // AllData backup (cloudformation-template.yaml:162–171): every
        // DELIVERED document also has an archive copy under SUCCESS/ —
        // the replay store if the index is lost — same rows the stub
        // endpoint received, minus the transport credential
        val backup = spark.read.parquet(s"$outDir/SUCCESS")
        assert(backup.select("event_ref").as[String].collect().sorted.toSeq
          == Seq("h1", "h2"))
        assert(!backup.columns.contains("access_key"),
          "the sink credential must not land in the archive")
      } finally q.stop()
    } finally stub.stop()
  }

  test("a sink that always answers 429 fails the batch after maxAttempts POSTs per body") {
    failAfter(Span(60, Seconds)) {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val goodBody =
        """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
          |"subscriptionFilters":["f"],"logEvents":[{"id":"t1","timestamp":1000,"message":"m"}]}""".stripMargin
      val b64 = java.util.Base64.getEncoder.encodeToString(goodBody.getBytes("UTF-8"))
      val stub = new BulkStub(fail429First = Int.MaxValue)
      try {
        val in = MemoryStream[(Long, Long, String)]
        in.addData((1L, 10L, b64))
        val out = tmp("always429-out")
        val q = Pipeline.run(
          in.toDF().toDF("event_id", "batch_ms", "data"),
          out, tmp("always429-ckpt"),
          bulk = Some(HttpBulk.Target(stub.url, "graft-docs", backoffMs = 1)),
          trigger = Trigger.AvailableNow())
        val failure = try intercept[Exception](q.processAllAvailable()) finally q.stop()
        // the task-side POST loop is the only retry layer: its transient
        // error surfaces inside a SparkException, never bare
        val chain = Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(_.isInstanceOf[org.apache.spark.SparkException]),
          s"no SparkException in the cause chain: $chain")
        assert(chain.contains(HttpBulk.TransientSinkError(429)),
          s"no TransientSinkError(429) in the cause chain: $chain")
        val perBody = stub.attempted.toArray.toSeq.groupBy(identity).values.map(_.size).toSeq
        assert(perBody.nonEmpty && perBody.forall(_ == 5),
          s"each body must see exactly maxAttempts = 5 POSTs, not 25: $perBody")
        assert(stub.bodies.isEmpty, "nothing may be accepted")
        // the archive runs in the POST's finally: the failed batch still
        // leaves every document in its replay store
        val archived = spark.read.parquet(s"$out/SUCCESS/batch=0")
          .select("event_ref").as[String].collect().toSeq
        assert(archived == Seq("t1"), s"SUCCESS/batch=0 holds $archived")
      } finally stub.stop()
    }
  }

  test("without a target the archive write fills the channel counts: exact totals, ERROR only where dead letters are") {
    failAfter(Span(60, Seconds)) {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      def b64(s: String): String =
        java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
      def body(id: String, events: Int): String =
        s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
           |"subscriptionFilters":["f"],"logEvents":[${(1 to events).map(i =>
          s"""{"id":"$id-$i","timestamp":$i,"message":"m"}""").mkString(",")}]}""".stripMargin
      val in = MemoryStream[(Long, Long, String)]
      val out = tmp("counts-out")
      val m = new graft.streaming.ServiceMetrics
      val q = Pipeline.run(
        in.toDF().toDF("event_id", "batch_ms", "data"), out, tmp("counts-ckpt"),
        trigger = Trigger.ProcessingTime(0L), metrics = Some(m))
      try {
        // batch 0: a 2-event record and a garbage record; batch 1: a
        // 3-event record only
        in.addData((1L, 10L, b64(body("a", 2))), (2L, 10L, b64("garbage")))
        q.processAllAvailable()
        in.addData((3L, 20L, b64(body("b", 3))))
        q.processAllAvailable()
      } finally q.stop()
      assert((m.batchesTotal.get, m.documentsIndexed.get, m.documentsDeadLettered.get) == ((2L, 5L, 1L)),
        s"counts: ${m.snapshot}")
      assert(spark.read.parquet(s"$out/SUCCESS").count() == 5)
      val errBatches = spark.read.parquet(s"$out/ERROR").select("batch").as[Int].collect().toSeq
      assert(errBatches == Seq(0), s"ERROR rows by batch: $errBatches")
      assert(!Files.exists(java.nio.file.Paths.get(out, "ERROR", "batch=1")),
        "a batch without dead letters must not write ERROR/batch=<id>")
    }
  }
}
