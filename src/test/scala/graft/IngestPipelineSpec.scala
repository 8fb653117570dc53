package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.net.InetSocketAddress
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{FirehoseEndpoint, HttpBulk, IngestPipeline, Pipeline, SourceConfig}

/** The in-engine ingest pipeline (reference
  * ingest/one-pipeline-to-rule-them-all.json routing +
  * ingest/axway-ingest.json processors), unit-level and end-to-end
  * through the HTTP service path. */
class IngestPipelineSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private val line =
    "203.0.0.7 - u7 [01/Jan/2024:00:00:00 +0000] \"GET /v1/view/item7.html?limit=7&page=1 HTTP/1.1\" " +
      "200 123 45 \"203.0.0.7,10.0.0.7\" client-7 txn-77 corr-7"

  /** (event_id, logGroup, message) → flattened-docs-shaped frame. */
  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "logGroup", "message")
      .withColumn("batch_ms", org.apache.spark.sql.functions.lit(1L))
      .withColumn("requestId", org.apache.spark.sql.functions.lit("r"))
      .withColumn("logStream", org.apache.spark.sql.functions.lit("s"))
      .withColumn("event_ref", col("event_id").cast("string"))
      .withColumn("event_ms", org.apache.spark.sql.functions.lit(999L))
  }

  /** 203.0.0.0/24 as one dim range (203.0.0.0 = 3405774848). */
  private def testDim: DataFrame = {
    import spark.implicits._
    Seq((3405774848L, 3405775103L, "TESTLAND", 64512L, "AS-ORG-T"))
      .toDF("ip_start", "ip_end", "geo_country", "as_number", "organization_name")
  }

  test("axway doc with a matching access-log line gets the full grok/uri/outcome/date chain") {
    val out = IngestPipeline.enrich(
      docs((1L, "/axway/prod/http-access", s"""{"text":"${line.replace("\"", "\\\"")}"}"""))).head()
    assert(out.getAs[String]("pipeline") == "axway-ingest")
    assert(out.getAs[String]("http_method") == "GET")
    assert(out.getAs[String]("http_version") == "1.1")
    assert(out.getAs[Long]("status_code") == 200L)
    assert(out.getAs[Long]("body_bytes") == 123L)
    assert(out.getAs[Long]("response_ms") == 45L)
    assert(out.getAs[String]("user_name") == "u7")
    assert(out.getAs[String]("url_path") == "/v1/view/item7.html")
    assert(out.getAs[String]("url_query") == "limit=7&page=1")
    assert(out.getAs[String]("url_ext") == "html")
    assert(out.getAs[String]("event_kind") == "event")
    assert(out.getAs[String]("event_category") == "web")
    assert(out.getAs[String]("event_outcome") == "success")
    // P7: dotted quad → source_ip, not source_domain
    assert(out.getAs[String]("source_ip") == "203.0.0.7")
    assert(out.getAs[String]("source_domain") == null)
    // P8+P9: created keeps the pre-parse time, event_ms becomes the
    // parsed HTTPDATE (2024-01-01T00:00:00Z)
    assert(out.getAs[Long]("event_created_ms") == 999L)
    assert(out.getAs[Long]("event_ms") == 1704067200000L)
  }

  test("non-axway doc routes to 'default' and carries no enrichment fields") {
    val out = IngestPipeline.enrich(docs((2L, "/app/http", """{"k":1}"""))).head()
    assert(out.getAs[String]("pipeline") == "default")
    assert(out.getAs[String]("http_method") == null)
    assert(out.getAs[String]("event_kind") == null)
    assert(out.getAs[String]("event_outcome") == null)
    assert(out.getAs[String]("source_ip") == null)
    assert(out.getAs[Long]("event_ms") == 999L) // untouched
    assert(out.getAs[Any]("event_created_ms") == null)
  }

  test("axway doc with a non-matching message still gets the constants (ignore_failure)") {
    val out = IngestPipeline.enrich(
      docs((3L, "/axway/prod/http-access", """{"text":"not an access log"}"""))).head()
    assert(out.getAs[String]("pipeline") == "axway-ingest")
    assert(out.getAs[String]("event_kind") == "event") // P5 sets run regardless
    assert(out.getAs[String]("http_method") == null) // grok skipped
    assert(out.getAs[Long]("event_ms") == 999L) // date parse skipped
  }

  test("tls script reads apache.access.ssl.* off a JSON-object message (P13)") {
    val rows = IngestPipeline.enrich(docs(
      (4L, "/axway/x", """{"apache":{"access":{"ssl":{"protocol":"TLSv1.2","cipher":"ECDHE-X"}}}}"""),
      (5L, "/axway/x", """{"apache":{"access":{"ssl":{"protocol":"TLSv1"}}}}"""),
      (6L, "/axway/x", """{"text":"no ssl here"}""")))
      .orderBy("event_id").collect()
    assert(rows(0).getAs[String]("tls_version") == "1.2")
    assert(rows(0).getAs[String]("tls_version_protocol") == "tls")
    assert(rows(0).getAs[String]("tls_cipher") == "ECDHE-X")
    assert(rows(1).getAs[String]("tls_version") == "1.0") // no dot → ".0"
    assert(rows(2).getAs[String]("tls_version") == null)
  }

  test("geoip enriches via the broadcast bucketed range join; misses stay null") {
    val rows = IngestPipeline.enrich(docs(
      (7L, "/axway/x", s"""{"text":"${line.replace("\"", "\\\"")}"}"""), // 203.0.0.7 → in range
      (8L, "/app/http", "plain")), // no source_ip
      Some(testDim))
      .orderBy("event_id").collect()
    assert(rows(0).getAs[String]("geo_country") == "TESTLAND")
    assert(rows(0).getAs[Long]("as_number") == 64512L)
    assert(rows(0).getAs[String]("organization_name") == "AS-ORG-T")
    assert(rows(1).getAs[String]("geo_country") == null)
  }

  test("out-of-range octets (999.1.1.1) enrich to null geo, not a bogus range match") {
    // passes the \d{1,3} source_ip regex but is not a valid IPv4: ES's
    // convert-to-IP fails it, so ip_long nulls and the LEFT join misses.
    // The dim range below would otherwise cover the bogus long had the
    // first octet wrapped or been taken at face value.
    val bogusLine = line.replace("203.0.0.7", "999.1.1.1")
    import spark.implicits._
    // covers 999*2^24 + 1*2^16 + 257 = 16760504577, where the bogus
    // long would land if taken at face value
    val wide = Seq((16760000000L, 16770000000L, "EVERYWHERE", 1L, "AS-ALL"))
      .toDF("ip_start", "ip_end", "geo_country", "as_number", "organization_name")
    val out = IngestPipeline.enrich(docs(
      (9L, "/axway/x", s"""{"text":"${bogusLine.replace("\"", "\\\"")}"}""")),
      Some(wide)).head()
    assert(out.getAs[String]("source_ip") == "999.1.1.1", "regex still routes it as ip-shaped")
    assert(out.getAs[String]("geo_country") == null, "invalid IPv4 must not geo-match")
  }

  test("e2e: the service path enriches axway docs, passes others through, and stamps ?pipeline= on the bulk URL") {
    import java.net.{HttpURLConnection, InetSocketAddress, URL}
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.{HttpExchange, HttpServer}

    val uris = new ConcurrentLinkedQueue[String]()
    val bodies = new ConcurrentLinkedQueue[String]()
    val bulk = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bulk.createContext("/", (ex: HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      uris.add(ex.getRequestURI.toString)
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    bulk.start()

    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    def cw(group: String, id: String, msg: String): String =
      s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"$group","logStream":"s1",
         |"subscriptionFilters":["f"],"logEvents":[
         |{"id":"$id","timestamp":1000,"message":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(msg)}}]}""".stripMargin
    def post(url: String, body: String): Int = {
      val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
      try {
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(body.getBytes(UTF_8)) finally os.close()
        conn.getResponseCode
      } finally conn.disconnect()
    }

    val dropDir = tmp("ing-drop")
    val ep = new FirehoseEndpoint(dropDir)
    try {
      val env =
        s"""{"requestId":"rq","timestamp":5,"records":[
           |{"data":"${b64(cw("/axway/prod/http-access", "ax-1", line))}"},
           |{"data":"${b64(cw("/app/http", "pl-1", "hello world"))}"}]}""".stripMargin
      assert(post(s"${ep.url}/firehose", env) == 200)

      val q = Pipeline.run(
        SourceConfig.fileDrop(spark, dropDir),
        tmp("ing-out"), tmp("ing-ckpt"),
        bulk = Some(HttpBulk.Target(
          s"http://127.0.0.1:${bulk.getAddress.getPort}/_bulk", "graft-docs",
          pipeline = Some("axway-ingest"))),
        trigger = Trigger.AvailableNow(),
        enrich = IngestPipeline.enrich(_, Some(testDim)))
      try q.processAllAvailable() finally q.stop()

      assert(uris.size > 0 && uris.toArray.forall(_.toString.contains("pipeline=axway-ingest")),
        s"bulk URL must carry the pipeline param; got ${uris.toArray.toSeq}")
      val ndjson = bodies.toArray.mkString("\n")
      val docLines = ndjson.split('\n').filterNot(_.contains("\"index\":"))
      val ax = docLines.find(_.contains("\"ax-1\"")).getOrElse(fail(s"axway doc missing: $ndjson"))
      assert(ax.contains("\"pipeline\":\"axway-ingest\""))
      assert(ax.contains("\"http_method\":\"GET\""))
      assert(ax.contains("\"event_outcome\":\"success\""))
      assert(ax.contains("\"geo_country\":\"TESTLAND\""))
      assert(ax.contains("\"url_path\":\"/v1/view/item7.html\""))
      val pl = docLines.find(_.contains("\"pl-1\"")).getOrElse(fail(s"plain doc missing: $ndjson"))
      assert(pl.contains("\"pipeline\":\"default\""))
      // null enrichment fields dropped on serialize (P14's null-strip)
      assert(!pl.contains("http_method") && !pl.contains("geo_country"))
    } finally { ep.stop(); bulk.stop(0) }
  }

  /** A one-column-per-name dim over (ip_start, ip_end, geo_country). */
  private def dimOf(rows: (Option[Long], Option[Long], String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("ip_start", "ip_end", "geo_country")
      .withColumn("as_number", org.apache.spark.sql.functions.lit(1L))
      .withColumn("organization_name", org.apache.spark.sql.functions.lit("AS-ORG"))
  }

  test("geo dim: overlapping or inverted ranges fail at load naming the pair; null bounds are skipped") {
    // an address in two ranges would index its document twice under one
    // _id; the lookup refuses such a dim instead of picking one
    val axDoc = docs((7L, "/axway/x", s"""{"text":"${line.replace("\"", "\\\"")}"}"""))
    val overlap = intercept[IllegalArgumentException](IngestPipeline.enrich(axDoc, Some(dimOf(
      (Some(3405775000L), Some(3405776000L), "B"),
      (Some(3405774848L), Some(3405775103L), "A")))).collect())
    assert(overlap.getMessage.contains("[3405774848, 3405775103] (A) and [3405775000, 3405776000] (B)"),
      overlap.getMessage)
    val inverted = intercept[IllegalArgumentException](IngestPipeline.enrich(axDoc, Some(dimOf(
      (Some(3405775103L), Some(3405774848L), "C")))).collect())
    assert(inverted.getMessage.contains("[3405775103, 3405774848] (C)"), inverted.getMessage)
    // a null bound matches no address, so it is neither an overlap nor a hit
    val rows = IngestPipeline.enrich(axDoc, Some(dimOf(
      (None, Some(3405775103L), "N"),
      (Some(3405774848L), Some(3405775103L), "T"),
      (Some(3405774000L), None, "M")))).collect()
    assert(rows.map(_.getAs[String]("geo_country")).toSeq == Seq("T"))
  }

  test("enrich is a few projections with no join, and keeps its output schema") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
    def projects(p: LogicalPlan): Int = p.collect { case x: Project => x }.size
    val in = docs((1L, "/axway/prod/http-access", "x"))
    val out = IngestPipeline.enrich(in, Some(testDim))
    val plan = out.queryExecution.analyzed
    assert(plan.collect { case j: Join => j }.isEmpty, s"enrich must not join:\n$plan")
    val added = projects(plan) - projects(in.queryExecution.analyzed)
    assert(added <= 8, s"enrich added $added projections:\n$plan")
    // the archive and the bulk renderer read these columns by name and
    // position; with or without a dim the schema is the same
    def shape(df: DataFrame): String =
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val expected = "event_id:bigint,logGroup:string,message:string,batch_ms:bigint," +
      "requestId:string,logStream:string,event_ref:string,event_ms:bigint," +
      "pipeline:string,message_v:variant,source_address:string,user_name:string," +
      "http_method:string,http_version:string,status_code:bigint,body_bytes:bigint," +
      "response_ms:bigint,url_original:string,url_path:string,url_query:string," +
      "url_ext:string,url_domain:string,event_kind:string,event_category:string," +
      "event_outcome:string,source_ip:string,source_domain:string,event_created_ms:bigint," +
      "tls_cipher:string,tls_version:string,tls_version_protocol:string," +
      "geo_country:string,as_number:bigint,organization_name:string"
    assert(shape(out) == expected)
    assert(shape(IngestPipeline.enrich(in)) == expected)
  }

  test("a live micro-batch with a geo dim runs one Spark job per sink action") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stub = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    stub.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    stub.start()
    // jobs keyed by the micro-batch that ran them
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.merge(b, 1, (a: Integer, c: Integer) => a + c))
    }
    def b64(s: String): String = java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    def cw(id: String): String = b64(
      s"""{"logGroup":"/axway/prod/http-access","logStream":"s1","logEvents":[""" +
        s"""{"id":"$id","timestamp":1000,"message":"${line.replace("\"", "\\\"")}"}]}""")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
    spark.sparkContext.addSparkListener(counter)
    val q = Pipeline.run(in.toDF().toDF("event_id", "batch_ms", "data"),
      tmp("ing-jobs-out"), tmp("ing-jobs-ckpt"),
      bulk = Some(HttpBulk.Target(s"http://127.0.0.1:${stub.getAddress.getPort}/_bulk", "graft-docs")),
      trigger = Trigger.ProcessingTime(0L),
      enrich = IngestPipeline.enricher(Some(testDim)))
    try {
      // batch 0 carries a dead letter: POST, SUCCESS and ERROR; batch 1
      // is clean: POST and SUCCESS. Building the geo lookup is no job
      in.addData((1L, 1L, cw("a")), (2L, 1L, b64("garbage")))
      q.processAllAvailable()
      in.addData((3L, 2L, cw("b")))
      q.processAllAvailable()
    } finally {
      q.stop()
      stub.stop(0)
      org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
      spark.sparkContext.removeSparkListener(counter)
    }
    assert(jobs.asScala.toMap.map { case (b, n) => b -> n.intValue } == Map("0" -> 3, "1" -> 2),
      s"jobs per batch: $jobs")
  }
}
