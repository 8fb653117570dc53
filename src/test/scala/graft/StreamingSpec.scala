package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.StreamOps
import graft.streaming.{FirehoseEndpoint, HttpBulk, Pipeline, Serve, ServiceMetrics, SourceConfig}

/** Structured Streaming semantics through MemoryStream: the stateful
  * StreamOps transforms (sessionize, throttle, attribution join: state
  * expiry and late-data drop), the SUCCESS/ERROR dead-letter channel
  * split, the alerting stage, and the retry/backoff sink envelope
  * (reference main.go:399–451; cloudformation-template.yaml:160–171). */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val H = 3600L * 1000 // one hour in ms

  test("stream-stream attribution join: in-window views match, out-of-window and late ones don't") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)]    // user_id, view_id, view_ms
    val purchases = MemoryStream[(Long, Long, Long)] // user_id, purchase_id, purchase_ms
    val joined = StreamOps.attributeJoin(
      views.toDF().toDF("user_id", "view_id", "view_ms"),
      purchases.toDF().toDF("user_id", "purchase_id", "purchase_ms"),
      windowMinutes = 30)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_join_test").start()
    // a realistic epoch base: an event AT exactly the initial watermark
    // value (epoch 0) is dropped as late on the very first batch — real
    // event times are always far past it
    val B = 1600000000000L
    try {
      def pairs() = spark.table("attr_join_test")
        .as[(Long, Long)].collect().toSet
      // user 1 views at t=0; purchases at t=10min (in window), t=40min
      // (past the 30-min window); user 2 purchases with no view
      views.addData((1L, 100L, B))
      purchases.addData((1L, 200L, B + 10 * 60000L), (1L, 201L, B + 40 * 60000L),
        (2L, 202L, B + 5 * 60000L))
      q.processAllAvailable()
      assert(pairs() == Set((100L, 200L)),
        s"only the in-window purchase attributes, got ${pairs()}")
      // advance both watermarks hours ahead, then deliver a view far
      // behind them: the runtime must drop it, not match purchase 201
      views.addData((9L, 900L, B + 5 * H))
      purchases.addData((9L, 901L, B + 5 * H + 60000L))
      q.processAllAvailable()
      views.addData((1L, 101L, B + 39 * 60000L)) // would match 201 if admitted
      q.processAllAvailable()
      assert(pairs() == Set((100L, 200L), (900L, 901L)),
        "a view behind the watermark must be dropped, not joined")
    } finally q.stop()
  }

  test("left-outer attribution: the unconverted view emits null-padded only after watermark expiry") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    val joined = StreamOps.attributeJoin(
      views.toDF().toDF("user_id", "view_id", "view_ms"),
      purchases.toDF().toDF("user_id", "purchase_id", "purchase_ms"),
      windowMinutes = 30, joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_outer_test").start()
    val B = 1600000000000L
    try {
      def rows() = spark.table("attr_outer_test")
        .as[(Long, Option[Long])].collect().toSet
      // user 1 converts; user 2's view has no purchase
      views.addData((1L, 100L, B), (2L, 110L, B))
      purchases.addData((1L, 200L, B + 10 * 60000L))
      q.processAllAvailable()
      assert(rows() == Set((100L, Some(200L))),
        s"the unconverted view must be HELD while a match can still arrive, got ${rows()}")
      // advance both watermarks far past view_time + window + delay:
      // the runtime must now prove no match can arrive and emit the null row
      views.addData((9L, 900L, B + 5 * H))
      purchases.addData((9L, 901L, B + 5 * H + 60000L))
      q.processAllAvailable()
      views.addData((8L, 800L, B + 6 * H))
      purchases.addData((8L, 801L, B + 6 * H + 60000L))
      q.processAllAvailable()
      assert(rows().contains((110L, None)),
        s"the unconverted view must emit exactly once with a null purchase, got ${rows()}")
    } finally q.stop()
  }

  test("percolate: registered queries match arriving documents per micro-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.ops.TextOps.percolate(batch.toDF())
          .collect().foreach(r => sink.add((r.getLong(0), r.getLong(1))))
      }
      .start()
    try {
      // batch 1: doc 10 matches q1 (spark+join) and q2 (slow); doc 11
      // has only one of q1's two terms — conjunction must not fire
      in.addData((10L, "a slow spark join pipeline"), (11L, "spark only here"))
      q.processAllAvailable()
      assert(sink.toArray.toSet == Set((10L, 1L), (10L, 2L)),
        s"batch-1 matches wrong: ${sink.toArray.mkString(",")}")
      // batch 2: queries keep matching later batches independently
      in.addData((12L, "sort by window"), (13L, "nothing relevant"))
      q.processAllAvailable()
      assert(sink.toArray.toSet == Set((10L, 1L), (10L, 2L), (12L, 3L)),
        s"batch-2 matches wrong: ${sink.toArray.mkString(",")}")
    } finally q.stop()
  }

  test("sessionize: gap closes a session inline; quiescence closes by timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val gapMs = 30 * 60000L
    val sessions = StreamOps.sessionize(
      in.toDF().toDF("logStream", "event_ms")
        .withColumn("event_id", lit(0L)).withColumn("batch_ms", lit(0L))
        .withColumn("logGroup", lit("g")).withColumn("event_ref", lit("r"))
        .withColumn("message", lit("m")),
      gapMs)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("session_test").start()
    try {
      // stream A: two events 1 min apart (one session). Times start at
      // t=1h: the initial watermark is 0 and a t=0 event would be
      // dropped as late before reaching the state function.
      in.addData(("A", H), ("A", H + 60000L))
      q.processAllAvailable()
      // stream A again at t=3h — beyond the gap: closes session 1 "gap"
      in.addData(("A", 3 * H))
      q.processAllAvailable()
      val afterGap = spark.table("session_test")
        .as[StreamOps.SessionClosed].collect()
      assert(afterGap.toSeq == Seq(StreamOps.SessionClosed("A", H, H + 60000L, 2, "gap")))
      // stream B at t=5h advances the watermark (5h − 10min) far past
      // A's timeout (3h + 30min) → A's open session closes by timeout
      in.addData(("B", 5 * H))
      q.processAllAvailable()
      val afterTimeout = spark.table("session_test")
        .as[StreamOps.SessionClosed].collect().sortBy(_.startMs)
      assert(afterTimeout.toSeq == Seq(
        StreamOps.SessionClosed("A", H, H + 60000L, 2, "gap"),
        StreamOps.SessionClosed("A", 3 * H, 3 * H, 1, "timeout")))
    } finally q.stop()
  }

  test("throttle: per-window admission counters persist across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)] // (stream, event_ms, seq)
    val decisions = StreamOps.throttle(
      in.toDF().toDF("logStream", "event_ms", "seq"),
      windowMs = H, maxPerWindow = 2L)
    val q = decisions.writeStream.outputMode("append")
      .format("memory").queryName("throttle_test").start()
    try {
      // batch 1: two events for A inside hour window [H, 2H) — both admitted
      in.addData(("A", H + 1000L, 1L), ("A", H + 2000L, 2L))
      q.processAllAvailable()
      // batch 2: a third A event in the SAME window — must be denied
      // (the counter survived the batch boundary), while a B event and
      // an A event in the NEXT window are admitted fresh
      in.addData(("A", H + 3000L, 3L), ("B", H + 1000L, 4L), ("A", 2 * H + 500L, 5L))
      q.processAllAvailable()
      val got = spark.table("throttle_test")
        .as[StreamOps.ThrottleOut].collect().sortBy(_.seq)
      assert(got.toSeq == Seq(
        StreamOps.ThrottleOut("A", H, 1L, H + 1000L, admitted = true),
        StreamOps.ThrottleOut("A", H, 2L, H + 2000L, admitted = true),
        StreamOps.ThrottleOut("A", H, 3L, H + 3000L, admitted = false),
        StreamOps.ThrottleOut("B", H, 4L, H + 1000L, admitted = true),
        StreamOps.ThrottleOut("A", 2 * H, 5L, 2 * H + 500L, admitted = true)),
        s"got: ${got.mkString(",")}")
    } finally q.stop()
  }

  test("throttle: an idle key's state is dropped once the watermark passes its windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val decisions = StreamOps.throttle(
      in.toDF().toDF("logStream", "event_ms", "seq"),
      windowMs = H, maxPerWindow = 2L)
    val q = decisions.writeStream.outputMode("append")
      .format("memory").queryName("throttle_timeout_test").start()
    try {
      // batch 1: A and B both have state
      in.addData(("A", H + 1000L, 1L), ("B", H + 2000L, 2L))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 2L)
      // batch 2: only B advances, far enough that the watermark
      // (max event − 10 min) passes A's timeout (its last live window
      // start + 2·window) — batch 3 then fires the EventTimeTimeout
      // and must REMOVE A's entry, not keep an empty one forever
      in.addData(("B", 20 * H, 3L))
      q.processAllAvailable()
      in.addData(("B", 20 * H + 1000L, 4L))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L,
        "idle key A must have its state entry dropped by the event-time timeout")
      // the surviving key still throttles correctly
      in.addData(("B", 20 * H + 2000L, 5L), ("B", 20 * H + 3000L, 6L))
      q.processAllAvailable()
      val admitted = spark.table("throttle_timeout_test")
        .as[StreamOps.ThrottleOut].collect().filter(o => o.stream == "B" && o.window_ms == 20 * H)
      assert(admitted.count(_.admitted) == 2 && admitted.count(!_.admitted) == 2,
        s"got: ${admitted.mkString(",")}")
    } finally q.stop()
  }

  test("sessionizer runs under the RocksDB state store provider (100 TB/day state posture)") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      val in = MemoryStream[(String, Long)]
      val gapMs = 30 * 60000L
      val sessions = StreamOps.sessionize(
        in.toDF().toDF("logStream", "event_ms")
          .withColumn("event_id", lit(0L)).withColumn("batch_ms", lit(0L))
          .withColumn("logGroup", lit("g")).withColumn("event_ref", lit("r"))
          .withColumn("message", lit("m")),
        gapMs)
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("rocksdb_session_test").start()
      try {
        in.addData(("A", H), ("A", H + 60000L))
        q.processAllAvailable()
        in.addData(("A", 3 * H)) // beyond the gap → closes session 1
        q.processAllAvailable()
        val closed = spark.table("rocksdb_session_test")
          .as[StreamOps.SessionClosed].collect()
        assert(closed.toSeq == Seq(StreamOps.SessionClosed("A", H, H + 60000L, 2, "gap")),
          "sessionize semantics must be provider-independent")
        // the provider actually engaged: RocksDB custom metrics on the
        // state operator, not just a conf set
        val rocksMetrics = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.asScala)
          .filter(_.toLowerCase.contains("rocksdb"))
        assert(rocksMetrics.nonEmpty,
          s"no rocksdb state-store metrics; providers in effect: ${spark.conf.get(providerKey)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("toBulkNdjson renders the _bulk action/source pair per document") {
    import spark.implicits._
    val docs = Seq((1L, 10L, "/app/a", "s1", "e1-0", 1000L, """{"k":1}"""))
      .toDF("event_id", "batch_ms", "logGroup", "logStream", "event_ref", "event_ms", "message")
    val lines = HttpBulk.toBulkNdjsonKeyed(docs, "graft-docs").select("lines").as[String].collect()
    assert(lines.length == 1)
    val Array(action, source) = lines.head.split("\n")
    assert(action == """{"index":{"_index":"graft-docs","_id":"e1-0"}}""")
    assert(source.contains(""""event_ref":"e1-0"""") && source.contains(""""logGroup":"/app/a""""))
  }

  test("retry envelope: transient 429s back off exponentially then succeed") {
    var attempts = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val out = HttpBulk.withRetry(maxAttempts = 5, baseBackoffMs = 50, sleep = sleeps += _) {
      attempts += 1
      if (attempts < 3) throw HttpBulk.TransientSinkError(429)
      "flushed"
    }
    assert(out == "flushed" && attempts == 3)
    assert(sleeps.toSeq == Seq(50L, 100L))
  }

  test("retry envelope: non-retryable status propagates immediately") {
    var attempts = 0
    val ex = intercept[HttpBulk.TransientSinkError] {
      HttpBulk.withRetry(maxAttempts = 5, baseBackoffMs = 1, sleep = _ => ()) {
        attempts += 1
        throw HttpBulk.TransientSinkError(400)
      }
    }
    assert(ex.status == 400 && attempts == 1)
  }

  test("retry envelope: attempts exhaust and the batch fails (Firehose replays it)") {
    var attempts = 0
    val ex = intercept[HttpBulk.TransientSinkError] {
      HttpBulk.withRetry(maxAttempts = 3, baseBackoffMs = 1, sleep = _ => ()) {
        attempts += 1
        throw HttpBulk.TransientSinkError(503)
      }
    }
    assert(ex.status == 503 && attempts == 3)
  }

  test("end-to-end stream: parseable rows land in SUCCESS/, garbage in ERROR/") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"e1","timestamp":1000,"message":"{\"k\":1}"},
        |{"id":"e2","timestamp":2000,"message":"plain"}]}""".stripMargin
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-sink")
    // enqueue BEFORE start: Trigger.AvailableNow snapshots the offsets
    // available when the query starts — data added after is not part of
    // this run (it passed by timing luck otherwise)
    in.addData((1L, 10L, b64(goodBody)), (2L, 20L, b64("not an envelope")))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-ckpt"), trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      assert(ok.count() == 2) // two logEvents exploded from the good row
      assert(ok.select("logGroup").distinct().as[String].collect().toSeq == Seq("/app/a"))
      val err = spark.read.parquet(s"$outDir/ERROR")
      assert(err.count() == 1)
      assert(err.select("event_id").as[Long].collect().toSeq == Seq(2L))
    } finally q.stop()
  }

  test("alerting stage: matches land in ALERTS/, keyed by event_id/event_ref") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Registered rules are FULL query_string expressions (the Watcher /
    // Kibana alert-rule shape): r1 is a PHRASE, r2 carries a NEGATION,
    // r3 a PREFIX wildcard. e1 matches r1's exact phrase and r2
    // (slow, no 'alone'); e2 has the phrase words out of order and
    // trips r2's NOT — must not fire anything; e3 matches r3 via both
    // the prefix and the term; e4 is a STRUCTURED JSON message without
    // .text — its words must still tokenize (JSON punctuation
    // space-normalized), so r2 fires
    val body =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"e1","timestamp":1000,"message":"a slow spark join pipeline"},
        |{"id":"e2","timestamp":2000,"message":"join the slow spark talk alone"},
        |{"id":"e3","timestamp":3000,"message":"sort by window"},
        |{"id":"e4","timestamp":4000,"message":"{\"msg\":\"a slow response\"}"}]}""".stripMargin
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-alert-sink")
    in.addData((1L, 10L, b64(body)))
    val m = new ServiceMetrics
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-alert-ckpt"), trigger = Trigger.AvailableNow(),
      metrics = Some(m),
      alertQueries = Some(Seq(
        1L -> "\"spark join\"",
        2L -> "slow AND NOT alone",
        3L -> "win* OR sort")))
    try {
      q.processAllAvailable()
      val alerts = spark.read.parquet(s"$outDir/ALERTS")
        .select(col("doc_id"), col("query_id")).as[(String, Long)].collect().toSet
      assert(alerts == Set(("1/e1", 1L), ("1/e1", 2L), ("1/e3", 3L), ("1/e4", 2L)),
        s"wrong alert matches: $alerts")
      // the delivery channel is untouched by the alert side-output
      assert(spark.read.parquet(s"$outDir/SUCCESS").count() == 4)
      // the match count rides the ALERTS write into /metrics
      assert(m.snapshot("alerts_matched") == 4L,
        s"alerts_matched wrong: ${m.snapshot}")
    } finally q.stop()
  }

  test("end-to-end stream with the real gzip wire encoding (base64(gzip(body)))") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/gz","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"g1","timestamp":1000,"message":"m1"},
        |{"id":"g2","timestamp":2000,"message":"m2"}]}""".stripMargin
    def wire(s: String): String = java.util.Base64.getEncoder
      .encodeToString(graft.expr.GzipCodec.gzip(s.getBytes("UTF-8")))

    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-gz-sink")
    // enqueue before start — see the plain e2e test. Second record is
    // valid gzip of a NON-envelope; third is base64 of bytes that are
    // not gzip at all — the poison record that must dead-letter via
    // try_gunzip, not wedge the stream on batch replay.
    in.addData(
      (1L, 10L, wire(goodBody)),
      (2L, 20L, wire("still not an envelope")),
      (3L, 30L, java.util.Base64.getEncoder.encodeToString("raw poison".getBytes("UTF-8"))))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-gz-ckpt"), trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      assert(ok.count() == 2)
      assert(ok.select("event_ref").as[String].collect().sorted.toSeq == Seq("g1", "g2"))
      val err = spark.read.parquet(s"$outDir/ERROR")
      assert(err.select("event_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    } finally q.stop()
  }

  test("gzip zero-bomb record dead-letters via the inflation cap, not an executor OOM") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/gz","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"zb1","timestamp":1000,"message":"m1"}]}""".stripMargin
    def wire(s: String): String = java.util.Base64.getEncoder
      .encodeToString(graft.expr.GzipCodec.gzip(s.getBytes("UTF-8")))
    // valid gzip on the wire (passes the 1F8B sniff), ~80 KB compressed,
    // ~80 MiB inflated — try_gunzip nulls it at the 64 MiB cap
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    val zeros = new Array[Byte](8192)
    (1 to 10240).foreach(_ => gz.write(zeros))
    gz.close()
    val bomb = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)

    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-bomb-sink")
    in.addData((1L, 10L, wire(goodBody)), (2L, 20L, bomb))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-bomb-ckpt"), trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      assert(ok.select("event_ref").as[String].collect().toSeq == Seq("zb1"))
      val err = spark.read.parquet(s"$outDir/ERROR")
      assert(err.select("event_id").as[Long].collect().toSeq == Seq(2L))
    } finally q.stop()
  }

  test("mixed plain and gzip records in ONE batch all decode via per-record sniffing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the reference's encoding-mismatch heuristic (main.go:109–113):
    // headers lie, the body's gzip magic decides — per record here
    def body(id: String) =
      s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/mix","logStream":"s1",
         |"subscriptionFilters":["f"],"logEvents":[{"id":"$id","timestamp":1000,"message":"m"}]}""".stripMargin
    val enc = java.util.Base64.getEncoder
    val plain = enc.encodeToString(body("p1").getBytes("UTF-8"))
    val gzipped = enc.encodeToString(graft.expr.GzipCodec.gzip(body("z1").getBytes("UTF-8")))

    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-mix-sink")
    in.addData((1L, 10L, plain), (2L, 20L, gzipped))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-mix-ckpt"), trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      assert(ok.select("event_ref").as[String].collect().sorted.toSeq == Seq("p1", "z1"))
      // nothing dead-lettered — and an all-empty ERROR channel mints no
      // directory at all (channelWriter skips fresh empty batches)
      assert(!Files.exists(java.nio.file.Paths.get(outDir, "ERROR")))
    } finally q.stop()
  }

  test("file-drop source: a landed batch file flows through to SUCCESS/") {
    import spark.implicits._
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/drop","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[{"id":"f1","timestamp":1000,"message":"m"}]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(goodBody.getBytes("UTF-8"))
    val dropDir = tmp("graft-drop")
    Files.writeString(java.nio.file.Paths.get(dropDir, "batch-0001.json"),
      s"""{"event_id":1,"batch_ms":10,"data":"$b64"}""")
    val outDir = tmp("graft-drop-sink")
    val q = Pipeline.run(SourceConfig.fileDrop(spark, dropDir),
      outDir, tmp("graft-drop-ckpt"), trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val refs = spark.read.parquet(s"$outDir/SUCCESS")
        .select("event_ref").as[String].collect()
      assert(refs.toSeq == Seq("f1"))
    } finally q.stop()
  }

  test("pluggable source seam: a SourceConfig-opened source drives the same e2e") {
    import spark.implicits._
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/seam","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[{"id":"sc1","timestamp":1000,"message":"m"}]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(goodBody.getBytes("UTF-8"))
    val dropDir = tmp("graft-seam")
    Files.writeString(java.nio.file.Paths.get(dropDir, "batch-0001.json"),
      s"""{"event_id":1,"batch_ms":10,"data":"$b64","request_id":"rq-s","access_key":""}""")
    // a Kinesis connector would differ ONLY in this frame: its
    // readStream selected onto the same envelope schema
    val seam = SourceConfig.fileDrop(spark, dropDir)
    assert(seam.schema == SourceConfig.schema)
    val outDir = tmp("graft-seam-sink")
    val q = Pipeline.run(seam, outDir, tmp("graft-seam-ckpt"),
      trigger = Trigger.AvailableNow())
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      assert(ok.select("event_ref").as[String].collect().toSeq == Seq("sc1"))
      assert(ok.select("requestId").as[String].collect().toSeq == Seq("rq-s"))
    } finally q.stop()
  }

  test("in-stream pii scrub: redacted docs and counts reach the sink/archive, raw pii does not") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.IngestPipeline
    val body =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/pii","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"p1","timestamp":1000,"message":"contact bob@example.com or 10.1.2.3 today"},
        |{"id":"p2","timestamp":2000,"message":"no sensitive content here"}]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))
    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-pii-sink")
    in.addData((1L, 10L, b64))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-pii-ckpt"), trigger = Trigger.AvailableNow(),
      enrich = IngestPipeline.scrubPii)
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
        .select(col("event_ref"), col("message"), col("n_pii"))
        .as[(String, String, Long)].collect().sortBy(_._1)
      assert(ok.map(_._1).toSeq == Seq("p1", "p2"))
      val (_, m1, n1) = ok(0)
      assert(m1.contains("<EMAIL>") && m1.contains("<IP>") && n1 == 2,
        s"p1 must land redacted with both redactions counted: $m1 ($n1)")
      assert(!m1.contains("bob@example.com") && !m1.contains("10.1.2.3"),
        s"raw PII reached the archive: $m1")
      assert(ok(1)._3 == 0L, "a clean document must count zero redactions")
    } finally q.stop()
  }

  test("variant message flows through Pipeline.run: bound once, typed in the store, off the wire") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.IngestPipeline
    // a JSON-object message (jsonOrText keeps it verbatim): the enrich
    // stage must extract tls/domain through the ONE bound variant, the
    // SUCCESS store must carry the VariantType column, and the bulk
    // serializer must keep it off the wire (the raw string is the field)
    val body =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/aws/axway","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"v1","timestamp":1000,"message":"{\"apache\":{\"access\":{\"ssl\":{\"protocol\":\"TLSv1.2\",\"cipher\":\"C-X\"}}},\"destination\":{\"domain\":\"d.example.com\"}}"}]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))
    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-variant-sink")
    in.addData((1L, 10L, b64))
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-variant-ckpt"), trigger = Trigger.AvailableNow(),
      enrich = IngestPipeline.enrich(_))
    try {
      q.processAllAvailable()
      val ok = spark.read.parquet(s"$outDir/SUCCESS")
      // the store keeps the open-content field TYPED
      assert(ok.schema("message_v").dataType ==
        org.apache.spark.sql.types.VariantType,
        s"SUCCESS must carry the variant column, got ${ok.schema("message_v").dataType}")
      val row = ok.select(
        col("tls_version"), col("tls_cipher"), col("url_domain"),
        expr("try_variant_get(message_v, '$.destination.domain', 'string')"))
        .as[(String, String, String, String)].head()
      // in-stream extraction ran through the bound variant…
      assert(row == (("1.2", "C-X", "d.example.com", "d.example.com")),
        s"variant-path enrichment mismatch: $row")
      // …and the wire lines carry the raw message, never the twin
      val line = HttpBulk.toBulkNdjsonKeyed(ok, "idx").select("lines").as[String].head()
      assert(!line.contains("message_v"),
        s"the variant twin leaked into the bulk source line: $line")
      // the raw message string rides the wire (JSON-escaped inside the
      // source line)
      assert(line.contains("\\\"apache\\\""), s"the raw message left the wire: $line")
    } finally q.stop()
  }

  test("staged topology: the ingest SUCCESS archive feeds the streaming near-dup check") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.DedupStream
    // stage 1: ingest three events — two near-identical messages, one
    // distinct — into the SUCCESS archive
    val tA = "the quick brown fox jumps over the lazy dog tonight"
    val tB = "spark plans a single expand and one shuffle for all sets"
    val body =
      s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/st","logStream":"s1",
         |"subscriptionFilters":["f"],"logEvents":[
         |{"id":"d1","timestamp":1000,"message":"$tA"},
         |{"id":"d2","timestamp":2000,"message":"$tB"},
         |{"id":"d3","timestamp":3000,"message":"$tA"}]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))
    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-staged-sink")
    in.addData((1L, 10L, b64))
    val q1 = Pipeline.run(in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-staged-ckpt"), trigger = Trigger.AvailableNow())
    q1.processAllAvailable(); q1.stop()
    // stage 2: the dedup stream reads the archive as a FILE stream —
    // the staged topology Serve wires under SPARK_GRAFT_DEDUP_DIR —
    // and flags the near-dup against the persisted store
    val archived = spark.readStream
      .schema(DedupStream.pipelineDocsSchema)
      .parquet(s"$outDir/SUCCESS")
    val dedupDir = tmp("graft-staged-dedup")
    val q2 = DedupStream.run(DedupStream.fromPipelineDocs(archived),
      s"$dedupDir/store", s"$dedupDir/out", s"$dedupDir/ckpt",
      trigger = Trigger.AvailableNow())
    try {
      q2.processAllAvailable()
      val r = spark.read.parquet(s"$dedupDir/out")
        .select(col("doc_id"), col("dup_of"), col("is_unique"))
        .as[(Long, Option[Long], Boolean)].collect()
      assert(r.length == 3, s"one dedup verdict per archived document: ${r.toSeq}")
      assert(r.count(_._3) == 2, s"tA+tB unique, the tA copy flagged: ${r.toSeq}")
      val dup = r.find(!_._3).get
      // the flagged copy points at the other tA document's hash id
      assert(r.exists(x => x._3 && x._1 == dup._2.get), s"dup_of must be a kept doc: ${r.toSeq}")
    } finally q2.stop()
  }

  test("zero-event envelope is observable in ERROR/, not silently dropped") {
    import spark.implicits._
    val empty =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[]}""".stripMargin
    val b64 = java.util.Base64.getEncoder.encodeToString(empty.getBytes("UTF-8"))
    val (docs, dead) = Pipeline.route(
      Seq((1L, 10L, b64)).toDF("event_id", "batch_ms", "data"))
    assert(docs.count() == 0)
    val errs = dead.select("err").as[String].collect()
    assert(errs.toSeq == Seq("empty logEvents"), s"got ${errs.toSeq}")
  }

  test("checkpoint restart resumes from committed offsets without duplicating output") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val goodBody =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[{"id":"R#ID#","timestamp":1000,"message":"m"}]}""".stripMargin
    def b64(id: String): String = java.util.Base64.getEncoder
      .encodeToString(goodBody.replace("#ID#", id).getBytes("UTF-8"))

    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-restart-sink")
    val ckpt = tmp("graft-restart-ckpt")
    in.addData((1L, 10L, b64("1")))
    val q1 = Pipeline.run(in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, ckpt, trigger = Trigger.AvailableNow())
    q1.processAllAvailable(); q1.stop()
    // restart from the SAME checkpoint with new data: only the new
    // offsets process; batch 0's committed output is not rewritten twice
    in.addData((2L, 20L, b64("2")))
    val q2 = Pipeline.run(in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, ckpt, trigger = Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val refs = spark.read.parquet(s"$outDir/SUCCESS")
      .select("event_ref").as[String].collect().sorted
    assert(refs.toSeq == Seq("R1", "R2"), s"got ${refs.toSeq}")
  }

  test("firehose response contract: echo the request ids; error body adds errorMessage") {
    assert(FirehoseEndpoint.firehoseResponse("req-1", 123L) ==
      """{"requestId":"req-1","timestamp":123}""")
    // control chars escape as \ uXXXX (written split here — Scala
    // pre-processes unicode escapes even inside triple quotes)
    assert(FirehoseEndpoint.firehoseResponse("r\"q", 5L, Some("bad \"body\"\n")) ==
      "{\"requestId\":\"r\\\"q\",\"timestamp\":5,\"errorMessage\":\"bad \\\"body\\\"" + "\\" + "u000a\"}")
  }

  test("channel writer is idempotent under batch replay (at-least-once)") {
    import spark.implicits._
    val dir = tmp("graft-replay")
    val docs = Seq((1L, "a"), (2L, "b")).toDF("event_id", "v")
    val write = Pipeline.channelWriter(dir)
    write(docs, 7L, true)
    write(docs, 7L, true) // checkpoint-recovery replay of the same batchId
    assert(spark.read.parquet(dir).count() == 2, "replay must not duplicate rows")
    write(docs, 8L, true) // a NEW batch does append to the channel
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("SPARK_GRAFT_ALERTS: one conjunctive rule per clause, one ALERTS row per (doc, id)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val queries = Serve.alertQueries("1:spark,join;2: slow ")
    assert(queries == Seq(1L -> "(spark) AND (join)", 2L -> "(slow)"), s"got $queries")
    val repeated = intercept[IllegalArgumentException](Serve.alertQueries("1:spark;1:join"))
    assert(repeated.getMessage.contains("SPARK_GRAFT_ALERTS") && repeated.getMessage.contains("1"),
      repeated.getMessage)
    // e1 holds only one of rule 1's words; e2 holds both, and slow
    val body =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"/app/a","logStream":"s1",
        |"subscriptionFilters":["f"],"logEvents":[
        |{"id":"e1","timestamp":1000,"message":"spark only here"},
        |{"id":"e2","timestamp":2000,"message":"a slow spark join pipeline"}]}""".stripMargin
    val in = MemoryStream[(Long, Long, String)]
    val outDir = tmp("graft-alert-clause-sink")
    in.addData((1L, 10L, java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))))
    val m = new ServiceMetrics
    val q = Pipeline.run(
      in.toDF().toDF("event_id", "batch_ms", "data"),
      outDir, tmp("graft-alert-clause-ckpt"), trigger = Trigger.AvailableNow(),
      metrics = Some(m), alertQueries = Some(queries))
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$outDir/ALERTS")
        .select(col("doc_id"), col("query_id")).as[(String, Long)].collect().toSeq
      assert(rows.sorted == Seq(("1/e2", 1L), ("1/e2", 2L)), s"wrong alert rows: $rows")
      assert(m.alertsMatched.get == 2L, s"alerts_matched wrong: ${m.snapshot}")
    } finally q.stop()
  }

  test("merge is associative: any batch split folds to the one-shot partial") {
    import spark.implicits._
    val all = Seq((1L, "a", 1L, 1L), (1L, "b", 2L, 5L), (2L, "c", 3L, 3L),
      (2L, "d", 4L, 2L), (3L, "e", 5L, 4L))
      .toDF("user_id", "event_type", "vc", "ok")
    val oneShot = StreamOps.partial(all).orderBy("user_id").collect().toSeq
    for (m <- 2 to 3) {
      val parts = (0 until m).map(i => all.filter(col("ok") % m === i))
      val folded = parts.map(StreamOps.partial).reduce(StreamOps.merge)
        .orderBy("user_id").collect().toSeq
      assert(folded == oneShot, s"fold of $m parts diverged")
    }
  }
}
