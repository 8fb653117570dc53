package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{HttpBulk, Pipeline, Replay}

/** Randomized fault-injection differential for the live service path
  * (FirehoseEndpoint-shaped source → Pipeline.run → HttpBulk), the
  * r17-verdict task: the batch/store layers have adversarial evidence,
  * so the streaming path gets the same discipline. Each seed draws a
  * fault SCHEDULE — mid-stream 429/502/503/504 bursts per POST body,
  * deterministic per-item bulk rejections, and a kill (retry-exhaustion
  * batch failure or a stop before the batch commits) followed by a
  * checkpoint restart — and asserts the at-least-once + idempotent-`_id`
  * contract end-to-end: the stub index's final state, the SUCCESS
  * archive, the ERROR channel and the per-item rejection channel all
  * match a fault-free run of the same inputs exactly. A replay leg then
  * rebuilds a FRESH index from the faulted run's SUCCESS archive
  * (Replay.replay) and must reproduce the same index state — the
  * archive-is-a-complete-replay-store claim under faults, not just in
  * the directed HttpBulkSpec case.
  *
  * Determinism per seed: transient bursts are keyed on the POST body's
  * content hash (≤3 consecutive transients, inside the 5-attempt
  * envelope) so a retried or replayed chunk sees a reproducible
  * schedule and the differential can never flake on rng interleaving;
  * the kill switch is the only global fault mode.
  */
class FaultDifferentialSpec extends SparkSpec {

  /** Loopback `_bulk` endpoint that MAINTAINS AN INDEX (id → source,
    * last write wins — the ES semantics that make `_id` idempotence
    * observable), serves a per-body transient burst schedule, rejects
    * `badIds` items with 400, and has a global kill switch. */
  private class FaultyIndex(badIds: Set[String], burst: String => Int) {
    val index = new ConcurrentHashMap[String, String]()
    val failAll = new AtomicBoolean(false)
    val transientsServed = new AtomicInteger(0)
    val killResponses = new AtomicInteger(0)
    val acceptedPosts = new AtomicInteger(0)
    val itemRejections = new AtomicInteger(0)
    private val attempts = new ConcurrentHashMap[Int, AtomicInteger]()
    private val transientStatuses = Array(429, 502, 503, 504)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val h = scala.util.hashing.MurmurHash3.stringHash(body)
      val attempt = attempts.computeIfAbsent(h, _ => new AtomicInteger(0)).incrementAndGet()
      if (failAll.get()) {
        killResponses.incrementAndGet()
        ex.sendResponseHeaders(503, -1); ex.close()
      } else if (attempt <= burst(body)) {
        transientsServed.incrementAndGet()
        ex.sendResponseHeaders(transientStatuses(math.floorMod(h + attempt, 4)), -1); ex.close()
      } else {
        acceptedPosts.incrementAndGet()
        val items = body.split("\n").grouped(2).map { pair =>
          val id = """"_id":"([^"]+)"""".r.findFirstMatchIn(pair.head).get.group(1)
          if (badIds(id)) {
            itemRejections.incrementAndGet()
            s"""{"index":{"_id":"$id","status":400,"error":{"type":"mapper_parsing_exception","reason":"rejected by schedule"}}}"""
          } else {
            index.put(id, pair(1))
            s"""{"index":{"_id":"$id","status":201}}"""
          }
        }.mkString(",")
        val resp = s"""{"took":1,"errors":true,"items":[$items]}""".getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/_bulk"
    def stop(): Unit = server.stop(0)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def envelope(group: String, events: Seq[(String, Long)]): String = {
    val evs = events.map { case (id, ts) =>
      s"""{"id":"$id","timestamp":$ts,"message":"m $id"}"""
    }.mkString(",")
    s"""{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"$group","logStream":"s1","subscriptionFilters":["f"],"logEvents":[$evs]}"""
  }

  /** One seed's input: chunks of (event_id, batch_ms, data) envelope
    * rows — every chunk has at least one good envelope (so a kill
    * switch is guaranteed to bite on its batch), garbage rows mix in,
    * and all doc ids are unique (the engine's own event_ref contract). */
  private def drawChunks(seed: Int, rnd: scala.util.Random): (Seq[Seq[(Long, Long, String)]], Seq[String], Boolean) = {
    var eventId = 0L
    var hasGarbage = false
    val allDocIds = Seq.newBuilder[String]
    val chunks = (0 until (3 + rnd.nextInt(3))).map { c =>
      val rows = Seq.newBuilder[(Long, Long, String)]
      (0 until (1 + rnd.nextInt(2))).foreach { e =>
        val ids = (0 until (2 + rnd.nextInt(3))).map(j => s"s${seed}c${c}e${e}d$j")
        allDocIds ++= ids
        eventId += 1
        rows += ((eventId, 10L * (c + 1), b64(envelope(s"/app/g$c", ids.map(id => (id, 1000L + eventId)))) ))
      }
      if (rnd.nextDouble() < 0.4) {
        eventId += 1; hasGarbage = true
        rows += ((eventId, 10L * (c + 1), b64(s"garbage ${rnd.nextInt()}")))
      }
      rows.result()
    }
    (chunks, allDocIds.result(), hasGarbage)
  }

  /** Read a channel dir into a comparable set; a channel that never
    * materialized (no batch wrote it) reads as empty. */
  private def channelSet(dir: String, cols: Seq[String]): Set[Seq[String]] =
    try {
      spark.read.parquet(dir).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    } catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

  test("27 seeded fault schedules: faulted+killed+replayed run ≡ fault-free run; archive replay rebuilds the index") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    var killsByExhaustion = 0
    var killsByStop = 0
    var seedsWithRejections = 0
    var seedsWithGarbage = 0
    var totalTransients = 0

    (0 until 27).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val (chunks, docIds, hasGarbage) = drawChunks(seed, rnd)
      if (hasGarbage) seedsWithGarbage += 1
      val badIds = docIds.filter(_ => rnd.nextDouble() < 0.15).toSet
      if (badIds.nonEmpty) seedsWithRejections += 1
      // ≤3 consecutive transients per body: inside the 5-attempt
      // envelope, so only the kill switch can exhaust retries
      val burst = (body: String) =>
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(body, seed), 4)
      // killMode 0 = transients only; 1 = retry-exhaustion batch failure
      // mid-stream; 2 = stop with an uncommitted batch pending
      val killMode = seed % 3
      val killAt = 1 + rnd.nextInt(chunks.size - 1)

      // ---- faulted run ----
      // half the seeds run the alerting stage too: its matches land
      // under the same overwrite-idempotent channelWriter, so ALERTS
      // must survive kills and replays exactly like the delivery
      // channels ("m" hits every good doc's "m <id>" message).
      // seed % 2, NOT seed % 3 — killMode is seed % 3, and a correlated
      // predicate would exercise ALERTS under only ONE kill mode
      // (second review pass)
      val alerts =
        if (seed % 2 == 0) Some(Seq(7L -> "m", 9L -> "nomatch_zz")) else None
      val stub = new FaultyIndex(badIds, burst)
      val outDir = tmp(s"fault-out-$seed")
      val ckpt = tmp(s"fault-ckpt-$seed")
      val in = MemoryStream[(Long, Long, String)]
      def start() = Pipeline.run(
        in.toDF().toDF("event_id", "batch_ms", "data"), outDir, ckpt,
        bulk = Some(HttpBulk.Target(stub.url, "graft-docs", flushBytes = 200, backoffMs = 1)),
        trigger = Trigger.ProcessingTime(0L),
        alertQueries = alerts)
      var q = start()
      try {
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (killMode == 1 && i == killAt) {
            stub.failAll.set(true)
            in.addData(chunk: _*)
            val died = try { q.processAllAvailable(); false }
            catch { case _: Throwable => true }
            assert(died || q.exception.isDefined,
              s"seed $seed: the kill switch must fail the batch")
            try q.stop() catch { case _: Throwable => () }
            stub.failAll.set(false)
            killsByExhaustion += 1
            q = start() // checkpoint restart replays the failed batch
            q.processAllAvailable()
          } else if (killMode == 2 && i == killAt) {
            in.addData(chunk: _*)
            // stop with the just-added chunk pending (or mid-batch — the
            // interrupt may land inside a POST, which is the point)
            try q.stop() catch { case _: Throwable => () }
            killsByStop += 1
            q = start()
            q.processAllAvailable()
          } else {
            in.addData(chunk: _*)
            q.processAllAvailable()
          }
        }
      } finally { try q.stop() catch { case _: Throwable => () } }
      totalTransients += stub.transientsServed.get

      // ---- fault-free reference run: same rows, same rejections ----
      val ref = new FaultyIndex(badIds, _ => 0)
      val refOut = tmp(s"fault-ref-out-$seed")
      val inRef = MemoryStream[(Long, Long, String)]
      val qRef = Pipeline.run(
        inRef.toDF().toDF("event_id", "batch_ms", "data"), refOut, tmp(s"fault-ref-ckpt-$seed"),
        bulk = Some(HttpBulk.Target(ref.url, "graft-docs", flushBytes = 200, backoffMs = 1)),
        trigger = Trigger.ProcessingTime(0L),
        alertQueries = alerts)
      try {
        chunks.foreach { chunk => inRef.addData(chunk: _*); qRef.processAllAvailable() }
      } finally qRef.stop()

      // ---- the differential: every observable surface matches ----
      assert(stub.index.asScala.toMap == ref.index.asScala.toMap,
        s"seed $seed (killMode $killMode): post-recovery index state must equal the fault-free run")
      assert(channelSet(s"$outDir/SUCCESS", Seq("event_ref", "message"))
        == channelSet(s"$refOut/SUCCESS", Seq("event_ref", "message")),
        s"seed $seed: SUCCESS archive diverged")
      assert(channelSet(s"$outDir/ERROR", Seq("event_id", "err"))
        == channelSet(s"$refOut/ERROR", Seq("event_id", "err")),
        s"seed $seed: ERROR channel diverged")
      assert(channelSet(s"$outDir/ERROR_ITEMS", Seq("item_id", "status"))
        == channelSet(s"$refOut/ERROR_ITEMS", Seq("item_id", "status")),
        s"seed $seed: per-item rejection channel diverged")
      assert(channelSet(s"$outDir/ERROR_ITEMS", Seq("item_id")).map(_.head)
        == badIds.map(identity),
        s"seed $seed: every scheduled rejection (and nothing else) must land")
      if (alerts.isDefined) {
        val got = channelSet(s"$outDir/ALERTS", Seq("doc_id", "query_id"))
        assert(got == channelSet(s"$refOut/ALERTS", Seq("doc_id", "query_id")),
          s"seed $seed: ALERTS channel diverged")
        // the matching rule fired for every good doc, the other never
        assert(got.nonEmpty && got.forall(_(1) == "7"),
          s"seed $seed: rule 7 must be the only firing rule, got $got")
      }

      // ---- replay leg: a fresh index rebuilt from the faulted run's
      // archive (its own transient schedule applies to the replay
      // bodies too) converges to the same state ----
      val rebuilt = new FaultyIndex(badIds, burst)
      Replay.replay(spark, s"$outDir/SUCCESS", rebuilt.url, "graft-docs",
        tmp(s"fault-replay-err-$seed"), baseBackoffMs = 1)
      assert(rebuilt.index.asScala.toMap == ref.index.asScala.toMap,
        s"seed $seed: archive replay must rebuild the fault-free index state")

      stub.stop(); ref.stop(); rebuilt.stop()
    }

    // generator honesty: the schedule space must actually have been
    // visited — kills of both modes, served transients, rejections,
    // garbage dead-letters
    assert(killsByExhaustion >= 5, s"exhaustion kills: $killsByExhaustion")
    assert(killsByStop >= 5, s"stop kills: $killsByStop")
    assert(totalTransients > 50, s"transients served: $totalTransients")
    assert(seedsWithRejections >= 10, s"seeds with item rejections: $seedsWithRejections")
    assert(seedsWithGarbage >= 8, s"seeds with garbage rows: $seedsWithGarbage")
  }
}
