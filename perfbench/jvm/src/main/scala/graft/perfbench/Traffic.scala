package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Seeded Firehose traffic: every request body the service under test
  * sees is built here from the seed alone, so one seed always yields
  * byte-identical bodies (TrafficSpec locks that).
  *
  * Record mix (per Firehose record, each one base64 CloudWatch Logs
  * subscription payload):
  *  - `axway`: access-log lines under an `/axway/…` log group, matching
  *    the ingest pipeline's grok; client addresses are IPv4 inside the
  *    0.0.0.0–0.15.255.255 geo dim, IPv4 outside it, or host names; a
  *    few lines are garbled so grok misses them;
  *  - `json`: JSON-object messages; `text`: plain-text messages;
  *  - corrupt records that must dead-letter: `bad_gzip` (gzip magic,
  *    garbage after), `non_envelope` (base64 text that is no JSON) and
  *    `empty_events` (an envelope with an empty `logEvents`).
  * Valid payloads are gzip'd as CloudWatch delivers them, except a
  * share sent as plain base64 JSON; some requests are also whole-body
  * `Content-Encoding: gzip`, and some carry an access key. The shares
  * are in `Mix`.
  *
  * Event ids are `s<seed>r<request>c<record>e<event>`: unique within a
  * run and parseable, so a delivered `_id` names its own request. */
object Traffic {

  /** What the generator put in an axway line: the ingest pipeline's
    * enrichment of the delivered document must reproduce it. */
  final case class Axway(address: String, user: String, method: String,
                         url: String, status: Int, bytes: Int, grokMatch: Boolean)

  final case class Event(id: String, ts: Long, message: String, axway: Option[Axway])

  /** One Firehose record. `events` is empty for a corrupt record, whose
    * `errorBody` is the exact `body` its ERROR/ row must carry. */
  final case class Record(kind: String, logGroup: String, logStream: String,
                          data: String, events: Seq[Event], errorBody: Option[String])

  final case class Request(index: Int, requestId: String, timestamp: Long,
                           accessKey: Option[String], gzipBody: Boolean,
                           records: Seq[Record], body: Array[Byte]) {
    def docs: Int = records.iterator.map(_.events.size).sum
    def corrupt: Int = records.count(_.errorBody.isDefined)
  }

  /** Request shape: `eventsPerRecord` log events per valid record and
    * records added until the body reaches `targetBytes` (at least
    * `minRecords`, at most `maxRecords`). */
  final case class Shape(minRecords: Int, maxRecords: Int, eventsPerRecord: (Int, Int),
                         targetBytes: Int)

  /** Small requests: 14 records of 4 events (about 53 documents once the
    * corrupt share is out), a few KB; fixed counts keep the offered load
    * the same for every seed. */
  val trickle: Shape = Shape(14, 14, (4, 4), 0)

  /** Backlog requests: about 1 MiB, Firehose's default buffer size. The
    * 80–120 events per record are an assumption; documents per MiB, and
    * so `drain_docs_per_s`, follow it. */
  val backlog: Shape = Shape(1, 100000, (80, 120), 1 << 20)

  /** The traffic mix. No traffic figures exist for this service (the
    * reference ships one example request and no fixtures, FIXTURES.md),
    * so every share here is an assumption, made for the reason beside
    * it. perfbench/README.md lists the metrics each share moves. */
  object Mix {
    /** Corrupt records, per mille: about 10 dead letters per trickle
      * trigger, so every trigger writes `ERROR/` and the gate checks it.
      * Far above what a healthy log source sends. */
    val corruptPerMille = 50
    /** Axway access-log records, per mille: the ingest pipeline exists for
      * these lines (axway-ingest.json), so they are taken as the larger
      * part of a deployment's traffic. */
    val axwayPerMille = 550
    /** JSON-object records, per mille; plain-text records are the rest
      * (200): the two message branches weighted alike. */
    val jsonPerMille = 200
    /** Axway lines grok cannot match, per hundred: few, but enough that
      * the no-match branch is exercised and checked in every run. */
    val grokMissPct = 4
    /** Client addresses, per hundred axway lines: inside the geo dim
      * (geoip hit), outside it (miss); host names are the rest (25), so
      * the three address branches of the pipeline all run. */
    val inGeoPct = 50
    val outGeoPct = 25
    /** Axway lines whose user is the `-` placeholder: one in this many. */
    val anonymousOneIn = 4
    /** Valid records sent as plain base64 JSON, not gzip: one in this
      * many. CloudWatch always gzips; the service sniffs each record, so a
      * small share keeps the plain path measured. */
    val plainPayloadOneIn = 10
    /** Requests sent whole-body `Content-Encoding: gzip` (a Firehose
      * option): one in this many. Half the requests carry an access key. */
    val gzipBodyOneIn = 5
  }

  /** Geo dim the service is started with: nation k spans
    * [k·41943, k·41943 + 41942] (`Enrich.geoDim`), 25 nations. */
  val geoSpan: Long = 41943L
  val nations: Int = 25
  def nationName(k: Int): String = s"NATION_$k"

  private val methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val statuses = Array(200, 200, 200, 201, 204, 304, 400, 404, 500, 503)
  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")

  def js(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  private def b64(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)

  def dotted(ip: Long): String =
    s"${(ip >> 24) & 255}.${(ip >> 16) & 255}.${(ip >> 8) & 255}.${ip & 255}"

  /** HTTPDATE of an epoch-ms instant (UTC), as the axway log writes it. */
  def httpDate(ms: Long): String = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    f"${t.getDayOfMonth}%02d/${months(t.getMonthValue - 1)}/${t.getYear}%04d:" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d +0000"
  }

  def accessLine(a: Axway, ts: Long, rnd: java.util.SplittableRandom): String =
    if (!a.grokMatch) s"axway gateway: upstream reset by peer after ${a.bytes} bytes"
    else
      s"""${a.address} - ${a.user} [${httpDate(ts)}] "${a.method} ${a.url} HTTP/1.1" """ +
        s"""${a.status} ${a.bytes} ${rnd.nextInt(1, 900)} "203.0.113.${rnd.nextInt(1, 255)},10.0.0.1" """ +
        s"client-${rnd.nextInt(1, 50)} txn-${rnd.nextInt(1, 100000)} corr-${rnd.nextInt(1, 100000)}"

  private def axway(rnd: java.util.SplittableRandom): Axway = {
    val u = rnd.nextInt(100)
    val address =
      if (u < Mix.inGeoPct) dotted(rnd.nextLong(geoSpan * nations))
      else if (u < Mix.inGeoPct + Mix.outGeoPct) dotted((10L << 24) + rnd.nextLong(1L << 24))
      else s"host${rnd.nextInt(40)}.example.com"
    val url = rnd.nextInt(3) match {
      case 0 => s"/v1/pets/${rnd.nextInt(5000)}.json?limit=${rnd.nextInt(1, 50)}"
      case 1 => s"/v1/orders/${rnd.nextInt(100000)}"
      case _ => s"/static/app-${rnd.nextInt(20)}.js"
    }
    Axway(address, if (rnd.nextInt(Mix.anonymousOneIn) == 0) "-" else s"user${rnd.nextInt(300)}",
      methods(rnd.nextInt(methods.length)), url, statuses(rnd.nextInt(statuses.length)),
      rnd.nextInt(100, 60000), grokMatch = rnd.nextInt(100) >= Mix.grokMissPct)
  }

  private def cwJson(logGroup: String, logStream: String, events: Seq[Event]): String =
    events.iterator.map(e => s"""{"id":"${e.id}","timestamp":${e.ts},"message":${js(e.message)}}""")
      .mkString(
        s"""{"messageType":"DATA_MESSAGE","owner":"123456789012","logGroup":${js(logGroup)},""" +
          s""""logStream":${js(logStream)},"subscriptionFilters":["perfbench"],"logEvents":[""",
        ",", "]}")

  private def record(seed: Long, req: Int, rec: Int, ts0: Long, shape: Shape,
                     rnd: java.util.SplittableRandom, forceValid: Boolean): Record = {
    val tag = s"s${seed}r${req}c$rec"
    val u =
      if (forceValid) Mix.corruptPerMille + rnd.nextInt(1000 - Mix.corruptPerMille) else rnd.nextInt(1000)
    if (u < Mix.corruptPerMille) {
      // corrupt: each kind has an exact, unique expected ERROR body
      u % 3 match {
        case 0 =>
          val bytes = Array[Byte](0x1f, 0x8b.toByte, 8, 0) ++ s"garbage $tag".getBytes(UTF_8)
          val data = b64(bytes)
          Record("bad_gzip", "", "", data, Nil, Some(data))
        case 1 =>
          val text = s"not an envelope $tag"
          Record("non_envelope", "", "", b64(text.getBytes(UTF_8)), Nil, Some(text))
        case _ =>
          val json = cwJson("/app/empty", s"empty-$tag", Nil)
          Record("empty_events", "/app/empty", s"empty-$tag", b64(gzip(json.getBytes(UTF_8))),
            Nil, Some(json))
      }
    } else {
      val (kind, group) =
        if (u < Mix.corruptPerMille + Mix.axwayPerMille) ("axway", "/axway/prod/http-access")
        else if (u < Mix.corruptPerMille + Mix.axwayPerMille + Mix.jsonPerMille) ("json", "/app/orders-api")
        else ("text", "/app/worker")
      val stream = s"i-${rnd.nextInt(16)}"
      val n = rnd.nextInt(shape.eventsPerRecord._1, shape.eventsPerRecord._2 + 1)
      val events = (0 until n).map { e =>
        val ts = ts0 + rnd.nextInt(60000)
        val id = s"${tag}e$e"
        kind match {
          case "axway" =>
            val a = axway(rnd)
            Event(id, ts, accessLine(a, ts, rnd), Some(a))
          case "json" =>
            Event(id, ts, s"""{"level":"${if (rnd.nextInt(10) == 0) "warn" else "info"}",""" +
              s""""latency_ms":${rnd.nextInt(2000)},"user":"u${rnd.nextInt(500)}",""" +
              s""""path":"/orders/${rnd.nextInt(100000)}"}""", None)
          case _ =>
            Event(id, ts, s"job ${rnd.nextInt(10000)} failed after ${rnd.nextInt(5000)} ms", None)
        }
      }
      val json = cwJson(group, stream, events).getBytes(UTF_8)
      val data = if (rnd.nextInt(Mix.plainPayloadOneIn) == 0) b64(json) else b64(gzip(json))
      Record(kind, group, stream, data, events, None)
    }
  }

  /** Request `index` of the stream seeded by `seed`. Each request draws
    * from its own split of the seed, so request k is the same whether or
    * not the requests before it were generated. */
  def request(seed: Long, index: Int, shape: Shape): Request = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + index)
    val ts0 = 1760000000000L + index * 1000L
    val recs = Vector.newBuilder[Record]
    val want = rnd.nextInt(shape.minRecords, shape.maxRecords + 1)
    var size = 64
    var n = 0
    var valid = false
    def more: Boolean =
      if (shape.targetBytes > 0) size < shape.targetBytes && n < shape.maxRecords else n < want
    // every request carries at least one valid record, so its freshness
    // (ack → its last document at the sink) is always defined
    while (more || !valid) {
      val r = record(seed, index, n, ts0, shape, rnd, forceValid = !more)
      recs += r
      size += r.data.length + 12
      valid ||= r.events.nonEmpty
      n += 1
    }
    val records = recs.result()
    val requestId = s"rq-s$seed-$index"
    val envelope = records.iterator.map(r => s"""{"data":"${r.data}"}""")
      .mkString(s"""{"requestId":"$requestId","timestamp":$ts0,"records":[""", ",", "]}")
      .getBytes(UTF_8)
    val gz = rnd.nextInt(Mix.gzipBodyOneIn) == 0
    val key = if (rnd.nextBoolean()) Some(b64(s"tenant${rnd.nextInt(3)}:pw".getBytes(UTF_8))) else None
    Request(index, requestId, ts0, key, gz, records, if (gz) gzip(envelope) else envelope)
  }

  /** Parse `s<seed>r<req>c<rec>e<ev>` back into (req, rec, ev). */
  def parseId(id: String): (Int, Int, Int) = {
    val r = id.indexOf('r'); val c = id.indexOf('c', r); val e = id.indexOf('e', c)
    (id.substring(r + 1, c).toInt, id.substring(c + 1, e).toInt, id.substring(e + 1).toInt)
  }

  /** Traffic manifest: counts, bytes and the share of each record kind. */
  def manifest(reqs: Seq[Request]): Map[String, Any] = {
    val recs = reqs.flatMap(_.records)
    val kinds = Seq("axway", "json", "text", "bad_gzip", "non_envelope", "empty_events")
    Map(
      "requests" -> reqs.size,
      "records" -> recs.size,
      "docs" -> reqs.iterator.map(_.docs).sum,
      "bytes" -> reqs.iterator.map(_.body.length.toLong).sum,
      "gzip_body_share" -> (if (reqs.isEmpty) 0.0 else reqs.count(_.gzipBody).toDouble / reqs.size)) ++
      kinds.map(k => s"share_$k" -> (if (recs.isEmpty) 0.0 else recs.count(_.kind == k).toDouble / recs.size))
  }
}
