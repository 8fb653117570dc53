package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.perfbench.Traffic.{Request, parseId}

/** Output-correctness gate for one service segment (a set of requests
  * and everything the service delivered for them).
  *
  *  - every valid event id reaches the `_bulk` stub as `_id` exactly once;
  *  - every corrupt record is in `ERROR/` exactly once, with its request
  *    id and the reason its kind must produce;
  *  - documents whose id hashes into the sample (1 in 8) carry exactly the
  *    fields the generator put in: envelope fields, the json-or-text
  *    message, and for axway lines the grok / uri_parts / outcome /
  *    ip-vs-domain / date / geoip enrichment.
  * Problems are returned as messages; each one is a failed operation. */
object Check {
  private val mapper = new ObjectMapper()

  /** Failed checks: all counted, the first few kept as messages. */
  final class Problems {
    private val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var count = 0L
    def +=(msg: String): Unit = { if (kept.size < 20) kept += msg; count += 1 }
    def ++=(other: Problems): Unit = {
      other.messages.foreach(m => if (kept.size < 20) kept += m)
      count += other.count
    }
    def messages: Vector[String] = kept.toVector
  }

  /** Where each delivered document went, and what was wrong. */
  final case class Delivery(docs: Long, lastDocNs: Array[Long], firstDocMs: Array[Long],
                            problems: Problems, sampled: Int, grokLines: Long,
                            grokMatched: Long)

  def sampled(id: String): Boolean = (id.hashCode & 7) == 0

  /** Account for every document in `posts` against `reqs` (indexed by
    * request index − `base`). */
  def deliveries(posts: Seq[BulkStub.Post], reqs: IndexedSeq[Request], base: Int): Delivery = {
    val byId = new java.util.HashMap[String, Integer]()
    val lastNs = Array.fill(reqs.size)(Long.MinValue)
    val firstMs = Array.fill(reqs.size)(Long.MaxValue)
    val problems = new Problems
    var docs = 0L
    var nSampled = 0
    posts.foreach { p =>
      val body = new String(p.body, UTF_8)
      var pos = 0
      while (pos < body.length) {
        val nl = body.indexOf('\n', pos)
        val nl2 = if (nl < 0) -1 else body.indexOf('\n', nl + 1)
        if (nl < 0) { problems += s"truncated bulk body at $pos"; pos = body.length }
        else {
          val action = body.substring(pos, nl)
          val source = body.substring(nl + 1, if (nl2 < 0) body.length else nl2)
          pos = if (nl2 < 0) body.length else nl2 + 1
          val i = action.indexOf("\"_id\":\"")
          val id = if (i < 0) "" else action.substring(i + 7, action.indexOf('"', i + 7))
          docs += 1
          val prev = byId.put(id, (if (byId.containsKey(id)) byId.get(id) + 1 else 1))
          val req = try parseId(id)._1 - base catch { case _: Exception => -1 }
          if (req < 0 || req >= reqs.size) problems += s"unknown _id '$id' delivered"
          else {
            if (prev == null) {
              lastNs(req) = math.max(lastNs(req), p.endNs)
              firstMs(req) = math.min(firstMs(req), p.epochMs)
            }
            if (sampled(id) && prev == null) {
              nSampled += 1
              checkDoc(id, reqs(req), mapper.readTree(source)).foreach(problems += _)
            }
          }
        }
      }
    }
    var lines = 0L
    var matched = 0L
    reqs.foreach { r =>
      r.records.foreach(_.events.foreach { e =>
        val n = byId.getOrDefault(e.id, 0)
        if (n != 1) problems += s"event ${e.id} delivered $n times"
        e.axway.foreach { a => lines += 1; if (a.grokMatch) matched += 1 }
      })
    }
    Delivery(docs, lastNs, firstMs, problems, nSampled, lines, matched)
  }

  private def checkDoc(id: String, r: Request, d: JsonNode): Seq[String] = {
    val (_, c, e) = parseId(id)
    val rec = r.records(c)
    val ev = rec.events(e)
    val bad = Seq.newBuilder[String]
    def str(f: String): Option[String] = Option(d.get(f)).filter(!_.isNull).map(_.asText())
    def lng(f: String): Option[Long] = Option(d.get(f)).filter(!_.isNull).map(_.asLong())
    def eq[T](f: String, got: Option[T], want: Option[T]): Unit =
      if (got != want) bad += s"doc $id field $f: got $got, want $want"
    eq("requestId", str("requestId"), Some(r.requestId))
    eq("batch_ms", lng("batch_ms"), Some(r.timestamp))
    eq("logGroup", str("logGroup"), Some(rec.logGroup))
    eq("logStream", str("logStream"), Some(rec.logStream))
    val wantMsg =
      if (rec.kind == "json") ev.message else s"""{"text":${Traffic.js(ev.message)}}"""
    eq("message", str("message"), Some(wantMsg))
    ev.axway match {
      case Some(a) if a.grokMatch =>
        val q = a.url.indexOf('?')
        val path = if (q < 0) a.url else a.url.substring(0, q)
        val ext = "\\.([a-z0-9]+)$".r.findFirstMatchIn(path).map(_.group(1))
        val isIp = a.address.matches("^(\\d{1,3}\\.){3}\\d{1,3}$")
        val ipLong = if (isIp) a.address.split('.').map(_.toLong).reduce(_ * 256 + _) else -1L
        val nation =
          if (ipLong >= 0 && ipLong < Traffic.geoSpan * Traffic.nations) Some((ipLong / Traffic.geoSpan).toInt)
          else None
        eq("source_address", str("source_address"), Some(a.address))
        eq("user_name", str("user_name"), Some(a.user))
        eq("http_method", str("http_method"), Some(a.method))
        eq("status_code", lng("status_code"), Some(a.status.toLong))
        eq("body_bytes", lng("body_bytes"), Some(a.bytes.toLong))
        eq("url_original", str("url_original"), Some(a.url))
        eq("url_path", str("url_path"), Some(path))
        eq("url_query", str("url_query"), if (q < 0) None else Some(a.url.substring(q + 1)))
        eq("url_ext", str("url_ext"), ext)
        eq("event_outcome", str("event_outcome"), Some(if (a.status < 400) "success" else "failure"))
        eq("source_ip", str("source_ip"), if (isIp) Some(a.address) else None)
        eq("source_domain", str("source_domain"), if (isIp) None else Some(a.address))
        eq("geo_country", str("geo_country"), nation.map(Traffic.nationName))
        eq("as_number", lng("as_number"), nation.map(_ + 64512L))
        eq("event_ms", lng("event_ms"), Some(ev.ts / 1000 * 1000))
        eq("event_created_ms", lng("event_created_ms"), Some(ev.ts))
        eq("event_kind", str("event_kind"), Some("event"))
      case Some(_) =>
        eq("status_code", lng("status_code"), None)
        eq("event_ms", lng("event_ms"), Some(ev.ts))
        eq("event_kind", str("event_kind"), Some("event"))
      case None =>
        eq("pipeline", str("pipeline"), Some("default"))
        eq("event_ms", lng("event_ms"), Some(ev.ts))
        eq("event_kind", str("event_kind"), None)
    }
    bad.result()
  }

  private val reasons = Map(
    "bad_gzip" -> "undecodable record data (corrupt gzip)",
    "non_envelope" -> "unparseable CloudWatch envelope",
    "empty_events" -> "empty logEvents")

  /** Every corrupt record of `reqs` must sit in `errorDir` exactly once. */
  def deadLetters(errorDir: File, reqs: Seq[Request]): Problems = {
    val rows = Vector.newBuilder[(String, String, String)]
    Driver.parquetFiles(errorDir).foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.getAbsolutePath)).build()
      try {
        var g = reader.read()
        while (g != null) {
          def s(n: String) = if (g.getFieldRepetitionCount(n) == 0) "" else g.getString(n, 0)
          rows += ((s("body"), s("requestId"), s("err")))
          g = reader.read()
        }
      } finally reader.close()
    }
    val byBody = rows.result().groupBy(_._1)
    val problems = new Problems
    var expected = 0
    reqs.foreach(r => r.records.foreach { rec =>
      rec.errorBody.foreach { body =>
        expected += 1
        byBody.get(body) match {
          case Some(Seq((_, rid, err))) =>
            if (rid != r.requestId) problems += s"dead letter of ${r.requestId} carries requestId $rid"
            if (err != reasons(rec.kind)) problems += s"dead letter (${rec.kind}) of ${r.requestId} has reason '$err'"
          case Some(dups) => problems += s"${rec.kind} record of ${r.requestId} dead-lettered ${dups.size} times"
          case None => problems += s"${rec.kind} record of ${r.requestId} missing from ERROR/"
        }
      }
    })
    val total = byBody.valuesIterator.map(_.size).sum
    if (total != expected) problems += s"ERROR/ holds $total rows, expected $expected"
    problems
  }
}
