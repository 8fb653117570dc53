package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GeoLookupFunctions.geo_lookup
import graft.expr.GeoTable
import graft.expr.GrokFunctions.regexp_extract_struct
import graft.ops.Enrich

/** The reference's ES ingest pipeline, run IN the engine on the service
  * path.
  *
  * The reference never enriches documents itself — it stamps
  * `pipeline=<name>` on every `_bulk` request (main.go:437) and
  * Elasticsearch runs ingest/one-pipeline-to-rule-them-all.json on each
  * indexed document: route on `logGroup =~ /axway/`
  * (one-pipeline-to-rule-them-all.json:4–12), and axway documents get
  * the full processor chain of ingest/axway-ingest.json — grok,
  * uri_parts, constants, outcome, ip-vs-domain, date, geoip ×2, tls —
  * under `ignore_failure` (an unenrichable document still indexes).
  *
  * Spark-first re-expression: the whole chain is ONE projection pass of
  * column expressions, geoip included — a binary search in a broadcast
  * range table (GeoLookup), not a join — so no shuffle, no exchange, no
  * state; per-document cost identical at 1 executor or 1000. It is
  * built as one projection per dependency level (8 in all), which
  * Catalyst collapses into the one pass. Each processor guards on its
  * own input exactly like the ES
  * `if`/`ignore_missing`/`ignore_failure` contract, so a non-axway or
  * non-matching document passes through with null enrichment fields
  * (which the `_bulk` serializer then drops — P14's null-strip is
  * Spark's to_json default).
  *
  * Field mapping (ES dotted path → flat column, same names as the batch
  * twins in ops/Enrich.scala): http.request.method → http_method,
  * http.response.status_code → status_code, url.path → url_path,
  * source.ip → source_ip, source.geo/as → geo_country / as_number /
  * organization_name, tls.version → tls_version, …
  */
object IngestPipeline {

  private val httpdateFmt = "dd/MMM/yyyy:HH:mm:ss Z"

  /** Dotted IPv4 → long, codegen-friendly (split + 4 element_at, no
    * HOFs: a `aggregate()` here would knock the whole stage out of
    * whole-stage codegen). Null for non-IP input — including a
    * digit-shaped non-IP like `999.1.1.1` that passes the `\d{1,3}`
    * regex: ES's convert-to-IP fails such a value, so the long is
    * nulled and geo enrich misses instead of matching a bogus range. */
  private def ipToLong(ip: Column): Column = {
    val p = split(ip, "\\.")
    def oct(i: Int): Column = element_at(p, i).cast("long")
    when(oct(1) <= 255 && oct(2) <= 255 && oct(3) <= 255 && oct(4) <= 255,
      oct(1) * 16777216L + oct(2) * 65536L + oct(3) * 256L + oct(4))
  }

  /** The nation-derived synthetic geoip dim of the batch twins, for
    * wiring the service path in tests / Serve (FIXTURES.md §4 stands in
    * for the GeoLite2 mmdb; a real deployment loads its converted mmdb
    * as this same (ip_start, ip_end, attrs…) table). */
  def geoDimFromNation(s: SparkSession, dir: String): DataFrame =
    Enrich.geoDim(s, dir)

  /** In-stream PII scrub stage: redact email/IPv4/SSN in the document's
    * `message` and count the redactions per document (`n_pii`) — a
    * training-data service scrubs BEFORE it indexes or archives, so the
    * raw PII never lands in the SUCCESS store or the search index. Same
    * patterns/placeholders as the batch ns_text_pii_scrub operator
    * (ops/TextOps.scala), pure codegen projection, zero shuffles —
    * composable with `enrich` via `andThen` on Pipeline.run's enrich
    * seam. The count is computed on the raw column before redaction. */
  def scrubPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_pii", graft.ops.TextOps.piiCount(col("message")))
      .withColumn("message", graft.ops.TextOps.piiScrubbed(col("message")))

  /** The enriched columns after the input's, in output order. */
  private val added = Seq("pipeline", "message_v", "source_address", "user_name",
    "http_method", "http_version", "status_code", "body_bytes", "response_ms",
    "url_original", "url_path", "url_query", "url_ext", "url_domain",
    "event_kind", "event_category", "event_outcome", "source_ip", "source_domain",
    "event_created_ms", "tls_cipher", "tls_version", "tls_version_protocol",
    "geo_country", "as_number", "organization_name")

  /** Apply one-pipeline-to-rule-them-all + axway-ingest to a flattened
    * documents frame (Pipeline.flatten's schema: event_id, batch_ms,
    * requestId, logGroup, logStream, event_ref, event_ms, message).
    * This is `enricher(geoDim)(docs)`, so it collects the dim on every
    * call; a caller that enriches many frames (Serve) builds one
    * enricher.
    */
  def enrich(docs: DataFrame, geoDim: Option[DataFrame] = None): DataFrame =
    enricher(geoDim)(docs)

  /** The enrich stage for one geoip dim. The dim is collected here, once,
    * into a sorted range table held in one Spark `Broadcast`; each
    * document's geoip is then a binary search inside the projection
    * (GeoLookup), so the stage adds no join, no broadcast exchange and
    * no job to the plans it builds. The dim must fit the driver.
    *
    * `geoDim` columns: ip_start, ip_end (long, inclusive), geo_country,
    * as_number, organization_name. Rows with a null bound can match no
    * address and are skipped; a range with ip_start > ip_end, or two
    * ranges that overlap, fail here (GeoTable).
    */
  def enricher(geoDim: Option[DataFrame]): DataFrame => DataFrame = {
    val table = geoDim.map { dim =>
      val rows = dim.where(col("ip_start").isNotNull && col("ip_end").isNotNull)
        .select(col("ip_start").cast("long"), col("ip_end").cast("long"),
          col("geo_country").cast("string"), col("as_number").cast("long"),
          col("organization_name").cast("string"))
        .collect()
      dim.sparkSession.sparkContext.broadcast(GeoTable(rows.toSeq))
    }
    docs => staged(docs, table)
  }

  /** The processor chain as one projection per dependency level, 8 in
    * all: each Dataset step re-analyses the plan it grows, so the chain
    * is built level by level, not column by column. A level's columns
    * read only the levels before it; a name the input already has
    * (event_ms) is replaced in place. The last level also fixes the
    * output order (`added`) and drops the helper columns. */
  private def staged(docs: DataFrame, geo: Option[Broadcast[GeoTable]]): DataFrame = {
    def level(df: DataFrame, cols: (String, Column)*): DataFrame = df.withColumns(ListMap(cols: _*))
    val isAxway = col("logGroup").rlike("axway")
    def variant(path: String): Column = expr(s"try_variant_get(message_v, '$path', 'string')")
    val g = col("_g")
    def ifm(c: Column): Column = when(col("_m"), c)
    val sslParts = split(col("_sslp"), "v")
    val sslVer = element_at(sslParts, 2)

    val routed = level(docs,
      "pipeline" -> when(isAxway, "axway-ingest").otherwise("default"),
      // SURVEY §1.3's "parse once vs re-parse per field", closed on the
      // hot path: the open-content message binds ONCE to a VariantType
      // value (the faithful mapping of the reference's json.RawMessage,
      // elasticOutput.go:34) and every extraction below is a typed path
      // access against the parsed binary encoding — where a
      // get_json_object chain would re-run the string parser per field
      // (4× per axway document). The column FLOWS THROUGH to the SUCCESS
      // channel (variant round-trips parquet in Spark 4), so the
      // indexed store keeps the open-content field typed; the bulk
      // serializer excludes it (the raw `message` string is the wire
      // field, HttpBulk.toBulkNdjsonKeyed).
      "message_v" -> expr("try_parse_json(message)"))
    // P0 route (one-pipeline-to-rule-them-all.json:4–12) + P1 grok
    // (axway-ingest.json:4–12): the grok field is the MESSAGE's `.text`
    // — jsonOrText wrapped a plain access-log line as {"text": line},
    // and a JSON-object message has no .text, which is grok's
    // ignore_missing skip. No match → empty capture groups → every
    // dependent processor skips (the pipeline-level ignore_failure).
    val lined = level(routed, "_line" -> when(isAxway, variant("$.text")))
    val grokked = level(lined,
      "_g" -> regexp_extract_struct(col("_line"), Enrich.grokRx, Enrich.grokGroups))
    val gated = level(grokked,
      "_m" -> (col("_line").isNotNull && g.getField("remote_addr") =!= ""))
    val fields = level(gated,
      // grokked http.* / source.address / user.name
      "source_address" -> ifm(g.getField("remote_addr")),
      "user_name" -> ifm(g.getField("user_name")),
      "http_method" -> ifm(g.getField("http_method")),
      "http_version" -> ifm(g.getField("http_version")),
      "status_code" -> ifm(g.getField("status_code").cast("long")),
      "body_bytes" -> ifm(g.getField("body_bytes").cast("long")),
      "response_ms" -> ifm(g.getField("response_ms").cast("long")),
      // P2 uri_parts over the RELATIVE original url (axway-ingest.json:
      // 13–17) — path/query/extension; no host on a relative URL, so P3's
      // url.domain falls back to destination.domain when the document
      // carries one (axway-ingest.json:18–24)
      "url_original" -> ifm(g.getField("request_url")),
      "url_domain" -> when(isAxway, nullif(variant("$.destination.domain"), lit(""))),
      // P5 constants (axway-ingest.json:34–43): set unconditionally for
      // every axway-routed document, matched or not
      "event_kind" -> when(isAxway, "event"),
      "event_category" -> when(isAxway, "web"),
      // P8 event.created = pre-overwrite @timestamp (axway-ingest.json:
      // 68–73) and P9 date parse REPLACING the event time, ignore_failure
      // (axway-ingest.json:74–89): try_to_timestamp, never a throwing
      // parse — a poison date must not fail the micro-batch. Both read
      // the input's event_ms: one level's columns see only the levels
      // before it
      "event_created_ms" -> when(isAxway, col("event_ms")),
      "event_ms" -> coalesce(
        ifm(unix_millis(try_to_timestamp(
          nullif(g.getField("http_date"), lit("")), lit(httpdateFmt)))),
        col("event_ms")),
      // P13 tls (axway-ingest.json:124–137): cipher copied if non-empty,
      // version/protocol from the painless split-on-"v" script; both read
      // apache.access.ssl.* off the DOCUMENT (a JSON message), not grok
      "tls_cipher" -> when(isAxway, nullif(variant("$.apache.access.ssl.cipher"), lit(""))),
      "_sslp" -> when(isAxway, lower(variant("$.apache.access.ssl.protocol"))))
    val derived = level(fields,
      // path+query in ONE regex pass (r22): the optional group carries
      // its own $ anchor so a query that fails it (e.g. a newline past
      // the '?') leaves the group non-participating — "" — exactly what
      // the separate regexp_extract(url, "\?(.*)$") produced. One known
      // divergence: the group is tied to the FIRST '?', while the old
      // separate extract searched on and could start at a later one.
      // With a second '?' after the newline ("a?b\nc?d") the old form
      // gave url_query "d", the fused form gives null. It needs an
      // embedded newline plus a second '?', and null is the saner answer
      // for a multi-line url, so the fused form is kept.
      "_pq" -> regexp_extract_struct(col("url_original"),
        "^([^?]*)(?:\\?(.*)$)?", Seq("path", "query")),
      // P6 outcome (axway-ingest.json:45–58)
      "event_outcome" -> when(col("status_code") < 400, "success")
        .when(col("status_code") > 399, "failure"),
      // P7 ip-vs-domain on source.address (axway-ingest.json:59–67)
      "source_ip" -> when(col("source_address").rlike(Enrich.ipRx), col("source_address")),
      "source_domain" -> when(col("source_address").isNotNull &&
        !col("source_address").rlike(Enrich.ipRx), col("source_address")),
      "tls_version" -> when(size(sslParts) === 2,
        when(sslVer.contains("."), sslVer).otherwise(concat(sslVer, lit(".0")))),
      "tls_version_protocol" -> when(size(sslParts) === 2, element_at(sslParts, 1)))
    // P10+P11 geoip (axway-ingest.json:90–123): a range lookup on
    // source.ip; a miss or a non-axway row rides through with null geo
    // attrs (geoip's ignore_missing)
    val pathed = level(derived, Seq(
      "url_path" -> col("_pq.path"),
      "url_query" -> nullif(col("_pq.query"), lit(""))) ++
      geo.map(t => "_geo" -> geo_lookup(ipToLong(col("source_ip")), t)): _*)
    val last: Map[String, Column] = Map(
      "url_ext" -> nullif(regexp_extract(col("url_path"), "\\.([a-z0-9]+)$", 1), lit(""))) ++
      GeoTable.attrType.fields.map { f =>
        f.name -> (if (geo.isDefined) col("_geo").getField(f.name) else lit(null).cast(f.dataType))
      }
    val inputs = docs.columns.toSeq
    pathed.select((inputs ++ added.filterNot(inputs.contains))
      .map(c => last.getOrElse(c, col(c)).as(c)): _*)
  }
}
