package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * column expressions plus ONE broadcast left hash join for geoip — no
  * shuffle, no state; per-document cost identical at 1 executor or
  * 1000. Each processor guards on its own input exactly like the ES
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

  /** 2^16-wide ip buckets for the geoip equi-join (the production range
    * join shape — see Enrich.geoipBucketedOp's scaladoc). */
  val bucketWidth: Long = 65536L

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

  /** Apply one-pipeline-to-rule-them-all + axway-ingest to a flattened
    * documents frame (Pipeline.flatten's schema: event_id, batch_ms,
    * requestId, logGroup, logStream, event_ref, event_ms, message).
    *
    * `geoDim` columns: ip_start, ip_end (long, inclusive), geo_country,
    * as_number, organization_name. The dim is exploded once per spanned
    * 2^16 bucket and broadcast — a plain hash equi-join on the bucket
    * with the range check residual, never a per-row scan of the range
    * table (the shape that survives a 3M-range GeoLite2 table).
    */
  def enrich(docs: DataFrame, geoDim: Option[DataFrame] = None): DataFrame = {
    val isAxway = col("logGroup").rlike("axway")

    // P0 route (one-pipeline-to-rule-them-all.json:4–12) + P1 grok
    // (axway-ingest.json:4–12): the grok field is the MESSAGE's `.text`
    // — jsonOrText wrapped a plain access-log line as {"text": line},
    // and a JSON-object message has no .text, which is grok's
    // ignore_missing skip. No match → empty capture groups → every
    // dependent processor skips (the pipeline-level ignore_failure).
    val g = col("_g")
    val matched = col("_line").isNotNull && g.getField("remote_addr") =!= ""
    def ifm(c: Column): Column = when(col("_m"), c)

    val sslParts = split(col("_sslp"), "v")
    val sslVer = element_at(sslParts, 2)

    val projected = docs
      .withColumn("pipeline", when(isAxway, "axway-ingest").otherwise("default"))
      // SURVEY §1.3's "parse once vs re-parse per field", closed on the
      // hot path: the open-content message binds ONCE to a VariantType
      // value (the faithful mapping of the reference's json.RawMessage,
      // elasticOutput.go:34) and every extraction below is a typed path
      // access against the parsed binary encoding — where the previous
      // get_json_object chain re-ran the string parser per field (4×
      // per axway document). The column FLOWS THROUGH to the SUCCESS
      // channel (variant round-trips parquet in Spark 4), so the
      // indexed store keeps the open-content field typed; the bulk
      // serializer excludes it (the raw `message` string is the wire
      // field, HttpBulk.toBulkNdjsonKeyed).
      .withColumn("message_v", expr("try_parse_json(message)"))
      .withColumn("_line",
        when(isAxway, expr("try_variant_get(message_v, '$.text', 'string')")))
      .withColumn("_g", regexp_extract_struct(col("_line"), Enrich.grokRx, Enrich.grokGroups))
      .withColumn("_m", matched)
      // grokked http.* / source.address / user.name
      .withColumn("source_address", ifm(g.getField("remote_addr")))
      .withColumn("user_name", ifm(g.getField("user_name")))
      .withColumn("http_method", ifm(g.getField("http_method")))
      .withColumn("http_version", ifm(g.getField("http_version")))
      .withColumn("status_code", ifm(g.getField("status_code").cast("long")))
      .withColumn("body_bytes", ifm(g.getField("body_bytes").cast("long")))
      .withColumn("response_ms", ifm(g.getField("response_ms").cast("long")))
      // P2 uri_parts over the RELATIVE original url (axway-ingest.json:
      // 13–17) — path/query/extension; no host on a relative URL, so P3's
      // url.domain falls back to destination.domain when the document
      // carries one (axway-ingest.json:18–24)
      .withColumn("url_original", ifm(g.getField("request_url")))
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
      .withColumn("_pq", regexp_extract_struct(col("url_original"),
        "^([^?]*)(?:\\?(.*)$)?", Seq("path", "query")))
      .withColumn("url_path", col("_pq.path"))
      .withColumn("url_query", nullif(col("_pq.query"), lit("")))
      .withColumn("url_ext", nullif(regexp_extract(col("url_path"), "\\.([a-z0-9]+)$", 1), lit("")))
      .withColumn("url_domain",
        when(isAxway, nullif(
          expr("try_variant_get(message_v, '$.destination.domain', 'string')"), lit(""))))
      // P5 constants (axway-ingest.json:34–43): set unconditionally for
      // every axway-routed document, matched or not
      .withColumn("event_kind", when(isAxway, "event"))
      .withColumn("event_category", when(isAxway, "web"))
      // P6 outcome (axway-ingest.json:45–58)
      .withColumn("event_outcome",
        when(col("status_code") < 400, "success")
          .when(col("status_code") > 399, "failure"))
      // P7 ip-vs-domain on source.address (axway-ingest.json:59–67)
      .withColumn("source_ip",
        when(col("source_address").rlike(Enrich.ipRx), col("source_address")))
      .withColumn("source_domain",
        when(col("source_address").isNotNull && !col("source_address").rlike(Enrich.ipRx),
          col("source_address")))
      // P8 event.created = pre-overwrite @timestamp (axway-ingest.json:
      // 68–73) and P9 date parse REPLACING the event time, ignore_failure
      // (axway-ingest.json:74–89): try_to_timestamp, never a throwing
      // parse — a poison date must not fail the micro-batch
      .withColumn("event_created_ms", when(isAxway, col("event_ms")))
      .withColumn("event_ms",
        coalesce(
          ifm(unix_millis(try_to_timestamp(
            nullif(g.getField("http_date"), lit("")), lit(httpdateFmt)))),
          col("event_ms")))
      // P13 tls (axway-ingest.json:124–137): cipher copied if non-empty,
      // version/protocol from the painless split-on-"v" script; both read
      // apache.access.ssl.* off the DOCUMENT (a JSON message), not grok
      .withColumn("tls_cipher",
        when(isAxway, nullif(
          expr("try_variant_get(message_v, '$.apache.access.ssl.cipher', 'string')"), lit(""))))
      .withColumn("_sslp",
        when(isAxway, lower(
          expr("try_variant_get(message_v, '$.apache.access.ssl.protocol', 'string')"))))
      .withColumn("tls_version",
        when(size(sslParts) === 2,
          when(sslVer.contains("."), sslVer).otherwise(concat(sslVer, lit(".0")))))
      .withColumn("tls_version_protocol", when(size(sslParts) === 2, element_at(sslParts, 1)))

    // P10+P11 geoip (axway-ingest.json:90–123): broadcast bucketed range
    // join on source.ip; LEFT join so unmatched / non-axway rows ride
    // through with null geo attrs (geoip's ignore_missing)
    val geoed = geoDim match {
      case Some(dim) =>
        val withIp = projected
          .withColumn("_ip_long", ipToLong(col("source_ip")))
          .withColumn("_fb", expr(s"_ip_long div $bucketWidth"))
        val dimExp = dim.withColumn("_db",
          explode(expr(s"sequence(ip_start div $bucketWidth, ip_end div $bucketWidth)")))
        withIp.join(broadcast(dimExp),
            col("_fb") === col("_db") &&
              col("_ip_long") >= col("ip_start") && col("_ip_long") <= col("ip_end"),
            "left")
          .drop("ip_start", "ip_end", "_db", "_ip_long", "_fb")
      case None =>
        projected
          .withColumn("geo_country", lit(null).cast("string"))
          .withColumn("as_number", lit(null).cast("long"))
          .withColumn("organization_name", lit(null).cast("string"))
    }
    geoed.drop("_line", "_g", "_m", "_sslp", "_pq")
  }
}
