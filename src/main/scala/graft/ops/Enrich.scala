package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** The ES-ingest-pipeline operators the reference ships as JSON
  * (SURVEY.md §2.4, ingest/one-pipeline-to-rule-them-all.json +
  * ingest/axway-ingest.json), rebuilt as Spark column expressions over
  * the synthesized access log (Synth.accessLog). Everything here is
  * per-row projection except the geoip enrich, which is the system's one
  * true join — rebuilt as a broadcast range join.
  */
object Enrich {

  // Par.spread: the testdata is one parquet split, which would run the
  // per-row regex/range-probe work of every enrich op single-threaded;
  // wide scans (real inputs) pass through untouched.
  private def al(s: SparkSession, dir: String): DataFrame =
    Par.spread(s, Synth.accessLog(s, dir), col("event_id"))

  /** P0: conditional sub-pipeline dispatch on logGroup ~ /axway/
    * (one-pipeline-to-rule-them-all.json:4–12). */
  val routeOp = QueryDef(
    "np_route_by_loggroup",
    (s, dir) => al(s, dir)
      .withColumn("pipeline",
        when(col("loggroup").rlike("axway"), "axway-ingest").otherwise("default"))
      .groupBy("pipeline").agg(count(lit(1)).as("n")),
    Some(Synth.withAccessLog(
      """SELECT CASE WHEN regexp_matches(loggroup, 'axway') THEN 'axway-ingest' ELSE 'default' END AS pipeline,
        |  count(*) AS n FROM access_log GROUP BY 1""".stripMargin)),
    // both dispatch routes of the conditional sub-pipeline take traffic
    liveness = Seq(
      "both_routes_dispatched" ->
        "SELECT count(DISTINCT pipeline) = 2 AND min(n) > 0 FROM r"))

  /** P1: grok extract over the access-log line (axway-ingest.json:4–12),
    * as one capture-group regex + typed casts. Shared with the streaming
    * ingest-pipeline stage (streaming.IngestPipeline). */
  private[graft] val grokRx =
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\w+) ([^\"]+) HTTP/([0-9.]+)\" " +
      "(\\d+) (\\d+) (\\d+) \"([^\"]+)\" client-(\\d+) txn-(\\d+) corr-(\\d+)$"

  /** Capture-group names, regex group order (g2/ident and g14/corr unused
    * downstream but present so both extractions see the same groups). */
  private[graft] val grokGroups = Seq(
    "remote_addr", "ident", "user_name", "http_date", "http_method",
    "request_url", "http_version", "status_code", "body_bytes",
    "response_ms", "xff_list", "client_id", "txn_id", "corr_id")

  val grokOp = QueryDef(
    "np_grok_access_log",
    (s, dir) => {
      import graft.expr.GrokFunctions.regexp_extract_struct
      al(s, dir)
        .withColumn("g", regexp_extract_struct(col("line"), grokRx, grokGroups))
        .select(
          col("event_id"),
          col("g.remote_addr").as("remote_addr"),
          col("g.user_name").as("user_name"),
          col("g.http_date").as("http_date"),
          col("g.http_method").as("http_method"),
          col("g.request_url").as("request_url"),
          col("g.http_version").as("http_version"),
          col("g.status_code").cast("long").as("status_code"),
          col("g.body_bytes").cast("long").as("body_bytes"),
          col("g.response_ms").cast("long").as("response_ms"),
          col("g.xff_list").as("xff_list"),
          col("g.client_id").cast("long").as("client_id"),
          col("g.txn_id").cast("long").as("txn_id"))
    },
    Some(Synth.withAccessLog(
      s"""SELECT event_id,
         |  g.remote_addr AS remote_addr,
         |  g.user_name AS user_name,
         |  g.http_date AS http_date,
         |  g.http_method AS http_method,
         |  g.request_url AS request_url,
         |  g.http_version AS http_version,
         |  CAST(g.status_code AS BIGINT) AS status_code,
         |  CAST(g.body_bytes AS BIGINT) AS body_bytes,
         |  CAST(g.response_ms AS BIGINT) AS response_ms,
         |  g.xff_list AS xff_list,
         |  CAST(g.client_id AS BIGINT) AS client_id,
         |  CAST(g.txn_id AS BIGINT) AS txn_id
         |FROM (SELECT event_id,
         |  regexp_extract(line, '$grokRx', [${grokGroups.map(n => s"'$n'").mkString(", ")}]) AS g
         |  FROM access_log)""".stripMargin)))

  /** P2: uri_parts (axway-ingest.json:13–17) via parse_url. */
  val uriPartsOp = QueryDef(
    "np_uri_parts",
    (s, dir) => al(s, dir)
      .withColumn("full_url", concat(lit("https://api.example.com"), col("url")))
      .select(
        col("event_id"),
        parse_url(col("full_url"), lit("HOST")).as("url_host"),
        parse_url(col("full_url"), lit("PATH")).as("url_path"),
        parse_url(col("full_url"), lit("QUERY")).as("url_query"),
        regexp_extract(parse_url(col("full_url"), lit("PATH")), "\\.([a-z0-9]+)$", 1).as("url_ext")),
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  regexp_extract(full_url, '^https://([^/]+)', 1) AS url_host,
        |  regexp_extract(full_url, '^https://[^/]+([^?]*)', 1) AS url_path,
        |  regexp_extract(full_url, '\?(.*)$', 1) AS url_query,
        |  regexp_extract(regexp_extract(full_url, '^https://[^/]+([^?]*)', 1), '\.([a-z0-9]+)$', 1) AS url_ext
        |FROM (SELECT event_id, concat('https://api.example.com', url) AS full_url FROM access_log)""".stripMargin)))

  /** P3: conditional set / set-if-null (axway-ingest.json:18–24). */
  val setIfNullOp = QueryDef(
    "np_set_if_null",
    (s, dir) => al(s, dir)
      .withColumn("url_domain", expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE concat('d', event_id % 10, '.example.com') END"))
      .withColumn("destination_domain", expr("concat('dest', user_id % 10, '.example.com')"))
      .select(col("event_id"),
        coalesce(col("url_domain"), col("destination_domain")).as("url_domain_final")),
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  coalesce(CASE WHEN event_id % 5 = 0 THEN NULL ELSE concat('d', event_id % 10, '.example.com') END,
        |           concat('dest', user_id % 10, '.example.com')) AS url_domain_final
        |FROM access_log""".stripMargin)))

  /** P4/P5/P8/P11/P12 field plumbing: drop, constant set, copy_from,
    * rename, conditional set ignoring empties (axway-ingest.json:25–129). */
  val fieldOpsOp = QueryDef(
    "np_field_ops",
    (s, dir) => al(s, dir)
      .withColumn("_tmp_url_orig", col("url")) // P4: dropped below
      .withColumn("cipher_raw", expr("CASE WHEN event_id % 6 = 0 THEN '' ELSE 'ECDHE-RSA-AES128-GCM-SHA256' END"))
      .withColumn("organization_name", expr("concat('org', user_id % 5)"))
      .select(
        col("event_id"),
        lit("event").as("event_kind"), // P5 constant sets
        lit("web").as("event_category"),
        col("ts_ms").as("event_created_ms"), // P8 copy_from @timestamp
        col("organization_name").as("organization"), // P11 rename
        when(length(col("cipher_raw")) > 0, col("cipher_raw")).as("tls_cipher")), // P12
    Some(Synth.withAccessLog(
      """SELECT event_id, 'event' AS event_kind, 'web' AS event_category,
        |  ts_ms AS event_created_ms,
        |  concat('org', user_id % 5) AS organization,
        |  CASE WHEN length(CASE WHEN event_id % 6 = 0 THEN '' ELSE 'ECDHE-RSA-AES128-GCM-SHA256' END) > 0
        |       THEN 'ECDHE-RSA-AES128-GCM-SHA256' END AS tls_cipher
        |FROM access_log""".stripMargin)))

  /** ES generic ingest-processor residue, round 2 (r19 verdict task:
    * SURVEY §2.5.3's top ABSENT rows closed as ONE composed key; public
    * ES ingest-processor reference): convert (long→keyword,
    * keyword→long, keyword→boolean), gsub (global regex replace),
    * dot_expander (a dotted field name expanded into a nested object —
    * shown through its to_json serialization, since declared keys emit
    * scalar columns), foreach over an ARRAY (per-element transform of
    * the XFF list), foreach over an OBJECT combined with per-value
    * convert (the query-string map's values to long, folded), redact
    * (every pattern hit in the raw line masked with its <NAME>
    * placeholder), and the split / sort / join / trim / lowercase /
    * uppercase field mappers.
    * One whole-row projection — no shuffle, no UDF, map-only: at 100 TB
    * this saturates scan bandwidth exactly like the rest of the np_*
    * family (the higher-order array/map expressions sit outside
    * whole-stage codegen but stay per-row interpreted expressions, not
    * UDF boxing). */
  val fieldOps2Op = QueryDef(
    "np_field_ops2",
    (s, dir) => al(s, dir)
      .withColumn("qs", regexp_extract(col("url"), "\\?(.*)$", 1))
      .select(
        col("event_id"),
        col("status").cast("string").as("cv_status_str"), // convert long→keyword
        concat(lit(""), col("bytes")).cast("long").as("cv_bytes_long"), // keyword→long
        expr("CAST(CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END AS BOOLEAN)")
          .as("cv_flag"), // keyword→boolean
        regexp_replace(col("url"), "[0-9]+", "N").as("gs_url"), // gsub
        to_json(struct(struct(col("usr").as("name")).as("user"))).as("dx_json"), // dot_expander: "user.name" → {"user":{"name":…}}
        array_join(transform(split(col("xff"), ","), ip =>
          concat(lit("["), ip, lit("]"))), ",").as("fe_xff"), // foreach over array
        array_join(array_sort(split(regexp_replace(col("url"), "\\?.*$", ""), "/")), "|")
          .as("so_parts"), // split + sort + join
        trim(concat(lit("  "), col("usr"), lit("  "))).as("tr_usr"), // trim
        lower(col("method")).as("lc_method"), // lowercase
        upper(col("event_type")).as("uc_type"), // uppercase
        aggregate(map_values(str_to_map(col("qs"), lit("&"), lit("="))), lit(0L),
          (acc, x) => acc + x.cast("long")).as("fe_obj_sum"), // foreach over object + convert
        regexp_replace(col("line"), "(\\d{1,3}\\.){3}\\d{1,3}", "<IP>")
          .as("rd_line")), // redact: mask every pattern hit with the <NAME> placeholder
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  CAST(status AS VARCHAR) AS cv_status_str,
        |  CAST(CAST(bytes AS VARCHAR) AS BIGINT) AS cv_bytes_long,
        |  CAST(CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END AS BOOLEAN) AS cv_flag,
        |  regexp_replace(url, '[0-9]+', 'N', 'g') AS gs_url,
        |  concat('{"user":{"name":"', usr, '"}}') AS dx_json,
        |  array_to_string(list_transform(string_split(xff, ','),
        |    t -> concat('[', t, ']')), ',') AS fe_xff,
        |  array_to_string(list_sort(string_split(regexp_replace(url, '\?.*$', ''), '/')), '|') AS so_parts,
        |  trim(concat('  ', usr, '  ')) AS tr_usr,
        |  lower(method) AS lc_method,
        |  upper(event_type) AS uc_type,
        |  CAST(user_id % 50 + event_id % 5 AS BIGINT) AS fe_obj_sum,
        |  regexp_replace(line, '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g') AS rd_line
        |FROM access_log""".stripMargin)))

  /** P6: outcome classification by status code (axway-ingest.json:45–58). */
  val outcomeOp = QueryDef(
    "np_outcome_classify",
    (s, dir) => al(s, dir).select(
      col("event_id"), col("status"),
      when(col("status") < 400, "success").when(col("status") > 399, "failure").as("event_outcome")),
    Some(Synth.withAccessLog(
      """SELECT event_id, status,
        |  CASE WHEN status < 400 THEN 'success' WHEN status > 399 THEN 'failure' END AS event_outcome
        |FROM access_log""".stripMargin)),
    liveness = Seq(
      "both_outcome_classes_live" ->
        ("SELECT count(CASE WHEN event_outcome = 'success' THEN 1 END) > 0 AND " +
          "count(CASE WHEN event_outcome = 'failure' THEN 1 END) > 0 FROM r")))

  /** P7: ip-vs-hostname dispatch (axway-ingest.json:59–67). */
  private[graft] val ipRx = "^(\\d{1,3}\\.){3}\\d{1,3}$"
  val ipOrDomainOp = QueryDef(
    "np_ip_or_domain",
    (s, dir) => al(s, dir)
      .withColumn("addr", expr("CASE WHEN event_id % 3 = 0 THEN concat('host', user_id % 20, '.example.com') ELSE ip END"))
      .select(
        col("event_id"),
        when(col("addr").rlike(ipRx), col("addr")).as("source_ip"),
        when(!col("addr").rlike(ipRx), col("addr")).as("source_domain")),
    Some(Synth.withAccessLog(
      s"""SELECT event_id,
         |  CASE WHEN regexp_matches(addr, '$ipRx') THEN addr END AS source_ip,
         |  CASE WHEN NOT regexp_matches(addr, '$ipRx') THEN addr END AS source_domain
         |FROM (SELECT event_id,
         |  CASE WHEN event_id % 3 = 0 THEN concat('host', user_id % 20, '.example.com') ELSE ip END AS addr
         |  FROM access_log)""".stripMargin)),
    liveness = Seq(
      "both_dispatch_branches_live" ->
        ("SELECT count(CASE WHEN source_ip IS NOT NULL THEN 1 END) > 0 AND " +
          "count(CASE WHEN source_domain IS NOT NULL THEN 1 END) > 0 FROM r")))

  /** P9: HTTPDATE parse back to an absolute instant (axway-ingest.json:
    * 74–89); emitted as epoch millis (engine-neutral schema). */
  val dateParseOp = QueryDef(
    "np_date_parse",
    (s, dir) => al(s, dir).select(
      col("event_id"),
      unix_millis(to_timestamp(col("httpdate"), "dd/MMM/yyyy:HH:mm:ss Z")).as("parsed_ms")),
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  epoch_ms(strptime(httpdate, '%d/%b/%Y:%H:%M:%S %z')) AS parsed_ms
        |FROM access_log""".stripMargin)))

  /** P10+P11: geoip enrich as a broadcast range join against a synthetic
    * ip-range dimension derived from `nation` (FIXTURES.md §4 replaces
    * the GeoLite2 mmdb; axway-ingest.json:90–122). The dim is bounded
    * (one row per nation) → broadcast; the probe side never shuffles. */
  /** The synthetic geoip range dimension derived from `nation`
    * (FIXTURES.md §4 replaces the GeoLite2 mmdb): one (ip_start, ip_end]
    * range per nation with country / AS-number / org attributes. Shared
    * by both geoip twins and by the streaming ingest-pipeline stage. */
  private[graft] def geoDim(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      (col("n_nationkey") * 41943L).as("ip_start"),
      (col("n_nationkey") * 41943L + 41942L).as("ip_end"),
      col("n_name").as("geo_country"),
      (col("n_nationkey") + 64512L).as("as_number"),
      concat(lit("AS-ORG-"), col("n_nationkey")).as("organization_name"))

  /** Bench note (r5–r7 "regression" closed): this query times ~0.72–0.93 s
    * warm when run in isolation (GeoipProbe, sf0.1 — identical to its r4
    * number and to the bucketed twin), but ~1.4 s inside the full
    * 70-query bench even at min-of-6. The delta is the measurement rig,
    * not the plan: round-robining 70 queries evicts the whole-stage
    * codegen cache between rounds, so every pass of this
    * generated-code-heavy BNLJ repays compilation. The plan itself is
    * unchanged (PlanSpec locks it) and remains the right shape for a
    * bounded 25-row dim; the unbounded-dim production shape is
    * np_geoip_bucketed below. */
  /** The miss-side overlay (r20 gate-liveness audit): the synthetic ip
    * domain (user_id·7919 mod 2^20) is COMPLETELY covered by the 25
    * nation ranges, so the geoip miss branch — ES's geoip processor
    * passes a non-matching doc through UNENRICHED — never ran and the
    * inner join silently hid it. Three deterministic out-of-range
    * probe ips (above every range) plus a LEFT join keep the
    * unenriched bucket (null country / null AS) live at every SF. */
  private val geoMissIps = Seq((-1L, 1500000L), (-2L, 1500001L), (-3L, 1500002L))
  private val geoMissSql =
    geoMissIps.map { case (u, ip) => s"SELECT CAST($u AS BIGINT) AS user_id, CAST($ip AS BIGINT) AS ip_long" }
      .mkString("\n  UNION ALL ")

  private def geoFacts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    al(s, dir)
      .withColumn("ip_long", expr("(user_id * 7919) % 1048576"))
      .select(col("user_id"), col("ip_long"))
      .unionByName(geoMissIps.toDF("user_id", "ip_long"))
  }

  private def geoipOracleSql: String = Synth.withAccessLog(
    s"""SELECT n_name AS geo_country, CAST(n_nationkey + 64512 AS BIGINT) AS as_number,
       |  count(*) AS n, count(DISTINCT user_id) AS nd_users
       |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log
       |  UNION ALL $geoMissSql) f
       |LEFT JOIN nation ON f.ip_long >= n_nationkey * 41943 AND f.ip_long <= n_nationkey * 41943 + 41942
       |GROUP BY 1, 2""".stripMargin)

  private val geoipLiveness = Seq(
    "match_and_miss_sides_live" ->
      ("SELECT count(CASE WHEN geo_country IS NOT NULL THEN 1 END) > 0 AND " +
        "count(CASE WHEN geo_country IS NULL THEN 1 END) > 0 FROM r"))

  val geoipOp = QueryDef(
    "np_geoip_join",
    (s, dir) => {
      val facts = geoFacts(s, dir)
      val dim = geoDim(s, dir)
      facts.join(broadcast(dim),
          facts("ip_long") >= dim("ip_start") && facts("ip_long") <= dim("ip_end"),
          "left")
        .groupBy("geo_country", "as_number")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users"))
    },
    Some(geoipOracleSql),
    liveness = geoipLiveness)

  /** P10+P11 production twin for UNBOUNDED range dims: the broadcast
    * nested-loop join above is right for a 25-row dim but probes every
    * range per row — O(rows×ranges) dies on a real ~3M-range GeoLite2
    * table. The scale shape is the bucketed range join: bucket the ip
    * space on a 2^16 equi-key, replicate each dim range once per bucket
    * it spans (ranges are narrow — CIDR blocks — so the blowup is ~1–2×),
    * then a plain HASH join on the bucket with the range check left as
    * the residual condition probes only same-bucket candidates. The
    * replicated dim stays broadcastable (3M rows × 2 ≈ 100 MB with a
    * raised threshold) or shuffles as a normal equi-join — either way no
    * per-row scan of the range table and an unshuffled probe side.
    * Same oracle as np_geoip_join: identical semantics, different plan. */
  val geoipBucketedOp = QueryDef(
    "np_geoip_bucketed",
    (s, dir) => {
      val bw = 65536L // 2^16 bucket width
      val facts = geoFacts(s, dir)
        .withColumn("fb", expr(s"ip_long div $bw"))
      val dimExp = geoDim(s, dir).withColumn("db",
        explode(expr(s"sequence(ip_start div $bw, ip_end div $bw)")))
      facts.join(broadcast(dimExp),
          col("fb") === col("db") &&
            col("ip_long") >= col("ip_start") && col("ip_long") <= col("ip_end"),
          "left")
        .groupBy("geo_country", "as_number")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users"))
    },
    Some(geoipOracleSql),
    liveness = geoipLiveness)

  /** The OpenSearch `geo_distance` query over the geoip-enriched output
    * — the map-dashboard primitive the ES downstream serves from the
    * enrich pipeline's source.geo fields (axway-ingest.json:90–108):
    * "events within R km of each dashboard center, bubbled per
    * country". The geo dim carries a deterministic synthetic point per
    * nation (exact .5-degree values, so the decimal→double conversion
    * is exact in both engines — FIXTURES.md discipline).
    *
    * Scale shape: the geo attach is the bucketed broadcast range join
    * (np_geoip_bucketed); the center set is a tiny broadcast dim; the
    * BOUNDING-BOX prefilter — pure +,−,abs,least column math, IEEE-
    * deterministic across engines, antimeridian-aware — discards the
    * far rows BEFORE any trigonometry runs, so the haversine (sin/cos/
    * asin, the only last-ulp-engine-dependent step, output rounded to
    * 3 dp ≈ 1 m) evaluates on candidates only. No shuffle anywhere
    * below the final per-(center, country) aggregate. */
  // "spc" (r20 gate-liveness audit): a South-Pacific center reaching
  // the nations sf0.001's user set actually hits (nk1/nk2 at 2212 /
  // 634 km) — without it every center was > 3000 km from all three
  // reachable nations and the key returned ZERO rows at sf0.001; the
  // nearest (center, point) pair to the radius is the pre-existing
  // (sgp, nk10) at 2970.5 km, 29.5 km inside — eight orders above ulp
  private val geoCenters = Seq(("nyc", 40.5, -74.0), ("sgp", 1.5, 103.8),
    ("syd", -33.9, 151.2), ("spc", -50.0, -120.0))
  private val geoRadiusKm = 3000.0
  private val geoLatWin = 27.1 // 3000 km / 111 km-per-degree, rounded up
  private val geoLonWin = 80.0 // conservative for |lat| ≤ 68.5 (max synth point)
  /** One haversine text shared by BOTH engines: identical operation
    * order keeps the IEEE steps bit-aligned; only the transcendental
    * calls themselves can differ, within 1 ulp, absorbed by round(3). */
  private val havKm: String =
    "2 * 6371.0 * asin(sqrt(" +
      "sin((geo_lat - q_lat) * pi() / 360) * sin((geo_lat - q_lat) * pi() / 360) + " +
      "cos(q_lat * pi() / 180) * cos(geo_lat * pi() / 180) * " +
      "sin((geo_lon - q_lon) * pi() / 360) * sin((geo_lon - q_lon) * pi() / 360)))"
  private val bboxSql: String =
    s"abs(geo_lat - q_lat) <= $geoLatWin AND " +
      s"least(abs(geo_lon - q_lon), 360 - abs(geo_lon - q_lon)) <= $geoLonWin"

  /** Events enriched with their nation's synthetic geo point via the
    * bucketed broadcast range join (the np_geoip_bucketed shape).
    * `dimPrune` filters the DIMENSION before the join — the at-scale
    * discipline for spatial queries: a real 3M-range GeoLite dim
    * shrinks to the query region's ranges before anything broadcasts,
    * and out-of-region events simply fail the join (inner). */
  private def geoEnrichedFacts(s: SparkSession, dir: String,
                               dimPrune: Option[Column] = None): DataFrame = {
    val bw = 65536L
    val facts = al(s, dir)
      .withColumn("ip_long", expr("(user_id * 7919) % 1048576"))
      .withColumn("fb", expr(s"ip_long div $bw"))
    val dim0 = geoDim(s, dir)
      .withColumn("geo_lat", (col("as_number") - 64512L) * 7 % 140 - 70 + lit(0.5))
      .withColumn("geo_lon", (col("as_number") - 64512L) * 31 % 360 - 180 + lit(0.5))
    val dimPruned = dimPrune.map(dim0.filter).getOrElse(dim0)
    val dimExp = dimPruned
      .withColumn("db", explode(expr(s"sequence(ip_start div $bw, ip_end div $bw)")))
    facts.join(broadcast(dimExp),
      col("fb") === col("db") &&
        col("ip_long") >= col("ip_start") && col("ip_long") <= col("ip_end"))
  }

  /** The nation-derived geo dim as oracle SQL (ranges + the synthetic
    * point), shared by every geo oracle. */
  private val geoDimSql: String =
    """(SELECT n_nationkey * 41943 AS ip_start, n_nationkey * 41943 + 41942 AS ip_end,
      |    n_name AS geo_country,
      |    CAST((n_nationkey * 7) % 140 - 70 + 0.5 AS DOUBLE) AS geo_lat,
      |    CAST((n_nationkey * 31) % 360 - 180 + 0.5 AS DOUBLE) AS geo_lon
      |  FROM nation)""".stripMargin

  val geoDistanceOp = QueryDef(
    "ns_geo_distance",
    (s, dir) => {
      import s.implicits._
      val centers = geoCenters.toDF("center", "q_lat", "q_lon")
      geoEnrichedFacts(s, dir)
        .crossJoin(broadcast(centers))
        .filter(expr(bboxSql))                    // cheap IEEE-exact prefilter
        .withColumn("dist_km", expr(havKm))       // trig on candidates only
        .filter(col("dist_km") <= geoRadiusKm)
        .groupBy("center", "geo_country")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users"),
          round(min(col("dist_km")), 3).as("min_km"),
          round(max(col("dist_km")), 3).as("max_km"))
    },
    Some(Synth.withAccessLog(
      s"""SELECT center, geo_country, count(*) AS n, count(DISTINCT user_id) AS nd_users,
         |  round(min($havKm), 3) AS min_km, round(max($havKm), 3) AS max_km
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |CROSS JOIN (VALUES ${geoCenters.map { case (n, la, lo) =>
             s"('$n', CAST($la AS DOUBLE), CAST($lo AS DOUBLE))" }.mkString(", ")})
         |  AS c(center, q_lat, q_lon)
         |WHERE $bboxSql AND $havKm <= $geoRadiusKm
         |GROUP BY 1, 2""".stripMargin)))

  /** The OpenSearch `geo_bounding_box` query — the other map primitive
    * ("everything inside the viewport"). Unlike geo_distance, a box IS
    * pure range predicates, so the at-scale shape is dimension-side
    * pruning: the geo dim filters to in-box points BEFORE it explodes
    * and broadcasts — a real 3M-range GeoLite dim shrinks to the
    * viewport's ranges, and out-of-box events never match the inner
    * join. Bounds are integers against .5-offset synthetic points, so
    * no comparison can sit on a boundary. */
  // bounds chosen so the box BITES (10 of 25 nation points inside) yet
  // stays live at EVERY shipped SF (r20 gate-liveness audit: the old
  // −10/−90 box excluded all three nations sf0.001's 20 users reach, so
  // the key returned ZERO rows there — the empty-result pathology);
  // nation points sit on X.5 and the bounds are integers ≥ 1.5 away,
  // so no comparison can sit on a boundary
  private val boxTop = 45L      // lat ≤ 45
  private val boxBottom = -65L  // lat ≥ -65 (admits nk1 −62.5, nk2 −55.5)
  private val boxLeft = -150L   // lon ≥ -150 (admits nk1 −148.5)
  private val boxRight = 60L    // lon ≤ 60
  val geoBoundingBoxOp = QueryDef(
    "ns_geo_bounding_box",
    (s, dir) => geoEnrichedFacts(s, dir, dimPrune = Some(
        col("geo_lat") <= boxTop && col("geo_lat") >= boxBottom &&
          col("geo_lon") >= boxLeft && col("geo_lon") <= boxRight))
      .groupBy("geo_country", "geo_lat", "geo_lon")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users")),
    Some(Synth.withAccessLog(
      s"""SELECT geo_country, geo_lat, geo_lon, count(*) AS n,
         |  count(DISTINCT user_id) AS nd_users
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |WHERE geo_lat <= $boxTop AND geo_lat >= $boxBottom
         |  AND geo_lon >= $boxLeft AND geo_lon <= $boxRight
         |GROUP BY 1, 2, 3""".stripMargin)),
    // the viewport BITES: matches exist, yet not every country is in-box
    liveness = Seq(
      "box_selects_proper_nonempty_subset" ->
        ("SELECT (SELECT count(*) FROM r) > 0 AND " +
          "(SELECT count(DISTINCT geo_country) FROM r) < (SELECT count(*) FROM nation)")))

  /** The OpenSearch `geotile_grid` aggregation — the map-clustering agg
    * behind every zoomed-out dashboard: events bucketed into web-
    * mercator z/x/y tiles. One shared formula text keeps both engines'
    * IEEE steps aligned; tan/ln (the engine-dependent calls) feed a
    * floor whose inputs sit ≥ 0.011 tiles from every boundary on this
    * dim (measured), eight orders above ulp risk. Points here are
    * within ±69.5°, so ES's ±85.05° mercator clamp never engages. One
    * codegen pass over the enriched stream, |tiles|-bounded shuffle. */
  private val tileZoom = 3
  private def tileXyAt(z: Int): String = {
    val n = 1 << z
    val x = s"CAST(floor((geo_lon + 180) / 360 * $n) AS BIGINT)"
    val y = s"CAST(floor((1 - ln(tan(geo_lat * pi() / 180) + 1 / cos(geo_lat * pi() / 180)) / pi()) / 2 * $n) AS BIGINT)"
    s"concat('$z/', $x, '/', $y)"
  }
  private val tileXy: String = tileXyAt(tileZoom)
  val geotileGridOp = QueryDef(
    "ns_agg_geotile_grid",
    (s, dir) => geoEnrichedFacts(s, dir)
      .withColumn("tile", expr(tileXy))
      .groupBy("tile")
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("geo_country")).as("nd_countries")),
    Some(Synth.withAccessLog(
      s"""SELECT $tileXy AS tile, count(*) AS doc_count,
         |  count(DISTINCT geo_country) AS nd_countries
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |GROUP BY 1""".stripMargin)))

  /** The `_mvt` vector-tile endpoint (Kibana Maps calls it per map
    * tile): given a requested (z, x, y) tile, return a sub-grid
    * aggregation of the points inside it — per-cell doc_count plus the
    * cell centroid (ES's default grid_agg=geotile + centroid metric).
    * Membership uses the tile formula itself at the requested zoom
    * (exact equality — no floating bbox-boundary ambiguity), and the
    * requested tile prunes the geo DIMENSION before it broadcasts
    * (the ns_geo_polygon discipline), so off-tile IP blocks never
    * enter the join. Sub-cells at z+3 = the 8×8 grid ES renders per
    * tile; centroids ride the exact ×2-long sums (the geo_centroid
    * discipline). */
  // z2 x0/y2 = lon [−180,−90), lat (−66.51, 0] — the tile holding the
  // nations sf0.001's users reach (nk1/nk2; the old 2/2/1 north-east
  // tile was EMPTY at sf0.001 — r20 gate-liveness audit)
  private val mvtTile = "2/0/2"
  val mvtOp = QueryDef(
    "ns_search_mvt",
    (s, dir) => geoEnrichedFacts(s, dir,
        dimPrune = Some(expr(s"${tileXyAt(2)} = '$mvtTile'")))
      .withColumn("cell", expr(tileXyAt(5)))
      .groupBy("cell")
      .agg(count(lit(1)).as("doc_count"),
        sum((col("geo_lat") * 2).cast("long")).as("slat2"),
        sum((col("geo_lon") * 2).cast("long")).as("slon2"))
      .select(col("cell"), col("doc_count"),
        round(col("slat2").cast("double") / 2 / col("doc_count"), 6).as("centroid_lat"),
        round(col("slon2").cast("double") / 2 / col("doc_count"), 6).as("centroid_lon")),
    Some(Synth.withAccessLog(
      s"""SELECT ${tileXyAt(5)} AS cell, count(*) AS doc_count,
         |  round(CAST(CAST(sum(CAST(geo_lat * 2 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 2 / count(*), 6) AS centroid_lat,
         |  round(CAST(CAST(sum(CAST(geo_lon * 2 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 2 / count(*), 6) AS centroid_lon
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |WHERE ${tileXyAt(2)} = '$mvtTile'
         |GROUP BY 1""".stripMargin)))

  /** P13: painless TLS-version script (axway-ingest.json:130–135). */
  val tlsVersionOp = QueryDef(
    "np_tls_version",
    (s, dir) => al(s, dir)
      .withColumn("ver_raw", element_at(split(col("protocol"), "v"), 2))
      .select(
        col("event_id"), col("protocol"),
        when(col("ver_raw").contains("."), col("ver_raw"))
          .otherwise(concat(col("ver_raw"), lit(".0"))).as("tls_version"),
        lower(element_at(split(col("protocol"), "v"), 1)).as("tls_version_protocol")),
    Some(Synth.withAccessLog(
      """SELECT event_id, protocol,
        |  CASE WHEN contains(string_split(protocol, 'v')[2], '.') THEN string_split(protocol, 'v')[2]
        |       ELSE concat(string_split(protocol, 'v')[2], '.0') END AS tls_version,
        |  lower(string_split(protocol, 'v')[1]) AS tls_version_protocol
        |FROM access_log""".stripMargin)),
    // both script branches: dotted versions pass through, the dotless
    // SSLv3 form gains the '.0'
    liveness = Seq(
      "both_version_normalize_branches" ->
        ("SELECT count(CASE WHEN tls_version = '3.0' THEN 1 END) > 0 AND " +
          "count(CASE WHEN tls_version <> '3.0' THEN 1 END) > 0 FROM r")))

  // ---------------------------------------------- ES processor residue (r13)
  // The reference's own pipeline (P0–P15 above) is closed; these are the
  // most-hit remaining processors of ES's generic ingest library, each a
  // ONE-PASS codegen projection over the access log (regexp_extract /
  // md5 / CASE are whole-stage-codegen'd; no shuffle, no join, no UDF) —
  // at 100 TB every one of these is a map-only stage that saturates scan
  // bandwidth.

  /** The `csv` ingest processor: split a csv line into declared target
    * fields, honoring a quoted field (the xff value carries a comma).
    * ES's processor declares target_fields statically in the pipeline —
    * the fixed-arity regex IS that declaration. */
  val csvOp = QueryDef(
    "np_csv", { (s, dir) =>
      val rx = "^([^,]*),([^,]*),\"([^\"]*)\",(.*)$"
      // one regex pass for all four target fields (r22): four
      // regexp_extract calls over the same pattern are four full matches
      // per row — RegExpExtractStruct shares the identical no-match
      // convention ("" everywhere), so results are unchanged
      al(s, dir)
        .withColumn("csv_line",
          concat(col("ip"), lit(","), col("method"), lit(",\""), col("xff"),
            lit("\","), col("status")))
        .withColumn("_c", graft.expr.GrokFunctions.regexp_extract_struct(
          col("csv_line"), rx, Seq("src_ip", "http_method", "fwd", "st")))
        .select(col("event_id"),
          col("_c.src_ip").as("src_ip"),
          col("_c.http_method").as("http_method"),
          col("_c.fwd").as("fwd"),
          col("_c.st").cast("long").as("st"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  regexp_extract(csv_line, '^([^,]*),([^,]*),"([^"]*)",(.*)$', 1) AS src_ip,
        |  regexp_extract(csv_line, '^([^,]*),([^,]*),"([^"]*)",(.*)$', 2) AS http_method,
        |  regexp_extract(csv_line, '^([^,]*),([^,]*),"([^"]*)",(.*)$', 3) AS fwd,
        |  CAST(regexp_extract(csv_line, '^([^,]*),([^,]*),"([^"]*)",(.*)$', 4) AS BIGINT) AS st
        |FROM (SELECT event_id,
        |    concat(ip, ',', method, ',"', xff, '",', status) AS csv_line
        |  FROM access_log)""".stripMargin)))

  /** The `kv` ingest processor over the url's query string
    * (field_split=`&`, value_split=`=`, include_keys=[limit,page] — the
    * declared-keys mode every structured-log pipeline uses). */
  val kvOp = QueryDef(
    "np_kv", { (s, dir) =>
      al(s, dir)
        .withColumn("qs", element_at(split(col("url"), "\\?"), 2))
        .select(col("event_id"),
          regexp_extract(col("qs"), "(?:^|&)limit=([^&]*)", 1).cast("long").as("kv_limit"),
          regexp_extract(col("qs"), "(?:^|&)page=([^&]*)", 1).cast("long").as("kv_page"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  CAST(regexp_extract(qs, '(?:^|&)limit=([^&]*)', 1) AS BIGINT) AS kv_limit,
        |  CAST(regexp_extract(qs, '(?:^|&)page=([^&]*)', 1) AS BIGINT) AS kv_page
        |FROM (SELECT event_id, string_split(url, '?')[2] AS qs FROM access_log)""".stripMargin)))

  /** The `urldecode` processor: percent-decoding plus `+`-as-space.
    * Spark's native url_decode handles EVERY escape; the oracle decodes
    * the escapes the synthetic input contains (DuckDB has no scalar url
    * decoder), which is equality on this input, not a narrower engine. */
  val urldecodeOp = QueryDef(
    "np_urldecode", { (s, dir) =>
      al(s, dir)
        .withColumn("enc", concat(lit("path%20to%2Fitem+"), col("event_type")))
        .select(col("event_id"), col("enc"), url_decode(col("enc")).as("dec"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id, enc,
        |  replace(replace(replace(enc, '%20', ' '), '%2F', '/'), '+', ' ') AS dec
        |FROM (SELECT event_id, concat('path%20to%2Fitem+', event_type) AS enc
        |  FROM access_log)""".stripMargin)))

  /** The `user_agent` processor: browser/OS/device extraction from the
    * UA string — uap-core's regex-rule approach over the five canonical
    * agents the synthetic traffic carries (a declared rule subset, the
    * way a real deployment ships a pinned regexes.yaml). */
  private val uaExpr =
    """CASE event_type
      |  WHEN 'view' THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'
      |  WHEN 'click' THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 Version/17.0 Safari/605.1.15'
      |  WHEN 'signup' THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0'
      |  WHEN 'purchase' THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 Version/17.0 Mobile/15E148 Safari/604.1'
      |  ELSE 'curl/8.4.0' END""".stripMargin
  val userAgentOp = QueryDef(
    "np_user_agent", { (s, dir) =>
      al(s, dir)
        .withColumn("ua", expr(uaExpr))
        .select(col("event_id"),
          when(col("ua").rlike("Chrome/"), "Chrome")
            .when(col("ua").rlike("Firefox/"), "Firefox")
            .when(col("ua").rlike("^curl/"), "curl")
            .when(col("ua").rlike("Safari"), "Safari")
            .otherwise("Other").as("ua_name"),
          when(col("ua").rlike("iPhone"), "iOS")
            .when(col("ua").rlike("Windows NT"), "Windows")
            .when(col("ua").rlike("Macintosh"), "Mac OS X")
            .when(col("ua").rlike("Linux"), "Linux")
            .otherwise("Other").as("ua_os"),
          when(col("ua").rlike("iPhone"), "iPhone")
            .otherwise("Other").as("ua_device"),
          when(col("ua").rlike("Chrome/"), regexp_extract(col("ua"), "Chrome/([0-9.]+)", 1))
            .when(col("ua").rlike("Firefox/"), regexp_extract(col("ua"), "Firefox/([0-9.]+)", 1))
            .when(col("ua").rlike("^curl/"), regexp_extract(col("ua"), "curl/([0-9.]+)", 1))
            .when(col("ua").rlike("Version/"), regexp_extract(col("ua"), "Version/([0-9.]+)", 1))
            .otherwise(lit(null).cast("string")).as("ua_version"))
    },
    Some(Synth.withAccessLog(
      s"""SELECT event_id,
        |  CASE WHEN regexp_matches(ua, 'Chrome/') THEN 'Chrome'
        |       WHEN regexp_matches(ua, 'Firefox/') THEN 'Firefox'
        |       WHEN regexp_matches(ua, '^curl/') THEN 'curl'
        |       WHEN regexp_matches(ua, 'Safari') THEN 'Safari'
        |       ELSE 'Other' END AS ua_name,
        |  CASE WHEN regexp_matches(ua, 'iPhone') THEN 'iOS'
        |       WHEN regexp_matches(ua, 'Windows NT') THEN 'Windows'
        |       WHEN regexp_matches(ua, 'Macintosh') THEN 'Mac OS X'
        |       WHEN regexp_matches(ua, 'Linux') THEN 'Linux'
        |       ELSE 'Other' END AS ua_os,
        |  CASE WHEN regexp_matches(ua, 'iPhone') THEN 'iPhone' ELSE 'Other' END AS ua_device,
        |  CASE WHEN regexp_matches(ua, 'Chrome/') THEN regexp_extract(ua, 'Chrome/([0-9.]+)', 1)
        |       WHEN regexp_matches(ua, 'Firefox/') THEN regexp_extract(ua, 'Firefox/([0-9.]+)', 1)
        |       WHEN regexp_matches(ua, '^curl/') THEN regexp_extract(ua, 'curl/([0-9.]+)', 1)
        |       WHEN regexp_matches(ua, 'Version/') THEN regexp_extract(ua, 'Version/([0-9.]+)', 1)
        |       END AS ua_version
        |FROM (SELECT event_id, $uaExpr AS ua FROM access_log)""".stripMargin)))

  /** The `registered_domain` processor: eTLD+1 extraction under a
    * declared public-suffix subset ({co.uk, github.io, com, org} —
    * longest suffix wins, exactly the PSL walk), with ES's trio of
    * outputs: registered_domain, the eTLD, and the subdomain; a host
    * with no listed suffix (localhost) yields nulls, as ES documents. */
  val registeredDomainOp = QueryDef(
    "np_registered_domain", { (s, dir) =>
      al(s, dir)
        .withColumn("host",
          when(col("event_id") % 11 === 0, lit("localhost"))
            .otherwise(concat(lit("api.shop"), col("user_id") % 5,
              when(col("event_id") % 4 === 0, ".co.uk")
                .when(col("event_id") % 4 === 1, ".github.io")
                .when(col("event_id") % 4 === 2, ".com")
                .otherwise(".org"))))
        .select(col("event_id"), col("host"),
          when(col("host").endsWith(".co.uk"),
              regexp_extract(col("host"), "([^.]+\\.co\\.uk)$", 1))
            .when(col("host").endsWith(".github.io"),
              regexp_extract(col("host"), "([^.]+\\.github\\.io)$", 1))
            .when(col("host").endsWith(".com"),
              regexp_extract(col("host"), "([^.]+\\.com)$", 1))
            .when(col("host").endsWith(".org"),
              regexp_extract(col("host"), "([^.]+\\.org)$", 1))
            .as("registered_domain"),
          when(col("host").endsWith(".co.uk"), "co.uk")
            .when(col("host").endsWith(".github.io"), "github.io")
            .when(col("host").endsWith(".com"), "com")
            .when(col("host").endsWith(".org"), "org")
            .as("etld"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id, host,
        |  CASE WHEN suffix(host, '.co.uk') THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
        |       WHEN suffix(host, '.github.io') THEN regexp_extract(host, '([^.]+\.github\.io)$', 1)
        |       WHEN suffix(host, '.com') THEN regexp_extract(host, '([^.]+\.com)$', 1)
        |       WHEN suffix(host, '.org') THEN regexp_extract(host, '([^.]+\.org)$', 1)
        |       END AS registered_domain,
        |  CASE WHEN suffix(host, '.co.uk') THEN 'co.uk'
        |       WHEN suffix(host, '.github.io') THEN 'github.io'
        |       WHEN suffix(host, '.com') THEN 'com'
        |       WHEN suffix(host, '.org') THEN 'org'
        |       END AS etld
        |FROM (SELECT event_id,
        |    CASE WHEN event_id % 11 = 0 THEN 'localhost'
        |         ELSE concat('api.shop', user_id % 5,
        |           CASE WHEN event_id % 4 = 0 THEN '.co.uk'
        |                WHEN event_id % 4 = 1 THEN '.github.io'
        |                WHEN event_id % 4 = 2 THEN '.com'
        |                ELSE '.org' END) END AS host
        |  FROM access_log)""".stripMargin)))

  /** The `bytes` processor: human-readable sizes ("64kb") to a byte
    * count — numeric prefix × the binary unit multiplier, ES's exact
    * table (b/kb/mb/gb = 1/2^10/2^20/2^30). */
  val bytesOp = QueryDef(
    "np_bytes", { (s, dir) =>
      al(s, dir)
        .withColumn("sz", concat((col("event_id") % 900).cast("string"),
          when(col("event_id") % 4 === 0, "b").when(col("event_id") % 4 === 1, "kb")
            .when(col("event_id") % 4 === 2, "mb").otherwise("gb")))
        .select(col("event_id"), col("sz"),
          (regexp_extract(col("sz"), "^([0-9]+)", 1).cast("long") *
            when(col("sz").endsWith("kb"), 1024L)
              .when(col("sz").endsWith("mb"), 1048576L)
              .when(col("sz").endsWith("gb"), 1073741824L)
              .otherwise(1L)).as("size_bytes"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id, sz,
        |  CAST(regexp_extract(sz, '^([0-9]+)', 1) AS BIGINT) *
        |    CASE WHEN suffix(sz, 'kb') THEN 1024
        |         WHEN suffix(sz, 'mb') THEN 1048576
        |         WHEN suffix(sz, 'gb') THEN 1073741824
        |         ELSE 1 END AS size_bytes
        |FROM (SELECT event_id,
        |    concat(CAST(event_id % 900 AS VARCHAR),
        |      CASE WHEN event_id % 4 = 0 THEN 'b' WHEN event_id % 4 = 1 THEN 'kb'
        |           WHEN event_id % 4 = 2 THEN 'mb' ELSE 'gb' END) AS sz
        |  FROM access_log)""".stripMargin)))

  /** The `html_strip` processor (the analyzer char-filter ES also
    * exposes as an ingest step): remove script/style blocks wholesale,
    * strip remaining tags, decode the common entities, collapse runs
    * of whitespace. The chain is fixed regexp_replace/replace steps —
    * one codegen pass; for a web-crawl training corpus this is the
    * FIRST operator every document passes, so map-only matters. The
    * synthetic input wraps each document's text in markup with an
    * embedded script and entity so every step is exercised. */
  val htmlStripOp = QueryDef(
    "np_html_strip", { (s, dir) =>
      Par.spread(s, Tables.documents(s, dir), col("doc_id"))
        .withColumn("html",
          concat(lit("<html><body><h1 class=\"t\">T &amp; H</h1><p>"),
            col("text"),
            lit("</p><script>var x = 1 &lt; 2;</script><style>p{}</style></body></html>")))
        .withColumn("stripped",
          regexp_replace(regexp_replace(regexp_replace(col("html"),
            "(?s)<(script|style)[^>]*>.*?</(script|style)>", ""),
            "<[^>]+>", " "), "\\s+", " "))
        .withColumn("clean", trim(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("stripped"),
            "&amp;", "&"), "&lt;", "<"), "&gt;", ">"), "&quot;", "\"")))
        .select(col("doc_id"), col("clean"),
          length(col("html")).cast("long").as("n_html_chars"),
          length(col("clean")).cast("long").as("n_clean_chars"))
    },
    Some("""SELECT doc_id, clean,
      |  CAST(length(html) AS BIGINT) AS n_html_chars,
      |  CAST(length(clean) AS BIGINT) AS n_clean_chars
      |FROM (SELECT doc_id, html,
      |    trim(replace(replace(replace(replace(
      |      regexp_replace(regexp_replace(regexp_replace(html,
      |        '(?s)<(script|style)[^>]*>.*?</(script|style)>', '', 'g'),
      |        '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g'),
      |      '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"')) AS clean
      |  FROM (SELECT doc_id,
      |      concat('<html><body><h1 class="t">T &amp; H</h1><p>', text,
      |        '</p><script>var x = 1 &lt; 2;</script><style>p{}</style></body></html>')
      |        AS html
      |    FROM documents))""".stripMargin))

  /** The `fingerprint` processor: a stable content hash over the
    * declared field list (sorted field order, `|` separator, md5 — the
    * processor's defaults), the dedup/idempotency key every reindex
    * pipeline stamps. */
  val fingerprintOp = QueryDef(
    "np_fingerprint", { (s, dir) =>
      al(s, dir).select(col("event_id"),
        md5(concat_ws("|", col("ip"), col("method"), col("url"))).as("fingerprint"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id, md5(concat_ws('|', ip, method, url)) AS fingerprint
        |FROM access_log""".stripMargin)))

  // ------------------------------------------------- community_id (ECS)
  /** IPv4 dotted-quad → u32 — the ONE shared implementation
    * (EsqlParser.ip4u32, also behind CIDR_MATCH/IP_PREFIX). */
  private def ip4u32(ip: Column): Column = EsqlParser.ip4u32(ip)

  /** Membership in the RFC-1918 internal ranges (10/8, 172.16/12,
    * 192.168/16) — prefix compares on the u32, one codegen pass. */
  private def isInternal(u32: Column): Column =
    shiftright(u32, 24) === 10L ||
      shiftright(u32, 20) === 2753L || // 172.16.0.0/12 → top 12 bits
      shiftright(u32, 16) === 49320L  // 192.168.0.0/16

  /** The `community_id` processor — ECS's flow hash (the Corelight
    * community-id spec, v1): sha1 over seed(be16) · ip_a(be32) ·
    * ip_b(be32) · proto(8) · 0x00 · port_a(be16) · port_b(be16), with
    * (a, b) the CANONICAL endpoint ordering (swap when source > dest as
    * (ip, port) byte tuples), base64-encoded under a "1:" prefix. Every
    * ECS network pipeline stamps it so both flow directions correlate
    * to ONE id. Pure codegen: the byte string assembles as one hex
    * concat → unhex, sha1 and base64 are codegen builtins — map-only,
    * no shuffle, no UDF. DuckDB has no sha1, so the key is a documented
    * `no_oracle` contract entry (the gunzip class): CommunityIdSpec
    * pins the spec's published test vectors AND cross-checks the column
    * against an independent JVM MessageDigest implementation row-by-row
    * on the synthesized flows. */
  /** IPv6 text address → 32-char uppercase hex of the 16 bytes
    * (RFC-4291 hex groups, with at most one `::` zero-compression,
    * plus §2.2 form 3's embedded dotted-quad tail — `::ffff:1.2.3.4`,
    * `64:ff9b::1.2.3.4`, `a:b:c:d:e:f:1.2.3.4` — which stands for the
    * last 32 bits; r18 advice). Pure codegen array/string functions —
    * map-only, no UDF. Any malformation yields NULL (the group regex
    * gate), which nulls the whole id downstream rather than minting a
    * nonconforming hash. Fixed-width uppercase hex also gives the
    * spec's byte-tuple CANONICAL ordering as plain string comparison. */
  private[graft] def ip6hex(ip: Column): Column = {
    val raw = lower(ip)
    // embedded dotted-quad tail: validate the quad with the SAME strict
    // octet grammar as the v4 leg (inet_pton semantics — leading-zero
    // octets and out-of-range values do NOT rewrite, so the hex-group
    // regex below nulls the whole address), then rewrite it as its two
    // hex groups and let the ordinary group-form validation judge the
    // rewritten whole. "::ffff:300.1.1.1" keeps its dotted tail and
    // nulls; ":1.2.3.4" rewrites to ":102:304" and nulls.
    val quad = regexp_extract(raw, s"^.*:($ip4Octet(\\.$ip4Octet){3})$$", 1)
    val qu = ip4u32(quad)
    val norm = when(quad === "" || quad.isNull, raw).otherwise(concat(
      regexp_extract(raw, s"^(.*:)$ip4Octet(\\.$ip4Octet){3}$$", 1),
      lower(hex(shiftright(qu, 16))), lit(":"),
      lower(hex(qu.bitwiseAND(lit(65535L))))))
    // whole-address validation FIRST (r17 review: an unconditional
    // empty-group filter would accept "1:::2" / trailing-lone-colon
    // forms and mint the SAME id as a different valid address —
    // malformed telemetry must null, never falsely correlate): the
    // full form is exactly 8 colon-separated groups; the compressed
    // form is optional group runs strictly ADJACENT to one "::"
    val h = "[0-9a-f]{1,4}"
    val fullRx = s"^$h(:$h){7}$$"
    val compRx = s"^($h(:$h)*)?::($h(:$h)*)?$$"
    def gs(c: Column): Column = filter(split(c, ":"), g => g =!= lit(""))
    def hexOf(groups: Column): Column =
      upper(array_join(transform(groups, g => lpad(g, 4, "0")), ""))
    val parts = split(norm, "::", -1)
    val lhs = gs(element_at(parts, 1))
    val rhs = gs(try_element_at(parts, lit(2)))
    val zeros = substring(lit("0" * 32), lit(1), lit(32) - (size(lhs) + size(rhs)) * 4)
    when(norm.rlike(compRx) && size(lhs) + size(rhs) <= lit(7),
      concat(hexOf(lhs), zeros, hexOf(rhs)))
      .when(norm.rlike(fullRx), hexOf(gs(norm)))
  }

  /** Per-row address encoding: the family dispatch BOTH entry points
    * share — fixed-width uppercase hex (8 chars v4, 32 chars v6), null
    * on malformation. The v4 leg validates the dotted quad first (r17
    * second-review find, the same defect class as the v6 fix): without
    * the octet-range gate, "300.1.1.1" encodes to NINE hex chars that
    * lpad TRUNCATES to the exact encoding of 18.192.16.16 — a
    * malformed address silently minting a DIFFERENT valid flow's id —
    * and a five-octet "1.2.3.4.5" hashes identically to "1.2.3.4"
    * (ip4u32 reads the first four). Leading-zero octets REJECT (r18
    * advice): inet_pton — the community-id reference implementations'
    * parser — refuses them to avoid the octal-ambiguity trap, so
    * "01.2.3.4" must null rather than hash as 1.2.3.4 (the JDK's
    * InetAddress accepts them; IpParseFuzzSpec's reference gates the
    * same grammar before delegating to the JDK for bytes). */
  private val ip4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
  private val ip4Rx = s"^$ip4Octet(\\.$ip4Octet){3}$$"
  private[graft] def ipHexCol(ip: Column): Column =
    when(ip.contains(":"), ip6hex(ip))
      .when(ip.rlike(ip4Rx), lpad(hex(ip4u32(ip)), 8, "0"))

  private[graft] def communityId(srcIp: Column, dstIp: Column,
      srcPort: Column, dstPort: Column, proto: Column, seed: Int = 0,
      icmpType: Column = lit(null), icmpCode: Column = lit(null)): Column =
    communityIdFromHex(ipHexCol(srcIp), ipHexCol(dstIp),
      srcPort, dstPort, proto, seed, icmpType, icmpCode)

  /** The flow hash over PRE-ENCODED address hex (ipHexCol). The
    * declared operator stages the two hex columns in their own
    * projection first: the encoding (regex validation + group
    * parsing for v6) appears 4× in this expression tree's conditional
    * branches, where codegen's subexpression elimination cannot reach —
    * staging computes each ONCE per row and CollapseProject keeps the
    * stage (it never inlines non-cheap multi-use aliases), which is
    * the difference between ~0.9 s and ~0.3 s per sf0.1 pass.
    *
    * Supported protocols: the port-carrying ones (tcp/udp/sctp) plus
    * ICMPv4 and ICMPv6, over EITHER address family (v4 dotted-quad or
    * v6 hex groups — detected per row, encoded to fixed-width
    * hex so one concat→unhex→sha1 pass serves both). ICMP hashes
    * type/code as PSEUDO-ports (spec §ICMP): a type with a known reply
    * type is TWO-WAY — the pseudo-port pair is (type, reply[type]) and
    * the normal canonical ordering applies, so an echo request and its
    * reply correlate to ONE id; a type without a reply mapping is
    * ONE-WAY — (type, code), endpoint order KEPT as given. ICMPv6 uses
    * the spec's OWN v6 type map under proto 58. An icmp row whose
    * type/code columns are absent (the old 5-tuple record) yields NULL
    * rather than a nonconforming id (the processor's ignore_missing
    * stance), as does a MIXED-family pair (the spec hashes same-family
    * byte tuples — detected as unequal hex WIDTHS) or a proto/family
    * mismatch; CommunityIdSpec pins the spec-derived vectors (v4 + v6)
    * and the null contracts. */
  private[graft] def communityIdFromHex(sHex: Column, dHex: Column,
      srcPort: Column, dstPort: Column, proto: Column, seed: Int = 0,
      icmpType: Column = lit(null), icmpCode: Column = lit(null)): Column = {
    val protoNum = when(proto === "tcp", 6L).when(proto === "udp", 17L)
      .when(proto === "sctp", 132L).when(proto === "icmp", 1L)
      .when(proto === "ipv6-icmp", 58L)
    // family from the encoding's fixed width (8 = v4, 32 = v6); a
    // malformed address has NULL hex, which nulls these and the id
    val srcV6 = length(sHex) === 32
    val dstV6 = length(dHex) === 32
    def hex16(c: Column) = lpad(hex(c), 4, "0")
    val isIcmp = proto === "icmp"
    val isIcmp6 = proto === "ipv6-icmp"
    // ICMPv4 request→reply type mapping (spec §ICMP, v1)
    val reply4 = when(icmpType === 8, 0L).when(icmpType === 0, 8L)
      .when(icmpType === 13, 14L).when(icmpType === 14, 13L)
      .when(icmpType === 15, 16L).when(icmpType === 16, 15L)
      .when(icmpType === 10, 9L).when(icmpType === 9, 10L)
      .when(icmpType === 17, 18L).when(icmpType === 18, 17L)
    // ICMPv6 request→reply type mapping (spec §ICMP, v1): echo 128/129,
    // MLD query/report 130/131, router sol/adv 133/134, neighbor
    // sol/adv 135/136, node-info 139/140, home-agent 144/145
    val reply6 = when(icmpType === 128, 129L).when(icmpType === 129, 128L)
      .when(icmpType === 130, 131L).when(icmpType === 131, 130L)
      .when(icmpType === 133, 134L).when(icmpType === 134, 133L)
      .when(icmpType === 135, 136L).when(icmpType === 136, 135L)
      .when(icmpType === 139, 140L).when(icmpType === 140, 139L)
      .when(icmpType === 144, 145L).when(icmpType === 145, 144L)
    val icmpish = isIcmp || isIcmp6
    val reply = when(isIcmp, reply4).when(isIcmp6, reply6)
    val sPort = when(icmpish, icmpType.cast("long")).otherwise(srcPort.cast("long"))
    val dPort = when(icmpish, coalesce(reply, icmpCode.cast("long")))
      .otherwise(dstPort.cast("long"))
    // uint16 range gate on (pseudo-)ports (r18 advice — the same defect
    // class as the address fixes): a negative or >65535 port/type makes
    // hex() widen past 4 chars and silently MALFORM the payload, minting
    // a nonconforming id; the byte-level reference's buf.putShort would
    // truncate instead. Out-of-range → null, never a wrong id.
    val portsOk = sPort.between(0L, 65535L) && dPort.between(0L, 65535L)
    val oneWay = icmpish && reply.isNull
    // canonical order: compare ips first (fixed-width uppercase hex IS
    // byte order within a family), (pseudo-)ports break ties; one-way
    // flows keep the order they arrived in
    val flip = !oneWay && (sHex > dHex || (sHex === dHex && sPort > dPort))
    val aIp = when(flip, dHex).otherwise(sHex)
    val bIp = when(flip, sHex).otherwise(dHex)
    val aPort = when(flip, dPort).otherwise(sPort)
    val bPort = when(flip, sPort).otherwise(dPort)
    // the spec defines seed as a 2-byte big-endian value — reject
    // anything else up front so hex() can never widen past 4 chars
    // (a negative would emit 16) and malform the payload length
    require(seed >= 0 && seed <= 0xFFFF, s"community_id seed must be uint16, got $seed")
    val payload = concat(
      hex16(lit(seed.toLong)), aIp, bIp,
      lpad(hex(protoNum), 2, "0"), lit("00"), hex16(aPort), hex16(bPort))
    // same-family only, and the icmp generation must match the family
    // (proto 1 over v6 bytes or 58 over v4 would be a nonconforming id)
    val famOk = (srcV6 === dstV6) &&
      !(isIcmp && srcV6) && !(isIcmp6 && !srcV6)
    when(famOk && portsOk, concat(lit("1:"), base64(unhex(sha1(unhex(payload))))))
  }

  val communityIdOp = QueryDef(
    "np_community_id",
    (s, dir) => {
      // a deterministic slice of the flow log re-addresses to IPv6 (the
      // v4 u32 split into two hex groups under 2001:db8::/96) with the
      // icmp rows promoted to ipv6-icmp and their types remapped onto
      // the v6 space (8→128 echo, 0→129 reply, 13→135 solicit, 14→136
      // advert; 3/11 stay one-way) — so the DECLARED key exercises the
      // v6 encoding, the v6 type map, and both v6 ordering branches,
      // and CommunityIdSpec's row-by-row JVM cross-check covers them
      val base = Par.spread(s, Synth.flowLog(s, dir), col("event_id"))
      val v6 = col("event_id") % 13 === 0
      def as6(ip: Column): Column = concat(lit("2001:db8::"),
        lower(hex(shiftright(ip4u32(ip), 16))), lit(":"),
        lower(hex(ip4u32(ip) % 65536)))
      val df = base
        .withColumn("src_ip", when(v6, as6(col("src_ip"))).otherwise(col("src_ip")))
        .withColumn("dst_ip", when(v6, as6(col("dst_ip"))).otherwise(col("dst_ip")))
        .withColumn("proto",
          when(v6 && col("proto") === "icmp", "ipv6-icmp").otherwise(col("proto")))
        .withColumn("icmp_type", when(v6,
          when(col("icmp_type") === 8, 128).when(col("icmp_type") === 0, 129)
            .when(col("icmp_type") === 13, 135).when(col("icmp_type") === 14, 136)
            .otherwise(col("icmp_type"))).otherwise(col("icmp_type")))
      // stage the per-IP hex encoding in its OWN projection: the
      // expression tree downstream references each hex 4× inside
      // conditional branches codegen CSE can't reach, and
      // CollapseProject keeps a non-cheap multi-use alias staged —
      // each address encodes once per row (see communityIdFromHex)
      df.withColumn("__cid_s", ipHexCol(col("src_ip")))
        .withColumn("__cid_d", ipHexCol(col("dst_ip")))
        .select(col("event_id"), col("src_ip"), col("dst_ip"),
          col("src_port"), col("dst_port"), col("proto"),
          col("icmp_type"), col("icmp_code"),
          communityIdFromHex(col("__cid_s"), col("__cid_d"),
            col("src_port"), col("dst_port"), col("proto"),
            icmpType = col("icmp_type"), icmpCode = col("icmp_code")).as("community_id"))
    },
    None) // sha1 is not expressible in DuckDB — CommunityIdSpec is the gate

  /** The `network_direction` processor: classify each flow against the
    * deployment's internal_networks (RFC-1918 here) — src∧dst internal →
    * `internal`, src internal → `outbound`, dst internal → `inbound`,
    * neither → `external`. Two u32 prefix compares per row, one codegen
    * CASE — map-only, the shape that matters when every netflow record
    * of a 100 TB day passes through it. */
  val networkDirectionOp = QueryDef(
    "np_network_direction",
    (s, dir) => Par.spread(s, Synth.flowLog(s, dir), col("event_id"))
      .select(col("event_id"), col("src_ip"), col("dst_ip"),
        when(isInternal(ip4u32(col("src_ip"))) && isInternal(ip4u32(col("dst_ip"))), "internal")
          .when(isInternal(ip4u32(col("src_ip"))), "outbound")
          .when(isInternal(ip4u32(col("dst_ip"))), "inbound")
          .otherwise("external").as("direction")),
    Some(Synth.withFlowLog(
      """SELECT event_id, src_ip, dst_ip,
        |  CASE WHEN s_int AND d_int THEN 'internal'
        |       WHEN s_int THEN 'outbound'
        |       WHEN d_int THEN 'inbound'
        |       ELSE 'external' END AS direction
        |FROM (SELECT event_id, src_ip, dst_ip,
        |    (su // 16777216 = 10 OR su // 1048576 = 2753 OR su // 65536 = 49320) AS s_int,
        |    (du // 16777216 = 10 OR du // 1048576 = 2753 OR du // 65536 = 49320) AS d_int
        |  FROM (SELECT event_id, src_ip, dst_ip,
        |      CAST(string_split(src_ip, '.')[1] AS BIGINT) * 16777216
        |      + CAST(string_split(src_ip, '.')[2] AS BIGINT) * 65536
        |      + CAST(string_split(src_ip, '.')[3] AS BIGINT) * 256
        |      + CAST(string_split(src_ip, '.')[4] AS BIGINT) AS su,
        |      CAST(string_split(dst_ip, '.')[1] AS BIGINT) * 16777216
        |      + CAST(string_split(dst_ip, '.')[2] AS BIGINT) * 65536
        |      + CAST(string_split(dst_ip, '.')[3] AS BIGINT) * 256
        |      + CAST(string_split(dst_ip, '.')[4] AS BIGINT) AS du
        |    FROM flow_log))""".stripMargin)),
    // all four CASE branches of the direction classifier carry traffic
    liveness = Seq(
      "all_four_directions_live" -> "SELECT count(DISTINCT direction) = 4 FROM r"))

  /** The `date_index_name` processor — the write-side twin of the
    * engine's date-partitioned layout (Tables.eventsDt): computes the
    * time-based index a document routes to (`logs-2024.01.15` for
    * date_rounding `d`, `logs-2024.01` for `M`), which IS how the ES
    * time-index layout the partition-pruning discipline reads gets
    * CREATED. One codegen date_format per row, map-only. */
  val dateIndexNameOp = QueryDef(
    "np_date_index_name",
    (s, dir) => Tables.events(s, dir)
      .select(col("event_id"),
        concat(lit("logs-"), date_format(col("tsu"), "yyyy.MM.dd")).as("idx_day"),
        concat(lit("logs-"), date_format(col("tsu"), "yyyy.MM")).as("idx_month")),
    Some("""SELECT event_id,
      |  concat('logs-', strftime(ts, '%Y.%m.%d')) AS idx_day,
      |  concat('logs-', strftime(ts, '%Y.%m')) AS idx_month
      |FROM events""".stripMargin))

  /** The ES array-processor family in one declared chain — `split` →
    * `append` → `foreach` (uppercase each element) → `sort` (desc) →
    * `join`: the tag-normalization pipeline shape. All bounded per-row
    * array expressions (transform/sort_array/array_join — codegen HOFs
    * over the row's own elements), map-only, no explode. */
  val arrayOpsOp = QueryDef(
    "np_array_ops",
    (s, dir) => al(s, dir)
      .withColumn("tags", split(concat(col("event_type"), lit(","), col("method")), ","))
      .withColumn("tagged", concat(col("tags"), array(lit("archived"))))
      .withColumn("upper", transform(col("tagged"), t => upper(t)))
      .select(col("event_id"),
        array_join(sort_array(col("upper"), asc = false), "|").as("tag_line"),
        size(col("tagged")).cast("long").as("n_tags")),
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  array_to_string(list_sort(list_transform(
        |    list_append(string_split(concat(event_type, ',', method), ','), 'archived'),
        |    t -> upper(t)), 'DESC'), '|') AS tag_line,
        |  CAST(len(list_append(string_split(concat(event_type, ',', method), ','),
        |    'archived')) AS BIGINT) AS n_tags
        |FROM access_log""".stripMargin)))

  /** P14: recursive null-strip on serialization — Spark's to_json drops
    * null fields by default (spark.sql.jsonGenerator.ignoreNullFields),
    * mirroring the painless map-walk (axway-ingest.json:137–142). */
  val dropNullFieldsOp = QueryDef(
    "np_drop_null_fields",
    (s, dir) => al(s, dir)
      .withColumn("dom", expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE concat('d', event_id % 10) END"))
      .select(col("event_id"),
        to_json(struct(col("method").as("m"), col("dom").as("d"))).as("doc")),
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  CASE WHEN event_id % 5 = 0 THEN concat('{"m":"', method, '"}')
        |       ELSE concat('{"m":"', method, '","d":"d', event_id % 10, '"}') END AS doc
        |FROM access_log""".stripMargin)))

  /** The OpenSearch `geo_polygon` query: events whose enriched point
    * falls inside a polygon — the drawn-region map filter. The test is
    * three half-plane cross products over DOUBLED coordinates: the
    * .5-offset synthetic points double to exact BIGINTs and the
    * triangle's vertices are integer degrees, so the whole predicate is
    * pure long arithmetic — bit-exact both engines, boundary included
    * deterministically (no epsilon, no transcendental). At-scale shape
    * = the bounding-box discipline: the polygon prunes the DIMENSION
    * before it explodes and broadcasts, so out-of-region events simply
    * fail the inner join. */
  private val polyVerts: Seq[(Long, Long)] = // (lat·2, lon·2), integer degrees
    Seq((-130L, -320L), (140L, -30L), (-60L, 270L))
  /** THE half-plane containment text — the single SQL builder every
    * convex-ring containment site shares (ns_geo_polygon over doubled
    * coords here; the ES|QL polygon key over raw integer degrees in
    * SearchExt), so a future change to the term order or boundary rule
    * lands once. Ring vertices are (x, y); term order must stay
    * aligned with EsqlParser.pointInPoly's Column mirror:
    * (bx−ax)(Y−ay) − (by−ay)(X−ax), inside = all ≥0 OR all ≤0. */
  private[graft] def halfPlaneInsideSql(ring: Seq[(Long, Long)], x: String, y: String): String = {
    val ds = ring.indices.map { i =>
      val (ax, ay) = ring(i)
      val (bx, by) = ring((i + 1) % ring.length)
      s"((${bx - ax}) * ($y - ($ay)) - (${by - ay}) * ($x - ($ax)))"
    }
    s"((${ds.map(d => s"$d >= 0").mkString(" AND ")}) OR (${ds.map(d => s"$d <= 0").mkString(" AND ")}))"
  }
  private val polyInsideSql: String = halfPlaneInsideSql(
    polyVerts.map { case (lat2, lon2) => (lon2, lat2) },
    "CAST(geo_lon * 2 AS BIGINT)", "CAST(geo_lat * 2 AS BIGINT)")
  val geoPolygonOp = QueryDef(
    "ns_geo_polygon",
    (s, dir) => geoEnrichedFacts(s, dir, dimPrune = Some(expr(polyInsideSql)))
      .groupBy("geo_country", "geo_lat", "geo_lon")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd_users")),
    Some(Synth.withAccessLog(
      s"""SELECT geo_country, geo_lat, geo_lon, count(*) AS n,
         |  count(DISTINCT user_id) AS nd_users
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |WHERE $polyInsideSql
         |GROUP BY 1, 2, 3""".stripMargin)))

  /** The OpenSearch `geo_bounds` aggregation: the tightest lat/lon box
    * around each bucket's points — the "zoom the map to the data"
    * primitive. Buckets are 60° longitude sextants (floor quotients sit
    * ≥ 0.008 from every boundary on the .5-offset dim — no edge risk);
    * min/max over the exact synthetic points are order-independent. */
  private val geoSextant = "CAST(floor(geo_lon / 60) AS BIGINT)"
  val geoBoundsOp = QueryDef(
    "ns_agg_geo_bounds",
    (s, dir) => geoEnrichedFacts(s, dir)
      .groupBy(expr(geoSextant).as("sextant"))
      .agg(count(lit(1)).as("doc_count"),
        min(col("geo_lat")).as("bottom"), max(col("geo_lat")).as("top"),
        min(col("geo_lon")).as("left"), max(col("geo_lon")).as("right")),
    Some(Synth.withAccessLog(
      s"""SELECT $geoSextant AS sextant, count(*) AS doc_count,
         |  min(geo_lat) AS bottom, max(geo_lat) AS top,
         |  min(geo_lon) AS "left", max(geo_lon) AS "right"
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |GROUP BY 1""".stripMargin)))

  /** `cartesian_bounds` / `cartesian_centroid` — the planar twins ES
    * serves for `point`/`shape` fields (CAD / floor-plan / game-world
    * coordinates: no wrap-around, no mercator). The planar x/y derive
    * from the same enrichment dimension under a distinct mapping with
    * .25 offsets, so QUADRUPLED coordinates are exact longs — the
    * geo_centroid ×2 discipline at ×4. One map-side-combined pass per
    * agg, ≤ |groups| rows shuffled. */
  private val cartXy =
    Seq("cart_x" -> "CAST(((as_number - 64512) * 13) % 2000 - 1000 + 0.25 AS DOUBLE)",
      "cart_y" -> "CAST(((as_number - 64512) * 17) % 1200 - 600 + 0.25 AS DOUBLE)")
  private val cartXySql =
    """(SELECT n_nationkey * 41943 AS ip_start, n_nationkey * 41943 + 41942 AS ip_end,
      |    CAST((n_nationkey * 13) % 2000 - 1000 + 0.25 AS DOUBLE) AS cart_x,
      |    CAST((n_nationkey * 17) % 1200 - 600 + 0.25 AS DOUBLE) AS cart_y
      |  FROM nation)""".stripMargin
  private def cartFacts(s: SparkSession, dir: String): DataFrame =
    cartXy.foldLeft(geoEnrichedFacts(s, dir)) { case (df, (n, e)) =>
      df.withColumn(n, expr(e)) }
  val cartesianBoundsOp = QueryDef(
    "ns_agg_cartesian_bounds",
    (s, dir) => cartFacts(s, dir)
      .groupBy(expr(geoSextant).as("sextant"))
      .agg(count(lit(1)).as("doc_count"),
        min(col("cart_x")).as("x_min"), max(col("cart_x")).as("x_max"),
        min(col("cart_y")).as("y_min"), max(col("cart_y")).as("y_max")),
    Some(Synth.withAccessLog(
      s"""SELECT $geoSextant AS sextant, count(*) AS doc_count,
         |  min(cart_x) AS x_min, max(cart_x) AS x_max,
         |  min(cart_y) AS y_min, max(cart_y) AS y_max
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |JOIN $cartXySql c ON c.ip_start = g.ip_start AND c.ip_end = g.ip_end
         |GROUP BY 1""".stripMargin)))
  val cartesianCentroidOp = QueryDef(
    "ns_agg_cartesian_centroid",
    (s, dir) => cartFacts(s, dir)
      .groupBy(expr(geoSextant).as("sextant"))
      .agg(count(lit(1)).as("doc_count"),
        sum((col("cart_x") * 4).cast("long")).as("sx4"),
        sum((col("cart_y") * 4).cast("long")).as("sy4"))
      .select(col("sextant"), col("doc_count"),
        round(col("sx4").cast("double") / 4 / col("doc_count"), 6).as("centroid_x"),
        round(col("sy4").cast("double") / 4 / col("doc_count"), 6).as("centroid_y")),
    Some(Synth.withAccessLog(
      s"""SELECT $geoSextant AS sextant, count(*) AS doc_count,
         |  round(CAST(CAST(sum(CAST(cart_x * 4 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 4 / count(*), 6) AS centroid_x,
         |  round(CAST(CAST(sum(CAST(cart_y * 4 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 4 / count(*), 6) AS centroid_y
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |JOIN $cartXySql c ON c.ip_start = g.ip_start AND c.ip_end = g.ip_end
         |GROUP BY 1""".stripMargin)))

  /** The `geo_centroid` aggregation: the arithmetic mean point per
    * bucket. Points are .5-offset degrees, so DOUBLED coordinates are
    * exact integers — Σ(2·lat) accumulates as a long and the centroid
    * is one shared ÷(2n) derivation, bit-identical both engines. */
  val geoCentroidOp = QueryDef(
    "ns_agg_geo_centroid",
    (s, dir) => geoEnrichedFacts(s, dir)
      .groupBy(expr(geoSextant).as("sextant"))
      .agg(count(lit(1)).as("doc_count"),
        sum((col("geo_lat") * 2).cast("long")).as("slat2"),
        sum((col("geo_lon") * 2).cast("long")).as("slon2"))
      .select(col("sextant"), col("doc_count"),
        round(col("slat2").cast("double") / 2 / col("doc_count"), 6).as("centroid_lat"),
        round(col("slon2").cast("double") / 2 / col("doc_count"), 6).as("centroid_lon")),
    Some(Synth.withAccessLog(
      s"""SELECT $geoSextant AS sextant, count(*) AS doc_count,
         |  round(CAST(CAST(sum(CAST(geo_lat * 2 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 2 / count(*), 6) AS centroid_lat,
         |  round(CAST(CAST(sum(CAST(geo_lon * 2 AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 2 / count(*), 6) AS centroid_lon
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |GROUP BY 1""".stripMargin)))

  /** The `geohash_grid` aggregation — geotile's base-32 sibling.
    * Precision 3 = 15 bits (8 lon + 7 lat, lon-first interleave).
    * Cell indices are PURE integer arithmetic over doubled-degree
    * longs — `((2·lon + 360) · 256) div 720` — so unlike geotile's
    * tan/ln there is no transcendental anywhere: bit-exact by
    * construction at every point, both engines. The bit interleave is
    * a fixed 15-term generated expression; one codegen pass,
    * |cells|-bounded shuffle. */
  private val geohashBase32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  /** Interleaved 15-bit cell id from ix(8b)/iy(7b), as engine text.
    * shift(x,n) renders a right-shift in the target dialect. */
  private def geohashCellText(shift: (String, Int) => String): String = {
    val ix = "(((CAST(geo_lon * 2 AS BIGINT) + 360) * 256) // 720)"
    val iy = "(((CAST(geo_lat * 2 AS BIGINT) + 180) * 128) // 360)"
    // geohash bit order, msb first: lon7 lat6 lon6 lat5 ... lon1 lat0 lon0
    val bits = (0 until 15).map { i =>
      val fromTop = i // 0 = msb (weight 2^14)
      val weight = 1L << (14 - fromTop)
      if (fromTop % 2 == 0) { // lon bit: 7 - fromTop/2
        s"(${shift(ix, 7 - fromTop / 2)} % 2) * $weight"
      } else { // lat bit: 6 - (fromTop-1)/2
        s"(${shift(iy, 6 - (fromTop - 1) / 2)} % 2) * $weight"
      }
    }
    bits.mkString("(", " + ", ")")
  }
  private[graft] def geohashText(shift: (String, Int) => String, substrFn: String): String = {
    val g = geohashCellText(shift)
    def ch(sh: Int) = s"$substrFn('$geohashBase32', CAST(($g // ${1L << sh}) % 32 AS INT) + 1, 1)"
    s"concat(${ch(10)}, ${ch(5)}, ${ch(0)})"
  }
  val geohashGridOp = QueryDef(
    "ns_agg_geohash_grid",
    (s, dir) => geoEnrichedFacts(s, dir)
      .withColumn("geohash",
        expr(geohashText((x, n) => s"($x div ${1L << n})", "substring")
          .replace("//", "div")))
      .groupBy("geohash")
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("geo_country")).as("nd_countries")),
    Some(Synth.withAccessLog(
      s"""SELECT ${geohashText((x, n) => s"($x // ${1L << n})", "substring")} AS geohash,
         |  count(*) AS doc_count, count(DISTINCT geo_country) AS nd_countries
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |GROUP BY 1""".stripMargin)))

  /** The `geo_line` aggregation — the track-on-a-map primitive: per
    * bucket, the first K points in timestamp order connected as a line
    * (ES sorts by a field and caps at `size`). The at-scale shape is
    * the BOUNDED top-k aggregate, not a collect+sort: each map task
    * keeps ≤ K (earliest-ts, event_id)-ordered entries per bucket
    * (TopKByScoreAgg on −ts, the pq_rerank discipline), the ordinal
    * falls out of posexplode (no window), and the point fetch is a
    * broadcast join of the ≤ |buckets|·K selected ids back against the
    * enriched stream — the ES fetch phase. Scores are exact epoch-ms
    * longs in double (< 2⁵³), ties broken by event_id — identical to
    * the oracle's row_number order. */
  private val geoLineK = 5
  val geoLineOp = QueryDef(
    "ns_agg_geo_line",
    (s, dir) => {
      val pts = geoEnrichedFacts(s, dir).select(expr(geoSextant).as("sextant"),
        col("event_id"), col("ts_ms"), col("geo_lat"), col("geo_lon"))
      val top = pts.groupBy("sextant")
        .agg(graft.expr.VecFunctions.topk_by_score(
          col("event_id"), -col("ts_ms").cast("double"), geoLineK).as("top"))
        .select(col("sextant"), posexplode(col("top")))
        .select((col("pos") + 1).cast("long").as("seq"), col("col.id").as("event_id"))
      pts.join(broadcast(top), "event_id")
        .select("sextant", "seq", "event_id", "ts_ms", "geo_lat", "geo_lon")
    },
    Some(Synth.withAccessLog(
      s"""SELECT sextant, seq, event_id, ts_ms, geo_lat, geo_lon FROM (
         |  SELECT $geoSextant AS sextant, event_id, ts_ms, geo_lat, geo_lon,
         |    CAST(row_number() OVER (PARTITION BY $geoSextant
         |      ORDER BY ts_ms, event_id) AS BIGINT) AS seq
         |  FROM (SELECT event_id, ts_ms, user_id,
         |      (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |  JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end)
         |WHERE seq <= $geoLineK""".stripMargin)))

  /** The OpenSearch `ip_range` aggregation over the client IP — the
    * "traffic by network block" panel. The dotted-quad string is
    * synthesized from the deterministic ip_long (the same derivation
    * every geoip op uses), then PARSED BACK octet-by-octet into a
    * 32-bit integer — the ES ip-type parse — and bucketed by explicit
    * from-to ranges. All integer arithmetic; one codegen pass,
    * |ranges|-bounded shuffle. */
  private val ipRangeBuckets: Seq[(String, Long, Long)] = Seq(
    // label, from (inclusive), to (exclusive) in the synthetic /12 space
    ("10.0.0.0-10.4.0.0", 0L, 262144L),
    ("10.4.0.0-10.10.0.0", 262144L, 655360L),
    ("10.10.0.0-*", 655360L, Long.MaxValue))
  val ipRangeOp = QueryDef(
    "ns_agg_ip_range",
    (s, dir) => {
      val facts = al(s, dir)
        .withColumn("ip_long", expr("(user_id * 7919) % 1048576"))
        .withColumn("ip", concat_ws(".", lit("10"),
          expr("ip_long div 65536"), expr("(ip_long div 256) % 256"),
          expr("ip_long % 256")))
        // the ES ip-type parse: dotted quad -> integer, octet by octet
        .withColumn("v", element_at(split(col("ip"), "\\."), 2).cast("long") * 65536L +
          element_at(split(col("ip"), "\\."), 3).cast("long") * 256L +
          element_at(split(col("ip"), "\\."), 4).cast("long"))
      val bucket = ipRangeBuckets.foldRight(lit(null).cast("string")) {
        case ((label, from, to), other) =>
          when(col("v") >= from && col("v") < to, label).otherwise(other)
      }
      facts.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("doc_count"),
          countDistinct(col("user_id")).as("nd_users"))
    },
    Some(Synth.withAccessLog(
      s"""SELECT CASE ${ipRangeBuckets.map { case (label, from, to) =>
            s"WHEN v >= $from AND v < $to THEN '$label'" }.mkString(" ")} END AS bucket,
         |  count(*) AS doc_count, count(DISTINCT user_id) AS nd_users
         |FROM (
         |  SELECT user_id,
         |    CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
         |      + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
         |      + CAST(string_split(ip, '.')[4] AS BIGINT) AS v
         |  FROM (
         |    SELECT user_id, concat('10.', ip_long // 65536, '.',
         |        (ip_long // 256) % 256, '.', ip_long % 256) AS ip
         |    FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long
         |          FROM access_log)))
         |GROUP BY 1""".stripMargin)))

  /** The OpenSearch `geo_distance` AGGREGATION (the query's sibling):
    * concentric ring buckets around one center — the "traffic by
    * distance from the datacenter" donut panel. Unlike the query, the
    * agg needs a distance for EVERY enriched row (rings partition the
    * globe), so the haversine runs per row; at scale that is one codegen
    * trig expression riding the same single enriched pass as every
    * other geo agg — no join, no window, |rings|-bounded shuffle.
    *
    * Determinism: ring edges sit ≥ 464 km from every synthetic point's
    * distance (measured over the 25-point dim; trig differs across
    * engines by ≤ 1 ulp ≈ 1e-9 km), so bucket assignment can never
    * flip; min/max distances round(3) on emit like ns_geo_distance. */
  private val ringEdgesKm = Seq(2000.0, 5500.0, 10500.0)
  /** ES geo_distance agg bucket keys: *-2000.0, 2000.0-5500.0, …, 10500.0-*. */
  private val ringDefs: Seq[(String, String)] = {
    val bounds = (None +: ringEdgesKm.map(Some(_))) :+ None
    bounds.sliding(2).toSeq.map {
      case Seq(from, to) =>
        val key = s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}"
        val cond = (from.map(f => s"dist_km >= $f") ++ to.map(t => s"dist_km < $t"))
          .mkString(" AND ")
        (key, cond)
    }
  }
  private val ringHavKm: String =
    havKm.replace("q_lat", "40.5").replace("q_lon", "(-74.0)")
  private val ringBucketSql: String =
    s"CASE ${ringDefs.map { case (k, c) => s"WHEN $c THEN '$k'" }.mkString(" ")} END"
  val geoDistanceRingsOp = QueryDef(
    "ns_agg_geo_distance",
    (s, dir) => geoEnrichedFacts(s, dir)
      .withColumn("dist_km", expr(ringHavKm))
      .groupBy(expr(ringBucketSql).as("ring"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("geo_country")).as("nd_countries"),
        round(min(col("dist_km")), 3).as("min_km"),
        round(max(col("dist_km")), 3).as("max_km")),
    Some(Synth.withAccessLog(
      s"""SELECT $ringBucketSql AS ring, count(*) AS doc_count,
         |  count(DISTINCT geo_country) AS nd_countries,
         |  round(min(dist_km), 3) AS min_km, round(max(dist_km), 3) AS max_km
         |FROM (SELECT geo_country, $ringHavKm AS dist_km
         |  FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |  JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end)
         |GROUP BY 1""".stripMargin)))

  /** The OpenSearch `ip_prefix` aggregation — ip_range's sibling that
    * buckets by network prefix instead of explicit ranges: every /16 in
    * the synthetic 10.0.0.0/12 client space becomes one subnet bucket.
    * The prefix key is pure integer division on the parsed address —
    * one codegen pass, 16 buckets, nothing data-dependent. */
  val ipPrefixOp = QueryDef(
    "ns_agg_ip_prefix",
    (s, dir) => al(s, dir)
      .withColumn("ip_long", expr("(user_id * 7919) % 1048576"))
      .groupBy(expr("concat('10.', ip_long div 65536, '.0.0/16')").as("subnet"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("user_id")).as("nd_users")),
    Some(Synth.withAccessLog(
      """SELECT concat('10.', ip_long // 65536, '.0.0/16') AS subnet,
        |  count(*) AS doc_count, count(DISTINCT user_id) AS nd_users
        |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log)
        |GROUP BY 1""".stripMargin)))

  /** The COMPOSED ingest pipeline (one-pipeline-to-rule-them-all routing
    * + the full axway-ingest chain P0–P13) as one verifiable batch
    * query: the same `IngestPipeline.enrich` the streaming service path
    * runs (Serve → Pipeline.run), driven over a flattened-documents frame
    * synthesized from the access log — axway docs carry the access line
    * as `{"text": ...}` (jsonOrText's wrap) plus the ssl/destination
    * metadata the P3/P13 processors read; non-axway docs pass through
    * with null enrichment. The oracle computes each processor's CLOSED
    * FORM from the base columns (the per-processor oracles verify the
    * mechanics; this one verifies the composition — routing, guard
    * chaining, and the geoip lookup's null propagation on a miss).
    *
    * Plan shape: ONE projection pass, geoip included — a binary search
    * in the broadcast range table (GeoLookup), no join and no exchange;
    * per-document cost identical at 1 or 1000 executors; nothing
    * shuffles. */
  val ingestPipelineOp = QueryDef(
    "np_ingest_pipeline", {
      (s, dir) =>
        val axway = col("loggroup").rlike("axway")
        val msg = when(axway, to_json(struct(
            col("line").as("text"),
            struct(struct(struct(
              col("protocol").as("protocol"),
              expr("CASE WHEN event_id % 6 = 0 THEN '' ELSE 'ECDHE-RSA-AES128-GCM-SHA256' END").as("cipher"))
              .as("ssl")).as("access")).as("apache"),
            struct(expr("concat('dest', user_id % 10, '.example.com')").as("domain")).as("destination"))))
          .otherwise(lit("""{"k":1}"""))
        val docsFrame = al(s, dir).select(
          col("event_id"), col("ts_ms").as("batch_ms"),
          lit("r").as("requestId"), lit("").as("access_key"),
          col("loggroup").as("logGroup"), lit("s").as("logStream"),
          col("event_id").cast("string").as("event_ref"),
          col("ts_ms").as("event_ms"), msg.as("message"))
        // nation-derived dim shifted into the 203.0.0.0/24 source space:
        // nation k owns 203.0.0.(10k..10k+9), so every axway doc's ip
        // (user_id % 250) hits exactly one range
        val dim = Tables.nation(s, dir).select(
          (lit(3405774848L) + col("n_nationkey") * 10).as("ip_start"),
          (lit(3405774848L) + col("n_nationkey") * 10 + 9).as("ip_end"),
          col("n_name").as("geo_country"),
          (col("n_nationkey") + 64512L).as("as_number"),
          concat(lit("AS-ORG-"), col("n_nationkey")).as("organization_name"))
        graft.streaming.IngestPipeline.enrich(docsFrame, Some(dim))
          .select(
            col("event_id"), col("pipeline"),
            col("source_address"), col("user_name"), col("http_method"),
            col("http_version"), col("status_code"), col("body_bytes"),
            col("response_ms"), col("url_original"), col("url_path"),
            col("url_query"), col("url_ext"), col("url_domain"),
            col("event_kind"), col("event_category"), col("event_outcome"),
            col("source_ip"), col("source_domain"),
            col("event_created_ms"), col("event_ms"),
            col("tls_cipher"), col("tls_version"), col("tls_version_protocol"),
            col("geo_country"), col("as_number"), col("organization_name"))
    },
    Some(Synth.withAccessLog(
      """SELECT event_id,
        |  CASE WHEN axway THEN 'axway-ingest' ELSE 'default' END AS pipeline,
        |  CASE WHEN axway THEN cliaddr END AS source_address,
        |  CASE WHEN axway THEN usr END AS user_name,
        |  CASE WHEN axway THEN method END AS http_method,
        |  CASE WHEN axway THEN '1.1' END AS http_version,
        |  CASE WHEN axway THEN CAST(status AS BIGINT) END AS status_code,
        |  CASE WHEN axway THEN CAST(bytes AS BIGINT) END AS body_bytes,
        |  CASE WHEN axway THEN CAST(rt_ms AS BIGINT) END AS response_ms,
        |  CASE WHEN axway THEN url END AS url_original,
        |  CASE WHEN axway THEN regexp_extract(url, '^([^?]*)', 1) END AS url_path,
        |  CASE WHEN axway THEN nullif(regexp_extract(url, '\?(.*)$', 1), '') END AS url_query,
        |  CASE WHEN axway THEN nullif(regexp_extract(regexp_extract(url, '^([^?]*)', 1), '\.([a-z0-9]+)$', 1), '') END AS url_ext,
        |  CASE WHEN axway THEN concat('dest', user_id % 10, '.example.com') END AS url_domain,
        |  CASE WHEN axway THEN 'event' END AS event_kind,
        |  CASE WHEN axway THEN 'web' END AS event_category,
        |  CASE WHEN axway THEN (CASE WHEN status < 400 THEN 'success' ELSE 'failure' END) END AS event_outcome,
        |  CASE WHEN axway AND event_id % 13 <> 0 THEN cliaddr END AS source_ip,
        |  CASE WHEN axway AND event_id % 13 = 0 THEN cliaddr END AS source_domain,
        |  CASE WHEN axway THEN ts_ms END AS event_created_ms,
        |  CASE WHEN axway THEN epoch_ms(strptime(httpdate, '%d/%b/%Y:%H:%M:%S %z')) ELSE ts_ms END AS event_ms,
        |  CASE WHEN axway AND event_id % 6 <> 0 THEN 'ECDHE-RSA-AES128-GCM-SHA256' END AS tls_cipher,
        |  CASE WHEN axway THEN
        |    (CASE WHEN contains(string_split(lower(protocol), 'v')[2], '.')
        |          THEN string_split(lower(protocol), 'v')[2]
        |          ELSE concat(string_split(lower(protocol), 'v')[2], '.0') END) END AS tls_version,
        |  CASE WHEN axway THEN string_split(lower(protocol), 'v')[1] END AS tls_version_protocol,
        |  n_name AS geo_country,
        |  CAST(n_nationkey + 64512 AS BIGINT) AS as_number,
        |  CASE WHEN n_nationkey IS NULL THEN NULL ELSE 'AS-ORG-' || n_nationkey END AS organization_name
        |FROM (SELECT *, regexp_matches(loggroup, 'axway') AS axway FROM access_log) al
        |LEFT JOIN nation ON al.axway AND event_id % 13 <> 0
        |  AND n_nationkey = (user_id % 250) // 10""".stripMargin)),
    // the composed pipeline exercises BOTH the ip and the domain arms
    // of the source.address dispatch AND both geoip sides (hostname
    // rows pass through unenriched — geoip's ignore_missing)
    liveness = Seq(
      "ip_and_domain_dispatch_arms_live" ->
        ("SELECT count(CASE WHEN source_ip IS NOT NULL THEN 1 END) > 0 AND " +
          "count(CASE WHEN source_domain IS NOT NULL THEN 1 END) > 0 FROM r"),
      "geo_match_and_miss_live" ->
        ("SELECT count(CASE WHEN geo_country IS NOT NULL THEN 1 END) > 0 AND " +
          "count(CASE WHEN source_address IS NOT NULL AND geo_country IS NULL THEN 1 END) > 0 FROM r")))

  /** The ES `geohex_grid` aggregation — H3 hexagonal map clustering,
    * the geotile twin for dashboards that want equal-ish-area cells
    * without the mercator tile distortion. No H3 library exists in
    * this sandbox (and H3's icosahedral projection is not the operative
    * semantics — "bucket points into a hexagonal cell partition" is),
    * so cells come from an AFFINE HEX LATTICE: two interleaved
    * rectangular lattices offset by a half-period in both axes (period
    * 36×62 half-degrees, ratio ≈ √3), nearest-center by INTEGER squared
    * distance. The Voronoi cells of that centered lattice are genuine
    * hexagons; every step — doubling the .5-offset synthetic points to
    * odd longs, the floor-division lattice rounding, the squared
    * distances, the tie-break (ties → base lattice) — is exact integer
    * arithmetic, bit-identical in both engines.
    *
    * Scale shape: the geotile discipline — one codegen pass computes
    * the cell id inline on the enriched stream (no join against a cell
    * table), and the shuffle is |cells|-bounded. */
  private val hexDefs: Seq[(String, String)] = Seq(
    ("lx", "CAST(geo_lon * 2 AS BIGINT)"),
    ("ly", "CAST(geo_lat * 2 AS BIGINT)"),
    ("hax", "CAST(floor((lx + 18) / 36.0) AS BIGINT) * 36"),
    ("hay", "CAST(floor((ly + 31) / 62.0) AS BIGINT) * 62"),
    ("hbx", "CAST(floor(lx / 36.0) AS BIGINT) * 36 + 18"),
    ("hby", "CAST(floor(ly / 62.0) AS BIGINT) * 62 + 31"),
    ("hda", "(lx - hax) * (lx - hax) + (ly - hay) * (ly - hay)"),
    ("hdb", "(lx - hbx) * (lx - hbx) + (ly - hby) * (ly - hby)"),
    ("hex_x", "CASE WHEN hda <= hdb THEN hax ELSE hbx END"),
    ("hex_y", "CASE WHEN hda <= hdb THEN hay ELSE hby END"))
  val geohexGridOp = QueryDef(
    "ns_agg_geohex_grid",
    (s, dir) => hexDefs
      .foldLeft(geoEnrichedFacts(s, dir)) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
      .groupBy(col("hex_x"), col("hex_y"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("geo_country")).as("nd_countries")),
    Some(Synth.withAccessLog(
      s"""SELECT hex_x, hex_y, count(*) AS doc_count,
         |  count(DISTINCT geo_country) AS nd_countries
         |FROM (SELECT ${hexDefs.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}, geo_country
         |  FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |  JOIN $geoDimSql g ON f.ip_long >= ip_start AND f.ip_long <= ip_end)
         |GROUP BY 1, 2""".stripMargin)))

  /** The `geo_shape` query: indexed SHAPES (per-country boxes around
    * the dim point, sized deterministically from the nation key)
    * against a fixed query box, with all four ES spatial relations —
    * intersects / within / contains / disjoint — decided at once.
    * Every edge sits on a .5-offset-degree ± integer bound, so the
    * comparisons are exact in both engines; the relation predicates
    * are one shared SQL text evaluated on the broadcast dim columns
    * (dimension-bounded work — the per-event join is the established
    * banded ip-range join, and the relation costs nothing more than
    * reading the flags off the matched dim row). */
  private val geoShapeRelSql: Seq[(String, String)] = {
    val box = "geo_lat - (2 + nk % 5) AS s0, geo_lat + (2 + nk % 5) AS s1, " +
      "geo_lon - (3 + nk % 7) AS t0, geo_lon + (3 + nk % 7) AS t1"
    val inter = "s0 <= 40 AND s1 >= -20 AND t0 <= 60 AND t1 >= -60"
    Seq("box" -> box, "inter" -> inter)
  }
  val geoShapeOp = QueryDef(
    "ns_search_geo_shape", {
      (s, dir) =>
        val inter = geoShapeRelSql.find(_._1 == "inter").get._2
        geoEnrichedFacts(s, dir)
          .withColumn("nk", col("as_number") - 64512L)
          .withColumn("s0", expr("geo_lat - (2 + nk % 5)"))
          .withColumn("s1", expr("geo_lat + (2 + nk % 5)"))
          .withColumn("t0", expr("geo_lon - (3 + nk % 7)"))
          .withColumn("t1", expr("geo_lon + (3 + nk % 7)"))
          .withColumn("r_intersects", expr(s"CAST(CASE WHEN $inter THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("r_within", expr(
            "CAST(CASE WHEN s0 >= -20 AND s1 <= 40 AND t0 >= -60 AND t1 <= 60 THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("r_contains", expr(
            "CAST(CASE WHEN s0 <= -20 AND s1 >= 40 AND t0 <= -60 AND t1 >= 60 THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("r_disjoint", expr(s"CAST(CASE WHEN $inter THEN 0 ELSE 1 END AS BIGINT)"))
          .groupBy("geo_country", "r_intersects", "r_within", "r_contains", "r_disjoint")
          .agg(count(lit(1)).as("n"))
    },
    Some(Synth.withAccessLog {
      val box = geoShapeRelSql.find(_._1 == "box").get._2
      val inter = geoShapeRelSql.find(_._1 == "inter").get._2
      s"""SELECT geo_country,
         |  CAST(CASE WHEN $inter THEN 1 ELSE 0 END AS BIGINT) AS r_intersects,
         |  CAST(CASE WHEN s0 >= -20 AND s1 <= 40 AND t0 >= -60 AND t1 <= 60 THEN 1 ELSE 0 END AS BIGINT) AS r_within,
         |  CAST(CASE WHEN s0 <= -20 AND s1 >= 40 AND t0 <= -60 AND t1 >= 60 THEN 1 ELSE 0 END AS BIGINT) AS r_contains,
         |  CAST(CASE WHEN $inter THEN 0 ELSE 1 END AS BIGINT) AS r_disjoint,
         |  count(*) AS n
         |FROM (SELECT user_id, (user_id * 7919) % 1048576 AS ip_long FROM access_log) f
         |JOIN (SELECT ip_start, ip_end, geo_country, geo_lat, geo_lon, $box
         |      FROM (SELECT g.*, ip_start // 41943 AS nk FROM $geoDimSql g)) d
         |  ON f.ip_long >= ip_start AND f.ip_long <= ip_end
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin
    }))

  def entries: Seq[QueryDef] = Seq(
    routeOp, grokOp, uriPartsOp, setIfNullOp, fieldOpsOp, fieldOps2Op, outcomeOp,
    ipOrDomainOp, dateParseOp, geoipOp, geoipBucketedOp, geoDistanceOp,
    geoBoundingBoxOp, geoPolygonOp, geotileGridOp, geoBoundsOp, geoCentroidOp,
    cartesianBoundsOp, cartesianCentroidOp,
    geohashGridOp, ipRangeOp, geoDistanceRingsOp, ipPrefixOp, geoLineOp,
    geohexGridOp, geoShapeOp, mvtOp, tlsVersionOp,
    csvOp, kvOp, urldecodeOp, userAgentOp, registeredDomainOp, bytesOp,
    htmlStripOp, fingerprintOp, communityIdOp, networkDirectionOp,
    dateIndexNameOp, arrayOpsOp,
    dropNullFieldsOp, ingestPipelineOp)
}
