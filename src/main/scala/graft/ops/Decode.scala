package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.expr.GzipFunctions.{gunzip, gzip}

/** The reference's per-record decode→parse→explode→project chain
  * (SURVEY.md §2.2–2.3), re-expressed as declarative Spark projections so
  * the whole chain fuses into one whole-stage-codegen pass — the same
  * fusion the Go loop does by hand (reference main.go:456–543), but
  * columnar and distributed.
  *
  * Fixture columns are synthesized deterministically from `events`
  * (Synth.scala) so every SQL-expressible operator has a DuckDB oracle.
  * gzip steps use the custom Catalyst expressions in expr/Gunzip.scala
  * (not SQL-expressible → rows-only check + ScalaTest round-trips).
  */
object Decode {

  /** CloudWatch payload schema (reference incoming/firehose.go:31–44). */
  val cwSchema: String =
    "messageType STRING, owner STRING, logGroup STRING, logStream STRING, " +
      "subscriptionFilters ARRAY<STRING>, " +
      "logEvents ARRAY<STRUCT<id: STRING, timestamp: BIGINT, message: STRING>>"

  /** The subset of cwSchema the document flattening consumes. from_json
    * skips unrequested fields without materializing them, so parsing
    * with the pruned schema is cheaper and semantically identical (the
    * decode chain is an interpreted segment — JsonToStructs is
    * CodegenFallback — so per-field savings are worth having). */
  val cwSchemaPruned: String =
    "logGroup STRING, logStream STRING, " +
      "logEvents ARRAY<STRUCT<id: STRING, timestamp: BIGINT, message: STRING>>"

  /** events spread across cores: the testdata is one small parquet split
    * (one scan partition), which would run per-row gzip/gunzip — a JNI
    * deflate per record, the dominant cost in the codec ops —
    * single-threaded. The row set is unchanged, so oracle compares are
    * unaffected; real deployments get this parallelism from having many
    * input splits — Par.spread repartitions only when the scan is
    * narrower than the core count. */
  private def eventsPar(s: SparkSession, dir: String): DataFrame =
    Par.spread(s, Tables.events(s, dir), col("event_id"))

  /** F4: JSON-or-text message normalization (reference main.go:492–510):
    * any valid JSON (object OR scalar) passes through verbatim; invalid
    * JSON is wrapped as {"text": msg}. */
  private[graft] def jsonOrText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(try_parse_json(c).isNotNull, c)
      .otherwise(to_json(struct(c.as("text"))))

  /** Gzip magic sniff: true iff the bytes open with 0x1f 0x8b (RFC 1952
    * §2.3.1), null for a null input. A binary comparison of the first two
    * bytes — no hex/upper round-trip through strings, so no ICU case
    * mapping per record. */
  def isGzip(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(bin, 1, 2) === lit(Array[Byte](0x1f, 0x8b.toByte))

  private val jsonOrTextSql =
    "CASE WHEN json_valid(msg) THEN msg ELSE to_json({'text': msg}) END"

  /** F1: base64 decode (reference main.go:463–470). Emits both the
    * encoded form and the decode(encode(x)) round-trip. */
  val unbase64Op = QueryDef(
    "k2e_unbase64",
    (s, dir) => Tables.events(s, dir).select(
      col("event_id"),
      base64(col("props").cast("binary")).as("b64"),
      unbase64(base64(col("props").cast("binary"))).cast("string").as("roundtrip")),
    Some("""SELECT event_id, base64(encode(props)) AS b64,
           |  decode(from_base64(base64(encode(props)))) AS roundtrip FROM events""".stripMargin))

  /** F2: gzip round-trip via the custom Catalyst Gunzip/Gzip expressions.
    * Not expressible in DuckDB SQL → rows-only check; ScalaTest covers
    * the round-trip law (gunzip(gzip(x)) == x). */
  val gunzipOp = QueryDef(
    "k2e_gunzip",
    (s, dir) => eventsPar(s, dir).select(
      col("event_id"),
      gunzip(gzip(col("props").cast("binary"))).cast("string").as("roundtrip"),
      length(gzip(col("props").cast("binary"))).as("gz_len")),
    None)

  /** S2: content sniffing — gzip magic-byte detection (reference
    * main.go:74–121 sniffs the body to catch mislabeled encodings).
    * Oracle recomputes ground truth from the construction rule. */
  val detectGzipOp = QueryDef(
    "k2e_detect_gzip",
    (s, dir) => eventsPar(s, dir).select(
      col("event_id"),
      isGzip(
        when(col("user_id") % 2 === 0, gzip(col("props").cast("binary")))
          .otherwise(col("props").cast("binary"))).as("is_gzip")),
    Some("SELECT event_id, user_id % 2 = 0 AS is_gzip FROM events"),
    // the magic-byte sniff sees BOTH container branches
    liveness = Seq(
      "both_container_branches_live" ->
        ("SELECT count(CASE WHEN is_gzip THEN 1 END) > 0 AND " +
          "count(CASE WHEN NOT is_gzip THEN 1 END) > 0 FROM r")))

  /** F3: JSON envelope parse (reference main.go:481–488). */
  val fromJsonOp = QueryDef(
    "k2e_from_json",
    // Par.spread (r21): JsonToStructs is CodegenFallback-interpreted and
    // ran in the single scan task locally; passthrough on wide scans.
    (s, dir) => eventsPar(s, dir).select(
      col("event_id"),
      from_json(col("props"), lit("k BIGINT")).getField("k").as("k_val")),
    Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events"))

  /** F4: JSON-or-text (reference main.go:492–510). */
  val jsonOrTextOp = QueryDef(
    "k2e_json_or_text",
    // Par.spread (r21): try_parse_json per row was single-task local
    (s, dir) => Par.spread(s, Synth.eventsWithMsg(s, dir), col("event_id")).select(
      col("event_id"), col("msg"),
      jsonOrText(col("msg")).as("message")),
    Some(Synth.withMsg(
      s"SELECT event_id, msg, $jsonOrTextSql AS message FROM ev")),
    // both parse branches: valid JSON passes through verbatim, plain
    // text gets the {"text": …} wrap
    liveness = Seq(
      "json_and_text_branches_live" ->
        ("SELECT count(CASE WHEN message = msg THEN 1 END) > 0 AND " +
          "count(CASE WHEN message <> msg THEN 1 END) > 0 FROM r")))

  /** F5: epoch-ms → UTC timestamp promotion (reference main.go:515, 526).
    * Emitted as epoch millis to keep the compared schema engine-neutral. */
  val timestampMillisOp = QueryDef(
    "k2e_timestamp_millis",
    (s, dir) => Tables.events(s, dir).select(
      col("event_id"),
      col("ts_ms").as("batch_ms"),
      unix_millis(timestamp_millis(col("ts_ms"))).as("roundtrip_ms"),
      date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd'T'HH:mm:ss").as("iso")),
    Some("""SELECT event_id, epoch_ms(ts) AS batch_ms,
           |  epoch_ms(make_timestamp(epoch_ms(ts)*1000)) AS roundtrip_ms,
           |  strftime(make_timestamp(epoch_ms(ts)*1000), '%Y-%m-%dT%H:%M:%S') AS iso
           |FROM events""".stripMargin))

  /** X1: records explode with position (reference main.go:460). */
  val explodeRecordsOp = QueryDef(
    "k2e_explode_records",
    (s, dir) => Tables.events(s, dir)
      .withColumn("records_csv",
        expr("concat(event_type, ',', user_id, ',', event_id)"))
      .select(col("event_id"), posexplode(split(col("records_csv"), ",")))
      .select(col("event_id"), col("pos"), col("col").as("rec")),
    Some("""WITH p AS (SELECT event_id,
           |  string_split(concat(event_type, ',', user_id, ',', event_id), ',') AS parts FROM events)
           |SELECT event_id, 0 AS pos, parts[1] AS rec FROM p
           |UNION ALL SELECT event_id, 1, parts[2] FROM p
           |UNION ALL SELECT event_id, 2, parts[3] FROM p""".stripMargin))

  /** X1+X2: nested two-level explode (records → logEvents), the
    * reference's one-request→N-records→M-documents fan-out
    * (reference main.go:228, outgoing/elasticOutput.go:10–11). */
  val explodeEventsOp = QueryDef(
    "k2e_explode_events",
    (s, dir) => Tables.events(s, dir)
      .withColumn("batch",
        expr("concat(event_type, ',', user_id, '|sys', ',', event_id % 7)"))
      .select(col("event_id"), posexplode(split(col("batch"), "[|]")))
      .withColumnRenamed("pos", "rec_pos")
      .select(col("event_id"), col("rec_pos"), posexplode(split(col("col"), ",")))
      .select(col("event_id"), col("rec_pos"), col("pos").as("field_pos"), col("col").as("v")),
    Some("""WITH p AS (SELECT event_id,
           |  string_split(concat(event_type, ',', user_id), ',') AS r0,
           |  string_split(concat('sys', ',', event_id % 7), ',') AS r1 FROM events)
           |SELECT event_id, 0 AS rec_pos, 0 AS field_pos, r0[1] AS v FROM p
           |UNION ALL SELECT event_id, 0, 1, r0[2] FROM p
           |UNION ALL SELECT event_id, 1, 0, r1[1] FROM p
           |UNION ALL SELECT event_id, 1, 1, r1[2] FROM p""".stripMargin))

  /** F6: projection into the nested out-Document shape (reference
    * outgoing/elasticOutput.go:12–35), emitted as its JSON rendering. */
  val projectStructOp = QueryDef(
    "k2e_project_struct",
    (s, dir) => Tables.events(s, dir).select(
      col("event_id"),
      to_json(struct(
        lit("req-1").as("requestId"),
        struct(struct(
          concat(lit("/app/"), col("event_type")).as("logGroup"),
          col("user_id").as("owner")).as("data")).as("records"))).as("doc_json")),
    Some("""SELECT event_id,
           |  to_json({'requestId': 'req-1',
           |           'records': {'data': {'logGroup': concat('/app/', event_type),
           |                                'owner': user_id}}}) AS doc_json
           |FROM events""".stripMargin))

  /** Nested-field search over the reference's OWN document shape: the
    * out-Document is a 3-level nested struct (reference
    * outgoing/elasticOutput.go:12–35, requestId → records → data), and
    * OpenSearch queries address it by nested path
    * (`records.data.logGroup`). This op proves the search family
    * composes with that shape: filter on a nested prefix + exact path,
    * then a terms-style aggregation (hits, distinct owners, owner
    * range) per log group.
    *
    * Scale shape: extraction-over-construction FOLDS — Catalyst's
    * SimplifyExtractValueOps collapses `doc.records.data.logGroup`
    * straight to the underlying `concat('/app/', event_type)`, so the
    * filter and the aggregate run in codegen over the two source
    * columns (event_type, user_id); the nested struct is never
    * materialized before the aggregate, the scan reads only those
    * columns, and no per-row JSON parse appears anywhere. For STORED
    * nested parquet (the shape after round-tripping the sink), the same
    * nested-path filter pushes into the scan as a leaf-column
    * predicate — either way the plan never widens to the whole doc. */
  val nestedSearchOp = QueryDef(
    "ns_search_nested",
    (s, dir) => {
      val doc = struct(
        lit("req-1").as("requestId"),
        struct(struct(
          concat(lit("/app/"), col("event_type")).as("logGroup"),
          col("user_id").as("owner")).as("data")).as("records"))
      Tables.events(s, dir).select(col("event_id"), doc.as("doc"))
        .filter(col("doc.records.data.logGroup").startsWith("/app/p") ||
          col("doc.records.data.logGroup") === "/app/view")
        .groupBy(col("doc.records.data.logGroup").as("log_group"))
        .agg(count(lit(1)).as("hits"),
          countDistinct(col("doc.records.data.owner")).as("nd_owners"),
          min(col("doc.records.data.owner")).as("min_owner"),
          max(col("doc.records.data.owner")).as("max_owner"))
    },
    Some("""WITH docs AS (SELECT event_id,
           |  {'requestId': 'req-1',
           |   'records': {'data': {'logGroup': concat('/app/', event_type),
           |                        'owner': user_id}}} AS doc
           |  FROM events)
           |SELECT doc.records.data.logGroup AS log_group,
           |  count(*) AS hits,
           |  count(DISTINCT doc.records.data.owner) AS nd_owners,
           |  min(doc.records.data.owner) AS min_owner,
           |  max(doc.records.data.owner) AS max_owner
           |FROM docs
           |WHERE starts_with(doc.records.data.logGroup, '/app/p')
           |   OR doc.records.data.logGroup = '/app/view'
           |GROUP BY 1""".stripMargin))

  /** F4's VARIANT twin — the faithful Spark-4 mapping of the
    * reference's `json.RawMessage` message field (reference
    * outgoing/elasticOutput.go:34, SURVEY §1.3): `try_parse_json`
    * binds the JSON-or-text mix to a VariantType value (NULL for
    * non-JSON text, a typed variant for objects AND bare scalars),
    * and `try_variant_get` extracts typed fields by path without a
    * schema — the open-content model StringType flattens away.
    * DecodeSpec asserts the intermediate really is VariantType; the
    * oracle checks the extracted surface (validity flag + `$.k`)
    * against DuckDB's JSON operators.
    *
    * Scale shape: parse and path-extract are per-row codegen'd
    * expressions over one scan — no shuffle, no UDF; variant's binary
    * encoding parses once and serves every later path access, where
    * repeated `get_json_object` re-parses the string per field. */
  val variantMessageOp = QueryDef(
    "ns_variant_message",
    // Par.spread (r21): the variant parse of every message ran in the
    // single scan task locally (~0.5 s); the shuffle moves only the
    // cheap concat'd msg, the parse runs 32-way after it. Passthrough
    // on a many-split scan at scale.
    (s, dir) => Par.spread(s, Synth.eventsWithMsg(s, dir), col("event_id"))
      .withColumn("v", expr("try_parse_json(msg)"))
      .select(col("event_id"),
        col("v").isNotNull.as("is_json"),
        expr("try_variant_get(v, '$.k', 'bigint')").as("k")),
    Some(Synth.withMsg(
      """SELECT event_id,
        |  json_valid(msg) AS is_json,
        |  CASE WHEN json_valid(msg)
        |       THEN CAST(json_extract_string(msg, '$.k') AS BIGINT) END AS k
        |FROM ev""".stripMargin)))

  /** ES `runtime_mappings` — query-time derived fields over the
    * open-content message (the Kibana daily driver: define a typed
    * field in the search request over unmapped JSON, then filter AND
    * aggregate on it as if it were mapped). Three runtime fields over
    * the JSON-or-text message mix:
    *   - `rt_k` (long): a typed path extraction from the JSON branch,
    *   - `rt_fail_ms` (long): a dissect-style regexp extraction from
    *     the plain-text branch,
    *   - `severity` (keyword): a painless-script-like CASE over both —
    * and the query FILTERS on one runtime field (a range query over
    * `rt_fail_ms`) and runs a terms agg over another (`severity`),
    * exactly the ES shape.
    *
    * Scale shape: the message binds ONCE to a VariantType value (the
    * IngestPipeline bind-once discipline — PlanSpec asserts exactly one
    * parse per row in the plan) and every runtime field is a codegen
    * projection over that binding — no re-parse per field, no UDF, no
    * extra scan; the only shuffle is the |severities|-bounded terms
    * aggregation. The range filter deliberately rides the PARSE-FREE
    * runtime field: Catalyst pushes it below the variant binding, so
    * documents are dropped BEFORE the parse — filtering on a
    * variant-derived field instead would inline a second parseJson
    * into the pushed Filter and re-parse per row (the regression the
    * PlanSpec lock watches for). Query-time means zero index/storage
    * cost at 100 TB — the tradeoff ES documents — and here the
    * derivation cost is one codegen pass. */
  val runtimeFieldsOp = QueryDef(
    "ns_runtime_fields",
    // Par.spread (r21): same single-task variant-parse bottleneck as
    // ns_variant_message; the parse-free range filter still pushes
    // below the repartition to the scan.
    (s, dir) => Par.spread(s, Synth.eventsWithMsg(s, dir), col("event_id"))
      .withColumn("v", expr("try_parse_json(msg)"))
      .withColumn("rt_k", expr("try_variant_get(v, '$.k', 'bigint')"))
      .withColumn("rt_fail_ms",
        nullif(regexp_extract(col("msg"), " failed after (\\d+)$", 1), lit("")).cast("long"))
      // the runtime-field range query, on the regexp-derived field
      // only (parse-free — see the Scaladoc): "drop extreme failures"
      .filter(coalesce(col("rt_fail_ms"), lit(0L)) < 20000)
      .withColumn("severity",
        when(col("rt_fail_ms") >= 10000, "high")
          .when(col("rt_fail_ms").isNotNull, "low")
          .when(col("rt_k") >= 50, "elevated")
          .otherwise("normal"))
      .groupBy("severity")
      .agg(count(lit(1)).as("doc_count"),
        count(col("rt_k")).as("n_json"),
        sum(col("rt_k")).as("sum_k"),
        max(col("rt_fail_ms")).as("max_fail_ms")),
    Some(Synth.withMsg(
      """, r AS (SELECT
        |    CASE WHEN json_valid(msg)
        |         THEN TRY_CAST(json_extract_string(msg, '$.k') AS BIGINT) END AS rt_k,
        |    TRY_CAST(nullif(regexp_extract(msg, ' failed after (\d+)$', 1), '') AS BIGINT)
        |      AS rt_fail_ms
        |  FROM ev),
        |s AS (SELECT *,
        |    CASE WHEN rt_fail_ms >= 10000 THEN 'high'
        |         WHEN rt_fail_ms IS NOT NULL THEN 'low'
        |         WHEN rt_k >= 50 THEN 'elevated'
        |         ELSE 'normal' END AS severity
        |  FROM r WHERE coalesce(rt_fail_ms, 0) < 20000)
        |SELECT severity, count(*) AS doc_count,
        |  count(rt_k) AS n_json,
        |  CAST(sum(rt_k) AS BIGINT) AS sum_k,
        |  max(rt_fail_ms) AS max_fail_ms
        |FROM s
        |GROUP BY 1""".stripMargin)))

  /** F7: re-marshal validity gate (reference main.go:533–536): every
    * restructured document re-marshals to JSON and must parse back to an
    * IDENTICAL struct before it may ship; the reference drops the batch
    * when `json.Marshal` fails. On a schema-typed frame the gate is
    * provably vacuous — a Spark struct always serializes (SURVEY §2.2
    * records the no-op) — so running it is wire parity, and the oracle
    * (all documents pass, rendering matches) is exactly what it asserts.
    * The round-trip compares with null-safe struct equality, so a gate
    * malfunction (dropped or mutated document) fails rows/hash. */
  val remarshalOp = QueryDef(
    "k2e_remarshal",
    (s, dir) => {
      val doc = struct(
        lit("req-1").as("requestId"),
        struct(struct(
          concat(lit("/app/"), col("event_type")).as("logGroup"),
          col("user_id").as("owner")).as("data")).as("records"))
      // Par.spread (r21): the to_json/from_json round-trip ran in one
      // scan task locally; passthrough on wide scans.
      val docs = eventsPar(s, dir).select(col("event_id"), doc.as("doc"))
      val docType = docs.schema("doc").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      docs.withColumn("doc_json", to_json(col("doc")))
        .filter(from_json(col("doc_json"), docType) <=> col("doc"))
        .select(col("event_id"), col("doc_json"))
    },
    Some("""SELECT event_id,
           |  to_json({'requestId': 'req-1',
           |           'records': {'data': {'logGroup': concat('/app/', event_type),
           |                                'owner': user_id}}}) AS doc_json
           |FROM events""".stripMargin))

  /** F8: request-id propagation with the reference's "manual" fallback
    * for a missing X-Amz-Firehose-Request-Id (reference main.go:260–266). */
  val litRequestIdOp = QueryDef(
    "k2e_lit_requestid",
    (s, dir) => Tables.events(s, dir)
      .withColumn("hdr", expr("CASE WHEN event_id % 5 = 0 THEN '' ELSE concat('req-', user_id % 10) END"))
      .withColumn("requestId", coalesce(nullif(col("hdr"), lit("")), lit("manual")))
      .groupBy("requestId").agg(count(lit(1)).as("n")),
    Some("""SELECT coalesce(nullif(CASE WHEN event_id % 5 = 0 THEN '' ELSE concat('req-', user_id % 10) END, ''), 'manual') AS requestId,
           |  count(*) AS n FROM events GROUP BY 1""".stripMargin),
    // both header branches: the 'manual' fallback bucket AND real
    // request-id buckets coexist
    liveness = Seq(
      "manual_fallback_and_real_ids_live" ->
        ("SELECT count(CASE WHEN requestId = 'manual' THEN 1 END) = 1 AND " +
          "count(CASE WHEN requestId <> 'manual' THEN 1 END) > 0 FROM r")))

  /** P15/S7 semantics: permissive parse + dead-letter routing instead of
    * the reference's whole-batch abort (main.go:469–535) — the deliberate
    * semantic upgrade flagged in SURVEY.md §2.3. */
  val deadletterOp = QueryDef(
    "k2e_deadletter",
    // Par.spread (r21): interpreted from_json per row, was single-task
    (s, dir) => Par.spread(s, Synth.eventsWithMsg(s, dir), col("event_id"))
      .withColumn("k_val", from_json(col("msg"), lit("k BIGINT")).getField("k"))
      .select(
        col("event_id"),
        when(col("k_val").isNotNull, "ok").otherwise("error").as("status"),
        when(col("k_val").isNull, concat(lit("unparseable: "), col("msg"))).as("err")),
    Some(Synth.withMsg(
      """SELECT event_id,
        |  CASE WHEN k_val IS NOT NULL THEN 'ok' ELSE 'error' END AS status,
        |  CASE WHEN k_val IS NULL THEN concat('unparseable: ', msg) END AS err
        |FROM (SELECT event_id, msg,
        |  CASE WHEN json_valid(msg) THEN CAST(json_extract_string(msg, '$.k') AS BIGINT) END AS k_val
        |  FROM ev)""".stripMargin)),
    // both channels route: SUCCESS rows and dead-lettered ERROR rows
    liveness = Seq(
      "success_and_error_channels_live" ->
        ("SELECT count(CASE WHEN status = 'ok' THEN 1 END) > 0 AND " +
          "count(CASE WHEN status = 'error' THEN 1 END) > 0 FROM r")))

  // ---------------------------------------------------------------- pipeline

  /** Build the synthetic Firehose `data` column: base64(payload-JSON),
    * optionally with the reference's per-record gzip layer inside. */
  private def firehoseData(s: SparkSession, dir: String, withGzip: Boolean): DataFrame = {
    val payload = Par.spread(s, Synth.eventsWithMsg(s, dir), col("event_id"))
      .withColumn("payload", to_json(struct(
      lit("DATA_MESSAGE").as("messageType"),
      lit("111111111111").as("owner"),
      concat(lit("/app/"), col("event_type")).as("logGroup"),
      concat(lit("stream-"), col("user_id") % 8).as("logStream"),
      array(lit("all-events")).as("subscriptionFilters"),
      array(
        struct(
          concat(lit("e"), col("event_id"), lit("-0")).as("id"),
          col("ts_ms").as("timestamp"),
          col("props").as("message")),
        struct(
          concat(lit("e"), col("event_id"), lit("-1")).as("id"),
          (col("ts_ms") + 1000).as("timestamp"),
          col("msg").as("message"))).as("logEvents"))))
    val data =
      if (withGzip) base64(gzip(col("payload").cast("binary")))
      else base64(col("payload").cast("binary"))
    payload.select(col("event_id"), col("ts_ms").as("batch_ms"), data.as("data"))
  }

  /** The full reference dataflow F1→F3→X2→F4→F5→F6 on one frame, run
    * through the service's own decode path — the documents channel of
    * `Pipeline.route` (per-record gzip sniff, envelope parse, explode,
    * json-or-text) — projected to the 7 document columns.
    * `withGzip=false` keeps it DuckDB-expressible; the gzip variant is the
    * true reference semantics (base64(gzip(json)), main.go:463–479). */
  def pipeline(s: SparkSession, dir: String, withGzip: Boolean): DataFrame =
    graft.streaming.Pipeline.route(firehoseData(s, dir, withGzip))._1
      .select("event_id", "batch_ms", "logGroup", "logStream",
        "event_ref", "event_ms", "message")

  private val pipelineOracle: String = Synth.withMsg(
    """, enc AS (SELECT event_id, ts_ms AS batch_ms,
      |    base64(encode(to_json(struct_pack(
      |      messageType := 'DATA_MESSAGE',
      |      owner := '111111111111',
      |      logGroup := concat('/app/', event_type),
      |      logStream := concat('stream-', user_id % 8),
      |      subscriptionFilters := ['all-events'],
      |      logEvents := [
      |        struct_pack(id := concat('e', event_id, '-0'), "timestamp" := ts_ms, message := props),
      |        struct_pack(id := concat('e', event_id, '-1'), "timestamp" := ts_ms + 1000, message := msg)]
      |    )))) AS data FROM ev),
      |  dec AS (SELECT event_id, batch_ms, decode(from_base64(data)) AS pj FROM enc),
      |  ex AS (SELECT event_id, batch_ms,
      |    json_extract_string(pj, '$.logGroup') AS logGroup,
      |    json_extract_string(pj, '$.logStream') AS logStream,
      |    unnest(from_json(json_extract(pj, '$.logEvents'), '["json"]')) AS evj FROM dec)
      |SELECT event_id, batch_ms, logGroup, logStream,
      |  json_extract_string(evj, '$.id') AS event_ref,
      |  CAST(json_extract(evj, '$.timestamp') AS BIGINT) AS event_ms,
      |  CASE WHEN json_valid(m) THEN m ELSE to_json({'text': m}) END AS message
      |FROM (SELECT ex.*, json_extract_string(evj, '$.message') AS m FROM ex)""".stripMargin)

  /** Flagship: the whole Firehose→documents dataflow, oracle-checkable
    * (no gzip layer so DuckDB can replay it). */
  val pipelineFlattenOp = QueryDef(
    "k2e_pipeline_flatten",
    (s, dir) => pipeline(s, dir, withGzip = false),
    Some(pipelineOracle))

  /** Same dataflow with the real base64(gzip(json)) record encoding —
    * exercises the custom Gunzip expression end-to-end (rows-only). */
  val pipelineGzipOp = QueryDef(
    "k2e_pipeline_gzip",
    (s, dir) => pipeline(s, dir, withGzip = true),
    None)

  /** Firehose request envelope (reference incoming/firehose.go:21–28). */
  val envSchema: String =
    "requestId STRING, timestamp BIGINT, records ARRAY<STRUCT<data: STRING>>"

  /** S3: whole-BODY gzip binding, distinct from the per-record gzip layer
    * (reference gzipbinding/binding.go:38–45 gunzips the entire HTTP body
    * before unmarshalling the Firehose envelope; main.go:472–479 is the
    * separate per-record layer covered by `k2e_pipeline_gzip`). The wire
    * form is gzip(whole envelope JSON); decode is gunzip → envelope parse
    * → records explode → per-record base64 decode. The oracle replays the
    * same dataflow minus the gzip/gunzip pair (a round-trip identity), so
    * the envelope/explode/decode plumbing gets a full hash check while the
    * Spark plan exercises the Gunzip expression in-path. */
  val bodyGzipOp = QueryDef(
    "k2e_body_gzip",
    (s, dir) => {
      val wire = eventsPar(s, dir).select(
        col("event_id"),
        gzip(to_json(struct(
          concat(lit("req-"), col("event_id")).as("requestId"),
          col("ts_ms").as("timestamp"),
          array(
            struct(base64(col("props").cast("binary")).as("data")),
            struct(base64(col("event_type").cast("binary")).as("data")))
            .as("records"))).cast("binary")).as("body_gz"))
      wire
        .withColumn("r", from_json(gunzip(col("body_gz")).cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(envSchema)))
        .select(col("event_id"), col("r.requestId").as("request_id"),
          col("r.timestamp").as("req_ms"), posexplode(col("r.records")))
        .select(col("event_id"), col("request_id"), col("req_ms"),
          col("pos").as("rec_pos"),
          unbase64(col("col.data")).cast("string").as("payload"))
    },
    Some("""SELECT event_id, concat('req-', event_id) AS request_id,
           |  epoch_ms(ts) AS req_ms, 0 AS rec_pos, props AS payload FROM events
           |UNION ALL SELECT event_id, concat('req-', event_id),
           |  epoch_ms(ts), 1, event_type FROM events""".stripMargin))

  def entries: Seq[QueryDef] = Seq(
    unbase64Op, gunzipOp, detectGzipOp, fromJsonOp, jsonOrTextOp,
    timestampMillisOp, explodeRecordsOp, explodeEventsOp, projectStructOp,
    nestedSearchOp, variantMessageOp, runtimeFieldsOp,
    remarshalOp, litRequestIdOp, deadletterOp, pipelineFlattenOp,
    pipelineGzipOp, bodyGzipOp)
}
