package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The pluggable push-source seam (SURVEY §2.1 S1).
  *
  * The ingest topology (`Pipeline.run`) consumes an
  * ENVELOPE FRAME, not a transport: any Structured Streaming source
  * that delivers `SourceConfig.schema` drops in — the file-drop spool
  * the HTTP front-end feeds, a `MemoryStream` in tests, Spark's own
  * rate source through `rateEnvelope`'s adapter, or a Kinesis
  * connector `format()` on a real cluster (the reference's stated
  * deployment is Firehose→HTTP; BASELINE's Spark sketch is a Kinesis
  * source — both are just this contract over different wire).
  *
  * Column semantics (the contract a new connector must map to):
  *  - `event_id BIGINT` — unique per record within the source; becomes
  *    the dead-letter key and replay identity. The HTTP front-end mints
  *    a process-wide sequence (FirehoseEndpoint).
  *  - `batch_ms BIGINT` — the delivery batch's envelope timestamp
  *    (epoch ms; Firehose `timestamp`).
  *  - `data STRING` — the record payload exactly as delivered: base64,
  *    possibly gzip inside (the decode chain sniffs per record).
  *  - `request_id STRING` — the delivery request id, stamped on every
  *    document; "" or absent falls back to "manual"
  *    (reference main.go:260–266).
  *  - `access_key STRING` — per-batch sink credential for auth
  *    isolation (reference main.go:422–424); "" or absent = none,
  *    the sink uses its static fallback.
  * Only `event_id`, `batch_ms`, `data` are required — `Pipeline.decoded`
  * tolerates sources without the trailing two columns (a MemoryStream
  * of triples) by applying those fallbacks.
  *
  * Sources with their OWN wire schema (rate, a Kinesis connector's
  * (partitionKey, data, sequenceNumber, ...)) plug in through
  * `adapter`: the source is opened schema-less (most connectors reject
  * a user-specified schema) and the adapter is the per-connector
  * mapping onto the envelope columns — the only code a new transport
  * needs. The topology never changes.
  */
final case class SourceConfig(format: String,
                              options: Map[String, String] = Map.empty,
                              path: Option[String] = None,
                              schema: StructType = SourceConfig.schema,
                              adapter: Option[DataFrame => DataFrame] = None) {
  /** Open the source as a streaming envelope frame. */
  def open(spark: SparkSession): DataFrame = {
    val reader = spark.readStream.format(format).options(options)
    // an adapter source defines its own schema and maps it to the
    // envelope; a contract source is read with the envelope schema
    // directly (also avoids a blocking inference pass over file spools)
    val configured = if (adapter.isDefined) reader else reader.schema(schema)
    val df = path.fold(configured.load())(configured.load)
    adapter.fold(df)(f => f(df))
  }
}

object SourceConfig {
  /** The envelope contract every push source delivers (see class doc). */
  val schema: StructType = StructType.fromDDL(
    "event_id BIGINT, batch_ms BIGINT, data STRING, request_id STRING, " +
      "access_key STRING")

  /** The zero-egress file-drop spool: landed Firehose batches as
    * JSON-lines files (one per HTTP request, atomically renamed in).
    * The explicit schema avoids a blocking inference pass over the drop
    * directory; `maxFilesPerTrigger` bounds per-micro-batch work so a
    * backlog drains in steady flushes instead of one giant batch;
    * `cleanSource` ("delete"/"archive") disposes of processed files
    * once their batch commits — without it the spool grows one file per
    * HTTP request forever (Serve turns on "delete"; tests and
    * replay-from-scratch leave it off to re-read the spool). */
  def fileDrop(dir: String, maxFilesPerTrigger: Int = 16,
               cleanSource: Option[String] = None): SourceConfig =
    SourceConfig("json",
      Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString) ++
        cleanSource.map("cleanSource" -> _),
      Some(dir))

  /** A second REAL source through the seam: Spark's deterministic
    * rate-micro-batch source (timestamp, value) adapted onto the
    * envelope contract — each generated row becomes a base64'd
    * single-event CloudWatch envelope, exactly what the wire carries.
    * Proves the adapter seam with a connector that has its own schema
    * (the reader is opened schema-less; the adapter is the mapping),
    * the same wiring a Kinesis connector needs: its (data,
    * sequenceNumber, approximateArrivalTimestamp) map to (data,
    * event_id, batch_ms) the same way. */
  def rateEnvelope(rowsPerBatch: Int = 10,
                   startTimestampMs: Long = 1600000000000L): SourceConfig =
    SourceConfig("rate-micro-batch",
      Map("rowsPerBatch" -> rowsPerBatch.toString,
        "numPartitions" -> "1",
        "startTimestamp" -> startTimestampMs.toString),
      adapter = Some { df =>
        val envelope = to_json(struct(
          lit("DATA_MESSAGE").as("messageType"),
          lit("1").as("owner"),
          lit("/app/rate").as("logGroup"),
          lit("rate-0").as("logStream"),
          array(lit("f")).as("subscriptionFilters"),
          array(struct(
            concat(lit("r"), col("value")).as("id"),
            unix_millis(col("timestamp")).as("timestamp"),
            concat(lit("rate event "), col("value")).as("message"))).as("logEvents")))
        df.select(
          col("value").as("event_id"),
          unix_millis(col("timestamp")).as("batch_ms"),
          base64(envelope.cast("binary")).as("data"),
          lit("rate").as("request_id"),
          lit("").as("access_key"))
      })
}
