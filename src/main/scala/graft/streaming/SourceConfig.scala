package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The push-source contract (SURVEY §2.1 S1).
  *
  * The ingest topology (`Pipeline.run`) consumes an ENVELOPE FRAME, not
  * a transport: any streaming DataFrame with the `schema` columns drops
  * in — the file-drop spool the HTTP front-end feeds (`fileDrop`), a
  * `MemoryStream` in tests, or a Kinesis connector on a real cluster
  * (the reference's stated deployment is Firehose→HTTP; BASELINE's
  * Spark sketch is a Kinesis source). A connector with its own wire
  * schema is opened with `spark.readStream` directly and selected onto
  * these columns — e.g. Kinesis (data, sequenceNumber,
  * approximateArrivalTimestamp) become (data, event_id, batch_ms). The
  * topology never changes.
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
  */
object SourceConfig {
  /** The envelope contract every push source delivers (see object doc). */
  val schema: StructType = StructType.fromDDL(
    "event_id BIGINT, batch_ms BIGINT, data STRING, request_id STRING, " +
      "access_key STRING")

  /** The zero-egress file-drop spool: landed Firehose batches as
    * JSON-lines files (one per HTTP request, atomically renamed in),
    * opened as a streaming envelope frame.
    * The explicit schema avoids a blocking inference pass over the drop
    * directory; `maxFilesPerTrigger` bounds per-micro-batch work so a
    * backlog drains in steady flushes instead of one giant batch;
    * `cleanSource` ("delete"/"archive") disposes of processed files
    * once their batch commits — without it the spool grows one file per
    * HTTP request forever (Serve turns on "delete"; tests and
    * replay-from-scratch leave it off to re-read the spool). */
  def fileDrop(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16,
               cleanSource: Option[String] = None): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .options(cleanSource.map("cleanSource" -> _).toMap)
      .json(dir)
}
