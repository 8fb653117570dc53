package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.Session

/** Archive replay — the recovery tool the SUCCESS/ channel exists for
  * (reference cloudformation-template.yaml:162–171: Firehose
  * S3BackupMode AllData keeps every delivered document so the search
  * index can be rebuilt): re-index an archived channel into an
  * OpenSearch-compatible `_bulk` endpoint.
  *
  * One batch job over the whole archive, not a per-original-batch
  * loop: the archive read lists every `batch=<id>` partition and every
  * partition POSTs concurrently through the same HttpBulk transport
  * the live stream uses (per-partition chunked `_bulk` bodies, retry
  * with backoff on 429/502/503/504, per-item rejections, when there
  * are any, to `errDir/batch=0`). Replay is idempotent at the index
  * because `_id` is the archived document's `event_ref` — re-delivering
  * an already indexed document overwrites it in place, the same
  * contract the live stream gets from Firehose redelivery.
  *
  * The archived `batch` partition column is carried for lineage but
  * DROPPED from the rendered documents — it names the delivery
  * micro-batch, not document payload. Archives never hold credentials
  * (channelWriter strips access_key before writing), so replay posts
  * under the static auth only: pass it via SPARK_GRAFT_REPLAY_AUTH
  * (the Basic credential without the scheme prefix).
  *
  * Usage:
  *   runMain graft.streaming.Replay <archiveDir> <esBulkUrl> <index> <errDir>
  */
object Replay {

  /** Re-index `archiveDir` (a SUCCESS/ channel: `batch=<id>` parquet
    * partitions) into `esUrl`. Returns the number of documents
    * replayed.
    *
    * `mappingUrl = Some(putUrl)` PUTs the archive schema's pinned
    * mapping (HttpBulk.mappingJson) to that URL — typically
    * `<es>/<index>` — BEFORE the first bulk, so a rebuilt index never
    * falls back to dynamic mapping. A 400 from an index that already
    * exists is tolerated (replaying into a live index is legal); other
    * errors abort before any document posts. */
  def replay(spark: SparkSession, archiveDir: String, esUrl: String,
             index: String, errDir: String,
             auth: Option[String] = None,
             baseBackoffMs: Long = 50,
             mappingUrl: Option[String] = None): Long = {
    // ignoreMissingFiles: replaying while the ingest stream is live is
    // the tool's normal use, and a checkpoint-replayed micro-batch can
    // overwrite a batch=<id> dir between this scan's file listing and
    // its read (the same race Serve's dedup stage guards against on
    // the same directory) — the fresh files carry the same documents
    // under the same idempotent _ids
    val docs = spark.read.option("ignoreMissingFiles", "true")
      .parquet(archiveDir).drop("batch")
    mappingUrl.foreach { u =>
      val (status, body) = HttpBulk.put(u, HttpBulk.mappingJson(docs.schema), auth)
      // ONLY resource_already_exists is tolerable (replaying into a
      // live index is legal) — a blanket 400 pass would swallow a
      // genuinely rejected mapping (mapper_parsing_exception) and
      // silently fall back to the dynamic mapping this PUT exists to
      // prevent
      val alreadyExists = status == 400 && body.contains("resource_already_exists")
      if (status >= 400 && !alreadyExists)
        throw new java.io.IOException(s"mapping PUT to $u failed: HTTP $status $body")
    }
    val writer = HttpBulk.bulkWriter(esUrl, index, errDir, auth,
      baseBackoffMs = baseBackoffMs)
    writer(docs, 0L)
    // reported count: an exact count() AFTER the POST job — a
    // footer-driven parquet count is trivial next to re-POSTing the
    // archive over HTTP, and unlike an observe()-listener harvest it
    // cannot under-report on a backlogged listener bus (the recovery
    // report must be trustworthy)
    docs.count()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: Replay <archiveDir> <esBulkUrl> <index> <errDir>")
    val spark = Session.fromEnv()
    val n = replay(spark, args(0), args(1), args(2), args(3),
      auth = sys.env.get("SPARK_GRAFT_REPLAY_AUTH").map("Basic " + _),
      // SPARK_GRAFT_REPLAY_MAPPING_URL=<es>/<index>: PUT the pinned
      // mapping generated from the archive schema before the first bulk
      mappingUrl = sys.env.get("SPARK_GRAFT_REPLAY_MAPPING_URL"))
    println(s"[replay] re-indexed $n documents from ${args(0)}")
  }
}
