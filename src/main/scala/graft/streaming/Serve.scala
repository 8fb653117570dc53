package graft.streaming

import org.apache.spark.sql.graftshim.ArrivalClock
import org.apache.spark.sql.streaming.Trigger

import graft.Session

/** Launchable ingest job outside tests: file-drop source → decode/route
  * → SUCCESS/ERROR channels, optionally with the HTTP `_bulk` transport
  * as the delivery sink.
  *
  * Usage:
  *   runMain graft.streaming.Serve <dropDir> <outDir> <checkpointDir>
  *     [<esBulkUrl> <index>]
  *
  * Either way the job is `Pipeline.run`: the SUCCESS/ERROR parquet
  * channels are always written, and with the URL args documents also
  * POST per partition to the endpoint (SUCCESS/ is then the archive
  * copy).
  *
  * SPARK_GRAFT_HTTP_PORT=<port> additionally starts the Firehose HTTP
  * push front-end (FirehoseEndpoint) on that loopback port (0 = ephemeral),
  * landing `POST /firehose` batches into `dropDir` — the full reference
  * service topology (main.go:248–365): HTTP push in, bulk out, with the
  * inbound X-Amz-Firehose-Access-Key forwarded to the sink as Basic
  * auth (main.go:321–324, 414). Without it, batches are expected as
  * JSON-lines files dropped into `dropDir` directly — same envelope
  * contract, same downstream dataflow. */
object Serve {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 5,
      "usage: Serve <dropDir> <outDir> <checkpointDir> [<esBulkUrl> <index>]")
    val spark = Session.fromEnv()

    // SPARK_GRAFT_DRAIN=1: process what's landed and exit (smoke runs /
    // cron-style catch-up). Live, each batch the endpoint lands wakes the
    // stream through `clock`, so a trigger starts as soon as data
    // arrives; the 5 s trigger is only the idle heartbeat that picks up
    // files other writers drop into the spool
    val trigger =
      if (sys.env.get("SPARK_GRAFT_DRAIN").contains("1")) Trigger.AvailableNow()
      else Trigger.ProcessingTime("5 seconds")
    val clock = new ArrivalClock
    // streaming-side counters, served with the handler counters on the
    // endpoint's GET /metrics (reference main.go:216–217 ginprom)
    val metrics = new ServiceMetrics
    val endpoint = sys.env.get("SPARK_GRAFT_HTTP_PORT")
      .map(p => new FirehoseEndpoint(args(0), p.toInt,
        extraMetrics = () => metrics.snapshot, accessLog = true,
        onLanded = () => clock.signal()))
    endpoint.foreach(e => println(s"[serve] firehose endpoint listening on ${e.url}"))

    // delete processed drop files after commit: the service's spool must
    // not grow one file per HTTP request forever
    val source = SourceConfig.fileDrop(spark, args(0), cleanSource = Some("delete"))

    // In-engine ingest pipeline (reference main.go:437 binds
    // pipeline=<name> on every bulk request and ES runs
    // one-pipeline-to-rule-them-all on each doc): ON by default, opt out
    // with SPARK_GRAFT_PIPELINE=none. SPARK_GRAFT_GEODIM=<dir> loads the
    // nation-derived geoip dim from that testdata dir (a real deployment
    // points this at its converted GeoLite2 range table). The enricher
    // collects the dim once, here, after the endpoint already answers,
    // and every micro-batch looks up the same broadcast table, so the
    // dim must fit the driver, as any broadcast table must.
    val pipelineName = sys.env.getOrElse("SPARK_GRAFT_PIPELINE", "axway-ingest")
    val enrichStage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      if (pipelineName == "none") identity
      else IngestPipeline.enricher(sys.env.get("SPARK_GRAFT_GEODIM")
        .map(IngestPipeline.geoDimFromNation(spark, _)))
    // SPARK_GRAFT_SCRUB_PII=1: redact email/IPv4/SSN from messages
    // BEFORE enrichment, indexing, and the SUCCESS archive — raw PII
    // never lands on disk or in the index
    val enrich =
      if (sys.env.get("SPARK_GRAFT_SCRUB_PII").contains("1"))
        (IngestPipeline.scrubPii _).andThen(enrichStage)
      else enrichStage

    // SPARK_GRAFT_ALERTS="1:spark,join;2:slow": in-stream percolation;
    // matches land in <outDir>/ALERTS and count as alerts_matched on
    // /metrics (see alertQueries)
    val alertQueries = sys.env.get("SPARK_GRAFT_ALERTS").map(Serve.alertQueries)

    // No static sink auth: each record rides its own captured access_key
    // to the sink ("Basic " + key, main.go:414), and a keyless record
    // posts unauthenticated — inheriting the last-seen request's key
    // would cross tenant credentials.
    val bulk =
      if (args.length == 5)
        Some(HttpBulk.Target(args(3), args(4), pipeline = Some(pipelineName).filter(_ != "none")))
      else None
    val query = Pipeline.run(source, args(1), args(2), bulk = bulk, trigger = trigger,
      enrich = enrich, metrics = Some(metrics), alertQueries = alertQueries, clock = clock)
    // SPARK_GRAFT_DEDUP_DIR=<dir>: the staged dedup topology — a SECOND
    // streaming query reads the SUCCESS archive as a file stream and
    // runs the incremental near-dup check against the persisted
    // signature store (<dir>/store), flagging each archived document in
    // <dir>/out. Staging through the archive (not a fork inside the
    // ingest query) keeps the two jobs independently restartable and is
    // how a production pipeline chains stages over object storage. In
    // drain mode the stage starts AFTER the ingest drain completes —
    // AvailableNow snapshots the archive's file listing at start, so a
    // concurrent start would miss files the ingest is still writing.
    @volatile var dedup: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    def startDedup(): Unit = dedup = sys.env.get("SPARK_GRAFT_DEDUP_DIR").map { dir =>
      val successDir = s"${args(1)}/SUCCESS"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(successDir))
      // an ingest REPLAY overwrites its SUCCESS/batch=<id> dir with
      // freshly-named part files — files this source has already listed
      // may vanish mid-read. Skip them instead of wedging the stage on
      // FileNotFound: the replacements re-feed (at-least-once), re-fed
      // docs carry the same deterministic doc_id, the dedup sink
      // filters self-pairs by id, and the candidate pairs are
      // distinct, so the redundant signature rows a re-feed appends
      // change no verdict.
      val archived = spark.readStream
        .schema(DedupStream.pipelineDocsSchema)
        .option("ignoreMissingFiles", "true")
        .parquet(successDir)
      // SPARK_GRAFT_DEDUP_MIN_CHARS / SPARK_GRAFT_DEDUP_MIN_TTR: junk
      // gate ahead of the signature work (off unless set) — gated docs
      // never reach the store or the results channel. Malformed values
      // must fail with the variable's name, not a bare
      // NumberFormatException after a full drain.
      def envNum[T](name: String)(parse: String => T): Option[T] =
        sys.env.get(name).map { v =>
          try parse(v) catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$name must be a number, got '$v'")
          }
        }
      val gated = DedupStream.qualityGate(
        DedupStream.fromPipelineDocs(archived),
        envNum("SPARK_GRAFT_DEDUP_MIN_CHARS")(_.toInt).getOrElse(0),
        envNum("SPARK_GRAFT_DEDUP_MIN_TTR")(_.toDouble).getOrElse(0.0))
      DedupStream.run(gated,
        s"$dir/store", s"$dir/out", s"$dir/ckpt",
        trigger = trigger, metrics = Some(metrics))
    }
    val drain = sys.env.get("SPARK_GRAFT_DRAIN").contains("1")
    if (!drain) startDedup()

    // graceful shutdown (reference main.go:381–396): SIGTERM/SIGINT stop
    // the queries between micro-batches — the checkpoints commit, so the
    // restart resumes exactly where this run stopped — then close the
    // HTTP front-end
    @volatile var shuttingDown = false
    sys.addShutdownHook {
      shuttingDown = true
      try query.stop() catch { case _: Exception => () }
      dedup.foreach(q => try q.stop() catch { case _: Exception => () })
      endpoint.foreach(_.stop())
    }
    try {
      query.awaitTermination()
      // a SIGTERM mid-drain unblocks awaitTermination AFTER the hook has
      // already run its dedup-stop against None — starting the stage now
      // would launch a query on a context being torn down; the drained
      // archive is durable, so the next (drain or live) run picks it up
      if (drain && !shuttingDown) {
        startDedup()
        // the hook may have fired between the check above and the
        // registration inside startDedup (its dedup-stop saw None) —
        // re-check now that the query is registered so ONE side always
        // stops it; q.stop() is idempotent if both do
        if (shuttingDown)
          dedup.foreach(q => try q.stop() catch { case _: Exception => () })
        else dedup.foreach(_.awaitTermination())
      }
    } finally endpoint.foreach(_.stop())
  }

  /** Parse `SPARK_GRAFT_ALERTS`: `id:term[,term…][;…]`. Each clause
    * registers ONE conjunctive rule under its id — a document fires rule
    * `id` only when it matches every term of the clause, and writes one
    * ALERTS row for it. Each term keeps its own query_string meaning
    * (it is parenthesized), so `1:spark,slow join` is
    * `(spark) AND (slow join)`. Malformed clauses, a value with no
    * clauses and an id repeated across clauses fail at startup with the
    * variable's name, not mid-stream. */
  def alertQueries(spec: String): Seq[(Long, String)] = {
    val qs =
      try spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { clause =>
        val Array(id, terms) = clause.split(":", 2)
        // trim BEFORE the emptiness filter: a whitespace-only term would
        // otherwise register as an empty group; a clause with no terms
        // at all is a config mistake that must fail here, not register
        // a never-matching query
        val ts = terms.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        if (ts.isEmpty) throw new IllegalArgumentException(
          s"SPARK_GRAFT_ALERTS clause '$clause' has no terms")
        id.trim.toLong -> ts.map(t => s"($t)").mkString(" AND ")
      } catch {
        case _: MatchError | _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_ALERTS must be 'id:term[,term…][;…]', got '$spec'")
      }
    // an empty/separator-only value would silently enable a zero-query
    // stage: every batch pays a pointless percolate plan while the
    // operator believes alerts are configured
    if (qs.isEmpty) throw new IllegalArgumentException(
      s"SPARK_GRAFT_ALERTS is set but contains no queries: '$spec'")
    val repeated = qs.groupBy(_._1).collect { case (id, cs) if cs.size > 1 => id }
    if (repeated.nonEmpty) throw new IllegalArgumentException(
      s"SPARK_GRAFT_ALERTS repeats query id ${repeated.toSeq.sorted.mkString(", ")}: " +
        "each id names one clause")
    qs
  }
}
