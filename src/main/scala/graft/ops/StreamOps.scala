package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Exact, QueryDef, Tables}

/** Streaming-semantics operators (SURVEY.md §2.5 streaming set), exposed
  * here on their batch-equivalent frames so the DuckDB oracle can check
  * the window/dedup/session logic. The stateful transforms — `sessionize`,
  * `throttle` and `attributeJoin` — are written once, watermarked, and
  * run unchanged on batch frames (where watermarks are no-ops) for the
  * keys and under `readStream` in StreamingSpec, which drives them
  * through MemoryStream (late data, state expiry).
  *
  * The reference's delivery model is at-least-once with whole-batch
  * Firehose retries (cloudformation-template.yaml:160–161), so replayed
  * events are expected — `ns_stream_dedup` is the id-based replay dedup
  * that model implies.
  */
object StreamOps {
  import Exact._

  /** Tumbling event-time window aggregation (1-hour buckets). */
  val tumblingOp = QueryDef(
    "ns_stream_tumbling",
    (s, dir) => Tables.events(s, dir)
      .groupBy(window(col("tsu"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value_c")),
    Some(s"""SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
            |  event_type, count(*) AS n, ${sqlSum(sqlCents("value"))} AS sum_value_c
            |FROM events GROUP BY 1, 2""".stripMargin))

  /** Hopping (sliding) event-time windows: 1-hour windows every 30
    * minutes — the smoothed-dashboard twin of the tumbling agg, where
    * each event lands in exactly TWO overlapping windows. Spark's
    * window(col, "1 hour", "30 minutes") generates both membership
    * rows at the scan (a bounded ×2 row expansion, not a self-join);
    * the oracle derives the same two epoch-aligned window starts per
    * event (its 30-min bucket and the one before). Same exact-cents
    * discipline as tumbling; output stays span-bounded (2× the
    * tumbling bucket count) at any SF. */
  val hoppingOp = QueryDef(
    "ns_stream_hopping",
    (s, dir) => Tables.events(s, dir)
      .groupBy(window(col("tsu"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value_c")),
    Some(s"""WITH h AS (SELECT
            |    epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) - k.off AS window_start_ms,
            |    event_type, value
            |  FROM events, (SELECT unnest([0, 1800000]) AS off) k)
            |SELECT window_start_ms, event_type, count(*) AS n,
            |  ${sqlSum(sqlCents("value"))} AS sum_value_c
            |FROM h GROUP BY 1, 2""".stripMargin))

  /** Replay dedup: re-offer 5% of events (simulating Firehose redelivery)
    * then dropDuplicates on the event id. */
  val dedupOp = QueryDef(
    "ns_stream_dedup",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val replayed = ev.unionAll(ev.filter(col("event_id") % 100 < 5))
      replayed.dropDuplicates("event_id")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_c"))
    },
    Some(s"""SELECT count(*) AS n, ${sqlSum(sqlCents("value"))} AS sum_value_c FROM (
            |  SELECT event_id, min(value) AS value FROM (
            |    SELECT event_id, value FROM events
            |    UNION ALL SELECT event_id, value FROM events WHERE event_id % 100 < 5)
            |  GROUP BY event_id)""".stripMargin))

  /** Session windows: 30-minute-gap sessions per user (session_window in
    * Spark; gaps-and-islands in the oracle — an event starts a new
    * session when it is >= gap after the previous one). */
  val sessionOp = QueryDef(
    "ns_stream_session",
    (s, dir) => Tables.events(s, dir)
      .groupBy(session_window(col("tsu"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_total")),
    Some("""WITH d AS (SELECT user_id,
           |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |              >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
           |  FROM events)
           |SELECT user_id, CAST(1 + sum(brk) AS BIGINT) AS n_sessions,
           |  count(*) AS n_total
           |FROM d GROUP BY user_id""".stripMargin))

  /** One event of a keyed stream, for custom sessionization. The
    * event_time column must ride along — Spark requires the watermarked
    * column to reach the stateful operator. */
  final case class KeyedEvent(stream: String, event_ms: Long,
                              event_time: java.sql.Timestamp)

  /** Open-session state carried between micro-batches. */
  final case class SessionAgg(startMs: Long, endMs: Long, n: Long)

  /** A closed session: `closedBy` = "gap" (a later event arrived beyond
    * the gap) or "timeout" (the watermark passed end + gap with no
    * successor — the stream went quiet). */
  final case class SessionClosed(stream: String, startMs: Long, endMs: Long,
                                 n: Long, closedBy: String)

  /** Custom stateful sessionization via `flatMapGroupsWithState`:
    * gap-based sessions that emit ONLY on close, tagged with why they
    * closed — semantics `session_window` cannot express (it emits every
    * finalized window, untagged, and cannot distinguish gap-split from
    * quiescence). State is one `SessionAgg` per active key, expired by
    * `EventTimeTimeout` at end + gap, so state size tracks the number of
    * concurrently-active streams, not history — the bounded-state
    * requirement at 100 TB/day. Late events (behind the watermark) are
    * dropped by the runtime before reaching the state function. */
  def sessionize(docs: DataFrame, gapMs: Long): Dataset[SessionClosed] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def onGroup(key: String, events: Iterator[KeyedEvent],
                state: GroupState[SessionAgg]): Iterator[SessionClosed] =
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionClosed(key, s.startMs, s.endMs, s.n, "timeout"))
      } else {
        val closed = Seq.newBuilder[SessionClosed]
        var cur = state.getOption
        events.toSeq.sortBy(_.event_ms).foreach { e =>
          cur = cur match {
            case Some(s) if e.event_ms - s.endMs <= gapMs =>
              // min on start: a within-watermark out-of-order event can
              // precede the current session start in a later micro-batch
              Some(SessionAgg(math.min(s.startMs, e.event_ms),
                math.max(s.endMs, e.event_ms), s.n + 1))
            case Some(s) =>
              closed += SessionClosed(key, s.startMs, s.endMs, s.n, "gap")
              Some(SessionAgg(e.event_ms, e.event_ms, 1))
            case None =>
              Some(SessionAgg(e.event_ms, e.event_ms, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.endMs + gapMs)
        }
        closed.result().iterator
      }

    docs
      .withColumn("event_time", timestamp_millis(col("event_ms")))
      .withWatermark("event_time", "10 minutes")
      .select(col("logStream").as("stream"), col("event_ms"), col("event_time"))
      .as[KeyedEvent]
      .groupByKey(_.stream)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }

  /** The custom flatMapGroupsWithState sessionizer
    * (`sessionize` above) run in BATCH mode, where its state
    * semantics are still exact: all of a key's events arrive as one
    * group, sessions split on gap > 30 min, and — because batch
    * timeouts never fire — each key's trailing open session is NOT
    * emitted. The oracle mirrors that with gaps-and-islands minus each
    * key's last island. This oracle-checks the same code path the
    * streaming suite drives through MemoryStream. */
  val sessionizeOp = QueryDef(
    "ns_stream_sessionize",
    (s, dir) => sessionize(
        Tables.events(s, dir).select(
          concat(lit("u"), col("user_id")).as("logStream"),
          col("ts_ms").as("event_ms")),
        gapMs = 30 * 60000L)
      .toDF()
      .select(col("stream"), col("startMs").as("start_ms"),
        col("endMs").as("end_ms"), col("n"), col("closedBy").as("closed_by")),
    Some("""WITH e AS (SELECT concat('u', user_id) AS stream, epoch_ms(ts) AS ms FROM events),
           |d AS (SELECT stream, ms,
           |    CASE WHEN ms - lag(ms) OVER (PARTITION BY stream ORDER BY ms) > 1800000
           |         THEN 1 ELSE 0 END AS brk FROM e),
           |s AS (SELECT stream, ms,
           |    sum(brk) OVER (PARTITION BY stream ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM d),
           |g AS (SELECT stream, sid, min(ms) AS start_ms, max(ms) AS end_ms,
           |    count(*) AS n FROM s GROUP BY 1, 2),
           |last AS (SELECT stream, max(sid) AS maxsid FROM g GROUP BY 1)
           |SELECT g.stream, g.start_ms, g.end_ms, g.n, 'gap' AS closed_by
           |FROM g JOIN last ON g.stream = last.stream AND g.sid < last.maxsid""".stripMargin))

  /** Stream-stream attribution join: each purchase matches the same
    * user's views within the preceding `windowMinutes`. Schemas:
    * views(user_id, view_id, view_ms), purchases(user_id, purchase_id,
    * purchase_ms). Both sides are watermarked and the range condition is
    * on the EVENT-TIME columns, so the streaming symmetric hash join can
    * expire state: a buffered view is dropped once the purchase-side
    * watermark passes view_time + window — state tracks the attribution
    * window's width, never the stream's history (the bounded-state
    * requirement at 100 TB/day). A range condition on the raw ms longs
    * instead would run with unbounded state. On batch frames the
    * watermarks are no-ops and the same plan is an equi-join on user_id
    * with a residual range filter — StreamOps.streamJoinOp oracle-checks
    * that form. */
  def attributeJoin(views: DataFrame, purchases: DataFrame,
                    windowMinutes: Int = 30,
                    joinType: String = "inner"): DataFrame = {
    val v = views
      .withColumn("view_time", timestamp_millis(col("view_ms")))
      .withWatermark("view_time", "10 minutes")
    val p = purchases
      .withColumnRenamed("user_id", "p_user_id")
      .withColumn("purchase_time", timestamp_millis(col("purchase_ms")))
      .withWatermark("purchase_time", "10 minutes")
    // joinType "left_outer" is the funnel's other half — "views that
    // never converted": the streaming runtime holds the null-padded row
    // until the watermark proves no in-window purchase can still arrive,
    // then emits it exactly once (StreamingSpec drives the expiry).
    v.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_time") >= col("view_time") &&
        col("purchase_time") < col("view_time") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("view_id"), col("purchase_id"))
  }

  /** Stream-stream attribution join (`attributeJoin` above) in batch
    * mode, where its semantics are exact: every purchase pairs with the
    * same user's views from the preceding 30 minutes. The oracle is the
    * equi-join + range-filter form the batch planner runs; the streaming
    * suite drives the same transform through two MemoryStreams and
    * asserts the watermark drops late rows. */
  val streamJoinOp = QueryDef(
    "ns_stream_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      attributeJoin(
        ev.filter(col("event_type") === "view").select(
          col("user_id"), col("event_id").as("view_id"), col("ts_ms").as("view_ms")),
        ev.filter(col("event_type") === "purchase").select(
          col("user_id"), col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ms")),
        windowMinutes = 30)
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, epoch_ms(ts) AS vms
           |          FROM events WHERE event_type = 'view'),
           |p AS (SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS pms
           |      FROM events WHERE event_type = 'purchase')
           |SELECT v.view_id, p.purchase_id
           |FROM v JOIN p ON v.user_id = p.user_id
           |  AND p.pms >= v.vms AND p.pms < v.vms + 1800000""".stripMargin))

  /** The attribution funnel's OTHER half — the stream-stream LEFT OUTER
    * join: every view pairs with its in-window purchases, and views
    * that never converted emit exactly once with a null purchase when
    * the watermark proves no match can still arrive (the streaming
    * runtime's expiry semantics; StreamingSpec drives that through two
    * MemoryStreams). In batch mode the semantics are exact — the plan
    * is the same equi-join + range residual with null padding — so the
    * oracle is plain LEFT JOIN. State stays bounded by the attribution
    * window's width exactly as the inner form. */
  val streamJoinOuterOp = QueryDef(
    "ns_stream_join_outer",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      attributeJoin(
        ev.filter(col("event_type") === "view").select(
          col("user_id"), col("event_id").as("view_id"), col("ts_ms").as("view_ms")),
        ev.filter(col("event_type") === "purchase").select(
          col("user_id"), col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ms")),
        windowMinutes = 30, joinType = "left_outer")
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, epoch_ms(ts) AS vms
           |          FROM events WHERE event_type = 'view'),
           |p AS (SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS pms
           |      FROM events WHERE event_type = 'purchase')
           |SELECT v.view_id, p.purchase_id
           |FROM v LEFT JOIN p ON v.user_id = p.user_id
           |  AND p.pms >= v.vms AND p.pms < v.vms + 1800000""".stripMargin),
    // the outer join emits BOTH row kinds: attributed views and the
    // null-padded unmatched views the outer form exists for
    liveness = Seq(
      "matched_and_null_padded_rows" ->
        ("SELECT count(CASE WHEN purchase_id IS NOT NULL THEN 1 END) > 0 AND " +
          "count(CASE WHEN purchase_id IS NULL THEN 1 END) > 0 FROM r")))

  /** The streaming "top N series per window" Kibana panel: per 1-hour
    * tumbling window, the 3 busiest event types. The rank runs over the
    * WINDOWED AGGREGATE table (span-bounded — |windows| × |types| rows
    * at any SF, the dateHistogramPipeline discipline), never raw
    * events; in the service path this is the foreachBatch re-rank over
    * the windowed-state output. Exact long counts, deterministic
    * (n desc, type asc) tie-break. */
  val streamTopNOp = QueryDef(
    "ns_stream_topn",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("window_start_ms")
        .orderBy(col("n").desc, col("event_type"))
      Tables.events(s, dir)
        .groupBy(window(col("tsu"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    },
    Some("""WITH b AS (
      |  SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start_ms, event_type, n,
      |  CAST(rnk AS INT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY window_start_ms
      |        ORDER BY n DESC, event_type) AS rnk FROM b)
      |WHERE rnk <= 3""".stripMargin))

  /** One sequenced event of a keyed stream, for throttling: `seq` is
    * the deterministic within-timestamp tie-break (the upstream record
    * id). */
  final case class ThrottleEvent(stream: String, event_ms: Long, seq: Long,
                                 event_time: java.sql.Timestamp)

  /** Per-key admission counters, one per still-live event-time window. */
  final case class ThrottleState(windowStarts: Seq[Long], admitted: Seq[Long])

  /** An admit/deny decision for one event. */
  final case class ThrottleOut(stream: String, window_ms: Long, seq: Long,
                               event_ms: Long, admitted: Boolean)

  /** Per-key event-rate limiting: admit at most `maxPerWindow` events
    * per key per event-time window, in (event_ms, seq) order — the
    * ingest-protection / notification-dedup shape every alerting
    * downstream runs (Watcher throttle_period, per-tenant ingest caps).
    * A windowed count can say a key EXCEEDED its budget only after the
    * window closes; the throttle must decide per event AT ARRIVAL, so
    * it is custom state: one counter per (key, live window), carried
    * across micro-batches via `flatMapGroupsWithState` and pruned to
    * windows the watermark can still touch — state tracks live windows
    * per active key, never stream history (the bounded-state
    * requirement at 100 TB/day). In batch mode each key's full history
    * arrives as one sorted group and the same code computes the exact
    * semantics the StreamOps oracle checks (row_number ≤ N per key ×
    * window). */
  def throttle(events: DataFrame, windowMs: Long, maxPerWindow: Long): Dataset[ThrottleOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def onGroup(key: String, evs: Iterator[ThrottleEvent],
                state: GroupState[ThrottleState]): Iterator[ThrottleOut] = {
      // EventTimeTimeout: a key that went idle fires here with no
      // events once the watermark passes its horizon — drop its state
      // entirely (without this, every key ever seen keeps an (empty)
      // state entry forever: unbounded key-cardinality growth over
      // weeks of stream uptime)
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var counts: Map[Long, Long] = state.getOption
        .map(s => s.windowStarts.zip(s.admitted).toMap)
        .getOrElse(Map.empty)
      val out = evs.toSeq.sortBy(e => (e.event_ms, e.seq)).map { e =>
        val w = Math.floorDiv(e.event_ms, windowMs) * windowMs
        val c = counts.getOrElse(w, 0L)
        val admit = c < maxPerWindow
        if (admit) counts = counts.updated(w, c + 1)
        ThrottleOut(key, w, e.seq, e.event_ms, admit)
      }
      // Keep only windows a within-watermark event could still land in.
      // In batch mode the runtime refuses the watermark accessor
      // (watermarks are no-ops there); nothing needs pruning because
      // batch state dies with the job.
      val wmOpt = scala.util.Try(state.getCurrentWatermarkMs()).toOption
      val horizon = wmOpt.getOrElse(Long.MinValue + windowMs) - windowMs
      val live = counts.filter { case (w, _) => w >= horizon }
      state.update(ThrottleState(live.keys.toSeq.sorted,
        live.keys.toSeq.sorted.map(live)))
      // Streaming only: time the state out once the watermark passes
      // the point where every currently-live window is beyond reach
      // (w < wm − windowMs dies in the prune above, so maxW + 2·window
      // covers the last live window plus the pruning slack).
      wmOpt.foreach { _ =>
        val maxW = if (live.isEmpty) horizon + windowMs else live.keys.max
        state.setTimeoutTimestamp(maxW + 2 * windowMs)
      }
      out.iterator
    }

    events
      .withColumn("event_time", timestamp_millis(col("event_ms")))
      .withWatermark("event_time", "10 minutes")
      .select(col("logStream").as("stream"), col("event_ms"), col("seq"), col("event_time"))
      .as[ThrottleEvent]
      .groupByKey(_.stream)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }

  /** The custom flatMapGroupsWithState rate limiter
    * (`throttle` above) in BATCH mode: admit at most 5
    * events per user per hour, decided per event in (ms, id) order —
    * the Watcher-throttle / per-tenant-ingest-cap semantics a windowed
    * count cannot express (the decision happens AT the event, not when
    * the window closes). Batch mode is exact: each key's history is one
    * sorted group, so the oracle is row_number ≤ N per key × window.
    * The streaming suite drives the same code through MemoryStream and
    * asserts counters persist across micro-batches. */
  // 24 h window (r20 gate-liveness audit): at the old 1 h window no
  // (user, window) bucket ever exceeded 5 events at ANY shipped SF, so
  // `admitted` was the constant true and the reject branch — the
  // operator's entire reason to exist — never ran. Per-day × 5 rejects
  // 18 / 166 / 1675 events at sf0.001 / 0.01 / 0.1: both branches live
  // everywhere, semantics still "cap per tenant per window".
  private val throttleWindowMs = 86400000L
  private val throttleMax = 5L
  val throttleOp = QueryDef(
    "ns_stream_throttle",
    (s, dir) => throttle(
        Tables.events(s, dir).select(
          concat(lit("u"), col("user_id")).as("logStream"),
          col("ts_ms").as("event_ms"), col("event_id").as("seq")),
        windowMs = throttleWindowMs, maxPerWindow = throttleMax)
      .toDF(),
    Some(s"""SELECT concat('u', user_id) AS stream,
           |  (epoch_ms(ts) // $throttleWindowMs) * $throttleWindowMs AS window_ms,
           |  event_id AS seq, epoch_ms(ts) AS event_ms,
           |  (row_number() OVER (PARTITION BY user_id, epoch_ms(ts) // $throttleWindowMs
           |     ORDER BY epoch_ms(ts), event_id)) <= $throttleMax AS admitted
           |FROM events""".stripMargin),
    // the rate limiter BOTH admits and rejects — an all-admitted run
    // never exercises the cap decision
    liveness = Seq(
      "admit_and_reject_branches_live" ->
        ("SELECT count(CASE WHEN admitted THEN 1 END) > 0 AND " +
          "count(CASE WHEN NOT admitted THEN 1 END) > 0 FROM r")))

  /** One batch's partial pivot — the same aggregate the one-shot
    * `ns_transform_pivot` runs, restricted to the batch. */
  def partial(batch: DataFrame): DataFrame =
    batch.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      sum(col("vc")).as("sum_value_c"),
      max(col("ok")).as("last_ok"),
      expr("max_by(event_type, ok)").as("last_type"))

  /** Merge two partial states. Associative and commutative: sums add,
    * the argmax re-decides on the unique key — so any batch split folds
    * to the same store as the one-shot aggregate. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("user_id").agg(
      sum(col("n_events")).as("n_events"),
      sum(col("sum_value_c")).as("sum_value_c"),
      max(col("last_ok")).as("last_ok"),
      expr("max_by(last_type, last_ok)").as("last_type"))

  /** The continuous `_transform` upsert, batch-twinned: the event log
    * splits into three "triggers", each reduced to its `partial` pivot
    * and folded into the prior state with `merge` — what a continuous
    * transform does per micro-batch. The oracle is the one-shot pivot,
    * so a green row proves the merge is associative: any trigger split
    * converges to the same entity table. last_ms recovers from the
    * ordering key by exact shift (ok = ms·2^20 + event_id). */
  val transformUpsertOp = QueryDef(
    "ns_stream_transform_upsert",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"),
        cents(col("value")).as("vc"),
        (col("ts_ms") * 1048576L + col("event_id")).as("ok"),
        col("event_id"))
      val batches = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i).drop("event_id"))
      batches.map(partial).reduce(merge)
        .select(col("user_id"), col("n_events"), col("sum_value_c"),
          shiftright(col("last_ok"), 20).as("last_ms"), col("last_type"))
    },
    Some(s"""SELECT user_id, count(*) AS n_events,
            |  ${sqlSum(sqlCents("value"))} AS sum_value_c,
            |  max(epoch_ms(ts)) AS last_ms,
            |  arg_max(event_type, epoch_ms(ts) * 1048576 + event_id) AS last_type
            |FROM events GROUP BY 1""".stripMargin))

  def entries: Seq[QueryDef] = Seq(tumblingOp, hoppingOp, dedupOp, sessionOp, sessionizeOp,
    streamJoinOp, streamJoinOuterOp, streamTopNOp, throttleOp, transformUpsertOp)
}
