package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextOps

/** Streaming incremental corpus dedup — the continuous-ingestion form of
  * `ns_dedup_incremental`: each micro-batch of documents is near-dup
  * checked against a PERSISTED signature store built by all prior
  * batches (and against itself), dups are flagged with their canonical
  * duplicate, and only the batch's unique documents extend the store —
  * a duplicate never becomes a future dedup target, so the store is the
  * canonical corpus.
  *
  * Store layout under `storeDir` (both idempotent under checkpoint
  * replay — each batch owns its `batch=<id>` partition with overwrite,
  * and reads see only partitions strictly BEFORE the current batch, so
  * a replayed batch never matches its own earlier write):
  *  - `bands/batch=<id>/bkt=<b>/` — (doc_id, band, sig) MinHash band
  *    rows, sub-partitioned by the signature bucket
  *    `bkt = pmod(hash(band, sig), storeBuckets)`.
  *  - `sets/batch=<id>/dkt=<d>/`  — (doc_id, sh) distinct shingle sets,
  *    sub-partitioned by the doc bucket
  *    `dkt = pmod(hash(doc_id), storeBuckets)`.
  *
  * Scale shape: a micro-batch is small and the store is the corpus, so
  * both candidate joins BROADCAST the batch side — the store's band and
  * set scans stay map-side, no corpus shuffle per trigger. The bucketed
  * layout makes the per-trigger READ bounded too: the probe filters the
  * store scan to the batch's signature buckets (and the set fetch to
  * the candidates' doc buckets) as STATIC partition filters, so
  * per-trigger IO tracks the batch's bucket footprint, never the corpus
  * size — the same partition-pruned probe the IVF index uses
  * (ops/VectorSearch.scala ivfIndex), with the dynamic-pruning subquery
  * replaced by an explicit bucket-set exchange: the probe's distinct
  * bucket ids (≤ storeBuckets integers, a constant) are collected and
  * inlined as an IN partition filter — exactly the driver-side value
  * exchange a DynamicPruningSubquery performs, made deterministic so
  * the pruned scan is a plan invariant (DedupStreamSpec) rather than an
  * optimizer heuristic. Candidate volume is bounded by the LSH bands
  * exactly like the batch ops; verification is exact Jaccard on
  * candidates only.
  *
  * Documents with fewer than 3 tokens produce no shingles, are always
  * unique, and are not stored (they can never be a dedup target).
  */
object DedupStream {

  /** Signature-store bucket count. Each trigger writes ≤ storeBuckets
    * files per store (compaction folds them to one file per bucket) and
    * reads only the buckets its batch touches; at 100 TB the knob grows
    * with the corpus (more, smaller buckets → finer pruning) without
    * changing the plan shape. */
  val storeBuckets = 16

  private def bandBucket: org.apache.spark.sql.Column =
    pmod(hash(col("band"), col("sig")), lit(storeBuckets))
  private def docBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(c), lit(storeBuckets))

  /** Read the store `sub` pruned to partitions strictly before `batchId`
    * AND inside the probe's bucket set — both are partition columns, so
    * the filter prunes at file listing, reading only the probed buckets'
    * directories. None if the store doesn't exist yet. */
  private[graft] def probeStore(spark: SparkSession, storeDir: String, sub: String,
                                batchId: Long, bktCol: String,
                                buckets: Seq[Int]): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(s"$storeDir/$sub")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty bucket set (a batch with no shingled docs / no
    // candidates) probes nothing by definition
    if (buckets.nonEmpty && fs.exists(path) && fs.listStatus(path).nonEmpty) {
      val df = spark.read.parquet(path.toString)
      // fail FAST and legibly on a store written by the pre-bucketed
      // layout (bands/batch=<id>/ without bkt=<b>/ subdirectories):
      // the partition column simply isn't there, and the alternative
      // is an opaque unresolved-column error mid-trigger
      if (!df.columns.contains(bktCol))
        throw new IllegalStateException(
          s"$path uses the pre-bucketed store layout (no $bktCol partition); " +
            "start a fresh storeDir or rewrite the store once with " +
            s"partitionBy($bktCol) before resuming the stream")
      Some(df.filter(col("batch") < batchId && col(bktCol).isin(buckets: _*)))
    } else None
  }

  /** One micro-batch: flag dups against the store + within-batch, write
    * results to `outDir/batch=<id>`, extend the store with uniques.
    * Expects columns (doc_id BIGINT, text STRING). */
  def sinkBatch(storeDir: String, outDir: String, threshold: Double = 0.5,
                metrics: Option[ServiceMetrics] = None)
               (batch: Dataset[Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val docs = batch.toDF().select(col("doc_id"), col("text")).persist()
    // both frames are referenced by candidate generation AND the store
    // write — persisted so the signature pass runs once per batch, not
    // once per reference
    val bands = TextOps.bandSignatures(docs, "doc_id", "text")
      .withColumn("bkt", bandBucket).persist()
    val sets = TextOps.shingleSets(docs, "doc_id", "text").persist()
    try {
      // the batch's signature-bucket footprint: ≤ storeBuckets integers
      // off the persisted frame — the bounded driver-side exchange that
      // stands in for a dynamic-pruning subquery (see class doc)
      val bandBkts = bands.select("bkt").distinct().collect().map(_.getInt(0)).toSeq

      // candidate targets: prior corpus docs (any id) and within-batch
      // docs with a SMALLER id (the within-batch canonical rule of
      // ns_dedup_incremental/ns_dedup_pipeline: min doc_id keeps).
      // dup_of is a matched canonical CANDIDATE — when similarity is
      // not transitive it may itself be flagged against an even earlier
      // doc; chain-chasers resolve through the results channel.
      val batchTargets = bands
        .select(col("doc_id").as("old_id"), col("band"), col("sig"))
        .withColumn("prior", lit(false))
      val targets = probeStore(spark, storeDir, "bands", batchId, "bkt", bandBkts)
        .map(p => p.select(col("doc_id").as("old_id"), col("band"), col("sig"))
          .withColumn("prior", lit(true))
          .unionByName(batchTargets))
        .getOrElse(batchTargets)
      val cand = targets
        .join(broadcast(bands.select(col("doc_id").as("new_id"), col("band"), col("sig"))),
          Seq("band", "sig"))
        .filter(col("prior") || col("old_id") < col("new_id"))
        .filter(col("old_id") =!= col("new_id"))
        .select(col("new_id"), col("old_id"))
        .distinct()
        .persist()

      try {
        // candidate doc-bucket footprint for the set fetch (bounded by
        // storeBuckets, same exchange as bandBkts)
        val candBkts = cand.select(docBucket(col("old_id")).as("dkt"))
          .distinct().collect().map(_.getInt(0)).toSeq

        val batchSets = sets.select(col("doc_id").as("old_id"), col("sh").as("sb"))
        val targetSets = probeStore(spark, storeDir, "sets", batchId, "dkt", candBkts)
          .map(p => p.select(col("doc_id").as("old_id"), col("sh").as("sb"))
            .unionByName(batchSets))
          .getOrElse(batchSets)
        val dups = targetSets
          .join(broadcast(cand), "old_id")
          .join(broadcast(sets.select(col("doc_id").as("new_id"), col("sh").as("sa"))), "new_id")
          .withColumn("o", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("na", size(col("sa")).cast("long"))
          .withColumn("nb", size(col("sb")).cast("long"))
          .filter(expr(s"CAST(o AS DOUBLE) / (na + nb - o) >= $threshold"))
          .groupBy("new_id").agg(min(col("old_id")).as("dup_of"))

        val results = docs.select(col("doc_id"))
          .join(dups.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_unique"))
          .persist()
        try {
          // a micro-batch's output is small by definition — one file per
          // channel per batch, not one per shuffle partition (at a 5 s
          // cadence, 32 files/batch would mint ~550k tiny files/day).
          // Per-batch uniques/dups ride the write itself as an observe()
          // node (ServiceMetrics harvests on action success) — zero
          // extra count jobs, the counted frame is the written one.
          // coalesce: sum() over an EMPTY micro-batch is null, and the
          // harvest listener reads longs
          metrics.fold(results)(m => results.observe(m.dedupResultsMetric,
              coalesce(sum(when(col("is_unique"), 1L).otherwise(0L)), lit(0L)).as("uniques"),
              coalesce(sum(when(col("is_unique"), 0L).otherwise(1L)), lit(0L)).as("dups")))
            .coalesce(1)  // batch-bounded: one micro-batch of results
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          val uniques = results.filter(col("is_unique")).select("doc_id")
          writeStorePartition(
            bands.join(broadcast(uniques), "doc_id"),
            "bkt", s"$storeDir/bands/batch=$batchId",
            df => metrics.fold(df)(m =>
              df.observe(m.dedupStoreMetric, count(lit(1)).as("rows"))))
          writeStorePartition(
            sets.join(broadcast(uniques), "doc_id")
              .withColumn("dkt", docBucket(col("doc_id"))),
            "dkt", s"$storeDir/sets/batch=$batchId")
          metrics.foreach(_.dedupBatches.incrementAndGet())
        } finally results.unpersist()
      } finally cand.unpersist()
    } finally {
      bands.unpersist()
      sets.unpersist()
      docs.unpersist()
    }
  }

  /** Write one `batch=<id>` store partition, EMPTY-SAFE: a partitioned
    * write of an empty frame leaves a fileless directory (just
    * _SUCCESS) that breaks every later schema-inferring read, so an
    * all-dups batch writes nothing — and deletes a stale earlier
    * attempt's partition if one exists (replay idempotence, the
    * channelWriter emptiness discipline). `observe` decorates ONLY the
    * non-empty write plan — attached after the emptiness probe, whose
    * limit-1 action would otherwise harvest a partial count. */
  private def writeStorePartition(df: DataFrame, bktCol: String, path: String,
                                  observe: DataFrame => DataFrame = identity): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (df.isEmpty) { if (fs.exists(p)) fs.delete(p, true) }
    else observe(df).coalesce(1).write.partitionBy(bktCol).mode("overwrite").parquet(path)  // batch-bounded: one micro-batch store partition
  }

  /** Streams started by `run`, by store dir — compact() refuses to
    * rewrite a store a live query in this process is reading. The
    * sentinel marks the window between run() being called and start()
    * returning the query handle, so a concurrent compact can never
    * slip through mid-startup; compact() removes entries whose query
    * has stopped, so the registry does not grow with restarts. */
  private case object Starting
  private val activeRuns =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Compact the signature store: fold every `batch=<id>` partition
    * with id < `upTo` into ONE consolidated partition, so a
    * long-running stream's store stays one well-sized file per bucket
    * instead of one directory per trigger (directory listing cost grows
    * with trigger count, not corpus size). Rows are `distinct`ed in the
    * fold, purging the duplicates a replayed batch or a crashed prior
    * compaction can leave behind.
    *
    * Crash- and replay-safe by construction:
    *  - The consolidated rows live at a FRESH strictly-decreasing
    *    negative partition id (`min(existing ids, 0) - 1`) — strictly
    *    before every real batch id, so any batch's strictly-before read
    *    always sees the consolidated corpus, including a replayed batch
    *    whose own rows were folded in; and NEVER an id in the read set,
    *    so a crash between write and delete (which leaves both the new
    *    consolidation and the olds on disk) just means the next compact
    *    folds them all into a fresh id — it can never overwrite a
    *    directory it is also reading.
    *  - The consolidated partition is WRITTEN BEFORE the old ones are
    *    deleted: a crash at any point leaves the store complete
    *    (possibly with duplicate rows until the next compact), never
    *    empty — the delete-then-rename shape would lose the whole
    *    corpus to a crash between the two steps.
    *
    * MUST run while the stream is stopped (between restarts):
    * compaction rewrites directories the running query reads. Enforced
    * for streams this process started via `run` — compacting a store
    * with a live query throws instead of failing the query's next
    * trigger with a FileNotFoundException mid-job. */
  def compact(spark: org.apache.spark.sql.SparkSession, storeDir: String,
              upTo: Long, targetFiles: Int = 8): Unit = {
    activeRuns.get(storeDir) match {
      case null => ()
      case q: StreamingQuery if !q.isActive =>
        activeRuns.remove(storeDir, q) // stopped — clean the registry
      case _ => // Starting sentinel or a live query
        throw new IllegalStateException(
          s"a streaming query is still reading $storeDir — stop it before compacting")
    }
    for ((sub, bktCol) <- Seq("bands" -> "bkt", "sets" -> "dkt")) {
      val root = new org.apache.hadoop.fs.Path(s"$storeDir/$sub")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) {
        val olds = fs.listStatus(root).map(_.getPath)
          .filter { p =>
            p.getName.startsWith("batch=") &&
              p.getName.stripPrefix("batch=").toLong < upTo
          }
        if (olds.length > 1) {
          val oldIds = olds.map(_.getName.stripPrefix("batch=").toLong)
          val target = math.min(oldIds.min, 0L) - 1L
          // repartition BY the bucket column: every bucket's rows land
          // in one task, so the consolidated partition is one file per
          // bucket — the layout the pruned probe wants. One read per
          // old partition, unioned: a multi-root read over directories
          // that THEMSELVES contain bucket partitions is ambiguous to
          // partition discovery (conflicting-structure error).
          olds.map(p => spark.read.parquet(p.toString)).reduce(_ unionByName _)
            .distinct()
            .repartition(math.max(targetFiles, 1), col(bktCol))
            .write.partitionBy(bktCol).mode("overwrite")
            .parquet(s"$storeDir/$sub/batch=$target")
          olds.foreach(fs.delete(_, true))
        }
      }
    }
  }

  /** Adapt the ingest pipeline's SUCCESS-archive documents to the
    * dedup contract (doc_id BIGINT, text STRING): the staged service
    * topology reads the archive as a file stream — each exploded
    * document keyed by a 60-bit hash of its `event_ref` (the envelope's
    * `event_id` is shared by every document exploded from one record,
    * so it cannot key documents; the hash is deterministic across
    * replays, and "min doc_id keeps" becomes "min hash keeps", an
    * arbitrary-but-stable canonical). `text` is the normalized message
    * payload. */
  def fromPipelineDocs(docs: DataFrame): DataFrame =
    docs.select(
      expr("CAST(conv(substring(md5(event_ref), 1, 15), 16, 10) AS BIGINT)").as("doc_id"),
      col("message").as("text"))

  /** The stable column subset every SUCCESS-archive variant carries
    * (enrich stages append columns; these always exist) — the schema a
    * streaming read of the archive declares. */
  val pipelineDocsSchema = "event_id BIGINT, event_ref STRING, message STRING"

  /** Optional junk gate ahead of the signature work — a production
    * dedup stage never pays LSH/store cost for documents a downstream
    * quality filter would drop anyway. Restates the ns_filter_funnel
    * 'too_short' and 'repetitive' rules over the dedup contract
    * columns: minimum character length and minimum type/token ratio.
    * Gated documents never enter the stage — no verdict row, no store
    * growth; both filters are pure codegen projections evaluated
    * map-side before any shuffle or probe. */
  def qualityGate(docs: DataFrame, minChars: Int = 0, minTtr: Double = 0.0): DataFrame = {
    // each filter only when its threshold is active — an always-true
    // TTR predicate would still tokenize every document per batch
    val afterLen =
      if (minChars > 0) docs.filter(length(col("text")) >= minChars) else docs
    if (minTtr > 0.0)
      afterLen.filter(size(array_distinct(split(trim(col("text")), " "))).cast("double")
        / size(split(trim(col("text")), " ")) >= minTtr)
    else afterLen
  }

  /** Wire the per-batch dedup into a streaming query. `source` must
    * deliver (doc_id, text) rows. */
  def run(source: DataFrame, storeDir: String, outDir: String,
          checkpointDir: String,
          trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
          threshold: Double = 0.5,
          metrics: Option[ServiceMetrics] = None): StreamingQuery = {
    // register BEFORE start(): a compact racing the first trigger must
    // see the store as claimed even while start() is still executing
    activeRuns.put(storeDir, Starting)
    try {
      val q = source.writeStream
        .foreachBatch(sinkBatch(storeDir, outDir, threshold, metrics) _)
        .trigger(trigger)
        .option("checkpointLocation", checkpointDir)
        .start()
      activeRuns.put(storeDir, q)
      q
    } catch {
      case e: Throwable => activeRuns.remove(storeDir); throw e
    }
  }
}
