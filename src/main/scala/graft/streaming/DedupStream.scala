package graft.streaming

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
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
    * files per store and reads only the buckets its batch touches; at
    * 100 TB the knob grows with the corpus (more, smaller buckets →
    * finer pruning) without changing the plan shape. */
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

  /** Name of the observation on the persisted results:
    * row(uniques, dups). */
  private val verdictCounts = "graft_dedup_verdicts"

  /** One micro-batch: flag dups against the store + within-batch, write
    * results to `outDir/batch=<id>`, extend the store with uniques.
    * Expects columns (doc_id BIGINT, text STRING).
    *
    * The observation on the persisted results counts uniques and dups
    * while the results write runs (read from the cached plan — no extra
    * job). Those counts decide the store writes, and with the band
    * write's own row count they feed `metrics` once all the batch's
    * writes succeeded. */
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
          .observe(verdictCounts,
            count_if(col("is_unique")).as("uniques"),
            count_if(!col("is_unique")).as("dups"))
          .persist()
        try {
          // a micro-batch's output is small by definition — one file per
          // channel per batch, not one per shuffle partition (at a 5 s
          // cadence, 32 files/batch would mint ~550k tiny files/day).
          // The write scans every cached partition, so it fills the
          // verdict counts
          results
            .coalesce(1)  // batch-bounded: one micro-batch of results
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          val verdicts = Bridge.cachedObservation(results, verdictCounts)
            .map(r => (r.getLong(0), r.getLong(1)))
          // only unique documents extend the store
          val extend = verdicts.forall(_._1 > 0)
          val uniques = results.filter(col("is_unique")).select("doc_id")
          val bandRows = writeStorePartition(
            bands.join(broadcast(uniques), "doc_id"),
            "bkt", s"$storeDir/bands/batch=$batchId", extend)
          writeStorePartition(
            sets.join(broadcast(uniques), "doc_id")
              .withColumn("dkt", docBucket(col("doc_id"))),
            "dkt", s"$storeDir/sets/batch=$batchId", extend)
          metrics.foreach { m =>
            m.dedupBatches.incrementAndGet()
            verdicts.foreach { case (u, d) =>
              m.dedupUniques.addAndGet(u)
              m.dedupDups.addAndGet(d)
            }
            m.dedupStoreRows.addAndGet(bandRows)
          }
        } finally results.unpersist()
      } finally cand.unpersist()
    } finally {
      bands.unpersist()
      sets.unpersist()
      docs.unpersist()
    }
  }

  /** Write one `batch=<id>` store partition and return its row count.
    * No probe job runs ahead of the write. `mayHaveRows = false` (the
    * batch has no unique document, known from its verdict counts) skips
    * the write. Otherwise the count is read back from the written
    * files' parquet footers on the driver, and a zero count (no unique
    * document had shingles) deletes what the write left: a partitioned
    * write of an empty frame leaves a fileless directory (just
    * _SUCCESS) that breaks every later schema-inferring read. Either
    * way a stale earlier attempt's partition does not survive (replay
    * idempotence). */
  private def writeStorePartition(df: DataFrame, bktCol: String, path: String,
                                  mayHaveRows: Boolean): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val rows =
      if (!mayHaveRows) 0L
      else {
        df.coalesce(1).write.partitionBy(bktCol).mode("overwrite").parquet(path)  // batch-bounded: one micro-batch store partition
        val files = fs.listFiles(p, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
          .filter(_.getName.endsWith(".parquet"))
          .map { f =>
            val footer = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
            try footer.getRecordCount finally footer.close()
          }.sum
      }
    if (rows == 0 && fs.exists(p)) {
      fs.delete(p, true)
      // nor leave an empty store root behind the first batch's write
      if (fs.listStatus(p.getParent).isEmpty) fs.delete(p.getParent, false)
    }
    rows
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
          metrics: Option[ServiceMetrics] = None): StreamingQuery =
    source.writeStream
      .foreachBatch(sinkBatch(storeDir, outDir, threshold, metrics) _)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .start()
}
