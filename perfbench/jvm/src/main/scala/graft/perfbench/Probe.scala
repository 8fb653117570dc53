package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.perfbench.Driver.{Ctx, median}
import graft.streaming.{FirehoseEndpoint, IngestPipeline, Pipeline, SourceConfig}

/** Isolation probe (traced runs only): the per-row stages of the sink
  * path, timed apart on a sample of backlog-shaped traffic in a local
  * session the size of the box. The spool is landed through
  * FirehoseEndpoint and held in memory, then each cumulative stage is
  * forced through the `noop` sink (one warm run, mean of 2):
  *   decode  = Pipeline.route's documents channel (base64 → gunzip →
  *             from_json → explode → json-or-text);
  *   enrich  = + IngestPipeline.enrich (with the geo dim);
  *   render  = + Pipeline.toBulkNdjsonKeyed;
  *   deadletter = Pipeline.route's dead-letter channel.
  * Each stage's figure is its increment over the stage before, per
  * 1,000 documents (dead letters: per 1,000 input records). */
object Probe {
  def run(ctx: Ctx): Map[String, Double] = {
    // per-row costs need rows: always two backlog-shaped requests
    // (~32k documents), whatever the workload
    val reqs = (0 until 2).map(i => Traffic.request(ctx.o.seed, 1000 + i, Traffic.backlog))
    val dir = ctx.dir("probe-spool")
    val ep = new FirehoseEndpoint(dir.getAbsolutePath, 0)
    try reqs.foreach(r => require(Driver.post(s"${ep.url}/firehose", r)._1 == 200, "probe spool landing failed"))
    finally ep.stop()
    val spark = SparkSession.builder()
      .master(s"local[${ctx.nproc}]")
      .config("spark.sql.shuffle.partitions", ctx.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(ctx.runDir, "probe-warehouse").getAbsolutePath)
      .getOrCreate()
    try {
      graft.GraftExtensions.install(spark)
      spark.sparkContext.setLogLevel("WARN")
      val frame = spark.read.schema(SourceConfig.schema).json(dir.getAbsolutePath)
        .repartition(ctx.nproc).persist()
      frame.count()
      val geo = IngestPipeline.geoDimFromNation(spark, ctx.geoDir.getAbsolutePath)
      def time(df: => DataFrame): Double = {
        def one(): Double = {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
        one()
        median(Seq(one(), one()))
      }
      def docs = Pipeline.route(frame)._1
      def enriched = IngestPipeline.enrich(docs, Some(geo))
      val tDecode = time(docs)
      // the renderer serializes every enriched column but the VARIANT
      // twin of the message, so enrich is timed on that same column set
      val tEnrich = time(enriched.drop("message_v"))
      val tRender = time(Pipeline.toBulkNdjsonKeyed(enriched, Service.index))
      val tDead = time(Pipeline.route(frame)._2)
      val kdocs = reqs.iterator.map(_.docs).sum / 1000.0
      val krecs = reqs.iterator.map(_.records.size).sum / 1000.0
      val grok = enriched.filter(col("logGroup").rlike("axway"))
        .agg(count(col("status_code")).as("m"), count(lit(1)).as("n")).head()
      Map(
        "decode.ms_per_kdoc" -> tDecode / kdocs,
        "enrich.ms_per_kdoc" -> (tEnrich - tDecode) / kdocs,
        "render.ms_per_kdoc" -> (tRender - tEnrich) / kdocs,
        "deadletter.ms_per_krec" -> tDead / krecs,
        "enrich.grok_match_share" -> grok.getLong(0).toDouble / math.max(1L, grok.getLong(1)))
    } finally {
      spark.stop()
      Driver.deleteTree(dir)
    }
  }
}
