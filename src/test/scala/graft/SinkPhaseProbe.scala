package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Decode
import graft.streaming.{HttpBulk, IngestPipeline, Pipeline, SourceConfig}

/** Where a live trigger's `addBatch` self time goes. One trickle-shaped
  * micro-batch (14 gzipped Firehose records of 10 axway log events, one
  * record undecodable) runs through the phases of `Pipeline.sinkBatch`,
  * in its order, each timed apart, against an in-process `_bulk` stub
  * and the nation geo dim:
  *   decode_persist = decode + observe + persist of the batch;
  *   enrich_build   = the documents channel through the enrich stage
  *                    (plan construction only);
  *   docs_persist   = `persist()` of the enriched documents;
  *   post / archive / error = the bulk POST, the SUCCESS write and the
  *                    ERROR write, each one action.
  * The batch is a LogicalRDD, as foreachBatch hands it over, and
  * adaptive execution is off, as in the sink. It prints each phase's p50
  * over the repetitions (after 3 warm ones) and the Spark jobs per batch.
  *
  *   sbt "Test/runMain graft.SinkPhaseProbe [sfDir] [reps]"
  *
  * It uses only the public pipeline surface, so two source trees can be
  * measured with the same file. The enrich stage is the one the service
  * builds: `IngestPipeline.enricher(dim)` once where it exists, else
  * `IngestPipeline.enrich(_, dim)` per batch.
  */
object SinkPhaseProbe {
  private val phases = Seq("decode_persist", "enrich_build", "docs_persist", "post", "archive", "error")

  private def b64(b: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(b)

  /** A gzipped CloudWatch envelope of 10 access-log events from
    * addresses inside the nation dim's ranges. */
  private def record(i: Int): String = {
    val events = (0 until 10).map { j =>
      val line = s"0.$i.$j.7 - u$j [01/Jan/2024:00:00:0$j +0000] \\\"GET /v1/view/item$j.html?page=$i HTTP/1.1\\\" " +
        s"200 ${100 + j} 4$j \\\"0.$i.$j.7\\\" client-$j txn-$i$j corr-$j"
      s"""{"id":"e$i-$j","timestamp":${1000 + j},"message":"$line"}"""
    }
    val env = s"""{"messageType":"DATA_MESSAGE","logGroup":"/axway/prod/http-access",""" +
      s""""logStream":"s$i","logEvents":[${events.mkString(",")}]}"""
    b64(graft.expr.GzipCodec.gzip(env.getBytes(UTF_8)))
  }

  /** Pipeline's documents channel over a decoded frame. */
  private def documents(d: DataFrame): DataFrame =
    d.filter(col("err").isNull).select(
      col("event_id"), col("batch_ms"), col("requestId"), col("access_key"),
      col("env.logGroup").as("logGroup"), col("env.logStream").as("logStream"),
      explode(col("env.logEvents")).as("ev"))
      .select(
        col("event_id"), col("batch_ms"), col("requestId"), col("access_key"),
        col("logGroup"), col("logStream"),
        col("ev.id").as("event_ref"),
        col("ev.timestamp").as("event_ms"),
        Decode.jsonOrText(col("ev.message")).as("message"))

  /** Pipeline's dead-letter channel over a decoded frame. */
  private def deadLetters(d: DataFrame): DataFrame =
    d.filter(col("err").isNotNull).select(col("event_id"), col("batch_ms"), col("requestId"),
      coalesce(col("rawBody"), col("data")).as("body"), col("err"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val reps = args.lift(1).map(_.toInt).getOrElse(30)
    val warm = 3
    val spark = Session.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val stub = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    stub.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    stub.start()
    val out = Files.createTempDirectory("sink-phase").toString
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    try {
      val geo = Some(IngestPipeline.geoDimFromNation(spark, sfDir))
      val enrich: DataFrame => DataFrame =
        scala.util.Try(IngestPipeline.getClass.getMethod("enricher", classOf[Option[_]])).toOption
          .map(_.invoke(IngestPipeline, geo).asInstanceOf[DataFrame => DataFrame])
          .getOrElse(IngestPipeline.enrich(_, geo))
      val post = HttpBulk.bulkWriter(s"http://127.0.0.1:${stub.getAddress.getPort}/_bulk",
        "graft-docs", s"$out/ERROR_ITEMS")
      val archive = Pipeline.channelWriter(s"$out/SUCCESS")
      val writeErr = Pipeline.channelWriter(s"$out/ERROR")
      val rows = (0 until 13).map(i => Row(i.toLong, 1L, record(i), "probe", "")) :+
        Row(13L, 1L, b64("garbage".getBytes(UTF_8)), "probe", "")

      val times = phases.map(_ -> ArrayBuffer.empty[Double]).toMap
      var measuredJobs = 0
      (0 until warm + reps).foreach { i =>
        def timed[T](phase: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          if (i >= warm) times(phase) += (System.nanoTime() - t0) / 1e6
          r
        }
        org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
        val jobs0 = jobs.get()
        val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), SourceConfig.schema)
        val d = timed("decode_persist")(Pipeline.decoded(batch)
          .observe("probe_counts", count_if(col("err").isNotNull).as("dead_letters"))
          .persist())
        val docs0 = timed("enrich_build")(enrich(documents(d)))
        val docs = timed("docs_persist")(docs0.persist())
        timed("post")(post(docs, i.toLong))
        timed("archive")(archive(docs, i.toLong, true))
        docs.unpersist()
        timed("error")(writeErr(deadLetters(d), i.toLong, true))
        d.unpersist()
        org.apache.spark.sql.graftshim.ListenerBus.flush(spark)
        if (i >= warm) measuredJobs += jobs.get() - jobs0
      }
      def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      phases.foreach(p => println(f"[sink-phase] $p%-15s p50 ${p50(times(p).toSeq)}%8.1f ms"))
      val total = (0 until reps).map(r => phases.map(times(_)(r)).sum)
      println(f"[sink-phase] ${"total"}%-15s p50 ${p50(total)}%8.1f ms")
      println(f"[sink-phase] jobs per batch ${measuredJobs.toDouble / reps}%.2f over $reps batches")
    } finally {
      stub.stop(0)
      spark.stop()
    }
  }
}
