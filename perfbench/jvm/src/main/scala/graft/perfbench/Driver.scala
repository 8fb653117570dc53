package graft.perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.util.concurrent.{Executors, TimeUnit}

import graft.perfbench.Traffic.Request

/** The service benchmark driver: one process holding the seeded load
  * generator and the `_bulk` stub, driving `graft.streaming.Serve`
  * children (see perfbench/README.md for workloads and metrics).
  *
  * Usage: Driver --workload <firehose_trickle|firehose_backlog> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --launch <dir> [--commit <id>]
  *
  * The last stdout line is the result:
  * {"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}
  * with every end-to-end metric (--trace 0) or every per-layer metric
  * (--trace 1). A failed correctness check exits 1. */
object Driver {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, launch: File, commit: String)

  /** Everything one run shares: options, box size, child launch line. */
  final class Ctx(val o: Opts) {
    val nproc: Int = Runtime.getRuntime.availableProcessors()
    val javaOpts: Seq[String] =
      scala.io.Source.fromFile(new File(o.launch, "javaopts.txt"), "UTF-8").getLines().filter(_.nonEmpty).toVector
    val classpath: String = System.getProperty("java.class.path")
    val runDir: File = new File(o.work, s"run-${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val geoDir: File = Geo.ensure(new File(o.work, "geo"))
    def dir(name: String): File = { val d = new File(runDir, name); d.mkdirs(); d }
  }

  /** One child's slice of a pass, as the trace analysis needs it. */
  final case class Segment(spans: Option[File], winStartMs: Long, winEndMs: Long,
                           availMs: Array[Long], firstDocMs: Array[Long])

  /** One pass over a workload: end-to-end figures, driver-side layer
    * counts, the child segments, attempted operations and problems. */
  final case class Pass(e2e: Map[String, Double], layers: Map[String, Double],
                        segments: Seq[Segment], attempted: Long, problems: Check.Problems,
                        manifest: Map[String, Any])

  val units: Map[String, String] = Map(
    "setup_s" -> "s",
    "ack_p50_ms" -> "ms", "fresh_p50_ms" -> "ms", "fresh_p95_ms" -> "ms",
    "accept_rps" -> "1/s", "drain_docs_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      new File(a("work")), new File(a("launch")), a.getOrElse("commit", "unknown"))
    if (!Set("firehose_trickle", "firehose_backlog")(o.workload)) {
      System.err.println(s"unknown workload ${o.workload}")
      sys.exit(2)
    }
    val ctx = new Ctx(o)
    val load0 = loadavg()
    val calibration = Box.calibrate()
    val problems = new Check.Problems
    var attempted = 0L
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    try {
      val run: Boolean => Pass =
        if (o.workload == "firehose_trickle") Service.trickle(ctx, _) else Service.backlog(ctx, _)
      // end-to-end figures always come from an untraced pass
      val plain = run(false)
      attempted += plain.attempted
      problems ++= plain.problems
      emit("manifest", plain.manifest)
      log("untraced pass done")
      if (!o.trace) plain.e2e.foreach { case (k, v) => metrics(k) = (v, units(k)) }
      else {
        val traced = run(true)
        log("traced pass done")
        attempted += traced.attempted
        problems ++= traced.problems
        val layers = Layers.compute(traced.segments, problems)
        val cpu = "child.cpu_ms_per_kdoc"
        val overhead = traced.layers(cpu) / plain.layers(cpu) - 1.0
        val (oneCore, oneCoreAttempted) = Service.drainOneCore(ctx, problems)
        attempted += oneCoreAttempted
        log("one-core drain done")
        val probe = Probe.run(ctx)
        log("isolation probe done")
        // the service's own CPU and memory come from the untraced children
        (traced.layers ++ layers ++ probe ++ Map(
          "child.peak_rss_mb" -> plain.layers("child.peak_rss_mb"),
          cpu -> plain.layers(cpu),
          "drain_docs_per_s_1core" -> oneCore,
          "trace.overhead_share" -> overhead)).toSeq.sortBy(_._1).foreach { case (k, v) =>
          metrics(k) = (v, Layers.unit(k))
        }
        emit("self_ms_per_trigger", Layers.selfTimes(traced.segments))
        emit("tracing_overhead", Map(
          "cpu_ms_per_kdoc_untraced" -> plain.layers(cpu),
          "cpu_ms_per_kdoc_traced" -> traced.layers(cpu),
          "overhead_share" -> overhead))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        problems += s"run aborted: $e"
        attempted = math.max(attempted, 1L)
    } finally {
      Child.live.forEach(_.stop())
      deleteTree(ctx.runDir)
    }
    emit("box", Map("nproc" -> ctx.nproc, "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
      "jvm" -> System.getProperty("java.vm.version"), "commit" -> o.commit,
      "calibration_xxhash64_s" -> calibration, "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace))
    problems.messages.foreach(m => System.err.println(s"[perfbench] FAILED: $m"))
    val correct = problems.count == 0
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":${problems.count},"metrics":$body}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(v: Any): String = v match {
    case s: String => Traffic.js(s)
    case d: Double => num(d)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${Traffic.js(k.toString)}:${json(x)}" }.sorted.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One `{"<what>": …}` line of context on stdout (never the last line). */
  def emit(what: String, m: Map[String, Any]): Unit = println(s"""{"$what":${json(m)}}""")

  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ').take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Linear-interpolation percentile (q in 0..100). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = q / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** One Firehose POST: (status, nanoTime the POST started, nanoTime of the ack). */
  def post(url: String, r: Request): (Int, Long, Long) = {
    val t0 = System.nanoTime()
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setConnectTimeout(5000); c.setReadTimeout(60000)
      c.setFixedLengthStreamingMode(r.body.length)
      c.setRequestProperty("Content-Type", "application/json")
      c.setRequestProperty("X-Amz-Firehose-Request-Id", r.requestId)
      r.accessKey.foreach(k => c.setRequestProperty("X-Amz-Firehose-Access-Key", k))
      if (r.gzipBody) c.setRequestProperty("Content-Encoding", "gzip")
      val os = c.getOutputStream
      try os.write(r.body) finally os.close()
      val s = c.getResponseCode
      val is = if (s >= 400) c.getErrorStream else c.getInputStream
      if (is != null) try is.readAllBytes() finally is.close()
      (s, t0, System.nanoTime())
    } catch { case _: java.io.IOException => (-1, t0, System.nanoTime()) }
    finally c.disconnect()
  }

  /** Closed loop: `conns` clients each POST their next request as soon as
    * the previous one is acked. Returns (status, start, ack) per request
    * and the loop's wall seconds. */
  def closedLoop(url: String, reqs: IndexedSeq[Request], conns: Int): (Array[(Int, Long, Long)], Double) = {
    val out = new Array[(Int, Long, Long)](reqs.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(conns)
    val t0 = System.nanoTime()
    (0 until conns).foreach(_ => pool.submit(new Runnable {
      def run(): Unit = {
        var i = next.getAndIncrement()
        while (i < reqs.size) { out(i) = post(url, reqs(i)); i = next.getAndIncrement() }
      }
    }))
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** The files and bytes waiting in a spool directory (staged dot-files
    * excluded, as the file source ignores them). */
  def spool(dir: File): (Int, Long) = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(f => !f.getName.startsWith("."))
    (fs.length, fs.iterator.map(_.length()).sum)
  }

  /** The parquet files of a sink output dir, one `batch=*` dir per batch. */
  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.filter(_.getName.startsWith("batch="))
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty[File]))
      .filter(_.getName.endsWith(".parquet"))

  /** Rows under `<dir>/batch=*` parquet (ERROR_ITEMS: per-item rejections). */
  def parquetRows(dir: File): Long =
    parquetFiles(dir).iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }.sum
}

/** Box state every record carries besides nproc and loadavg: a fixed,
  * data-independent xxhash64 workload (the hash Bench's calibration
  * probe runs), single-threaded, min of 3 after a warm run. A contended
  * box shows as a slower probe. */
object Box {
  @volatile private var sink = 0L
  def calibrate(): Double = {
    def one(): Double = {
      val t0 = System.nanoTime()
      var m = Long.MinValue
      var i = 0L
      while (i < 100000000L) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i, 42L)
        if (h > m) m = h
        i += 1
      }
      sink = m
      (System.nanoTime() - t0) / 1e9
    }
    one()
    Seq(one(), one(), one()).min
  }
}

/** The geo dim the children load (`SPARK_GRAFT_GEODIM`): a 25-row
  * `nation.parquet` written once per work dir, with the n_nationkey /
  * n_name columns `Enrich.geoDim` reads. */
object Geo {
  def ensure(dir: File): File = {
    val f = new File(dir, "nation.parquet")
    if (!f.exists()) {
      dir.mkdirs()
      val tmp = new File(dir, s".nation-${ProcessHandle.current().pid()}.parquet")
      tmp.delete()
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message nation { required int32 n_nationkey; required binary n_name (STRING); " +
          "required int32 n_regionkey; }")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(tmp.getAbsolutePath)).withConf(conf).withType(schema).build()
      try (0 until Traffic.nations).foreach { k =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema).newGroup()
        g.add("n_nationkey", k); g.add("n_name", Traffic.nationName(k)); g.add("n_regionkey", k % 5)
        w.write(g)
      } finally w.close()
      new File(dir, s".${tmp.getName}.crc").delete()
      java.nio.file.Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }
}
