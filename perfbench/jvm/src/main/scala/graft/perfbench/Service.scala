package graft.perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import graft.perfbench.Driver.{Ctx, Pass, Segment, median, pct}
import graft.perfbench.Traffic.Request
import graft.streaming.FirehoseEndpoint

/** The two service workloads. Each pass starts its own stub and
  * children, so a traced pass differs from an untraced one only in the
  * children's `-D` listener properties. */
object Service {
  val index = "graft-docs"

  /** Trigger cadence of the live service and the trickle's rate: 14
    * requests per 5 s trigger window (2.8/s), under the file-drop spool's
    * 16-files-per-trigger cap. */
  val windowMs = 5000L
  val perWindow = 14

  /** Warm-up: 3 windows at 8 requests each; the 8-file margin under the
    * spool cap clears the backlog the cold first trigger builds. */
  val warmWindows = 3
  val warmPerWindow = 8

  def spawn(ctx: Ctx, dir: File, stub: BulkStub, traced: Boolean, drain: Boolean,
            cpus: Int): Child = {
    val tmp = new File(dir, "tmp")
    tmp.mkdirs()
    // Spark's local dirs stay inside the run directory
    val env = Map("SPARK_GRAFT_GEODIM" -> ctx.geoDir.getAbsolutePath,
      "SPARK_GRAFT_CPUS" -> cpus.toString, "SPARK_LOCAL_DIRS" -> tmp.getAbsolutePath) ++
      (if (drain) Map("SPARK_GRAFT_DRAIN" -> "1") else Map.empty)
    val props =
      if (!traced) Nil
      else Seq(
        "-Dspark.extraListeners=graft.perfbench.SchedulerListener",
        "-Dspark.sql.queryExecutionListeners=graft.perfbench.SinkListener",
        "-Dspark.sql.streaming.streamingQueryListeners=graft.perfbench.TriggerListener",
        s"-Dperfbench.spans=${new File(dir, "spans.jsonl").getAbsolutePath}")
    new Child(ctx.javaOpts :+ s"-Djava.io.tmpdir=${tmp.getAbsolutePath}", ctx.classpath, dir, env, props,
      Seq("drop", "out", "ckpt").map(n => new File(dir, n).getAbsolutePath) ++ Seq(stub.url, index))
  }

  /** Drop a child's spool, output and checkpoint; its span file stays
    * for the trace analysis (the whole run dir goes at exit). */
  private def cleanData(dir: File): Unit =
    Seq("drop", "out", "ckpt", "tmp").foreach(n => Driver.deleteTree(new File(dir, n)))

  private def spansOf(dir: File, traced: Boolean): Option[File] =
    if (traced) Some(new File(dir, "spans.jsonl")) else None

  /** Driver-side layer counts shared by both workloads. */
  private def bulkLayers(posts: Seq[BulkStub.Post], docs: Long, concMax: Int,
                         rejections: Long): Map[String, Double] = Map(
    "bulk.posts" -> posts.size.toDouble,
    "bulk.mb" -> posts.iterator.map(_.body.length.toLong).sum / 1048576.0,
    "bulk.docs_per_post" -> (if (posts.isEmpty) 0.0 else docs.toDouble / posts.size),
    "bulk.stub_ms.p95" -> pct(posts.map(p => (p.endNs - p.startNs) / 1e6), 95),
    "bulk.concurrency_max" -> concMax.toDouble,
    "bulk.item_rejections" -> rejections.toDouble)

  /** `firehose_trickle`: an open loop of small requests at 2.8/s against
    * one live child, sends aligned to the 5 s trigger grid so every run
    * sees the same send phase. Warm-up requests (see `warmWindows`),
    * delivered in full, precede the measured `--seconds` (rounded up to
    * whole windows). */
  def trickle(ctx: Ctx, traced: Boolean): Pass = {
    // set-up is timed on a second spawn too, except in a traced run,
    // whose e2e figures are only the overhead reference
    val spawns = if (ctx.o.trace) 1 else 2
    val warm = warmWindows * warmPerWindow
    // a traced run makes two passes plus a baseline and the probe, so its
    // passes measure two windows to stay inside the run's time limit
    val windows =
      if (ctx.o.trace) 2 else math.max(2, math.ceil(ctx.o.seconds * 1000.0 / windowMs).toInt)
    val measured = windows * perWindow
    val reqs = (0 until warm + measured).map(Traffic.request(ctx.o.seed, _, Traffic.trickle))
    val stub = new BulkStub(ctx.nproc)
    val problems = new Check.Problems
    try {
      val setups = ArrayBuffer.empty[Double]
      (1 until spawns).foreach { i =>
        val d = ctx.dir(s"spawn$i")
        val c = spawn(ctx, d, stub, traced = false, drain = false, ctx.nproc)
        setups += c.setupS
        c.kill()
        Driver.deleteTree(d)
      }
      val dir = ctx.dir(if (traced) "live-traced" else "live")
      val child = spawn(ctx, dir, stub, traced, drain = false, ctx.nproc)
      setups += child.setupS
      Driver.log(s"trickle: child up, setups ${setups.mkString(", ")} s; sending ${reqs.size} requests")
      val dropDir = new File(dir, "drop")

      val results = new Array[(Int, Long, Long)](reqs.size)
      val lateMs = new Array[Double](reqs.size)
      val due = new Array[Long](reqs.size)
      val pool = Executors.newFixedThreadPool(ctx.nproc)
      // open loop on the trigger grid: request `from + i` is due at
      // t0 + (i + ½)·(5000/rate) ms, t0 the next grid line ≥ 1 s away;
      // `windowEnd` runs right after the last send of each window
      def openLoop(from: Int, until: Int, rate: Int)(windowEnd: => Unit): Unit = {
        val baseMs = System.currentTimeMillis(); val baseNs = System.nanoTime()
        val t0 = ((baseMs + 1000) / windowMs + 1) * windowMs
        val period = windowMs.toDouble / rate
        (from until until).foreach { k =>
          due(k) = baseNs + ((t0 + (k - from + 0.5) * period - baseMs) * 1e6).toLong
          val wait = due(k) - System.nanoTime()
          if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
          pool.submit(new Runnable {
            def run(): Unit = {
              val r = Driver.post(child.firehoseUrl, reqs(k))
              results(k) = r
              lateMs(k) = (r._2 - due(k)) / 1e6
            }
          })
          if ((k - from + 1) % rate == 0) windowEnd
        }
      }
      // done when the service counted every document and dead letter
      var m = Map.empty[String, Long]
      def awaitDelivered(upTo: Int): Unit = {
        val wantDocs = reqs.iterator.take(upTo).map(_.docs.toLong).sum
        val wantDead = reqs.iterator.take(upTo).map(_.corrupt.toLong).sum
        val deadline = System.nanoTime() + 90L * 1000000000L
        def done = m.getOrElse("documents_indexed", 0L) >= wantDocs &&
          m.getOrElse("documents_dead_lettered", 0L) >= wantDead
        m = child.metrics().getOrElse(m)
        while (!done && System.nanoTime() < deadline) {
          Thread.sleep(100)
          m = child.metrics().getOrElse(m)
        }
      }

      // warm-up, then wait until the warm-up traffic is delivered: a
      // backlog left by the cold first triggers would otherwise reach
      // into the measured window, where the margin under the spool cap
      // is only 2 files per trigger
      openLoop(0, warm, warmPerWindow)(())
      awaitDelivered(warm)
      Driver.log(f"trickle: warm-up delivered, child cpu ${child.cpuSplitMs.all / 1000}%.2f s")
      @volatile var measuring = true
      var spoolFilesMax = 0
      var spoolBytesMax = 0L
      val sampler = Child.daemon("spool-sampler") {
        while (measuring) {
          val (n, b) = Driver.spool(dropDir)
          spoolFilesMax = math.max(spoolFilesMax, n); spoolBytesMax = math.max(spoolBytesMax, b)
          Thread.sleep(100)
        }
      }
      // CPU between the ends of consecutive send windows holds exactly one
      // data trigger: the one at the grid line between them, which
      // processes the earlier window's requests
      val cpuMarks = ArrayBuffer.empty[Child.Cpu]
      openLoop(warm, reqs.size, perWindow) { cpuMarks += child.cpuSplitMs }
      pool.shutdown()
      pool.awaitTermination(2, TimeUnit.MINUTES)
      awaitDelivered(reqs.size)
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val perTrigger = cpuMarks.toSeq.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      val kdocsPerTrigger = reqs.iterator.drop(warm).map(_.docs).sum / 1000.0 / windows
      Driver.log(f"trickle: delivered ${(endNs - due(reqs.size - 1)) / 1e9}%.2f s after the last send")
      measuring = false
      sampler.join(1000)
      m = child.metrics().getOrElse(m)
      val rss = child.peakRssMb
      // a traced child writes its spans in its shutdown hooks
      if (traced) child.stop() else child.kill()
      val (posts, concMax) = stub.take()

      // correctness
      val delivery = Check.deliveries(posts, reqs, 0)
      problems ++= delivery.problems
      problems ++= Check.deadLetters(new File(dir, "out/ERROR"), reqs)
      results.zipWithIndex.foreach { case (r, k) =>
        if (r == null || r._1 != 200) problems += s"request $k not acked 200: ${Option(r).map(_._1)}"
      }
      val totalRecords = reqs.iterator.map(_.records.size.toLong).sum
      Seq("documents_indexed" -> reqs.iterator.map(_.docs.toLong).sum,
        "documents_dead_lettered" -> reqs.iterator.map(_.corrupt.toLong).sum,
        "requests_total" -> reqs.size.toLong, "records_landed" -> totalRecords,
        "rejected_requests" -> 0L).foreach { case (k, want) =>
        if (!m.get(k).contains(want)) problems += s"/metrics.json $k = ${m.get(k)}, expected $want"
      }

      val meas = warm until reqs.size
      val ok = meas.filter(k => results(k) != null && results(k)._1 == 200)
      val ack = ok.map(k => (results(k)._3 - due(k)) / 1e6)
      val fresh = ok.filter(k => delivery.lastDocNs(k) != Long.MinValue)
        .map(k => (delivery.lastDocNs(k) - results(k)._3) / 1e6)
      val measDocs = meas.iterator.map(reqs(_).docs.toLong).sum
      val measRecords = ok.iterator.map(reqs(_).records.size.toLong).sum
      val firstDue = due(warm)
      val lastDoc = meas.iterator.map(delivery.lastDocNs(_)).max
      val lastAck = ok.iterator.map(results(_)._3).max
      val e2e = Map(
        "setup_s" -> median(setups.toSeq),
        "ack_p50_ms" -> pct(ack, 50),
        "fresh_p50_ms" -> pct(fresh, 50), "fresh_p95_ms" -> pct(fresh, 95),
        // on this open loop both rates are the offered load, unless the
        // service falls behind it; they are measured on backlog
        "accept_rps" -> measRecords / ((lastAck - firstDue) / 1e9),
        "drain_docs_per_s" -> measDocs / ((lastDoc - firstDue) / 1e9))
      // trace windows: the measured requests, from their first send to
      // the end of delivery, in the children's wall clock
      val winStart = System.currentTimeMillis() - (System.nanoTime() - firstDue) / 1000000L
      val segment = Segment(spansOf(dir, traced), winStart, endMs,
        meas.map(k => System.currentTimeMillis() - (System.nanoTime() - results(k)._3) / 1000000L).toArray,
        meas.map(delivery.firstDocMs(_)).toArray)
      val layers = Map(
        "endpoint.requests" -> m.getOrElse("requests_total", 0L).toDouble,
        "endpoint.rejected" -> m.getOrElse("rejected_requests", 0L).toDouble,
        "endpoint.records_landed" -> m.getOrElse("records_landed", 0L).toDouble,
        "endpoint.bytes_in" -> reqs.iterator.map(_.body.length.toLong).sum.toDouble,
        "endpoint.ack_p95_ms" -> pct(ack, 95),
        "child.peak_rss_mb" -> rss,
        "child.cpu_ms_per_kdoc" -> median(perTrigger.map(_.work)) / kdocsPerTrigger,
        "spool.backlog_files_max" -> spoolFilesMax.toDouble,
        "spool.backlog_bytes_max" -> spoolBytesMax.toDouble) ++
        bulkLayers(posts, delivery.docs, concMax, Driver.parquetRows(new File(dir, "out/ERROR_ITEMS")))
      val manifest = Traffic.manifest(reqs) ++ Map(
        "warmup_requests" -> warm, "measured_requests" -> measured,
        "rate_rps" -> perWindow * 1000.0 / windowMs, "loop" -> "open",
        "generator_late_p95_ms" -> pct(lateMs.toSeq.drop(warm), 95),
        "samples" -> Map("ack" -> ack.size, "fresh" -> fresh.size, "setup" -> setups.size),
        "ack_p90_ms" -> pct(ack, 90), "ack_p95_ms" -> pct(ack, 95),
        "peak_rss_mb" -> rss,
        "cpu_ms_per_kdoc" -> median(perTrigger.map(_.work)) / kdocsPerTrigger,
        "jit_cpu_ms_per_kdoc" -> median(perTrigger.map(_.jit)) / kdocsPerTrigger,
        "gc_cpu_ms_per_kdoc" -> median(perTrigger.map(_.gc)) / kdocsPerTrigger,
        "axway_grok_match_share" -> delivery.grokMatched.toDouble / math.max(1L, delivery.grokLines),
        "docs_checked_field_by_field" -> delivery.sampled)
      cleanData(dir)
      Pass(e2e, layers, Seq(segment), reqs.iterator.map(_.records.size.toLong).sum, problems, manifest)
    } finally stub.stop()
  }

  /** Backlog shape: `drains` catch-up runs per pass, each draining
    * `files` ~1 MiB requests (about 16k documents each). The work grows
    * with `--seconds`: 6 requests per drain at 20 s. */
  def backlogShape(seconds: Int): (Int, Int) = (3, math.max(2, math.round(seconds * 0.3).toInt))

  /** Extra landings of each drain's requests that only the accept
    * figures see. */
  val acceptRounds = 12

  /** Land `reqs` through an in-process FirehoseEndpoint (no stream
    * running) with a closed loop of `conns` connections. */
  private def land(dropDir: File, reqs: IndexedSeq[Request], conns: Int)
      : (Array[(Int, Long, Long)], Double, Map[String, Long]) = {
    val ep = new FirehoseEndpoint(dropDir.getAbsolutePath, 0)
    try {
      val (res, wall) = Driver.closedLoop(s"${ep.url}/firehose", reqs, conns)
      (res, wall, Child.counters(s"${ep.url}/metrics.json").getOrElse(Map.empty))
    } finally ep.stop()
  }

  /** One catch-up drain of an already-landed spool in `dir/drop`. */
  final case class Drain(setupS: Double, wallS: Double, cpu: Child.Cpu, rssMb: Double,
                         docs: Long, segment: Segment, freshMs: Seq[Double],
                         posts: Seq[BulkStub.Post], concMax: Int, rejections: Long,
                         grokLines: Long, grokMatched: Long, sampled: Int)

  private def drain(ctx: Ctx, dir: File, reqs: IndexedSeq[Request], base: Int, stub: BulkStub,
                    traced: Boolean, cpus: Int, problems: Check.Problems): Drain = {
    val child = spawn(ctx, dir, stub, traced, drain = true, cpus)
    val spawnMs = System.currentTimeMillis() - (System.nanoTime() - child.spawnedNs) / 1000000L
    val setup = child.setupS
    // the drain is over when Serve closes its endpoint (it does so once
    // the AvailableNow query terminated) or exits, whichever comes first
    val deadline = System.nanoTime() + 150L * 1000000000L
    var polls = 0
    while (child.alive && Child.get(s"http://127.0.0.1:${child.port}/ping").exists(_._1 == 200)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("drain did not finish within 150 s")
      // keep recent readings in case the child exits on its own
      if (polls % 4 == 0) { child.cpuSplitMs; child.peakRssMb }
      polls += 1
      Thread.sleep(50)
    }
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val cpu = child.cpuSplitMs
    val rss = child.peakRssMb
    if (traced) child.stop() else child.kill()
    val (posts, concMax) = stub.take()
    val d = Check.deliveries(posts, reqs, base)
    problems ++= d.problems
    problems ++= Check.deadLetters(new File(dir, "out/ERROR"), reqs)
    val fresh = reqs.indices.filter(d.lastDocNs(_) != Long.MinValue)
      .map(k => (d.lastDocNs(k) - child.spawnedNs) / 1e6)
    Driver.log(f"drain of ${reqs.size} requests: setup $setup%.2f s, wall ${(endNs - child.spawnedNs) / 1e9}%.2f s, ${d.docs} docs")
    Drain(setup, (endNs - child.spawnedNs) / 1e9, cpu, rss, d.docs,
      Segment(spansOf(dir, traced), spawnMs, endMs, Array.fill(reqs.size)(spawnMs), d.firstDocMs),
      fresh, posts, concMax, Driver.parquetRows(new File(dir, "out/ERROR_ITEMS")),
      d.grokLines, d.grokMatched, d.sampled)
  }

  /** `firehose_backlog`: per drain, land ~1 MiB requests with a closed
    * loop (≤ nproc connections, no stream running), then drain that
    * spool with a `SPARK_GRAFT_DRAIN=1` child, which pays its cold start
    * every time, as a cron catch-up does. */
  def backlog(ctx: Ctx, traced: Boolean): Pass = {
    val (drains0, files) = backlogShape(ctx.o.seconds)
    // a traced run makes two passes plus a baseline and the probe, so
    // each pass drains two spools to stay inside the run's time limit
    val drains = if (ctx.o.trace) 2 else drains0
    val conns = math.min(ctx.nproc, 4)
    val stub = new BulkStub(ctx.nproc)
    val problems = new Check.Problems
    try {
      // warm the landing path in this JVM, then discard what it landed
      val warmDir = ctx.dir("warm")
      land(new File(warmDir, "drop"), (0 until 4).map(Traffic.request(ctx.o.seed + 7919, _, Traffic.backlog)), conns)
      Driver.deleteTree(warmDir)

      val acks = ArrayBuffer.empty[Double]
      var recordsAcked = 0L
      var landWall = 0.0
      val epCounts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      var bytesIn = 0L
      var landedRecords = 0L
      var spoolFiles = 0
      var spoolBytes = 0L
      val runs = ArrayBuffer.empty[Drain]
      val manifestReqs = ArrayBuffer.empty[Request]
      (0 until drains).foreach { d =>
        val base = d * files
        val reqs = (base until base + files).map(Traffic.request(ctx.o.seed, _, Traffic.backlog))
        val dir = ctx.dir(s"drain$d${if (traced) "-traced" else ""}")
        // phase 1: the accept figures rest on the spool's requests plus
        // `acceptRounds` more landings of the same bodies into a spool
        // that is discarded (the closed loop would otherwise time a
        // single round of `conns` POSTs); then the drained spool itself
        val acceptDir = new File(dir, "accept")
        val phases = Seq(
          (acceptDir, Vector.fill(acceptRounds)(reqs).flatten),
          (new File(dir, "drop"), reqs))
        phases.foreach { case (into, batch) =>
          val (res, wall, m) = land(into, batch, conns)
          res.zipWithIndex.foreach { case (r, k) =>
            if (r._1 == 200) { acks += (r._3 - r._2) / 1e6; recordsAcked += batch(k).records.size }
            else problems += s"backlog request ${batch(k).requestId} not acked 200: ${r._1}"
          }
          landWall += wall
          m.foreach { case (k, v) => epCounts(k) += v }
          bytesIn += batch.iterator.map(_.body.length.toLong).sum
          landedRecords += batch.iterator.map(_.records.size.toLong).sum
        }
        Driver.deleteTree(acceptDir)
        Driver.log(f"landed ${reqs.size * (acceptRounds + 1)} requests, ${reqs.size} kept as the spool")
        val (n, b) = Driver.spool(new File(dir, "drop"))
        spoolFiles = math.max(spoolFiles, n); spoolBytes = math.max(spoolBytes, b)
        runs += drain(ctx, dir, reqs, base, stub, traced, ctx.nproc, problems)
        if (d == 0) manifestReqs ++= reqs
        cleanData(dir)
      }
      if (epCounts("records_landed") != landedRecords)
        problems += s"endpoint records_landed ${epCounts("records_landed")}, expected $landedRecords"
      val docs = runs.iterator.map(_.docs).sum
      val e2e = Map(
        "setup_s" -> median(runs.map(_.setupS).toSeq),
        "ack_p50_ms" -> pct(acks.toSeq, 50),
        "fresh_p50_ms" -> pct(runs.flatMap(_.freshMs).toSeq, 50),
        "fresh_p95_ms" -> pct(runs.flatMap(_.freshMs).toSeq, 95),
        "accept_rps" -> recordsAcked / landWall,
        // pooled over the drains: steadier than a median of three
        "drain_docs_per_s" -> docs / runs.iterator.map(_.wallS).sum)
      val posts = runs.flatMap(_.posts).toSeq
      val layers = Map(
        "endpoint.requests" -> epCounts("requests_total").toDouble,
        "endpoint.rejected" -> epCounts("rejected_requests").toDouble,
        "endpoint.records_landed" -> epCounts("records_landed").toDouble,
        "endpoint.bytes_in" -> bytesIn.toDouble,
        "endpoint.ack_p95_ms" -> pct(acks.toSeq, 95),
        "child.peak_rss_mb" -> median(runs.map(_.rssMb).toSeq),
        "child.cpu_ms_per_kdoc" -> median(runs.map(r => r.cpu.work / (r.docs / 1000.0)).toSeq),
        "spool.backlog_files_max" -> spoolFiles.toDouble,
        "spool.backlog_bytes_max" -> spoolBytes.toDouble) ++
        bulkLayers(posts, docs, runs.map(_.concMax).max, runs.map(_.rejections).sum)
      val manifest = Traffic.manifest(manifestReqs.toSeq) ++ Map(
        "drains" -> drains, "requests_per_drain" -> files, "loop" -> "closed", "connections" -> conns,
        "docs_delivered" -> docs,
        "samples" -> Map("ack" -> acks.size, "fresh" -> runs.map(_.freshMs.size).sum, "setup" -> runs.size),
        "ack_p90_ms" -> pct(acks.toSeq, 90), "ack_p95_ms" -> pct(acks.toSeq, 95),
        "peak_rss_mb" -> median(runs.map(_.rssMb).toSeq),
        "cpu_ms_per_kdoc" -> median(runs.map(r => r.cpu.work / (r.docs / 1000.0)).toSeq),
        "jit_cpu_ms_per_kdoc" -> median(runs.map(r => r.cpu.jit / (r.docs / 1000.0)).toSeq),
        "gc_cpu_ms_per_kdoc" -> median(runs.map(r => r.cpu.gc / (r.docs / 1000.0)).toSeq),
        "axway_grok_match_share" ->
          runs.map(_.grokMatched).sum.toDouble / math.max(1L, runs.map(_.grokLines).sum),
        "docs_checked_field_by_field" -> runs.map(_.sampled).sum)
      Pass(e2e, layers, runs.map(_.segment).toSeq, landedRecords, problems, manifest)
    } finally stub.stop()
  }

  /** Single-core baseline: one catch-up drain of the workload's spool
    * with `SPARK_GRAFT_CPUS=1`; delivered docs per second of child wall
    * time. Returns (docs/s, records attempted). */
  def drainOneCore(ctx: Ctx, problems: Check.Problems): (Double, Long) = {
    val reqs =
      if (ctx.o.workload == "firehose_trickle")
        (0 until perWindow).map(i => Traffic.request(ctx.o.seed, warmWindows * warmPerWindow + i, Traffic.trickle))
      else (0 until 2).map(Traffic.request(ctx.o.seed, _, Traffic.backlog))
    val stub = new BulkStub(ctx.nproc)
    try {
      val dir = ctx.dir("one-core")
      val (res, _, _) = land(new File(dir, "drop"), reqs, math.min(ctx.nproc, 4))
      if (res.exists(_._1 != 200)) problems += "one-core spool: a request was not acked 200"
      val base = reqs.head.index
      val d = drain(ctx, dir, reqs, base, stub, traced = false, cpus = 1, problems)
      Driver.deleteTree(dir)
      (d.docs / d.wallS, reqs.iterator.map(_.records.size.toLong).sum)
    } finally stub.stop()
  }
}
