package graft.perfbench

import java.io.File
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One `graft.streaming.Serve` child JVM, started as deployed:
  * `SPARK_GRAFT_HTTP_PORT=0` (the port is parsed from the "listening on"
  * line), `SPARK_GRAFT_GEODIM`, `SPARK_GRAFT_CPUS` and the
  * `<dropDir> <outDir> <ckpt> <bulkUrl> <index>` arguments, with the
  * root build's forked-JVM options. `sysProps` are the only difference
  * between an untraced and a traced child.
  *
  * CPU time and VmHWM are read from /proc on demand, while the child
  * lives. */
final class Child(javaOpts: Seq[String], classpath: String, dir: File,
                  env: Map[String, String], sysProps: Seq[String], args: Seq[String]) {
  val spawnedNs: Long = System.nanoTime()
  private val proc = {
    val cmd = Seq(Child.javaBin) ++ javaOpts ++ sysProps ++
      Seq("-cp", classpath, "graft.streaming.Serve") ++ args
    val pb = new ProcessBuilder(cmd: _*).directory(dir)
      .redirectError(new File(dir, "serve.stderr.log"))
    pb.environment().keySet().removeIf(_.startsWith("SPARK_GRAFT_"))
    pb.environment().putAll(scala.jdk.CollectionConverters.MapHasAsJava(
      env ++ Map("SPARK_GRAFT_HTTP_PORT" -> "0")).asJava)
    pb.start()
  }
  val pid: Long = proc.pid()
  Child.live.add(this)

  @volatile private var portOpt: Option[Int] = None

  private val reader = Child.daemon("serve-stdout") {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream, UTF_8))
    try {
      var line = in.readLine()
      while (line != null) {
        val i = line.indexOf("listening on http://127.0.0.1:")
        if (i >= 0 && portOpt.isEmpty)
          portOpt = Some(line.substring(i + "listening on http://127.0.0.1:".length).trim.toInt)
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => () } // the child's stdout closed at exit
  }

  private def ticks(stat: java.nio.file.Path): (String, Long) = {
    val st = new String(Files.readAllBytes(stat), UTF_8)
    val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
    (st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')), f(11).toLong + f(12).toLong) // utime + stime
  }

  @volatile private var lastCpu = Child.Cpu(0, 0, 0)
  @volatile private var lastHwm = 0.0

  /** CPU ms used so far: (all threads, JIT compiler threads, garbage
    * collector threads); once the child has exited, the last reading. */
  def cpuSplitMs: Child.Cpu = try {
    val total = ticks(Paths.get(s"/proc/$pid/stat"))._2
    var jit = 0L
    var gc = 0L
    Option(new File(s"/proc/$pid/task").listFiles()).getOrElse(Array.empty[File]).foreach { t =>
      try {
        val (name, n) = ticks(t.toPath.resolve("stat"))
        if (name.contains("CompilerThre")) jit += n
        else if (Child.gcThread(name)) gc += n
      } catch { case _: java.io.IOException => () } // the thread ended
    }
    lastCpu = Child.Cpu(total * 1000.0 / Child.clkTck, jit * 1000.0 / Child.clkTck, gc * 1000.0 / Child.clkTck)
    lastCpu
  } catch { case _: java.io.IOException => lastCpu }

  private def statusMb(field: String): Double =
    Files.readAllLines(Paths.get(s"/proc/$pid/status")).toArray.map(_.toString)
      .find(_.startsWith(field)).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  /** VmHWM; once the child has exited, the last reading. */
  def peakRssMb: Double = try { lastHwm = statusMb("VmHWM:"); lastHwm }
    catch { case _: java.io.IOException => lastHwm }

  /** Seconds from spawn until `GET /ping` answered 200. */
  val setupS: Double = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    var up = false
    while (!up) {
      if (!proc.isAlive) throw new IllegalStateException(s"Serve exited with ${proc.exitValue()} before /ping; see ${dir}/serve.stderr.log")
      if (System.nanoTime() > deadline) throw new IllegalStateException("Serve did not answer /ping within 120 s")
      up = portOpt.exists(p => Child.get(s"http://127.0.0.1:$p/ping").exists(_._1 == 200))
      if (!up) Thread.sleep(10)
    }
    (System.nanoTime() - spawnedNs) / 1e9
  }

  def port: Int = portOpt.get
  def firehoseUrl: String = s"http://127.0.0.1:$port/firehose"

  def alive: Boolean = proc.isAlive

  /** Service counters from `GET /metrics.json`, if the child answers. */
  def metrics(): Option[Map[String, Long]] =
    portOpt.flatMap(p => Child.counters(s"http://127.0.0.1:$p/metrics.json"))

  /** SIGKILL: for children whose shutdown path is not measured. */
  def kill(): Unit = {
    proc.destroyForcibly()
    proc.waitFor()
    reader.join(1000)
  }

  /** SIGTERM (Serve's graceful shutdown), then SIGKILL after 30 s. */
  def stop(): Unit = {
    if (proc.isAlive) {
      proc.destroy()
      if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor()
      }
    }
    reader.join(1000)
  }
}

object Child {
  /** CPU ms of a child: every thread, the JIT compiler's, the collector's. */
  final case class Cpu(all: Double, jit: Double, gc: Double) {
    def -(o: Cpu): Cpu = Cpu(all - o.all, jit - o.jit, gc - o.gc)
    /** What running the service costs: every thread, the collector's
      * included, but not the JIT compiler's (a warm-up transient). */
    def work: Double = all - jit
  }

  /** HotSpot's G1 thread names: parallel workers, concurrent marking and
    * refinement, and the service thread. */
  def gcThread(name: String): Boolean =
    name.startsWith("GC Thread") || name.startsWith("G1 ")

  val javaBin: String = Paths.get(System.getProperty("java.home"), "bin", "java").toString
  val clkTck: Double = 100.0 // USER_HZ on Linux

  /** Every child ever started; the driver's shutdown hook stops them. */
  val live = new java.util.concurrent.ConcurrentLinkedQueue[Child]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => live.forEach(c => c.stop())))

  def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** The counters of a `/metrics.json` endpoint, if it answers 200. */
  def counters(url: String): Option[Map[String, Long]] =
    get(url).filter(_._1 == 200).map { case (_, body) =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val out = Map.newBuilder[String, Long]
      root.fields().forEachRemaining(e => out += e.getKey -> e.getValue.asLong())
      out.result()
    }

  /** GET → (status, body); None when the connection fails. */
  def get(url: String): Option[(Int, String)] = try {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(1000); c.setReadTimeout(10000)
    try {
      val s = c.getResponseCode
      val is = if (s >= 400) c.getErrorStream else c.getInputStream
      Some((s, if (is == null) "" else new String(is.readAllBytes(), UTF_8)))
    } finally c.disconnect()
  } catch { case _: java.io.IOException => None }
}
