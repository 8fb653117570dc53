package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process OpenSearch `_bulk` stub (the pattern FirehoseEndpointSpec
  * uses). The request path only timestamps, counts and buffers the body;
  * ids are extracted after the timed window by `Delivery`. */
final class BulkStub(threads: Int) {
  import BulkStub.Post

  private val posts = new ConcurrentLinkedQueue[Post]()
  private val inflight = new AtomicInteger(0)
  private val maxInflight = new AtomicInteger(0)
  private val ok = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/_bulk", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    val body = ex.getRequestBody.readAllBytes()
    ex.sendResponseHeaders(200, ok.length)
    ex.getResponseBody.write(ok)
    ex.close()
    inflight.decrementAndGet()
    posts.add(Post(t0, System.nanoTime(), System.currentTimeMillis(), body))
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/_bulk"

  /** Every POST received since the last call, and the most that were
    * in flight at once. */
  def take(): (Vector[Post], Int) = {
    val out = Vector.newBuilder[Post]
    var p = posts.poll()
    while (p != null) { out += p; p = posts.poll() }
    (out.result(), maxInflight.getAndSet(0))
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object BulkStub {
  /** One `_bulk` POST: handler entry/exit (nanoTime), wall-clock receive
    * time (epoch ms, comparable with the service's trace) and body. */
  final case class Post(startNs: Long, endNs: Long, epochMs: Long, body: Array[Byte])
}
