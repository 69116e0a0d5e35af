package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process SPARQL UPDATE endpoint that accepts every post (no injected
  * faults) and counts what arrives, per batch: posts, distinct bodies
  * (a re-post of a body already seen in the batch is a retry), bytes, and
  * DELETE posts that arrive after an INSERT of the same batch (a violation
  * of the delete-before-insert barrier). Requests are served on `pool`. */
final class Stub(pool: java.util.concurrent.Executor) {
  val posts = new AtomicLong(0L)
  val retries = new AtomicLong(0L)
  val bytes = new AtomicLong(0L)
  val barrierViolations = new AtomicLong(0L)
  private val insertSeen = new AtomicBoolean(false)
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/sparql", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    posts.incrementAndGet()
    bytes.addAndGet(body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
    if (!seen.add(body)) retries.incrementAndGet()
    if (body.startsWith("DELETE")) {
      if (insertSeen.get()) barrierViolations.incrementAndGet()
    } else insertSeen.set(true)
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"

  /** The barrier and the retry window are per batch. */
  def newBatch(): Unit = { insertSeen.set(false); seen.clear() }

  def stop(): Unit = server.stop(0)
}
