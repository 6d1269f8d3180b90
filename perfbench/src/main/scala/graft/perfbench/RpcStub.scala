package graft.perfbench

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Local Solana JSON-RPC stub on the JDK `HttpServer`, pacing off.
  *
  * Answers `getBlock` from pre-rendered bodies (serving a request is a
  * byte copy) and `getSlot` with the chain tip. It runs at most
  * `threads` handler threads; `sun.net.httpserver.nodelay` must be set
  * before the first server is created (run.py passes it on the JVM
  * command line, and [[RpcStub.start]] sets it too).
  */
final class RpcStub private (server: HttpServer, pool: java.util.concurrent.ExecutorService,
    blocks: Rendered, tip: Long) {
  val requests = new LongAdder
  val bytes = new LongAdder
  val busyNanos = new LongAdder
  private val slotsSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
  val getBlockRequests = new AtomicLong

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** getBlock requests beyond the first for each slot. */
  def retries: Long = getBlockRequests.get - slotsSeen.size

  def resetCounters(): Unit = {
    requests.reset(); bytes.reset(); busyNanos.reset(); getBlockRequests.set(0); slotsSeen.clear()
  }

  private[perfbench] val handler: HttpHandler = (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val req = ex.getRequestBody.readAllBytes()
      val body = respond(new String(req, java.nio.charset.StandardCharsets.US_ASCII))
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      val os = ex.getResponseBody
      os.write(body)
      os.close()
      requests.increment()
      bytes.add(body.length.toLong)
    } finally {
      ex.close()
      busyNanos.add(System.nanoTime() - t0)
    }
  }

  private def respond(req: String): Array[Byte] =
    if (req.contains("\"getBlock\"")) {
      val p = req.indexOf("\"params\":[") + 10
      var e = p
      while (e < req.length && Character.isDigit(req.charAt(e))) e += 1
      val slot = req.substring(p, e).toLong
      getBlockRequests.incrementAndGet()
      slotsSeen.add(slot)
      val b = blocks.body(slot)
      if (b != null) b else RpcStub.Null
    } else if (req.contains("\"getSlot\""))
      s"""{"jsonrpc":"2.0","result":$tip,"id":1}""".getBytes("US-ASCII")
    else """{"jsonrpc":"2.0","error":{"code":-32601,"message":"Method not found"},"id":1}""".getBytes("US-ASCII")

  def stop(): Unit = { server.stop(0); pool.shutdownNow(); pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS) }
}

object RpcStub {
  private val Null = """{"jsonrpc":"2.0","result":null,"id":1}""".getBytes("US-ASCII")

  def start(blocks: Rendered, tip: Long, threads: Int): RpcStub = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "rpc-stub"); t.setDaemon(true); t
    })
    val stub = new RpcStub(server, pool, blocks, tip)
    server.createContext("/", stub.handler)
    server.setExecutor(pool)
    server.start()
    stub
  }
}
