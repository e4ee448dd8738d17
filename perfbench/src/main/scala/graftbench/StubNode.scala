package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Ethereum JSON-RPC node serving a generated [[Chain]]: the
  * methods graft's `HttpRpcProvider` calls, answered through the chain's
  * height and hash indices. `eth_getLogs` refuses, as geth does, when the
  * filtered range holds more than 10,000 logs. The served chain is swapped
  * atomically with [[publish]], which is how a new head or a fork appears.
  */
final class StubNode(initial: Chain) {
  @volatile private var chain: Chain = initial
  private val mapper = new ObjectMapper()

  /** Requests answered and response bytes written since start. */
  val calls = new AtomicLong()
  val bytes = new AtomicLong()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null) // answered on the server's own dispatcher thread
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"

  def publish(c: Chain): Unit = chain = c
  def current: Chain = chain
  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    val body =
      try answer(mapper.readTree(ex.getRequestBody))
      catch { case e: Exception => error("null", -32700, String.valueOf(e.getMessage)) }
    val out = body.getBytes(StandardCharsets.UTF_8)
    calls.incrementAndGet()
    bytes.addAndGet(out.length.toLong)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, out.length.toLong)
    val os = ex.getResponseBody
    try os.write(out) finally os.close()
  }

  /** The JSON text of one response; public so the benchmark's own test can
    * compare wire answers across generator runs without a socket.
    */
  def answer(req: JsonNode): String = {
    val id = req.path("id").toString
    val params = req.path("params")
    val c = chain
    req.path("method").asText() match {
      case "eth_blockNumber" => result(id, quote(hexNum(c.head.number)))
      case "eth_chainId" => result(id, quote(hexNum(Chain.chainId)))
      case "eth_getBlockByNumber" =>
        result(id, c.block(parseHex(params.get(0).asText())).map(blockJson).getOrElse("null"))
      case "eth_getBlockByHash" =>
        result(id, c.byHashOpt(params.get(0).asText()).map(blockJson).getOrElse("null"))
      case "eth_getLogs" => getLogs(id, c, params.get(0))
      case m => error(id, -32601, s"method $m not found")
    }
  }

  private def getLogs(id: String, c: Chain, f: JsonNode): String = {
    val filter = filterOf(f)
    val bh = f.path("blockHash")
    val logs: Iterator[GLog] =
      if (!bh.isMissingNode && !bh.isNull)
        c.byHashOpt(bh.asText()).iterator.flatMap(b => Chain.logsOf(b, filter))
      else {
        val from = parseHex(f.path("fromBlock").asText("0x0"))
        val to = parseHex(f.path("toBlock").asText(hexNum(c.head.number)))
        if (c.countLogs(from, to, filter) > StubNode.maxResults)
          return error(id, -32005, "query returned more than 10000 results")
        c.logs(from, to, filter)
      }
    val sb = new java.lang.StringBuilder(4096)
    sb.append("{\"jsonrpc\":\"2.0\",\"id\":").append(id).append(",\"result\":[")
    var first = true
    logs.foreach { l =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"address\":\"").append(l.address)
        .append("\",\"topics\":[")
      var t = 0
      while (t < l.topics.length) {
        if (t > 0) sb.append(',')
        sb.append('"').append(l.topics(t)).append('"')
        t += 1
      }
      sb.append("],\"data\":\"").append(l.data)
        .append("\",\"blockNumber\":\"").append(hexNum(l.blockNum))
        .append("\",\"blockHash\":\"").append(l.blockHash)
        .append("\",\"transactionIndex\":\"").append(hexNum(l.txIndex))
        .append("\",\"transactionHash\":\"").append(l.txHash)
        .append("\",\"logIndex\":\"").append(hexNum(l.txIndex))
        .append("\",\"removed\":false}")
    }
    sb.append("]}").toString
  }

  private def filterOf(f: JsonNode): GFilter = {
    val a = f.path("address")
    val addresses: Set[String] =
      if (a.isMissingNode || a.isNull) Chain.addresses.toSet
      else if (a.isArray) {
        val s = Set.newBuilder[String]
        a.forEach(x => s += x.asText())
        s.result()
      } else Set(a.asText())
    val t = f.path("topics")
    val topic0 =
      if (t.isArray && t.size() > 0 && !t.get(0).isNull) Some(t.get(0).asText())
      else None
    GFilter(addresses, topic0)
  }

  private def blockJson(b: GBlock): String =
    s"""{"number":"${hexNum(b.number)}","hash":"${b.hash}","parentHash":"${b.parentHash}","difficulty":"${hexNum(b.number + 1)}"}"""

  private def result(id: String, r: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"result":$r}"""

  private def error(id: String, code: Int, msg: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"error":{"code":$code,"message":${mapper.writeValueAsString(msg)}}}"""

  private def quote(s: String): String = "\"" + s + "\""
  private def hexNum(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def parseHex(s: String): Long = java.lang.Long.parseUnsignedLong(s.stripPrefix("0x"), 16)
}

object StubNode {
  /** geth's eth_getLogs result cap (the reference's `tracker.go:332`). */
  val maxResults = 10000L
}
