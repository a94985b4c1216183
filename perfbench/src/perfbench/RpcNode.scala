package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** In-process JSON-RPC node over [[Chain]]: `eth_blockNumber`,
  * `eth_getLogs` (block range, no address filter) and `eth_call`
  * (`latestAnswer()` on a price oracle). Block bodies are rendered once
  * and cached, so the node's own cost stays small; that cost is
  * stamped per request as a control. Single handler thread, so the
  * stamps are ordered. */
final class RpcNode(chain: Chain) extends AutoCloseable {
  @volatile var head: Long = 0L

  /** (arrival ns, handling ns) of every eth_getLogs request. */
  val getLogsStamps: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  /** (oracle index, block) of every eth_call price probe served. */
  val priceProbes: mutable.ArrayBuffer[(Int, Long)] = mutable.ArrayBuffer()
  private val rendered = mutable.Map[(Long, Int), String]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "perfbench-rpc"); t.setDaemon(true); t
  }))
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  private def block(b: Long): String = synchronized {
    rendered.getOrElseUpdate((b, chain.versionOf(b)),
      chain.served(b).map { case (l, removed) => l.json(removed) }.mkString(","))
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val req = mapper.readTree(ex.getRequestBody)
    val id = req.get("id").toString
    val params = req.get("params")
    val result = req.get("method").asText match {
      case "eth_blockNumber" => "\"0x" + head.toHexString + "\""
      case "eth_getLogs" =>
        val p = params.get(0)
        val from = java.lang.Long.parseLong(p.get("fromBlock").asText.drop(2), 16)
        val to = math.min(java.lang.Long.parseLong(p.get("toBlock").asText.drop(2), 16), head)
        val body = (from to to).map(block).filter(_.nonEmpty).mkString("[", ",", "]")
        synchronized { getLogsStamps += ((t0, System.nanoTime() - t0)) }
        body
      case "eth_call" =>
        val oracle = chain.oracles.indexOf(params.get(0).get("to").asText)
        val b = java.lang.Long.parseLong(params.get(1).asText.drop(2), 16)
        synchronized { priceProbes += ((oracle, b)) }
        "\"0x" + Gen.hexWord(chain.price(chain.tokens(oracle), b)) + "\""
    }
    val bytes = s"""{"jsonrpc":"2.0","id":$id,"result":$result}""".getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def close(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow()
      case _ =>
    }
  }
}
