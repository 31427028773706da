package crawlbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{Robots, UrlCanon}
import graft.corpus.{CorpusConfig, CorpusGen}

/** The simulated web served over loopback sockets, for the Http fetch mode:
 * `/hN.example/pM` serves `CorpusGen.pageHtml` (200) or 404, and
 * `/hN.example/robots.txt` serves the corpus ground truth (Disallow and
 * Crawl-delay). `rewrite` maps a crawl URL onto this server;
 * `.unreachable` hosts map to a refused port. Counts requests, robots GETs,
 * distinct client connections, bytes served and handler busy time.
 *
 * Needs `sun.net.httpserver.nodelay=true` set before the first server is
 * created (Nagle plus delayed ACK otherwise stalls every small response). */
final class LoopbackWeb(corpus: CorpusConfig, threads: Int) extends AutoCloseable {
  val requests = new AtomicLong()
  val robotsGets = new AtomicLong()
  val bytesServed = new AtomicLong()
  val busyNanos = new AtomicLong()
  private val ports = ConcurrentHashMap.newKeySet[Integer]()
  private val RobotsRe = "^h([0-9]+)\\.example/robots\\.txt$".r

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
    (r: Runnable) => { val t = new Thread(r, "crawlbench-web"); t.setDaemon(true); t })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    ports.add(ex.getRemoteAddress.getPort)
    val raw = ex.getRequestURI.getRawPath.stripPrefix("/") +
      Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
    val (status, body) = raw match {
      case RobotsRe(hs) =>
        robotsGets.incrementAndGet()
        val dis = CorpusGen.robotsDisallows(corpus, hs.toInt)
        val dly = CorpusGen.crawlDelayOf(corpus, hs.toInt)
        if (dis.isEmpty && dly == 0) (404, "no robots here")
        else (200, "User-agent: *\n" + dis.map("Disallow: " + _).mkString("\n") +
          (if (dly > 0) s"\nCrawl-delay: $dly" else ""))
      case _ =>
        requests.incrementAndGet()
        CorpusGen.resolvePage(corpus, s"http://$raw") match {
          case CorpusGen.PageLookup.Found(h, p) => (200, CorpusGen.pageHtml(corpus, h, p))
          case _ => (404, "gone")
        }
    }
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
    bytesServed.addAndGet(bytes.length.toLong)
    busyNanos.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()
  val port: Int = server.getAddress.getPort

  def connections: Int = ports.size

  /** (requests, robots GETs, connections, bytes served, busy ns) since the
   * last reset. */
  def counters: Seq[Long] =
    Seq(requests.get, robotsGets.get, connections.toLong, bytesServed.get, busyNanos.get)

  def resetCounters(): Unit = {
    Seq(requests, robotsGets, bytesServed, busyNanos).foreach(_.set(0L))
    ports.clear()
  }

  /** Crawl URL → the URL this server answers it at. */
  val rewrite: String => String = {
    val p = port
    url => {
      val host = UrlCanon.hostOf(url)
      val path = Robots.pathOf(url)
      if (host.endsWith(".unreachable")) s"http://127.0.0.1:1$path"
      else s"http://127.0.0.1:$p/$host$path"
    }
  }

  /** Stops the server and its handler pool and waits for the pool to end. */
  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
