package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One page of the synthetic site, as `gen.py` wrote it. */
final case class Page(code: String, kind: String, transient: Boolean,
    status: Int, nMods: Int, nNdc: Int, html: String)

/** The site file: pages plus the crawl batches in pass order. */
final case class SiteSpec(pages: Map[String, Page], batches: Seq[Seq[String]]) {
  def poison: String = pages.values.find(_.kind == "poison").get.code
}

object SiteSpec {
  def load(path: String): SiteSpec = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val lines = src.getLines().toVector
      val pages = lines.filter(_.startsWith("page\t")).map { l =>
        val f = l.split("\t", 8)
        Page(f(1), f(2), f(3) == "1", f(4).toInt, f(5).toInt, f(6).toInt, f(7))
      }
      val batches = lines.filter(_.startsWith("batch\t"))
        .map(_.split("\t", -1).toSeq.drop(1))
      SiteSpec(pages.map(p => p.code -> p).toMap, batches)
    } finally src.close()
  }
}

/** In-process loopback procedure-code site with the reference site's
  * two-step login (email step, password step, session cookie), a page
  * quota per session after which pages answer 401 (the fetcher's
  * re-login path), pages that answer 503 on their first request of a
  * pass (the retry path), one page that answers 500 on every request,
  * and real 404 pages. Its handler pool has `threads` threads.
  *
  * Counters are server-side and cumulative; [[resetPass]] re-arms the
  * transient failures so every pass exercises the retry path. A login
  * counts as a re-login when it arrives on a client connection that was
  * last answered with a 401.
  */
final class Site(spec: SiteSpec, threads: Int, quota: Int) {
  private val requests = new AtomicLong()
  private val errors5xx = new AtomicLong()
  private val transient503 = new AtomicLong()
  private val expired = new AtomicLong()
  private val logins = new AtomicLong()
  private val relogins = new AtomicLong()

  private val seenThisPass = ConcurrentHashMap.newKeySet[String]()
  private val quotaBySession = new ConcurrentHashMap[String, AtomicInteger]()
  private val emailByCookie = new ConcurrentHashMap[String, String]()
  private val expiredPeers = ConcurrentHashMap.newKeySet[String]()
  private val preCookies = new AtomicInteger()
  private val sessions = new AtomicInteger()
  private val notFound =
    """<html><body><div class="container404">Page not found</div></body></html>"""

  // without TCP_NODELAY each small response waits out the client's
  // delayed ACK (about 40 ms on loopback), which would time the fixture
  // instead of the crawler
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/login", (ex: HttpExchange) => login(ex))
  server.createContext("/codes/", (ex: HttpExchange) => page(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  val email = "crawler@example.com"
  val password = "loopback-secret"

  def resetPass(): Unit = seenThisPass.clear()

  /** Server counters so far, by name. */
  def counters(): Map[String, Long] = Map("requests" -> requests.get, "errors_5xx" -> errors5xx.get,
    "transient_503" -> transient503.get, "expired_401" -> expired.get,
    "logins" -> logins.get, "relogins" -> relogins.get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS))
      throw new IllegalStateException("loopback site threads did not stop")
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      setCookie: Option[String] = None): Unit = {
    requests.incrementAndGet()
    setCookie.foreach(c => ex.getResponseHeaders.add("Set-Cookie", c + "; Path=/"))
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def cookieOf(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Cookie")).toSeq
      .flatMap(_.split(";")).map(_.trim)
      .collectFirst { case c if c.startsWith(name + "=") => c }

  private def formFields(body: String): Map[String, String] =
    body.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  private def login(ex: HttpExchange): Unit =
    if (ex.getRequestMethod == "GET")
      respond(ex, 200, "<html><form id='login'/></html>",
        Some(s"pre=${preCookies.incrementAndGet()}"))
    else {
      val fields = formFields(new String(ex.getRequestBody.readAllBytes(), UTF_8))
      val pre = cookieOf(ex, "pre").getOrElse("")
      fields.get("step") match {
        case Some("next") =>
          emailByCookie.put(pre, fields.getOrElse("userProvidedSignInName", ""))
          respond(ex, 200, "<html>password step</html>")
        case Some("btnSignIn")
            if emailByCookie.get(pre) == email && fields.get("password").contains(password) =>
          val sess = s"sess=${sessions.incrementAndGet()}"
          quotaBySession.put(sess, new AtomicInteger(quota))
          logins.incrementAndGet()
          if (expiredPeers.remove(ex.getRemoteAddress.toString)) relogins.incrementAndGet()
          respond(ex, 200, "<html>welcome</html>", Some(sess))
        case _ => respond(ex, 403, "bad credentials")
      }
    }

  private def page(ex: HttpExchange): Unit = {
    val live = cookieOf(ex, "sess").exists { s =>
      Option(quotaBySession.get(s)).exists(_.getAndDecrement() > 0)
    }
    val code = ex.getRequestURI.getPath.stripPrefix("/codes/")
    spec.pages.get(code) match {
      case _ if !live =>
        expired.incrementAndGet()
        expiredPeers.add(ex.getRemoteAddress.toString)
        respond(ex, 401, "session expired")
      case Some(p) if p.status >= 500 =>
        errors5xx.incrementAndGet(); respond(ex, p.status, p.html)
      case Some(p) if p.transient && seenThisPass.add(code) =>
        errors5xx.incrementAndGet(); transient503.incrementAndGet()
        respond(ex, 503, "transient upstream error")
      case Some(p) => respond(ex, p.status, p.html)
      case None => respond(ex, 404, notFound)
    }
  }
}
