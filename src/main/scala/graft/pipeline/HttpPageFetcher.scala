package graft.pipeline

/** Minimal HTTP request/response model for the fetch stage. Kept
  * engine-agnostic so tests inject a canned transport and production
  * supplies a real client — the fetcher logic (login, retry, politeness)
  * is identical either way.
  */
final case class HttpRequest(method: String, url: String,
    headers: Map[String, String] = Map.empty, body: String = "")
final case class HttpResponse(status: Int, body: String,
    headers: Map[String, String] = Map.empty)

/** Transport abstraction: one blocking exchange. Implementations decide
  * connection pooling and timeouts; throwing (e.g. on socket timeout) is
  * the transport's way of signalling a retryable failure.
  */
trait HttpTransport extends Serializable {
  def send(req: HttpRequest): HttpResponse
}

/** JDK `java.net.http` transport — the zero-dependency production
  * default. Unexercised in this offline environment (no egress); the
  * fetcher logic is covered through canned transports instead.
  */
final class JdkHttpTransport(connectTimeoutMs: Long = 10000L,
    requestTimeoutMs: Long = 30000L) extends HttpTransport {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()

  override def send(req: HttpRequest): HttpResponse = {
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(req.url))
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
    req.headers.foreach { case (k, v) => b = b.header(k, v) }
    b = req.method match {
      case "POST" => b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(req.body))
      case _      => b.GET()
    }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val hdrs = {
      import scala.jdk.CollectionConverters._
      resp.headers().map().asScala.map { case (k, v) =>
        k -> v.asScala.mkString(",")
      }.toMap
    }
    HttpResponse(resp.statusCode(), resp.body(), hdrs)
  }
}

/** Login + fetch configuration (field ids mirror the reference's
  * parameterized login flow, `login.py:12-89`; secrets come from
  * [[Config]]'s env-backed store, never inline).
  */
final case class FetchConfig(
    loginUrl: String,
    pageUrlTemplate: String, // e.g. "https://host/codes/{code}"
    email: String,
    password: String,
    maxRetries: Int = 3,
    backoffMs: Long = 500L, // doubles per attempt
    politenessMs: Long = 0L) // min delay between fetches per session

/** E21/E22/X3: a logged-in, per-partition HTTP fetch session.
  *
  * Restates the reference's Selenium flow (`login.py:12-89`) over plain
  * HTTP: `open()` performs the two-step login — submit the email
  * (`userProvidedSignInName` + `next`), then the password (`password` +
  * `btnSignIn`) — and keeps the returned session cookie for every
  * subsequent fetch. The reference's tab-clicking (E21) has no HTTP
  * analog: the server returns the full page, and the parser reads all
  * tab panes from the one document (`Extractors` scan the whole HTML).
  *
  * Retry discipline (X3, `procedure_code.py:259-267` / `safe_click_tab`
  * `:663-675`): each fetch retries up to `maxRetries` times with doubling
  * backoff on transport exceptions and 5xx; on an auth loss (401/403 or a
  * redirect back to the login page) it re-runs the login once and
  * retries. 404 is NOT retried — error pages are real pages the parser
  * classifies (P4/P5). A `politenessMs` floor between requests gives
  * distributed politeness: with N open sessions the site sees at most N
  * requests per `politenessMs`.
  *
  * One session per non-empty fetch partition (see
  * [[ProcedurePipeline.extract]]): `open()` logs in once per such
  * partition, and the cookie jar and `politenessMs` clock are
  * partition-local, mirroring the reference's one-browser-per-process
  * model at executor scale.
  *
  * ==Contract limit — JS-rendered pages (VERDICT r16 #7)==
  * The reference drives a real headless Chrome
  * (`crawler/src/utils/chrome_config.py:3-17`) precisely because the
  * target pages are JS-gated: tab clicks
  * (`crawler/src/procedure_code.py:653-675`) and the lay-term
  * "Read More" expansion (`:247-293`) mutate the DOM before capture.
  * This fetcher speaks plain HTTP and CANNOT execute JavaScript: against
  * a live site, panes that the server renders empty (populated
  * client-side) come back unexpanded, and collapsed lay-term text stays
  * collapsed. The parsers are written to DEGRADE on such input — an
  * empty JS-shell pane takes the absent-pane branch (None), a collapsed
  * lay term yields the truncated text with the "Read More" UI artifact
  * stripped, never a mis-extraction (ExtractorsSpec "JS-gated pane"
  * cases pin this). A deployment needing full JS parity plugs a
  * browser-driving [[HttpTransport]] (e.g. CDP-backed) into the same
  * fetcher; login, retry, and politeness logic are transport-agnostic.
  */
final class HttpPageFetcher(config: FetchConfig, transport: HttpTransport,
    sleeper: Long => Unit = Thread.sleep) extends PageFetcher {

  @transient private var cookie: String = _
  @transient private var lastFetchAt: Long = 0L

  private def formBody(fields: Map[String, String]): String =
    fields.map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" +
        java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")

  private def sessionHeaders: Map[String, String] =
    if (cookie == null) Map.empty else Map("Cookie" -> cookie)

  private def absorbCookie(resp: HttpResponse): Unit =
    resp.headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("set-cookie") => v.split(";")(0)
    }.foreach(c => cookie = c)

  /** Two-step login; throws on a non-2xx final response (fail fast — an
    * unauthenticated session would misparse every page as logged-out).
    */
  override def open(): Unit = {
    val loginPage = transport.send(HttpRequest("GET", config.loginUrl))
    absorbCookie(loginPage)
    val step1 = transport.send(HttpRequest("POST", config.loginUrl,
      sessionHeaders + ("Content-Type" -> "application/x-www-form-urlencoded"),
      formBody(Map("userProvidedSignInName" -> config.email, "step" -> "next"))))
    absorbCookie(step1)
    val step2 = transport.send(HttpRequest("POST", config.loginUrl,
      sessionHeaders + ("Content-Type" -> "application/x-www-form-urlencoded"),
      formBody(Map("password" -> config.password, "step" -> "btnSignIn"))))
    absorbCookie(step2)
    if (step2.status >= 300)
      throw new IllegalStateException(s"login failed: HTTP ${step2.status}")
  }

  private def authLost(resp: HttpResponse): Boolean =
    resp.status == 401 || resp.status == 403 ||
      (resp.status >= 300 && resp.status < 400 &&
        resp.headers.exists { case (k, v) =>
          k.equalsIgnoreCase("location") && v.startsWith(config.loginUrl)
        })

  override def fetch(code: String): String = {
    val url = config.pageUrlTemplate.replace("{code}", code)
    var attempt = 0
    var relogged = false
    while (true) {
      val wait = config.politenessMs - (System.nanoTime() / 1000000L - lastFetchAt)
      if (wait > 0) sleeper(wait)
      lastFetchAt = System.nanoTime() / 1000000L
      val resp =
        try transport.send(HttpRequest("GET", url, sessionHeaders))
        catch {
          case e: Exception if attempt < config.maxRetries =>
            sleeper(config.backoffMs << attempt); attempt += 1
            null // transport failure: retryable
          case e: Exception =>
            throw new IllegalStateException(s"fetch $code failed after ${attempt + 1} attempts", e)
        }
      if (resp != null) {
        absorbCookie(resp)
        if (resp.status < 300 || resp.status == 404) return resp.body
        else if (authLost(resp) && !relogged) { relogged = true; open() }
        else if (resp.status >= 500 && attempt < config.maxRetries) {
          sleeper(config.backoffMs << attempt); attempt += 1
        } else throw new IllegalStateException(s"fetch $code: HTTP ${resp.status}")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
