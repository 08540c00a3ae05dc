package graft.pipeline

/** Fetch-stage abstraction (SURVEY §7.3: fetch decoupled from parse).
  *
  * The reference drives one logged-in Selenium session sequentially
  * (`login.py:12-89`, `procedure_code.py:728,754-755` — E21/E22). Here a
  * fetcher is deserialized *per partition* inside `mapPartitions`, so N
  * non-empty partitions fetch in parallel with one session each; the
  * returned HTML must already contain every tab pane the parser needs
  * (the reference's tab clicks happen inside the fetch implementation).
  * Pacing between requests belongs to the fetcher (e.g.
  * `FetchConfig.politenessMs`, per session); the pipeline computes no
  * schedule for it.
  *
  * Implementations must be Serializable-constructible on executors —
  * session state itself (cookies, driver handles) is created lazily in
  * `open()` on the executor, never serialized from the driver.
  */
trait PageFetcher extends Serializable {
  /** Called once per non-empty partition before its first fetch — login,
    * warmup (E22). Empty partitions never call it. */
  def open(): Unit = ()

  /** Fetch the fully-expanded page HTML for one code; null/None on 404
    * is NOT modeled here — error pages are real HTML the parser
    * classifies (P4/P5). Implementations should retry with the
    * reference's timeout discipline (X3) and rate-limit politely.
    */
  def fetch(code: String): String

  /** Called once for every `open()`, at task completion — teardown. Runs
    * also when a fetch throws. */
  def close(): Unit = ()
}

/** Offline fixture-backed fetcher for tests and golden runs (no network
  * in this environment). Unknown codes get a canned 404 page, matching
  * the site's behavior.
  */
final class FixtureFetcher(pages: Map[String, String]) extends PageFetcher {
  override def fetch(code: String): String =
    pages.getOrElse(code, """<html><body><div class="container404">404</div></body></html>""")
}
