package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Fetcher lifecycle counters. Each task deserializes its own fetcher
  * copy, so the counts live in this JVM-wide object (local mode runs
  * every task in the test JVM).
  */
object CountingFetcher {
  val opens = new AtomicInteger
  val closes = new AtomicInteger
  def reset(): Unit = { opens.set(0); closes.set(0) }
}

/** Fixture fetcher that counts `open`/`close` and throws on `failOn`. */
final class CountingFetcher(pages: Map[String, String], failOn: Set[String] = Set.empty)
    extends PageFetcher {
  private val fixtures = new FixtureFetcher(pages)
  override def open(): Unit = { CountingFetcher.opens.incrementAndGet(); () }
  override def fetch(code: String): String =
    if (failOn(code)) throw new IllegalStateException(s"fetch $code")
    else fixtures.fetch(code)
  override def close(): Unit = { CountingFetcher.closes.incrementAndGet(); () }
}

/** Golden end-to-end pipeline run over offline fixture pages
  * (SURVEY §5 test plan items 2 and 5 — no network).
  */
class ProcedurePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val fullPage = """
    <html><body>
    <div class="newbread"><a href="/cpt-codes-range/0042T-0184T/">Range</a></div>
    <div class="layout2_code"><h1>0042T, Ct perfusion w/contrast cbf</h1></div>
    <div class="sub_head_detail">Cerebral perfusion analysis</div>
    <div class="modcross_list"><table><tbody>
      <tr><td>26</td><td>Professional Component</td></tr>
      <tr><td>TC</td><td>Technical Component</td></tr>
    </tbody></table></div>
    <div id="cpt_betos"><strong>Code:</strong> I2B <strong>Description:</strong> Advanced imaging</div>
    <div id="cpt_guidelines">Report once per study</div>
    <div id="cpt_advice">See imaging guidance</div>
    <div id="fullLayterm"><p>Summary text.</p>Lay explanation <a href="#">Read Less</a></div>
    <div id="cpt_report">Report with 26</div>
    <div id="cpt_revenue_cross"><table class="points_table">
      <tr><th>Code</th><th>Desc</th></tr>
      <tr><td>0350</td><td>CT Scan</td></tr></table></div>
    <div id="ndc"><table>
      <tr><td>11111-222-33</td><td>ContrastX</td><td>Maker A</td><td>10 ml</td><td>ML</td></tr>
      <tr><td>44444-555-66</td><td>ContrastY</td><td>Maker B</td><td>20 ml</td><td>ML</td></tr>
    </table></div>
    </body></html>"""

  val deletedPage = """
    <html><body>
    <span>Deleted</span>
    <div class="alert alert-danger">This code was deleted effective January 1, 2023</div>
    <div class="advice-block">Coding Advice: <p>Use the replacement code instead</p></div>
    <div class="panel-body tab-pane">No CPT guidelines for this code</div>
    <div class="panel panel-default">
      <div class="panel-heading">Code Descriptor</div>
      <div class="panel-body tab-pane">Old descriptor text</div>
    </div>
    </body></html>"""

  val pages = Map(
    "0042T" -> fullPage,
    "D0001" -> deletedPage)
    // "GONE1" falls through to the fetcher's canned 404
  val fetcher = new FixtureFetcher(pages)

  test("E20 parse: full page populates all three relations") {
    val parsed = ProcedurePipeline.parsePage("0042T", fullPage).get
    assert(parsed.row.code_type == "CPT")
    assert(parsed.row.short_description.contains("Ct perfusion w/contrast cbf"))
    assert(parsed.row.main_interval.contains("0042T-0184T"))
    assert(parsed.row.modifiers.contains(Seq("26", "TC")))
    assert(parsed.modifier_rows.map(_.modifier) == Seq("26", "TC"))
    assert(parsed.ndc_rows.map(_.ndc_alternate_id) == Seq("11111-222-33", "44444-555-66"))
    assert(parsed.row.ndc_alternate_id.contains(Seq("11111-222-33", "44444-555-66")))
    assert(parsed.row.revenue_lookup.contains(Seq("0350")))
  }

  test("E20 parse: 404 and deleted-HCPCS pages drop the row") {
    assert(ProcedurePipeline.parsePage("GONE1",
      """<div class="container404"/>""").isEmpty)
    assert(ProcedurePipeline.parsePage("E0001",
      "<h1>Deleted HCPCS Codes</h1>").isEmpty)
  }

  test("E20 parse: deleted-code branch builds the sparse row") {
    val parsed = ProcedurePipeline.parsePage("D0001", deletedPage).get
    assert(parsed.row.date_deleted.exists(_.contains("deleted effective January 1, 2023")))
    assert(parsed.row.advice.contains("Use the replacement code instead"))
    assert(parsed.row.guidelines.contains("No CPT guidelines for this code"))
    assert(parsed.row.description.contains("Old descriptor text"))
    assert(parsed.row.main_interval.isEmpty && parsed.row.betos_code.isEmpty)
    assert(parsed.modifier_rows.isEmpty && parsed.ndc_rows.isEmpty)
  }

  test("full pipeline: clean -> fetch -> parse -> dedup -> append sinks") {
    val base = Files.createTempDirectory("graft_pipe").toString
    // work list with the P1/P2 edge cases (A4 fixture shape)
    val codes = Seq("0042T", "D0001", "GONE1", "  ", "false", null)
      .toDF("code")
    // dedup snapshots (A5): modifier "26" and one NDC id already persisted
    val existingMods = Seq("26").toDF("modifier")
    val existingNdc = Seq("11111-222-33").toDF("ndc_alternate_id")

    val res = ProcedurePipeline.run(spark, codes, fetcher,
      existingMods, existingNdc,
      s"$base/codes", s"$base/modifiers", s"$base/ndc", fetchPartitions = 2)

    // 0042T + D0001 survive; GONE1 is a 404; blanks/false cleaned away
    assert(res == ProcedurePipeline.PipelineResult(2, 1, 1))
    val codesOut = spark.read.parquet(s"$base/codes")
    assert(codesOut.count() == 2)
    assert(codesOut.columns.length == 21)
    val mods = spark.read.parquet(s"$base/modifiers")
      .as[(String, String)].collect().toSet
    assert(mods == Set(("TC", "Technical Component"))) // "26" deduped
    val ndc = spark.read.parquet(s"$base/ndc")
      .select("ndc_alternate_id").as[String].collect().toSet
    assert(ndc == Set("44444-555-66")) // snapshot id deduped
  }

  test("X1 chunk-equivalence: output invariant under fetch partitioning") {
    // SURVEY §5 item 2: the chunked execution model must not change
    // results — same parsed output at 1 and 4 fetch partitions
    def parse(nPartitions: Int) = ProcedurePipeline
      .extract(spark, Seq("0042T", "D0001", "GONE1").toDF("code"), fetcher, nPartitions)
      .collect().map(p => (p.row.code, p.row.short_description,
        p.modifier_rows.size, p.ndc_rows.size)).toSet
    assert(parse(1) == parse(4))
    assert(parse(1).map(_._1) == Set("0042T", "D0001"))
  }

  test("building extract runs no Spark job") {
    val sc = spark.sparkContext
    val group = s"extract-plan-${System.nanoTime()}"
    val marker = s"$group-marker"
    sc.setJobGroup(group, "build extract")
    try ProcedurePipeline.extract(spark,
      Seq("0042T", "D0001", "GONE1").toDF("code"), fetcher, 4)
    finally sc.clearJobGroup()
    // job events reach the status store in order: once a later marker
    // job is visible, any job the build started would be too
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("a one-host batch at fetchPartitions = 4 opens one session") {
    CountingFetcher.reset()
    val base = Files.createTempDirectory("graft_pipe").toString
    val res = ProcedurePipeline.run(spark,
      Seq("0042T", "D0001", "GONE1").toDF("code"), new CountingFetcher(pages),
      Seq.empty[String].toDF("modifier"), Seq.empty[String].toDF("ndc_alternate_id"),
      s"$base/codes", s"$base/modifiers", s"$base/ndc", fetchPartitions = 4)
    assert(res == ProcedurePipeline.PipelineResult(2, 2, 2))
    assert(CountingFetcher.opens.get == 1)
    assert(CountingFetcher.closes.get == 1)
  }

  test("close runs once for every open when a fetch throws") {
    CountingFetcher.reset()
    val err = intercept[Exception] {
      ProcedurePipeline.extract(spark, Seq("0042T", "BOOM1", "D0001").toDF("code"),
        new CountingFetcher(pages, failOn = Set("BOOM1")), 4).collect()
    }
    assert(err.getMessage.contains("fetch BOOM1"))
    assert(CountingFetcher.opens.get >= 1)
    assert(CountingFetcher.closes.get == CountingFetcher.opens.get)
  }

  test("error channel swallows its own failures and records the row") {
    val base = Files.createTempDirectory("graft_err").toString
    val ok = ErrorChannel.register(spark,
      """{"dag_id":"d1","task_id":"t1","run_id":"r1"}""",
      new RuntimeException("boom"), s"$base/errors")
    assert(ok)
    val row = spark.read.parquet(s"$base/errors")
      .as[(String, String, String, String)].head()
    assert(row == (("d1", "t1", "r1", "java.lang.RuntimeException boom")))
    // unwritable sink path: still true (reference `:37-39`)
    assert(ErrorChannel.register(spark, "not json",
      new RuntimeException("x"), "/proc/definitely/not/writable"))
  }
}
