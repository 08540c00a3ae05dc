package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.operators.{CleanOps, CrawlOps, DedupOps}
import graft.schema.{Modifier, NdcEntry}
import graft.sinks.ParquetSink

/** The 21-column procedure-code row (`procedure_code.py:41,620-644`). */
final case class ProcedureCodeRow(
    code: String,
    code_type: String,
    main_interval: Option[String],
    main_interval_name: Option[Seq[String]],
    modifiers: Option[Seq[String]],
    short_description: Option[String],
    long_description: Option[String],
    description: Option[String],
    summary: Option[String],
    date_deleted: Option[String],
    betos_code: Option[String],
    betos_description: Option[String],
    guidelines: Option[String],
    advice: Option[String],
    lay_term: Option[String],
    report: Option[String],
    revenue_lookup: Option[Seq[String]],
    icd10_cm: Option[Seq[String]],
    ndc_alternate_id: Option[Seq[String]],
    icd_10_pcs_x: Option[Seq[String]],
    cpt_code_symbols: Option[Seq[String]])

/** E20's "one row in, three relations out" as a typed struct. */
final case class ParsedPage(
    row: ProcedureCodeRow,
    modifier_rows: Seq[Modifier],
    ndc_rows: Seq[NdcEntry])

/** The reference main pipeline (`procedure_code.py:677-815`) restated
  * Spark-first, SURVEY §3.1/§7.1 step 6:
  *
  *   codes -> clean (P1/P2) -> frontier (canonical dedup, fetch order)
  *   -> fetch (mapPartitions, one session per non-empty partition,
  *   paced by `politenessMs`) -> parse (E20 composite, pure) -> three
  *   projections (code row / explode(modifiers) / explode(ndc)) ->
  *   snapshot anti-join dedup (J1/J2) -> append sinks with empty
  *   guards (K1/P7).
  *
  * Differences from the reference, by design:
  *  - fetch parallelism is per host partition instead of one global
  *    browser: distinct hosts fetch concurrently, while one host's codes
  *    share one session, as the reference's single browser did (SURVEY §4);
  *  - the three outputs are projections of ONE parsed dataset, so the
  *    per-code python loop and its O(n²) concat accumulator disappear;
  *  - chunked incremental durability (X1) comes from partition-level
  *    writes rather than a driver loop.
  */
object ProcedurePipeline {

  /** Reference code-type inference: HCPCS codes are letter+4digits; CPT
    * are 4-5 digits with optional trailing letter (the reference branches
    * on the page URL — `procedure_code.py:482,550`).
    */
  def codeType(code: String): String =
    if (code != null && code.matches("[A-Z][0-9]{4}")) "HCPCS" else "CPT"

  /** E20 composite (`procedure_code.py:540-651`): classify the page, then
    * run the extractor battery. Returns None for 404/deleted-HCPCS pages
    * (the reference emits schema-only empty frames, P4/P5) and on any
    * parse exception (the blanket except at `:650-651`).
    */
  def parsePage(code: String, html: String): Option[ParsedPage] = {
    try {
      if (html == null || Extractors.isError404Page(html)) return None
      if (Extractors.isDeletedHcpcsPage(html)) return None
      val ct = codeType(code)
      val isCpt = ct == "CPT"

      Extractors.getDeleted(html) match {
        case Some((dateDeleted, advice, layTerm, guidelines, description)) =>
          // deleted branch (`:572-599`): sparse row, 15 nulls, no children
          val row = ProcedureCodeRow(
            code = code, code_type = ct,
            main_interval = None, main_interval_name = None, modifiers = None,
            short_description = None, long_description = None,
            description = description,
            summary = None,
            date_deleted = dateDeleted,
            betos_code = None, betos_description = None,
            guidelines = guidelines,
            advice = advice,
            lay_term = layTerm,
            report = None, revenue_lookup = None, icd10_cm = None,
            ndc_alternate_id = None, icd_10_pcs_x = None, cpt_code_symbols = None)
          return Some(ParsedPage(row, Nil, Nil))
        case None => ()
      }

      val modRows = Extractors.getModifierRows(html)
      val (betosCode, betosDesc) = Extractors.getBetos(html)
      val (summary, lay) = Extractors.getLayTerm(html)
      val (ndcIds, ndcRows) = Extractors.getNdc(html)
      val row = ProcedureCodeRow(
        code = code,
        code_type = ct,
        main_interval = Extractors.getMainInterval(html, isCpt),
        main_interval_name = Extractors.getMainIntervalName(html),
        modifiers = if (modRows.isEmpty) None else Some(modRows.map(_._1)),
        short_description = Extractors.getShortDescription(html),
        long_description = Extractors.getLongDescription(html),
        description = Extractors.getOfficialDescriptor(html),
        summary = summary,
        date_deleted = None,
        betos_code = betosCode,
        betos_description = betosDesc,
        guidelines = Extractors.getGuidelines(html),
        advice = Extractors.getAdvice(html),
        lay_term = lay,
        report = Extractors.getReport(html),
        revenue_lookup = Extractors.getRevenueCodeLookup(html),
        icd10_cm = Extractors.getIcd10Cm(html),
        ndc_alternate_id = if (ndcIds.isEmpty) None else Some(ndcIds),
        icd_10_pcs_x = Extractors.getIcdPcsX(html),
        cpt_code_symbols = Extractors.getCptCodeSymbols(html, isCpt))
      Some(ParsedPage(row, modRows.map { case (m, d) => Modifier(m, d) }, ndcRows))
    } catch {
      case _: Exception => None // `:650-651` blanket catch -> row dropped
    }
  }

  /** Crawl frontier for a code batch (VERDICT r15 #5): clean, build each
    * code's page URL (the reference's BASE_SITE + code,
    * `procedure_code.py:541`), canonicalize + dedup on the canonical
    * form ([[CrawlOps.frontierDedup]] — aliasing candidates collapse
    * BEFORE any fetch is spent on them), and attach `_ord`, a seeded
    * hash of the canonical URL that fixes the fetch order within a host
    * (the dp31 deterministic-order convention). No schedule column is
    * computed: pacing is the fetcher's own per-session
    * `FetchConfig.politenessMs`. The plan is lazy; building it runs no job.
    *
    * @return [code, canonical_url, host, _ord]
    */
  def frontierSchedule(codes: DataFrame, baseSite: String): DataFrame = {
    val withUrl = CleanOps.cleanCodes(codes).select(col("code"))
      .withColumn("url", concat(lit(baseSite), col("code")))
    CrawlOps.frontierDedup(withUrl, "url", "code")
      .select(col("first_key").as("code"), col("canonical_url"), col("host"),
        expr("xxhash64(canonical_url) & 9223372036854775807").as("_ord"))
  }

  /** clean -> frontier (canonical dedup + fetch order) -> fetch -> parse.
    * The fetch is the only side-effecting, nondeterministic stage; it
    * lives in one mapPartitions with a per-partition session (E22
    * semantics). `fetchPartitions` bounds the number of concurrent
    * sessions, and the frontier's host rides the repartition key with
    * codes sorted by `(host, _ord)` within each partition — one
    * partition's session visits a host serially, in frontier order. The
    * reference's between-request sleeps (`procedure_code.py:256-263`)
    * are the fetcher's `politenessMs` per session.
    *
    * `open()` runs once per non-empty partition, so partitions that the
    * host key leaves empty log in nowhere; `close()` runs at task
    * completion, also when a fetch throws.
    */
  def extract(spark: SparkSession, codes: DataFrame, fetcher: PageFetcher,
      fetchPartitions: Int = 8,
      baseSite: String = "https://codes.example/"): Dataset[ParsedPage] = {
    import spark.implicits._
    frontierSchedule(codes, baseSite)
      .repartition(fetchPartitions, col("host"))
      .sortWithinPartitions(col("host"), col("_ord"))
      .select("code").as[String]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          fetcher.open()
          TaskContext.get().addTaskCompletionListener[Unit](_ => fetcher.close())
          it.map(code => (code, fetcher.fetch(code)))
        }
      }
      .flatMap { case (code, html) => parsePage(code, html) }
  }

  final case class PipelineResult(codes: Long, modifiers: Long, ndc: Long)

  /** Full run against parquet sinks: extraction + the three projections +
    * snapshot anti-join dedup (J1/J2 semantics: dedup vs the pre-run
    * snapshot only — SURVEY §2.4) + append writes guarded on emptiness.
    */
  def run(spark: SparkSession, codes: DataFrame, fetcher: PageFetcher,
      existingModifiers: DataFrame, existingNdc: DataFrame,
      codesOut: String, modifiersOut: String, ndcOut: String,
      fetchPartitions: Int = 8): PipelineResult = {
    import spark.implicits._
    val parsed = extract(spark, codes, fetcher, fetchPartitions)
    // one cached parent, three projections (E20's three relations)
    parsed.cache()
    try {
      val codeRows = parsed.select(col("row.*"))
      val modifierRows = parsed.select(explode(col("modifier_rows")).as("m"))
        .select(col("m.*"))
      val ndcRows = parsed.select(explode(col("ndc_rows")).as("n"))
        .select(col("n.*"))

      val newModifiers = DedupOps.antiJoinNew(modifierRows, existingModifiers, "modifier")
      val newNdc = DedupOps.antiJoinNew(ndcRows, existingNdc, "ndc_alternate_id")

      // counts ride the writes as observed metrics — one pass per sink,
      // not a write plus a second counting scan
      PipelineResult(
        ParquetSink.writeDataset(codeRows, codesOut, mode = "append"),
        ParquetSink.writeDataset(newModifiers, modifiersOut, mode = "append"),
        ParquetSink.writeDataset(newNdc, ndcOut, mode = "append"))
    } finally parsed.unpersist()
  }
}
