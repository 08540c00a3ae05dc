package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.pipeline.{FetchConfig, HttpPageFetcher, JdkHttpTransport, ProcedurePipeline}
import graft.queries.{Catalog, SharedArtifacts}

/** One benchmark run in one JVM: set up [[Setups]] times (each a fresh
  * session, fresh artifact store, site start and an untimed warm-up
  * pass), then time whole passes over the workload's operations for at
  * least `--seconds` and at least [[MinPasses]] passes.
  * Writes every raw observation as JSON to `--out`; `run.py` turns them
  * into metrics and checks the outputs.
  *
  * Usage: Main --workload crawl|ops --seed N --seconds S --trace 0|1
  *   --cores K --work DIR --corpus DIR --site FILE --out FILE
  */
object Main {
  val MinPasses = 3
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2

  /** Iterative and artifact-heavy operators: a graph loop (label
    * propagation), dedup (MinHash LSH candidate pairs),
    * ANN serving on the shared trained quantizer, and TF-IDF text. */
  val IterOps: Seq[String] = Seq(
    "q92_label_prop", "dd02_minhash_lsh", "ann15_filtered_topk", "tx06_tfidf")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: Path, corpus: String, site: String, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), m.getOrElse("corpus", ""),
      m.getOrElse("site", ""), Paths.get(need("out")))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "crawl" => new CrawlWorkload(a)
      case "ops"   => new CatalogWorkload(a, IterOps)
      case other   => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Recorder
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    try {
      for (s <- 1 to Setups) {
        if (spark != null) { w.stop(); stopSession(spark) }
        val startMs = System.currentTimeMillis()
        System.setProperty("graft.artifacts.dir", a.work.resolve(s"artifacts-$s").toString)
        spark = GraftSession.local(a.cores, GraftSession.dirBytes(a.corpus))
        spark.sparkContext.setLogLevel("ERROR")
        tracer = if (a.trace) Some(new Tracer(spark)) else None
        w.start(spark)
        w.pass(spark, s"setup$s", rec.nextPass(), tracer, rec, keepResults = s == 1)
        rec.setups += SetupRecord(startMs, System.currentTimeMillis())
      }
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        w.pass(spark, "timed", rec.nextPass(), tracer, rec, keepResults = false)
        passes += 1
      }
    } finally {
      try w.stop() finally if (spark != null) stopSession(spark)
      Files.writeString(a.out, json.writeValueAsString(
        RunRecord(a.workload, a.cores, rec.setups.toSeq, rec.ops.toSeq, rec.passes.toSeq, w.extra)))
    }
  }

  /** Exception class and message down the cause chain, one line. */
  def describe(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(e => s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      .mkString(" <- ")

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

// Raw observations of one run, written as JSON with snake_case keys.
final case class SetupRecord(startMs: Long, endMs: Long)
final case class OpRecord(phase: String, pass: Int, op: String, ok: Boolean,
    wallS: Double, cpuS: Double, error: String, expectedFailure: Boolean = false,
    codes: Seq[String] = Nil, rows: Seq[Long] = Nil,
    files: Map[String, Seq[String]] = Map.empty, server: Map[String, Long] = Map.empty)
final case class PassRecord(phase: String, pass: Int, artifactBuilds: Int, layers: Map[String, Double])
final case class RunRecord(workload: String, cores: Int, setups: Seq[SetupRecord],
    ops: Seq[OpRecord], passes: Seq[PassRecord], extra: Map[String, Any])

final class Recorder {
  val setups = mutable.ArrayBuffer.empty[SetupRecord]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val passes = mutable.ArrayBuffer.empty[PassRecord]
  private var n = 0
  def nextPass(): Int = { n += 1; n }
}

/** A workload runs whole passes over its operations. */
trait Workload {
  def start(spark: SparkSession): Unit
  def pass(spark: SparkSession, phase: String, idx: Int, tracer: Option[Tracer],
      rec: Recorder, keepResults: Boolean): Unit
  def stop(): Unit
  /** What `run.py` needs besides the observations to check the outputs. */
  def extra: Map[String, Any]
}

/** One timed call: its result, wall, process CPU and GC seconds, and its
  * span in epoch milliseconds. */
final case class Timed[T](result: Try[T], wallS: Double, cpuS: Double, gcS: Double,
    startMs: Long, endMs: Long)

object Timed {
  def run[T](body: => T): Timed[T] = {
    val (c0, gc0) = (Jvm.cpuSeconds(), Jvm.gcSeconds())
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Try(body)
    val s = (System.nanoTime() - t0) / 1e9
    Timed(r, s, Jvm.cpuSeconds() - c0, Jvm.gcSeconds() - gc0, ms0, System.currentTimeMillis())
  }
}

/** Per-pass layer accounting shared by both workload kinds. Only the
  * calls handed to [[commit]] count: the listener's jobs, stages, tasks
  * and planning are taken from what started inside their spans, so a
  * failed operation and the traced run's own probes stay out. */
final class PassMeter(spark: SparkSession, tracer: Option[Tracer]) {
  Jvm.resetPeak()
  SharedArtifacts.drainEvents()
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val buildSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var wallS, gcS = 0.0
  private var artifactBuilds = 0
  val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  /** Counts `t`, a successful operation or part of one, toward the pass. */
  def commit(t: Timed[_]): Unit = {
    spans += ((t.startMs, t.endMs))
    wallS += t.wallS
    gcS += t.gcS
  }

  /** Counts `t`, a successful catalog call, also toward the queries layer. */
  def commitBuild(t: Timed[_]): Unit = {
    commit(t)
    buildSpans += ((t.startMs, t.endMs))
    layers("queries.build_s") += t.wallS
  }

  /** Reads the pass's counters. Call after the pass's last operation
    * and before any probe. */
  def finish(): Unit = {
    val arts = SharedArtifacts.drainEvents()
    artifactBuilds = arts.count(_.built)
    tracer.foreach { t =>
      t.drain()
      val jobs = t.jobsIn(spans.toSeq)
      def sum(k: String) = jobs.map(_.m(k)).sum
      layers("exec.jobs") = jobs.size
      Seq("stages", "tasks", "task_s", "task_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
        .foreach(k => layers(s"exec.$k") = sum(k))
      layers("sources.scan_mb") = sum("scan_mb")
      layers("plan.plan_s") = t.planSecondsIn(spans.toSeq)
      layers("queries.eager_jobs") = t.jobsIn(buildSpans.toSeq).size
      layers("exec.run_s") = Tracer.unionSeconds(jobs.map(j => (j.startMs, j.endMs)))
      layers("exec.between_jobs_s") = (wallS - layers("exec.run_s")).max(0.0)
      layers("sinks.write_s") = Tracer.unionSeconds(
        jobs.filter(_.callSites.contains("ParquetSink")).map(j => (j.startMs, j.endMs)))
      layers("queries.artifact_builds") = artifactBuilds
      layers("queries.artifact_build_s") = arts.filter(_.built).map(_.millis).sum / 1e3
      layers("queries.artifact_serves") = arts.count(!_.built)
      layers("queries.artifact_serve_s") = arts.filterNot(_.built).map(_.millis).sum / 1e3
      layers("jvm.gc_s") = gcS
      layers("jvm.heap_peak_mb") = Jvm.peakHeapMb()
      layers("operators.persisted_mb") = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
    }
  }

  def record(phase: String, idx: Int): PassRecord = PassRecord(phase, idx, artifactBuilds, layers.toMap)
}

/** `queries.Catalog` operations, each timed to its full answer: a `noop`
  * write materializes every column and the final total-order sort. */
final class CatalogWorkload(a: Main.Args, names: Seq[String]) extends Workload {
  private val queries = names.map(n => Catalog.all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"no catalog query $n")))
  private val resultsDir = a.work.resolve("results")

  def start(spark: SparkSession): Unit = ()
  def stop(): Unit = ()

  def extra: Map[String, Any] = Map(
    "oracle" -> queries.map(q => q.name -> q.oracle.get.trim).toMap,
    "results" -> resultsDir.toString)

  def pass(spark: SparkSession, phase: String, idx: Int, tracer: Option[Tracer],
      rec: Recorder, keepResults: Boolean): Unit = {
    val meter = new PassMeter(spark, tracer)
    val order = new scala.util.Random(a.seed * 7919L + idx).shuffle(queries)
    order.foreach { q =>
      val build = Timed.run(q.fn(spark, a.corpus))
      val write = build.result.toOption.map { df =>
        val w = df.write.mode("overwrite")
        Timed.run(if (keepResults) w.parquet(resultsDir.resolve(q.name).toString)
          else w.format("noop").save())
      }
      val parts = build +: write.toSeq
      val failure = parts.flatMap(_.result.failed.toOption).headOption
      if (failure.isEmpty) { meter.commitBuild(build); write.foreach(meter.commit) }
      rec.ops += OpRecord(phase, idx, q.name, failure.isEmpty, parts.map(_.wallS).sum,
        parts.map(_.cpuS).sum, failure.map(Main.describe).getOrElse(""))
    }
    meter.finish()
    rec.passes += meter.record(phase, idx)
  }
}

/** The paper's pipeline: each operation is one `ProcedurePipeline.run`
  * batch against the loopback site, appending to parquet sinks that
  * start empty each pass. Each batch's existing-key snapshot is read
  * from the sinks as they stood before the batch. */
final class CrawlWorkload(a: Main.Args) extends Workload {
  private val spec = SiteSpec.load(a.site)
  private var site: Site = _
  private val Quota = 20

  def start(spark: SparkSession): Unit = {
    if (site != null) site.stop()
    site = new Site(spec, a.cores, Quota)
  }

  def stop(): Unit = if (site != null) { site.stop(); site = null }

  def extra: Map[String, Any] = Map("poison" -> spec.poison)

  private def parquetFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def pass(spark: SparkSession, phase: String, idx: Int, tracer: Option[Tracer],
      rec: Recorder, keepResults: Boolean): Unit = {
    import spark.implicits._
    val dir = a.work.resolve(s"crawl/p$idx")
    val sinks = Seq("codes", "modifiers", "ndc").map(s => s -> dir.resolve(s))
    site.resetPass()
    val meter = new PassMeter(spark, tracer)
    val transport = if (tracer.isDefined) new TimedTransport(new JdkHttpTransport()) else new JdkHttpTransport()
    val fetcher = new HttpPageFetcher(FetchConfig(
      loginUrl = s"${site.base}/login", pageUrlTemplate = s"${site.base}/codes/{code}",
      email = site.email, password = site.password, maxRetries = 3, backoffMs = 1L), transport)
    val okBatches = mutable.ArrayBuffer.empty[Seq[String]]
    spec.batches.zipWithIndex.foreach { case (codes, b) =>
      val before = sinks.map { case (n, p) => n -> parquetFiles(p) }.toMap
      def snapshot(sink: String, key: String): DataFrame = {
        val p = dir.resolve(sink)
        if (Files.isDirectory(p)) spark.read.parquet(p.toString).select(key)
        else Seq.empty[String].toDF(key)
      }
      val (srv0, tr0) = (site.counters(), TimedTransport.totals())
      val t = Timed.run(ProcedurePipeline.run(spark, codes.toDF("code"),
        fetcher, snapshot("modifiers", "modifier"), snapshot("ndc", "ndc_alternate_id"),
        dir.resolve("codes").toString, dir.resolve("modifiers").toString,
        dir.resolve("ndc").toString, fetchPartitions = a.cores))
      val srv = site.counters().map { case (k, v) => k -> (v - srv0(k)) }
      val tr1 = TimedTransport.totals()
      val added = sinks.map { case (n, p) => n -> (parquetFiles(p) -- before(n).keys) }.toMap
      val expectedFailure = codes.contains(spec.poison) && t.result.isFailure &&
        Main.describe(t.result.failed.get).contains(s"fetch ${spec.poison}")
      t.result.foreach { r =>
        meter.commit(t)
        okBatches += codes
        if (tracer.isDefined) {
          val l = meter.layers
          l("sinks.rows_written") += r.codes + r.modifiers + r.ndc
          l("sinks.files_written") += added.values.map(_.size).sum
          l("sinks.bytes_written") += added.values.flatMap(_.values).sum
          val good = codes.distinct.flatMap(spec.pages.get).filter(p => p.kind == "cpt" || p.kind == "hcpcs")
          l("operators.dedup_dropped_rows") += good.map(p => p.nMods + p.nNdc).sum - r.modifiers - r.ndc
          l("pipeline.requests") += tr1._1 - tr0._1
          l("pipeline.fetch_s") += tr1._2 - tr0._2
          l("pipeline.fetched_mb") += tr1._3 - tr0._3
          l("pipeline.retries") += srv("errors_5xx")
          l("pipeline.logins") += srv("logins")
        }
      }
      rec.ops += OpRecord(phase, idx, s"batch$b", t.result.isSuccess, t.wallS, t.cpuS,
        t.result.failed.map(Main.describe).getOrElse(""), expectedFailure, codes,
        t.result.map(r => Seq(r.codes, r.modifiers, r.ndc)).getOrElse(Nil),
        added.map { case (n, fs) => n -> fs.keys.toSeq.sorted }, srv)
    }
    meter.finish()
    if (tracer.isDefined) {
      // probes, after the counters are read: the frontier stage alone,
      // forced to its full answer, and the parse stage alone, over the
      // pages of the batches that succeeded
      val l = meter.layers
      okBatches.foreach { codes =>
        val f = Timed.run(ProcedurePipeline.frontierSchedule(codes.toDF("code"), "https://codes.example/")
          .write.format("noop").mode("overwrite").save())
        f.result.get
        l("pipeline.frontier_s") += f.wallS
      }
      val pages = okBatches.flatten.distinct.flatMap(spec.pages.get)
      val parse = Timed.run(pages.count(p => ProcedurePipeline.parsePage(p.code, p.html).isDefined))
      l("extract.parse_s") = parse.wallS
      l("extract.pages_parsed") = parse.result.get
      l("extract.pages_dropped") = pages.size - parse.result.get
    }
    rec.passes += meter.record(phase, idx)
  }
}
