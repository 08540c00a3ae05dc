package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{HttpRequest, HttpResponse, HttpTransport}

/** One Spark job as the traced run saw it: its interval, the call sites
  * of its stages, and the stage and task metrics of the stages that ran
  * for it. */
final class JobTrace(val startMs: Long, val callSites: String) {
  var endMs: Long = -1L
  val m: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
}

/** Spark-side counters for the traced run, read from a `SparkListener`
  * (jobs, stages, tasks, task metrics) and a `QueryExecutionListener`
  * (Catalyst planning phases). Stage and task metrics are kept per job,
  * and planning per query execution with its start time, so that callers
  * can count only what started inside the spans they time. Call
  * [[drain]] before reading.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobTrace]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  /** (start ms, seconds) of the planning phases of each query execution. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  /** Finished jobs that started inside one of `spans` (epoch ms, inclusive). */
  def jobsIn(spans: Seq[(Long, Long)]): Seq[JobTrace] = synchronized {
    jobs.values.filter(j => j.endMs >= 0 && Tracer.inside(j.startMs, spans)).toSeq
  }

  /** Planning seconds of query executions that started inside `spans`. */
  def planSecondsIn(spans: Seq[(Long, Long)]): Double = synchronized {
    plans.collect { case (t, s) if Tracer.inside(t, spans) => s }.sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // stage names are the call sites ("save at ParquetSink.scala:63")
    jobs(e.jobId) = new JobTrace(e.time, e.stageInfos.map(_.name).mkString(";"))
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def metricsOf(stageId: Int): Option[mutable.Map[String, Double]] =
    jobOfStage.get(stageId).flatMap(jobs.get).map(_.m)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    metricsOf(e.stageInfo.stageId).foreach(_("stages") += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tm = e.taskMetrics
    metricsOf(e.stageId).foreach { c =>
      c("tasks") += 1
      if (tm != null) {
        c("task_s") += tm.executorRunTime / 1e3
        c("task_cpu_s") += tm.executorCpuTime / 1e9
        c("shuffle_write_mb") += tm.shuffleWriteMetrics.bytesWritten / 1048576.0
        c("shuffle_read_mb") += tm.shuffleReadMetrics.totalBytesRead / 1048576.0
        c("spill_mb") += tm.diskBytesSpilled / 1048576.0
        c("scan_mb") += tm.inputMetrics.bytesRead / 1048576.0
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object Tracer {
  def inside(t: Long, spans: Seq[(Long, Long)]): Boolean =
    spans.exists { case (a, b) => t >= a && t <= b }

  /** Total length of the union of `[start, end)` intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total / 1e3
  }
}

/** Timing wrapper around the program's public [[HttpTransport]]. Tasks
  * run in this JVM (`local[k]`), so the counters are process-wide. */
final class TimedTransport(inner: HttpTransport) extends HttpTransport {
  override def send(req: HttpRequest): HttpResponse = {
    val t0 = System.nanoTime()
    try {
      val r = inner.send(req)
      TimedTransport.bytes.add(r.body.length)
      r
    } finally {
      TimedTransport.requests.increment()
      TimedTransport.nanos.add(System.nanoTime() - t0)
    }
  }
}

object TimedTransport {
  val requests = new LongAdder
  val nanos = new LongAdder
  val bytes = new LongAdder

  /** (requests, seconds, MB) so far. */
  def totals(): (Double, Double, Double) =
    (requests.sum.toDouble, nanos.sum / 1e9, bytes.sum / 1048576.0)
}

/** JVM-wide counters: process CPU, GC time and peak heap. */
object Jvm {
  import scala.jdk.CollectionConverters._
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  def gcSeconds(): Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def resetPeak(): Unit = heap.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
