package graft

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line. A run that times the full catalog at
  * the default sf dir (no SPARK_GRAFT_SF_DIR override) also writes the
  * complete line (every per-query second) to BENCH_full.json in the
  * working directory and to a stamped copy under bench_artifacts/ — the
  * series file compares like with like, so a filtered or other-scale
  * run writes neither and reports `"full": null`.
  *
  * Failures are recorded EXPLICITLY: a failed query reports -1 in the
  * queries object and its name under "errors" instead of publishing a
  * time-to-failure as a measurement.
  *
  * Measurement mode is WARM (and the artifact says so): a full untimed
  * pass over the catalog at the measured sf runs first, absorbing JIT,
  * codegen, and the one-time DISK_ONLY materializations of shared
  * corpus-derived tables; its cost is reported separately as
  * warmup_sec. Per-query numbers are therefore stable across runs and
  * comparable run-to-run (cold single shots attribute shared-cache
  * builds to arbitrary queries, swinging dp* numbers 2–8x). The
  * sf0.1 → sf1 decade probe is a separate main, [[tools.Sf1Probe]].
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine session, initial partitions sized to the measured
    // corpus's bytes (AQE coalesces the small stages back down)
    val spark = GraftSession.local(cpus.toInt, GraftSession.dirBytes(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    // Diagnostic knob: SPARK_GRAFT_QUERIES restricts
    // BOTH the warmup and the timed loop ("r11" = the frozen 143-query
    // subset, or a comma list). A fixed subset timed alone vs inside the
    // full catalog separates per-query cost from session-age /
    // catalog-size overhead.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_QUERIES").map {
      case "r11" => R11Subset.names
      case s     => s.split(",").filter(_.nonEmpty).toSet
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val fullRun = only.isEmpty && !sys.env.contains("SPARK_GRAFT_SF_DIR")
    // Warm-up pass at the MEASURED sf. Two costs would otherwise land on
    // arbitrary queries and make single-shot per-query numbers
    // uninterpretable: (a) JIT + codegen compilation dominates whichever
    // query runs first (~20s observed); (b) the one-time DISK_ONLY
    // materializations of shared corpus-derived tables
    // (Exec.materializeLarge — exploded tokens, shingle sets, bucketed
    // vectors) are paid by whichever query FIRST triggers each one, which
    // varies run to run (a cold single shot can disagree with an idle
    // 3-run block by 2–8x on dp*-cluster queries). Running the full
    // catalog once at sfDir first absorbs both; the cost is timed and reported as
    // warmup_sec, and the per-query loop below measures WARM numbers
    // ("mode":"warm" in the artifact) that are stable run-to-run.
    val tw = System.nanoTime()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        // stderr only: stdout carries the one JSON line
        System.err.println(
          s"[bench] warmup $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val warmupSec = (System.nanoTime() - tw) / 1e9
    // Shared-artifact cost attribution: the ann family inflates 2.6-3.3x
    // between same-code shots when trained-index builds land inside
    // measured queries. Every bench phase
    // drains SharedArtifacts' L1-miss events (built-vs-served + wall ms
    // per tag) so index cost and query cost separate IN-ARTIFACT: the
    // warmup should absorb all builds and a warm main loop drains ~nothing.
    // returns (full json incl. per-tag breakdown, totals-only json for
    // the compact stdout line)
    def artJson(): (String, String) = {
      val evs = graft.queries.SharedArtifacts.drainEvents()
      val (b, sv) = evs.partition(_.built)
      val byTag = evs.groupBy(_.tag).toSeq.sortBy(_._1).map { case (t, es) =>
        s"\"" + t + s"\":{\"n\":${es.size},\"ms\":${es.map(_.millis).sum},\"built\":${es.count(_.built)}}"
      }.mkString("{", ",", "}")
      val totals =
        s"""{"build_n":${b.size},"build_ms":${b.map(_.millis).sum},"serve_n":${sv.size},"serve_ms":${sv.map(_.millis).sum}"""
      (totals + s""","by_tag":$byTag}""", totals + "}")
    }
    val (artWarmup, artWarmupC) = artJson()
    // GC + heap telemetry, so a slow run carries its own diagnosis
    // instead of resting on cross-artifact inference. Every bench line
    // carries the evidence in-artifact: per-query GC-time deltas (sum over
    // GarbageCollectorMXBeans), per-query peak-heap (MemoryPoolMXBean
    // peaks, reset before each query), and the post-loop storage audit
    // below — so a 2x driver run either shows gc_share >> the idle
    // envelope's (JVM memory pressure) or doesn't (host contention).
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    def gcMillis(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    // cpu_share = Δ process CPU / (Δwall · cores) distinguishes
    // compute-saturated (≈1000 milli) from I/O-or-scheduling-bound
    // (≪1000) — the axis gc/heap can't cover: a low cpu_share on a slow
    // reading = the JVM wasn't given the cores (host contention), high =
    // honest compute.
    val nCores = Runtime.getRuntime.availableProcessors()
    val errors = Seq.newBuilder[String]
    val results = selected.map { case (name, fn) =>
      heapPools.foreach(_.resetPeakUsage())
      val g0 = gcMillis()
      val c0 = processCpuNanos()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => errors += name; false }
      val wallNs = System.nanoTime() - t0
      val sec = if (ok) wallNs / 1e9 else -1.0
      val gcMs = gcMillis() - g0
      val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
      val cpuMilli =
        if (c0 < 0 || wallNs <= 0) -1L
        else (processCpuNanos() - c0) * 1000L / (wallNs * nCores)
      (name, sec, gcMs, peakMb, cpuMilli)
    }
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val gcJson = results.map { case (k, _, g, _, _) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val peakJson = results.map { case (k, _, _, p, _) => s"\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val cpuJson = results.map { case (k, _, _, _, c) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val gcTotalSec = results.map(_._3).sum / 1e3
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    // Artifact-lifetime audit: live persisted RDDs after
    // the full catalog loop in ONE JVM. The expected population is the
    // BOUNDED named set — SharedArtifacts' checkpointed artifact handles
    // plus the DISK_ONLY shared token kernels and per-query
    // materializeLarge tables of the LAST queries that built them —
    // not something growing per query; post_clear proves every block a
    // SharedArtifacts.clear() owns actually releases.
    def storageJson(): String = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum / (1024L * 1024L)
      val disk = infos.map(_.diskSize).sum / (1024L * 1024L)
      s"""{"rdds":${infos.length},"mem_mb":$mem,"disk_mb":$disk}"""
    }
    val postLoopStorage = storageJson()
    val (artMain, artMainC) = artJson() // warm main loop: expect ~no events
    // Like-for-like series: the full-catalog total drifts upward on MIX
    // alone as queries are added, so the artifact also reports the total
    // over a FIXED 143-query subset — constant work, comparable across
    // catalog versions without interpretation. Names frozen from
    // CORRECTNESS_r11.json.
    val subsetVals = results.collect {
      case (k, v, _, _, _) if v >= 0 && R11Subset.names(k) => v
    }
    val subsetJson =
      s""""subset_r11":{"n":${subsetVals.size},"total_sec":${math.round(subsetVals.sum * 1000) / 1000.0}}"""
    val errJson = errors.result().map("\"" + _ + "\"").mkString("[", ",", "]")
    def r3b(v: Double) = math.round(v * 1000) / 1000.0
    // diagnostic-run provenance: a filtered artifact must say so.
    // The env value is user-controlled text landing inside a JSON string —
    // escape backslashes/quotes/control chars or a stray quote corrupts the
    // whole BENCH line.
    def jsonEscape(s: String): String =
      s.flatMap {
        case '"'           => "\\\""
        case '\\'          => "\\\\"
        case c if c < ' '  => f"\\u${c.toInt}%04x"
        case c             => c.toString
      }
    val diagJson =
      sys.env.get("SPARK_GRAFT_QUERIES").map(v => s""","filter":"${jsonEscape(v)}"""").getOrElse("") +
        s""","init_partitions":${spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").getOrElse("null")}"""
    // post-clear storage: everything SharedArtifacts + the cache manager
    // own must actually release (the lifetime audit's second half)
    graft.queries.SharedArtifacts.clear()
    spark.catalog.clearCache()
    val postClearStorage = storageJson()
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","mode":"warm"$diagJson,"warmup_sec":$warmupSec,"gc_sec":${r3b(gcTotalSec)},"gc_share":${r3b(gcTotalSec / math.max(1e-9, total))},"artifacts":{"warmup":$artWarmup,"main":$artMain},"post_loop_storage":$postLoopStorage,"post_clear_storage":$postClearStorage,$subsetJson,"queries":$qs,"gc_ms":$gcJson,"peak_heap_mb":$peakJson,"cpu_share_milli":$cpuJson,"errors":$errJson,"sf":"$sfDir"}"""
    // A full run's line lands in a stamped file no later run touches,
    // and in BENCH_full.json, the latest-full-run pointer (same bytes).
    val stampedName = Option.when(fullRun)("bench_artifacts/BENCH_full_" +
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()) + ".json")
    // stdout is the contract: a file that cannot be written is reported
    // on stderr, and the run goes on
    def writeArtifact(file: String): Unit =
      try {
        val p = java.nio.file.Paths.get(file)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
      } catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[bench] could not write $file: ${e.getClass.getName}: ${e.getMessage}")
      }
    stampedName.foreach { stamped =>
      writeArtifact(stamped)
      writeArtifact("BENCH_full.json")
    }
    // stdout readers may keep only its last ~2 KB, which the full line
    // overflows: print a line that fits — headline total, the top
    // queries by wall time and error names — and leave every per-query
    // second to the full-run files.
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val fullJson = stampedName.fold("null")(n => "\"" + n + "\"")
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v, _, _, _) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","mode":"warm"$diagJson,"warmup_sec":${r3(warmupSec)},"gc_sec":${r3(gcTotalSec)},"gc_share":${r3(gcTotalSec / math.max(1e-9, total))},"artifacts":{"warmup":$artWarmupC,"main":$artMainC},"post_loop_storage":$postLoopStorage,"post_clear_storage":$postClearStorage,$subsetJson,"queries":$top,"queries_total":${results.size},"full":$fullJson,"errors":$errJson,"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }

  /** This JVM's total CPU time in ns across all threads, or -1 where the
    * platform bean does not expose it. Bench's cpu_share and Sf1Probe's
    * CPU ratio both read it around a timed action.
    */
  private[graft] def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
}
