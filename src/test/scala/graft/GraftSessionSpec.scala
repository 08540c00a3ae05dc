package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the engine-wide size-scaled initial-partition policy
  * (VERDICT r17 #3, re-derived round 18): initial shuffle partitions =
  * max(cores, inputBytes / 2 MB), capped at 1M. The floor is the core
  * count — the round-18 alternating A/B measured the old
  * max(2×cores, 64) floor at a 27–50% tax on dp19/dd28/tx36 at the
  * local[32]/sf0.1 gate config — and the intermediate-explosion
  * headroom lives in the bytes term (one initial partition per 2 MB of
  * compressed input ≈ 64 MB of post-expansion shuffle data at the
  * measured ~30× text-parquet expansion), which reproduces the
  * committed dd20 decade-corpus fix (175 MB → 88 ≥ 64) without taxing
  * small stages.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val MB2 = 2L << 20

  test("floor: small inputs get one initial partition per core") {
    assert(GraftSession.initialPartitions(4, 0L) == 4)
    assert(GraftSession.initialPartitions(32, 0L) == 32)
    assert(GraftSession.initialPartitions(48, 0L) == 48)
    // the floor holds for any input below cores * 2 MB
    assert(GraftSession.initialPartitions(32, 31 * MB2) == 32)
  }

  test("scale: never fewer initial partitions than inputBytes / 2 MB") {
    // the sf0.1 gate corpus (17.5 MB) stays at the core floor on 32 cores
    assert(GraftSession.initialPartitions(32, 17508506L) == 32)
    // the decade corpus (~175 MB) dictates >= 64 — the committed dd20
    // under-partitioning fix — at any bench core count
    assert(GraftSession.initialPartitions(4, 175L << 20) == 88)
    assert(GraftSession.initialPartitions(32, 175L << 20) == 88)
    // partial trailing block rounds UP (ceil, not div)
    assert(GraftSession.initialPartitions(4, 64 * MB2 + 1) == 65)
    // monotone in bytes across the floor boundary
    val seq = Seq(0L, MB2, 64 * MB2, 65 * MB2, 1L << 40)
      .map(GraftSession.initialPartitions(4, _))
    assert(seq == seq.sorted)
    // the 1M cap bounds scheduler metadata on degenerate inputs
    assert(GraftSession.initialPartitions(4, 100L << 40) == 1000000)
  }

  test("heavy-list invariant: the bench sf1 probe scales never run " +
      "under-partitioned vs the bytes/2MB dictate") {
    // the exact derivation graft.tools.Sf1Probe applies per scale dir —
    // for every dir size and core count the policy may be invoked with,
    // the dictate holds (up to the 1M cap)
    for (cores <- Seq(4, 32); bytes <- Seq(0L, 200L << 20, 2L << 30)) {
      val p = GraftSession.initialPartitions(cores, bytes)
      assert(p >= ((bytes + MB2 - 1) / MB2).min(1000000L),
        s"cores=$cores bytes=$bytes under-partitioned: $p")
      assert(p >= cores)
    }
  }

  test("scratchDir: env override wins, empty opts out, tmpfs default") {
    // cannot mutate env in-process: assert the no-env branch against the
    // host's real /dev/shm state (writable on every sandbox this runs
    // on), including the round-19 free-space floor
    val shm = java.nio.file.Paths.get("/dev/shm")
    val expected =
      if (java.nio.file.Files.isDirectory(shm)
          && java.nio.file.Files.isWritable(shm)
          && java.nio.file.Files.getFileStore(shm).getUsableSpace
               >= GraftSession.tmpfsFloorBytes)
        Some("/dev/shm/graft-spark-local")
      else None
    assert(GraftSession.scratchDir == expected)
    // withEngineDefaults is a no-op builder pass-through when unset — pinned
    // indirectly: the session this suite runs on was built through it
    assert(TestSpark.spark.sparkContext.getConf
      .getOption("spark.local.dir") == expected)
    // the sort-based shuffle writer is pinned engine-wide (the bypass
    // writer's per-reducer file concat was the measured round-18 lock)
    assert(TestSpark.spark.sparkContext.getConf
      .get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    // cached relations keep their static partitioning: the keyed
    // materializations in Exec depend on it
    assert(TestSpark.spark.conf
      .get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false")
  }

  test("scratchDir free-space floor: a too-small tmpfs falls back to " +
      "Spark's default local dir (VERDICT r18 #3 ENOSPC guard)") {
    val shm = java.nio.file.Paths.get("/dev/shm")
    assume(java.nio.file.Files.isDirectory(shm)
      && java.nio.file.Files.isWritable(shm))
    // a floor above the store's capacity can never be satisfied
    val huge = java.nio.file.Files.getFileStore(shm).getTotalSpace + 1
    assert(GraftSession.scratchDirFor(None, shm, huge).isEmpty)
    // floor 0 always accepts a writable tmpfs
    assert(GraftSession.scratchDirFor(None, shm, 0L)
      == Some(shm.resolve("graft-spark-local").toString))
    // a missing candidate dir falls back regardless of floor
    assert(GraftSession.scratchDirFor(None,
      java.nio.file.Paths.get("/nonexistent-graft"), 0L).isEmpty)
    // explicit override always wins (no floor check — the caller owns it)
    assert(GraftSession.scratchDirFor(Some("/mnt/fast"), shm, huge)
      == Some("/mnt/fast"))
    // empty override opts out entirely
    assert(GraftSession.scratchDirFor(Some(""), shm, 0L).isEmpty)
  }

  test("dirBytes sums regular files recursively; missing dir is 0") {
    val d = java.nio.file.Files.createTempDirectory("graftsess")
    java.nio.file.Files.write(d.resolve("a.bin"), new Array[Byte](1000))
    val sub = java.nio.file.Files.createDirectories(d.resolve("sub"))
    java.nio.file.Files.write(sub.resolve("b.bin"), new Array[Byte](234))
    assert(GraftSession.dirBytes(d.toString) == 1234L)
    assert(GraftSession.dirBytes(d.resolve("nope").toString) == 0L)
  }

  test("GraftSession.local wires the derived value into the session conf") {
    // getOrCreate against the shared test session still APPLIES builder
    // SQL confs to it — assert the wiring, then restore the suite conf
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val s = TestSpark.spark
    val before = s.conf.getOption(key)
    try {
      val applied = GraftSession.local(cores = 4, inputBytes = 100L << 30)
      assert(applied.conf.get(key) == "51200")
    } finally {
      before match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
  }

  test("submitted: a value the submission sets wins over the engine default") {
    // spark-submit passes --conf values as spark.* system properties;
    // getOrCreate against the shared test session applies SQL confs to it
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    System.setProperty(key, "true")
    try assert(GraftSession.submitted().conf.get(key) == "true")
    finally {
      System.clearProperty(key)
      TestSpark.spark.conf.set(key, "false")
    }
  }

  test("GraftSession is the only session builder under src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val files = java.nio.file.Files.walk(root)
    val builders =
      try files.iterator().asScala.toList
        .filter(f => f.toString.endsWith(".scala")
          && f.getFileName.toString != "GraftSession.scala"
          && java.nio.file.Files.readString(f).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).sorted
      finally files.close()
    assert(builders.isEmpty,
      s"build sessions through GraftSession, not SparkSession.builder: $builders")
  }
}
