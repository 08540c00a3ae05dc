package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ExecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals a plain inner join, including skewed keys") {
    // 1000 rows on one hot key + a tail
    val skewed = ((1 to 1000).map(i => ("hot", i.toLong)) ++
      (1 to 50).map(i => (s"k$i", i.toLong))).toDF("key", "row_id")
    val small = (Seq(("hot", "H")) ++ (1 to 50).map(i => (s"k$i", s"V$i")))
      .toDF("key", "payload")
    val plain = skewed.join(small, Seq("key"))
      .select("key", "row_id", "payload").as[(String, Long, String)].collect().toSet
    val salted = Exec.saltedJoin(skewed, small, "key", "row_id", saltFactor = 4)
      .select("key", "row_id", "payload").as[(String, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.size == 1050)
  }

  test("materializeLarge persists DISK_ONLY with lineage kept") {
    import org.apache.spark.storage.StorageLevel
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("id", "v")
    val out = Exec.materializeLarge(df)
    try {
      // DISK_ONLY: no executor-heap pinning for O(corpus) tables; persist
      // (not localCheckpoint) keeps lineage so a lost block recomputes
      // instead of failing the job (VERDICT r7 #2)
      assert(out.storageLevel == StorageLevel.DISK_ONLY)
      assert(out.count() == 100)
      // the analyzed plan still carries the source, i.e. lineage is intact
      // (a localCheckpoint plan would be a bare LogicalRDD)
      assert(out.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.isDefined)
    } finally out.unpersist()
  }

  test("corpus-sized materializations are DISK_ONLY, not localCheckpoint") {
    // every catalog query whose materialized table holds O(corpus) bytes
    // (exploded tokens/shingles, shingle sets, full text, vector copies);
    // fixed-width derived tables (simhash blocks, band keys, PQ codes)
    // and iterative loops (dd06/q68 — lineage cut is the point) stay on
    // localCheckpoint, which plans as LogicalRDD, not InMemoryRelation
    import org.apache.spark.storage.StorageLevel
    val sfDir = "/root/testdata/sf0.001"
    for (q <- Seq("tx06_tfidf", "dp09_decontam", "tx08_commonness",
        "dd04_ngram_jaccard", "dd05_embed_neardup", "dd11_containment",
        "ann04_ivf", "dd12_substring_spans")) {
      val qe = graft.queries.Catalog.all.find(_.name == q).get
        .fn(spark, sfDir).queryExecution
      val cached = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.nonEmpty, s"$q: expected a persisted corpus-derived table")
      cached.foreach { r =>
        assert(r.cacheBuilder.storageLevel == StorageLevel.DISK_ONLY,
          s"$q: corpus-sized cache must be DISK_ONLY, was ${r.cacheBuilder.storageLevel}")
      }
    }
  }

  test("releaseMaterialized frees checkpoint blocks; derived plans are a no-op") {
    val handle = Exec.materializeForSelfJoin(
      (1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val rddId = handle.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case p => fail(s"expected a LogicalRDD handle, got ${p.getClass}")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint should pin blocks in executor storage")
    // a view DERIVED from the handle must never release the handle's
    // blocks through releaseMaterialized — only the handle itself may
    Exec.releaseMaterialized(handle.select("id"))
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "releasing a derived plan must not unpersist the upstream handle")
    Exec.releaseMaterialized(handle)
    // unpersist is async (blocking=false); poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.contains(rddId) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "releasing the handle itself should free its blocks")
  }

  test("iterative loops do not accumulate superseded checkpoints") {
    // run the heaviest loop operator (5 pagerank rounds via the catalog)
    // and assert the persistent-RDD census returns to near its starting
    // point: the loop releases each superseded round instead of pinning
    // every round until session end
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.queries.Catalog.all.find(_.name == "q68_pagerank").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    val deadline = System.currentTimeMillis() + 10000
    def now = spark.sparkContext.getPersistentRDDs.size
    while (now > before + 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    // live at exit: nodes, edgesDeg and the final ranks (edges and the
    // 4 superseded rank rounds are released; round 0 is a projection
    // over nodes, so Exec.iterate's release of it is a no-op)
    assert(now <= before + 4,
      s"q68 left ${now - before} pinned RDDs; loop rounds are leaking")
  }

  private def rddIdOf(handle: org.apache.spark.sql.DataFrame): Int =
    handle.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case p => fail(s"expected a LogicalRDD handle, got ${p.getClass}")
    }

  /** The persistent RDDs pinned since `before`, polled until `n` are
    * left: releases are async (blocking = false), and RDDs released by
    * earlier tests may still be leaving `before`, so only new ids count. */
  private def pinnedSince(before: Set[Int], n: Int): Set[Int] = {
    def added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.currentTimeMillis() + 10000
    while (added.size != n && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    added
  }

  private def addRound(state: org.apache.spark.sql.DataFrame, r: Int) = {
    import org.apache.spark.sql.functions._
    state.select(col("id"), (col("v") + r).as("v"))
  }

  test("iterate: after k rounds only the returned handle stays pinned") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val init = Exec.materializeForSelfJoin(
      (1 to 50).map(i => (i.toLong, 0L)).toDF("id", "v"))
    val out = Exec.iterate(init, 4)(addRound)
    assert(pinnedSince(before, 1) == Set(rddIdOf(out)),
      "init and the 3 superseded rounds must be released")
    // round r adds r: 1 + 2 + 3 + 4
    assert(out.as[(Long, Long)].collect().toSet ==
      (1 to 50).map(i => (i.toLong, 10L)).toSet)
    Exec.releaseMaterialized(out)
  }

  test("iterate: rounds = 0 returns init and releases nothing") {
    val init = Exec.materializeForSelfJoin((1 to 10).map(i => (i.toLong, 0L)).toDF("id", "v"))
    val id = rddIdOf(init)
    val out = Exec.iterate(init, 0)((_, _) => fail("step must not run"))
    assert(out eq init)
    Thread.sleep(200)
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Exec.releaseMaterialized(init)
  }

  test("iterate: an init derived from a caller's handle leaves the handle pinned") {
    import org.apache.spark.sql.functions._
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val handle = Exec.materializeForSelfJoin((1 to 20).map(_.toLong).toDF("id"))
    val out = Exec.iterate(handle.select(col("id"), lit(0L).as("v")), 2)(addRound)
    // handle + the final round; round 1 is released
    assert(pinnedSince(before, 2) == Set(rddIdOf(handle), rddIdOf(out)),
      "a view derived from the caller's handle must not release it")
    assert(handle.count() == 20)
    assert(out.where(col("v") =!= 3L).count() == 0)
    Exec.releaseMaterialized(out)
    Exec.releaseMaterialized(handle)
  }

  private def zeros(n: Int) = Exec.materializeForSelfJoin(
    (1 to n).map(i => (i.toLong, 0L)).toDF("id", "v"))

  test("iterateAll: after k rounds of a two-frame state only the returned frames stay pinned") {
    import org.apache.spark.sql.functions._
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Exec.iterateAll(Seq(zeros(50), zeros(50)), 3) { (s, r) =>
      // the second frame derives from the first, as kmeans' centroids
      // derive from its M-step
      val a = Exec.materializeForSelfJoin(addRound(s.head, r))
      Seq(a, Exec.materializeForSelfJoin(addRound(a, r)))
    }
    assert(pinnedSince(before, 2) == out.map(rddIdOf).toSet,
      "both init frames and both superseded states must be released")
    // a = 1 + 2 + 3; b = a + 3
    assert(out.head.where(col("v") =!= 6L).count() == 0)
    assert(out(1).where(col("v") =!= 9L).count() == 0)
    out.foreach(Exec.releaseMaterialized)
  }

  test("iterateAll: a frame the step carries over unchanged is not released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val fixed = zeros(10)
    val out = Exec.iterateAll(Seq(zeros(10), fixed), 3)((s, r) =>
      Seq(Exec.materializeForSelfJoin(addRound(s.head, r)), s(1)))
    assert(out(1) eq fixed)
    assert(pinnedSince(before, 2) == Set(rddIdOf(out.head), rddIdOf(fixed)))
    assert(fixed.count() == 10)
    out.foreach(Exec.releaseMaterialized)
  }

  test("iterateAll: rounds = 0 returns init and never calls the step") {
    val init = Seq(zeros(10), zeros(10))
    val out = Exec.iterateAll(init, 0)((_, _) => fail("step must not run"))
    assert(out eq init)
    Thread.sleep(200)
    assert(init.map(rddIdOf).forall(spark.sparkContext.getPersistentRDDs.contains))
    init.foreach(Exec.releaseMaterialized)
  }

  test("loop operators leave pinned only the handles their answer reads") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // the persistent RDDs a call adds, once its answer has been read
    // (a released handle the answer still needs fails the collect);
    // they are unpersisted afterwards so the next call starts clean
    def pinnedBy(n: Int)(call: => DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = call
      val added = pinnedSince(before, n)
      out.collect()
      added.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      added.size
    }
    val hubs = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
      .toDF("src", "dst")
    val points = Seq((1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)), (3L, Seq(5f, 0f)),
      (4L, Seq(0f, 1f)), (5L, Seq(9f, 0f))).toDF("vec_id", "embedding")
    val docs = Seq((1L, "abab ab abab"), (2L, "ab cd")).toDF("doc_id", "text")
    val corpus = Seq((0L, Seq(1.0, 0.05)), (1L, Seq(0.9, 0.1)),
      (10L, Seq(0.55, 0.84)), (20L, Seq(0.3, 0.95))).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cvec")
    val knn = Seq((0L, 1L), (1L, 10L), (10L, 20L)).toDF("query_id", "neighbor_id")
    val counts = Map(
      "hits" -> pinnedBy(2)(GraphOps.hits(hubs, "src", "dst", rounds = 2)),
      "kCenterCoreset" -> pinnedBy(1)(
        SimilarityOps.kCenterCoreset(points, "vec_id", "embedding", k = 3)),
      "unigramFit" -> pinnedBy(1)(
        UnigramOps.unigramFit(docs, "text", maxLen = 4, minCount = 2, rounds = 2)),
      "graphAnnSearchByDepth" -> pinnedBy(1)(
        SimilarityOps.graphAnnSearchByDepth(corpus, "id", "vec", cents, knn,
          col("id") === 0, k = 3, nProbe = 1, maxRounds = 2)),
      "bpeMerges" -> pinnedBy(1)(
        BpeOps.bpeMerges(Seq("aab aab aab ab ab").toDF("text"), "text", rounds = 2)),
      "encodedTokenCounts" -> pinnedBy(1)(
        BpeOps.encodedTokenCounts(docs, "doc_id", "text", rounds = 2)),
      "encodeRoundTrip" -> pinnedBy(1)(
        BpeOps.encodeRoundTrip(docs, "text", rounds = 2)))
    assert(counts == Map("hits" -> 2, "kCenterCoreset" -> 1, "unigramFit" -> 1,
      "graphAnnSearchByDepth" -> 1, "bpeMerges" -> 1, "encodedTokenCounts" -> 1,
      "encodeRoundTrip" -> 1),
      s"pinned handles per operator: $counts")
  }

  test("materializeForSelfJoinBy: small tables stay a plain checkpoint; " +
      "forced keying co-partitions the same-keyed join (round 19)") {
    import org.apache.spark.sql.functions._
    val df = (1 to 5000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    // default threshold: a KB-scale table must come back as the plain
    // localCheckpoint (LogicalRDD root), not a cached keyed copy
    val small = Exec.materializeForSelfJoinBy(df, col("k"))
    assert(small.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    Exec.releaseMaterialized(small)
    // threshold 0 forces the keyed path: the handle must expose its hash
    // partitioning so a same-keyed aggregate plans WITHOUT an Exchange,
    // and results must equal the plain path's
    val keyed = Exec.materializeForSelfJoinByThreshold(df, 0L, col("k"))
    assert(keyed.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    val agg = keyed.groupBy("k").agg(sum("v").as("s"))
    agg.collect()
    val finalPlan = agg.queryExecution.executedPlan.toString
    val exchanges = finalPlan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Initial Plan")
        // the keyed build's own shuffle lives INSIDE the InMemoryRelation
        && !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges == 0,
      s"same-keyed aggregate over a keyed handle must not re-shuffle:\n$finalPlan")
    val expect = df.groupBy("k").agg(sum("v").as("s"))
      .as[(Long, Long)].collect().toSet
    val got = keyed.groupBy("k").agg(sum("v").as("s"))
      .as[(Long, Long)].collect().toSet
    assert(got == expect)
    // releaseMaterialized frees the persisted keyed handle too
    Exec.releaseMaterialized(keyed)
    val deadline = System.currentTimeMillis() + 10000
    while (keyed.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(keyed.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }
}
