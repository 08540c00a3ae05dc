package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Scale contract of [[SimilarityOps.semanticNearDupPairs]] (dd13) —
  * the VERDICT r8 #1 fix. Fixed k=4 made the within-cell pair scan
  * O(n²/k); the rework derives the cell count from the corpus size
  * ([[SimilarityOps.scaledCellCount]]) and splits residual dense cells
  * with size-derived sign-plane sub-buckets
  * ([[SimilarityOps.subBucketAxisCount]]). These tests pin:
  *  - the integer k formula and its clamps (the oracle's kp CTE mirror);
  *  - the sub-bucket CASE ladder;
  *  - ~linear candidate-pair growth with corpus size (the dd05
  *    bucket-scaling pattern applied to semantic dedup);
  *  - the pinned per-partition bound: one dense, skewed cell cannot go
  *    quadratic because its own population drives the split;
  *  - the assignment plan: partial (map-side-combinable) argmax before
  *    the exchange, no n×k window shuffle (VERDICT r8 #2).
  */
class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic pseudo-uniform corpus: 8-d vectors, coords in
    * [-1, 1), signs diverse (Knuth-hash jitter — no RNG).
    */
  private def corpus(n: Int) =
    (0 until n).map { i =>
      (i.toLong, (0 until 8).map { d =>
        (((i * 2654435761L + d * 40503L) % 1000L) / 500.0f) - 1.0f
      })
    }.toDF("id", "vec")

  private def trainedCentroids(df: org.apache.spark.sql.DataFrame, k: Int) =
    SimilarityOps.kmeansFit(df, "id", "vec", k = k, iters = 1)
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("cvec"))

  test("scaledCellCount clamps to [4, 4096] and tracks ceil(n/target)") {
    import SimilarityOps.scaledCellCount
    assert(scaledCellCount(0) == 4 && scaledCellCount(256) == 4)
    assert(scaledCellCount(500) == 8)   // ceil(500/64)
    assert(scaledCellCount(2000) == 32) // ceil(2000/64)
    assert(scaledCellCount(Long.MaxValue / 4) == 4096) // broadcast cap
    val ks = Seq(1L, 1000L, 100000L, 10000000L).map(scaledCellCount(_))
    assert(ks == ks.sorted)
  }

  test("subBucketAxisCount ladder: 0 at target, +1 per doubling, capped") {
    val sizes = Seq(1L, 64L, 65L, 128L, 129L, 4096L, 1000000L).toDF("cn")
    val got = sizes
      .select(SimilarityOps.subBucketAxisCount(col("cn"), 64, 8).as("a"))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 0, 1, 1, 2, 6, 8), s"ladder: $got")
  }

  test("candidate pairs grow ~linearly with corpus size (4x data, not 16x pairs)") {
    val n1 = 1024; val n2 = 4 * n1
    val s1 = SimilarityOps.semanticNearDupPairsWithStats(
      corpus(n1), "id", "vec",
      trainedCentroids(corpus(n1), SimilarityOps.scaledCellCount(n1)),
      threshold = 0.5)._2
    val s2 = SimilarityOps.semanticNearDupPairsWithStats(
      corpus(n2), "id", "vec",
      trainedCentroids(corpus(n2), SimilarityOps.scaledCellCount(n2)),
      threshold = 0.5)._2
    val (p1, p2, max2) = (s1.candidatePairs, s2.candidatePairs, s2.maxPartitionRows)
    assert(p1 > 0, "probe corpus produced no candidates — not probing anything")
    // quadratic would be ~16x for 4x data; linear is 4x. 8x = generous
    // slack for cluster-shape drift between the two corpora.
    assert(p2 <= 8L * p1, s"pair growth ${p2.toDouble / p1}x for 4x data (p1=$p1 p2=$p2)")
    // the pinned partition bound: no (cell, sub-bucket) group far above
    // the ~64-row target (16x slack absorbs cluster skew)
    assert(max2 <= 1024, s"largest pair-scan partition $max2")
  }

  test("one dense skewed cell is split by its own size — never quadratic") {
    // every vector is near one direction (coord 0 = 10) so cells collapse;
    // coords 1..7 carry sign-diverse jitter the sub-bucket split keys on
    val n = 2048
    val df = (0 until n).map { i =>
      (i.toLong, Seq(10.0f) ++ (1 until 8).map { d =>
        (((i * 2654435761L + d * 40503L) % 1000L) / 500.0f) - 1.0f
      })
    }.toDF("id", "vec")
    val stats = SimilarityOps.semanticNearDupPairsWithStats(
      df, "id", "vec",
      trainedCentroids(df, SimilarityOps.scaledCellCount(n.toLong)),
      threshold = 0.5)._2
    val (pairs, maxPart) = (stats.candidatePairs, stats.maxPartitionRows)
    val allPairs = n.toLong * (n - 1) / 2
    assert(pairs < allPairs / 10,
      s"pair scan ~quadratic: $pairs of $allPairs all-pairs")
    assert(maxPart <= 512, s"largest pair-scan partition $maxPart")
  }

  test("sample-trained centroids: training set bounded at samplePerCell × k") {
    // the dd13 shape (VERDICT r9 #3): Lloyd's rounds never touch more
    // than samplePerCell × k vectors, so per-round training compute is
    // bounded — independent of n — and only ONE full-corpus assignment
    // pass runs (inside semanticNearDupPairs)
    val n = 2048
    val k = SimilarityOps.scaledCellCount(n) // 32
    val trainedRows = SimilarityOps
      .kmeansFit(corpus(n), "id", "vec", k = k, iters = 1, samplePerCell = 16)
      .where(col("dim") === 0).agg(sum("n_vectors")).as[Long].head()
    assert(trainedRows == 16L * k,
      s"training touched $trainedRows rows, expected ${16 * k} of $n")
  }

  test("sub-bucket recall probe: dropped near-dup pairs are measured, not invisible") {
    // ADVICE r9: the sign-plane sub-bucket split drops true near-dup
    // pairs that straddle a plane, and the oracle mirrors the same
    // approximation — so the dropped-pair rate must be MEASURED here.
    // Corpus: dense (one dominant direction, cells collapse, split
    // active) with planted near-identical twins (i, i+n): true near-dups
    // whose signs agree except when a jitter coord sits within the
    // nudge of a plane — exactly the straddle case being measured.
    val n = 256
    val base = (0 until n).map { i =>
      (i.toLong, Seq(10.0f) ++ (1 until 8).map { d =>
        (((i * 2654435761L + d * 40503L) % 1000L) / 500.0f) - 1.0f
      })
    }
    val twins = base.map { case (i, v) => (i + n, v.map(x => x + 0.01f)) }
    val df = (base ++ twins).toDF("id", "vec")
    val cents = trainedCentroids(df, SimilarityOps.scaledCellCount(2L * n))
    val thr = 0.999999
    val approx = SimilarityOps.semanticNearDupPairs(df, "id", "vec", cents,
      threshold = thr, roundSim = 6).select("id1", "id2")
    // brute force = the same scorer with a single all-pairs bucket
    val brute = SimilarityOps.embeddingNearDupPairs(df, threshold = thr,
      axes = Some(Seq.empty), roundSim = 6).select("id1", "id2")
    val nBrute = brute.count()
    val hits = approx.join(brute, Seq("id1", "id2")).count()
    assert(nBrute >= n / 2, s"probe corpus planted too few true near-dups: $nBrute")
    val recall = hits.toDouble / nBrute
    info(f"sub-bucket recall at $thr: $recall%.3f ($hits of $nBrute brute pairs)")
    // conservative floor: sign-agreeing twins dominate; a split that
    // started dropping same-sign pairs would crash through this
    assert(recall >= 0.5, f"sub-bucket split dropped too many true pairs: $recall%.3f")
  }

  test("assignment partial-aggregates before the exchange (no n×k window shuffle)") {
    val df = corpus(256)
    val cents = trainedCentroids(df, 4)
    val plan = SimilarityOps.assignToCentroids(df, "id", "vec", cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by"),
      s"no partial max_by aggregation in plan:\n$plan")
    assert(!plan.contains("Window"),
      s"window (full n×k shuffle) back in the assignment plan:\n$plan")
  }

  test("semanticContaminated flags a planted twin; output ⊆ brute-force truth") {
    // eval ids are multiples of 11; plant train 23 as an exact copy of
    // eval 22 — it must surface with max_sim 1.0. The linear-congruent
    // corpus is deliberately self-similar (vectors are small constant
    // shifts of each other), so OTHER train ids legitimately clear a
    // 0.999 threshold too; the contract checked here is the IVF one:
    // every flagged id is a true contamination (no false positives,
    // sims exact), and the exact-copy plant is never missed.
    val base = corpus(256)
    val evalVec = base.where(col("id") === 22).select("vec")
      .as[Seq[Float]].head()
    val planted = base.where(col("id") =!= 23)
      .unionByName(Seq((23L, evalVec)).toDF("id", "vec"))
    val cents = trainedCentroids(planted, 8)
    val out = SimilarityOps.semanticContaminated(planted, "id", "vec",
        col("id") % 11 === 0, cents, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.contains(23L), s"planted twin not flagged: ${out.keySet}")
    assert(out(23L)._2 == 1.0, s"twin max_sim ${out(23L)._2} != 1.0")
    // brute-force truth: rounded cosine vs EVERY eval, same 6-dp rounding
    val rows = planted.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val evalIds = rows.keySet.filter(_ % 11 == 0)
    val truth = (rows.keySet -- evalIds).flatMap { t =>
      val sims = evalIds.toSeq.map(e => cos(rows(t), rows(e))).filter(_ >= 0.999)
      if (sims.isEmpty) None else Some(t -> (sims.size.toLong, sims.max))
    }.toMap
    val falsePos = out.keySet -- truth.keySet
    assert(falsePos.isEmpty, s"false positives: $falsePos")
    // flagged sims must be exact (max_sim ≤ the true max; equality when
    // the top eval's cell was probed), and counts can only undercount
    out.foreach { case (id, (nEvals, maxSim)) =>
      assert(maxSim <= truth(id)._2 + 1e-9 && nEvals <= truth(id)._1,
        s"id $id: got ($nEvals, $maxSim) vs truth ${truth(id)}")
    }
    // with k=8 cells over 256 rows and nProbe=2, the probe must not be
    // degenerate: the overwhelming majority of true contaminations hit
    assert(out.size * 10 >= truth.size * 8,
      s"recall collapse: ${out.size}/${truth.size} flagged")
  }

  test("semanticContaminated: empty eval side yields empty output, not a crash") {
    val df = corpus(128)
    val cents = trainedCentroids(df, 4)
    val out = SimilarityOps.semanticContaminated(df, "id", "vec",
        lit(false), cents, threshold = 0.5)
    assert(out.count() == 0)
  }

  test("incrementalSemanticNearDup: new×history only — planted twins found, batch×batch unscored") {
    val hist = corpus(256)
    val vecOf = hist.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // batch: two copies of history vec 3 (ALSO an identical batch-internal
    // pair) and one copy of history vec 7
    val batch = Seq(
      (1000L, vecOf(3L)), (1001L, vecOf(3L)), (1002L, vecOf(7L)))
      .toDF("id", "vec")
    val cents = trainedCentroids(hist, 8)
    val out = SimilarityOps.incrementalSemanticNearDup(batch, hist,
        "id", "vec", cents, threshold = 0.999999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the dd18 contract: every pair is batch-side new_id × history-side
    // existing_id — the identical (1000, 1001) batch pair must NOT appear
    assert(out.forall { case (n, e, _) => n >= 1000L && e < 256L },
      s"non-cross pair leaked: ${out.mkString(", ")}")
    val found = out.collect { case (n, e, s) if s == 1.0 => (n, e) }.toSet
    assert(Set((1000L, 3L), (1001L, 3L), (1002L, 7L)).subsetOf(found),
      s"planted twins missing: $found")
  }

  test("incrementalSemanticNearDup scans buckets, not batch×history (O(batch) daily cost)") {
    // threshold = -1 keeps EVERY scored candidate, so the output count IS
    // the pair-scan volume. Bucket-bounded candidates must sit far below
    // the batch × history cross product a full re-scan would touch.
    val hn = 1024; val bn = 128
    val hist = corpus(hn)
    val batch = (0 until bn).map { i =>
      (10000L + i, (0 until 8).map { d =>
        (((i * 48271L + d * 69621L) % 1000L) / 500.0f) - 1.0f
      })
    }.toDF("id", "vec")
    val cents = trainedCentroids(hist, SimilarityOps.scaledCellCount(hn))
    val scanned = SimilarityOps.incrementalSemanticNearDup(batch, hist,
      "id", "vec", cents, threshold = -1.0).count()
    assert(scanned > 0, "probe batch hit no history bucket — not probing anything")
    assert(scanned < hn.toLong * bn / 4,
      s"pair scan $scanned ≈ batch×history (${hn.toLong * bn}) — not bucket-bounded")
  }

  test("incrementalSemanticNearDup: empty history yields empty output, not a crash") {
    val hist = corpus(64).where(lit(false))
    val batch = corpus(16)
    val cents = trainedCentroids(corpus(64), 4)
    assert(SimilarityOps.incrementalSemanticNearDup(batch, hist,
      "id", "vec", cents, threshold = 0.5).count() == 0)
  }

  // ---- multi-probe assignment (dd28's recall lever, VERDICT r15 #6) ----

  test("assignTopCells matches the row_number() reference (top-2 cells, same tie-break)") {
    import org.apache.spark.sql.expressions.Window
    val df = corpus(256)
    val cents = trainedCentroids(df, 8)
    val got = SimilarityOps.assignTopCells(df, "id", "vec", cents, nProbe = 2)
      .select(col("id"), col("cell"), col("probe").cast("int").as("probe"))
    val ref = df
      .select(col("id"), col("vec").cast("array<double>").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", round(SimilarityOps.cosine(col("v"), col("cvec")), 6))
      .withColumn("probe", row_number().over(Window.partitionBy("id")
        .orderBy(col("sim").desc, col("cell").asc)))
      .where(col("probe") <= 2)
      .select(col("id"), col("cell"), col("probe"))
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    assert(got.count() == 512) // every vector probes exactly 2 cells
  }

  test("assignTopCells caps probes at the centroid count") {
    val df = corpus(32)
    val cents = trainedCentroids(df, 2) // k may collapse below 2 — read it
    val k = cents.count()
    val got = SimilarityOps.assignTopCells(df, "id", "vec", cents, nProbe = 4)
    assert(got.count() == 32 * math.min(4L, k))
  }

  test("semanticNearDupPairs(probes=2) is a superset of probes=1 with deduped pairs") {
    val df = corpus(512)
    val cents = trainedCentroids(df, SimilarityOps.scaledCellCount(512))
    val p1 = SimilarityOps.semanticNearDupPairs(df, "id", "vec", cents,
      threshold = 0.5, probes = 1).select("id1", "id2")
    val p2 = SimilarityOps.semanticNearDupPairs(df, "id", "vec", cents,
      threshold = 0.5, probes = 2).select("id1", "id2")
    assert(p1.exceptAll(p2).count() == 0,
      "multi-probe lost pairs the single-probe scan found")
    assert(p2.count() >= p1.count())
    // no duplicate (id1, id2) rows despite pairs sharing two probed cells
    assert(p2.count() == p2.distinct().count())
  }

  test("semanticNearDupPairs runs one query fewer than semanticNearDupPairsWithStats") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val df = corpus(512)
    val cents = trainedCentroids(df, SimilarityOps.scaledCellCount(512))
    cents.collect() // trains outside the counted groups
    // job group -> (job count, SQL execution ids); adaptive execution
    // starts one job per shuffle stage, so one eager query is one
    // execution id but several jobs
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Int, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            val ex = String.valueOf(e.properties.getProperty("spark.sql.execution.id"))
            seen.merge(g, (1, Set(ex)), (a, b) => (a._1 + b._1, a._2 ++ b._2))
          }
    }
    sc.addSparkListener(listener)
    // the jobs a call starts while building its frame
    def jobs(tag: String)(call: => Any): (Int, Int) = {
      val group = s"semdedup-$tag-${System.nanoTime()}"
      val marker = s"$group-marker"
      sc.setJobGroup(group, tag)
      try call finally sc.clearJobGroup()
      // one listener sees job events in order: once a later marker job
      // is visible, every job the call started is too
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.containsKey(marker))
      Option(seen.get(group)).fold((0, 0))(v => (v._1, v._2.size))
    }
    // the two inputs differ only in a no-op filter, so neither call
    // reads the other's cached assignment table
    try {
      val (plainJobs, plainQueries) = jobs("plain")(SimilarityOps
        .semanticNearDupPairs(df.where(col("id") > -1L), "id", "vec", cents,
          threshold = 0.5))
      val (statsJobs, statsQueries) = jobs("stats")(SimilarityOps
        .semanticNearDupPairsWithStats(df.where(col("id") > -2L), "id", "vec",
          cents, threshold = 0.5))
      info(s"jobs: plain $plainJobs, with stats $statsJobs")
      assert(plainQueries == statsQueries - 1,
        s"queries: plain $plainQueries, with stats $statsQueries")
      assert(plainJobs < statsJobs)
    } finally sc.removeSparkListener(listener)
  }
}
