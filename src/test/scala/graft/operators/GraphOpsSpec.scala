package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** [[GraphOps.triangleCounts]]: the degree-oriented wedge closure must
  * equal a brute-force triangle enumeration on a random graph (every
  * triangle counted exactly once, per corner), and nodes outside any
  * triangle must not appear.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deterministic pseudo-random edge set over `n` nodes: edge (u, v)
    * present iff a multiplicative hash of the pair clears a threshold.
    * Dense enough (p ≈ 0.15) that triangles are plentiful.
    */
  private def randomEdges(n: Int): Seq[(Long, Long)] =
    for {
      u <- 0 until n; v <- (u + 1) until n
      if math.abs((u * 2654435761L + v * 40503L) % 100) < 15
    } yield (u.toLong, v.toLong)

  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.toSet
    def has(a: Long, b: Long) = es.contains((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val tris = for {
      i <- nodes; j <- nodes if j > i && has(i, j)
      k <- nodes if k > j && has(i, k) && has(j, k)
    } yield (i, j, k)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  test("triangleCounts matches brute force on a random graph") {
    import spark.implicits._
    val edges = randomEdges(40)
    val expected = bruteTriangles(edges)
    assert(expected.nonEmpty, "fixture must contain triangles")
    val got = GraphOps.triangleCounts(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.view.mapValues(_._2).toMap === expected)
    // degree column is the undirected degree
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    got.foreach { case (node, (d, _)) => assert(d === deg(node)) }
  }

  test("planted triangle plus a pendant node: only the triangle reports") {
    import spark.implicits._
    // 1-2-3 triangle, node 9 hangs off node 1, 7-8 isolated edge
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 9L), (7L, 8L))
    val got = GraphOps.triangleCounts(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 3L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("triangle-free graph yields no rows") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)) // no closure
    assert(GraphOps.triangleCounts(star.toDF("u", "v"), "u", "v").count() === 0L)
  }

  test("celebrity node: oriented wedge fan-out stays bounded") {
    import spark.implicits._
    // hub 0 connected to 200 spokes + one triangle among spokes.
    // Naive wedge enumeration at the hub would emit 200*199/2 pairs;
    // degree orientation points every hub edge AWAY from the spokes
    // (hub degree 200 > spoke degree <= 3), so the hub has outdeg 0 and
    // contributes no wedges at all — the count is still exact.
    val edges = (4 to 203).map(i => (0L, i.toLong)) ++ Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val got = GraphOps.triangleCounts(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def distances(edges: Seq[(Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Int] = {
    import spark.implicits._
    GraphOps.boundedDistances(edges.toDF("u", "v"), "u", "v",
        seeds.toDF("k"), "k", rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("boundedDistances: path graph BFS depths, walk stops at the bound") {
    // path 1-2-3-4-5-6, seed at 1, 3 rounds: node 4 at dist 3 is the
    // last one reached; nodes 5 (dist 4) and 6 (dist 5) are absent
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(distances(path, Seq(1L), 3) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("boundedDistances: multi-source min distance, undirected edges") {
    // path 1-2-3-4-5, seeds at BOTH ends: middle node 3 is dist 2 from
    // each, everything else dist <= 1 — the min-over-seeds contract
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(distances(path, Seq(1L, 5L), 3) ===
      Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("boundedDistances: a cycle re-reaches visited nodes without inflating distance") {
    // 4-cycle 1-2-3-4-1 seeded at 1: nodes 2 and 4 at dist 1, node 3
    // reached twice at round 2 (via 2 and via 4) but reported once
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(distances(cyc, Seq(1L), 3) ===
      Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  private def cheapest(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.boundedCheapestPaths(edges.toDF("u", "v", "c"), "u", "v", "c",
        seeds.toDF("k"), "k", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("boundedCheapestPaths: a longer-hop cheaper path overtakes first reach") {
    // seed 1; direct edge 1-3 costs 10, detour 1-2-3 costs 1+1=2.
    // Round 1 reaches 3 at cost 10; round 2 must IMPROVE it to 2 —
    // the whole-table relaxation BFS's visited-pruning would miss.
    val g = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L))
    assert(cheapest(g, Seq(1L), 1) === Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
    assert(cheapest(g, Seq(1L), 2) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("boundedCheapestPaths: r rounds = cheapest over paths of <= r edges") {
    // path 1 -2-> 2 -2-> 3 -2-> 4 plus shortcut 1-4 cost 7: within 2
    // rounds only the shortcut reaches 4 (7); 3 rounds relax to 6
    val g = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L), (1L, 4L, 7L))
    assert(cheapest(g, Seq(1L), 2) ===
      Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 7L))
    assert(cheapest(g, Seq(1L), 3) ===
      Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L))
  }

  test("boundedCheapestPaths: multi-source takes the nearer seed, undirected") {
    // path 1 -5-> 2 -5-> 3 -1-> 4, seeds {1, 4}: node 3 is cost 1 via
    // seed 4 (edge walked against its input direction), not 10 via 1
    val g = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 1L))
    assert(cheapest(g, Seq(1L, 4L), 3) ===
      Map(1L -> 0L, 4L -> 0L, 2L -> 5L, 3L -> 1L))
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.labelPropagation(edges.toDF("u", "v"), "u", "v", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("labelPropagation: two triangles joined by a bridge separate into two communities") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    // hand-simulated synchronous rounds with min-label ties (see the
    // scaladoc's determinism contract): after 3 rounds the left
    // triangle agrees on 1 and the right on 3 (the bridge label that
    // propagated in — community MEMBERSHIP is the contract, the label
    // value is whatever the dynamics carry)
    assert(lpa(g, 3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: one round on a star adopts the hub's label") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    // leaves see only the hub (label 1); the hub sees {2,3,4}, each
    // once -> tie -> min = 2
    assert(lpa(g, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("kCore: a tail peels round by round while the cycle core survives") {
    import spark.implicits._
    // square core {1,2,3,4} + a path tail 4-5-6: round 1 drops 6
    // (deg 1), round 2 drops 5 (its degree fell to 1), round 3 is a
    // fixpoint — the 2-core is exactly the square, every member deg 2
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("u", "v")
    def core(rounds: Int): Map[Long, Long] =
      GraphOps.kCore(g, "u", "v", k = 2, rounds = rounds)
        .as[(Long, Long)].collect().toMap
    assert(core(1) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 5L -> 1L))
    assert(core(2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    assert(core(3) === core(2), "round 3 must be a fixpoint")
  }

  test("kCore: a graph below k everywhere peels to empty") {
    import spark.implicits._
    val g = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
    assert(GraphOps.kCore(g, "u", "v", k = 2, rounds = 2).count() == 0)
  }

  test("hits: one round reproduces the hand-computed integer trace") {
    import spark.implicits._
    // hubs {1,2,3} -> auths {10,11,12}: 1->{10,11}, 2->{10}, 3->{11,12}
    val g = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
      .toDF("src", "dst")
    val got = GraphOps.hits(g, "src", "dst", rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // init = 10^12 div 3 = 333333333333
    // a_raw: 10 -> 666666666666, 11 -> 666666666666, 12 -> 333333333333
    //   sum = 1666666666665 -> q = 1 -> a = raw
    // h_raw: 1 -> 1333333333332, 2 -> 666666666666, 3 -> 999999999999
    //   sum = 2999999999997 -> q = 2 -> h = raw div 2
    assert(got(("auth", 10L)) == 666666666666L)
    assert(got(("auth", 11L)) == 666666666666L)
    assert(got(("auth", 12L)) == 333333333333L)
    assert(got(("hub", 1L)) == 666666666666L)
    assert(got(("hub", 2L)) == 333333333333L)
    assert(got(("hub", 3L)) == 499999999999L)
  }

  test("hits: duplicate edges collapse; sides partition src/dst; mass stays ~10^12") {
    import spark.implicits._
    val g = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L), (1L, 11L))
      .toDF("src", "dst")
    val rows = GraphOps.hits(g, "src", "dst", rounds = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.filter(_._1 == "hub").map(_._2).toSet == Set(1L, 2L))
    assert(rows.filter(_._1 == "auth").map(_._2).toSet == Set(10L, 11L))
    // symmetric graph: both hubs (and both auths) end equal, and each
    // side's renormalized mass stays within one quotient step of 10^12
    val hubs = rows.filter(_._1 == "hub").map(_._3)
    assert(hubs.distinct.length == 1)
    Seq("hub", "auth").foreach { side =>
      val s = rows.filter(_._1 == side).map(_._3).sum
      assert(s > 500000000000L && s <= 2000000000000L, s"$side mass $s")
    }
  }

  /** Driver-side replay of [[GraphOps.intPageRank]]'s Long recurrence. */
  private def replayIntPageRank(edges: Seq[(Long, Long, Long)],
      nodes: Seq[(Long, Boolean)], rounds: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
    val init = 1000000000000L / math.max(1, nodes.count(_._2))
    var pr = nodes.map { case (n, t) => n -> (if (t) init else 0L) }.toMap
    for (_ <- 1 to rounds) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) => pr(src) * w / deg(src) }.sum
      }
      pr = nodes.map { case (n, t) =>
        n -> ((if (t) 15L * init / 100L else 0L) + 85L * contrib.getOrElse(n, 0L) / 100L)
      }.toMap
    }
    pr
  }

  test("intPageRank matches a driver-side replay of the integer recurrence") {
    import spark.implicits._
    val rnd = new scala.util.Random(68)
    val n = 30
    // ~3 out-edges per node, no self-loops; some nodes end up dangling
    val arcs = (0 until 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (s, d) => s != d }.distinct
    val weights = arcs.map(_ => 1L + rnd.nextInt(9))
    val allTeleport = (0 until n).map(i => (i.toLong, true))
    val cases = Seq(
      ("all-teleport, unit weights", arcs.map { case (s, d) => (s, d, 1L) }, allTeleport),
      ("seeded teleport", arcs.map { case (s, d) => (s, d, 1L) },
        (0 until n).map(i => (i.toLong, i % 7 == 0))),
      ("weighted edges", arcs.zip(weights).map { case ((s, d), w) => (s, d, w) },
        allTeleport))
    for ((name, edges, nodes) <- cases) {
      val deg = edges.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
      val edgesDeg = edges.map { case (s, d, w) => (s, d, w, deg(s)) }
        .toDF("src", "dst", "w", "deg")
      val got = GraphOps.intPageRank(edgesDeg, nodes.toDF("node", "teleport"), rounds = 4)
        .as[(Long, Long)].collect()
      assert(got.length == n, name)
      assert(got.toMap == replayIntPageRank(edges, nodes, 4), name)
    }
  }
}
