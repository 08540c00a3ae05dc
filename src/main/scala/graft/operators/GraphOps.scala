package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics: structural measures computed in a
  * fixed number of joins (triangles) and bounded-round iterations
  * (BFS, shortest paths, label propagation, k-core, integer PageRank,
  * HITS) — every loop runs a fixed round count, never a convergence
  * test (dd06's connected components has the one convergence loop).
  */
object GraphOps {

  /** Per-node triangle participation over an undirected simple graph —
    * the clustering-coefficient numerator, and the standard community /
    * spam-structure signal on co-occurrence graphs.
    *
    * Input: DISTINCT undirected edges as `[uCol, vCol]` with u < v (the
    * caller dedups and canonicalizes). Output: `[node, degree, n_tri]`
    * for every node that closes at least one triangle.
    *
    * Algorithm — degree-oriented wedge closure (the MapReduce-classic
    * Suri & Vassilvitskii shape): orient each edge from its
    * lexicographically smaller `(degree, id)` endpoint. The oriented
    * graph is acyclic and every out-degree is O(sqrt(m)) (a node of
    * degree d keeps only neighbors of degree ≥ d, and there can be at
    * most 2m/d of those), so the wedge self-join fans out at most
    * outdeg² ≤ O(m) per node TOTAL — against deg² for the naive
    * orientation, which a single celebrity node turns into n². Each
    * triangle {a,b,c} with π(a) < π(b) < π(c) is counted exactly once:
    * as the wedge (a→b, a→c) closed by the oriented edge b→c.
    *
    * Scale shape: three shuffles on edge keys (degree count, wedge
    * self-join on the source node, closure equi-join on the (t1, t2)
    * pair) — no windows, no driver-side iteration; the orientation
    * comparison carries endpoint degrees on the edge row, so the π-order
    * test is a plain boolean over columns (no global rank table). The
    * oriented edge set is self-joined twice and so is materialized once
    * ([[Exec.materializeForSelfJoin]]).
    */
  def triangleCounts(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val e = edges.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
    val deg = e.select(col("u").as("k")).unionAll(e.select(col("v").as("k")))
      .groupBy("k").agg(count(lit(1)).as("d"))
    val du = deg.select(col("k").as("u"), col("d").as("du"))
    val dv = deg.select(col("k").as("v"), col("d").as("dv"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"),
        when(fwd, col("dv")).otherwise(col("du")).as("dt"))
    // keyed by the wedge self-join's key (guide §2.4): both sides of the
    // s-equi-join read the oriented edges co-partitioned, no Exchange
    val ed = Exec.materializeForSelfJoinBy(oriented, col("s"))
    val e1 = ed.select(col("s"), col("t").as("t1"), col("dt").as("d1"))
    val e2 = ed.select(col("s"), col("t").as("t2"), col("dt").as("d2"))
    val wedges = e1.join(e2, Seq("s"))
      .where(col("d1") < col("d2") || (col("d1") === col("d2") && col("t1") < col("t2")))
      .select("s", "t1", "t2")
    val closing = ed.select(col("s").as("t1"), col("t").as("t2"))
    val tri = wedges.join(closing, Seq("t1", "t2"))
    val corners = tri.select(col("s").as("k"))
      .unionAll(tri.select(col("t1").as("k")))
      .unionAll(tri.select(col("t2").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n_tri"))
    corners.join(deg, Seq("k"))
      .select(col("k").as("node"), col("d").cast("long").as("degree"),
        col("n_tri").cast("long").as("n_tri"))
  }

  /** Bounded multi-source BFS: the hop distance from every node to its
    * NEAREST seed, walked at most `maxRounds` rounds — the "blast
    * radius" / influence-neighborhood query over co-occurrence graphs
    * (which suppliers sit within 2 hops of a recalled part; which docs
    * sit within 3 links of a known-bad source). One [[frontierWalk]]
    * over the [[undirected]] edge set, with no group column.
    *
    * Input edges are undirected `[uCol, vCol]`; seeds any DataFrame with
    * `seedCol`. Output: `[node, dist]`, dist 0 for seeds, one row per
    * node reached within `maxRounds`.
    */
  def boundedDistances(edges: DataFrame, uCol: String, vCol: String,
      seeds: DataFrame, seedCol: String, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0 && maxRounds <= 16, "maxRounds must be in [0, 16]")
    val und = undirected(edges.select(col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst")))
    val visited = frontierWalk(und,
      seeds.select(col(seedCol).cast("long").as("node")), Nil, "dist", maxRounds)
    Exec.releaseMaterialized(und)
    visited
  }

  /** The symmetrized edge set of `[src, dst]` edges: both directions,
    * distinct, keyed by `src` ([[Exec.materializeForSelfJoinBy]]) so
    * every per-round join on `src` reads it co-partitioned and only the
    * O(frontier) rows shuffle per round (guide §2.4). Column types are
    * the caller's. The caller owns the handle.
    */
  def undirected(edges: DataFrame): DataFrame =
    Exec.materializeForSelfJoinBy(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), col("src"))

  /** Whole-frontier BFS, per group: expands every group's frontier at
    * once through ONE equi-join on `und` ([[undirected]] output) per
    * round, and prunes already-visited `(group, node)` rows with an
    * anti-join, so first-reach depth = BFS depth = min seed distance
    * (re-expanding a visited node can only re-reach visited nodes, so
    * the pruned walk's visited set equals the unpruned
    * `seeds ∪ expand(seeds) ∪ …` an oracle replays). Every round is a
    * fixed number of shuffles on the node key — no per-seed sequential
    * state, so a million seeds batch through the same `rounds` joins.
    *
    * The loop state is one fixed-width table — the visited rows with
    * their first-reach depth in `depthCol` — run by [[Exec.iterate]];
    * round r's frontier is the rows at depth r − 1.
    *
    * @param seeds `groupCols :+ "node"` (duplicates collapse)
    * @return `groupCols :+ "node" :+ depthCol`, depth 0 for seeds — a
    *         handle the caller owns
    */
  def frontierWalk(und: DataFrame, seeds: DataFrame, groupCols: Seq[String],
      depthCol: String, rounds: Int): DataFrame = {
    val key = groupCols :+ "node"
    Exec.iterate(Exec.materializeForSelfJoin(
      seeds.select(key.map(col): _*).distinct().withColumn(depthCol, lit(0))),
      rounds) { (visited, r) =>
      val rim = visited.where(col(depthCol) === r - 1)
        .join(und, col("node") === col("src"))
        .select(groupCols.map(col) :+ col("dst").as("node"): _*).distinct()
      visited.unionByName(
        rim.join(visited.select(key.map(col): _*), key, "left_anti")
          .withColumn(depthCol, lit(r)))
    }
  }

  /** Bounded multi-source WEIGHTED shortest paths (Bellman–Ford,
    * `maxRounds` relaxation rounds): the cheapest ≤`maxRounds`-hop cost
    * from every node to its nearest seed over an undirected weighted
    * graph — [[boundedDistances]]' hop metric generalized to edge costs
    * (routing over co-occurrence strength: "how weakly is this part
    * connected to the trusted hubs", where strong co-purchase support
    * means a cheap edge).
    *
    * Unlike BFS, a node's best cost can improve after first reach, so
    * each round relaxes the WHOLE distance table, not just a frontier:
    * one edge equi-join + one min-aggregation per round — the textbook
    * Bellman–Ford invariant (after r rounds, cost = cheapest over paths
    * of ≤ r edges) that an oracle replays as r unrolled UNION/min CTEs.
    * Loop state is fixed-width [node, cost], run by [[Exec.iterate]].
    * Costs must be non-negative integers; the caller
    * keeps cost · maxRounds inside a Long (integer micro-unit costs and
    * ≤ 16 rounds leave 2^44 headroom).
    */
  def boundedCheapestPaths(edges: DataFrame, uCol: String, vCol: String,
      costCol: String, seeds: DataFrame, seedCol: String,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 0 && maxRounds <= 16, "maxRounds must be in [0, 16]")
    val e = edges.select(col(uCol).cast("long").as("u"),
      col(vCol).cast("long").as("v"), col(costCol).cast("long").as("c"))
    // keyed by the relaxation join's key (§2.4): the whole-table edge
    // join per Bellman–Ford round reads the edges without an Exchange
    val und = Exec.materializeForSelfJoinBy(
      e.select(col("u").as("src"), col("v").as("dst"), col("c"))
        .unionByName(e.select(col("v").as("src"), col("u").as("dst"), col("c"))),
      col("src"))
    val dist = Exec.iterate(Exec.materializeForSelfJoin(
      seeds.select(col(seedCol).cast("long").as("node")).distinct()
        .withColumn("cost", lit(0L))), maxRounds) { (dist, _) =>
      val relaxed = dist.join(und, dist("node") === und("src"))
        .select(und("dst").as("node"), (dist("cost") + und("c")).as("cost"))
      dist.unionByName(relaxed).groupBy("node").agg(min("cost").as("cost"))
    }
    Exec.releaseMaterialized(und)
    dist
  }

  /** Synchronous label propagation (community detection, Raghavan et
    * al. 2007): every node starts labeled with itself; each round it
    * adopts the label most frequent among its NEIGHBORS, ties broken by
    * the smaller label — a fully deterministic variant of LPA (the
    * published algorithm breaks ties randomly; a fixed total order
    * makes the rounds oracle-replayable), run a FIXED number of
    * synchronous rounds rather than to convergence (LPA on bipartite-ish
    * structures can 2-cycle, so bounded rounds is also the correct
    * production contract — the dd06 / [[boundedDistances]] discipline).
    *
    * Scale shape per round: ONE edge equi-join against the label table,
    * a map-side-combinable (node, label) count, and a per-node
    * row_number over that node's distinct neighbor labels — bounded by
    * degree, never corpus-wide. Loop state is fixed-width [node, label],
    * run by [[Exec.iterate]].
    *
    * Input: undirected `[uCol, vCol]` edges (deduped, u < v). Output:
    * `[node, label]`, one row per node with ≥ 1 edge.
    */
  def labelPropagation(edges: DataFrame, uCol: String, vCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16]")
    import org.apache.spark.sql.expressions.Window
    // each LPA round joins the label table onto the neighbor side `src`
    // of the symmetric edge set and counts labels per `dst` — only the
    // O(nodes) label rows move
    val und = undirected(edges.select(col(uCol).cast("long").as("src"),
      col(vCol).cast("long").as("dst")))
    val w = Window.partitionBy("node").orderBy(col("_cnt").desc, col("label").asc)
    val labels = Exec.iterate(Exec.materializeForSelfJoin(
      und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))), rounds) { (labels, _) =>
      und.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("_cnt"))
        .withColumn("_rk", row_number().over(w))
        .where(col("_rk") === 1)
        .select("node", "label")
    }
    Exec.releaseMaterialized(und)
    labels
  }

  /** Bounded k-core peeling — the density-based graph CURATION move
    * (keep the part of a co-occurrence graph where every member has ≥ k
    * surviving connections; spam/long-tail nodes peel away): `rounds`
    * synchronous rounds of "drop every node whose current degree < k,
    * then drop the edges that touched it". A fixpoint is reached when a
    * round removes nothing; like [[labelPropagation]], the round count
    * is FIXED and documented (bounded iteration, deterministic result,
    * oracle-unrollable) rather than data-dependent — callers size
    * `rounds` to their graph's peel depth (each round peels at least
    * one "layer" of under-connected nodes, and real co-occurrence
    * graphs peel in a handful).
    *
    * Scale shape per round: one degree hash-agg over surviving edges +
    * two semi-joins (u-side, v-side keep filters) — edge-key shuffles
    * only, no windows, loop state is the edge set itself, run by
    * [[Exec.iterate]].
    *
    * @return [node, degree] — nodes surviving all rounds with their
    *         residual degree
    */
  def kCore(edges: DataFrame, uCol: String, vCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 16)
    val e = Exec.iterate(Exec.materializeForSelfJoin(
      edges.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))),
      rounds) { (e, _) =>
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select("n")
      e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .select("u", "v")
    }
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("long").as("degree"))
  }

  /** Integer power-iteration PageRank, the one recurrence behind q68,
    * q87 (personalized: teleport only to seeds) and tx29 (TextRank).
    * Every value is an exact long (micro-units of a 10^12 mass), so any
    * aggregation order and any truncating integer division (Spark `div`,
    * DuckDB `//`) give the same ranks. init = 10^12 div max(1,
    * |teleport nodes|), collected once; round 0 is pr = teleport ? init
    * : 0; each [[Exec.iterate]] round computes contrib(v) =
    * Σ_{u→v} (pr(u)·w) div deg(u), then pr = (teleport ? (15·init) div
    * 100 : 0) + (85·contrib) div 100, with contrib 0 for a node no edge
    * reaches. Dangling mass and remainders are dropped. The caller stages and owns both inputs
    * (keyed on `src` / `node` where the scale warrants) and passes unit
    * weights as `lit(1L)` over its handle.
    *
    * @param edgesDeg [src, dst, w, deg] — deg is src's (weighted) out-degree
    * @param nodes    [node, teleport: boolean]
    * @return [node, pr]
    */
  def intPageRank(edgesDeg: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    val init = nodes.agg(expr(
      "1000000000000 div greatest(1, count_if(teleport))")).head().getLong(0)
    def teleport(share: Long): Column =
      when(col("teleport"), lit(share)).otherwise(lit(0L))
    Exec.iterate(nodes.select(col("node"), teleport(init).as("pr")), rounds) {
      (ranks, _) =>
        val contribs = ranks.join(edgesDeg, col("node") === col("src"))
          .select(col("dst"), expr("(pr * w) div deg").as("c"))
          .groupBy("dst").agg(sum("c").as("contrib"))
        nodes.join(contribs, col("node") === col("dst"), "left")
          .select(col("node"), (teleport((15L * init) / 100L)
            + expr("(85 * coalesce(contrib, 0)) div 100")).as("pr"))
    }
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a directed edge
    * set, `rounds` synchronous mutual-reinforcement iterations in the
    * q68 pure-integer discipline: hub mass starts uniform at
    * 10^12 `div` |hubs|; each round computes raw authority scores
    * a'(u) = Σ_{v→u} h(v) then L1-renormalizes by the INTEGER quotient
    * q = max(1, Σa' div 10^12) (a = a' div q), and symmetrically for
    * hubs — every value an exact long, so both engines agree bit-for-bit
    * under any aggregation order (Spark `div` and DuckDB integer `//`
    * both truncate toward zero; every value here is non-negative anyway).
    *
    * Scale contract: normalized mass totals ~10^12, so a raw per-node
    * sum is ≤ 10^12·deg(node) and the renormalization sum is
    * ≤ 10^12·max-degree — longs hold both for max-degree < 9·10^6,
    * far above any real web/bipartite corpus after the usual top-domain
    * capping. Each round is one equi-join + one hash aggregation per
    * direction over the deduplicated edge list (no windows, no driver
    * data). The two alternating states run as one [[Exec.iterateAll]]
    * state `(h, a)`.
    *
    * Returns (side 'hub'|'auth', node, score) for every node that holds
    * nonzero mass after the final round.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16)
    // the edge list is joined by src (authority rounds) AND by dst (hub
    // rounds): one keyed copy per direction, so neither per-round join
    // re-shuffles the edges (§2.4 co-partitioned loop state; the disk
    // analogue is a table bucketed both ways). eDst derives from the
    // already-cached eSrc, so the distinct is computed exactly once.
    val eSrc = Exec.materializeForSelfJoinBy(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct(), col("src"))
    val eDst =
      if (Exec.isKeyedHandle(eSrc)) Exec.materializeForSelfJoinBy(eSrc, col("dst"))
      else eSrc // below the keying threshold one handle serves both sides
    val hubs = eSrc.select(col("src").as("node")).distinct()
    def normalized(raw: DataFrame, node: String): DataFrame =
      Exec.materializeForSelfJoin(
        raw.crossJoin(broadcast(
            raw.agg(greatest(lit(1L), expr("sum(raw) div 1000000000000")).as("q"))))
          .select(col(node).as("node"), expr("raw div q").as("score")))
    // state (h, a): the hub round reads the authority round it follows.
    // greatest(1, ...) guards the ANSI divide-by-zero on an empty edge
    // set (the 1-row aggregate still evaluates; the cross join with the
    // empty hub side then discards it)
    val Seq(h, a) = Exec.iterateAll(Seq(Exec.materializeForSelfJoin(
      hubs.crossJoin(broadcast(
          hubs.agg(expr("1000000000000 div greatest(1, count(*))").as("init"))))
        .select(col("node"), col("init").as("score")))), rounds) { (s, _) =>
      val a = normalized(eSrc.join(s.head, col("node") === col("src"))
        .groupBy(col("dst").as("anode")).agg(sum("score").as("raw")), "anode")
      val h = normalized(eDst.join(a, col("node") === col("dst"))
        .groupBy(col("src").as("hnode")).agg(sum("score").as("raw")), "hnode")
      Seq(h, a)
    }
    Seq(eSrc, eDst).distinct.foreach(Exec.releaseMaterialized)
    h.select(lit("hub").as("side"), col("node"), col("score"))
      .unionAll(a.select(lit("auth").as("side"), col("node"), col("score")))
  }
}
