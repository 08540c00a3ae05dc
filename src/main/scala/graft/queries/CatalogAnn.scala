package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Similarity/ANN family (ann01-ann27): brute-force truth,
  * IVF/PQ/SQ8 trained indexes, graph search, recall grading, serving.
  * Split from the monolithic Catalog object (VERDICT r16 #8) — pure
  * file move, zero semantic change.
  */
private[queries] trait CatalogAnn extends CatalogShared {


  private val ann01 = Q("ann01_bruteforce_topk", Some("""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilarityOps.bruteForceTopK(emb.where(col("id") < 10), emb, k = 10, roundSim = 6)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    })


  // LSH-bucketed ANN (sign-projection buckets). Same shape as ann01 but the
  // candidate join is restricted to equal buckets — the 100 TB path.
  private val ann02 = Q("ann02_lsh_topk", Some("""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e,
               concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
           FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 50)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank"""),
    (s, d) => {
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilarityOps.lshTopK(emb.where(col("id") < 50), emb, k = 5,
          axes = 0 until 8, roundSim = 6)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    })


  // Top-k via the custom Aggregator (map-side k-bounded reduction — the
  // 100 TB path; see graft.functions.TopKAggregator). Same output
  // contract as the window variant, checked against the same oracle
  // shape on a disjoint query range.
  private val ann03 = Q("ann03_topk_aggregator", Some("""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id >= 10 AND q.vec_id < 20)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      import s.implicits._
      import graft.functions.{Scored, TopKAggregator}
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = broadcast(emb.where(col("id") >= 10 && col("id") < 20)
        .select(col("id").as("query_id"), col("vec").as("qvec")))
      val scored = T(s, d, "embeddings")
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"))
        .join(q, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"),
          col("neighbor_id"),
          round(SimilarityOps.cosine(col("qvec"), col("nvec")), 6).as("sim"))
        .as[(Long, Long, Double)]
      val topk = new TopKAggregator(10).toColumn
      scored
        .groupByKey(_._1)
        .mapValues { case (_, id, sim) => Scored(id, sim) }
        .agg(topk.name("topk"))
        .toDF("query_id", "topk")
        .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
        .select(col("query_id"), col("s.id").as("neighbor_id"),
          col("s.score").as("sim"), (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")
    })

  private val ann04 = Q("ann04_ivf", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    $seedIvfCandCtes,
    scored AS (
      SELECT c.query_id, c.neighbor_id,
        ${ivfCos.format("q", "n", "q", "q", "n", "n")} AS sim
      FROM cand c JOIN v q ON q.vec_id = c.query_id JOIN v n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t WHERE rank <= 5
    ORDER BY query_id, rank"""),
    (s, d) => {
      val emb = T(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val cent = broadcast(emb.where(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec")))
      val scoredC = emb.join(cent)
        .select(col("vec_id"), col("cent_id"), col("embedding"),
          round(SimilarityOps.cosine(col("embedding"), col("cvec")), 6).as("csim"))
      val byVec = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id").asc)
      // materialize: `ranked` feeds both assigned and probes branches.
      // It carries the embedding vector on every (vec, centroid) row —
      // 16x the embedding corpus — so DISK_ONLY + lineage (r7 rule)
      val ranked = Exec.materializeLarge(
        scoredC.withColumn("rn", row_number().over(byVec)))
      val assigned = ranked.where(col("rn") === 1)
        .select(col("vec_id"), col("cent_id").as("cell"))
      val probes = ranked.where(col("vec_id") >= 20 && col("vec_id") < 30 && col("rn") <= 2)
        .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
      val cand = probes.join(assigned, Seq("cell"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()
      // query vectors: the bounded probe set — broadcastable by contract.
      // The NEIGHBOR side is the corpus: it joins UNHINTED (a forced
      // broadcast would ship the whole table at scale — the tx08 rule);
      // AQE broadcasts whichever side is actually small at runtime.
      val q = emb.where(col("vec_id") >= 20 && col("vec_id") < 30)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val n = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"))
      val scored = cand.join(broadcast(q), Seq("query_id")).join(n, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(SimilarityOps.cosine(col("qvec"), col("nvec")), 6).as("sim"))
      val byQuery = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(byQuery)).where(col("rank") <= 5)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    })


  // IVF centroid re-estimation (k-means M-step) on the first 8 dims:
  // exact fixed-point sums (floor(v * 2^20) as long — power-of-two
  // scaling of a float is exact) make the mean engine-identical; a float
  // mean would reassociate per partitioning and never hash-match.
  private val ann05 = Q("ann05_centroid_update", Some("""
    WITH v AS (SELECT vec_id, embedding AS e,
               concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS cell
           FROM embeddings),
    x AS (
      SELECT cell, unnest(generate_series(0, 7)) AS dim,
             unnest(list_transform(list_slice(e, 1, 8),
               y -> cast(floor(cast(y as double) * 1048576.0) as bigint))) AS q
      FROM v)
    SELECT cell, dim, count(*) AS n_vectors,
      cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
    FROM x GROUP BY cell, dim ORDER BY cell, dim"""),
    (s, d) => {
      val emb = T(s, d, "embeddings").select(col("vec_id"),
        SimilarityOps.signBucket(col("embedding"), 0 until 4).as("cell"),
        slice(col("embedding"), 1, 8).as("vec8"))
      SimilarityOps.quantizedCentroids(emb, "cell", "vec8")
        .orderBy("cell", "dim")
    })


  // Product-quantization-style ANN: each 64-dim vector becomes 8 block
  // codes (8-bit sign patterns); similarity = number of matching block
  // codes. Candidate generation is a banded equi-join on (block, code) —
  // pairs sharing no block never meet, so the join shuffles by code
  // bucket instead of forming queries x corpus. The same multi-band
  // shape MinHash banding uses, applied to vectors.
  private val ann06 = Q("ann06_pq_topk", Some(s"""
    WITH $signPqMatchCtes
    SELECT query_id, neighbor_id, n_match, rank FROM (
      SELECT query_id, neighbor_id, n_match,
        row_number() OVER (PARTITION BY query_id ORDER BY n_match DESC, neighbor_id) AS rank
      FROM matches) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      // blk == posexplode position because transform preserves order
      val flat = Exec.materializeForSelfJoin(T(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(7)), b =>
            concat_ws("", (1 to 8).map(i =>
              when(get(col("embedding"), b * 8 + lit(i - 1)) >= 0f, lit("1"))
                .otherwise(lit("0"))): _*)))
            .as(Seq("blk", "code"))))
      val q = flat.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("blk"), col("code"))
      val c = flat.select(col("vec_id").as("neighbor_id"), col("blk"), col("code"))
      val m = c.join(broadcast(q), Seq("blk", "code"))
        .where(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("n_match"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("n_match").desc, col("neighbor_id"))
      m.withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
        .orderBy("query_id", "rank")
    })

  /** Brute-force top-k truth for a recall grade: ≤ |queries|·k rows
    * but a full corpus scan, so it is materialized once (localCheckpoint,
    * tiny) and the hits join and the n_queries aggregate of every arm
    * graded against it read the same blocks.
    */
  private def truthTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    Exec.materializeForSelfJoin(
      SimilarityOps.bruteForceTopK(queries, corpus, k = k, roundSim = 6)
        .select("query_id", "neighbor_id"))

  /** One arm's recall row: |approx ∩ truth| / (n_queries · k), integer
    * counts and one final division. Two 1-row aggregates; the cross join
    * is a designed broadcast BNLJ (PlanAuditSpec allowlist), same shape
    * as tx11/dp07/dp08.
    */
  private def recallOf(method: String, approx: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    val hits = approx.select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("total_hits"))
    truth.agg(countDistinct("query_id").as("n_queries")).crossJoin(hits)
      .select(lit(method).as("method"), col("n_queries"), col("total_hits"),
        (col("total_hits").cast("double") / (col("n_queries") * lit(k)))
          .as("recall"))
  }

  private val ann07 = Q("ann07_recall", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    t_lsh AS (${annBruteSql.format("q.vec_id < 50", 5)}),
    t_ivf AS (${annBruteSql.format("q.vec_id >= 20 AND q.vec_id < 30", 5)}),
    t_pq AS (${annBruteSql.format("q.vec_id < 5", 10)}),
    vb AS (SELECT vec_id, e,
             array_to_string(list_transform(generate_series(1, 8),
               i -> CASE WHEN e[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM v),
    a_lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
              / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
               * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6)
            DESC, c.vec_id) AS rank
        FROM vb q JOIN vb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 50) t WHERE rank <= 5),
    $seedIvfCandCtes,
    a_ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
          row_number() OVER (PARTITION BY c.query_id ORDER BY
            ${ivfCos.format("q", "n", "q", "q", "n", "n")} DESC, c.neighbor_id) AS rank
        FROM cand c JOIN v q ON q.vec_id = c.query_id
                    JOIN v n ON n.vec_id = c.neighbor_id) t
      WHERE rank <= 5),
    $signPqMatchCtes,
    a_pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY n_match DESC, neighbor_id) AS rank
        FROM matches) t
      WHERE rank <= 10),
    $km64TrainCtes,
    ktp AS (SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ktr WHERE vec_id >= 20 AND vec_id < 30) t WHERE rn <= 2),
    ktc AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM ktp p JOIN kta a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    a_tr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
          row_number() OVER (PARTITION BY c.query_id ORDER BY
            ${ivfCos.format("q", "n", "q", "q", "n", "n")} DESC, c.neighbor_id) AS rank
        FROM ktc c JOIN v q ON q.vec_id = c.query_id
                   JOIN v n ON n.vec_id = c.neighbor_id) t
      WHERE rank <= 5),
    $pqTrainCtesNoV,
    pc2 AS (SELECT blk, code, list(mean ORDER BY dim) AS cv
            FROM m2 GROUP BY blk, code),
    iap AS (SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ktr WHERE vec_id < 5) t WHERE rn <= 2),
    iac AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM iap p JOIN kta a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    pfr AS (SELECT vec_id, b.blk,
             list_slice(e, b.blk * 8 + 1, b.blk * 8 + 8) AS sv
           FROM v, (SELECT unnest(generate_series(0, 7)) AS blk) b),
    ped AS (SELECT f.vec_id, f.blk, c.code,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (f.sv[i] - c.cv[i]) * (f.sv[i] - c.cv[i]))), 6) AS d
           FROM pfr f JOIN pc2 c ON f.blk = c.blk),
    penc AS (SELECT vec_id, blk, code FROM (
             SELECT vec_id, blk, code, row_number() OVER (
               PARTITION BY vec_id, blk ORDER BY d, code) AS rn
             FROM ped) t WHERE rn = 1),
    pqt AS (SELECT f.vec_id AS query_id, f.blk, c.code,
             cast(round(list_sum(list_transform(generate_series(1, 8),
               i -> (f.sv[i] - c.cv[i]) * (f.sv[i] - c.cv[i])))
               * 1000000.0) as bigint) AS dq
           FROM pfr f JOIN pc2 c ON f.blk = c.blk WHERE f.vec_id < 5),
    psc AS (SELECT cd.query_id, cd.neighbor_id,
             cast(sum(q.dq) as bigint) AS d_sum
           FROM iac cd
           JOIN penc e ON e.vec_id = cd.neighbor_id
           JOIN pqt q ON q.query_id = cd.query_id
                     AND q.blk = e.blk AND q.code = e.code
           GROUP BY 1, 2),
    ppool AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY d_sum, neighbor_id) AS arn
             FROM psc) t WHERE arn <= 20),
    a_ia AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, p.neighbor_id,
          row_number() OVER (PARTITION BY p.query_id ORDER BY
            ${ivfCos.format("q", "n", "q", "q", "n", "n")} DESC, p.neighbor_id) AS rank
        FROM ppool p JOIN v q ON q.vec_id = p.query_id
                     JOIN v n ON n.vec_id = p.neighbor_id) t
      WHERE rank <= 10),
    sqn AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e
             ELSE list_transform(e, x -> x / nrm) END AS e
           FROM (SELECT vec_id, e,
                   sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
                 FROM v)),
    sqs AS (SELECT d.dim,
             greatest(abs(min(sqn.e[d.dim])), abs(max(sqn.e[d.dim]))) AS s
           FROM sqn, (SELECT unnest(generate_series(1, 64)) AS dim) d
           GROUP BY d.dim),
    sqx AS (SELECT list(s ORDER BY dim) AS ss FROM sqs),
    sqc AS (SELECT vec_id, list_transform(generate_series(1, len(e)),
             i -> CASE WHEN ss[i] = 0 THEN 0
                  ELSE cast(round(e[i] * 127 / ss[i]) as bigint) END) AS c
           FROM sqn CROSS JOIN sqx),
    sqq AS (SELECT vec_id AS query_id, c AS qc FROM sqc WHERE vec_id < 5),
    sqsc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
             cast(list_sum(list_transform(generate_series(1, len(q.qc)),
               i -> q.qc[i] * n.c[i])) as bigint) AS score_int
           FROM sqc n JOIN sqq q ON n.vec_id <> q.query_id),
    sqp AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score_int DESC, neighbor_id) AS prn
             FROM sqsc) t WHERE prn <= 20),
    a_sq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, p.neighbor_id,
          row_number() OVER (PARTITION BY p.query_id ORDER BY
            ${ivfCos.format("q", "n", "q", "q", "n", "n")} DESC, p.neighbor_id) AS rank
        FROM sqp p JOIN v q ON q.vec_id = p.query_id
                   JOIN v n ON n.vec_id = p.neighbor_id) t
      WHERE rank <= 10),
    r AS (
      SELECT 'ivf' AS method,
        (SELECT count(DISTINCT query_id) FROM t_ivf) AS n_queries,
        (SELECT count(*) FROM a_ivf a JOIN t_ivf t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS total_hits,
        5 AS k
      UNION ALL SELECT 'lsh',
        (SELECT count(DISTINCT query_id) FROM t_lsh),
        (SELECT count(*) FROM a_lsh a JOIN t_lsh t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id), 5
      UNION ALL SELECT 'pq',
        (SELECT count(DISTINCT query_id) FROM t_pq),
        (SELECT count(*) FROM a_pq a JOIN t_pq t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id), 10
      UNION ALL SELECT 'trained',
        (SELECT count(DISTINCT query_id) FROM t_ivf),
        (SELECT count(*) FROM a_tr a JOIN t_ivf t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id), 5
      UNION ALL SELECT 'ivfadc',
        (SELECT count(DISTINCT query_id) FROM t_pq),
        (SELECT count(*) FROM a_ia a JOIN t_pq t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id), 10
      UNION ALL SELECT 'sq8',
        (SELECT count(DISTINCT query_id) FROM t_pq),
        (SELECT count(*) FROM a_sq a JOIN t_pq t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id), 10)
    SELECT method, n_queries, total_hits,
      cast(total_hits as double) / (n_queries * k) AS recall
    FROM r ORDER BY method"""),
    (s, d) => {
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def truth(qFilter: Column, k: Int): DataFrame =
        truthTopK(emb.where(qFilter), emb, k)
      // trained-centroid IVF: the shared 16-cell coarse quantizer
      // (SharedArtifacts.centroids64 — one kmeansFit on the 256-row
      // salted-md5 sample per session, the ksmp/kc0..kc2 CTE mirror,
      // also served to ann11/ann13), probed via ivfTopK — same query
      // set and k as the seed-IVF arm so the two recalls compare
      val idx = SharedArtifacts.centroids64(s, d)
      val trained = SimilarityOps.ivfTopK(emb,
        col("id") >= 20 && col("id") < 30, idx, k = 5, nProbe = 2)
      // the composed IVFADC arm (ann11): same trained coarse index, the
      // ann09 PQ codebook, the PQ arm's query set and k — so 'pq' vs
      // 'ivfadc' reads directly as what cell pruning + trained codes +
      // exact re-rank buy over sign-bit PQ
      val composed = SimilarityOps.ivfAdcTopK(emb, "id", "vec",
        col("id") < 5, idx,
        SimilarityOps.pqFit(T(s, d, "embeddings"), "vec_id", "embedding",
          blocks = 8, subDim = 8, codesPerBlock = 4, iters = 2,
          samplePerCode = 16),
        blocks = 8, subDim = 8, k = 10, nProbe = 2, reRank = 20)
      // ivf/trained and pq/ivfadc each grade against a SHARED truth set,
      // so the whole query runs 3 brute-force scans (was 8: one per
      // truth reference)
      // the SQ8 arm (ann12): integer code-dot scan + exact re-rank, on
      // the PQ arm's query set and k — 'pq' vs 'sq8' vs 'ivfadc' reads
      // as a quantization-family comparison on one truth set
      val sq8 = SimilarityOps.sqTopK(T(s, d, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 5, k = 10, pool = 20)
      val tIvf = truth(col("id") >= 20 && col("id") < 30, 5)
      val tPq = truth(col("id") < 5, 10)
      recallOf("ivf", ann04.fn(s, d), tIvf, 5)
        .unionByName(recallOf("lsh", ann02.fn(s, d), truth(col("id") < 50, 5), 5))
        .unionByName(recallOf("pq", ann06.fn(s, d), tPq, 10))
        .unionByName(recallOf("trained", trained, tIvf, 5))
        .unionByName(recallOf("ivfadc", composed, tPq, 10))
        .unionByName(recallOf("sq8", sq8, tPq, 10))
        .orderBy("method")
    })

  private val ann08 = Q("ann08_kmeans_train", Some(s"""
    WITH ${kmeansCtes("", "64",
      """c0 AS MATERIALIZED (SELECT vec_id AS cell, e AS ce FROM (
             SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn
             FROM smp) t WHERE rn <= 4)""")}
    SELECT cell, dim, n_vectors, mean FROM m2 ORDER BY cell, dim"""),
    (s, d) => SimilarityOps.kmeansFit(
        SharedArtifacts.emb16(s, d),
        "vec_id", "v16", k = 4, iters = 2, samplePerCell = 16)
      .orderBy("cell", "dim"))

  private val ann09 = Q("ann09_pq_train", Some(s"""
    WITH $pqTrainCtes
    SELECT cast(blk as int) AS blk, code, cast(dim as int) AS dim,
      n_vectors, mean
    FROM m2 ORDER BY blk, code, dim"""),
    (s, d) => SimilarityOps.pqFit(T(s, d, "embeddings"), "vec_id",
        "embedding", blocks = 8, subDim = 8, codesPerBlock = 4, iters = 2,
        samplePerCode = 16)
      .orderBy("blk", "code", "dim"))


  // ADC top-k over the ann09-trained codebooks: the corpus is encoded
  // ONCE per block (broadcast codebook + map-side argmin — the 32x
  // compression pass), each query precomputes its distance to every
  // codebook entry (the classic ADC lookup table, queries x 32 rows),
  // and approximate distance = the SUM of per-block table entries —
  // n x blocks integer adds, never n x dim multiplies. Per-block
  // distances scale to integer micro-units so the 8-way sum is an exact
  // long under any aggregation order (the q68 micro-unit move); ranks
  // tie to the lower neighbor id.
  private val ann10 = Q("ann10_pq_adc_topk", Some(s"""
    WITH $pqTrainCtes,
    c2 AS (SELECT blk, code, list(mean ORDER BY dim) AS cv
           FROM m2 GROUP BY blk, code),
    ${pqEncodeCtes("v", "c2")},
    ${pqQueryDistCte("c2")},
    sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             cast(sum(q.dq) as bigint) AS d_sum
           FROM enc e JOIN qt q ON e.blk = q.blk AND e.code = q.code
           WHERE e.vec_id <> q.query_id
           GROUP BY 1, 2)
    SELECT query_id, neighbor_id, d_sum, rank FROM (
      SELECT query_id, neighbor_id, d_sum, row_number() OVER (
        PARTITION BY query_id ORDER BY d_sum, neighbor_id) AS rank
      FROM sc) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = SimilarityOps.pqFit(emb, "vec_id", "embedding",
        blocks = 8, subDim = 8, codesPerBlock = 4, iters = 2,
        samplePerCode = 16)
      SimilarityOps.pqAdcTopK(emb, "vec_id", "embedding",
          col("vec_id") < 5, cb, blocks = 8, subDim = 8, k = 10)
        .orderBy("query_id", "rank")
    })


  // Composed IVF→ADC top-k (FAISS-style IVFADC — the deployable ANN
  // index, SimilarityOps.ivfAdcTopK): the trained 16-cell coarse
  // quantizer (ann07's kmeansFit arm) prunes the corpus to each query's
  // top-2 cells, ranking INSIDE probed cells runs on ann09's trained PQ
  // codes via the integer ADC lookup — probed-population × blocks adds,
  // never candidates × dim multiplies — and the top-20 ADC pool
  // re-ranks by exact cosine (the standard recall-restoring tail pass,
  // bounded at 20 × dim per query). Same query set and k as the PQ/ADC
  // arms (vec_id < 5, k = 10), so ann07's recall harness grades the
  // composition directly against its halves. Every cut ties
  // deterministically (ADC pool on (d_sum, id), re-rank on (sim DESC,
  // id)); the oracle replays coarse training, PQ training, both
  // full-corpus passes, and both rankings CTE-by-CTE.
  private val ann11 = Q("ann11_ivf_adc_topk", Some(s"""
    WITH $pqTrainCtes,
    pc2 AS (SELECT blk, code, list(mean ORDER BY dim) AS cv
            FROM m2 GROUP BY blk, code),
    $km64TrainCtes,
    ktp AS (SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ktr WHERE vec_id < 5) t WHERE rn <= 2),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM ktp p JOIN kta a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    ${pqEncodeCtes("v", "pc2")},
    ${pqQueryDistCte("pc2")},
    sc AS (SELECT cd.query_id, cd.neighbor_id,
             cast(sum(q.dq) as bigint) AS d_sum
           FROM cand cd
           JOIN enc e ON e.vec_id = cd.neighbor_id
           JOIN qt q ON q.query_id = cd.query_id
                    AND q.blk = e.blk AND q.code = e.code
           GROUP BY 1, 2),
    pool AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY d_sum, neighbor_id) AS arn
             FROM sc) t WHERE arn <= 20),
    $exactReRankSql"""),
    (s, d) => {
      val embRaw = T(s, d, "embeddings")
      val emb = embRaw.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cb = SimilarityOps.pqFit(embRaw, "vec_id", "embedding",
        blocks = 8, subDim = 8, codesPerBlock = 4, iters = 2,
        samplePerCode = 16)
      // coarse quantizer: the shared trained 16-cell index
      // (SharedArtifacts.centroids64 — ann07/ann13's same artifact)
      val idx = SharedArtifacts.centroids64(s, d)
      SimilarityOps.ivfAdcTopK(emb, "id", "vec", col("id") < 5, idx, cb,
          blocks = 8, subDim = 8, k = 10, nProbe = 2, reRank = 20)
        .orderBy("query_id", "rank")
    })


  // Scalar-quantized (SQ8) top-k with exact re-rank
  // (SimilarityOps.sqTopK) — the third quantized-ANN family member next
  // to PQ/ADC (ann10) and IVFADC (ann11): vectors L2-normalize (so the
  // code dot tracks cosine, not norm-mixed raw dot — the standard
  // cosine-metric SQ practice), per-dimension max-|value| scales train
  // a SYMMETRIC [-127,127] int8 code (dims rows of metadata, THE
  // persisted index artifact at 8x compression; symmetric because an
  // affine [0,255] map's offset terms dominate the dot and wreck the
  // ranking — measured 0.08 -> 0.98 pool-20 containment), candidates
  // rank by the exact-integer dot of code arrays (symmetric quantized
  // scan, no float per candidate), and the top-20 pool re-ranks by
  // true cosine.
  // The affine map is the one float step, mirrored op-for-op; code dots
  // are exact longs, so both engines rank identically (ties to the
  // lower neighbor id). Same query set and k as the other quantized
  // arms (vec_id < 5, k = 10).
  private val ann12 = Q("ann12_sq8_topk", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    vn AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e
             ELSE list_transform(e, x -> x / nrm) END AS e
           FROM (SELECT vec_id, e,
                   sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
                 FROM v)),
    st AS (SELECT d.dim, greatest(abs(min(vn.e[d.dim])), abs(max(vn.e[d.dim]))) AS s
           FROM vn, (SELECT unnest(generate_series(1, 64)) AS dim) d
           GROUP BY d.dim),
    sx AS (SELECT list(s ORDER BY dim) AS ss FROM st),
    cd AS (SELECT vec_id, list_transform(generate_series(1, len(e)),
             i -> CASE WHEN ss[i] = 0 THEN 0
                  ELSE cast(round(e[i] * 127 / ss[i]) as bigint) END) AS c
           FROM vn CROSS JOIN sx),
    qs AS (SELECT vec_id AS query_id, c AS qc FROM cd WHERE vec_id < 5),
    sc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
             cast(list_sum(list_transform(generate_series(1, len(q.qc)),
               i -> q.qc[i] * n.c[i])) as bigint) AS score_int
           FROM cd n JOIN qs q ON n.vec_id <> q.query_id),
    pool AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score_int DESC, neighbor_id) AS prn
             FROM sc) t WHERE prn <= 20),
    $exactReRankSql"""),
    (s, d) => SimilarityOps.sqTopK(T(s, d, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 5, k = 10, pool = 20)
      .select("query_id", "neighbor_id", "sim", "rank")
      .orderBy("query_id", "rank"))


  // Residual IVF-PQ top-k (SimilarityOps.ivfPqResidualTopK): ann11
  // upgraded to what production FAISS IVFADC actually encodes (Jégou
  // et al. 2011 §IV) — the PQ codebook trains on and encodes RESIDUALS
  // x − c(x), spending its code budget on what the coarse quantizer
  // didn't explain; queries build a residual ADC table PER PROBED CELL
  // (still a bounded queries × nProbe × blocks × codes broadcast). Same
  // query set, k, probe count, and re-rank pool as ann11, so the two
  // results read directly as what residual encoding buys. The oracle
  // replays coarse training, the full assignment, the residual map, PQ
  // training ON residuals, both full-corpus passes, the per-cell ADC,
  // and both rankings CTE-by-CTE.
  private val ann13 = Q("ann13_ivfpq_residual_topk", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    $km64TrainCtes,
    vres AS (SELECT v.vec_id, kta.cell,
               list_transform(generate_series(1, 64), i -> v.e[i] - kc2.ce[i]) AS e
             FROM v JOIN kta USING (vec_id) JOIN kc2 ON kc2.cell = kta.cell),
    ${pqTrainCtesFrom("vres")},
    pc2 AS (SELECT blk, code, list(mean ORDER BY dim) AS cv
            FROM m2 GROUP BY blk, code),
    ${pqEncodeCtes("vres", "pc2")},
    qp AS (SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ktr WHERE vec_id < 5) t WHERE rn <= 2),
    qr AS (SELECT qp.query_id, qp.cell,
             list_transform(generate_series(1, 64), i -> v.e[i] - kc2.ce[i]) AS e
           FROM qp JOIN v ON v.vec_id = qp.query_id
                   JOIN kc2 ON kc2.cell = qp.cell),
    qfr AS (SELECT query_id, cell, b.blk,
              list_slice(e, b.blk * 8 + 1, b.blk * 8 + 8) AS sv
            FROM qr, (SELECT unnest(generate_series(0, 7)) AS blk) b),
    qt AS (SELECT q.query_id, q.cell, q.blk, c.code,
             cast(round(list_sum(list_transform(generate_series(1, 8),
               i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))
               * 1000000.0) as bigint) AS dq
           FROM qfr q JOIN pc2 c ON q.blk = c.blk),
    cand AS (SELECT qp.query_id, qp.cell, a.vec_id AS neighbor_id
             FROM qp JOIN kta a ON a.cell = qp.cell
             WHERE a.vec_id <> qp.query_id),
    sc AS (SELECT cd.query_id, cd.neighbor_id,
             cast(sum(q.dq) as bigint) AS d_sum
           FROM cand cd
           JOIN enc e ON e.vec_id = cd.neighbor_id
           JOIN qt q ON q.query_id = cd.query_id AND q.cell = cd.cell
                    AND q.blk = e.blk AND q.code = e.code
           GROUP BY 1, 2),
    pool AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id ORDER BY d_sum, neighbor_id) AS prn
             FROM sc) t WHERE prn <= 20),
    $exactReRankSql"""),
    (s, d) => {
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // coarse quantizer: the shared trained 16-cell index
      // (SharedArtifacts.centroids64 — ann07/ann11's same artifact)
      SimilarityOps.ivfPqResidualTopK(emb, "id", "vec", col("id") < 5,
          SharedArtifacts.centroids64(s, d),
          blocks = 8, subDim = 8, codesPerBlock = 4, iters = 2,
          samplePerCode = 16, k = 10, nProbe = 2, reRank = 20)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    })


  // k-NN graph construction (SimilarityOps.knnGraph): every vector's 5
  // nearest neighbors among its top-2 probed trained cells — the base
  // structure for graph clustering / SNN density / graph-ANN builds,
  // where the query set IS the corpus. ivfTopK's probe window would
  // shuffle n × cells rows here; instead BOTH corpus-sized reductions
  // are k-bounded partial aggregations (assignment argmax + a
  // TopKAggregator probe ranking whose map-side combine caps the
  // exchange at n × nProbe). Same dd13 trained centroids and
  // determinism contract; the oracle replays training, both
  // assignments, the cell join, and the per-query rank.
  private val ann14 = Q("ann14_knn_graph", Some(s"""
    WITH ${ivf16AssignCtes()},
    pr AS (SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3) t WHERE rn <= 2),
    cand AS (SELECT pr.query_id, a3.vec_id AS neighbor_id
             FROM pr JOIN a3 USING (cell)
             WHERE a3.vec_id <> pr.query_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id)
    SELECT query_id, cast(rank as int) AS rank, neighbor_id, sim FROM (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank"""),
    (s, d) => {
      val emb16 = SharedArtifacts.emb16(s, d)
      // the GRAPH is this query's output, so the build runs fresh here
      // (its bench number is the honest build cost); only the trained
      // centroid INPUT comes from the shared session artifact
      SimilarityOps.knnGraph(emb16, "vec_id", "v16",
          SharedArtifacts.centroids16(s, d),
          k = 5, nProbe = 2, roundSim = 6)
        .orderBy("query_id", "rank")
    })


  // FILTERED vector search (SimilarityOps.ivfFilteredTopK): top-k
  // constrained to corpus vectors sharing the query's label — the
  // production "ANN with a metadata predicate" feature (tenant /
  // language / license filters). The filter rides the candidate
  // equi-join itself (PRE-filter: cell AND attr are the join key), so
  // the post-filtering failure mode — k results all filtered away —
  // cannot occur, and recall within probed cells is exact for the
  // filtered set. Same trained centroids and determinism contract as
  // dd13/ann14.
  private val ann15 = Q("ann15_filtered_topk", Some(s"""
    WITH ${ivf16AssignCtes()},
    ${labelFilteredSql(sameLabel = true)}"""),
    (s, d) => labelFilteredTopK(s, d, sameLabel = true))


  // IVF RANGE search (SimilarityOps.ivfRangeSearch — FAISS
  // range_search, the vector database's SECOND serving mode next to
  // top-k: all corpus vectors within sim ≥ τ of each query, result size
  // data-dependent): ann15's probed-cell candidate generation with the
  // threshold REPLACING the rank window — no per-query sort anywhere,
  // one candidate-bounded equi-join + a filter. Approximate exactly the
  // way IVF top-k is (misses = unprobed cells); τ compares the ROUNDED
  // 6-dp similarity so the boundary is engine-exact. Oracle replays
  // training + assignment + probes + threshold CTE-by-CTE.
  private val ann23 = Q("ann23_range_search", Some(s"""
    WITH ${ivf16AssignCtes()},
    pr AS (SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3 WHERE vec_id < 20) t
           WHERE rn <= 2),
    cand AS (SELECT pr.query_id, a3.vec_id AS neighbor_id
             FROM pr JOIN a3 ON pr.cell = a3.cell
             WHERE a3.vec_id <> pr.query_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, sim FROM scored
    WHERE sim >= 0.5 ORDER BY query_id, neighbor_id"""),
    (s, d) => {
      val corpus = graft.operators.Exec.materializeForSelfJoin(
        T(s, d, "embeddings").select(col("vec_id").as("id"),
          slice(col("embedding"), 1, 16).as("vec")))
      SimilarityOps.ivfRangeSearch(corpus, col("id") < 20,
          SharedArtifacts.centroids16(s, d),
          tau = 0.5, nProbe = 2, roundSim = 6)
        .orderBy("query_id", "neighbor_id")
    })


    // HARD-NEGATIVE MINING (the contrastive-training data op: for each
  // anchor, the nearest candidates with a DIFFERENT label are exactly
  // the "hard negatives" a contrastive/embedding trainer pairs with its
  // positives — random negatives are too easy, same-label neighbors are
  // positives): ann15's filtered search with the label test INVERTED,
  // riding the same shared trained quantizer (SharedArtifacts.cent16),
  // the same candidate-bounded probed-cell equi-join (the inequality is
  // a residual predicate on the cell join, never a post-filter over a
  // corpus-wide top-k), and the same exact-cosine re-rank.
  private val ann22 = Q("ann22_hard_negatives", Some(s"""
    WITH ${ivf16AssignCtes()},
    ${labelFilteredSql(sameLabel = false)}"""),
    (s, d) => labelFilteredTopK(s, d, sameLabel = false))


  // Graph-ANN SEARCH (SimilarityOps.graphAnnSearch — VERDICT r12 #3):
  // the HNSW/NSG-style serving complement of IVF, searched over ann14's
  // trained k-NN graph. Each query seeds at the min-id entry points of
  // its top-2 probed cells, expands the frontier 2 rounds via ONE edge
  // equi-join per round (the dd06 bounded-iteration discipline — no
  // sequential beam state, 10^6 queries batch through the same joins),
  // then exact-cosine re-ranks only the visited pool. Graph edges cross
  // cell boundaries (a node's neighbors live in ITS probed cells), so
  // the walk escapes the nProbe-cell recall horizon that caps every
  // probed-cell op. Same trained centroids and determinism contract as
  // ann14; the oracle replays graph build, entry points, both expansion
  // rounds, and the re-rank.
  private val ann16 = Q("ann16_graph_search", Some(s"""
    WITH ${ivf16AssignCtes()},
    $graphSearchCtes
    SELECT query_id, cast(rank as int) AS rank, neighbor_id, sim
    FROM granked WHERE rank <= 5 ORDER BY query_id, rank"""),
    (s, d) => {
      val emb16 = SharedArtifacts.emb16(s, d)
      // serving query: index artifacts (trained centroids + built k-NN
      // graph) come from the shared session cache — ann08/ann14 own the
      // honest build costs; this query measures the SEARCH
      val idx = SharedArtifacts.centroids16(s, d)
      val g = SharedArtifacts.knnGraph16(s, d)
      SimilarityOps.graphAnnSearch(emb16, "vec_id", "v16", idx, g,
          col("id") < 20, k = 5, nProbe = 2, rounds = 2, roundSim = 6)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"), col("sim"))
        .orderBy("query_id", "rank")
    })


  // Graph-ANN recall, graded head-to-head against IVF on the SAME
  // trained index, query set, and k (the ann07 discipline): recall =
  // |approx ∩ brute-force truth| / (n_queries · k), integer counts +
  // one final division. The graph arm's walk escapes the query's
  // 2-probed-cell horizon via cross-cell edges, which is exactly the
  // recall headroom this query measures against the 'ivf' row
  // (AnnRecallSpec pins graph ≥ ivf). Truth is the 16-dim brute-force
  // top-5, shared by both arms.
  private val ann17 = Q("ann17_graph_recall", Some(s"""
    WITH ${ivf16AssignCtes()},
    $graphSearchCtes,
    a_graph AS (SELECT query_id, neighbor_id FROM granked WHERE rank <= 5),
    $ivfArmCtes,
    ${recall16Sql(Seq("graph" -> "a_graph", "ivf" -> "a_ivf"))}"""),
    (s, d) => {
      val emb16 = SharedArtifacts.emb16(s, d)
      // both arms serve the SAME shared session index (trained centroids
      // + built graph) — the head-to-head grades search quality, not
      // per-arm rebuild cost
      val idx = SharedArtifacts.centroids16(s, d)
      val g = SharedArtifacts.knnGraph16(s, d)
      val graphArm = SimilarityOps.graphAnnSearch(emb16, "vec_id", "v16",
        idx, g, col("id") < 20, k = 5, nProbe = 2, rounds = 2, roundSim = 6)
      val e = emb16.select(col("vec_id").as("id"),
        col("v16").cast("array<double>").as("vec"))
      val ivfArm = SimilarityOps.ivfTopK(e, col("id") < 20, idx,
        k = 5, nProbe = 2, roundSim = 6)
      // one brute-force truth scan, shared by both arms (the ann07 move)
      val truth = truthTopK(e.where(col("id") < 20), e, 5)
      recallOf("graph", graphArm, truth, 5).unionByName(recallOf("ivf", ivfArm, truth, 5))
        .orderBy("method")
    })


  // Graph-search DEPTH curve (the dd17/ann07 measured-quality
  // discipline applied to ann16's walk): recall at expansion depth 1, 2
  // and 3 on the same trained index / query set / k, with the IVF arm
  // as the probed-cell baseline. This is the query a deployment re-runs
  // when tuning the latency/recall knob — each extra round is one more
  // edge equi-join, and the visited pool (hence recall, by the
  // monotone-hits argument in graphAnnSearch's scaladoc) can only grow
  // with depth, so the curve is structurally non-decreasing; where it
  // FLATTENS is the measured answer to "how deep is worth walking". The
  // oracle scores the depth-3 pool once and ranks each depth's subset.
  // A 5th arm, graph_cold_r3, drops the warm start (entry points only —
  // the FOREIGN-query serving case, where the query has no graph node;
  // ivf serves foreign queries natively, so that is the fair fight).
  private val ann18 = Q("ann18_graph_depth_curve", Some(s"""
    WITH ${ivf16AssignCtes()},
    $graphSearchCtes,
    p3sc AS MATERIALIZED (
      SELECT p.query_id, p.node AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM vis3 p
      JOIN v q ON q.vec_id = p.query_id
      JOIN v n ON n.vec_id = p.node
      WHERE p.node <> p.query_id),
    a_r1 AS (SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
        row_number() OVER (PARTITION BY s.query_id ORDER BY s.sim DESC, s.neighbor_id) AS rank
      FROM p3sc s JOIN vis1 p ON p.query_id = s.query_id AND p.node = s.neighbor_id)
      t WHERE rank <= 5),
    a_r2 AS (SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
        row_number() OVER (PARTITION BY s.query_id ORDER BY s.sim DESC, s.neighbor_id) AS rank
      FROM p3sc s JOIN vis p ON p.query_id = s.query_id AND p.node = s.neighbor_id)
      t WHERE rank <= 5),
    a_r3 AS (SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
        row_number() OVER (PARTITION BY s.query_id ORDER BY s.sim DESC, s.neighbor_id) AS rank
      FROM p3sc s) t WHERE rank <= 5),
    pcsc AS (
      SELECT p.query_id, p.node AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM vis3c p
      JOIN v q ON q.vec_id = p.query_id
      JOIN v n ON n.vec_id = p.node
      WHERE p.node <> p.query_id),
    a_c3 AS (SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
        row_number() OVER (PARTITION BY s.query_id ORDER BY s.sim DESC, s.neighbor_id) AS rank
      FROM pcsc s) t WHERE rank <= 5),
    $ivfArmCtes,
    ${recall16Sql(Seq("graph_r1" -> "a_r1", "graph_r2" -> "a_r2", "graph_r3" -> "a_r3",
      "graph_cold_r3" -> "a_c3", "ivf" -> "a_ivf"))}"""),
    (s, d) => {
      val emb16 = SharedArtifacts.emb16(s, d)
      // every depth arm serves the same shared session index — the
      // curve grades walk depth, not per-arm index rebuilds
      val idx = SharedArtifacts.centroids16(s, d)
      val g = SharedArtifacts.knnGraph16(s, d)
      val e = emb16.select(col("vec_id").as("id"),
        col("v16").cast("array<double>").as("vec"))
      val ivfArm = SimilarityOps.ivfTopK(e, col("id") < 20, idx,
        k = 5, nProbe = 2, roundSim = 6)
      val truth = truthTopK(e.where(col("id") < 20), e, 5)
      // ONE walk tags first-reach depth, ONE exact-cosine scoring of the
      // depth-3 pool; each depth ranks its subset (mirrors the oracle's
      // p3sc-once design) — running the single-depth search 3x would
      // re-pay assignment, probing, and the re-rank joins per arm
      val byDepth = graft.operators.Exec.materializeForSelfJoin(
        SimilarityOps.graphAnnSearchByDepth(emb16, "vec_id", "v16", idx, g,
          col("id") < 20, k = 5, nProbe = 2, maxRounds = 3, roundSim = 6))
      // the COLD arm (foreign-query serving: entry points only, no
      // warm start — ivf serves foreign queries natively, so this is
      // the fair fight; the superset guarantee does not hold cold and
      // depth has to buy recall back empirically)
      val cold = SimilarityOps.graphAnnSearchByDepth(emb16, "vec_id", "v16",
        idx, g, col("id") < 20, k = 5, nProbe = 2, maxRounds = 3,
        roundSim = 6, warmStart = false)
      Seq(1, 2, 3).map { r =>
        recallOf(s"graph_r$r", byDepth.where(col("depth") === r), truth, 5)
      }.reduce(_ unionByName _)
        .unionByName(recallOf("graph_cold_r3", cold.where(col("depth") === 3), truth, 5))
        .unionByName(recallOf("ivf", ivfArm, truth, 5))
        .orderBy("method")
    })


  // INCREMENTAL index maintenance (the ann-side member of the
  // incremental family dd08/dd14/dd18): a new batch (vec_id % 5 == 0)
  // arrives against an index whose quantizer was trained on HISTORY
  // alone — the deployment never retrains on ingest; it assigns the
  // batch to the FROZEN centroids (O(batch) work, one broadcast argmax
  // pass) and monitors per-cell occupancy for the retrain trigger
  // (n_new doubling a cell's history population signals quantizer
  // drift — the ANN-index analogue of dd18's sub-bucket monitoring).
  // The oracle replays history-only training (kmeansCtes over `hist`)
  // and the frozen-centroid assignment of history + batch. At
  // deployment the frozen quantizer is the DiskArtifacts persisted form
  // (the cent16/cent64 pattern: bucketed parquet built once, served to
  // every ingest session) — this query trains on `hist` inline only
  // because its oracle must replay the training.
  private val ann19 = Q("ann19_index_update", Some(s"""
    WITH ${ivf16AssignCtes(
      """hist AS (SELECT vec_id, e FROM v WHERE vec_id % 5 <> 0),
    kp AS (SELECT greatest(4, least(4096, (count(*) + 63) // 64)) AS k
             FROM hist),
    """, trainSrc = "hist")}
    SELECT cell,
      cast(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) as bigint) AS n_history,
      cast(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) as bigint) AS n_new,
      cast(CASE WHEN sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) * 2
                     >= sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END as int) AS retrain
    FROM a3 GROUP BY cell ORDER BY cell"""),
    (s, d) => {
      val emb16 = SharedArtifacts.emb16(s, d)
      val hist = emb16.where(col("vec_id") % 5 =!= 0)
      // k scales with the HISTORY population (the kp CTE mirror); the
      // count is a 1-row metadata aggregate, not a corpus shuffle
      val k = SimilarityOps.scaledCellCount(hist.count(), targetCell = 64)
      val frozen = graft.operators.Exec.materializeForSelfJoin(
        SimilarityOps.centroidVectors(
          SimilarityOps.kmeansFit(hist, "vec_id", "v16", k = k,
            iters = 2, samplePerCell = 16), Seq("cell"), "cvec"))
      SimilarityOps.assignToCentroids(
          emb16.select(col("vec_id").cast("long").as("id"),
            col("v16").cast("array<double>").as("vec")),
          "id", "vec", frozen, roundSim = 6)
        .groupBy("cell")
        .agg(
          sum(when(col("id") % 5 =!= 0, 1L).otherwise(0L)).as("n_history"),
          sum(when(col("id") % 5 === 0, 1L).otherwise(0L)).as("n_new"))
        .select(col("cell"), col("n_history"), col("n_new"),
          when(col("n_new") * 2 >= col("n_history"), 1).otherwise(0)
            .cast("int").as("retrain"))
        .orderBy("cell")
    })


  // IVF nProbe/recall curve (ann18's depth-curve discipline applied to
  // the OTHER serving knob): recall at nProbe 1/2/4 on the shared
  // trained index, query set, and k. Structurally non-decreasing — the
  // candidate pool at nProbe p+1 ⊇ p, and the truth items globally
  // dominate the sim order, so hits = |pool ∩ truth| (capped at k) is
  // monotone in the pool. The pool is scored ONCE at nProbe 4 (each
  // corpus vector joins through its single assigned cell, tagged with
  // that cell's probe rank); each arm ranks its prn ≤ p subset — never
  // three assignment passes (the r12 dd21 lesson).
  private val ann20 = Q("ann20_nprobe_curve", Some(s"""
    WITH ${ivf16AssignCtes()},
    qp AS (SELECT vec_id AS query_id, cell,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY csim DESC, cell) AS prn
           FROM s3 WHERE vec_id < 20),
    cand AS (SELECT q.query_id, a3.vec_id AS neighbor_id, min(q.prn) AS prn
             FROM qp q JOIN a3 USING (cell)
             WHERE q.prn <= 4 AND a3.vec_id <> q.query_id
             GROUP BY q.query_id, a3.vec_id),
    csc AS (
      SELECT c.query_id, c.neighbor_id, c.prn,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id),
    a_p1 AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM csc WHERE prn <= 1) t WHERE rank <= 5),
    a_p2 AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM csc WHERE prn <= 2) t WHERE rank <= 5),
    a_p4 AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM csc WHERE prn <= 4) t WHERE rank <= 5),
    ${recall16Sql(Seq("ivf_p1" -> "a_p1", "ivf_p2" -> "a_p2", "ivf_p4" -> "a_p4"))}"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb16 = SharedArtifacts.emb16(s, d)
      val idx = SharedArtifacts.centroids16(s, d)
      val base = graft.operators.Exec.materializeForSelfJoin(
        emb16.select(col("vec_id").cast("long").as("id"),
          col("v16").cast("array<double>").as("vec")))
      val assigned = SimilarityOps.assignToCentroids(base, "id", "vec",
        idx, roundSim = 6)
      val wq = Window.partitionBy("query_id")
        .orderBy(col("_np_qsim").desc, col("cell").asc)
      val probes = base.where(col("id") < 20)
        .select(col("id").as("query_id"), col("vec").as("_np_qv"))
        .crossJoin(broadcast(idx))
        .withColumn("_np_qsim",
          round(SimilarityOps.cosine(col("_np_qv"), col("cvec")), 6))
        .withColumn("prn", row_number().over(wq))
        .where(col("prn") <= 4)
        .select("query_id", "cell", "prn")
      val cand = probes
        .join(assigned.select(col("id").as("neighbor_id"), col("cell")), Seq("cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id", "neighbor_id").agg(min("prn").as("prn"))
      val qv = base.select(col("id").as("query_id"), col("vec").as("_np_qvec"))
      val nv = base.select(col("id").as("neighbor_id"), col("vec").as("_np_nvec"))
      // score the nProbe-4 pool ONCE; each arm ranks its prn <= p subset
      val scored = graft.operators.Exec.materializeForSelfJoin(
        cand.join(broadcast(qv.where(col("query_id") < 20)), Seq("query_id"))
          .join(nv, Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"), col("prn"),
            round(SimilarityOps.cosine(col("_np_qvec"), col("_np_nvec")), 6)
              .as("sim")))
      val wr = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      val e = base.select(col("id"), col("vec"))
      val truth = truthTopK(e.where(col("id") < 20), e, 5)
      Seq(1, 2, 4).map { p =>
        recallOf(s"ivf_p$p", scored.where(col("prn") <= p)
          .withColumn("rank", row_number().over(wr)).where(col("rank") <= 5),
          truth, 5)
      }.reduce(_ unionByName _).orderBy("method")
    })


  // Exact maximum-inner-product top-k (SimilarityOps.mipsTopK — the
  // recommender-scoring objective, where NORM is signal and cosine's
  // normalization would erase it; the ann01 family's missing metric).
  // floor(x·2^20) quantization makes every score an exact integer —
  // power-of-two double scaling is IEEE-exact — so the (dot desc, id)
  // ranking is a cross-engine total order with no rounding step; the
  // corpus streams once against the 10-query broadcast through the
  // fused native integer-dot expression (ann12's hot path).
  private val ann21 = Q("ann21_mips_topk", Some("""
    WITH v AS (SELECT vec_id,
        list_transform(cast(embedding as double[]),
          x -> cast(floor(x * 1048576.0) as bigint)) AS q
      FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        cast(list_sum(list_transform(generate_series(1, 64),
          i -> a.q[i] * c.q[i])) as bigint) AS dot_q
      FROM v a JOIN v c ON a.vec_id <> c.vec_id
      WHERE a.vec_id < 10)
    SELECT query_id, neighbor_id, dot_q, rank FROM (
      SELECT query_id, neighbor_id, dot_q,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY dot_q DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => SimilarityOps.mipsTopK(T(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") < 10, k = 10)
      .orderBy("query_id", "rank"))


  // Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
  // 1998 — the serving tail pass that keeps a RAG context window or
  // hard-negative batch from filling with near-duplicates of one
  // neighbourhood): pool = exact-cosine top-8 per query (nano-unit
  // sims — bit-identical doubles before rounding, the ann01 evaluation
  // order), then 4 greedy rounds of score = 7·rel − 3·max-sim-to-
  // selected, all exact longs. The one corpus-sized pass is the pool
  // scoring (queries broadcast, the ann01 shape); the pairwise table
  // and every greedy round run on queries × 8 rows. The oracle replays
  // the pool, the pairwise sims, and each greedy round CTE-by-CTE.
  private val ann24 = Q("ann24_mmr_diversify", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        cast(round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i]))))
          * 1000000000.0) as bigint) AS rel
      FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 5),
    pool AS (SELECT query_id, neighbor_id, rel FROM (
        SELECT query_id, neighbor_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
        FROM sc) t WHERE rn <= 8),
    pw AS (SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
        cast(round(list_sum(list_transform(generate_series(1, 64), i -> va.e[i] * vb.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> va.e[i] * va.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> vb.e[i] * vb.e[i]))))
          * 1000000000.0) as bigint) AS s
      FROM pool p1 JOIN pool p2 ON p1.query_id = p2.query_id
        AND p1.neighbor_id <> p2.neighbor_id
      JOIN v va ON va.vec_id = p1.neighbor_id
      JOIN v vb ON vb.vec_id = p2.neighbor_id),
    sel1 AS (SELECT query_id, neighbor_id, 1 AS pick, rel,
        rel * 7 AS score FROM (
        SELECT query_id, neighbor_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel * 7 DESC, neighbor_id) AS rn
        FROM pool) t WHERE rn = 1),
    ${mmrRoundCtes(2)},
    ${mmrRoundCtes(3)},
    ${mmrRoundCtes(4)}
    SELECT query_id, neighbor_id, pick, rel AS rel_nano, score AS score_nano
    FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
          UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4) u
    ORDER BY query_id, pick"""),
    (s, d) => SimilarityOps.mmrDiversify(T(s, d, "embeddings"), "vec_id",
        "embedding", col("_mid") < 5, poolK = 8, k = 4, lambdaTenths = 7)
      .orderBy("query_id", "pick"))


  // Reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
  // Buettcher 2009 — the industry-standard lexical+dense combiner):
  // for each query document, arm 1 ranks candidates by shared distinct
  // word-3-shingle count (the dd20 set representation, served from the
  // shared SharedArtifacts.docShingles3 kernel — exact integers), arm 2
  // by exact cosine over the document's embedding (the ann01 shape,
  // 6-decimal rounding); each arm's top-20 contributes
  // 10^9 div (60 + rank) and the fused top-10 orders by the all-integer
  // sum. documents and embeddings share the id space by corpus
  // construction — the realistic "one item, two representations" setup.
  private val ann25 = Q("ann25_rrf_fusion", Some(s"""
    WITH $lexArmCtes,
    v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    dsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 5),
    dense AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM dsc) t WHERE rank <= 20),
    arms AS (
      SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS c FROM lex
      UNION ALL
      SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS c FROM dense),
    fused AS (SELECT query_id, neighbor_id,
        cast(count(*) as bigint) AS n_arms,
        cast(sum(c) as bigint) AS rrf_nano
      FROM arms GROUP BY 1, 2)
    SELECT query_id, neighbor_id, n_arms, rrf_nano, rank FROM (
      SELECT query_id, neighbor_id, n_arms, rrf_nano, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_nano DESC, neighbor_id) AS rank
      FROM fused) t
    WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val lex = lexArm(s, d)
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dense = SimilarityOps.bruteForceTopK(
        emb.where(col("id") < 5), emb, k = 20)
      SimilarityOps.rrfFuse(Seq(
          lex.select("query_id", "neighbor_id", "rank"),
          dense.select("query_id", "neighbor_id", "rank")),
          kConst = 60, topK = 10)
        .select("query_id", "neighbor_id", "n_arms", "rrf_nano", "rank")
        .orderBy("query_id", "rank")
    })


  // Measured hybrid-retrieval quality (the ann07/dd17 grading
  // discipline applied to the fusion family): recall@10 against exact
  // cosine truth for (a) the lexical shingle-overlap arm, (b) the
  // LSH-bucketed dense arm (ann02's approximate index — NOT exact
  // cosine, which would grade itself), and (c) their RRF fusion of the
  // two top-20 lists. On THIS corpus the numbers are honest and low:
  // the synthetic documents and embeddings are generated independently,
  // so the lexical arm carries no signal about cosine truth (recall 0)
  // and fusion ≈ its dense arm — the measured-grading harness, query
  // sets, and fusion plumbing are the deliverable, exactly as ann07's
  // harness is for the quantized arms. All components are the audited
  // bounded shapes (query broadcast, banded bucket join, integer
  // fusion).
  private val ann26 = Q("ann26_fusion_recall", Some(s"""
    WITH $lexArmCtes,
    v AS (SELECT vec_id, cast(embedding as double[]) AS e,
        concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings),
    lshsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON c.bucket = q.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 5),
    lsh AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM lshsc) t WHERE rank <= 20),
    tsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6) AS sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 5),
    truth AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM tsc) t WHERE rank <= 10),
    arms AS (
      SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS c FROM lex
      UNION ALL
      SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS c FROM lsh),
    fused AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
        FROM (SELECT query_id, neighbor_id, cast(sum(c) as bigint) AS rrf
              FROM arms GROUP BY 1, 2) f) t
      WHERE rank <= 10),
    nq AS (SELECT count(DISTINCT query_id) AS n_queries FROM truth),
    h AS (
      SELECT 'lex' AS method, count(*) AS total_hits
      FROM (SELECT query_id, neighbor_id FROM lex WHERE rank <= 10) a
      JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh', count(*)
      FROM (SELECT query_id, neighbor_id FROM lsh WHERE rank <= 10) a
      JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'rrf', count(*) FROM fused JOIN truth USING (query_id, neighbor_id))
    SELECT h.method, cast(nq.n_queries as bigint) AS n_queries,
      cast(h.total_hits as bigint) AS total_hits,
      cast(h.total_hits as double) / (nq.n_queries * 10) AS recall
    FROM h CROSS JOIN nq ORDER BY h.method"""),
    (s, d) => {
      val lex20 = lexArm(s, d)
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.where(col("id") < 5)
      val lsh20 = SimilarityOps.lshTopK(q, emb, k = 20)
      val truth = truthTopK(q, emb, 10)
      val fused = SimilarityOps.rrfFuse(Seq(
          lex20.select("query_id", "neighbor_id", "rank"),
          lsh20.select("query_id", "neighbor_id", "rank")),
          kConst = 60, topK = 10)
      recallOf("lex", lex20.where(col("rank") <= 10), truth, 10)
        .unionByName(recallOf("lsh", lsh20.where(col("rank") <= 10), truth, 10))
        .unionByName(recallOf("rrf", fused, truth, 10))
        .orderBy("method")
    })


  // IVF index-quality diagnostics (FAISS's imbalance factor — the
  // number an ANN operator watches before trusting probe costs:
  // k·Σ(cell_size²)/N², 1.0 = perfectly balanced, k = one hot cell):
  // one full-corpus assignment against the SHARED trained 16-cell
  // quantizer (the artifact ann07/ann11/ann13/ann22/ann23 already
  // serve), then a 16-row aggregate. All-integer output; the milli
  // division forms n² — fine up to ~3·10⁹ vectors, past which the
  // diagnostic runs per shard anyway (documented).
  private val ann27 = Q("ann27_ivf_imbalance", Some(s"""
    WITH v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    $km64TrainCtes,
    cs AS (SELECT cell, cast(count(*) as bigint) AS s FROM kta GROUP BY cell),
    tot AS (SELECT cast(sum(s) as bigint) AS n,
        cast(count(*) as bigint) AS used,
        cast(min(s) as bigint) AS min_cell, cast(max(s) as bigint) AS max_cell,
        cast(sum(s * s) as bigint) AS ss FROM cs)
    SELECT n AS n_vectors, used AS n_cells_used, min_cell, max_cell,
      16 * ss * 1000 // (n * n) AS imbalance_milli
    FROM tot WHERE n > 0"""),
    (s, d) => {
      val idx = SharedArtifacts.centroids64(s, d)
      val emb = T(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cs = SimilarityOps.assignToCentroids(emb, "id", "vec", idx)
        .groupBy("cell").agg(count(lit(1)).as("s"))
      cs.agg(sum("s").cast("long").as("n_vectors"),
          count(lit(1)).cast("long").as("n_cells_used"),
          min("s").cast("long").as("min_cell"),
          max("s").cast("long").as("max_cell"),
          sum(col("s") * col("s")).cast("long").as("_ss"))
        .where(col("n_vectors") > 0) // empty corpus: no diagnostic row
        .select(col("n_vectors"), col("n_cells_used"), col("min_cell"),
          col("max_cell"),
          expr("16 * _ss * 1000 div (n_vectors * n_vectors)")
            .as("imbalance_milli"))
    })

  private[queries] def annQueries: Seq[Q] = Seq(
    ann01, ann02, ann03, ann04, ann05, ann06, ann07, ann08, ann09, ann10, ann11, ann12, ann13, ann14, ann15, ann16, ann17, ann18, ann19, ann20, ann21, ann22, ann23, ann24, ann25, ann26, ann27)
}
