package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Helpers + shared oracle CTE strings every query family uses
  * (decimal money discipline, table reader, reusable DuckDB CTE blocks).
  * Initializes FIRST in Catalog's trait linearization, so family Q vals
  * can bake these vals into their SQL at construction time.
  */
private[queries] trait CatalogShared {



  // ---- decimal helpers: exact money aggregation ----------------------
  protected def d12(c: Column): Column = c.cast("decimal(12,2)")

  protected def d3(c: Column): Column  = c.cast("decimal(3,2)")

  protected val oneD: Column           = lit(1).cast("decimal(3,2)")

  /** sum(money) -> rounded double, exact and partition-order-independent */
  protected def sumMoney(c: Column): Column = round(sum(d12(c)), 2).cast("double")

  /** avg = exact decimal sum cast double / count — one IEEE division */
  protected def avgMoney(c: Column): Column = sum(d12(c)).cast("double") / count(lit(1))


  protected def T(s: SparkSession, d: String, n: String): DataFrame = Tables.table(s, d, n)


  /** State partition count for the catalog's streaming queries. Stateful
    * operators materialize one state-store instance per partition (four
    * per partition for a stream-stream join) and commit cost is per
    * instance, so this is sized to the test corpus's stream volume, NOT
    * inherited from the batch shuffle setting — see
    * [[graft.streaming.StreamingOps.withStatePartitions]] for the
    * profiled 8.6s → 3.1s effect on q51. On a production stream this is
    * the knob you raise with throughput.
    */
  protected val streamStatePartitions: Option[Int] = Some(4)


  // Shared minhash CTE chain (shingle -> 16-hash signature -> 4 bands of
  // 4 rows) used by the dd02 pair oracle and the dd06 clustering oracle.
  protected val minhashCtes = """sh AS (
      SELECT doc_id,
        CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 3 THEN
          list_transform(
            generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
            i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                 regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                 regexp_split_to_array(trim(text), '\s+')[i+2])
        ELSE [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')] END AS shingles
      FROM documents),
    sig AS (
      SELECT doc_id,
        list_transform(generate_series(0, 15),
          seed -> list_aggregate(
            list_transform(shingles, x -> md5(cast(seed as varchar) || ':' || x)),
            'min')) AS sig
      FROM sh),
    bands AS (
      SELECT doc_id, b.band_id,
        md5(sig[b.band_id*4+1] || '|' || sig[b.band_id*4+2] || '|' ||
            sig[b.band_id*4+3] || '|' || sig[b.band_id*4+4]) AS band_key
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b)"""


  // Bucket width scales with corpus size, mirroring
  // SimilarityOps.scaledAxisCount's integer formula: m = ceil(n/32),
  // naxes = clamp(ceil_log2(m), 4, 16) — a CASE ladder keeps it exact
  // (no float-log boundary risk) up to n = 32*4096.
  protected val ddEmbedSql = """
    WITH p AS (
      SELECT least(16, CASE WHEN m <= 16 THEN 4 WHEN m <= 32 THEN 5
        WHEN m <= 64 THEN 6 WHEN m <= 128 THEN 7 WHEN m <= 256 THEN 8
        WHEN m <= 512 THEN 9 WHEN m <= 1024 THEN 10 WHEN m <= 2048 THEN 11
        WHEN m <= 4096 THEN 12 ELSE cast(ceil(log2(m)) as int) END) AS naxes
      FROM (SELECT (count(*) + 31) // 32 AS m FROM embeddings)),
    v AS (SELECT vec_id, cast(embedding as double[]) AS e,
               array_to_string(list_transform(generate_series(1, p.naxes),
                 i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings, p)
    SELECT l.vec_id AS id1, r.vec_id AS id2,
      round(list_sum(list_transform(generate_series(1, 64), i -> l.e[i] * r.e[i]))
        / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> l.e[i] * l.e[i])))
         * sqrt(list_sum(list_transform(generate_series(1, 64), i -> r.e[i] * r.e[i])))), 4) AS sim
    FROM v l JOIN v r ON l.bucket = r.bucket
    WHERE l.vec_id < r.vec_id
      AND round(list_sum(list_transform(generate_series(1, 64), i -> l.e[i] * r.e[i]))
        / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> l.e[i] * l.e[i])))
         * sqrt(list_sum(list_transform(generate_series(1, 64), i -> r.e[i] * r.e[i])))), 4) >= 0.35
    ORDER BY id1, id2"""


  // IVF-style ANN: corpus assigned to nearest of 16 deterministic seed
  // centroids (vec_id < 16); queries probe their top-2 cells; exact
  // search only within probed cells. The cell equi-join is the shuffle
  // key — candidate count is bounded by cell sizes, never O(n^2).
  protected val ivfCos = """round(list_sum(list_transform(generate_series(1, 64), i -> %s.e[i] * %s.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> %s.e[i] * %s.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> %s.e[i] * %s.e[i])))), 6)"""


  // TPC-H Q21 shape (EXISTS + NOT EXISTS, both correlated): suppliers
  // whose returned item sits in a multi-supplier order where no other
  // supplier's item was returned. Same SQL text runs on both engines —
  // this is the spark.sql Athena-replacement surface; Catalyst plans the
  // two subqueries as left-semi and left-anti joins.
  protected val q54Sql = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name"""


  // NOT IN subquery (null-free key set -> plans as an anti join).
  protected val q55Sql = """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      AND c_custkey <= 1000
    ORDER BY c_custkey"""


  // CTE referenced twice (argmax-by-aggregate). DuckDB materializes a
  // multiply-referenced CTE; Catalyst inlines it (the static plan showed
  // 8 scans — the 4-table join built twice). The Spark side therefore
  // materializes the CTE explicitly (localCheckpoint + temp view) and
  // runs the same outer SQL — computing the join once, which is what a
  // Spark user must do by hand where DuckDB's optimizer does it for them.
  protected val q56RevSql = """
    SELECT n.n_name,
      cast(round(sum(cast(l.l_extendedprice as decimal(12,2))
        * (cast(1 as decimal(3,2)) - cast(l.l_discount as decimal(3,2)))), 2) as double) AS revenue
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY n.n_name"""


  // Correlated LATERAL subquery with ORDER BY + LIMIT: per-nation top-2
  // customers by balance — the "top-k per outer row" join shape.
  protected val q64Sql = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n_name, c_acctbal DESC, c_custkey"""


  // ANN recall harness (VERDICT r5/r6 stretch): grade each approximate
  // config — LSH (ann02), seed-IVF (ann04), PQ (ann06), and the
  // TRAINED-centroid IVF (kmeansFit-trained index probed via ivfTopK —
  // the config you'd actually deploy, VERDICT r9 #4) — against
  // brute-force cosine ground truth on ITS OWN query set and k.
  // recall = sum over queries of |approx ∩ truth| / (n_queries * k);
  // integer counts + one final double division, so the value is exact on
  // any engine. This is the query you re-run when tuning bucket axes /
  // probe count / block size: correctness of the approximation becomes a
  // measured, asserted number (AnnRecallSpec pins floors) instead of a
  // hope. The trained arm shares seed-IVF's query set and k, so the two
  // recalls are directly comparable.
  protected val km64Cos = """round(list_sum(list_transform(generate_series(1, 64), i -> %s.e[i] * %s.ce[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> %s.e[i] * %s.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 64), i -> %s.ce[i] * %s.ce[i])))), 6)"""

  /** The 2-iteration PQ training chain (through m2) parameterized by its
    * training source CTE — `v` for raw vectors (ann07/ann09/ann10/ann11),
    * `vres` for coarse-quantizer residuals (ann13). Defined BEFORE
    * ann07 — string vals initialize in declaration order, and a forward
    * reference interpolates as literal "null" (defs are order-free).
    */
  protected def pqTrainCtesFrom(src: String) = s"""smp AS (SELECT vec_id, e FROM (
             SELECT vec_id, e, row_number() OVER (
               ORDER BY md5('pq:' || cast(vec_id as varchar)), vec_id) AS srn
             FROM $src) t WHERE srn <= 64),
    rws AS (SELECT vec_id, b.blk,
             list_slice(e, b.blk * 8 + 1, b.blk * 8 + 8) AS sv
            FROM smp, (SELECT unnest(generate_series(0, 7)) AS blk) b),
    seeds AS (SELECT vec_id FROM smp ORDER BY vec_id LIMIT 4),
    c0 AS (SELECT r.blk, r.vec_id AS code, r.sv AS cv
           FROM rws r JOIN seeds s ON r.vec_id = s.vec_id),
    d1 AS (SELECT r.vec_id, r.blk, c.code,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (r.sv[i] - c.cv[i]) * (r.sv[i] - c.cv[i]))), 6) AS d
           FROM rws r JOIN c0 c ON r.blk = c.blk),
    a1 AS (SELECT vec_id, blk, code FROM (
             SELECT vec_id, blk, code, row_number() OVER (
               PARTITION BY vec_id, blk ORDER BY d, code) AS rn
             FROM d1) t WHERE rn = 1),
    x1 AS (SELECT a.blk, a.code, unnest(generate_series(0, 7)) AS dim,
             unnest(list_transform(r.sv,
               y -> cast(floor(y * 1048576.0) as bigint))) AS q
           FROM a1 a JOIN rws r ON r.vec_id = a.vec_id AND r.blk = a.blk),
    m1 AS (SELECT blk, code, dim, count(*) AS n_vectors,
             cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
           FROM x1 GROUP BY blk, code, dim),
    c1 AS (SELECT c0.blk, c0.code, coalesce(cm.cv, c0.cv) AS cv
           FROM c0 LEFT JOIN (SELECT blk, code, list(mean ORDER BY dim) AS cv
                              FROM m1 GROUP BY blk, code) cm
             ON c0.blk = cm.blk AND c0.code = cm.code),
    d2 AS (SELECT r.vec_id, r.blk, c.code,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (r.sv[i] - c.cv[i]) * (r.sv[i] - c.cv[i]))), 6) AS d
           FROM rws r JOIN c1 c ON r.blk = c.blk),
    a2 AS (SELECT vec_id, blk, code FROM (
             SELECT vec_id, blk, code, row_number() OVER (
               PARTITION BY vec_id, blk ORDER BY d, code) AS rn
             FROM d2) t WHERE rn = 1),
    x2 AS (SELECT a.blk, a.code, unnest(generate_series(0, 7)) AS dim,
             unnest(list_transform(r.sv,
               y -> cast(floor(y * 1048576.0) as bigint))) AS q
           FROM a2 a JOIN rws r ON r.vec_id = a.vec_id AND r.blk = a.blk),
    m2 AS (SELECT blk, code, dim, count(*) AS n_vectors,
             cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
           FROM x2 GROUP BY blk, code, dim)"""

  protected val pqTrainCtesNoV = pqTrainCtesFrom("v")


  /** Shared oracle CTE chain: the 16-cell k-means coarse quantizer over
    * the full 64-dim embeddings (2 Lloyd's iterations on the 256-row
    * salted-md5 sample — [[graft.operators.SimilarityOps.kmeansFit]]
    * with k=16, samplePerCell=16), through the trained centroids (kc2)
    * and the FULL-corpus assignment (ktr scored / kta assigned).
    * ann07's trained-IVF arm and ann11's IVFADC coarse half share it
    * verbatim; requires a `v (vec_id, e double[64])` CTE in scope.
    */
  protected val km64TrainCtes = s"""ksmp AS (SELECT vec_id, e FROM (
        SELECT vec_id, e, row_number() OVER (
          ORDER BY md5('km:' || cast(vec_id as varchar)), vec_id) AS srn
        FROM v) t WHERE srn <= 256),
    kc0 AS (SELECT vec_id AS cell, e AS ce FROM (
        SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn
        FROM ksmp) t WHERE rn <= 16),
    ks1 AS (SELECT ksmp.vec_id, kc0.cell,
          ${km64Cos.format("ksmp", "kc0", "ksmp", "ksmp", "kc0", "kc0")} AS csim
        FROM ksmp CROSS JOIN kc0),
    ka1 AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ks1) t WHERE rn = 1),
    kx1 AS (SELECT ka1.cell, unnest(generate_series(0, 63)) AS dim,
          unnest(list_transform(ksmp.e, y -> cast(floor(y * 1048576.0) as bigint))) AS q
        FROM ka1 JOIN ksmp USING (vec_id)),
    km1 AS (SELECT cell, dim, count(*) AS n_vectors,
          cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
        FROM kx1 GROUP BY cell, dim),
    kc1 AS (SELECT kc0.cell, coalesce(cm.ce, kc0.ce) AS ce
        FROM kc0 LEFT JOIN (SELECT cell, list(mean ORDER BY dim) AS ce
                            FROM km1 GROUP BY cell) cm USING (cell)),
    ks2 AS (SELECT ksmp.vec_id, kc1.cell,
          ${km64Cos.format("ksmp", "kc1", "ksmp", "ksmp", "kc1", "kc1")} AS csim
        FROM ksmp CROSS JOIN kc1),
    ka2 AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ks2) t WHERE rn = 1),
    kx2 AS (SELECT ka2.cell, unnest(generate_series(0, 63)) AS dim,
          unnest(list_transform(ksmp.e, y -> cast(floor(y * 1048576.0) as bigint))) AS q
        FROM ka2 JOIN ksmp USING (vec_id)),
    km2 AS (SELECT cell, dim, count(*) AS n_vectors,
          cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
        FROM kx2 GROUP BY cell, dim),
    kc2 AS (SELECT cell, list(mean ORDER BY dim) AS ce FROM km2 GROUP BY cell),
    ktr AS (SELECT v.vec_id, kc2.cell,
          ${km64Cos.format("v", "kc2", "v", "v", "kc2", "kc2")} AS csim
        FROM v CROSS JOIN kc2),
    kta AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
        FROM ktr) t WHERE rn = 1)"""

  protected val annBruteSql =
    """SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        row_number() OVER (PARTITION BY q.vec_id ORDER BY
          round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * c.e[i]))
            / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
             * sqrt(list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * c.e[i])))), 6)
          DESC, c.vec_id) AS rank
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE %s) t WHERE rank <= %d"""


  // K-means IVF index TRAINING (SimilarityOps.kmeansFit): two Lloyd's
  // iterations over a BOUNDED deterministic training sample (the
  // samplePerCell × k smallest salted-md5 draws — the dp02/dp06/dp07
  // discipline, mirrored in the smp CTE; sample-based training is the
  // standard 100 TB move, VERDICT r9 #3) from the 4 smallest-id seeds
  // over 16-dim slices — assign by rounded cosine (ties to the lower
  // cell id), re-estimate by the fixed-point M-step, empty cells keep
  // their previous centroid. Every step is deterministic, so the oracle
  // replays both iterations CTE-by-CTE and the final long-form centroid
  // table hash-matches exactly. The per-iteration plans run eagerly
  // behind localCheckpoint (SimilarityOps.kmeansFit's loop), so the k-row
  // centroid broadcast stays out of the final audited plan.
  protected val km16Cos = """round(list_sum(list_transform(generate_series(1, 16), i -> %s.e[i] * %s.ce[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> %s.e[i] * %s.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> %s.ce[i] * %s.ce[i])))), 6)"""

  /** Shared oracle CTE chain for the 2-iteration sample-trained k-means
    * (through m2 — the second M-step); ann08 reads m2 directly, dd13
    * extends it with the trained-centroid FULL-corpus assignment and
    * within-cell pair scan. Parameters: `preCtes` (extra leading CTEs,
    * e.g. dd13's corpus-size `kp`), `capExpr` (SQL expression for the
    * training-sample cap = samplePerCell × k, mirroring
    * [[graft.operators.SimilarityOps.kmeansFit]]'s salted-md5 prefix
    * draw), and the seed CTE(s): ann08 trains a fixed 4-cell demo index,
    * dd13 derives k from the corpus size
    * ([[graft.operators.SimilarityOps.scaledCellCount]] mirrored in its
    * `kp` CTE) so cell population stays bounded as n grows.
    */
  protected def kmeansCtes(preCtes: String, capExpr: String, seedCtes: String,
      trainSrc: String = "v") =
    s"""v AS MATERIALIZED (SELECT vec_id, list_slice(cast(embedding as double[]), 1, 16) AS e
               FROM embeddings),
    ${preCtes}smp AS MATERIALIZED (SELECT vec_id, e FROM (
             SELECT vec_id, e, row_number() OVER (
               ORDER BY md5('km:' || cast(vec_id as varchar)), vec_id) AS srn
             FROM $trainSrc) t WHERE srn <= $capExpr),
    $seedCtes,
    s1 AS (SELECT smp.vec_id, c0.cell,
             ${km16Cos.format("smp", "c0", "smp", "smp", "c0", "c0")} AS csim
           FROM smp CROSS JOIN c0),
    a1 AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s1) t WHERE rn = 1),
    x1 AS (SELECT a1.cell, unnest(generate_series(0, 15)) AS dim,
             unnest(list_transform(smp.e, y -> cast(floor(y * 1048576.0) as bigint))) AS q
           FROM a1 JOIN smp USING (vec_id)),
    m1 AS (SELECT cell, dim, count(*) AS n_vectors,
             cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
           FROM x1 GROUP BY cell, dim),
    c1 AS (SELECT c0.cell, coalesce(cm.ce, c0.ce) AS ce
           FROM c0 LEFT JOIN (SELECT cell, list(mean ORDER BY dim) AS ce
                              FROM m1 GROUP BY cell) cm USING (cell)),
    s2 AS (SELECT smp.vec_id, c1.cell,
             ${km16Cos.format("smp", "c1", "smp", "smp", "c1", "c1")} AS csim
           FROM smp CROSS JOIN c1),
    a2 AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s2) t WHERE rn = 1),
    x2 AS (SELECT a2.cell, unnest(generate_series(0, 15)) AS dim,
             unnest(list_transform(smp.e, y -> cast(floor(y * 1048576.0) as bigint))) AS q
           FROM a2 JOIN smp USING (vec_id)),
    m2 AS (SELECT cell, dim, count(*) AS n_vectors,
             cast(sum(q) as double) / (count(*) * 1048576.0) AS mean
           FROM x2 GROUP BY cell, dim)"""


  // Trained product quantization (SimilarityOps.pqFit): per-block
  // Lloyd's over 8-dim sub-vectors — the trained-codebook counterpart
  // of ann06's sign-bit demo, ann08's per-subspace analogue. Assignment
  // by rounded squared L2 (ties to the lower code id), fixed-point
  // M-step, empty codes keep their previous entry; training on the
  // bounded salt-"pq:" sample. Every step deterministic, so the oracle
  // replays both iterations CTE-by-CTE per block and the final
  // long-form codebook hash-matches exactly.
  /** Shared oracle CTE chain for the 2-iteration per-block PQ training
    * (through m2); ann09 reads m2 directly, ann10 extends it with the
    * full-corpus encoding and the ADC lookup.
    */
  protected val pqTrainCtes =
    """v AS (SELECT vec_id, cast(embedding as double[]) AS e FROM embeddings),
    """ + pqTrainCtesNoV


  
/** Shared oracle tail for the graph-ANN pair (ann16/ann17): ann14's
    * trained k-NN graph (knn), per-cell min-id entry points plus the
    * query's own node as a warm-start seed (queries are corpus members,
    * so the pool ⊇ the query's outgoing edges = the ivf result), the
    * bounded 2-round frontier expansion for queries vec_id < 20, and
    * the exact-cosine re-rank over the visited pool. The unpruned
    * replay (seeds ∪ f1 ∪ f2) reaches the identical visited set as the
    * operator's anti-join-pruned walk — expand distributes over union
    * and re-expanding a visited node only re-reaches visited nodes.
    */
  protected val graphSearchCtes = s"""pr AS MATERIALIZED (SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3) t WHERE rn <= 2),
    kcand AS MATERIALIZED (SELECT pr.query_id, a3.vec_id AS neighbor_id
             FROM pr JOIN a3 USING (cell)
             WHERE a3.vec_id <> pr.query_id),
    kscored AS MATERIALIZED (
      SELECT c.query_id, c.neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM kcand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id),
    knn AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM kscored) t WHERE rank <= 5),
    ep AS MATERIALIZED (SELECT cell, min(vec_id) AS node FROM a3 GROUP BY cell),
    qpr AS MATERIALIZED (SELECT vec_id AS query_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3 WHERE vec_id < 20) t WHERE rn <= 2),
    seeds AS MATERIALIZED (SELECT q.query_id, e.node FROM qpr q JOIN ep e USING (cell)
              UNION SELECT vec_id, vec_id FROM v WHERE vec_id < 20),
    gu AS MATERIALIZED (SELECT query_id AS src, neighbor_id AS dst FROM knn
           UNION SELECT neighbor_id, query_id FROM knn),
    f1 AS MATERIALIZED (SELECT DISTINCT s.query_id, u.dst AS node
           FROM seeds s JOIN gu u ON u.src = s.node),
    f2 AS MATERIALIZED (SELECT DISTINCT f.query_id, u.dst AS node
           FROM f1 f JOIN gu u ON u.src = f.node),
    f3 AS MATERIALIZED (SELECT DISTINCT f.query_id, u.dst AS node
           FROM f2 f JOIN gu u ON u.src = f.node),
    vis1 AS MATERIALIZED (SELECT query_id, node FROM seeds
             UNION SELECT query_id, node FROM f1),
    vis AS MATERIALIZED (SELECT query_id, node FROM seeds
            UNION SELECT query_id, node FROM f1
            UNION SELECT query_id, node FROM f2),
    vis3 AS MATERIALIZED (SELECT query_id, node FROM vis
             UNION SELECT query_id, node FROM f3),
    gpool AS MATERIALIZED (SELECT query_id, node AS neighbor_id FROM vis WHERE node <> query_id),
    gsc AS MATERIALIZED (
      SELECT p.query_id, p.neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM gpool p
      JOIN v q ON q.vec_id = p.query_id
      JOIN v n ON n.vec_id = p.neighbor_id),
    granked AS MATERIALIZED (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM gsc),
    seeds_c AS MATERIALIZED (SELECT DISTINCT q.query_id, e.node FROM qpr q JOIN ep e USING (cell)),
    f1c AS MATERIALIZED (SELECT DISTINCT s.query_id, u.dst AS node
            FROM seeds_c s JOIN gu u ON u.src = s.node),
    f2c AS MATERIALIZED (SELECT DISTINCT f.query_id, u.dst AS node
            FROM f1c f JOIN gu u ON u.src = f.node),
    f3c AS MATERIALIZED (SELECT DISTINCT f.query_id, u.dst AS node
            FROM f2c f JOIN gu u ON u.src = f.node),
    vis3c AS MATERIALIZED (SELECT query_id, node FROM seeds_c
              UNION SELECT query_id, node FROM f1c
              UNION SELECT query_id, node FROM f2c
              UNION SELECT query_id, node FROM f3c)"""


  // Integer PageRank over the customer -> supplier trade graph: 5 damped
  // power iterations in pure BIGINT micro-units (rank div outdeg floor
  // division), so both engines compute bit-identical ranks — the usual
  // float PageRank can never hash-match across engines. Graph importance
  // scores like this weight link-derived training corpora. Suppliers are
  // offset into a disjoint id space; dangling mass is dropped (floored)
  // identically on both sides.
  protected def pagerankIterSql(prev: String): String = s"""
      SELECT n.node,
        (15 * (SELECT init FROM meta)) // 100
          + (85 * coalesce(c.contrib, 0)) // 100 AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, cast(sum(r.pr // d.deg) as bigint) AS contrib
        FROM $prev r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src
        GROUP BY e.dst) c ON c.node = n.node"""


  /** One synchronous label-propagation round (q92's oracle): each node
    * adopts the most frequent label among its neighbors in `$prev`,
    * ties to the smaller label — mirrored op-for-op by
    * `GraphOps.labelPropagation`.
    */
  protected def lpIterSql(prev: String): String = s"""
      SELECT node, label FROM (
        SELECT node, label,
          row_number() OVER (PARTITION BY node
                             ORDER BY cnt DESC, label) AS rk
        FROM (SELECT e.s AS node, l.label, count(*) AS cnt
              FROM und e JOIN $prev l ON l.node = e.t
              GROUP BY e.s, l.label) c) t
      WHERE rk = 1"""


  /** One personalized-pagerank power iteration (q87's oracle): teleport
    * mass returns ONLY to the seed set (q68's uniform `init` becomes a
    * seed-conditional `sinit`), random-walk mass flows over the
    * symmetrized edge set `eu` with its degrees `degu`.
    */
  protected def pprIterSql(prev: String): String = s"""
      SELECT n.node,
        (CASE WHEN s.node IS NOT NULL
              THEN (15 * (SELECT sinit FROM smeta)) // 100 ELSE 0 END)
          + (85 * coalesce(c.contrib, 0)) // 100 AS pr
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node
      LEFT JOIN (
        SELECT eu.dst AS node, cast(sum(r.pr // d.deg) as bigint) AS contrib
        FROM $prev r JOIN eu ON eu.src = r.node JOIN degu d ON d.src = eu.src
        GROUP BY eu.dst) c ON c.node = n.node"""


  /** Shared oracle chain for the exact-cluster family (dd21 roster,
    * dp26 canonical selection): dd20's prefix-filtered exact-Jaccard
    * join replayed end-to-end, plus the UNION-recursive component
    * fixpoint `reach` (min(lab) per id = the CC label). Plain triple
    * quotes — `\\s` stays a single backslash; interpolating callers
    * splice it verbatim.
    */
  /** dd20's exact-Jaccard τ=1/2 verified-pair chain (prefix filter +
    * intersection verify), through CTE `epairs` [id1, id2] — shared by
    * the cluster oracles (dd21 et al.) and dp34's leakage audit.
    */
  protected val jaccPairCtes = """toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
    shl AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(t) >= 3 THEN
          list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks),
    sh AS (SELECT doc_id AS id, unnest(shingles) AS sh FROM shl),
    freq AS (SELECT sh, count(*) AS f FROM sh GROUP BY sh),
    pos AS (SELECT s.id, s.sh,
        row_number() OVER (PARTITION BY s.id
          ORDER BY f.f, ('0x' || substr(md5(s.sh), 1, 10))::BIGINT, s.sh) AS pos,
        count(*) OVER (PARTITION BY s.id) AS n
      FROM sh s JOIN freq f USING (sh)),
    pref AS (SELECT id, sh, n FROM pos
             WHERE pos <= n - (1 * n + 1) // 2 + 1),
    cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2, a.n AS n1, b.n AS n2
             FROM pref a JOIN pref b ON a.sh = b.sh AND a.id < b.id
               AND least(a.n, b.n) * 2 >= greatest(a.n, b.n) * 1),
    inter AS (SELECT c.id1, c.id2, c.n1, c.n2, count(*) AS i
              FROM cand c
              JOIN sh x ON x.id = c.id1
              JOIN sh y ON y.id = c.id2 AND y.sh = x.sh
              GROUP BY c.id1, c.id2, c.n1, c.n2),
    epairs AS (SELECT id1, id2 FROM inter WHERE i * 2 >= 1 * (n1 + n2 - i))"""


  protected val exactClusterCtes = jaccPairCtes + """,
    edges AS (SELECT id1 AS src, id2 AS dst FROM epairs
              UNION ALL SELECT id2, id1 FROM epairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)"""


  /** One greedy k-center oracle round (dp30): pick j = the max-min-dist
    * point from `d j` (ties to the smaller id), then fold its distance
    * into every point's min — the CTE chain
    * [[graft.operators.SimilarityOps.kCenterCoreset]] mirrors.
    */
  protected def kcRoundCtes(j: Int): String = s"""
    c$j AS (SELECT vec_id AS id, md FROM d$j ORDER BY md DESC, vec_id LIMIT 1),
    w$j AS (SELECT v.q FROM v JOIN c$j ON v.vec_id = c$j.id),
    d${j + 1} AS (
      SELECT d.vec_id,
        least(d.md, cast(list_sum(list_transform(generate_series(1, 64),
          i -> (vv.q[i] - w.q[i]) * (vv.q[i] - w.q[i]))) as bigint)) AS md
      FROM d$j d JOIN v vv ON vv.vec_id = d.vec_id CROSS JOIN w$j w)"""


  /** One BPE oracle round: pair counts over `sJ`'s sequences, the argmax
    * merge `mK`, and (for non-final rounds) the merged sequences `sK` —
    * the CTE chain [[graft.operators.BpeOps]] mirrors. The leftmost-
    * greedy fold is DuckDB's `list_reduce` (init = first element, same
    * as Spark's `aggregate` over the tail); the merge pair rides a
    * CROSS JOIN into the lambda, mirroring the broadcast join.
    */
  protected def bpeRoundCtes(k: Int, withMerge: Boolean): String = {
    val j = k - 1
    val merge = if (!withMerge) "" else s""",
    s$k AS (SELECT s$j.w, s$j.freq,
       list_reduce(string_split(s$j.seq, chr(31)),
         (acc, x) -> CASE WHEN (acc = m$k.l
                                OR right(acc, length(m$k.l) + 1) = chr(31) || m$k.l)
                           AND x = m$k.r
                     THEN acc || x ELSE acc || chr(31) || x END) AS seq
       FROM s$j CROSS JOIN m$k)"""
    s"""p$k AS (
      SELECT z.p.l AS l, z.p.r AS r, sum(freq) AS cnt FROM (
        SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
            i -> struct_pack(l := syms[i], r := syms[i+1]))) AS p
        FROM (SELECT string_split(seq, chr(31)) AS syms, freq FROM s$j) q) z
      GROUP BY 1, 2),
    m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1)$merge"""
  }


  /** One unigram-LM EM round ([[graft.operators.UnigramOps]] mirror,
    * p$j → p$k): candidate spans joined against the current vocabulary,
    * the per-word Viterbi forward fold + longest-piece backtrack (both
    * DuckDB `list_reduce` with the init element prepended — acc and
    * elements are BIGINT lists, the type-stable fold trick), weighted
    * piece counts, the 0.2-discrete-quantile prune of multi-char
    * pieces (zero-count multi die; single chars never), and the
    * Laplace-smoothed nano-log-prob M-step.
    *
    * The fold-bearing CTEs are `AS MATERIALIZED`: DuckDB 1.0 inlines a
    * single-reference CTE, splicing one lambda expression (the
    * list_reduce producing `best`/`btl`) inside another lambda's body —
    * the lambda-variable collision silently corrupted every
    * multi-piece segmentation (observed: words lost all pieces past
    * the first, `''` pieces appeared). Materializing forces the fold
    * to evaluate into a plain column before any downstream lambda
    * touches it.
    */
  /** One unigram-LM EM round ([[graft.operators.UnigramOps]] mirror,
    * p$j -> p$k): candidate spans joined against the current vocabulary,
    * the per-word Viterbi DP, weighted piece counts, the
    * 0.2-discrete-quantile prune of multi-char pieces (zero-count multi
    * die; single chars never), and the Laplace-smoothed nano-log-prob
    * M-step.
    *
    * The DP is UNROLLED into join/aggregate CTEs — one forward step per
    * character position (best(p) = max over candidates ending at p of
    * best(s-1) + lp, a 4-wide band because pieces are <= 4 chars) and
    * one backtrack step per emitted piece (min-s winner re-identified
    * by exact BIGINT score equality), both bounded by the operator's
    * maxWordLen = 16 word-length cap. The first formulation — per-word
    * `list_reduce` higher-order folds, the exact mirror of the Spark
    * expression — was abandoned after DuckDB 1.0 evaluated it
    * NON-DETERMINISTICALLY under its default thread pool (49-53 output
    * rows across identical runs; single-threaded it was deterministic
    * but still disagreed with a hand-rolled reference implementation
    * that Spark matches exactly). Joins + aggregates have no such
    * failure mode: every CTE is order-independent relational algebra.
    */
  /** Just the Viterbi segmentation CTEs of round `k` — candidates
    * against vocabulary p(k−1), the unrolled forward band, and the
    * unrolled backtrack whose ch$k_i rows ARE the chosen pieces (one
    * row per word still active at backtrack step i). Factored out of
    * [[unigramRoundCtes]] so the ENCODE oracle (tx27) can segment under
    * the FINAL vocabulary without an EM tail.
    */
  protected def viterbiCtes(k: Int, vocabCte: String = ""): String = {
    val j = k - 1
    val pv = if (vocabCte.nonEmpty) vocabCte else s"p$j"
    val W = 16
    val fwd = (1 to W).map { i =>
      val prev = (math.max(1, i - 4) until i).map(q =>
        s"SELECT w, $q AS p, best FROM f${k}_$q") ++
        (if (i <= 4) Seq("SELECT w, 0 AS p, CAST(0 AS BIGINT) AS best FROM w") else Seq())
      s"""f${k}_$i AS MATERIALIZED (
      SELECT c.w, max(b.best + c.lp) AS best
      FROM cd$k c JOIN (${prev.mkString(" UNION ALL ")}) b
        ON b.w = c.w AND b.p = c.s - 1
      WHERE c.e = $i
      GROUP BY c.w)"""
    }.mkString(",\n    ")
    val ba = (s"SELECT w, 0 AS p, CAST(0 AS BIGINT) AS best FROM w" +:
      (1 to W).map(i => s"SELECT w, $i AS p, best FROM f${k}_$i"))
      .mkString(" UNION ALL ")
    val back = (1 to W).map { i =>
      s"""ch${k}_$i AS MATERIALIZED (
      SELECT t.w, t.p, min(c.s) AS s
      FROM wk${k}_${i - 1} t
      JOIN cd$k c ON c.w = t.w AND c.e = t.p
      JOIN ba$k bs ON bs.w = c.w AND bs.p = c.s - 1
      JOIN ba$k bp ON bp.w = t.w AND bp.p = t.p
      WHERE bs.best + c.lp = bp.best
      GROUP BY t.w, t.p),
    wk${k}_$i AS MATERIALIZED (SELECT w, s - 1 AS p FROM ch${k}_$i WHERE s > 1)"""
    }.mkString(",\n    ")
    s"""cd$k AS MATERIALIZED (
      SELECT q.w, q.c.s AS s, q.c.e AS e, $pv.lp FROM (
        SELECT w, unnest(flatten(list_transform(generate_series(1, length(w)), sx ->
          list_transform(generate_series(sx, least(length(w), sx + 3)), ex ->
            {'s': sx, 'e': ex, 'sub': substr(w, sx, ex - sx + 1)})))) AS c
        FROM w) q JOIN $pv ON q.c.sub = $pv.piece),
    $fwd,
    ba$k AS MATERIALIZED ($ba),
    wk${k}_0 AS MATERIALIZED (SELECT w, length(w) AS p FROM w),
    $back"""
  }


  protected def unigramRoundCtes(k: Int): String = {
    val j = k - 1
    val W = 16
    val ems = (1 to W).map(i =>
      s"SELECT w, substr(w, CAST(s AS INT), CAST(p - s + 1 AS INT)) AS piece FROM ch${k}_$i")
      .mkString(" UNION ALL ")
    s"""${viterbiCtes(k)},
    sg$k AS MATERIALIZED (
      SELECT wt.freq, e.piece FROM ($ems) e JOIN w wt ON wt.w = e.w),
    cn$k AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sg$k GROUP BY piece),
    al$k AS MATERIALIZED (SELECT p$j.piece, coalesce(cn$k.cnt, 0) AS cnt
             FROM p$j LEFT JOIN cn$k USING (piece)),
    th$k AS MATERIALIZED (SELECT quantile_disc(cnt, 0.2) AS tv FROM al$k WHERE length(piece) >= 2),
    kp$k AS MATERIALIZED (SELECT piece, cnt FROM al$k, th$k
             WHERE length(piece) = 1 OR (cnt >= tv AND cnt > 0)),
    tt$k AS MATERIALIZED (SELECT sum(cnt) AS t, count(*) AS p FROM kp$k),
    p$k AS MATERIALIZED (SELECT piece, cnt,
      CAST(round(ln((CAST(cnt + 1 AS DOUBLE)) / CAST(t + p AS DOUBLE))
        * 1000000000.0) AS BIGINT) AS lp FROM kp$k, tt$k)"""
  }


  /** One weighted-PageRank round over the co-occurrence graph (tx29's
    * loop body, q68's integer discipline with edge weights): contrib to
    * v = Σ over in-edges (pr(u)·w) div wdeg(u), all BIGINT.
    */
  protected def textrankIterSql(prev: String): String = s"""
      SELECT n.node,
        (15 * (SELECT init FROM tmeta)) // 100
          + (85 * coalesce(c.contrib, 0)) // 100 AS pr
      FROM tnodes n LEFT JOIN (
        SELECT e.v AS node, sum((r.pr * e.w) // e.wdeg) AS contrib
        FROM $prev r JOIN tedges e ON e.u = r.node
        GROUP BY e.v) c USING (node)"""


  protected def bfIterSql(prev: String): String = s"""
    SELECT node, min(cost) AS cost FROM (
      SELECT node, cost FROM $prev
      UNION ALL
      SELECT e.t AS node, p.cost + e.c AS cost
      FROM $prev p JOIN und e ON e.s = p.node) z
    GROUP BY node"""


  /** One HITS mutual-reinforcement round (q101's oracle): raw authority
    * = in-edge sum of hub mass, L1-renormalized by the integer quotient
    * max(1, Σ `//` 10^12); then hubs symmetrically from the fresh
    * authority scores — mirrored op-for-op by [[GraphOps.hits]] (Spark
    * `div` and DuckDB integer `//` both truncate toward zero; every
    * value here is non-negative anyway).
    */
  protected def hitsRoundCtes(j: Int): String = {
    val hp = if (j == 1) "h0" else s"h${j - 1}"
    s"""
    ar$j AS MATERIALIZED (SELECT e.dst AS node, cast(sum(h.score) as bigint) AS raw
             FROM e JOIN $hp h ON h.node = e.src GROUP BY e.dst),
    am$j AS (SELECT cast(greatest(1, sum(raw) // 1000000000000) as bigint) AS q
             FROM ar$j),
    a$j AS MATERIALIZED (SELECT node, cast(raw // (SELECT q FROM am$j) as bigint) AS score
            FROM ar$j),
    hr$j AS MATERIALIZED (SELECT e.src AS node, cast(sum(a.score) as bigint) AS raw
             FROM e JOIN a$j a ON a.node = e.dst GROUP BY e.src),
    hm$j AS (SELECT cast(greatest(1, sum(raw) // 1000000000000) as bigint) AS q
             FROM hr$j),
    h$j AS MATERIALIZED (SELECT node, cast(raw // (SELECT q FROM hm$j) as bigint) AS score
            FROM hr$j)"""
  }


  /** One greedy MMR selection round (ann24's oracle): candidates still
    * outside the selected set take red = max pairwise-sim to any
    * selected item, score = 7·rel − 3·red (λ = 0.7 in integer tenths,
    * nano-unit sims), the per-query argmax ties to the smaller
    * neighbour id — mirrored by [[SimilarityOps.mmrDiversify]]'s round
    * loop.
    */
  protected def mmrRoundCtes(j: Int): String = {
    val selU = (1 until j).map(i => s"SELECT query_id, neighbor_id FROM sel$i")
      .mkString(" UNION ALL ")
    s"""
    su$j AS ($selU),
    red$j AS (SELECT p.query_id, p.neighbor_id, p.rel, max(w.s) AS red
      FROM pool p
      JOIN pw w ON w.query_id = p.query_id AND w.a = p.neighbor_id
      JOIN su$j s ON s.query_id = w.query_id AND s.neighbor_id = w.b
      WHERE NOT EXISTS (SELECT 1 FROM su$j x
        WHERE x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id)
      GROUP BY 1, 2, 3),
    sel$j AS (SELECT query_id, neighbor_id, $j AS pick, rel,
        rel * 7 - red * 3 AS score FROM (
        SELECT query_id, neighbor_id, rel, red, row_number() OVER (
          PARTITION BY query_id ORDER BY rel * 7 - red * 3 DESC, neighbor_id) AS rn
        FROM red$j) t WHERE rn = 1)"""
  }


  /** One full-batch gradient-descent round (tx33's oracle): per-doc
    * logit from the current integer weight table, sigmoid (the one
    * float step), per-(doc, dim) gradient terms micro-rounded before
    * the per-dim sum, truncating-divided update — mirrored op-for-op by
    * [[TextOps.hashLogReg]] (gradients go negative; Spark `div` and
    * DuckDB integer `//` BOTH truncate toward zero — verified with
    * `SELECT -7 // 2` = −3, so no floor correction is needed).
    */
  protected def lrRoundCtes(k: Int): String = s"""
    z$k AS (SELECT f.doc_id, cast(sum(w.w * f.val) as bigint) AS z
            FROM feats f JOIN w${k - 1} w USING (dim) GROUP BY 1),
    g$k AS (SELECT f.dim,
        cast(sum(cast(round((l.y - 1.0 / (1.0 + exp(-(z.z / 1000000.0))))
          * f.val * 1000000.0) as bigint)) as bigint) AS g
      FROM feats f JOIN z$k z USING (doc_id) JOIN lab l USING (doc_id)
      GROUP BY 1),
    w$k AS (SELECT w.dim,
        cast(w.w + coalesce(g.g // (SELECT d FROM nd), 0) as bigint) AS w
      FROM w${k - 1} w LEFT JOIN g$k g USING (dim))"""


  /** The CrawlOps.canonicalizeUrl mirror as a DuckDB SQL fragment over a
    * column named `url` in CTE `raw` — RFC 3986 §6 syntax normalization:
    * fragment strip, scheme/host lowercase, default-port strip,
    * query-key sort, empty path → "/". Each regexp is verbatim the
    * Spark side's; both engines return '' for a non-matching
    * regexp_extract group.
    */
  protected val urlCanonCtes: String = """
    n1 AS (SELECT p_partkey, url, regexp_replace(url, '#.*$', '') AS nofrag
           FROM raw),
    n2 AS (SELECT p_partkey, url, nofrag,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(nofrag, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
        regexp_extract(nofrag, '^[^:/?#]+://[^/?#]*(.*)$', 1) AS pathq
      FROM n1),
    n3 AS (SELECT p_partkey, url,
        scheme,
        CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
             ELSE hostport END AS host,
        regexp_extract(pathq, '^([^?]*)', 1) AS path,
        regexp_extract(pathq, '\?(.*)$', 1) AS query,
        hostport
      FROM n2),
    c AS (SELECT p_partkey, url, host,
        CASE WHEN scheme = '' OR hostport = '' THEN NULL
             ELSE scheme || '://' || host
               || CASE WHEN path = '' THEN '/' ELSE path END
               || CASE WHEN query = '' THEN ''
                  ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END
        END AS canonical_url
      FROM n3)"""


  /** Deterministic messy-URL corpus for the frontier queries: four raw
    * spellings per part row — uppercase scheme/host + default port,
    * fragment-bearing, permuted query keys — built so spellings 0/1
    * collapse pairwise and 2/3 collapse pairwise after canonicalization
    * (the ref01 derive-the-fixture discipline: the oracle can state the
    * collapse relationally because the aliasing is constructed).
    */
  protected val urlRawSql: String = """
    raw AS (
      SELECT p_partkey,
        CASE p_partkey % 4
          WHEN 0 THEN 'HTTP://EXAMPLE' || cast(p_partkey % 7 as varchar)
            || '.COM:80/codes/' || cast(p_partkey % 100 as varchar)
          WHEN 1 THEN 'http://example' || cast(p_partkey % 7 as varchar)
            || '.com/codes/' || cast(p_partkey % 100 as varchar)
            || '#frag' || cast(p_size as varchar)
          WHEN 2 THEN 'HTTPS://Example' || cast(p_partkey % 7 as varchar)
            || '.COM:443/search?q=' || cast(p_partkey % 100 as varchar)
            || '&lang=en&ref=' || cast(p_size as varchar)
          ELSE 'https://example' || cast(p_partkey % 7 as varchar)
            || '.com/search?ref=' || cast(p_size as varchar)
            || '&lang=en&q=' || cast(p_partkey % 100 as varchar)
        END AS url
      FROM part)"""


  protected def urlRawSpark(s: SparkSession, d: String): DataFrame =
    T(s, d, "part").select(col("p_partkey"),
      when(col("p_partkey") % 4 === 0, concat(
          lit("HTTP://EXAMPLE"), (col("p_partkey") % 7).cast("string"),
          lit(".COM:80/codes/"), (col("p_partkey") % 100).cast("string")))
        .when(col("p_partkey") % 4 === 1, concat(
          lit("http://example"), (col("p_partkey") % 7).cast("string"),
          lit(".com/codes/"), (col("p_partkey") % 100).cast("string"),
          lit("#frag"), col("p_size").cast("string")))
        .when(col("p_partkey") % 4 === 2, concat(
          lit("HTTPS://Example"), (col("p_partkey") % 7).cast("string"),
          lit(".COM:443/search?q="), (col("p_partkey") % 100).cast("string"),
          lit("&lang=en&ref="), col("p_size").cast("string")))
        .otherwise(concat(
          lit("https://example"), (col("p_partkey") % 7).cast("string"),
          lit(".com/search?ref="), col("p_size").cast("string"),
          lit("&lang=en&q="), (col("p_partkey") % 100).cast("string")))
        .as("url"))
}
