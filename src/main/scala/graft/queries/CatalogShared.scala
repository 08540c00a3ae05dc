package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Helpers + shared oracle CTE strings every query family uses
  * (decimal money discipline, table reader, reusable DuckDB CTE blocks).
  *
  * The rule: a stage that two queries replay is written once, here — an
  * oracle CTE chain as a `val` or builder `def`, a repeated Spark input
  * as a `def` — just as [[SharedArtifacts]] builds each shared Spark
  * artifact once. A builder takes a parameter only for a name that
  * varies between its callers (`kmeansCtes`' `trainSrc`,
  * `unigramPieceCtes`' key column); text that differs in anything else
  * stays a copy in its query.
  *
  * Initializes FIRST in Catalog's trait linearization, so family Q vals
  * can bake these vals into their SQL at construction time. Within this
  * trait vals initialize in declaration order (a forward reference reads
  * null), so a val is declared after every val it reads.
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
  // 4 rows) over the docs of `src`: the dd02 pair oracle, the dd06
  // clustering oracle and their consumers read `documents`, dp01 its
  // quality-filtered, exact-deduped `docs2`.
  protected def minhashCtesOn(src: String): String = s"""sh AS (
      SELECT doc_id,
        CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 3 THEN
          list_transform(
            generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
            i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
                 regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' ||
                 regexp_split_to_array(trim(text), '\\s+')[i+2])
        ELSE [array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')] END AS shingles
      FROM $src),
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

  protected val minhashCtes = minhashCtesOn("documents")

  /** The banded candidate pairs: two docs sharing any band key. */
  protected val bandPairSql = """SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
      WHERE l.doc_id < r.doc_id"""


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


  /** ann04's seed-IVF candidates: 16 seed centroids (vec_id < 16), every
    * vector's nearest seed cell, the top-2 probed cells of queries
    * 20 <= vec_id < 30, and the probed-cell candidate pairs `cand`.
    */
  protected val seedIvfCandCtes = s"""cent AS (SELECT vec_id AS cent_id, e FROM v WHERE vec_id < 16),
    scoredc AS (
      SELECT v.vec_id, cent.cent_id,
        ${ivfCos.format("v", "cent", "v", "v", "cent", "cent")} AS csim
      FROM v CROSS JOIN cent),
    assigned AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        FROM scoredc) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        FROM scoredc WHERE vec_id >= 20 AND vec_id < 30) t WHERE rn <= 2),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id)"""

  /** ann06's sign-bit PQ: 8 block codes of 8 sign bits per vector, and
    * per query (vec_id < 5) the count of matching block codes `matches`.
    */
  protected val signPqMatchCtes = """codes AS (
      SELECT vec_id,
        list_transform(generate_series(0, 7), b ->
          array_to_string(list_transform(generate_series(1, 8),
            i -> CASE WHEN embedding[b*8 + i] >= 0 THEN '1' ELSE '0' END), '')) AS cs
      FROM embeddings),
    flat AS (
      SELECT vec_id, unnest(generate_series(0, 7)) AS blk, unnest(cs) AS code
      FROM codes),
    matches AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, count(*) AS n_match
      FROM flat q JOIN flat c ON q.blk = c.blk AND q.code = c.code
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2)"""


  /** tx03's per-doc language-id scores `scored` (lang, s_fr, s_es, s_de,
    * s_en, has_cjk) — the oracle half of
    * [[graft.operators.TextOps.langScores]].
    */
  protected val langScoreCte = """scored AS (
      SELECT lang,
        len(regexp_extract_all(text, '(?i)\ble\b|(?i)\bla\b|(?i)\bles\b|(?i)\bet\b|(?i)\best\b|(?i)\bune\b')) AS s_fr,
        len(regexp_extract_all(text, '(?i)\bel\b|(?i)\blos\b|(?i)\blas\b|(?i)\bes\b|(?i)\buna\b')) AS s_es,
        len(regexp_extract_all(text, '(?i)\bder\b|(?i)\bdie\b|(?i)\bdas\b|(?i)\bund\b|(?i)\bist\b')) AS s_de,
        len(regexp_extract_all(text, '(?i)\bthe\b|(?i)\band\b|(?i)\bis\b|(?i)\bof\b|(?i)\bthat\b')) AS s_en,
        regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk
      FROM documents)"""

  /** tx02's per-doc quality features `f` keyed by `key`: token,
    * punctuation and stopword counts and the char length — the oracle
    * half of [[qualityFeatures]].
    */
  protected def qualityFeatureCte(key: String): String = s"""f AS (
      SELECT $key,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok_cnt,
        length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
          x -> list_contains(['a','an','the','and','or','of','in','to','is'], lower(x)))) AS stop_cnt,
        length(text) AS n_len
      FROM documents)"""

  /** tx02's quality features over `docs`: [key, tok_cnt, punct_cnt,
    * stop_cnt, n_len].
    */
  protected def qualityFeatures(docs: DataFrame, key: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
    docs.select(col(key),
      TextOps.tokenCount(col("text")).as("tok_cnt"),
      TextOps.punctCount(col("text")).as("punct_cnt"),
      size(filter(toks, x => lower(x).isInCollection(stops))).as("stop_cnt"),
      length(col("text")).as("n_len"))
  }

  /** tx02's quality score `quality` over [[qualityFeatures]]' columns,
    * the oracle's IEEE operation order.
    */
  protected def featureQuality: Column =
    (lit(0.5) * least(col("n_len") / 512.0, lit(1.0))
      + lit(0.25) * when(col("tok_cnt") === 0, 0.0)
          .otherwise(col("stop_cnt").cast("double") / col("tok_cnt"))
      + lit(0.25) * (lit(1.0) - least(col("punct_cnt") * 16.0 / col("n_len"), lit(1.0))))
      .as("quality")


  /** Each doc's word 3-shingle list `sh` (doc_id, shingles) over the
    * token table `toks` (doc_id, t); a doc of fewer than 3 tokens is one
    * shingle, its whole text.
    */
  protected val wordShingleCte = """sh AS (
      SELECT doc_id,
        CASE WHEN len(t) >= 3 THEN
          list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [array_to_string(t, ' ')] END AS shingles
      FROM toks)"""

  /** The co-purchase graph as q86/q92 replay it: distinct (order, part)
    * pairs `pp`, part pairs sharing >= 2 orders `e0` (u < v), and both
    * directions `und` (s, t) — the oracle half of
    * [[SharedArtifacts.copurchaseEdges]] and [[graft.operators.GraphOps.undirected]].
    */
  protected val copurchaseCtes = """pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING count(*) >= 2),
    und AS (SELECT u AS s, v AS t FROM e0 UNION SELECT v, u FROM e0)"""

  /** q77/q97's co-purchase edges `e0` (u < v), with `pp`, as
    * materialized CTEs: the triangle and k-core oracles reference them
    * many times.
    */
  protected val copurchaseMatCtes = """pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.pk AS u, b.pk AS v
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING count(*) >= 2)"""


  /** tx14's corpus bigram LM over the token table `t` (doc_id, tk):
    * md5-64-keyed bigram occurrences `o`, bigram and history counts
    * `c2`/`c1`, and the vocabulary size `v`.
    */
  protected val bigramLmCtes = """bg AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> struct_pack(h2 := substr(md5(tk[i] || ' ' || tk[i+1]), 1, 16),
                           h1 := substr(md5(tk[i]), 1, 16)))) AS s
      FROM t WHERE len(tk) >= 2),
    o AS (
      SELECT doc_id, s.h2 AS h2, s.h1 AS h1, count(*) AS cnt
      FROM bg GROUP BY 1, 2, 3),
    c2 AS (SELECT h2, sum(cnt) AS c2 FROM o GROUP BY 1),
    c1 AS (SELECT h1, sum(cnt) AS c1 FROM o GROUP BY 1),
    v AS (SELECT count(DISTINCT u) AS v
          FROM (SELECT unnest(tk) AS u FROM t))"""

  /** The k = 64 KMV distinct-count estimate `kmv` (c, ndv_kmv) per column
    * `c` of the long-form value table `src` (c, v) — the oracle half of
    * the KMV sketch behind dp28 and q96.
    */
  protected val kmvNdvCtes = """h AS (SELECT DISTINCT c, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
          FROM src WHERE v IS NOT NULL),
    r AS (SELECT c, h, row_number() OVER (PARTITION BY c ORDER BY h) AS rn,
            count(*) OVER (PARTITION BY c) AS nd FROM h),
    kmv AS (SELECT c,
        cast(CASE WHEN nd < 64 THEN cast(nd as double)
                  ELSE floor(63.0 * 1152921504606846976.0 / cast(h as double)) END
          as bigint) AS ndv_kmv
      FROM r WHERE rn = least(nd, 64))"""


  /** The oracle of [[phashBandPairs]] over the band table `bands`
    * (doc_id, phash, bi, bval).
    */
  protected def phashPairSql(bands: String): String = s"""SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
        l.phash AS h1, r.phash AS h2
      FROM $bands l JOIN $bands r ON l.bi = r.bi AND l.bval = r.bval
        AND l.doc_id < r.doc_id"""

  /** mm06's visual candidates over `hashed` (doc_id, phash): doc pairs
    * sharing any of the four 16-bit bands of their 64-bit perceptual
    * hash, [id1, id2, h1, h2] — the Spark side of mm06/mm08's `bv`/`cand`.
    */
  protected def phashBandPairs(hashed: DataFrame): DataFrame = {
    val bv = Exec.materializeForSelfJoin(
      hashed.select(col("doc_id"), col("phash"),
          explode(expr("sequence(0, 3)")).as("bi"))
        .withColumn("bval",
          expr("shiftrightunsigned(phash, bi * 16) & 65535")))
    val l = bv.select(col("bi"), col("bval"), col("doc_id").as("id1"),
      col("phash").as("h1"))
    val r = bv.select(col("bi"), col("bval"), col("doc_id").as("id2"),
      col("phash").as("h2"))
    l.join(r, Seq("bi", "bval")).where(col("id1") < col("id2"))
      .select("id1", "id2", "h1", "h2").distinct()
  }


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


  // tx15's batch-vs-history token drift: per-language smoothed
  // KL(batch ‖ history) in integer nano-units plus the batch OOV rate —
  // also q76's oracle, whose streamed counts fold to the batch answer.
  protected val driftSql = """
    WITH t AS (
      SELECT lang, doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (
      SELECT lang, is_batch, substr(md5(u), 1, 16) AS h FROM (
        SELECT lang, doc_id >= 400 AS is_batch, unnest(tk) AS u FROM t)),
    per AS (
      SELECT lang, h,
        sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS b,
        sum(CASE WHEN is_batch THEN 0 ELSE 1 END) AS hc
      FROM tok GROUP BY 1, 2),
    tot AS (SELECT lang, sum(b) AS bt, sum(hc) AS ht, count(*) AS v
            FROM per GROUP BY 1),
    terms AS (
      SELECT per.lang, per.b, per.hc,
        (per.b + 1.0) / (tot.bt + tot.v) AS pb,
        (per.hc + 1.0) / (tot.ht + tot.v) AS ph
      FROM per JOIN tot USING (lang)),
    agg AS (
      SELECT lang,
        cast(sum(cast(round(pb * ln(pb / ph) * 1000000000.0) as bigint))
          as bigint) AS kl_nano,
        cast(sum(CASE WHEN hc = 0 THEN b ELSE 0 END) as bigint) AS oov_occ
      FROM terms GROUP BY 1)
    SELECT a.lang, cast(t.bt as bigint) AS batch_tok,
      cast(t.ht as bigint) AS hist_tok, cast(t.v as bigint) AS vocab,
      cast(a.oov_occ as double) / t.bt AS oov_rate, a.kl_nano
    FROM agg a JOIN tot t USING (lang)
    WHERE t.bt > 0 ORDER BY a.lang"""


  // Correlated LATERAL subquery with ORDER BY + LIMIT: per-nation top-2
  // customers by balance — the "top-k per outer row" join shape.
  protected val q64Sql = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n_name, c_acctbal DESC, c_custkey"""


  // ANN recall harness: grade each approximate
  // config — LSH (ann02), seed-IVF (ann04), PQ (ann06), and the
  // TRAINED-centroid IVF (kmeansFit-trained index probed via ivfTopK —
  // the config you'd actually deploy) — against
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

  /** The recall harness of the emb16 ANN curves (ann17, ann18, ann20):
    * brute-force 16-dim cosine top-5 truth `t` for queries vec_id < 20,
    * then per `(method, answerCte)` arm the query count and the hits
    * |answer ∩ truth|; recall = hits / (n_queries · 5) — the oracle half
    * of CatalogAnn's truthTopK/recallOf.
    */
  protected def recall16Sql(arms: Seq[(String, String)]): String = {
    def hits(a: String) = s"""(SELECT count(*) FROM $a a JOIN t
           ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)"""
    val (m0, a0) = arms.head
    val more = arms.tail.map { case (m, a) => s"""
      UNION ALL SELECT '$m',
        (SELECT count(DISTINCT query_id) FROM t),
        ${hits(a)}""" }.mkString
    s"""tsc AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM v q JOIN v n ON q.vec_id <> n.vec_id
      WHERE q.vec_id < 20),
    t AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM tsc) x WHERE rank <= 5),
    r AS (
      SELECT '$m0' AS method,
        (SELECT count(DISTINCT query_id) FROM t) AS n_queries,
        ${hits(a0)} AS total_hits$more)
    SELECT method, cast(n_queries as bigint) AS n_queries,
      cast(total_hits as bigint) AS total_hits,
      cast(total_hits as double) / (n_queries * 5) AS recall
    FROM r ORDER BY method"""
  }


  /** Trained-PQ encoding of every vector of `src` against the codebook
    * `codebook` (blk, code, cv): 8-dim block slices `fr`, rounded squared
    * L2 to each code `ed`, nearest code per block `enc` (ties to the
    * lower code) — the oracle half of
    * [[graft.operators.SimilarityOps.pqEncode]].
    */
  protected def pqEncodeCtes(src: String, codebook: String): String = s"""fr AS (SELECT vec_id, b.blk,
             list_slice(e, b.blk * 8 + 1, b.blk * 8 + 8) AS sv
           FROM $src, (SELECT unnest(generate_series(0, 7)) AS blk) b),
    ed AS (SELECT f.vec_id, f.blk, c.code,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (f.sv[i] - c.cv[i]) * (f.sv[i] - c.cv[i]))), 6) AS d
           FROM fr f JOIN $codebook c ON f.blk = c.blk),
    enc AS (SELECT vec_id, blk, code FROM (
             SELECT vec_id, blk, code, row_number() OVER (
               PARTITION BY vec_id, blk ORDER BY d, code) AS rn
             FROM ed) t WHERE rn = 1)"""

  /** The ADC lookup table `qt`: each query's (vec_id < 5) integer
    * micro-unit squared L2 from its block slices `fr` to every code of
    * `codebook`.
    */
  protected def pqQueryDistCte(codebook: String): String = s"""qt AS (SELECT f.vec_id AS query_id, f.blk, c.code,
             cast(round(list_sum(list_transform(generate_series(1, 8),
               i -> (f.sv[i] - c.cv[i]) * (f.sv[i] - c.cv[i])))
               * 1000000.0) as bigint) AS dq
           FROM fr f JOIN $codebook c ON f.blk = c.blk WHERE f.vec_id < 5)"""

  /** The exact 64-dim cosine re-rank of a quantized-score candidate
    * `pool` and its top-10 per query — the tail of the quantized searches
    * (ann11, ann12, ann13).
    */
  protected val exactReRankSql = """rr AS (SELECT p.query_id, p.neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * n.e[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.e[i] * q.e[i])))
                * sqrt(list_sum(list_transform(generate_series(1, 64), i -> n.e[i] * n.e[i])))), 6) AS sim
           FROM pool p JOIN v q ON q.vec_id = p.query_id
                       JOIN v n ON n.vec_id = p.neighbor_id)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM rr) t
    WHERE rank <= 10 ORDER BY query_id, rank"""

  /** The IVF arm graded beside the graph arm (ann17, ann18): the
    * probed-cell candidates of [[graphSearchCtes]]' `qpr`, exact 16-dim
    * cosine, top-5 per query as `a_ivf`.
    */
  protected val ivfArmCtes = """icand AS (SELECT DISTINCT q.query_id, a3.vec_id AS neighbor_id
              FROM qpr q JOIN a3 USING (cell)
              WHERE a3.vec_id <> q.query_id),
    isc AS (
      SELECT c.query_id, c.neighbor_id,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM icand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id),
    a_ivf AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM isc) t WHERE rank <= 5)"""

  /** The label-filtered IVF-16 search over [[ivf16AssignCtes]] for
    * queries vec_id < 20: candidates in the query's top-2 probed cells
    * whose label equals the query's (`sameLabel`, ann15) or differs
    * from it (ann22's hard negatives), exact cosine, top-5 per query —
    * the oracle half of [[graft.operators.SimilarityOps.ivfFilteredTopK]].
    */
  protected def labelFilteredSql(sameLabel: Boolean): String = s"""lb AS (SELECT vec_id, label FROM embeddings),
    a3l AS (SELECT a3.vec_id, a3.cell, lb.label FROM a3 JOIN lb USING (vec_id)),
    pr AS (SELECT t.vec_id AS query_id, t.cell, lb.label FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3 WHERE vec_id < 20) t
           JOIN lb ON lb.vec_id = t.vec_id
           WHERE t.rn <= 2),
    cand AS (SELECT pr.query_id, a3l.vec_id AS neighbor_id, pr.label
             FROM pr JOIN a3l ON pr.cell = a3l.cell AND pr.label ${if (sameLabel) "=" else "<>"} a3l.label
             WHERE a3l.vec_id <> pr.query_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id, c.label,
        round(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * n.e[i]))
          / (sqrt(list_sum(list_transform(generate_series(1, 16), i -> q.e[i] * q.e[i])))
           * sqrt(list_sum(list_transform(generate_series(1, 16), i -> n.e[i] * n.e[i])))), 6) AS sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v n ON n.vec_id = c.neighbor_id)
    SELECT query_id, cast(rank as int) AS rank, neighbor_id, label, sim FROM (
      SELECT query_id, neighbor_id, label, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank"""


  /** The Spark side of [[labelFilteredSql]]: ann15's (`sameLabel`) and
    * ann22's label-filtered IVF-16 top-5 over the 16-dim prefixes.
    */
  protected def labelFilteredTopK(s: SparkSession, d: String, sameLabel: Boolean): DataFrame = {
    val corpus = Exec.materializeForSelfJoin(
      T(s, d, "embeddings").select(col("vec_id").as("id"),
        slice(col("embedding"), 1, 16).as("vec"), col("label")))
    SimilarityOps.ivfFilteredTopK(corpus, col("id") < 20,
        SharedArtifacts.centroids16(s, d),
        attrCol = "label", k = 5, nProbe = 2, roundSim = 6, sameAttr = sameLabel)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("label"), col("sim"))
      .orderBy("query_id", "rank")
  }


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
  // standard 100 TB move) from the 4 smallest-id seeds
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


  /** The corpus-size cell count of the trained IVF-16 index
    * ([[graft.operators.SimilarityOps.scaledCellCount]]: clamp(ceil(n/64),
    * 4, 4096), integer math mirrored op-for-op), so expected cell
    * population stays ~64 as n grows.
    */
  protected val ivf16Kp = """kp AS (SELECT greatest(4, least(4096, (count(*) + 63) // 64)) AS k
                 FROM embeddings),
    """

  /** The oracle replay of [[SharedArtifacts.centroids16]]: [[kmeansCtes]]
    * on a 16-per-cell sample seeded from the k smallest sample ids, then
    * the trained centroid table `c2` (cells present in the final M-step
    * only). `preCtes` / `trainSrc` pass through to [[kmeansCtes]] for
    * the indexes trained on history alone (dd18, ann19).
    */
  protected def ivf16TrainCtes(preCtes: String = ivf16Kp, trainSrc: String = "v"): String =
    s"""${kmeansCtes(preCtes, "(SELECT k * 16 FROM kp)",
      """c0 AS MATERIALIZED (SELECT vec_id AS cell, e AS ce FROM (
             SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn
             FROM smp) t, kp WHERE t.rn <= kp.k)""", trainSrc)},
    c2 AS (SELECT cell, list(mean ORDER BY dim) AS ce FROM m2 GROUP BY cell)"""

  /** Every corpus vector's rounded cosine to every trained cell. */
  protected val ivf16ScoreCte = s"""s3 AS MATERIALIZED (SELECT v.vec_id, c2.cell,
             ${km16Cos.format("v", "c2", "v", "v", "c2", "c2")} AS csim
           FROM v CROSS JOIN c2)"""

  /** [[ivf16TrainCtes]] plus the full-corpus assignment: scores `s3` and
    * each vector's nearest cell `a3` (ties to the lower cell id) — the
    * oracle half of [[graft.operators.SimilarityOps.assignToCentroids]].
    */
  protected def ivf16AssignCtes(preCtes: String = ivf16Kp, trainSrc: String = "v"): String =
    s"""${ivf16TrainCtes(preCtes, trainSrc)},
    $ivf16ScoreCte,
    a3 AS MATERIALIZED (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
             FROM s3) t WHERE rn = 1)"""


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


  /** Each doc's whitespace tokens `toks`, its distinct word 3-shingles
    * `shl`, and the exploded (id, sh) rows `sh` — the oracle half of
    * [[SharedArtifacts.docShingles3]].
    */
  protected val docShingleCtes = """toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
    shl AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(t) >= 3 THEN
          list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks),
    sh AS (SELECT doc_id AS id, unnest(shingles) AS sh FROM shl)"""

  /** [[docShingleCtes]] plus the lexical arm of the fusion queries
    * (ann25/ann26): per query doc (id < 5), the top-20 docs by shared
    * distinct shingle count.
    */
  protected val lexArmCtes = docShingleCtes + """,
    lexsc AS (SELECT q.id AS query_id, c.id AS neighbor_id, count(*) AS ov
      FROM sh q JOIN sh c ON c.sh = q.sh AND c.id <> q.id
      WHERE q.id < 5 GROUP BY 1, 2),
    lex AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY ov DESC, neighbor_id) AS rank
        FROM lexsc) t WHERE rank <= 20)"""

  /** The covered islands of a positional shingle table `sh` (doc_id, p,
    * h): shingle keys in >= 2 distinct docs, their spans [p, p + `last`],
    * and the per-doc gaps-and-islands group `gid` of overlapping spans —
    * the oracle half of DedupOps' coveredIslands.
    */
  protected def spanIslandCtes(last: Int): String = s"""dup AS (
      SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
      WHERE nd >= 2),
    sp AS (SELECT sh.doc_id, sh.p AS s, sh.p + $last AS e FROM sh JOIN dup USING (h)),
    mx AS (
      SELECT doc_id, s, e,
        max(e) OVER (PARTITION BY doc_id ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM sp),
    il AS (
      SELECT doc_id, s, e,
        sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM mx)"""

  /** Each doc's whitespace tokens `t` and its positional 8-token
    * shingles `sh` (doc_id, p, h) — the oracle half of
    * [[SharedArtifacts.posShingles8]].
    */
  protected val posShingle8Ctes = """WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
        unnest(generate_series(1, len(tk) - 7)) AS p,
        unnest(list_transform(generate_series(1, len(tk) - 7),
          i -> substr(md5(array_to_string(list_slice(tk, i, i + 7), ' ')), 1, 16))) AS h
      FROM t WHERE len(tk) >= 8)"""

  /** dd16/dd19's 8-token positional shingles and their covered islands. */
  protected val tokenSpanIslandCtes = s"""$posShingle8Ctes,
    ${spanIslandCtes(7)}"""

  /** The diagonal runs of shared positional keys between doc pairs,
    * over the matched table `m` (doc_id, p, h): per pair and diagonal
    * p1 − p2, each run of consecutive positions `agg` (id1, id2, diag,
    * grp, run) — a run of r shared k-grams is a shared span of r + k − 1.
    */
  protected val diagonalRunCtes = """pr AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.p AS p1, b.p AS p2
      FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id),
    runs AS (
      SELECT id1, id2, p1 - p2 AS diag,
        p1 - row_number() OVER (PARTITION BY id1, id2, p1 - p2 ORDER BY p1) AS grp
      FROM pr),
    agg AS (SELECT id1, id2, diag, grp, count(*) AS run
            FROM runs GROUP BY 1, 2, 3, 4)"""

  /** The 4-hash, 4096-bit Bloom filter over the history docs `hist`
    * (`bits`) and each batch doc's probe bits `probe` — the oracle half
    * of the Bloom prefilter of the incremental ingestion gates.
    */
  protected val bloomProbeCtes = """ks AS (SELECT unnest([0, 1, 2, 3]) AS i),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(h.text), 1 + 4*k.i, 4))::BIGINT % 4096 AS bit
      FROM hist h CROSS JOIN ks k),
    probe AS (
      SELECT b.doc_id, ('0x' || substr(md5(b.text), 1 + 4*k.i, 4))::BIGINT % 4096 AS bit
      FROM batch b CROSS JOIN ks k)"""

  /** The 20-char positional gram table `g` (doc_id, p, h) of the winnow
    * family (dd25–dd27), over docs of >= 20 chars.
    */
  protected val winnowGramCtes = """WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) >= 20),
    g AS (
      SELECT doc_id,
        unnest(generate_series(1, length(text) - 19)) AS p,
        unnest(list_transform(generate_series(1, length(text) - 19),
          i -> substr(md5(substr(text, i, 20)), 1, 16))) AS h
      FROM t)"""

  /** Winnowing w = 12 over `g`: one lexicographic window min per doc on
    * the composite h:pos key, kept once the window is full — the
    * fingerprints `fp` (doc_id, h).
    */
  protected val winnowFpCtes = """keyed AS (
      SELECT doc_id, p, h || ':' || lpad(cast(p as varchar), 12, '0') AS key
      FROM g),
    sel AS (
      SELECT doc_id, p,
        min(key) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS s
      FROM keyed),
    fp AS (
      SELECT DISTINCT doc_id, substr(s, 1, 16) AS h
      FROM sel WHERE p >= 12)"""

  /** dp04's two synthetic `customer` snapshots (old, new): old drops
    * custkey % 7 == 0, new drops custkey % 11 == 0 and doubles acctbal
    * for custkey % 5 == 0 — the inputs of dp04's diff and q105's apply.
    */
  protected def customerSnapshots(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cust = T(s, d, "customer")
    val oldSnap = cust.where(col("c_custkey") % 7 =!= 0)
      .select("c_custkey", "c_name", "c_acctbal")
    val newSnap = cust.where(col("c_custkey") % 11 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") * 2)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    (oldSnap, newSnap)
  }

  /** The distinct (customer c, supplier s) edges of q102/q103's
    * bipartite co-occurrence, keyed by c (guide §2.4): the degree
    * aggregation, the degree-cap join and both sides of the pair
    * self-join all key on c, so the declared partitioning removes every
    * one of those Exchanges over the edge table.
    */
  protected def customerSupplierEdges(s: SparkSession, d: String): DataFrame =
    Exec.materializeForSelfJoinBy(
      T(s, d, "orders").join(T(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct(), col("c"))

  /** Per-doc unigram-LM encode stats of `docs` under the shared trained
    * vocabulary, over the shared token table — the Spark side of
    * [[unigramPieceCtes]] (dp32, tx35).
    */
  protected def unigramEncodeStats(s: SparkSession, d: String, docs: DataFrame): DataFrame =
    UnigramOps.encodeStats(
      docs, "text", "doc_id",
      vocab = SharedArtifacts.unigramVocab16(s, d),
      maxLen = 4, maxWordLen = 16,
      tokenTable = Some(SharedArtifacts.docTokens(s, d)))

  /** The Spark side of [[lexArmCtes]] over the shared shingle kernel:
    * [query_id, neighbor_id, _ov, rank].
    */
  protected def lexArm(s: SparkSession, d: String): DataFrame = {
    val sh = SharedArtifacts.docShingles3(s, d)
    val qsh = broadcast(sh.where(col("id") < 5)
      .select(col("id").as("query_id"), col("sh")))
    val lexsc = sh.join(qsh, "sh")
      .where(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(count(lit(1)).as("_ov"))
    val lw = Window.partitionBy("query_id")
      .orderBy(col("_ov").desc, col("neighbor_id").asc)
    lexsc.withColumn("rank", row_number().over(lw))
      .where(col("rank") <= 20)
  }

  /** dd20's prefix-filter candidates and their verified intersection
    * counts, through CTE `inter` [id1, id2, n1, n2, i].
    */
  protected val jaccInterCtes = docShingleCtes + """,
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
              GROUP BY c.id1, c.id2, c.n1, c.n2)"""

  /** dd20's exact-Jaccard τ=1/2 verified-pair chain (prefix filter +
    * intersection verify), through CTE `epairs` [id1, id2] — shared by
    * the cluster oracles (dd21 et al.) and dp34's leakage audit.
    */
  protected val jaccPairCtes = jaccInterCtes + """,
    epairs AS (SELECT id1, id2 FROM inter WHERE i * 2 >= 1 * (n1 + n2 - i))"""


  /** Shared oracle chain for the exact-cluster family (dd21 roster,
    * dp26 canonical selection): dd20's prefix-filtered exact-Jaccard
    * join replayed end-to-end, plus the UNION-recursive component
    * fixpoint `reach` (min(lab) per id = the CC label). Plain triple
    * quotes — `\\s` stays a single backslash; interpolating callers
    * splice it verbatim.
    */
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


  /** tx19's BPE training as the oracle replays it: the distinct-word
    * frequency table `w`, each word's char sequence `s0` (symbols joined
    * by chr(31)), and the first two merge rounds through `s2`.
    */
  protected val bpeTwoRoundCtes = s"""WITH w AS (SELECT w, count(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0) t
      WHERE length(w) > 0 GROUP BY w),
    s0 AS (SELECT w, freq,
        array_to_string(list_transform(generate_series(1, length(w)),
          i -> substr(w, i, 1)), chr(31)) AS seq
      FROM w),
    ${bpeRoundCtes(1, withMerge = true)},
    ${bpeRoundCtes(2, withMerge = true)}"""


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


  /** tx26's trained unigram-LM vocabulary as the oracle replays it — the
    * oracle half of [[SharedArtifacts.unigramVocab16]]: the distinct-word
    * table `w` (words of 1–16 chars), the frequent-substring seed `p0`,
    * and two EM rounds through `p2`.
    */
  protected val unigramVocabCtes = s"""WITH w AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0) t
      WHERE length(w) > 0 AND length(w) <= 16 GROUP BY w),
    sub0 AS MATERIALIZED (
      SELECT q.c.sub AS piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, unnest(flatten(list_transform(generate_series(1, length(w)), sx ->
          list_transform(generate_series(sx, least(length(w), sx + 3)), ex ->
            {'s': sx, 'e': ex, 'sub': substr(w, sx, ex - sx + 1)})))) AS c
        FROM w) q
      GROUP BY q.c.sub),
    seed AS MATERIALIZED (SELECT piece, cnt FROM sub0 WHERE length(piece) = 1 OR cnt >= 2),
    t0 AS MATERIALIZED (SELECT sum(cnt) AS t, count(*) AS p FROM seed),
    p0 AS MATERIALIZED (SELECT piece, cnt,
      CAST(round(ln((CAST(cnt + 1 AS DOUBLE)) / CAST(t + p AS DOUBLE))
        * 1000000000.0) AS BIGINT) AS lp FROM seed, t0),
    ${unigramRoundCtes(1)},
    ${unigramRoundCtes(2)}"""

  /** [[unigramVocabCtes]], one more Viterbi pass under the final
    * vocabulary (`np`: pieces per distinct word — the ch3_i backtrack rows
    * ARE the chosen pieces), and the corpus words `dt` keyed by `key`:
    * the oracle half of [[graft.operators.UnigramOps.encodeStats]].
    */
  protected def unigramPieceCtes(key: String): String = s"""$unigramVocabCtes,
    ${viterbiCtes(3)},
    np AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces FROM (
        ${(1 to 16).map(i => s"SELECT w FROM ch3_$i").mkString(" UNION ALL ")}) u
      GROUP BY w),
    dt AS MATERIALIZED (SELECT $key, w FROM (
        SELECT $key, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0) t
      WHERE length(w) > 0 AND length(w) <= 16)"""


  /** dp20's weighted-fair mixture interleave as the oracle replays it
    * ([[graft.operators.PrefixSumOps.mixtureInterleave]]): per-language
    * weights w = floor(sqrt(n)) with a lang-ordered source index, the
    * per-language doc rank, and each doc's virtual time `v`.
    */
  protected val interleaveCtes = """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    w AS (SELECT lang, cast(floor(sqrt(n)) as bigint) AS w,
            cast(row_number() OVER (ORDER BY lang) - 1 as bigint) AS src_idx
          FROM c),
    tot AS (SELECT cast(sum(w) as bigint) AS wt FROM w),
    r AS (SELECT doc_id, lang,
            cast(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
              as bigint) AS src_rank
          FROM documents),
    v AS (SELECT r.doc_id, r.lang, r.src_rank,
            cast(((r.src_rank - 1) * tot.wt) // w.w as bigint) AS vtime,
            w.src_idx
          FROM r JOIN w USING (lang) CROSS JOIN tot)"""

  /** The Spark side of [[interleaveCtes]]' `w`: one row per language
    * (tiny) — the unpartitioned window is over the languages aggregate,
    * not the data.
    */
  protected def interleaveWeights(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(count(lit(1)).as("_n"))
      .withColumn("w", floor(sqrt(col("_n"))).cast("long"))
      .withColumn("src_idx",
        (row_number().over(Window.orderBy("lang")) - 1).cast("long"))
      .select("lang", "w", "src_idx")

  /** [[interleaveCtes]] through the global position `g`, each doc's
    * whitespace token count, and the exclusive running token total `rr`
    * that dp24/dp25 cut 4096-token shards from.
    */
  protected val shardCumCtes = interleaveCtes + """,
    g AS (SELECT doc_id,
            cast(row_number() OVER (ORDER BY vtime, src_idx) as bigint)
              AS global_pos
          FROM v),
    tk AS (SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
           FROM documents),
    o AS (SELECT g.doc_id, g.global_pos, tk.tok FROM g JOIN tk USING (doc_id)),
    rr AS (SELECT doc_id, global_pos, tok,
             sum(tok) OVER (ORDER BY global_pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
           FROM o)"""

  /** The per-shard manifest row (docs, tokens, position range, the
    * order-sensitive content md5) over the shard assignment `sa`.
    */
  protected val shardManifestSql = """SELECT cast(shard as bigint) AS shard, cast(count(*) as bigint) AS n_docs,
      cast(sum(tok) as bigint) AS n_tokens,
      cast(min(global_pos) as bigint) AS first_pos,
      cast(max(global_pos) as bigint) AS last_pos,
      md5(string_agg(cast(doc_id as varchar), ',' ORDER BY global_pos)) AS content_md5
    FROM sa GROUP BY shard ORDER BY shard"""


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
