package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Pipeline-curation family (dp01-dp34): splits, mixtures,
  * budgets, packing, decontamination, audits.
  * Split from the monolithic Catalog object (VERDICT r16 #8) — pure
  * file move, zero semantic change.
  */
private[queries] trait CatalogPipeline extends CatalogShared {


  // The capstone LLM-training-data curation pipeline as ONE declarative
  // plan: quality-filter -> exact dedup (keep min doc per content hash)
  // -> minhash near-dup clustering -> keep each cluster's representative.
  // Every stage is an existing operator (TextOps.qualityScore,
  // DedupOps.exactDedup/minhashCandidates/connectedComponents) composed;
  // the oracle rebuilds the same fixpoint relationally.
  private val dp01 = Q("dp01_curation_pipeline", Some(s"""
    WITH RECURSIVE eligible AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
          0.5 * least(length(text) / 512.0, 1.0)
            + 0.25 * (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) = 0 THEN 0.0
                      ELSE cast(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> list_contains(['a','an','the','and','or','of','in','to','is'], lower(x)))) as double)
                           / (CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) END)
            + 0.25 * (1.0 - least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 16.0 / length(text), 1.0))
          AS quality
        FROM documents) q
      WHERE quality >= 0.5),
    exact_kept AS (
      SELECT min(doc_id) AS doc_id FROM eligible GROUP BY md5(text)),
    docs2 AS (
      SELECT e.doc_id, e.text FROM eligible e JOIN exact_kept k ON k.doc_id = e.doc_id),
    ${minhashCtesOn("docs2")},
    pairs AS (
      $bandPairSql),
    edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM docs2
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    clustered AS (
      SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id)
    SELECT min(doc_id) AS kept_doc, count(*) AS cluster_size
    FROM clustered GROUP BY cluster ORDER BY kept_doc"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      // tx02's quality expression, staged then combined — mirrors the
      // oracle op-for-op (no rounding anywhere near the threshold)
      val toks = split(trim(col("text")), "\\s+")
      val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
      val eligible = docs
        .select(col("doc_id"), col("text"),
          TextOps.tokenCount(col("text")).as("tok_cnt"),
          TextOps.punctCount(col("text")).as("punct_cnt"),
          size(filter(toks, x => lower(x).isInCollection(stops))).as("stop_cnt"),
          length(col("text")).as("n_len"))
        .withColumn("quality",
          lit(0.5) * least(col("n_len") / 512.0, lit(1.0))
            + lit(0.25) * when(col("tok_cnt") === 0, 0.0)
                .otherwise(col("stop_cnt").cast("double") / col("tok_cnt"))
            + lit(0.25) * (lit(1.0) - least(col("punct_cnt") * 16.0 / col("n_len"), lit(1.0))))
        .where(col("quality") >= 0.5)
        .select("doc_id", "text")
      val exactKept = DedupOps.exactDedup(eligible, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      // full text of every quality-surviving doc — O(corpus) bytes, so
      // DISK_ONLY + lineage (r7 rule); the banded signature table inside
      // minhashCandidates stays checkpointed (fixed-width per doc)
      val docs2 = Exec.materializeLarge(
        eligible.join(exactKept, Seq("doc_id")))
      val pairs = DedupOps.minhashCandidates(docs2, "text", "doc_id",
        shingleK = 3, bands = 4, rowsPerBand = 4)
      DedupOps.connectedComponents(docs2.select(col("doc_id")),
          pairs.select(col("id1").as("src"), col("id2").as("dst")), "doc_id")
        .groupBy("cluster")
        .agg(min("doc_id").as("kept_doc"), count(lit(1)).as("cluster_size"))
        .select("kept_doc", "cluster_size")
        .orderBy("kept_doc")
    })


  // Deterministic train/val/test split: the split fraction is a pure
  // function of the doc id (salted md5 -> uniform [0,1)), so the split is
  // reproducible on any engine, any partitioning, any rerun — the only
  // sampling discipline that survives a distributed pipeline. 80/10/10.
  private val dp02 = Q("dp02_hash_split", Some("""
    WITH f AS (
      SELECT lang, n_chars,
        ('0x' || substr(md5('split:' || cast(doc_id as varchar)), 1, 15))::BIGINT
          / 1152921504606846976.0 AS frac
      FROM documents)
    SELECT lang,
      CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split,
      count(*) AS n_docs,
      cast(sum(n_chars) as bigint) AS total_chars
    FROM f GROUP BY 1, 2 ORDER BY lang, split"""),
    (s, d) => T(s, d, "documents")
      .withColumn("frac",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15),
          16, 10).cast("long").cast("double") / 1.152921504606846976e18)
      .withColumn("split", when(col("frac") < 0.8, "train")
        .when(col("frac") < 0.9, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang", "split"))


  // Sequence packing (context-window assembly): docs streamed in id order
  // per language, binned by exclusive cumulative token count div the
  // window capacity — deterministic, no sequential driver loop. Docs may
  // straddle a boundary (overflow-pack semantics), the standard trade for
  // a fully parallel packer.
  //
  // The prefix sum runs TWO-PHASE (PrefixSumOps.exclusiveRunningSumAuto),
  // not as one `sum OVER (PARTITION BY lang)` window: `lang` has ~5
  // values, so the single-window form would sort and prefix-sum an entire
  // language in one task at 100 TB. Per-bucket subtotals -> reduced offset
  // table -> unhinted join back (AQE broadcasts only when it fits) ->
  // local running sum within (lang, bucket); identical output, bounded
  // per-task state. The bucket width derives from the doc_id range
  // (~sqrt(range)), so BOTH the offsets table and the per-bucket windows
  // stay ~sqrt(n) at any corpus size — a fixed width 256 left the offsets
  // table ~n/256 rows, an unbounded forced broadcast at 10^12 rows
  // (VERDICT r7 #1). The oracle keeps the single-window SQL — same
  // semantics, which is the point of the rewrite.
  private val dp03 = Q("dp03_seq_packing", Some("""
    WITH t AS (
      SELECT lang, doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
      FROM documents),
    c AS (
      SELECT lang, doc_id, tok,
        sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
      FROM t)
    SELECT lang, cast(cum_excl // 4096 as bigint) AS bin,
      count(*) AS n_docs, cast(sum(tok) as bigint) AS bin_tokens
    FROM c GROUP BY lang, bin ORDER BY lang, bin"""),
    (s, d) => {
      val toks = T(s, d, "documents")
        .select(col("lang"), col("doc_id"), TextOps.tokenCount(col("text")).as("tok"))
      PrefixSumOps.exclusiveRunningSumAuto(toks, Seq("lang"), "doc_id", "tok",
          outCol = "cum_excl")
        .withColumn("bin", expr("cum_excl div 4096"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("bin_tokens"))
        .orderBy("lang", "bin")
    })


  // Per-shard sequence packing: each (lang, shard) slice packs
  // independently — bins restart at every shard boundary. This is the
  // embarrassingly parallel production mode (shards = input splits of a
  // crawl): no cross-shard offsets at all, the window partition key
  // (lang, shard) is fine-grained by construction, and a shard can be
  // re-packed in isolation when its source file is replaced. Trade-off vs
  // dp03: the last bin of every shard is partially filled.
  private val dp03b = Q("dp03b_shard_packing", Some("""
    WITH t AS (
      SELECT lang, doc_id, doc_id // 64 AS shard,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
      FROM documents),
    c AS (
      SELECT lang, shard, doc_id, tok,
        sum(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
      FROM t)
    SELECT lang, shard, cast(cum_excl // 4096 as bigint) AS bin,
      count(*) AS n_docs, cast(sum(tok) as bigint) AS bin_tokens
    FROM c GROUP BY lang, shard, bin ORDER BY lang, shard, bin"""),
    (s, d) => {
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "documents")
        .select(col("lang"), col("doc_id"), expr("doc_id div 64").as("shard"),
          TextOps.tokenCount(col("text")).as("tok"))
        .withColumn("cum_excl", sum("tok").over(w) - col("tok"))
        .withColumn("bin", expr("cum_excl div 4096"))
        .groupBy("lang", "shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("bin_tokens"))
        .orderBy("lang", "shard", "bin")
    })


  // Per-language quality-threshold calibration (the "compute stats, then
  // filter by them" pipeline step): the p90 quality cutoff per language
  // via QuantileOps' histogram quantile — NOT percentile_disc, whose agg
  // state buffers a whole language's values (an OOM at corpus scale), and
  // NOT approx_percentile, whose sketch merge is engine-specific and so
  // uncheckable across engines. 256 power-of-two bins make the float
  // binning IEEE-exact on both engines; everything after the first
  // aggregation runs on the <= 5x256-row bin table.
  private val dp10 = Q("dp10_quality_threshold", Some(s"""
    WITH ${qualityFeatureCte("lang")},
    q AS (
      SELECT lang,
        0.5 * least(n_len / 512.0, 1.0)
          + 0.25 * (CASE WHEN tok_cnt = 0 THEN 0.0
                         ELSE cast(stop_cnt as double) / tok_cnt END)
          + 0.25 * (1.0 - least(punct_cnt * 16.0 / n_len, 1.0)) AS quality
      FROM f),
    b AS (SELECT lang, least(cast(floor(quality * 256.0) as bigint), 255) AS bin FROM q),
    c AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
    w AS (
      SELECT lang, bin, cnt,
        sum(cnt) OVER (PARTITION BY lang ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(cnt) OVER (PARTITION BY lang) AS n
      FROM c),
    t AS (
      SELECT lang, max(n) AS n,
        min(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS thr_bin,
        max(n) - min(CASE WHEN cum * 10 >= n * 9 THEN cum - cnt END) AS n_kept
      FROM w GROUP BY lang)
    SELECT lang, cast(n as bigint) AS n_docs, thr_bin,
      thr_bin / 256.0 AS threshold, cast(n_kept as bigint) AS n_kept
    FROM t ORDER BY lang"""),
    (s, d) => {
      // tx02's quality expression, staged then combined — same IEEE ops
      val scored = qualityFeatures(T(s, d, "documents"), "lang")
        .select(col("lang"), featureQuality)
      QuantileOps.histogramThreshold(scored, Seq("lang"), col("quality"),
          lo = 0.0, hi = 1.0, bins = 256, num = 9, den = 10)
        .select(col("lang"), col("n").as("n_docs"), col("thr_bin"),
          (col("thr_bin") / lit(256.0)).as("threshold"), col("n_kept"))
        .orderBy("lang")
    })


  // Mixture re-sampling (source re-weighting): assemble a training mix
  // by sampling each language down to its target share of a global token
  // budget (here: half the corpus, split en 35 / zh 25 / de 20 / fr 15 /
  // es 5) — the standard corpus-assembly step between curation and
  // packing. fraction_l = min(1, budget_l / available_l), applied with
  // the dp02 salted-md5 threshold, so membership is a pure function of
  // doc_id: reproducible on any engine, partitioning, or rerun, and
  // languages whose budget exceeds supply keep everything (the min cap).
  // The per-language fraction table is 5 rows built by one aggregation +
  // a window over that reduced table — no 1-row cross join, no hint; the
  // fraction join back to the corpus auto-broadcasts at runtime.
  private val dp11 = Q("dp11_mixture_sample", Some("""
    WITH t AS (
      SELECT lang, doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
      FROM documents),
    w AS (SELECT lang, cast(wt as double) AS wt
          FROM (VALUES ('en', 0.35), ('zh', 0.25), ('de', 0.20),
                       ('fr', 0.15), ('es', 0.05)) AS w(lang, wt)),
    avail AS (SELECT lang, cast(sum(tok) as bigint) AS avail FROM t GROUP BY lang),
    f AS (SELECT a.lang,
            least(1.0, (cast(0.5 as double) * sum(a.avail) OVER () * w.wt) / a.avail) AS frac
          FROM avail a JOIN w USING (lang)),
    kept AS (
      SELECT t.lang, t.tok
      FROM t JOIN f USING (lang)
      WHERE ('0x' || substr(md5('mix:' || cast(t.doc_id as varchar)), 1, 15))::BIGINT
              / 1152921504606846976.0 < f.frac)
    SELECT lang, count(*) AS n_docs, cast(sum(tok) as bigint) AS kept_tokens
    FROM kept GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      import s.implicits._
      val toks = T(s, d, "documents")
        .select(col("lang"), col("doc_id"), TextOps.tokenCount(col("text")).as("tok"))
      val weights = Seq(("en", 0.35), ("zh", 0.25), ("de", 0.20),
        ("fr", 0.15), ("es", 0.05)).toDF("lang", "wt")
      val avail = toks.groupBy("lang").agg(sum("tok").as("avail"))
      val fracs = avail.join(weights, "lang")
        .withColumn("total", sum("avail").over(Window.partitionBy()))
        .select(col("lang"),
          least(lit(1.0), (lit(0.5) * col("total") * col("wt")) / col("avail"))
            .as("frac"))
      toks.join(fracs, "lang")
        .where(conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long").cast("double")
          / 1.152921504606846976e18 < col("frac"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("tok").cast("long").as("kept_tokens"))
        .orderBy("lang")
    })


  // Cross-split leakage audit: near-duplicate pairs that STRADDLE the
  // deterministic train/val/test boundary — the contamination dp09's
  // benchmark check cannot see, because both docs live inside the
  // training corpus's own splits (a val/test doc with a train near-twin
  // silently inflates eval numbers). Composes the dd02 MinHash+LSH
  // candidate kernel with dp02's salted-md5 split assignment: candidate
  // volume is bounded by the banded equi-join exactly as in dd02, and
  // each side's split label arrives by a linear equi-join on doc_id —
  // nothing here is corpus x corpus. Emits the pair list (not a
  // summary) so the oracle check pins every leaked pair.
  private val dp12 = Q("dp12_split_leakage", Some(s"""
    WITH $minhashCtes,
    pairs AS (
      $bandPairSql),
    sp AS (
      SELECT doc_id,
        CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
          ('0x' || substr(md5('split:' || cast(doc_id as varchar)), 1, 15))::BIGINT
            / 1152921504606846976.0 AS frac
        FROM documents) f)
    SELECT p.id1, p.id2, a.split AS split1, b.split AS split2
    FROM pairs p
    JOIN sp a ON a.doc_id = p.id1
    JOIN sp b ON b.doc_id = p.id2
    WHERE a.split <> b.split
    ORDER BY id1, id2"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      // dp02's exact split expression (same salt, same 60-bit draw)
      val frac = conv(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").cast("double") / 1.152921504606846976e18
      val sp = docs.select(col("doc_id"),
        when(frac < 0.8, "train").when(frac < 0.9, "val").otherwise("test")
          .as("split"))
      DedupOps.minhashCandidates(docs, "text", "doc_id",
          shingleK = 3, bands = 4, rowsPerBand = 4)
        .join(sp.select(col("doc_id").as("id1"), col("split").as("split1")), "id1")
        .join(sp.select(col("doc_id").as("id2"), col("split").as("split2")), "id2")
        .where(col("split1") =!= col("split2"))
        .select("id1", "id2", "split1", "split2")
        .orderBy("id1", "id2")
    })


  // Token-budget mixture selection (the data-recipe "take"): each
  // language contributes docs, drawn in salted-hash order, until its
  // TOKEN budget — here 30% of the language's own token volume, integer-
  // exact ((sum*3) div 10) — is exhausted. dp11's row-fraction sampling
  // over-draws groups with long documents; budgets are specified in
  // tokens, so the running token sum decides membership. The prefix sum
  // is PrefixSumOps two-phase (never one reducer per language); the
  // 5-row budget table joins back unhinted; the boundary-crossing doc is
  // kept (overflow-take, dp03's convention). Deterministic: the 60-bit
  // salted-md5 order key is a pure function of doc_id.
  private val dp13 = Q("dp13_token_budget", Some("""
    WITH t AS (
      SELECT doc_id, lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      FROM documents),
    h AS (
      SELECT doc_id, lang, n_tok,
        ('0x' || substr(md5('mix:' || cast(doc_id as varchar)), 1, 15))::BIGINT AS hk
      FROM t),
    b AS (SELECT lang, (sum(n_tok) * 3) // 10 AS budget FROM t GROUP BY lang),
    c AS (
      SELECT lang, doc_id, n_tok, hk,
        sum(n_tok) OVER (PARTITION BY lang ORDER BY hk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_excl
      FROM h)
    SELECT c.doc_id, c.lang, cast(c.n_tok as bigint) AS n_tok
    FROM c JOIN b USING (lang)
    WHERE c.cum_excl < b.budget
    ORDER BY doc_id"""),
    (s, d) => {
      val t = T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      val h = t.withColumn("hk",
        conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      val b = t.groupBy("lang").agg(expr("sum(n_tok) * 3 div 10").as("budget"))
      PrefixSumOps.takeUntilBudget(h, Seq("lang"), "hk", "n_tok", b)
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy("doc_id")
    })


  // Temperature-scaled mixture budgets (the multilingual data-recipe
  // move, τ = 2: sample languages ∝ sqrt of their token share so
  // low-resource languages are up-weighted without letting any dominate)
  // feeding dp13's takeUntilBudget kernel. Integer-exact end to end:
  // weights are floor(sqrt(c_l)) — sqrt is IEEE-correctly-rounded in
  // both engines and c_l < 2^53 is exact in double, so the floored
  // weight is deterministic — and budgets are (B * s_l) div S in BIGINT.
  // Output is the 5-row per-language plan + what the take actually drew,
  // showing the flattening (raw share vs temperature share).
  private val dp15 = Q("dp15_temperature_mixture", Some("""
    WITH t AS (
      SELECT doc_id, lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
      FROM documents),
    c AS (SELECT lang, cast(sum(n_tok) as bigint) AS c_tok FROM t GROUP BY lang),
    w AS (SELECT lang, c_tok, cast(floor(sqrt(c_tok)) as bigint) AS s FROM c),
    b AS (
      SELECT lang, c_tok, s,
        cast(((SELECT (sum(c_tok) * 3) // 10 FROM c) * s)
          // (SELECT sum(s) FROM w) as bigint) AS budget
      FROM w),
    h AS (
      SELECT doc_id, lang, n_tok,
        ('0x' || substr(md5('temp:' || cast(doc_id as varchar)), 1, 15))::BIGINT AS hk
      FROM t),
    cum AS (
      SELECT lang, doc_id, n_tok,
        sum(n_tok) OVER (PARTITION BY lang ORDER BY hk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_excl
      FROM h),
    tk AS (
      SELECT cum.lang, count(*) AS n_docs,
        cast(sum(cum.n_tok) as bigint) AS tokens_taken
      FROM cum JOIN b USING (lang)
      WHERE cum.cum_excl < b.budget GROUP BY cum.lang)
    SELECT b.lang, b.c_tok, b.budget, tk.n_docs, tk.tokens_taken
    FROM b JOIN tk ON tk.lang = b.lang
    ORDER BY b.lang"""),
    (s, d) => {
      val t = T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      val c = t.groupBy("lang").agg(sum("n_tok").cast("long").as("c_tok"))
      val w = c.withColumn("s", floor(sqrt(col("c_tok"))).cast("long"))
      // both scalars are 1-row aggregates; cross-joined in (tiny, exact)
      val totals = w.agg(expr("cast(sum(c_tok) * 3 div 10 as long)").as("_B"),
        sum(col("s")).cast("long").as("_S"))
      val b = w.crossJoin(totals)
        .withColumn("budget", expr("cast((_B * s) div _S as long)"))
        .select("lang", "c_tok", "s", "budget")
      val h = t.withColumn("hk",
        conv(substring(md5(concat(lit("temp:"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      val taken = PrefixSumOps.takeUntilBudget(h, Seq("lang"), "hk", "n_tok",
          b.select("lang", "budget"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("tokens_taken"))
      b.join(taken, "lang")
        .select("lang", "c_tok", "budget", "n_docs", "tokens_taken")
        .orderBy("lang")
    })


  // Epoch-repetition mixture planning (the "repeat low-resource data, at
  // most ~4 epochs" scaling rule — repetition is the third lever next to
  // dp13's selection and dp15's temperature weighting): per language,
  // an equal share of a 150%-of-corpus token budget (over-subscribed —
  // the regime repetition exists for); a language whose
  // corpus is smaller than its share repeats, capped at 4 epochs, and
  // plans min(target, c_tok·epochs) tokens. Pure integer arithmetic
  // (ceil(a/b) as (a+b-1) div b), one corpus scan, 1-row totals
  // broadcast — both engines agree exactly.
  private val dp18 = Q("dp18_epoch_mixture", Some("""
    WITH t AS (
      SELECT lang,
        cast(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END) as bigint) AS c_tok
      FROM documents GROUP BY lang
      HAVING c_tok > 0),
    tot AS (SELECT cast(sum(c_tok) * 3 // 2 as bigint) AS b_tot,
                   cast(count(*) as bigint) AS n_lang FROM t)
    SELECT lang, c_tok,
      cast(b_tot // n_lang as bigint) AS target,
      cast(least(4, greatest(1, (b_tot // n_lang + c_tok - 1) // c_tok)) as bigint)
        AS epochs,
      cast(least(b_tot // n_lang,
        c_tok * least(4, greatest(1, (b_tot // n_lang + c_tok - 1) // c_tok)))
        as bigint) AS planned_tok
    FROM t CROSS JOIN tot ORDER BY lang"""),
    (s, d) => {
      val t = T(s, d, "documents")
        .groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
          .cast("long").as("c_tok"))
        // an all-empty-text language has c_tok = 0: its epoch ceil would
        // divide by zero (NULL in Spark, a hard error in DuckDB — an
        // engine divergence, ADVICE r11). Zero tokens means nothing to
        // mix; drop it from the plan AND the totals, mirrored by the
        // oracle's HAVING.
        .where(col("c_tok") > 0)
      val tot = t.agg(expr("cast(sum(c_tok) * 3 div 2 as long)").as("_bt"),
        count(lit(1)).as("_nl"))
      t.crossJoin(broadcast(tot))
        .withColumn("target", expr("_bt div _nl"))
        .withColumn("epochs",
          expr("least(4L, greatest(1L, (target + c_tok - 1) div c_tok))"))
        .withColumn("planned_tok", expr("least(target, c_tok * epochs)"))
        .select("lang", "c_tok", "target", "epochs", "planned_tok")
        .orderBy("lang")
    })


  // Split repair (the step dp12's audit feeds): quarantine every TRAIN
  // doc that is a near-dup candidate of a doc OUTSIDE train — a val/test
  // twin left in train silently inflates eval numbers, so the repaired
  // roster drops it. Same dd02 banded candidate kernel and dp02 split
  // expression as dp12 (candidate volume bounded by the banded
  // equi-join); the quarantine list is DISTINCT train-side ids, one LEFT
  // join marks the roster, and the per-language before/after counts are
  // one hash aggregation. train↔train dups are dd06's concern, not
  // leakage — only pairs with exactly one train side quarantine.
  private val dp14 = Q("dp14_leakage_quarantine", Some(s"""
    WITH $minhashCtes,
    pairs AS (
      $bandPairSql),
    sp AS (
      SELECT doc_id, lang, n_chars,
        CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id, lang, n_chars,
          ('0x' || substr(md5('split:' || cast(doc_id as varchar)), 1, 15))::BIGINT
            / 1152921504606846976.0 AS frac
        FROM documents) f),
    leak AS (
      SELECT DISTINCT CASE WHEN a.split = 'train' THEN p.id1 ELSE p.id2 END AS doc_id
      FROM pairs p
      JOIN sp a ON a.doc_id = p.id1
      JOIN sp b ON b.doc_id = p.id2
      WHERE (a.split = 'train') <> (b.split = 'train')),
    tr AS (SELECT doc_id, lang, n_chars FROM sp WHERE split = 'train')
    SELECT tr.lang,
      count(*) AS n_train_before,
      cast(count(l.doc_id) as bigint) AS n_quarantined,
      cast(count(*) - count(l.doc_id) as bigint) AS n_train_after,
      cast(sum(CASE WHEN l.doc_id IS NULL THEN tr.n_chars ELSE 0 END) as bigint)
        AS chars_after
    FROM tr LEFT JOIN leak l ON l.doc_id = tr.doc_id
    GROUP BY tr.lang ORDER BY tr.lang"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      // dp02's exact split expression (same salt, same 60-bit draw)
      val frac = conv(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").cast("double") / 1.152921504606846976e18
      val sp = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        when(frac < 0.8, "train").when(frac < 0.9, "val").otherwise("test")
          .as("split"))
      val lab = DedupOps.minhashCandidates(docs, "text", "doc_id",
          shingleK = 3, bands = 4, rowsPerBand = 4)
        .join(sp.select(col("doc_id").as("id1"), col("split").as("s1")), "id1")
        .join(sp.select(col("doc_id").as("id2"), col("split").as("s2")), "id2")
      val leak = lab.where((col("s1") === "train") =!= (col("s2") === "train"))
        .select(when(col("s1") === "train", col("id1")).otherwise(col("id2"))
          .as("doc_id"))
        .distinct()
      sp.where(col("split") === "train")
        .join(leak.withColumn("_q", lit(1)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_train_before"),
          count(col("_q")).as("n_quarantined"),
          (count(lit(1)) - count(col("_q"))).as("n_train_after"),
          sum(when(col("_q").isNull, col("n_chars")).otherwise(lit(0L)))
            .as("chars_after"))
        .orderBy("lang")
    })


  // Benchmark decontamination (test-set overlap removal): the standard
  // pretraining hygiene step — a training doc sharing any 4-token shingle
  // with an eval/benchmark doc is flagged with its overlap count, so it
  // can be dropped or audited before training. Candidate generation is an
  // equi-join on a FIXED-WIDTH md5 shingle key (mirrored digit-for-digit
  // in the oracle), never a similarity scan: the train side shuffles once
  // on the 16-char hash, and the eval side (bounded — benchmarks are
  // small) joins UNHINTED, the tx08 discipline — AQE broadcasts it when
  // it fits, degrades to a shuffled hash join when it doesn't.
  private val dp09 = Q("dp09_decontam", Some("""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id, substr(md5(s), 1, 16) AS h FROM (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 4 THEN
            list_transform(generate_series(1, len(tk) - 3),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
          ELSE [array_to_string(tk, ' ')] END) AS s
        FROM t) u),
    ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 11 = 0),
    hits AS (
      SELECT s.doc_id, count(DISTINCT s.h) AS n_overlap
      FROM sh s JOIN ev e ON s.h = e.h
      WHERE s.doc_id % 11 <> 0
      GROUP BY s.doc_id)
    SELECT doc_id, n_overlap FROM hits ORDER BY doc_id"""),
    (s, d) => {
      // the exploded shingle table is O(corpus): DISK_ONLY + lineage
      // (materializeLarge), not localCheckpoint — see tx06's note
      val sh = Exec.materializeLarge(T(s, d, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), DedupOps.tokens(col("text")).as("_tk"))
        .select(col("doc_id"),
          explode(DedupOps.shinglesFromTokens(col("_tk"), 4)).as("_s"))
        .select(col("doc_id"), substring(md5(col("_s")), 1, 16).as("h")))
      val ev = sh.where(col("doc_id") % 11 === 0).select("h").distinct()
      sh.where(col("doc_id") % 11 =!= 0)
        .join(ev, Seq("h"))
        .groupBy("doc_id").agg(countDistinct("h").as("n_overlap"))
        .orderBy("doc_id")
    })


  // SCD-style snapshot diff (SnapshotOps.snapshotDiff): two synthetic
  // snapshots of `customer` — old drops custkey%7==0 (-> "added"), new
  // drops custkey%11==0 (-> "removed") and doubles acctbal for
  // custkey%5==0 (-> "changed"; ×2 is an exact IEEE op, mirrored in the
  // oracle). One full-outer join classifies every key in one shuffle.
  private val dp04 = Q("dp04_snapshot_diff", Some("""
    WITH old AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 7 <> 0),
    new AS (
      SELECT c_custkey, c_name,
        CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 11 <> 0)
    SELECT CASE
        WHEN o.c_custkey IS NULL THEN 'added'
        WHEN n.c_custkey IS NULL THEN 'removed'
        WHEN NOT (o.c_name IS NOT DISTINCT FROM n.c_name
              AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal) THEN 'changed'
        ELSE 'unchanged' END AS status,
      count(*) AS n_keys,
      cast(sum(coalesce(o.c_custkey, n.c_custkey)) as bigint) AS key_sum
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    GROUP BY 1 ORDER BY status"""),
    (s, d) => {
      val (oldSnap, newSnap) = customerSnapshots(s, d)
      SnapshotOps.snapshotDiff(oldSnap, newSnap,
          keys = Seq("c_custkey"), compareCols = Seq("c_name", "c_acctbal"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_keys"), sum("c_custkey").as("key_sum"))
        .orderBy("status")
    })


  // MERGE-style apply of a snapshot diff (SCD upsert): the new snapshot
  // annotated with insert/update/keep per key, removed keys dropped —
  // the write side of dp04's change capture, built on the same
  // SnapshotOps.snapshotDiff single full-outer join.
  private val dp05 = Q("dp05_scd_merge", Some("""
    WITH old AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 7 <> 0),
    new AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 11 <> 0)
    SELECT n.c_custkey AS c_custkey,
      CASE WHEN o.c_custkey IS NULL THEN 'insert'
           WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
           ELSE 'keep' END AS op,
      o.c_acctbal AS prev_acctbal,
      n.c_acctbal AS curr_acctbal
    FROM new n LEFT JOIN old o ON o.c_custkey = n.c_custkey
    ORDER BY 1"""),
    (s, d) => {
      val cust = T(s, d, "customer")
      val oldSnap = cust.where(col("c_custkey") % 7 =!= 0)
        .select("c_custkey", "c_acctbal")
      val newSnap = cust.where(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") * 2)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      SnapshotOps.snapshotDiff(oldSnap, newSnap,
          keys = Seq("c_custkey"), compareCols = Seq("c_acctbal"))
        .where(col("status") =!= "removed")
        .select(col("c_custkey"),
          when(col("status") === "added", "insert")
            .when(col("status") === "changed", "update")
            .otherwise("keep").as("op"),
          col("_old_c_acctbal").as("prev_acctbal"),
          col("_new_c_acctbal").as("curr_acctbal"))
        .orderBy("c_custkey")
    })


  // Domain balancing (stratified cap): keep at most k docs per language,
  // chosen by salted-md5 order — a deterministic uniform sample that is
  // identical on any engine, partitioning, or rerun (same discipline as
  // dp02's hash split; rand() would be neither reproducible nor
  // task-retry-safe). One shuffle on the group key; per-group state in
  // the window is just the running row number.
  private val dp06 = Q("dp06_domain_cap", Some("""
    WITH r AS (
      SELECT lang, doc_id, n_chars,
        row_number() OVER (PARTITION BY lang
          ORDER BY md5('cap:' || cast(doc_id as varchar)), doc_id) AS rn
      FROM documents)
    SELECT lang, count(*) AS n_docs,
      cast(sum(n_chars) as bigint) AS sampled_chars,
      cast(sum(doc_id) as bigint) AS id_sum
    FROM r WHERE rn <= 50 GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      // same two-phase discipline as tx07: lang is low-cardinality, so
      // the cap's top-50-by-salted-md5 runs as TopKOps' salted phases
      // rather than one reducer per language over the whole corpus.
      val scored = T(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("_ord", md5(concat(lit("cap:"), col("doc_id").cast("string"))))
      TopKOps.perGroupTopK(scored, Seq("lang"),
          Seq(col("_ord").asc, col("doc_id").asc), k = 50, saltOn = col("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sampled_chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    })


  // Size-weighted deterministic sampling: include a doc with probability
  // proportional to its length, decided by an integer comparison of a
  // 32-bit md5 draw against n_chars — uniform, reproducible under any
  // partitioning or retry (same discipline as dp02/dp06), and the
  // inclusion test is pure integer math so both engines agree exactly.
  private val dp07 = Q("dp07_weighted_sample", Some("""
    WITH meta AS (SELECT max(n_chars) AS mx FROM documents),
    keep AS (
      SELECT lang, doc_id, n_chars
      FROM documents
      WHERE ('0x' || substr(md5('ws:' || cast(doc_id as varchar)), 1, 8))::BIGINT
              * (SELECT mx FROM meta)
            < cast(n_chars as bigint) * 4294967296)
    SELECT lang, count(*) AS n_docs,
      cast(sum(n_chars) as bigint) AS sampled_chars,
      cast(sum(doc_id) as bigint) AS id_sum
    FROM keep GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val meta = docs.agg(max("n_chars").as("mx"))
      docs.crossJoin(broadcast(meta))
        .where(
          conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8),
            16, 10).cast("long") * col("mx")
            < col("n_chars").cast("long") * lit(4294967296L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sampled_chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    })


  // Fixed-budget PPS sampling (systematic selection over the running
  // char total): exactly ≤32 docs per language, long docs included with
  // probability ∝ length — the fixed-SIZE complement of dp07's Bernoulli
  // draw. Pure integer math over a distributed prefix sum
  // (PrefixSumOps.ppsSystematicSample — the dp03 two-phase kernel, no
  // one-reducer-per-language window); the oracle keeps the single-window
  // SQL, which is the point of the rewrite.
  private val dp16 = Q("dp16_pps_sample", Some("""
    WITH c AS (
      SELECT lang, doc_id, n_chars,
        sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
          AS cum_excl,
        sum(n_chars) OVER (PARTITION BY lang) AS tot
      FROM documents)
    SELECT lang, doc_id, n_chars
    FROM c
    WHERE tot > 0
      AND ((cum_excl + n_chars) * 32) // tot > (cum_excl * 32) // tot
    ORDER BY lang, doc_id"""),
    (s, d) => PrefixSumOps.ppsSystematicSample(
        T(s, d, "documents").select("lang", "doc_id", "n_chars"),
        Seq("lang"), "doc_id", "n_chars", budget = 32)
      .orderBy("lang", "doc_id"))


  // Global curriculum ordering: every doc's 1-based position under the
  // corpus-wide (n_chars, doc_id) total order, plus its training shard —
  // row_number() OVER (ORDER BY ...) with NO single-reducer sort. The
  // composite integer key n_chars·R + doc_id (R = max id + 1, derived
  // from data) makes the order one numeric column; the rank comes from
  // PrefixSumOps.globalRank's two-phase prefix sum with the sparse-key
  // width (range/sqrt(n) — sqrt(range) would leave a ~n-row offsets
  // table in one task when range ≈ n²). The oracle keeps the window SQL.
  private val dp17 = Q("dp17_curriculum_rank", Some("""
    SELECT doc_id, n_chars,
      row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
      (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 100 AS shard
    FROM documents ORDER BY rank"""),
    (s, d) => {
      val docs = T(s, d, "documents").select("doc_id", "n_chars")
      val b = docs.agg(max("doc_id"), max("n_chars")).head()
      if (b.isNullAt(0)) // empty corpus: the rank of nothing is no rows
        docs.withColumn("rank", lit(0L)).withColumn("shard", lit(0L))
          .select("doc_id", "n_chars", "rank", "shard")
      else {
        val r = b.getLong(0) + 1
        // globalRank's contract: the composite key must fit in a long —
        // max key is n_chars_max·R + doc_id_max (same style as
        // ppsSystematicSample's W·budget bound)
        require(b.getLong(1) <= (Long.MaxValue - b.getLong(0)) / r,
          s"composite key n_chars*$r + doc_id overflows Long")
        PrefixSumOps.globalRank(
            docs.withColumn("_key", col("n_chars") * r + col("doc_id")),
            "_key", "rank")
          .withColumn("shard", expr("(rank - 1) div 100"))
          .select("doc_id", "n_chars", "rank", "shard")
          .orderBy("rank")
      }
    })


  // DSIR-style importance resampling (TextOps.dsirSelect, Xie et al.
  // 2023): keep the quarter of the corpus whose hashed-bigram feature
  // distribution looks most like the TARGET domain (here lang = 'en' —
  // the "select web data that looks like Wikipedia" move with the
  // corpus's own English slice as the target). Model = 8192-bucket
  // hashed-bigram log-ratios in integer micro-units; weights = exact
  // integer dot products; the top-quarter cut is an exact global top-k
  // via the dp17 prefix-sum rank (no single-reducer sort). The oracle
  // replays feature hashing, smoothing, per-bucket rounding, and the
  // (w DESC, doc_id) rank verbatim.
  private val dp19 = Q("dp19_dsir_select", Some("""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    bg AS (
      SELECT doc_id, lang,
        unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8))::BIGINT
               % 8192)) AS b
      FROM t WHERE len(tk) >= 2),
    db AS (SELECT doc_id, lang, b, count(*) AS c FROM bg GROUP BY 1, 2, 3),
    fb AS (
      SELECT b, sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
        sum(c) AS cr
      FROM db GROUP BY 1),
    tot AS (SELECT sum(ct) AS tt, sum(cr) AS rt, count(*) AS v FROM fb),
    lam AS (
      SELECT b, cast(round(ln(((ct + 1.0) * (rt + v))
        / ((cr + 1.0) * (tt + v))) * 1000000.0) as bigint) AS lam
      FROM fb CROSS JOIN tot),
    w AS (
      SELECT d.doc_id, min(d.lang) AS lang,
        cast(sum(d.c) as bigint) AS n_feat,
        cast(sum(d.c * lam.lam) as bigint) AS w_micro
      FROM db d JOIN lam USING (b) GROUP BY d.doc_id),
    n AS (SELECT count(*) AS n FROM w),
    r AS (
      SELECT doc_id, lang, n_feat, w_micro,
        row_number() OVER (ORDER BY w_micro DESC, doc_id) AS sel_rank
      FROM w)
    SELECT doc_id, lang, n_feat, w_micro, cast(sel_rank as bigint) AS sel_rank
    FROM r CROSS JOIN n WHERE sel_rank <= (n + 3) // 4
    ORDER BY doc_id"""),
    (s, d) => TextOps.dsirSelect(T(s, d, "documents"), "text", "lang",
        "doc_id", targetPred = col("lang") === "en")
      .orderBy("doc_id"))


  // Deterministic weighted-fair mixture interleave
  // (PrefixSumOps.mixtureInterleave — stride scheduling, Waldspurger &
  // Weihl 1995): the ORDERING step of a training run. Per-language
  // weights w = floor(sqrt(n)) (the dp15/dp16 temperature-0.5 flavor —
  // small languages appear relatively more often), each language's r-th
  // doc gets virtual time (r-1)·W div w, and the global sequence is the
  // ascending merge — languages evenly spread, never blocked. Everything
  // integer; per-source ranks and the global position both run as
  // two-phase prefix sums (no single-reducer sort, the dp17 discipline).
  private val dp20 = Q("dp20_mixture_interleave", Some(s"""
    $interleaveCtes
    SELECT doc_id, lang, src_rank, vtime,
      cast(row_number() OVER (ORDER BY vtime, src_idx) as bigint)
        AS global_pos
    FROM v ORDER BY global_pos"""),
    (s, d) => {
      val docs = T(s, d, "documents").select("doc_id", "lang")
      // per-language weights: one row per language (tiny) — the
      // unpartitioned window is over the <= languages aggregate, not data
      val w = interleaveWeights(docs)
      PrefixSumOps.mixtureInterleave(docs, "lang", "doc_id", w)
        .select("doc_id", "lang", "src_rank", "vtime", "global_pos")
        .orderBy("global_pos")
    })


  // Round-4 composition capstone: the incremental ingestion gate as ONE
  // declarative plan. A new batch passes through the Bloom prefilter
  // (megabytes vs the 100 TB history); definite-new docs skip the exact
  // check entirely (the fast path — at scale, most of the batch);
  // Bloom-maybes get the exact md5 anti-join (catching false
  // positives); survivors are size-weighted sampled. Per-language
  // tallies of each path make the gate's behavior itself the checked
  // value.
  private val dp08 = Q("dp08_ingest_gate", Some(s"""
    WITH hist AS (SELECT text FROM documents WHERE doc_id < 400),
    batch AS (SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id >= 400),
    $bloomProbeCtes,
    gate AS (
      SELECT doc_id,
        count(*) FILTER (WHERE bit IN (SELECT bit FROM bits)) = 4 AS maybe_dup
      FROM probe GROUP BY doc_id),
    kept AS (
      SELECT b.doc_id, b.lang, b.n_chars, g.maybe_dup
      FROM batch b JOIN gate g USING (doc_id)
      WHERE NOT g.maybe_dup
         OR md5(b.text) NOT IN (SELECT DISTINCT md5(text) FROM hist)),
    meta AS (SELECT max(n_chars) AS mx FROM documents),
    sampled AS (
      SELECT * FROM kept
      WHERE ('0x' || substr(md5('ws:' || cast(doc_id as varchar)), 1, 8))::BIGINT
              * (SELECT mx FROM meta)
            < cast(n_chars as bigint) * 4294967296)
    SELECT lang,
      cast(count(*) as bigint) AS n_sampled,
      cast(count(*) FILTER (WHERE NOT maybe_dup) as bigint) AS n_fast_path,
      cast(sum(doc_id) as bigint) AS id_sum
    FROM sampled GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val hist = docs.where(col("doc_id") < 400)
      val batch = docs.where(col("doc_id") >= 400)
      val gated = DedupOps.bloomPrefilter(hist, batch, "text", "doc_id")
      val kept = batch.join(gated, "doc_id")
        .where(!col("maybe_dup") || !col("actual_dup"))
      val meta = docs.agg(max("n_chars").as("mx"))
      kept.crossJoin(broadcast(meta))
        .where(
          conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8),
            16, 10).cast("long") * col("mx")
            < col("n_chars").cast("long") * lit(4294967296L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          count(when(!col("maybe_dup"), 1)).as("n_fast_path"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    })


  // Stratified fixed-budget eval split (StratifyOps): a GLOBAL 60-doc
  // budget apportioned across languages by largest-remainder (Hamilton)
  // — every language gets floor(60·c/C) seats and the largest
  // remainders split what's left, the rule that never strays more than
  // one seat from exact proportionality — then each language's share is
  // drawn by equidistant systematic selection in salted-md5 order (a
  // deterministic stratified uniform draw). Apportionment runs on the
  // reduced per-language table (dp11's window-over-reduced-table
  // precedent); the per-language rank is the two-phase prefix sum over
  // the composite key h32·R + doc_id (unique, numeric — dp17's
  // composite-key move with the overflow guard); selection is pure
  // BIGINT stride comparisons. dp16 fixes each group's budget a priori;
  // THIS derives every group's budget from one global number.
  private val dp21 = Q("dp21_stratified_split", Some("""
    WITH tot AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    g AS (SELECT sum(c) AS ctot FROM tot),
    base AS (SELECT lang, c, (60 * c) // ctot AS b, (60 * c) % ctot AS rem
             FROM tot, g),
    lo AS (SELECT 60 - sum(b) AS l FROM base),
    seats AS (SELECT lang, c,
        b + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= l
                 THEN 1 ELSE 0 END AS seats
      FROM base, lo),
    r AS (SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang
          ORDER BY ('0x' || substr(md5('strat:' || cast(doc_id as varchar)), 1, 8))::BIGINT,
                   doc_id) AS rank
      FROM documents)
    SELECT r.lang, r.doc_id, cast(r.rank as bigint) AS rank
    FROM r JOIN seats USING (lang)
    WHERE seats > 0 AND (rank * seats) // c > ((rank - 1) * seats) // c
    ORDER BY r.lang, r.rank"""),
    (s, d) => {
      val docs = T(s, d, "documents").select("lang", "doc_id")
      val counts = docs.groupBy("lang").agg(count(lit(1)).cast("long").as("c"))
      val seats = StratifyOps.largestRemainderSeats(counts, Seq("lang"), "c",
        budget = 60)
      val b = docs.agg(max("doc_id")).head()
      if (b.isNullAt(0))
        docs.withColumn("rank", lit(0L)).select("lang", "doc_id", "rank")
      else {
        // salted order key h32·R + doc_id: unique (doc_id breaks h32
        // ties), numeric, non-negative — prefix-sum contract. Guard:
        // (2^32 − 1)·R + (R − 1) must fit in a long.
        val r = b.getLong(0) + 1
        require(r <= Long.MaxValue / 4294967296L,
          s"composite key h32*$r + doc_id overflows Long")
        val keyed = docs
          .withColumn("_h", conv(substring(
            md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 8),
            16, 10).cast("long"))
          .withColumn("_key", col("_h") * r + col("doc_id"))
        StratifyOps.stratifiedSystematic(keyed, Seq("lang"), "_key",
            seats, "c", "seats", "rank")
          .select(col("lang"), col("doc_id"), col("rank"))
          .orderBy("lang", "rank")
      }
    })


  // Per-source DATA CARD (Datasheets-for-Datasets observability: the
  // one-table corpus summary a pipeline publishes with every release):
  // per source — document/token volume, decimal-exact mean quality
  // (per-doc score rounded to 4dp, decimal-summed: immune to float
  // reassociation at any partitioning), PII match volume, documents in
  // a >1-size prefix-fingerprint duplicate cluster (dp22's key), and
  // language spread. Every signal is an existing linear operator
  // (tx02's mirrored quality, tx10's RE2-safe PII counts, dp22's
  // fingerprint) composed into ONE pass + one fingerprint hash agg.
  private val dp23 = Q("dp23_data_card", Some("""
    WITH f AS (
      SELECT doc_id, source, lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
        round(0.5 * least(length(text) / 512.0, 1.0)
          + 0.25 * (CASE WHEN length(trim(text)) = 0 THEN 0.0
                 ELSE cast(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                        x -> list_contains(['a','an','the','and','or','of','in','to','is'], lower(x)))) as double)
                      / len(regexp_split_to_array(trim(text), '\s+')) END)
          + 0.25 * (1.0 - least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 16.0
                               / length(text), 1.0)), 4) AS q4,
        len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
          + len(regexp_extract_all(text, '\+1-[0-9]{3}-[0-9]{4}')) AS pii,
        md5(array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 8), ' ')) AS h
      FROM documents),
    g AS (SELECT h, count(*) AS c FROM f GROUP BY h)
    SELECT f.source, cast(count(*) as bigint) AS n_docs,
      cast(sum(f.tc) as bigint) AS n_tokens,
      round(cast(sum(cast(f.q4 as decimal(12,4))) as double) / count(*), 6) AS avg_quality,
      cast(sum(f.pii) as bigint) AS n_pii,
      cast(sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_docs,
      cast(count(distinct f.lang) as bigint) AS n_langs
    FROM f JOIN g USING (h)
    GROUP BY f.source ORDER BY f.source"""),
    (s, d) => {
      val toks = split(trim(col("text")), "\\s+")
      val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
      val quality =
        lit(0.5) * least(length(col("text")) / 512.0, lit(1.0)) +
        lit(0.25) * when(length(trim(col("text"))) === 0, 0.0)
          .otherwise(size(filter(toks, x => lower(x).isInCollection(stops)))
            .cast("double") / size(toks)) +
        lit(0.25) * (lit(1.0) -
          least(TextOps.punctCount(col("text")) * 16.0 / length(col("text")), lit(1.0)))
      val f = T(s, d, "documents")
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).as("tc"),
          round(quality, 4).as("q4"),
          (TextOps.emailCount(col("text")) + TextOps.phoneCount(col("text"))).as("pii"),
          col("text"))
        .withColumn("_tk", DedupOps.tokens(col("text")))
        .withColumn("h", md5(array_join(slice(col("_tk"), 1, 8), " ")))
        .drop("text", "_tk")
      val g = f.groupBy("h").agg(count(lit(1)).as("c"))
      f.join(g, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("tc").cast("long").as("n_tokens"),
          round(sum(col("q4").cast("decimal(12,4)")).cast("double")
            / count(lit(1)), 6).as("avg_quality"),
          sum("pii").cast("long").as("n_pii"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    })


  // Token-bounded shard export MANIFEST (sinks.ShardExport — VERDICT
  // r12 #4, the pipeline's last mile): order the corpus by dp20's
  // mixture interleave, cut shards at a 4096-token budget via the
  // two-phase exclusive prefix sum (dp03's overflow-pack convention:
  // docs never split, the boundary-crossing doc stays in the shard it
  // started, so payload < budget + last doc and appends never re-cut
  // existing shards), and emit per-shard docs / tokens / position range
  // / an ORDER-SENSITIVE content hash (md5 of the comma-joined doc ids
  // in position order) — what a training job checks before consuming a
  // shard file. The hash's collect_list is budget-bounded per shard,
  // never corpus-bounded. ShardExportSpec drives the actual
  // one-file-per-shard write and round-trips it against this manifest.
  private val dp24 = Q("dp24_shard_manifest", Some(s"""
    $shardCumCtes,
    sa AS (SELECT doc_id, global_pos, tok, cum_excl // 4096 AS shard FROM rr)
    $shardManifestSql"""),
    (s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextOps.tokenCount(col("text")).as("tok"))
      val w = interleaveWeights(docs)
      val inter = PrefixSumOps.mixtureInterleave(docs, "lang", "doc_id", w)
      val assigned = graft.sinks.ShardExport.assignShards(
        inter.select(col("doc_id"), col("global_pos"), col("tok")),
        "global_pos", "tok", tokenBudget = 4096L)
      graft.sinks.ShardExport.manifest(assigned, "doc_id", "global_pos", "tok")
        .orderBy("shard")
    })


  // INCREMENTAL shard manifest (ShardExport.assignShardsIncremental —
  // the daily-append mode of dp24, completing the incremental family
  // dd08/dd14/dd18): the first 3/5 of the interleave order is "already
  // exported" HISTORY, summarized by ONE number (its running token
  // total); the batch continues cutting from that offset touching only
  // its own rows — O(batch). The correctness claim is the whole point:
  // the ORACLE runs the FULL history+batch computation and restricts to
  // the batch suffix, so a hash match PROVES appends never re-cut
  // existing shards (floor((offset + batch_cumsum)/budget) = the full
  // run's cut for every batch row, by the dp03 overflow-pack rule).
  private val dp25 = Q("dp25_incremental_shards", Some(s"""
    $shardCumCtes,
    hb AS (SELECT cast(count(*) * 3 // 5 as bigint) AS h FROM documents),
    sa AS (SELECT doc_id, global_pos, tok, cum_excl // 4096 AS shard
           FROM rr WHERE global_pos > (SELECT h FROM hb))
    $shardManifestSql"""),
    (s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextOps.tokenCount(col("text")).as("tok"))
      val w = interleaveWeights(docs)
      val inter = graft.operators.Exec.materializeForSelfJoin(
        PrefixSumOps.mixtureInterleave(docs, "lang", "doc_id", w)
          .select(col("doc_id"), col("global_pos"), col("tok")))
      // history boundary = the first 3/5 positions; its token total is
      // the ONE number the incremental path consumes (mirrored in hb +
      // the oracle's full-cumsum restriction)
      val h = inter.agg(count(lit(1))).head().getLong(0) * 3 / 5
      val offset = inter.where(col("global_pos") <= h)
        .agg(coalesce(sum("tok"), lit(0L))).head().getLong(0)
      val batch = inter.where(col("global_pos") > h)
      graft.sinks.ShardExport.manifest(
          graft.sinks.ShardExport.assignShardsIncremental(batch,
            "global_pos", "tok", tokenBudget = 4096L, offsetTokens = offset),
          "doc_id", "global_pos", "tok")
        .orderBy("shard")
    })


  // Canonical-document selection — the KEEP POLICY that turns dd21's
  // cluster roster into an actionable dedup decision (the "which copy
  // survives" step every production dedup ships): per exact-Jaccard
  // cluster, keep the highest-quality member (tx02's mirrored quality
  // score; ties broken by doc_id) and count the rest as removed.
  // Composes three existing artifacts — the shared verified edge set,
  // dd06's CC, tx02's pure-Column quality — in one join + one
  // cluster-partitioned window (clusters are small by construction, so
  // the window never sees a corpus-sized partition). Output restricted
  // to clusters that actually collapse (n_members >= 2).
  private val dp26 = Q("dp26_canonical_docs", Some(s"""
    WITH RECURSIVE $exactClusterCtes,
    cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
    qf AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok_cnt,
        length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
          x -> list_contains(['a','an','the','and','or','of','in','to','is'], lower(x)))) AS stop_cnt,
        length(text) AS n_len
      FROM documents),
    qs AS (SELECT doc_id,
        0.5 * least(n_len / 512.0, 1.0)
          + 0.25 * (CASE WHEN tok_cnt = 0 THEN 0.0
                         ELSE cast(stop_cnt as double) / tok_cnt END)
          + 0.25 * (1.0 - least(punct_cnt * 16.0 / n_len, 1.0)) AS quality
      FROM qf),
    r AS (SELECT cl.cluster, cl.doc_id,
        row_number() OVER (PARTITION BY cl.cluster
          ORDER BY qs.quality DESC, cl.doc_id) AS rn,
        count(*) OVER (PARTITION BY cl.cluster) AS n_members
      FROM cl JOIN qs USING (doc_id))
    SELECT cluster, doc_id AS kept_doc, cast(n_members as bigint) AS n_members,
      cast(n_members - 1 as bigint) AS n_removed
    FROM r WHERE rn = 1 AND n_members >= 2 ORDER BY cluster"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val clusters = DedupOps.connectedComponents(docs.select(col("doc_id")),
        SharedArtifacts.jaccardEdges12(s, d)
          .select(col("id1").as("src"), col("id2").as("dst")), "doc_id")
      val toksQ = split(trim(col("text")), "\\s+")
      val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
      val quality = docs.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("tok_cnt"),
          TextOps.punctCount(col("text")).as("punct_cnt"),
          size(filter(toksQ, x => lower(x).isInCollection(stops))).as("stop_cnt"),
          length(col("text")).as("n_len"))
        .select(col("doc_id"),
          (lit(0.5) * least(col("n_len") / 512.0, lit(1.0))
            + lit(0.25) * when(col("tok_cnt") === 0, 0.0)
                .otherwise(col("stop_cnt").cast("double") / col("tok_cnt"))
            + lit(0.25) * (lit(1.0)
                - least(col("punct_cnt") * 16.0 / col("n_len"), lit(1.0))))
            .as("quality"))
      val wRank = Window.partitionBy("cluster")
        .orderBy(col("quality").desc, col("doc_id"))
      clusters.join(quality, Seq("doc_id"))
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("cluster")))
        .where(col("rn") === 1 && col("n_members") >= 2)
        .select(col("cluster"), col("doc_id").as("kept_doc"),
          col("n_members").cast("long").as("n_members"),
          (col("n_members") - 1).cast("long").as("n_removed"))
        .orderBy("cluster")
    })


  // Cluster-aware leakage-safe split — the PREVENTIVE counterpart of
  // dp12/dp14's leakage DETECTION: assign train/val/test by hashing the
  // dup-CLUSTER label (dd21's exact-Jaccard components), not the doc id,
  // so every member of a near-duplicate cluster lands in the same split
  // by construction and eval can never score a near-copy of a training
  // doc. dp02's md5-fraction split applied one level up; singleton docs
  // are their own cluster, so the split remains ~80/10/10 by cluster
  // mass. One CC over the shared verified edge set + one hash agg.
  private val dp27 = Q("dp27_cluster_split", Some(s"""
    WITH RECURSIVE $exactClusterCtes,
    cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
    a AS (
      SELECT cl.doc_id, cl.cluster, d.n_chars,
        ('0x' || substr(md5('csplit:' || cast(cl.cluster as varchar)), 1, 15))::BIGINT
          / 1152921504606846976.0 AS frac
      FROM cl JOIN documents d USING (doc_id)),
    s AS (SELECT doc_id, cluster, n_chars,
        CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM a)
    SELECT split, count(DISTINCT cluster) AS n_clusters, count(*) AS n_docs,
      cast(sum(n_chars) as bigint) AS total_chars
    FROM s GROUP BY split ORDER BY split"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val clusters = DedupOps.connectedComponents(docs.select(col("doc_id")),
        SharedArtifacts.jaccardEdges12(s, d)
          .select(col("id1").as("src"), col("id2").as("dst")), "doc_id")
      clusters.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
        .withColumn("frac",
          conv(substring(md5(concat(lit("csplit:"),
              col("cluster").cast("string"))), 1, 15), 16, 10)
            .cast("long").cast("double") / 1.152921504606846976e18)
        .withColumn("split", when(col("frac") < 0.8, "train")
          .when(col("frac") < 0.9, "val").otherwise("test"))
        .groupBy("split")
        .agg(countDistinct("cluster").as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"))
        .orderBy("split")
    })


  // ANALYZE-style column profiling (ProfileOps.profile — the CBO
  // statistics / data-quality pass): six lineitem columns observed
  // through their string projection (the generic-profiler contract;
  // l_quantity pre-cast to bigint — it is integral by construction —
  // so no engine-specific double formatting enters the domain;
  // l_linestatus nullified on 'O' to exercise the null accounting).
  // One stacked scan (6× rows, documented), then three hash
  // aggregates: counts+min/max+exact ndv, the q46 KMV(64) estimate
  // via the k-bounded partial aggregate, and the mode via
  // count-per-value → per-column max → join-back (never a window over
  // a key column's corpus-sized value domain). Exact-arm scale
  // contract: per ProfileOps.profile's scaladoc, the exact ndv is the
  // GRADING arm only — a 100 TB run keeps just the k-bounded KMV arm,
  // as the streaming monitor q96 already does.
  private val dp28 = Q("dp28_column_profile", Some(s"""
    WITH src AS (
      SELECT 'l_orderkey' AS c, cast(l_orderkey as varchar) AS v FROM lineitem
      UNION ALL SELECT 'l_partkey', cast(l_partkey as varchar) FROM lineitem
      UNION ALL SELECT 'l_linenumber', cast(l_linenumber as varchar) FROM lineitem
      UNION ALL SELECT 'l_quantity_i', cast(cast(floor(l_quantity) as bigint) as varchar) FROM lineitem
      UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
      UNION ALL SELECT 'l_linestatus_n', nullif(l_linestatus, 'O') FROM lineitem),
    counts AS (
      SELECT c, count(*) AS n_rows, count(*) - count(v) AS n_null,
        count(DISTINCT v) AS ndv, min(v) AS min_val, max(v) AS max_val
      FROM src GROUP BY c),
    $kmvNdvCtes,
    vc AS (SELECT c, v, count(*) AS cnt FROM src WHERE v IS NOT NULL GROUP BY c, v),
    mx AS (SELECT c, max(cnt) AS top_cnt FROM vc GROUP BY c),
    top AS (SELECT vc.c, cast(mx.top_cnt as bigint) AS top_cnt, min(vc.v) AS top_val
            FROM vc JOIN mx ON mx.c = vc.c AND vc.cnt = mx.top_cnt
            GROUP BY vc.c, mx.top_cnt)
    SELECT counts.c AS col_name, cast(n_rows as bigint) AS n_rows,
      cast(n_null as bigint) AS n_null, cast(ndv as bigint) AS ndv,
      cast(coalesce(ndv_kmv, 0) as bigint) AS ndv_kmv, min_val, max_val,
      top_val, cast(coalesce(top_cnt, 0) as bigint) AS top_cnt
    FROM counts LEFT JOIN kmv ON kmv.c = counts.c
    LEFT JOIN top ON top.c = counts.c
    ORDER BY col_name"""),
    (s, d) => ProfileOps.profile(T(s, d, "lineitem"), Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_partkey" -> col("l_partkey"),
        "l_linenumber" -> col("l_linenumber"),
        "l_quantity_i" -> floor(col("l_quantity")).cast("bigint"),
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus_n" -> expr("nullif(l_linestatus, 'O')")), k = 64)
      .orderBy("col_name"))


  // 2-D Pareto frontier / skyline (maximize vocabulary richness at
  // every token budget — the quality-vs-cost curation query: a doc is
  // ON the frontier iff no shorter-or-equal doc has strictly more
  // distinct tokens): reduce to one best row per distinct cost value
  // (two hash aggs + an equi-join — never a window over the corpus),
  // then one EXCLUSIVE running max over the reduced table via the
  // value-range-bucketed two-phase kernel
  // (PrefixSumOps.exclusiveRunningMax — max is a monoid, so the
  // prefix-sum machinery carries over unchanged); a row survives iff
  // its value beats every strictly-smaller cost's max. The oracle
  // keeps the single-window RANGE-frame SQL; the distributed rewrite
  // is the point (the dp16 stance).
  private val dp29 = Q("dp29_pareto_frontier", Some("""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    m AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_vocab
          FROM docs),
    best AS (SELECT n_tokens, max(n_vocab) AS n_vocab
             FROM m GROUP BY n_tokens),
    bid AS (SELECT b.n_tokens, b.n_vocab, min(m.doc_id) AS doc_id
            FROM best b JOIN m ON m.n_tokens = b.n_tokens
                              AND m.n_vocab = b.n_vocab
            GROUP BY b.n_tokens, b.n_vocab),
    f AS (SELECT n_tokens, n_vocab, doc_id,
            max(n_vocab) OVER (ORDER BY n_tokens
              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM bid)
    SELECT cast(n_tokens as bigint) AS n_tokens,
      cast(n_vocab as bigint) AS n_vocab, doc_id
    FROM f WHERE pm IS NULL OR n_vocab > pm ORDER BY n_tokens"""),
    (s, d) => {
      val m = T(s, d, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), DedupOps.tokens(col("text")).as("_t"))
        .select(col("doc_id"), size(col("_t")).cast("long").as("n_tokens"),
          size(array_distinct(col("_t"))).cast("long").as("n_vocab"))
      val best = m.groupBy("n_tokens").agg(max("n_vocab").as("n_vocab"))
      val bid = best.join(m, Seq("n_tokens", "n_vocab"))
        .groupBy("n_tokens", "n_vocab").agg(min("doc_id").as("doc_id"))
      PrefixSumOps.exclusiveRunningMaxAuto(bid, Seq(), "n_tokens",
          "n_vocab", "_pm")
        .where(col("_pm").isNull || col("n_vocab") > col("_pm"))
        .select(col("n_tokens"), col("n_vocab"), col("doc_id"))
        .orderBy("n_tokens")
    })


  // Greedy k-center coreset (SimilarityOps.kCenterCoreset — Gonzalez's
  // farthest-point 2-approximation, the DIVERSITY-selection face of
  // curation next to dp16's size-proportional and dp19's
  // importance-weighted sampling): 8 picks over the embedding corpus,
  // each round ONE broadcast-1-row distance fold (k bounded passes,
  // never a pairwise join). Fully deterministic: min-id seed, exact
  // integer squared-L2 over the floor(x·2^20) quantization, max-dist
  // ties to the smaller id — the oracle replays all 7 sequential picks
  // as unrolled CTE rounds and must land on the identical traversal.
  private val dp30 = Q("dp30_kcenter_coreset", Some(s"""
    WITH v AS (SELECT vec_id,
        list_transform(cast(embedding as double[]),
          x -> cast(floor(x * 1048576.0) as bigint)) AS q
      FROM embeddings),
    c0 AS (SELECT min(vec_id) AS id FROM v),
    w0 AS (SELECT v.q FROM v JOIN c0 ON v.vec_id = c0.id),
    d1 AS (
      SELECT vv.vec_id,
        cast(list_sum(list_transform(generate_series(1, 64),
          i -> (vv.q[i] - w.q[i]) * (vv.q[i] - w.q[i]))) as bigint) AS md
      FROM v vv CROSS JOIN w0 w),
    ${(1 to 7).map(kcRoundCtes).mkString(",")}
    SELECT cast(0 as int) AS round, cast(id as bigint) AS vec_id,
      cast(0 as bigint) AS dist2 FROM c0
    ${(1 to 7).map(j => s"UNION ALL SELECT cast($j as int), cast(id as bigint), cast(md as bigint) FROM c$j").mkString("\n    ")}
    ORDER BY round"""),
    (s, d) => SimilarityOps.kCenterCoreset(T(s, d, "embeddings"),
        "vec_id", "embedding", k = 8)
      .select(col("round").cast("int").as("round"),
        col("vec_id").cast("long").as("vec_id"), col("dist2"))
      .orderBy("round"))


  // Duplicate-aware SOFT dedup (the data-constrained-scaling move,
  // Muennighoff et al. 2023: repeated data decays in value, so instead
  // of dropping duplicates, down-weight them): every copy of a
  // c-duplicated document gets sampling weight (Σ_{i<c} r^i)/c with
  // decay r = 1/2 — the c copies together are worth 2·(1 − 2^−c)
  // effective epochs, split evenly. Computed in pure BIGINT micro-units
  // ((2·10^6 − 2·10^6 div 2^c) div c, exponent capped where the term
  // vanishes), so it is exact cross-engine. Copies are keyed by the
  // first-8-token prefix fingerprint (this corpus has no byte-exact
  // duplicates — dd01 — but plenty of shared-prefix near-copies; a
  // production pipeline would key on dd06's cluster labels instead).
  // One fixed-width md5 hash agg + one unhinted join back — dd01's
  // linear shape, but emitting per-copy TRAINING WEIGHTS instead of a
  // deduped roster.
  private val dp22 = Q("dp22_softdedup_weights", Some("""
    WITH f AS (SELECT doc_id,
        md5(array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 8), ' ')) AS h
      FROM documents),
    g AS (SELECT h, count(*) AS c FROM f GROUP BY h),
    w AS (SELECT h, c,
        (2000000 - 2000000 // (1 << least(c, 21))) // c AS weight_micro
      FROM g)
    SELECT f.doc_id, cast(w.c as bigint) AS c,
      cast(w.weight_micro as bigint) AS weight_micro
    FROM f JOIN w USING (h)
    ORDER BY f.doc_id"""),
    (s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), DedupOps.tokens(col("text")).as("_tk"))
        .select(col("doc_id"),
          md5(array_join(slice(col("_tk"), 1, 8), " ")).as("h"))
      val g = docs.groupBy("h").agg(count(lit(1)).as("c"))
        .withColumn("weight_micro",
          expr("(2000000L - 2000000L div shiftleft(1L, cast(least(c, 21) as int))) div c"))
      docs.join(g, "h")
        .select(col("doc_id"), col("c").cast("long").as("c"),
          col("weight_micro").cast("long").as("weight_micro"))
        .orderBy("doc_id")
    })


  // Deterministic epoch shuffling (the training-loader contract: every
  // epoch visits the corpus in a DIFFERENT but perfectly REPRODUCIBLE
  // order — seeded hash order, never an RNG): order key =
  // md5('ep<epoch>:<doc_id>') per epoch, the dp02 portable-hash split
  // discipline applied to ordering. Serving the first k of an epoch is
  // a salted two-phase top-k (TakeOrderedAndProject-style bounded
  // heaps), NOT a full sort — the full-epoch writer would instead
  // sortWithinPartitions on the same key.
  private val dp31 = Q("dp31_epoch_shuffle", Some("""
    WITH d AS (SELECT doc_id FROM documents),
    keyed AS (
      SELECT e.epoch, d.doc_id,
        ('0x' || substr(md5('ep' || cast(e.epoch as varchar) || ':'
          || cast(d.doc_id as varchar)), 1, 15))::BIGINT AS hk
      FROM d, (SELECT unnest(generate_series(0, 1)) AS epoch) e)
    SELECT epoch, doc_id, hk, rank FROM (
      SELECT epoch, doc_id, hk, row_number() OVER (
        PARTITION BY epoch ORDER BY hk, doc_id) AS rank
      FROM keyed) t
    WHERE rank <= 10 ORDER BY epoch, rank"""),
    (s, d) => {
      val keyed = T(s, d, "documents").select(col("doc_id"))
        .withColumn("epoch", explode(expr("sequence(0, 1)")))
        .withColumn("hk", expr(
          "cast(conv(substring(md5(concat('ep', cast(epoch as string), ':', " +
            "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"))
      TopKOps.perGroupTopK(keyed, Seq("epoch"),
          Seq(col("hk").asc, col("doc_id").asc), k = 10, saltOn = col("doc_id"))
        .select(col("epoch").cast("int").as("epoch"), col("doc_id"),
          col("hk"), col("rank"))
        .orderBy("epoch", "rank")
    })


  // Piece-denominated token budgeting (dp13 with the budget counted in
  // TRAINED-TOKENIZER PIECES, not whitespace words — the unit an LLM
  // training run actually consumes: a 30% "token" budget measured in
  // words over-funds high-fertility languages by exactly their
  // fertility ratio, tx35's number): per-doc piece counts come from
  // tx27's encode stats (each DISTINCT word segmented once under the
  // shared trained unigram vocab — the corpus never meets the DP), then
  // dp13's machinery verbatim: deterministic md5 order, per-language
  // 3/10 piece budgets, the two-phase exclusive prefix sum. Docs with
  // no segmentable word (empty / all words > 16 chars) are outside the
  // candidate universe by definition.
  private val dp32 = Q("dp32_piece_budget", Some(s"""
    ${unigramPieceCtes("doc_id")},
    dpieces AS (SELECT dt.doc_id, CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces
                FROM dt JOIN np USING (w) GROUP BY dt.doc_id),
    h AS (SELECT p.doc_id, d.lang, p.n_pieces,
        ('0x' || substr(md5('mix:' || cast(p.doc_id as varchar)), 1, 15))::BIGINT AS hk
      FROM dpieces p JOIN documents d USING (doc_id)),
    b AS (SELECT lang, (sum(n_pieces) * 3) // 10 AS budget FROM h GROUP BY lang),
    c AS (
      SELECT lang, doc_id, n_pieces, hk,
        sum(n_pieces) OVER (PARTITION BY lang ORDER BY hk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_pieces AS cum_excl
      FROM h)
    SELECT c.doc_id, c.lang, cast(c.n_pieces as bigint) AS n_pieces
    FROM c JOIN b USING (lang)
    WHERE c.cum_excl < b.budget
    ORDER BY doc_id"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val st = unigramEncodeStats(s, d, docs)
      val h = st.select(col("doc_id"), col("n_pieces"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("hk",
          conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long"))
      val b = h.groupBy("lang").agg(expr("sum(n_pieces) * 3 div 10").as("budget"))
      PrefixSumOps.takeUntilBudget(h, Seq("lang"), "hk", "n_pieces", b)
        .select(col("doc_id"), col("lang"), col("n_pieces").cast("long").as("n_pieces"))
        .orderBy("doc_id")
    })


  // Per-host politeness schedule (CrawlOps.politenessSchedule — the
  // reference's between-request sleeps, `procedure_code.py:256-263`,
  // restated as a computed fetch-slot column): the deduped frontier
  // gets a 1-based per-host rank in first_key order and
  // fetch_at_ms = (seq−1)·1000. The rank is the TWO-PHASE
  // value-range-bucketed prefix sum (PrefixSumOps), not a bare per-host
  // window — hosts are low-cardinality on a focused crawl, and the
  // single-window form would sort one mega-host's whole frontier in a
  // task at 100 TB; the oracle keeps the window form (same semantics,
  // which is the point of the rewrite — the dp03 discipline).
  private val dp33 = Q("dp33_politeness_schedule", Some(s"""
    WITH $urlRawSql,
    $urlCanonCtes,
    d AS (SELECT canonical_url, host, min(p_partkey) AS first_key
          FROM c WHERE canonical_url IS NOT NULL GROUP BY 1, 2),
    sch AS (SELECT host, canonical_url, first_key,
        row_number() OVER (PARTITION BY host ORDER BY first_key) AS seq
      FROM d)
    SELECT host, canonical_url, cast(first_key as bigint) AS first_key,
      cast(seq as bigint) AS seq,
      cast((seq - 1) * 1000 as bigint) AS fetch_at_ms
    FROM sch ORDER BY host, seq"""),
    (s, d) => {
      val deduped = CrawlOps.frontierDedup(urlRawSpark(s, d), "url", "p_partkey")
        .select("canonical_url", "host", "first_key")
      CrawlOps.politenessSchedule(deduped, "host", "first_key", delayMs = 1000L)
        .select(col("host"), col("canonical_url"),
          col("first_key").cast("long").as("first_key"),
          col("seq"), col("fetch_at_ms"))
        .orderBy("host", "seq")
    })


  // Split-leakage audit (the eval-contamination check a curation
  // pipeline runs BEFORE publishing a train/val/test split: a near-dup
  // pair straddling the split boundary leaks training signal into
  // eval). Duplicate evidence from two dedup families — exact content
  // hashes (each dup linked to its group's min-id representative, the
  // dd01 star shape: O(group) pairs, never O(group²)) and dd20's
  // verified exact-Jaccard τ=1/2 edges (served from the persisted
  // SharedArtifacts.jaccardEdges12 — this query costs two O(n) joins,
  // not the join build) — classified by the dp02 salted-md5 split of
  // each endpoint. Cross-split rows ARE the leak report; within-split
  // rows are the denominator context. The oracle replays the hash
  // groups, dd20's full prefix-filter + verify chain, the split
  // assignment, and the classification.
  private val dp34 = Q("dp34_split_leakage", Some(s"""
    WITH $jaccPairCtes,
    sp AS (SELECT doc_id,
        CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id,
          ('0x' || substr(md5('split:' || cast(doc_id as varchar)), 1, 15))::BIGINT
            / 1152921504606846976.0 AS frac
        FROM documents)),
    chh AS (SELECT doc_id, md5(trim(text)) AS h FROM documents
            WHERE length(trim(text)) > 0),
    rep AS (SELECT h, min(doc_id) AS id1 FROM chh GROUP BY h),
    xp AS (SELECT 'exact' AS kind, rep.id1, chh.doc_id AS id2
           FROM chh JOIN rep USING (h) WHERE chh.doc_id <> rep.id1),
    allp AS (SELECT kind, id1, id2 FROM xp
             UNION ALL SELECT 'jaccard12', id1, id2 FROM epairs),
    cls AS (SELECT p.kind,
        least(s1.split, s2.split) || '-' || greatest(s1.split, s2.split)
          AS split_pair,
        CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END AS lk
      FROM allp p
      JOIN sp s1 ON s1.doc_id = p.id1
      JOIN sp s2 ON s2.doc_id = p.id2)
    SELECT kind, split_pair, cast(count(*) as bigint) AS n_pairs,
      cast(max(lk) as bigint) AS leaked
    FROM cls GROUP BY kind, split_pair ORDER BY kind, split_pair"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val sp = docs.select(col("doc_id"),
          (conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long").cast("double")
            / 1.152921504606846976e18).as("frac"))
        .withColumn("split", when(col("frac") < 0.8, "train")
          .when(col("frac") < 0.9, "val").otherwise("test"))
        .select("doc_id", "split")
      val chh = docs.where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), md5(trim(col("text"))).as("h"))
      val xp = chh.join(chh.groupBy("h").agg(min("doc_id").as("id1")), "h")
        .where(col("doc_id") =!= col("id1"))
        .select(lit("exact").as("kind"), col("id1"), col("doc_id").as("id2"))
      val jp = SharedArtifacts.jaccardEdges12(s, d)
        .select(lit("jaccard12").as("kind"), col("id1"), col("id2"))
      xp.unionByName(jp)
        .join(sp.select(col("doc_id").as("id1"), col("split").as("_s1")), "id1")
        .join(sp.select(col("doc_id").as("id2"), col("split").as("_s2")), "id2")
        .withColumn("split_pair", concat(least(col("_s1"), col("_s2")),
          lit("-"), greatest(col("_s1"), col("_s2"))))
        .withColumn("lk", when(col("_s1") =!= col("_s2"), 1L).otherwise(0L))
        .groupBy("kind", "split_pair")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          max("lk").cast("long").as("leaked"))
        .orderBy("kind", "split_pair")
    })

  private[queries] def pipelineQueries: Seq[Q] = Seq(
    dp01, dp02, dp03, dp03b, dp04, dp05, dp06, dp07, dp08, dp09, dp10, dp11, dp12, dp13, dp14, dp15, dp16, dp17, dp18, dp19, dp20, dp21, dp22, dp23, dp24, dp25, dp26, dp27, dp28, dp29, dp30, dp31, dp32, dp33, dp34)
}
