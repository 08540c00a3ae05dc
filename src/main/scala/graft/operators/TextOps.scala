package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * All are built from codegen'd `functions._` expressions (no UDFs), so
  * they fold into the scan's whole-stage-codegen pass — a single narrow
  * map over documents regardless of corpus size, and every one is
  * reproducible in ANSI SQL for the DuckDB oracle.
  */
object TextOps {

  /** Whitespace token count (trim first: leading/trailing whitespace must
    * not create empty tokens — semantics shared with the oracle SQL).
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(split(trim(text), "\\s+")))

  /** Rough BPE-ish subword count: word count plus one extra unit per 4
    * chars of word length beyond 4 (long words split into more tokens).
    * Deterministic, regex/arithmetic only.
    */
  def subwordCount(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, lit(0)).otherwise(
      aggregate(toks, lit(0), (acc, t) =>
        acc + lit(1) + floor(greatest(length(t) - 1, lit(0)) / 4).cast("int")))
  }

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** Stopword ratio over whitespace tokens (tiny fixed english list). */
  def stopwordRatio(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
    val nStop = size(filter(toks, t => lower(t).isInCollection(stops)))
    when(size(toks) === 0, lit(0d)).otherwise(nStop.cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]-ish: rewards moderate length and
    * stopword presence, penalises punctuation soup. Weights are arbitrary
    * but fixed; the point is the deterministic, pushdown-friendly shape.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500d, lit(1d))
    val punctRatio = when(length(text) === 0, lit(0d))
      .otherwise(punctCount(text).cast("double") / length(text).cast("double"))
    round(lenScore * 0.4 + stopwordRatio(text) * 0.4 + (lit(1d) - least(punctRatio * 10d, lit(1d))) * 0.2, 4)
  }

  /** One combined alternation regex per language (the oracle's exact
    * pattern) — one scan of the text per language instead of one per
    * marker word.
    */
  private def countMatches(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(text,
      lit(words.map(w => "(?i)\\b" + w + "\\b").mkString("|")), lit(0)))

  /** All four language scores + the CJK flag evaluated ONCE into a
    * struct. Stage this through a `select` and branch on the fields:
    * branching directly on the score expressions would re-run each regex
    * per CASE-branch reference (no cross-branch common-subexpression
    * elimination — the expression-inlining trap).
    */
  def langScores(text: Column): Column = struct(
    countMatches(text, Seq("le", "la", "les", "et", "est", "une")).as("fr"),
    countMatches(text, Seq("el", "los", "las", "es", "una")).as("es"),
    countMatches(text, Seq("der", "die", "das", "und", "ist")).as("de"),
    countMatches(text, Seq("the", "and", "is", "of", "that")).as("en"),
    text.rlike("[\\u4e00-\\u9fff]").as("cjk"))

  /** The argmax/precedence decision over a [[langScores]] struct column
    * (fr, es, de beat en only on a strict win).
    */
  def langIdFromScores(s: Column): Column = {
    val fr = s.getField("fr"); val es = s.getField("es")
    val de = s.getField("de"); val en = s.getField("en")
    when(s.getField("cjk"), lit("zh"))
      .when(fr > en && fr >= es && fr >= de, lit("fr"))
      .when(es > en && es > fr && es >= de, lit("es"))
      .when(de > en && de > fr && de > es, lit("de"))
      .otherwise(lit("en"))
  }

  /** Heuristic language ID: CJK codepoints → zh; otherwise argmax of
    * marker-word hit counts. Convenience single-Column form; for per-row
    * hot paths stage [[langScores]] through a projection first (see
    * tx03) so the scores are computed once.
    */
  def langId(text: Column): Column = langIdFromScores(langScores(text))

  /** Rolling-hash document fingerprint: minimum md5 over 16-char shingles
    * sampled every 8 chars (winnowing-lite). Two docs sharing large
    * substrings tend to share the minimum. md5-hex min is well-defined
    * lexicographically and engine-portable.
    */
  def fingerprint(text: Column): Column = {
    val n = length(text)
    when(n < 16, md5(text)).otherwise(
      array_min(transform(sequence(lit(1), n - 15, lit(8)), i => md5(text.substr(i, lit(16))))))
  }

  /** Space-joined word n-grams as an array column; empty (not null, not
    * an error) when the text has fewer than `n` whitespace tokens — the
    * guard matters because `sequence(1, size - n + 1)` would otherwise
    * count DOWN through a negative range.
    */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0 || size(toks) < n,
      array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Intra-document repetition filters (Gopher-style, Rae et al. 2021
    * arXiv:2112.11446 §A1.1): per document,
    *  - `top{topN}_frac`  — characters covered by ALL occurrences of the
    *    single most frequent `topN`-gram, over total document chars;
    *  - `dup{dupN}_frac`  — characters covered by every occurrence of
    *    `dupN`-grams that appear at least twice, over total chars;
    *  - `flagged` (0/1)   — the Gopher gate: top-2-gram fraction > 0.20
    *    or duplicate-5-gram fraction > 0.15 at the defaults.
    * Overlapping occurrences are each counted in full (the standard
    * approximation — no interval union), so the fractions can exceed 1
    * on pathological repetition; the gate only cares about the low end.
    *
    * Shape at scale: ONE scan of the corpus (both gram sizes come out of
    * a single tagged explode), one token-volume shuffle to count
    * (doc, n, gram) — hash aggregate with map-side partial combine — and
    * one doc-count shuffle to fold per-doc. Linear in corpus tokens,
    * nothing corpus×corpus; same cost shape as tf-idf (tx06). Documents
    * with fewer than `topN` tokens carry no grams and are excluded (the
    * filter has nothing to measure).
    *
    * Both fractions are one IEEE division of exact integers, so the
    * DuckDB oracle (tx12) matches bit-for-bit; the flag compares those
    * identical doubles against the same literals.
    */
  def repetitionScores(df: DataFrame, textCol: String, idCol: String,
      topN: Int = 2, dupN: Int = 5,
      topThreshold: Double = 0.20, dupThreshold: Double = 0.15): DataFrame = {
    require(topN >= 1 && dupN >= 1, "n-gram sizes must be >= 1")
    val tagged = concat(
      transform(ngrams(col(textCol), topN),
        g => struct(lit(topN).as("n"), g.as("g"))),
      transform(ngrams(col(textCol), dupN),
        g => struct(lit(dupN).as("n"), g.as("g"))))
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), length(col(textCol)).as("_rs_len"),
        explode(tagged).as("_rs_t"))
      .select(col(idCol), col("_rs_len"),
        col("_rs_t.n").as("_rs_n"), col("_rs_t.g").as("_rs_g"))
      .groupBy(col(idCol), col("_rs_n"), col("_rs_g"))
      .agg(max(col("_rs_len")).as("_rs_len"), count(lit(1)).as("_rs_cnt"))
      .groupBy(col(idCol))
      .agg(max(col("_rs_len")).as("_rs_len"),
        max(when(col("_rs_n") === topN,
          col("_rs_cnt") * length(col("_rs_g"))).otherwise(lit(0L)))
          .as("_rs_top"),
        sum(when(col("_rs_n") === dupN && col("_rs_cnt") >= 2,
          col("_rs_cnt") * length(col("_rs_g"))).otherwise(lit(0L)))
          .as("_rs_dup"))
      .select(col(idCol),
        (col("_rs_top").cast("double") / col("_rs_len")).as(s"top${topN}_frac"),
        (col("_rs_dup").cast("double") / col("_rs_len")).as(s"dup${dupN}_frac"))
      .withColumn("flagged",
        when(col(s"top${topN}_frac") > topThreshold
          || col(s"dup${dupN}_frac") > dupThreshold, 1).otherwise(0))
  }

  /** Corpus-trained bigram language-model scoring (the CCNet-style
    * perplexity proxy, Wenzek et al. 2019 arXiv:1911.00359 — there a
    * pre-trained KenLM; here the corpus is its own model): per document,
    * the mean add-one-smoothed bigram log-probability
    * `avg over bigrams (w1,w2) of ln((c(w1,w2)+1) / (c(w1·)+V))`, with
    * `c(w1·)` the corpus count of w1 as a bigram history and V the
    * corpus vocabulary size. Fluent, typical text scores high; gibberish
    * and boilerplate with rare transitions score low — the standard
    * model-based quality axis, orthogonal to the surface heuristics
    * (tx04 quality score) and repetition gates (tx12).
    *
    * Shape at scale: one corpus scan explodes bigram occurrences keyed by
    * 64-bit md5 prefixes (fixed-width shuffle keys, the tx13 discipline);
    * occurrence counts, history counts, and the model tables are all
    * map-side-combinable hash aggregates; scoring is two equi-joins of
    * the occurrence table against the model (unhinted — AQE broadcasts a
    * small model) plus a 1-row vocabulary broadcast. Linear in corpus
    * tokens, no self-join. The model "training" and the scoring pass are
    * the same job — at 100 TB the two model tables can equally be
    * persisted once and reused across batches.
    *
    * Counts are exact integers; `ln` is the one float step, and the
    * output is rounded to 4 decimals so both engines' libm agree (the
    * dd05 cosine precedent). Documents with < 2 tokens have no bigrams
    * and are absent from the output.
    *
    * @return [idCol, n_bigrams, avg_logprob]
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // tokenized docs feed BOTH the bigram explode and the vocabulary
    // count: one scan, materialized (token arrays are O(corpus) bytes)
    val toks = Exec.materializeLarge(
      df.where(length(trim(col(textCol))) > 0)
        .select(col(idCol).as("_id"), DedupOps.tokens(col(textCol)).as("_tk")))
    val occ = Exec.materializeLarge(
      toks.where(size(col("_tk")) >= 2)
        .select(col("_id"), explode(expr(
          "transform(sequence(1, size(_tk) - 1), i -> struct(" +
            "substring(md5(concat(element_at(_tk, i), ' ', element_at(_tk, i + 1))), 1, 16) as h2, " +
            "substring(md5(element_at(_tk, i)), 1, 16) as h1))")).as("_s"))
        .select(col("_id"), col("_s.h2").as("_h2"), col("_s.h1").as("_h1"))
        .groupBy("_id", "_h2", "_h1").agg(count(lit(1)).as("_cnt")))
    val bigramCounts = occ.groupBy("_h2").agg(sum("_cnt").as("_c2"))
    val historyCounts = occ.groupBy("_h1").agg(sum("_cnt").as("_c1"))
    val vocab = toks.select(explode(col("_tk")).as("_u"))
      .agg(countDistinct("_u").as("_v"))
    occ.join(bigramCounts, "_h2").join(historyCounts, "_h1")
      .crossJoin(broadcast(vocab))
      .groupBy("_id")
      .agg(sum("_cnt").cast("long").as("n_bigrams"),
        round(
          sum(col("_cnt") * (log(col("_c2") + 1.0)
            - log((col("_c1") + col("_v")).cast("double"))))
            / sum("_cnt"), 4).as("avg_logprob"))
      .select(col("_id").as(idCol), col("n_bigrams"), col("avg_logprob"))
  }

  /** Stupid Backoff LM scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — THE n-gram smoothing designed for
    * the distributed trillion-token regime: no discount normalization,
    * no cross-order bookkeeping, every score a pure count ratio, so
    * training is hash aggregations and scoring is equi-joins):
    * S(w2|w1) = c12/c1 when the HISTORY corpus saw the bigram, else
    * α·(c(w2)+1)/(N+V) with α = 0.4 (the paper's constant). The backoff
    * arm is add-one-smoothed so OOV batch tokens stay finite — the one
    * documented deviation (Brants leaves OOV to the decoder).
    *
    * Train/score split (`isBatch`): model counts come from history rows
    * ONLY, scored rows are the batch — scored on its own training
    * corpus the backoff would never fire (every bigram is its own
    * evidence). Per-term scores are nano-rounded BEFORE the per-doc sum
    * (the tx15/tx17 discipline: exact BIGINT under any aggregation
    * order; `ln` is the one float step, op-for-op mirrored). Output is
    * all-integer — n_bigrams / n_backoff / score_sum_nano — no engine
    * ever divides (Spark `div` truncates where DuckDB `//` floors, and
    * these sums are negative).
    *
    * Linear: model tables are hash aggregates the batch occurrence
    * table equi-joins back against; the 1-row (N, V) history aggregate
    * rides a broadcast cross join (tx14's audited BNLJ shape).
    */
  def stupidBackoff(df: DataFrame, textCol: String, idCol: String,
      isBatch: Column): DataFrame = {
    val toks = Exec.materializeLarge(
      df.where(length(trim(col(textCol))) > 0)
        .select(col(idCol).as("_id"), isBatch.as("_b"),
          DedupOps.tokens(col(textCol)).as("_tk")))
    val occ = toks.where(col("_b") && size(col("_tk")) >= 2)
      .select(col("_id"), explode(expr(
        "transform(sequence(1, size(_tk) - 1), i -> struct(" +
          "substring(md5(concat(element_at(_tk, i), ' ', element_at(_tk, i + 1))), 1, 16) as h2, " +
          "substring(md5(element_at(_tk, i)), 1, 16) as h1, " +
          "substring(md5(element_at(_tk, i + 1)), 1, 16) as hu))")).as("_s"))
      .select(col("_id"), col("_s.h2").as("_h2"), col("_s.h1").as("_h1"),
        col("_s.hu").as("_hu"))
      .groupBy("_id", "_h2", "_h1", "_hu").agg(count(lit(1)).as("_cnt"))
    // history bigram table feeds BOTH model aggregates: one explode
    val hbg = Exec.materializeLarge(
      toks.where(!col("_b") && size(col("_tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(_tk) - 1), i -> struct(" +
            "substring(md5(concat(element_at(_tk, i), ' ', element_at(_tk, i + 1))), 1, 16) as h2, " +
            "substring(md5(element_at(_tk, i)), 1, 16) as h1))")).as("_s"))
        .select(col("_s.h2").as("_h2"), col("_s.h1").as("_h1")))
    val c12 = hbg.groupBy("_h2").agg(count(lit(1)).as("_c12"))
    val c1 = hbg.groupBy("_h1").agg(count(lit(1)).as("_c1"))
    // history unigram table feeds the per-token counts AND (N, V)
    val hun = Exec.materializeLarge(
      toks.where(!col("_b")).select(explode(col("_tk")).as("_u"))
        .select(substring(md5(col("_u")), 1, 16).as("_hu")))
    val cu = hun.groupBy("_hu").agg(count(lit(1)).as("_cu"))
    val nv = hun.agg(count(lit(1)).as("_n"), countDistinct("_hu").as("_v"))
    occ.join(c12, Seq("_h2"), "left").join(c1, Seq("_h1"), "left")
      .join(cu, Seq("_hu"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("_t", expr(
        """cast(round(1000000000.0 * (case
             when _c12 is not null then ln(_c12) - ln(_c1)
             else ln(0.4) + ln(coalesce(_cu, 0) + 1.0) - ln(_n + _v)
           end)) as bigint)"""))
      .groupBy("_id")
      .agg(sum("_cnt").cast("long").as("n_bigrams"),
        sum(when(col("_c12").isNull, col("_cnt")).otherwise(lit(0L)))
          .cast("long").as("n_backoff"),
        sum(col("_cnt") * col("_t")).cast("long").as("score_sum_nano"))
      .select(col("_id").as(idCol), col("n_bigrams"), col("n_backoff"),
        col("score_sum_nano"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004 — PageRank over
    * the word CO-OCCURRENCE graph, the classic unsupervised keyword
    * ranker): nodes are words of length ≥ `minLen` (the stand-in for
    * the paper's POS filter), edges connect words co-occurring within a
    * window of 2 (undirected, weight = co-occurrence count, self-pairs
    * dropped), and `rounds` synchronous weighted-PageRank rounds of
    * [[GraphOps.intPageRank]] — init = 1e12 div |nodes|, contribution
    * = (pr·w) div wdeg, 15/85 damping in integer div — so both engines
    * agree bit-for-bit with no float anywhere.
    *
    * 100 TB shape: ONE corpus pass builds the pair table (two HOF
    * window explodes, no self-join); every round runs on the
    * VOCABULARY-scale graph. Output: top `topK` by (pr DESC, word) — a
    * total order.
    */
  def textrankKeywords(df: DataFrame, textCol: String, minLen: Int = 4,
      rounds: Int = 3, topK: Int = 50): DataFrame = {
    val t = df.where(length(trim(col(textCol))) > 0)
      .select(DedupOps.tokens(col(textCol)).as("_tk"))
    val rawp = t.select(explode(expr(
      """concat(
           if(size(_tk) >= 2,
             transform(sequence(1, size(_tk) - 1), i ->
               struct(element_at(_tk, i) as a, element_at(_tk, i + 1) as b)),
             array()),
           if(size(_tk) >= 3,
             transform(sequence(1, size(_tk) - 2), i ->
               struct(element_at(_tk, i) as a, element_at(_tk, i + 2) as b)),
             array()))""")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairs = rawp
      .where(length(col("a")) >= minLen && length(col("b")) >= minLen
        && col("a") =!= col("b"))
      .groupBy(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .agg(count(lit(1)).as("w"))
    val sym = pairs.select(col("u"), col("v"), col("w"))
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    val wdeg = sym.groupBy("u").agg(sum("w").as("wdeg"))
    // weighted degree joined onto the edge list ONCE, outside the loop
    // (the q68 move)
    val edges = Exec.materializeForSelfJoin(sym.join(wdeg, "u"))
    val nodes = Exec.materializeForSelfJoin(wdeg.select(col("u").as("node")))
    GraphOps.intPageRank(edges.select(col("u").as("src"), col("v").as("dst"),
        col("w"), col("wdeg").as("deg")),
      nodes.select(col("node"), lit(true).as("teleport")), rounds)
      .select(col("node").as("word"), col("pr"))
      .orderBy(col("pr").desc, col("word")).limit(topK)
      .orderBy(col("pr").desc, col("word"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019
    * arXiv:1911.00359 §4.4): split each language's corpus into
    * head / middle / tail terciles by language-model score — CCNet's
    * signature curation move, where "head" (lowest perplexity ≈ highest
    * mean log-probability) feeds high-quality training mixes and "tail"
    * is dropped or down-weighted. The model is [[bigramLogProb]]'s
    * corpus-trained bigram LM (CCNet uses a pre-trained KenLM; the
    * corpus-as-its-own-model stance is tx14's, unchanged).
    *
    * Tercile cutoffs are computed per language with
    * [[QuantileOps.histogramThreshold]] — the scale-safe histogram
    * quantile (fixed 8192 bins over [-64, 0), width 2^-7 so the binning
    * is IEEE-exact and engine-portable) — NOT with a per-language sort
    * or an exact-percentile aggregate, both of which buffer O(language)
    * rows. Bucket assignment is bin-granular: every doc in the cutoff
    * bin lands in the same bucket, so the split is deterministic without
    * any tiebreak ordering. The -64 floor is safe while the corpus has
    * fewer than e^64 ≈ 10^27 bigram occurrences (avg_logprob ≥
    * -ln(maxHistoryCount + V) > -64).
    *
    * Scale shape: one bigramLogProb pass (linear, see tx14), one O(docs)
    * materialized score table read three times (two histogram cutoff
    * scans that reduce to ≤ langs × 8192 rows, one final assignment),
    * cutoffs joined back unhinted (≤ langs rows — AQE broadcasts).
    *
    * @return [idCol, lang, ppl_bin, bucket] — docs with ≥ 2 tokens only
    *         (a doc with no bigrams has no LM score, the tx14 contract)
    */
  def perplexityBuckets(df: DataFrame, textCol: String, langCol: String,
      idCol: String): DataFrame = {
    val lo = -64.0; val hi = 0.0; val bins = 8192
    val width = (hi - lo) / bins // 2^-7: power-of-two, IEEE-exact scaling
    val scored = Exec.materializeLarge(
      bigramLogProb(df, textCol, idCol)
        .join(df.select(col(idCol), col(langCol).as("lang")), idCol))
    def cut(num: Int): DataFrame =
      QuantileOps.histogramThreshold(scored, Seq("lang"),
          col("avg_logprob"), lo, hi, bins, num, 3)
        .select(col("lang"), col("thr_bin").as(s"_t$num"))
    val binExpr = least(floor((col("avg_logprob") - lit(lo)) / lit(width)),
      lit((bins - 1).toLong))
    scored.withColumn("ppl_bin", binExpr)
      .join(cut(1), "lang").join(cut(2), "lang")
      .withColumn("bucket",
        when(col("ppl_bin") <= col("_t1"), "tail")
          .when(col("ppl_bin") <= col("_t2"), "middle")
          .otherwise("head"))
      .select(col(idCol), col("lang"), col("ppl_bin"), col("bucket"))
  }

  /** DSIR-style data selection with importance resampling (Xie et al.
    * 2023, arXiv:2302.03169): select the raw-corpus documents whose
    * hashed-n-gram feature distribution looks most like a TARGET domain.
    * Per doc, the importance weight is
    * `Σ_features c_doc(b) · ln(p_target(b) / q_raw(b))` over hashed
    * bigram buckets (the paper's bag-of-hashed-n-grams model; `buckets`
    * fixed so the model is a bounded table regardless of corpus size),
    * with +1 smoothing over the observed-bucket vocabulary (the tx15
    * discipline). The top `selNum/selDen` fraction by weight is kept —
    * the deterministic counterpart of the paper's Gumbel-top-k resample
    * (documented divergence: no sampling noise, so reruns are
    * byte-identical and the oracle can replay the cut exactly).
    *
    * Determinism: each bucket's log-ratio is rounded to integer
    * MICRO-units once (the one float step, mirrored per-bucket in the
    * oracle); doc weights are then exact integer dot products — no
    * float reassociation at any aggregation order. Micro not nano
    * because the weight rides in the selection key below: |λ| ≤ ~3·10^7
    * micro-units keeps (wmax−wmin)·(idmax+1) inside a long at any
    * realistic scale (the require guards it).
    *
    * Selection is an exact global top-k WITHOUT a single-reducer sort
    * (the dp17 move): rank = [[PrefixSumOps.globalRank]] over the
    * composite key (wmax − w)·(idmax+1) + doc_id — descending weight,
    * ascending id tiebreak — then keep rank ≤ ceil(n·selNum/selDen).
    *
    * Scale shape: feature counts are map-side-combinable hash aggs on
    * integer bucket keys; the model is ≤ `buckets` rows (unhinted join —
    * AQE broadcasts); scoring is one pass over the per-(doc, bucket)
    * table; ranking reduces to the two-phase prefix sum. Linear in
    * corpus tokens, no self-join. Docs with < 2 tokens have no bigram
    * features and are excluded (the tx14 contract).
    *
    * @return [idCol, lang, n_feat, w_micro, sel_rank] — selected docs
    */
  def dsirSelect(df: DataFrame, textCol: String, langCol: String,
      idCol: String, targetPred: Column, buckets: Int = 8192,
      selNum: Int = 1, selDen: Int = 4): DataFrame = {
    require(buckets > 0 && selNum > 0 && selDen >= selNum)
    // per-(doc, bucket) occurrence counts feed BOTH the model fit and
    // the scoring pass: one scan, materialized — KEYED by the bucket id
    // (guide §2.4: the `fb` aggregation and the scoring join both key on
    // _b, so the declared partitioning lets both read the handle with no
    // Exchange; only the tiny per-bucket λ table moves)
    val db = Exec.materializeLargeBy(
      df.where(length(trim(col(textCol))) > 0)
        .select(col(idCol).as("_id"), col(langCol).as("lang"),
          targetPred.as("_tgt"), DedupOps.tokens(col(textCol)).as("_tk"))
        .where(size(col("_tk")) >= 2)
        .select(col("_id"), col("lang"), col("_tgt"), explode(expr(
          "transform(sequence(1, size(_tk) - 1), i -> " +
            "cast(conv(substring(md5(concat(element_at(_tk, i), ' ', " +
            s"element_at(_tk, i + 1))), 1, 8), 16, 10) as bigint) % $buckets)"))
          .as("_b"))
        .groupBy("_id", "lang", "_tgt", "_b").agg(count(lit(1)).as("_c")),
      col("_b"))
    val fb = db.groupBy("_b")
      .agg(sum(when(col("_tgt"), col("_c")).otherwise(0L)).as("_ct"),
        sum("_c").as("_cr"))
    val tot = fb.agg(sum("_ct").as("_T"), sum("_cr").as("_R"),
      count(lit(1)).as("_v"))
    // Column-API doubles, NOT an expr() string: a SQL-parsed `1.0`
    // literal is DECIMAL(2,1), which drags the whole ratio into decimal
    // division (scale-truncated at 6 digits) while the oracle computes
    // in IEEE doubles — a 2e-7 divergence that flipped 182 of 865
    // bucket roundings when this was first written with expr()
    val lam = fb.crossJoin(broadcast(tot))
      .withColumn("_lam",
        round(log(((col("_ct") + lit(1.0)) * (col("_R") + col("_v")))
          / ((col("_cr") + lit(1.0)) * (col("_T") + col("_v"))))
          * lit(1000000.0))
        .cast("long"))
      .select("_b", "_lam")
    // `lang` joins the GROUP KEY instead of riding a min() aggregate: a
    // string-typed aggregation buffer demotes the whole per-doc
    // aggregate to SortAggregate (UnsafeRow can't update var-length
    // fields in place — the round-18 dd28 disease, guide §"codegen").
    // lang is functionally dependent on _id (one source row per doc id,
    // the corpus PK every query relies on), so grouping by (_id, lang)
    // computes the identical result with a fixed-width HashAggregate.
    val w = db.join(lam, "_b")
      .groupBy("_id", "lang")
      .agg(sum("_c").cast("long").as("n_feat"),
        sum(col("_c") * col("_lam")).cast("long").as("w_micro"))
    val stats = w.agg(max("w_micro").as("_wmax"), min("w_micro").as("_wmin"),
      max("_id").as("_idmax"), count(lit(1)).as("_n")).head()
    if (stats.isNullAt(0)) // empty corpus: nothing to select
      return w.withColumn("sel_rank", lit(1L))
        .select(col("_id").as(idCol), col("lang"), col("n_feat"),
          col("w_micro"), col("sel_rank"))
    val wmax = stats.getLong(0); val idmax = stats.getLong(2)
    val n = stats.getLong(3); val r = idmax + 1
    // globalRank's contract: the composite key must fit in a long
    require(wmax - stats.getLong(1) <= (Long.MaxValue - idmax) / r,
      s"composite key (wmax-w)*$r + doc_id overflows Long")
    val nSel = (n * selNum + selDen - 1) / selDen
    PrefixSumOps.globalRank(
        w.withColumn("_key", (lit(wmax) - col("w_micro")) * r + col("_id")),
        "_key", "sel_rank")
      .where(col("sel_rank") <= nSel)
      .select(col("_id").as(idCol), col("lang"), col("n_feat"),
        col("w_micro"), col("sel_rank"))
  }

  /** Batch-vs-history token-distribution drift — the ingestion monitor a
    * continuous training-data pipeline runs before admitting a batch:
    * per language, the additive-smoothed KL divergence of the batch's
    * unigram distribution from the history's, plus the batch's
    * out-of-vocabulary occurrence rate. A crawler config change, an
    * upstream language flip, or a spam flood shows up as a KL/OOV spike
    * before it pollutes the corpus — the distribution-shift complement
    * of the per-doc gates (tx05 quality, tx12 repetition, dd08 dedup).
    *
    * KL(batch ‖ history) = Σ_vocab p_b·ln(p_b/p_h) with +1 smoothing
    * over the UNION vocabulary (p_b = (b_t+1)/(B+V), p_h = (h_t+1)/
    * (H+V)) — finite for every token, including history-only and
    * batch-only ones. Each term is rounded to integer NANO-units before
    * summing (the q68 micro-unit move): the one float stage is per-term
    * and identical in both engines, and the cross-vocab sum is an exact
    * long under any aggregation order — no float-reassociation risk at
    * any vocabulary size.
    *
    * Scale shape — linear, no self-join: one hash agg per fixed-width
    * 16-char md5 token key carrying both sides' counts (map-side
    * combinable), one per-lang totals table joined back UNHINTED (AQE
    * broadcasts it — ≤ languages rows), one final per-lang agg. At
    * 100 TB the history-side counts are the persisted vocabulary table;
    * a daily batch adds one O(batch tokens) pass.
    *
    * @return [lang, batch_tok, hist_tok, vocab, oov_rate, kl_nano] one
    *         row per language present in the batch
    */
  def distributionDrift(df: DataFrame, textCol: String, langCol: String,
      batchPred: Column): DataFrame = {
    val toks = df.where(length(trim(col(textCol))) > 0)
      .select(col(langCol).as("lang"), batchPred.as("_is_batch"),
        explode(DedupOps.tokens(col(textCol))).as("_u"))
      .select(col("lang"), col("_is_batch"),
        substring(md5(col("_u")), 1, 16).as("_h"))
    val per = toks.groupBy("lang", "_h")
      .agg(sum(when(col("_is_batch"), 1L).otherwise(0L)).as("_b"),
        sum(when(col("_is_batch"), 0L).otherwise(1L)).as("_hc"))
    driftFromCounts(per)
  }

  /** [[distributionDrift]]'s smoothing/KL/OOV tail over a PRE-AGGREGATED
    * per-(lang, token-hash) count table `[lang, _h, _b, _hc]` — split
    * out so the streaming monitor (q76, which accumulates `_b` counts
    * incrementally across micro-batches and joins a static history
    * count table) computes the identical drift expression as the batch
    * op, term for term.
    */
  def driftFromCounts(per: DataFrame): DataFrame = {
    val totals = per.groupBy("lang")
      .agg(sum("_b").as("_bt"), sum("_hc").as("_ht"),
        count(lit(1)).as("_v"))
    val terms = per.join(totals, "lang")
      .withColumn("_pb", (col("_b") + lit(1.0)) / (col("_bt") + col("_v")))
      .withColumn("_ph", (col("_hc") + lit(1.0)) / (col("_ht") + col("_v")))
      .withColumn("_term",
        expr("cast(round(_pb * ln(_pb / _ph) * 1000000000.0) as bigint)"))
    terms.groupBy("lang")
      .agg(sum("_term").cast("long").as("kl_nano"),
        sum(when(col("_hc") === 0, col("_b")).otherwise(0L)).as("_oov"))
      .join(totals, "lang")
      .where(col("_bt") > 0)
      .select(col("lang"), col("_bt").cast("long").as("batch_tok"),
        col("_ht").cast("long").as("hist_tok"),
        col("_v").cast("long").as("vocab"),
        (col("_oov").cast("double") / col("_bt")).as("oov_rate"),
        col("kl_nano"))
  }

  /** PII scrubbing: email and phone patterns, kept to the regex subset
    * RE2 and java.util.regex evaluate identically (character classes and
    * bounded repetition — no lookaround, no backreferences), so the same
    * pattern runs in Spark and any RE2-based engine (DuckDB oracle).
    * Redaction must run EMAIL-FIRST: the phone pattern could otherwise
    * match digit runs inside an email local part.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"

  /** Count of PII matches per kind (for scrub-rate monitoring). */
  def emailCount(text: Column): Column = size(regexp_extract_all(text, lit(emailRe), lit(0)))
  def phoneCount(text: Column): Column = size(regexp_extract_all(text, lit(phoneRe), lit(0)))

  /** Redact emails then phones; single pass over the column, codegen'd. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "[EMAIL]"), phoneRe, "[PHONE]")

  /** Per-document unigram entropy (nats) plus type/token counts — the
    * information-theoretic quality axis: low entropy flags keyword
    * stuffing and template boilerplate that per-surface heuristics
    * (tx04) and n-gram repetition gates (tx09/tx12) see only partially;
    * H = ln(n_tok) is the uniform ceiling, so `entropy / ln(n_tok)`
    * is a length-normalized diversity score.
    *
    * Exactness: each term (c/n)·ln(n/c) is rounded to integer
    * NANO-units before the per-doc sum (the tx15 move), so the sum is
    * an exact long under any aggregation order — no float
    * reassociation at any document length. `ln` is the only
    * transcendental and the rounding absorbs cross-engine libm ulps.
    *
    * Scale shape — linear, no window: one explode, one hash agg on
    * (doc, token) (map-side combinable), per-doc totals as a second
    * hash agg joined back UNHINTED on the doc key. Docs with no tokens
    * are excluded (their entropy is undefined; the caller's
    * zero-token gate is tx02).
    *
    * @return [doc_id, n_tok, n_types, entropy_nano]
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        explode(DedupOps.tokens(col(textCol))).as("_t"))
    val counts = toks.groupBy("doc_id", "_t").agg(count(lit(1)).as("_c"))
    val totals = counts.groupBy("doc_id")
      .agg(sum("_c").cast("long").as("_n"), count(lit(1)).cast("long").as("n_types"))
    counts.join(totals, "doc_id")
      .withColumn("_term", expr(
        "cast(round((cast(_c as double) / _n) * ln(cast(_n as double) / _c) * 1000000000.0) as bigint)"))
      .groupBy("doc_id")
      .agg(sum("_term").cast("long").as("entropy_nano"))
      .join(totals, "doc_id")
      .select(col("doc_id"), col("_n").as("n_tok"), col("n_types"),
        col("entropy_nano"))
  }

  /** PMI-ranked bigram collocations (Church & Hanks 1990): the corpus's
    * most-associated adjacent word pairs,
    * pmi = ln( (c12/N_bi) / ((c1/N_uni)·(c2/N_uni)) ), computed as a
    * sum/difference of six `ln` terms over EXACT integer counts in a
    * fixed mirrored order and rounded to integer nano-units — no
    * integer product ever forms (c12·N_uni² would overflow a long and
    * lose double precision past 2^53 at corpus scale), and the one
    * float step is absorbed by the nano rounding, so both engines rank
    * identically (ties by the pair text).
    *
    * The `minCount` floor (default 5 — the classic Collins cutoff) is
    * applied BEFORE the unigram joins, so at 100 TB the joined side is
    * the rare-tail-free bigram table; the two count lookups are plain
    * equi-joins against the map-side-combined unigram aggregate, and
    * the two 1-row totals ride broadcast cross joins (the tx14 audited
    * BNLJ shape). Output is the global top-`topK` — a LIMIT over the
    * floored table, never a full sort of the raw bigram space.
    *
    * @return [w1, w2, n_pair, pmi_nano, rank]
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1)
    val toks = Exec.materializeLarge(
      df.where(length(trim(col(textCol))) > 0)
        .select(DedupOps.tokens(col(textCol)).as("_tk")))
    val uni = toks.select(explode(col("_tk")).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_cu"))
    val nUni = uni.agg(sum("_cu").cast("long").as("_nu"))
    val bi = toks.where(size(col("_tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_tk) - 1), i -> struct(" +
          "element_at(_tk, i) as w1, element_at(_tk, i + 1) as w2))")).as("_s"))
      .groupBy(col("_s.w1").as("w1"), col("_s.w2").as("w2"))
      .agg(count(lit(1)).as("_c12"))
    val nBi = bi.agg(sum("_c12").cast("long").as("_nb"))
    val floored = bi.where(col("_c12") >= minCount)
    floored
      .join(uni.select(col("_w").as("w1"), col("_cu").as("_c1")), "w1")
      .join(uni.select(col("_w").as("w2"), col("_cu").as("_c2")), "w2")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .withColumn("pmi_nano", expr(
        "cast(round((ln(_c12) - ln(_nb) - ln(_c1) - ln(_c2) + 2 * ln(_nu)) " +
          "* 1000000000.0) as bigint)"))
      .orderBy(col("pmi_nano").desc, col("w1"), col("w2")).limit(topK)
      .select(col("w1"), col("w2"), col("_c12").cast("long").as("n_pair"),
        col("pmi_nano"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi_nano").desc, col("w1"), col("w2"))).as("rank"))
  }

  /** Feature-hashing featurizer (Weinberger et al. 2009, "Feature
    * Hashing for Large Scale Multitask Learning") — the fixed-width
    * bag-of-words vector a quality classifier trains on without ever
    * materializing a corpus-sized vocabulary: token → bucket
    * `md5-prefix mod dims` (the dp19 portable hash, identical in both
    * engines), per-(doc, bucket) counts, zero-filled to a dense
    * `dims`-row output per document.
    *
    * Scale shape: the count is one map-side-combinable hash aggregation
    * over the token explode; the zero-fill spine is a ROW-LOCAL
    * `sequence` explode per distinct doc (never a dims-row table cross
    * join); the left join back is one shuffle on (doc, dim). Output is
    * docs × dims rows — independent of vocabulary size, the entire
    * point of the hashing trick.
    *
    * @return [doc_id, dim, val] — dense, zero-filled
    */
  def featureHash(df: DataFrame, textCol: String, idCol: String,
      dims: Int = 16): DataFrame = {
    require(dims >= 1)
    val toks = Exec.materializeLarge(
      df.where(length(trim(col(textCol))) > 0)
        .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("_tk")))
    val cnt = toks
      .select(col("doc_id"), explode(col("_tk")).as("_u"))
      .select(col("doc_id"), expr(
        s"cast(conv(substring(md5(_u), 1, 8), 16, 10) as bigint) % $dims").as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("_c"))
    toks.select(col("doc_id"),
        explode(expr(s"sequence(0L, ${dims - 1}L)")).as("dim"))
      .join(cnt, Seq("doc_id", "dim"), "left")
      .select(col("doc_id"), col("dim"),
        coalesce(col("_c"), lit(0L)).cast("long").as("val"))
  }

  /** Distributed logistic-regression training over hashed bag-of-words
    * features (the fastText-style quality/language classifier a curation
    * pipeline trains in-engine): full-batch gradient descent, `rounds`
    * fixed iterations, on [[featureHash]] features plus a bias term
    * (dim −1, x = 1), labels from `labelPred`.
    *
    * Pure-integer discipline: weights live in MICRO-units (longs); the
    * per-doc logit z = Σ w_micro·x is an exact long (micro — not nano —
    * precisely so the per-dim gradient sum Σ round((y−p)·x·10⁶) holds
    * ~9·10⁹ docs before a long overflows; at a true 100 TB you
    * mini-batch per round anyway — documented contract). The sigmoid is
    * the one float step, per-doc and mirrored; gradient terms are
    * micro-rounded BEFORE the per-dim sum (tx15 discipline). The update
    * divides by (10·n_docs) — lr = 0.1 — with plain integer division:
    * gradients go NEGATIVE, and Spark `div` and DuckDB's integer `//`
    * both truncate toward zero (verified, not assumed — on floats `//`
    * floors, on integers it truncates), so the two engines agree on
    * negative updates too.
    *
    * Scale shape per round: one broadcast join of the (dims+1)-row
    * weight table onto the docs×nonzero-dims feature rows, a per-doc
    * hash agg (the logit), a per-dim hash agg (the gradient) — all
    * map-side combinable; the loop state is the weight table only, run
    * by [[Exec.iterate]].
    *
    * @return [dim, w_micro] — dims+1 rows, dim −1 = bias
    */
  def hashLogReg(df: DataFrame, textCol: String, idCol: String,
      labelPred: Column, dims: Int = 16, rounds: Int = 3): DataFrame = {
    require(dims >= 1 && rounds >= 1 && rounds <= 16)
    val base = df.where(length(trim(col(textCol))) > 0)
    // null labelPred coerces to 0, matching the oracle's CASE WHEN ...
    // THEN 1 ELSE 0 (a null _y would null that doc's gradient terms and
    // silently drop them from the per-dim sum — ADVICE r15)
    // both loop-invariant tables are KEYED by doc_id (guide §2.4):
    // every GD round joins feats⋈z⋈labels on doc_id and aggregates the
    // logits by doc_id — with the declared partitioning none of those
    // re-shuffles the corpus-sized feature table; the only per-round
    // exchange left is the (dims+1)-row gradient aggregation
    val labels = Exec.materializeForSelfJoinBy(
      base.select(col(idCol).as("doc_id"),
        coalesce(labelPred.cast("int"), lit(0)).cast("long").as("_y")),
      col("doc_id"))
    val nDocs = labels.count()
    require(nDocs > 0, "hashLogReg needs at least one labeled document")
    val feats = Exec.materializeLargeBy(
      featureHash(base, textCol, idCol, dims).where(col("val") > 0)
        .unionByName(labels.select(col("doc_id"), lit(-1L).as("dim"),
          lit(1L).as("val"))),
      col("doc_id"))
    val d = 10L * nDocs // lr = 0.1: grad / (10 n)
    val w = Exec.iterate(Exec.materializeForSelfJoin(
      df.sparkSession.range(-1L, dims.toLong)
        .select(col("id").as("dim"), lit(0L).as("w_micro"))), rounds) { (w, _) =>
      val z = feats.join(broadcast(w), "dim")
        .groupBy("doc_id")
        .agg(sum(col("w_micro") * col("val")).as("_z"))
      val g = feats.join(z, "doc_id").join(labels, "doc_id")
        .select(col("dim"), expr(
          "cast(round((_y - 1.0 / (1.0 + exp(-(_z / 1000000.0)))) " +
            "* val * 1000000.0) as bigint)").as("_t"))
        .groupBy("dim").agg(sum("_t").as("_g"))
      w.join(g, Seq("dim"), "left")
        .select(col("dim"),
          (col("w_micro") + expr(s"coalesce(_g div $d, 0)")).as("w_micro"))
    }
    Exec.releaseMaterialized(labels)
    w
  }

  /** Score documents under a TRAINED [[hashLogReg]] weight table — the
    * serving half of the in-engine classifier (what a curation gate
    * actually runs at 100 TB): one [[featureHash]] pass over the batch,
    * one broadcast join of the (dims+1)-row weight table, one per-doc
    * map-side-combinable hash agg for the logit. Pure-integer
    * discipline: z_micro = Σ w_micro·x is an exact long, and the
    * decision boundary is the INTEGER comparison z_micro > 0 (sigmoid
    * is monotone, so p > 0.5 ⇔ z > 0 — the one place the float can be
    * skipped entirely), so predictions are bit-identical cross-engine.
    *
    * @param weights [dim, w_micro] — dims+1 rows, dim −1 = bias
    * @return [doc_id, z_micro, pred] — pred ∈ {0, 1}
    */
  def logRegScore(df: DataFrame, textCol: String, idCol: String,
      weights: DataFrame, dims: Int = 16): DataFrame = {
    require(dims >= 1)
    val base = df.where(length(trim(col(textCol))) > 0)
    val feats = featureHash(base, textCol, idCol, dims).where(col("val") > 0)
      .unionByName(base.select(col(idCol).as("doc_id"), lit(-1L).as("dim"),
        lit(1L).as("val")))
    feats.join(broadcast(weights), "dim")
      .groupBy("doc_id")
      .agg(sum(col("w_micro") * col("val")).as("z_micro"))
      .select(col("doc_id"), col("z_micro"),
        when(col("z_micro") > 0, 1L).otherwise(0L).as("pred"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") — the stopword-delimiter
    * complement to TextRank (tx29): candidate phrases are maximal runs
    * of non-stopword tokens (the shared 9-word list of
    * [[stopwordRatio]], lowercase match), each word scores
    * deg(w)/freq(w) where deg sums the lengths of every phrase
    * containing the word, and a phrase scores the sum of its words'
    * scores.
    *
    * Pure-integer discipline: per-word scores are exact micro-units via
    * TWO-STEP Euclidean division — score = (deg div freq)·10⁶ +
    * ((deg mod freq)·10⁶) div freq — algebraically equal to
    * (deg·10⁶) div freq but never forming the deg·10⁶ product, so the
    * long never overflows for any freq below ~9·10¹² (the naive form
    * dies at deg > 9·10¹²); both engines truncate identically and the
    * result is an exact long.
    *
    * Scale shape: one token explode; the run-splitting `pos −
    * row_number` trick runs in a PER-DOCUMENT window (a doc fits a task
    * — the same contract every per-doc window in the engine carries);
    * word stats are map-side-combined hash aggregations joined back on
    * the word key; the global top-`topK` is a LIMIT over the
    * phrase-aggregated table.
    *
    * @return [phrase, n_words, n_occur, score_micro, rank]
    */
  def rakeKeyphrases(df: DataFrame, textCol: String, idCol: String,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")
    val stopSet = stops.map(s => s"'$s'").mkString(", ")
    val toks = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("_id"),
        posexplode(DedupOps.tokens(col(textCol))).as(Seq("_pos", "_w")))
    val ns = toks.where(not(expr(s"lower(_w) in ($stopSet)")))
      .withColumn("_grp", col("_pos") - row_number().over(
        Window.partitionBy("_id").orderBy("_pos")))
    val nsM = Exec.materializeLarge(ns)
    val phr = nsM.groupBy("_id", "_grp")
      .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(_pos, _w))), x -> x._w), ' ')").as("phrase"),
        count(lit(1)).as("_plen"))
    val phrM = Exec.materializeLarge(phr)
    val wfreq = nsM.groupBy("_w").agg(count(lit(1)).as("_freq"))
    val wdeg = nsM.join(phrM, Seq("_id", "_grp"))
      .groupBy("_w").agg(sum("_plen").as("_deg"))
    val wscore = wfreq.join(wdeg, "_w")
      .select(col("_w"), expr(
        "(_deg div _freq) * 1000000 + ((_deg % _freq) * 1000000) div _freq")
        .as("_ws"))
    val pscore = nsM.join(wscore, "_w")
      .groupBy("_id", "_grp").agg(sum("_ws").as("_ps"))
      .join(phrM, Seq("_id", "_grp"))
      .groupBy("phrase")
      .agg(max("_plen").cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_occur"),
        max("_ps").cast("long").as("score_micro"))
    pscore.orderBy(col("score_micro").desc, col("phrase")).limit(topK)
      .select(col("phrase"), col("n_words"), col("n_occur"),
        col("score_micro"),
        row_number().over(Window
          .orderBy(col("score_micro").desc, col("phrase"))).as("rank"))
      .orderBy("rank")
  }

  /** Sliding-window context chunking — the serving op that turns raw
    * documents into fixed-length training/RAG windows: chunks of
    * `chunk` tokens starting every `stride` tokens (overlap =
    * chunk − stride), the last window clipped to the document end. A
    * document of n tokens yields 1 + max(0, ⌈(n − chunk)/stride⌉)
    * chunks — pure integer arithmetic (`(n - chunk + stride - 1) div
    * stride`), mirrored exactly by the oracle.
    *
    * Row-local throughout (explode over a per-doc `sequence`, then
    * `slice` on the already-split token array — no join, no shuffle, no
    * second tokenization), so the op is one narrow map at any corpus
    * size. The chunk text is emitted as an md5 hash, not the string:
    * the window overlap re-emits up to chunk/stride × the corpus bytes,
    * which the hash caps at 32 bytes/row while still pinning exact
    * chunk-content parity cross-engine.
    *
    * @return [doc_id, chunk_id, start_tok, n_toks, chunk_hash]
    */
  def contextChunks(df: DataFrame, textCol: String, idCol: String,
      chunk: Int = 64, stride: Int = 48): DataFrame = {
    require(chunk >= 1 && stride >= 1 && stride <= chunk)
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("_tk"))
      .withColumn("_n", size(col("_tk")))
      .withColumn("chunk_id", explode(expr(
        s"sequence(0, greatest(0, cast((_n - $chunk + $stride - 1) div $stride as int)))")))
      .withColumn("start_tok", col("chunk_id") * stride + 1)
      .withColumn("n_toks", least(lit(chunk), col("_n") - col("start_tok") + 1))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        col("n_toks").cast("long").as("n_toks"),
        md5(concat_ws(" ", slice(col("_tk"), col("start_tok"), col("n_toks"))))
          .as("chunk_hash"))
  }
}
