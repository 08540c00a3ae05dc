package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Text-analysis family (tx01-tx38): language-ID, quality,
  * tokenizers (BPE/unigram), TF-IDF/BM25, classifiers, PII, stats.
  * Split from the monolithic Catalog object (VERDICT r16 #8) — pure
  * file move, zero semantic change.
  */
private[queries] trait CatalogText extends CatalogShared {


  private val tx01 = Q("tx01_token_stats", Some("""
    WITH t AS (
      SELECT lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        n_chars
      FROM documents)
    SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS total_tokens,
      cast(max(n_tokens) as bigint) AS max_tokens,
      cast(sum(n_tokens) as double) / count(*) AS avg_tokens,
      cast(sum(n_chars) as bigint) AS total_chars
    FROM t GROUP BY lang ORDER BY lang"""),
    (s, d) => T(s, d, "documents")
      .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"),
        (sum("n_tokens").cast("double") / count(lit(1))).as("avg_tokens"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang"))


  // Per-doc quality features. All per-row double math mirrors the oracle
  // op-for-op (power-of-two weights, same order) -> bit-identical, no
  // rounding needed.
  private val tx02 = Q("tx02_quality", Some(s"""
    WITH ${qualityFeatureCte("doc_id")}
    SELECT doc_id, tok_cnt, punct_cnt, stop_cnt,
      0.5 * least(n_len / 512.0, 1.0)
        + 0.25 * (CASE WHEN tok_cnt = 0 THEN 0.0
                       ELSE cast(stop_cnt as double) / tok_cnt END)
        + 0.25 * (1.0 - least(punct_cnt * 16.0 / n_len, 1.0)) AS quality
    FROM f ORDER BY doc_id"""),
    (s, d) => qualityFeatures(T(s, d, "documents"), "doc_id")
      .select(col("doc_id"), col("tok_cnt"), col("punct_cnt"), col("stop_cnt"),
        featureQuality)
      .orderBy("doc_id"))


  private val tx03 = Q("tx03_langid", Some(s"""
    WITH $langScoreCte
    SELECT lang,
      CASE WHEN has_cjk THEN 'zh'
           WHEN s_fr > s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
           WHEN s_es > s_en AND s_es > s_fr AND s_es >= s_de THEN 'es'
           WHEN s_de > s_en AND s_de > s_fr AND s_de > s_es THEN 'de'
           ELSE 'en' END AS predicted,
      count(*) AS n
    FROM scored GROUP BY 1, 2 ORDER BY lang, predicted"""),
    (s, d) => T(s, d, "documents")
      // staged projection: the 4 regex scores + CJK flag run once per row;
      // the CASE then branches over struct fields (CollapseProject keeps
      // the boundary — the alias is non-cheap and multiply referenced)
      .select(col("lang"), TextOps.langScores(col("text")).as("_ls"))
      .withColumn("predicted", TextOps.langIdFromScores(col("_ls")))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted"))


  // Classifier evaluation metrics (the eval-harness rollup over tx03's
  // lang-id confusion — the ann07-style "grade the model" move applied
  // to a text classifier): per ACTUAL class tp / support / predicted
  // count and precision / recall / F1, plus an '__all' micro-accuracy
  // row. Everything runs on the |langs|² confusion table (a hash agg
  // away from the corpus scan); metrics are mirrored IEEE ratios of
  // exact integers, nano-rounded; a class never predicted gets
  // precision 0 by the guarded CASE on both engines identically. F1
  // computes from the RAW ratios, rounded once at the end.
  private val tx23 = Q("tx23_langid_eval", Some(s"""
    WITH $langScoreCte,
    pred AS (
      SELECT lang,
        CASE WHEN has_cjk THEN 'zh'
             WHEN s_fr > s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
             WHEN s_es > s_en AND s_es > s_fr AND s_es >= s_de THEN 'es'
             WHEN s_de > s_en AND s_de > s_fr AND s_de > s_es THEN 'de'
             ELSE 'en' END AS predicted
      FROM scored),
    conf AS (SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2),
    act AS (SELECT lang, cast(sum(n) as bigint) AS na FROM conf GROUP BY 1),
    prd AS (SELECT predicted, cast(sum(n) as bigint) AS np FROM conf GROUP BY 1),
    tp AS (SELECT lang, cast(n as bigint) AS tp FROM conf WHERE predicted = lang),
    per AS (
      SELECT a.lang, coalesce(tp.tp, 0) AS tp, a.na, coalesce(p.np, 0) AS np
      FROM act a LEFT JOIN tp USING (lang)
      LEFT JOIN prd p ON p.predicted = a.lang),
    met AS (
      SELECT lang, tp, na, np,
        CASE WHEN np > 0 THEN cast(tp as double) / cast(np as double)
             ELSE 0.0 END AS p,
        cast(tp as double) / cast(na as double) AS r
      FROM per),
    rows_ AS (
      SELECT lang, tp, na, np,
        cast(round(p * 1000000000.0) as bigint) AS precision_nano,
        cast(round(r * 1000000000.0) as bigint) AS recall_nano,
        cast(round(CASE WHEN p + r > 0.0 THEN 2.0 * p * r / (p + r)
                        ELSE 0.0 END * 1000000000.0) as bigint) AS f1_nano
      FROM met
      UNION ALL
      SELECT '__all', cast(sum(tp) as bigint), cast(sum(na) as bigint),
        cast(sum(np) as bigint),
        cast(round(cast(sum(tp) as double) / cast(sum(na) as double) * 1000000000.0) as bigint),
        cast(round(cast(sum(tp) as double) / cast(sum(na) as double) * 1000000000.0) as bigint),
        cast(round(cast(sum(tp) as double) / cast(sum(na) as double) * 1000000000.0) as bigint)
      FROM per)
    SELECT lang, tp, na, np, precision_nano, recall_nano, f1_nano
    FROM rows_ ORDER BY lang"""),
    (s, d) => {
      val pred = T(s, d, "documents")
        .select(col("lang"), TextOps.langScores(col("text")).as("_ls"))
        .withColumn("predicted", TextOps.langIdFromScores(col("_ls")))
      val conf = pred.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      val act = conf.groupBy("lang").agg(sum("n").cast("long").as("na"))
      val prd = conf.groupBy("predicted").agg(sum("n").cast("long").as("np"))
      val tp = conf.where(col("predicted") === col("lang"))
        .select(col("lang"), col("n").cast("long").as("tp"))
      val per = act.join(tp, Seq("lang"), "left")
        .join(prd.withColumnRenamed("predicted", "lang"), Seq("lang"), "left")
        .na.fill(0L, Seq("tp", "np"))
      val met = per.select(col("lang"), col("tp"), col("na"), col("np"),
        when(col("np") > 0, col("tp").cast("double") / col("np").cast("double"))
          .otherwise(lit(0.0)).as("p"),
        (col("tp").cast("double") / col("na").cast("double")).as("r"))
      val perRows = met.select(col("lang"), col("tp"), col("na"), col("np"),
        expr("cast(round(p * 1000000000.0) as bigint)").as("precision_nano"),
        expr("cast(round(r * 1000000000.0) as bigint)").as("recall_nano"),
        expr("""cast(round(CASE WHEN p + r > 0.0D THEN 2.0D * p * r / (p + r)
                ELSE 0.0D END * 1000000000.0) as bigint)""").as("f1_nano"))
      val acc = per.agg(sum("tp").cast("long").as("tp"),
          sum("na").cast("long").as("na"), sum("np").cast("long").as("np"))
        .select(lit("__all").as("lang"), col("tp"), col("na"), col("np"),
          expr("cast(round(cast(tp as double) / cast(na as double) * 1000000000.0) as bigint)").as("precision_nano"))
        .withColumn("recall_nano", col("precision_nano"))
        .withColumn("f1_nano", col("precision_nano"))
      perRows.unionByName(acc).orderBy("lang")
    })


  // Readability scoring (Flesch reading ease with the standard
  // vowel-group syllable proxy — the document-difficulty signal
  // curriculum ordering (dp17) and quality gating (tx02) consume):
  // sentences = terminal punctuation runs (min 1), words = whitespace
  // tokens, syllables ≈ maximal [aeiouy]+ groups. All three are exact
  // regexp-count integers on both engines; the score is mirrored IEEE
  // arithmetic over those integers, nano-rounded — one narrow codegen
  // pass per row, no shuffle before the output sort.
  private val tx24 = Q("tx24_readability", Some("""
    WITH m AS (
      SELECT doc_id,
        greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent,
        len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syll
      FROM documents WHERE length(trim(text)) > 0 AND doc_id < 300)
    SELECT doc_id, cast(n_sent as bigint) AS n_sent,
      cast(n_words as bigint) AS n_words, cast(n_syll as bigint) AS n_syll,
      cast(round((206.835
        - 1.015 * (cast(n_words as double) / cast(n_sent as double))
        - 84.6 * (cast(n_syll as double) / cast(n_words as double)))
        * 1000000000.0) as bigint) AS flesch_nano
    FROM m ORDER BY doc_id"""),
    (s, d) => T(s, d, "documents")
      .where(length(trim(col("text"))) > 0 && col("doc_id") < 300)
      .select(col("doc_id"),
        greatest(lit(1), size(expr("regexp_extract_all(text, '[.!?]+', 0)")))
          .cast("long").as("n_sent"),
        size(DedupOps.tokens(col("text"))).cast("long").as("n_words"),
        greatest(lit(1),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")))
          .cast("long").as("n_syll"))
      .select(col("doc_id"), col("n_sent"), col("n_words"), col("n_syll"),
        expr("""cast(round((206.835
          - 1.015 * (cast(n_words as double) / cast(n_sent as double))
          - 84.6 * (cast(n_syll as double) / cast(n_words as double)))
          * 1000000000.0) as bigint)""").as("flesch_nano"))
      .orderBy("doc_id"))


  private val tx04 = Q("tx04_fingerprint", Some("""
    SELECT doc_id,
      CASE WHEN length(text) < 16 THEN md5(text)
           ELSE list_aggregate(list_transform(generate_series(1, length(text) - 15, 8),
                  i -> md5(substr(text, i, 16))), 'min') END AS fp
    FROM documents ORDER BY doc_id"""),
    (s, d) => T(s, d, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"))


  private val tx05 = Q("tx05_subword_stats", Some("""
    WITH t AS (
      SELECT lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE cast(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                  x -> 1 + cast(floor(greatest(length(x) - 1, 0) / 4.0) as int))) as int)
        END AS sw
      FROM documents)
    SELECT lang, count(*) AS n_docs, cast(sum(sw) as bigint) AS total_subwords, max(sw) AS max_subwords
    FROM t GROUP BY lang ORDER BY lang"""),
    (s, d) => T(s, d, "documents")
      .withColumn("sw", TextOps.subwordCount(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("sw").as("total_subwords"),
        max("sw").as("max_subwords"))
      .orderBy("lang"))


  // TF-IDF: term frequencies per doc, document frequencies, top-3 terms
  // per doc ranked by tf*ln((N+1)/(df+1)). Output carries only the
  // integer tf/df (the float tfidf orders but never leaves the engine).
  // The tf x df join is UNHINTED (df is vocabulary-sized — billions of
  // terms at corpus scale, the tx08 rule); only the 1-row doc count is
  // broadcast. toks is materialized once: tf and df both derive from it,
  // and without materialization Catalyst re-tokenizes the corpus twice.
  // The exploded token table is O(corpus)-sized, so it persists DISK_ONLY
  // with lineage kept (materializeLarge) — a localCheckpoint here pinned
  // several corpus-sizes of blocks in executor storage and made a lost
  // executor fatal (VERDICT r7 #2).
  private val tx06 = Q("tx06_tfidf", Some("""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE tf.doc_id < 100)
    SELECT doc_id, term, tf, df, rank FROM (
      SELECT doc_id, term, tf, df,
        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored) t
    WHERE rank <= 3 ORDER BY doc_id, rank"""),
    (s, d) => {
      val toks = SharedArtifacts.docTokens(s, d)
        .select(col("doc_id"), col("tok").as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val n = T(s, d, "documents").agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .where(col("doc_id") < 100)
        .withColumn("tfidf", col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
        .orderBy("doc_id", "rank")
    })


  // Top-3 bigrams per language: n-gram frequency analysis (shingle k=2
  // reuses the dedup shingle kernel).
  private val tx07 = Q("tx07_bigrams", Some("""
    WITH toks AS (
      SELECT lang, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
    bi AS (
      SELECT lang, unnest(list_transform(generate_series(1, len(t) - 1),
        i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2),
    counts AS (SELECT lang, bigram, count(*) AS n FROM bi GROUP BY 1, 2)
    SELECT lang, bigram, n, rank FROM (
      SELECT lang, bigram, n,
        row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
      FROM counts) t WHERE rank <= 3 ORDER BY lang, rank"""),
    (s, d) => {
      val toks = T(s, d, "documents")
        .select(col("lang"), DedupOps.tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
      val bi = toks.select(col("lang"),
        explode(DedupOps.shinglesFromTokens(col("t"), 2)).as("bigram"))
      val counts = bi.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      // lang has ~5 values: a bare PARTITION BY lang window would sort a
      // whole language in one task at scale — two-phase salted top-k
      // instead (TopKOps), identical output, bounded per-task sort.
      TopKOps.perGroupTopK(counts, Seq("lang"),
          Seq(col("n").desc, col("bigram").asc), k = 3, saltOn = col("bigram"))
        .select("lang", "bigram", "n", "rank")
        .orderBy("lang", "rank")
    })


  // Corpus-commonness scoring (boilerplate signal for curation): build
  // the corpus unigram frequency table, then score each doc by the sum
  // of its tokens' corpus counts. Pure integer arithmetic — exact on any
  // engine/partitioning. The token→frequency join carries NO broadcast
  // hint: at bench scale Catalyst's size estimate broadcasts the small
  // frequency table on its own, but a 100 TB corpus has a vocabulary of
  // billions of rows and a forced broadcast() (which bypasses
  // autoBroadcastJoinThreshold entirely) would OOM the driver. Unhinted,
  // the plan degrades gracefully to a shuffled hash join on the
  // fixed-width `tok` key — AQE picks per actual size at runtime.
  // PlanAuditSpec's "broadcast hints appear exactly where designed" test
  // asserts this query's analyzed plan carries NO user join hint.
  private val tx08 = Q("tx08_commonness", Some("""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    freq AS (SELECT tok, count(*) AS nf FROM toks GROUP BY tok)
    SELECT t.doc_id, count(*) AS n_tokens,
      cast(sum(f.nf) as bigint) AS commonness
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id ORDER BY doc_id"""),
    (s, d) => {
      // exploded token table is O(corpus) bytes: DISK_ONLY + lineage
      // (same class as tx06's toks — the r7 rule)
      // shared kernel: non-empty trimmed text never splits to a ""
      // token, so filtering tok != "" drops exactly the empty-doc rows
      // the original pre-explode doc filter dropped
      val toks = SharedArtifacts.docTokens(s, d).where(col("tok") =!= "")
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("nf"))
      toks.join(freq, Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("nf").as("commonness"))
        .orderBy("doc_id")
    })


  // Repetition ratio (the duplicate-3-gram fraction): the classic
  // pretraining quality filter for boilerplate/spam — docs whose shingle
  // set is mostly duplicates get filtered before training. Narrow
  // per-row compute over the same shingle kernel dd04 uses; the ratio is
  // one double division + subtraction, mirrored op-for-op.
  private val tx09 = Q("tx09_repetition", Some(s"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    $wordShingleCte,
    c AS (
      SELECT doc_id, cast(len(shingles) as bigint) AS n_shingles,
        cast(len(list_distinct(shingles)) as bigint) AS n_distinct
      FROM sh)
    SELECT doc_id, n_shingles, n_distinct,
      1.0 - cast(n_distinct as double) / n_shingles AS rep_ratio
    FROM c ORDER BY doc_id"""),
    (s, d) => T(s, d, "documents")
      .where(length(trim(col("text"))) > 0)
      .select(col("doc_id"), DedupOps.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), DedupOps.shinglesFromTokens(col("_toks"), 3).as("_sh"))
      .select(col("doc_id"),
        size(col("_sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("_sh"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_shingles")).as("rep_ratio"))
      .orderBy("doc_id"))


  // PII scrubbing over synthetic contact strings built from the customer
  // relation (the corpus text carries no PII, so the fixture constructs
  // it deterministically — same discipline as ref01's built HTML).
  private val tx10 = Q("tx10_pii_redaction", Some("""
    WITH c AS (
      SELECT c_custkey,
        'Reach ' || c_name || ' at user' || cast(c_custkey as varchar)
          || '@mail.example.org or +1-'
          || lpad(cast(c_custkey % 900 + 100 as varchar), 3, '0') || '-'
          || lpad(cast(c_custkey % 10000 as varchar), 4, '0') AS contact
      FROM customer WHERE c_custkey <= 500)
    SELECT c_custkey,
      regexp_replace(regexp_replace(contact,
        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted,
      len(regexp_extract_all(contact, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
      len(regexp_extract_all(contact, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phones
    FROM c ORDER BY c_custkey"""),
    (s, d) => T(s, d, "customer").where(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        concat(lit("Reach "), col("c_name"), lit(" at user"),
          col("c_custkey").cast("string"), lit("@mail.example.org or +1-"),
          lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"), lit("-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")).as("contact"))
      .select(col("c_custkey"),
        TextOps.redactPii(col("contact")).as("redacted"),
        TextOps.emailCount(col("contact")).as("n_emails"),
        TextOps.phoneCount(col("contact")).as("n_phones"))
      .orderBy("c_custkey"))


  // Exact PHRASE search over the positional shingle index (the
  // retrieval primitive BM25's bag-of-words scoring cannot express:
  // "this exact 8-token sequence"): the query set is the corpus's 3
  // most-widely-shared phrases (top by distinct-doc count, hash
  // tiebreak — a TakeOrderedAndProject over the reduced per-shingle
  // stats, so it is non-empty at EVERY scale), and the search is one
  // equi-join of that bounded 3-row side (AQE broadcasts it) onto the
  // SHARED positional index (SharedArtifacts.posShingles8 — the kernel
  // dd12/dd16/dd19 ride): zero new corpus scans; per-doc occurrence
  // counts and first positions fall out of one hash agg.
  private val tx25 = Q("tx25_phrase_search", Some(s"""
    $posShingle8Ctes,
    q AS (
      SELECT h, row_number() OVER (ORDER BY nd DESC, h) AS phrase_rank
      FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
      ORDER BY nd DESC, h LIMIT 3)
    SELECT q.phrase_rank, sh.doc_id,
      cast(count(*) as bigint) AS n_occ,
      cast(min(sh.p) as bigint) AS first_pos
    FROM q JOIN sh ON sh.h = q.h
    GROUP BY 1, 2 ORDER BY phrase_rank, doc_id"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sh = SharedArtifacts.posShingles8(s, d)
      // top-3 by distinct-doc spread: orderBy().limit() is a
      // distributed partial top-k over the reduced per-shingle stats;
      // the rank window then runs over just the 3 survivors
      val q = sh.groupBy("_h").agg(countDistinct("_id").as("_nd"))
        .orderBy(col("_nd").desc, col("_h")).limit(3)
        .withColumn("phrase_rank",
          row_number().over(Window.orderBy(col("_nd").desc, col("_h"))))
        .select("phrase_rank", "_h")
      q.join(sh, Seq("_h"))
        .groupBy(col("phrase_rank"), col("_id").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_occ"),
          min(col("_p")).cast("long").as("first_pos"))
        .orderBy("phrase_rank", "doc_id")
    })


  // Vocabulary coverage curve: what share of all token occurrences the
  // top-k vocabulary covers — the first question of tokenizer/vocab
  // design over a corpus. Cumulative sums are integer; the share is one
  // division. The top 20 terms come from orderBy().limit(20) —
  // TakeOrderedAndProject, a distributed partial top-k where every task
  // keeps only 20 rows and the driver merges — so no task ever sorts the
  // full vocabulary (the r4 plan ran a global single-partition window
  // over every distinct term); rank/cumsum then run over just those 20
  // survivors. The corpus total is a shuffle-free 1-row aggregate taken
  // directly from per-doc token counts (sum over docs of |tokens| ==
  // sum over vocabulary of cnt — no second vocabulary shuffle).
  private val tx11 = Q("tx11_vocab_coverage", Some("""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0),
    tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    meta AS (SELECT cast(sum(cnt) as bigint) AS total FROM tf),
    r AS (
      SELECT term, cnt,
        row_number() OVER (ORDER BY cnt DESC, term) AS rank,
        cast(sum(cnt) OVER (ORDER BY cnt DESC, term
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum
      FROM tf)
    SELECT rank, term, cast(cnt as bigint) AS cnt,
      cast(cum as double) / (SELECT total FROM meta) AS coverage
    FROM r WHERE rank <= 20 ORDER BY rank"""),
    (s, d) => {
      val docs = T(s, d, "documents").where(length(trim(col("text"))) > 0)
      val tf = docs
        .select(explode(DedupOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val meta = docs
        .select(size(DedupOps.tokens(col("text"))).cast("long").as("n"))
        .agg(sum("n").as("total"))
      val top = tf.orderBy(col("cnt").desc, col("term")).limit(20)
      val wOrd = Window.orderBy(col("cnt").desc, col("term"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.withColumn("rank", row_number().over(wOrd))
        .withColumn("cum", sum("cnt").over(wCum))
        .crossJoin(broadcast(meta))
        .select(col("rank"), col("term"), col("cnt"),
          (col("cum").cast("double") / col("total")).as("coverage"))
        .orderBy("rank")
    })


  // Intra-document repetition filters (Gopher, Rae et al. 2021
  // arXiv:2112.11446 §A1.1): fraction of chars covered by the most
  // frequent 2-gram and by duplicated 5-grams, plus the 0.20/0.15 gate.
  // Complements tx09 (duplicate-shingle DISTINCT ratio): the char
  // fractions weight repetition by how much of the document it covers,
  // which is what the published thresholds are calibrated against.
  // One tagged explode (both gram sizes from a single corpus scan), a
  // token-volume hash aggregate with map-side combine, a per-doc fold —
  // tx06's linear cost shape. Counts are exact integers; each fraction
  // is one IEEE division, so both engines agree bit-for-bit and the
  // flag compares identical doubles against identical literals.
  private val tx12 = Q("tx12_gopher_gate", Some("""
    WITH t AS (
      SELECT doc_id, length(text) AS n_len,
        regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id, n_len, 2 AS n,
        unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g
      FROM t WHERE len(tk) >= 2
      UNION ALL
      SELECT doc_id, n_len, 5 AS n,
        unnest(list_transform(generate_series(1, len(tk) - 4),
          i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
      FROM t WHERE len(tk) >= 5),
    c AS (
      SELECT doc_id, n, g, max(n_len) AS n_len, count(*) AS cnt
      FROM g GROUP BY doc_id, n, g),
    p AS (
      SELECT doc_id, max(n_len) AS n_len,
        max(CASE WHEN n = 2 THEN cnt * length(g) ELSE 0 END) AS chars_top,
        sum(CASE WHEN n = 5 AND cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS chars_dup
      FROM c GROUP BY doc_id)
    SELECT doc_id,
      cast(chars_top as double) / n_len AS top2_frac,
      cast(chars_dup as double) / n_len AS dup5_frac,
      CASE WHEN cast(chars_top as double) / n_len > 0.20
             OR cast(chars_dup as double) / n_len > 0.15
           THEN 1 ELSE 0 END AS flagged
    FROM p ORDER BY doc_id"""),
    (s, d) => TextOps.repetitionScores(T(s, d, "documents"), "text", "doc_id")
      .orderBy("doc_id"))


  // N-gram novelty (order-aware cross-doc duplication): per doc, the
  // share of its 8-token shingle occurrences whose EARLIEST corpus
  // occurrence (min doc_id) is the doc itself. First writers score 1.0,
  // later copies score 0 on the copied span — the signal a dedup-aware
  // curriculum keys on, where dd16 penalizes both sides equally. Linear:
  // one min-per-shingle hash agg, one equi-join back, one per-doc agg;
  // no self-join. Integer counts; one mirrored IEEE division.
  private val tx13 = Q("tx13_novelty", Some("""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tk) - 7),
          i -> substr(md5(array_to_string(list_slice(tk, i, i + 7), ' ')), 1, 16))) AS h
      FROM t WHERE len(tk) >= 8),
    f AS (SELECT h, min(doc_id) AS first_id FROM sh GROUP BY h)
    SELECT sh.doc_id,
      cast(count(*) as bigint) AS n_shingles,
      cast(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END) as bigint)
        AS n_novel,
      cast(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END) as double)
        / count(*) AS novelty_frac
    FROM sh JOIN f USING (h)
    GROUP BY sh.doc_id ORDER BY sh.doc_id"""),
    (s, d) => DedupOps.noveltyScores(T(s, d, "documents"), "text", "doc_id",
        k = 8, shingles = Some(SharedArtifacts.posShingles8(s, d)))
      .orderBy("doc_id"))


  // Corpus-trained bigram LM quality scoring (CCNet-style perplexity
  // proxy): mean add-one-smoothed ln P(w2|w1) per doc, model = the corpus
  // itself. Occurrences, histories, and vocab are exact integer counts
  // joined on fixed-width md5-64 keys (tx13 discipline); ln is the one
  // float step and the output rounds to 4 decimals so both engines' libm
  // agree (the dd05 precedent). Linear: no self-join, model tables are
  // hash aggregates the occurrence table equi-joins back against.
  private val tx14 = Q("tx14_bigram_lm", Some(s"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    $bigramLmCtes
    SELECT o.doc_id,
      cast(sum(cnt) as bigint) AS n_bigrams,
      round(sum(cnt * (ln(c2 + 1.0) - ln(c1 + v))) / sum(cnt), 4)
        AS avg_logprob
    FROM o JOIN c2 USING (h2) JOIN c1 USING (h1) CROSS JOIN v
    GROUP BY o.doc_id ORDER BY o.doc_id"""),
    (s, d) => TextOps.bigramLogProb(T(s, d, "documents"), "text", "doc_id")
      .orderBy("doc_id"))


  // Batch-vs-history token-distribution drift (TextOps
  // .distributionDrift): per language, additive-smoothed
  // KL(batch ‖ history) over the union vocabulary plus the batch's OOV
  // occurrence rate — the ingestion monitor that catches a crawler
  // config change or language flip BEFORE it pollutes the corpus. Each
  // KL term is rounded to integer nano-units before summing (the q68
  // move), so the cross-vocab sum is an exact long under any
  // aggregation order; `ln` is the one float step, per-term and
  // mirrored. Batch = doc_id >= 400 (the dd08 convention).
  private val tx15 = Q("tx15_batch_drift", Some(driftSql),
    (s, d) => TextOps.distributionDrift(T(s, d, "documents"), "text",
        "lang", col("doc_id") >= 400)
      .orderBy("lang"))


  // CCNet-style perplexity bucketing (TextOps.perplexityBuckets,
  // Wenzek et al. 2019 §4.4): per language, split the corpus into
  // head / middle / tail terciles of bigram-LM score (tx14's model) —
  // the classic curation move where "head" feeds high-quality training
  // mixes. Cutoffs come from the scale-safe histogram quantile
  // (QuantileOps.histogramThreshold — 8192 power-of-two-width bins, no
  // per-language sort or value-buffering percentile), assignment is
  // bin-granular so no tiebreak ordering is needed. The oracle replays
  // the tx14 LM CTEs, the IEEE-exact binning, and the cumulative-count
  // cutoff rule (cum·den ≥ n·num) verbatim.
  private val tx16 = Q("tx16_perplexity_buckets", Some(s"""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    $bigramLmCtes,
    sc AS (
      SELECT o.doc_id,
        round(sum(cnt * (ln(c2 + 1.0) - ln(c1 + v))) / sum(cnt), 4) AS s
      FROM o JOIN c2 USING (h2) JOIN c1 USING (h1) CROSS JOIN v
      GROUP BY o.doc_id),
    b AS (
      SELECT sc.doc_id, t.lang,
        cast(least(floor((sc.s + 64.0) / 0.0078125), 8191) as bigint)
          AS ppl_bin
      FROM sc JOIN t USING (doc_id)),
    counts AS (SELECT lang, ppl_bin, count(*) AS c FROM b GROUP BY 1, 2),
    cum AS (
      SELECT lang, ppl_bin,
        sum(c) OVER (PARTITION BY lang ORDER BY ppl_bin) AS cum,
        sum(c) OVER (PARTITION BY lang) AS n
      FROM counts),
    cuts AS (
      SELECT lang,
        min(CASE WHEN cum * 3 >= n THEN ppl_bin END) AS t1,
        min(CASE WHEN cum * 3 >= n * 2 THEN ppl_bin END) AS t2
      FROM cum GROUP BY lang)
    SELECT b.doc_id, b.lang, b.ppl_bin,
      CASE WHEN b.ppl_bin <= c.t1 THEN 'tail'
           WHEN b.ppl_bin <= c.t2 THEN 'middle'
           ELSE 'head' END AS bucket
    FROM b JOIN cuts c USING (lang) ORDER BY b.doc_id"""),
    (s, d) => TextOps.perplexityBuckets(T(s, d, "documents"), "text",
        "lang", "doc_id")
      .orderBy("doc_id"))


  // Per-document unigram entropy (TextOps.tokenEntropy): the
  // information-theoretic quality axis — low entropy flags keyword
  // stuffing and template boilerplate that surface heuristics (tx04)
  // and repetition gates (tx09/tx12) see only partially. Each term
  // (c/n)·ln(n/c) is rounded to integer nano-units BEFORE the per-doc
  // sum (the tx15 move): the sum is an exact long under any aggregation
  // order, and the rounding absorbs cross-engine libm ulps in ln. One
  // explode + two hash aggs + one unhinted doc-key join — linear, no
  // window.
  private val tx17 = Q("tx17_token_entropy", Some("""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0),
    counts AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
    totals AS (SELECT doc_id, sum(c) AS n, count(*) AS n_types
               FROM counts GROUP BY doc_id),
    terms AS (
      SELECT c.doc_id,
        cast(round((cast(c.c as double) / t.n) * ln(cast(t.n as double) / c.c)
          * 1000000000.0) as bigint) AS term
      FROM counts c JOIN totals t USING (doc_id))
    SELECT t.doc_id, cast(t.n as bigint) AS n_tok,
      cast(t.n_types as bigint) AS n_types, s.e AS entropy_nano
    FROM totals t
    JOIN (SELECT doc_id, cast(sum(term) as bigint) AS e
          FROM terms GROUP BY doc_id) s USING (doc_id)
    ORDER BY t.doc_id"""),
    (s, d) => TextOps.tokenEntropy(T(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"))


  // Per-language Zipf slope: OLS fit of ln(freq) on ln(rank) over the
  // corpus vocabulary — the classic corpus-health diagnostic (natural
  // text sits near −1; templated/synthetic corpora flatten or steepen).
  // The vocabulary rank is the two-phase prefix sum over the composite
  // key (maxF − f)·2^32 + h32(token) — frequency-descending, NUMERIC,
  // no per-language single-reducer window over the corpus-sized vocab.
  // An h32 collision can only tie tokens of EQUAL frequency, where the
  // regression sums are permutation-invariant (equal y), so the output
  // is deterministic without a string tiebreak in the key. Every OLS
  // term is rounded to integer nano-units before summation (exact
  // longs, tx15's move); the closed-form slope is computed in doubles
  // from the five exact sums, mirrored op-for-op.
  private val tx18 = Q("tx18_zipf_slope", Some("""
    WITH toks AS (
      SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0),
    freq AS (SELECT lang, t, count(*) AS f FROM toks GROUP BY lang, t),
    r AS (SELECT lang, f,
        row_number() OVER (PARTITION BY lang
          ORDER BY f DESC, ('0x' || substr(md5(t), 1, 8))::BIGINT, t) AS rank
      FROM freq),
    terms AS (
      SELECT lang,
        cast(round(ln(cast(rank as double)) * 1000000000.0) as bigint) AS x,
        cast(round(ln(cast(f as double)) * 1000000000.0) as bigint) AS y,
        cast(round(ln(cast(rank as double)) * ln(cast(f as double)) * 1000000000.0) as bigint) AS xy,
        cast(round(ln(cast(rank as double)) * ln(cast(rank as double)) * 1000000000.0) as bigint) AS xx
      FROM r),
    agg AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(xy) AS sxy, sum(xx) AS sxx
            FROM terms GROUP BY lang)
    SELECT lang, cast(n as bigint) AS n_vocab,
      CASE WHEN n < 2 THEN NULL
           ELSE round((cast(n as double) * sxy * 1000000000.0 - cast(sx as double) * sy)
               / (cast(n as double) * sxx * 1000000000.0 - cast(sx as double) * sx), 6)
      END AS slope
    FROM agg ORDER BY lang"""),
    (s, d) => {
      val freq = T(s, d, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("lang"), explode(DedupOps.tokens(col("text"))).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("f"))
      val b = freq.agg(max("f")).head()
      if (b.isNullAt(0))
        freq.groupBy("lang").agg(count(lit(1)).as("n_vocab"), lit(0d).as("slope"))
      else {
        val maxF = b.getLong(0)
        require(maxF < (1L << 31), s"frequency $maxF overflows the rank key")
        val keyed = freq
          .withColumn("_h", conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"))
          .withColumn("_key", (lit(maxF) - col("f")) * lit(4294967296L) + col("_h"))
        val ranked = PrefixSumOps.exclusiveRunningSumAuto(
            keyed.withColumn("_one", lit(1L)), Seq("lang"), "_key", "_one", "_excl")
          .withColumn("rank", col("_excl") + 1L)
        ranked
          .select(col("lang"),
            expr("cast(round(ln(cast(rank as double)) * 1000000000.0) as bigint)").as("x"),
            expr("cast(round(ln(cast(f as double)) * 1000000000.0) as bigint)").as("y"),
            expr("cast(round(ln(cast(rank as double)) * ln(cast(f as double)) * 1000000000.0) as bigint)").as("xy"),
            expr("cast(round(ln(cast(rank as double)) * ln(cast(rank as double)) * 1000000000.0) as bigint)").as("xx"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum("xy").as("sxy"), sum("xx").as("sxx"))
          .select(col("lang"), col("n").cast("long").as("n_vocab"),
            // single-token vocabulary (rank 1 only => x = 0 everywhere)
            // makes the OLS denominator 0/0 — NaN vs NULL differs across
            // engines, so emit NULL explicitly on both sides (ADVICE r12)
            when(col("n") < 2, lit(null).cast("double"))
              .otherwise(
                // sxy/sxx are singly nano-scaled while sx·sy / sx·sx are
                // doubly scaled — the ×1e9 restores a common 1e18 scale;
                // without it the cross terms dominate and the "slope"
                // degenerates to sum(y)/sum(x) (r13 self-review fix,
                // mirrored in the oracle)
                round((col("n").cast("double") * col("sxy") * 1.0e9 - col("sx").cast("double") * col("sy"))
                  / (col("n").cast("double") * col("sxx") * 1.0e9 - col("sx").cast("double") * col("sx")), 6))
              .as("slope"))
          .orderBy("lang")
      }
    })


  // Heaps'-law vocabulary GROWTH curve (the tokenizer-design diagnostic
  // pairing tx18's Zipf frequency slope): rank docs by doc_id with a
  // distributed prefix sum (never a global window over the corpus),
  // split the corpus into 10 prefix deciles, and report cumulative
  // token count vs cumulative vocabulary at each decile boundary —
  // vocabulary at decile c counts tokens whose FIRST document lands
  // at-or-before c (one min-aggregation per token, map-side
  // combinable), so no decile re-scans the corpus. The Heaps exponent
  // is tx18's integer-nano OLS over the 10 (ln N, ln V) points,
  // attached to the curve rows by a 1-row broadcast (plan-audit
  // pinned). Everything past the token explode runs on doc-level or
  // 10-row tables. The oracle keeps the single-window SQL; the
  // distributed rewrite is the point (the dp16 stance).
  private val tx21 = Q("tx21_heaps_growth", Some("""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    ds AS (SELECT doc_id, len(toks) AS n_toks FROM docs),
    meta AS (SELECT count(*) AS nd FROM ds),
    rk AS (SELECT doc_id, n_toks,
        row_number() OVER (ORDER BY doc_id) AS rnk,
        sum(n_toks) OVER (ORDER BY doc_id) AS cum
      FROM ds),
    dd AS (SELECT doc_id, cum,
        ((rnk - 1) * 10) // (SELECT nd FROM meta) + 1 AS dec FROM rk),
    nc AS (SELECT dec, max(cum) AS n_tokens FROM dd GROUP BY dec),
    tok AS (SELECT doc_id, unnest(toks) AS t FROM docs),
    tf AS (SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t),
    nv AS (SELECT d.dec, count(*) AS new_vocab
           FROM tf JOIN dd d ON d.doc_id = tf.first_doc GROUP BY d.dec),
    curve AS (
      SELECT nc.dec, cast(nc.n_tokens as bigint) AS n_tokens,
        cast(sum(coalesce(nv.new_vocab, 0)) OVER (ORDER BY nc.dec)
          as bigint) AS vocab
      FROM nc LEFT JOIN nv ON nv.dec = nc.dec),
    pts AS (SELECT dec, n_tokens, vocab,
        cast(round(ln(cast(n_tokens as double)) * 1000000000.0) as bigint) AS x,
        cast(round(ln(cast(vocab as double)) * 1000000000.0) as bigint) AS y,
        cast(round(ln(cast(n_tokens as double)) * ln(cast(vocab as double)) * 1000000000.0) as bigint) AS xy,
        cast(round(ln(cast(n_tokens as double)) * ln(cast(n_tokens as double)) * 1000000000.0) as bigint) AS xx
      FROM curve),
    sl AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(xy) AS sxy, sum(xx) AS sxx FROM pts)
    SELECT cast(p.dec as int) AS decile, p.n_tokens, p.vocab,
      round((cast(sl.n as double) * sl.sxy * 1000000000.0 - cast(sl.sx as double) * sl.sy)
          / (cast(sl.n as double) * sl.sxx * 1000000000.0 - cast(sl.sx as double) * sl.sx), 6)
        AS heaps_slope
    FROM pts p, sl ORDER BY p.dec"""),
    (s, d) => {
      val docs = T(s, d, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), DedupOps.tokens(col("text")).as("_t"))
      val ds = docs
        .select(col("doc_id"), size(col("_t")).cast("long").as("n_toks"))
      // ONE driver job serves the decile divisor AND both prefix sums'
      // bucket width (the Auto variants would each re-run a min/max
      // bounds pass over the same doc_id order — three scans for one)
      val stats = ds.agg(count(lit(1)).as("n"), min("doc_id").as("lo"),
        max("doc_id").as("hi")).head()
      val nd = math.max(stats.getLong(0), 1L) // guards the div; 0 docs => 0 rows
      val width = if (stats.isNullAt(1)) 1L
        else PrefixSumOps.bucketWidthFor(stats.getLong(2) - stats.getLong(1) + 1)
      val ranked = PrefixSumOps.exclusiveRunningSum(
          PrefixSumOps.exclusiveRunningSum(
            ds.withColumn("_one", lit(1L)), Seq(), "doc_id", "_one", "_xr",
            width),
          Seq(), "doc_id", "n_toks", "_xt", width)
        .withColumn("cum", col("_xt") + col("n_toks"))
        .withColumn("dec", expr(s"(_xr * 10) div $nd + 1"))
      val nc = ranked.groupBy("dec").agg(max("cum").as("n_tokens"))
      val tf = docs.select(col("doc_id"), explode(col("_t")).as("t"))
        .groupBy("t").agg(min("doc_id").as("first_doc"))
      val nv = tf.join(ranked.select(col("doc_id").as("first_doc"),
          col("dec")), Seq("first_doc"))
        .groupBy("dec").agg(count(lit(1)).as("new_vocab"))
      val wc = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = nc.join(nv, Seq("dec"), "left")
        .na.fill(0L, Seq("new_vocab"))
        .select(col("dec"), col("n_tokens").cast("long").as("n_tokens"),
          sum("new_vocab").over(wc).cast("long").as("vocab"))
        .select(col("dec"), col("n_tokens"), col("vocab"),
          expr("cast(round(ln(cast(n_tokens as double)) * 1000000000.0) as bigint)").as("x"),
          expr("cast(round(ln(cast(vocab as double)) * 1000000000.0) as bigint)").as("y"),
          expr("cast(round(ln(cast(n_tokens as double)) * ln(cast(vocab as double)) * 1000000000.0) as bigint)").as("xy"),
          expr("cast(round(ln(cast(n_tokens as double)) * ln(cast(n_tokens as double)) * 1000000000.0) as bigint)").as("xx"))
      val sl = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum("xy").as("sxy"), sum("xx").as("sxx"))
      pts.crossJoin(broadcast(sl))
        .select(col("dec").cast("int").as("decile"), col("n_tokens"),
          col("vocab"),
          // ×1e9 restores the common 1e18 scale between the singly
          // nano-scaled sxy/sxx and the doubly scaled sx·sy / sx·sx
          // (the tx18 r13 self-review fix, mirrored in the oracle)
          round((col("n").cast("double") * col("sxy") * 1.0e9
              - col("sx").cast("double") * col("sy"))
            / (col("n").cast("double") * col("sxx") * 1.0e9
              - col("sx").cast("double") * col("sx")), 6).as("heaps_slope"))
        .orderBy("decile")
    })


  // BM25 ranked retrieval (the IR serving complement of tx06's TF-IDF
  // term weighting): a bounded query set — each query is the first ≤6
  // distinct tokens of a doc_id<20 document — retrieves its top-5
  // corpus documents under Okapi BM25 (k1=1.2, b=0.75). The classic
  // distributed-retrieval shape: corpus-sized postings (tf per
  // doc×term, df per term) are ONE explode + two map-side-combinable
  // hash aggs; the query-term table (≤120 rows) broadcasts onto the
  // postings equi-join, so the only rows scored are postings of the
  // queries' terms — candidate-bounded by query-term document
  // frequency, never corpus × queries. Per-term contributions are
  // rounded to integer nanos BEFORE the per-(query,doc) sum (tx18's
  // convention: integer summation is order-independent, so both
  // engines agree exactly); avgdl derives from integer sums, not
  // avg(), for the same reason. Top-5 window runs over candidates
  // only, partitioned by query.
  private val tx22 = Q("tx22_bm25_retrieval", Some("""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM docs),
    stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
    toks AS (SELECT doc_id, unnest(t) AS term FROM docs),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    qt AS (SELECT DISTINCT doc_id AS query_id, unnest(t[1:6]) AS term
           FROM docs WHERE doc_id < 20),
    contrib AS (
      SELECT qt.query_id, tf.doc_id,
        cast(round(
          ln((cast(s.n as double) - df.df + 0.5) / (df.df + 0.5) + 1.0)
          * (cast(tf.tf as double) * 2.2)
          / (cast(tf.tf as double)
             + 1.2 * (0.25 + 0.75 * cast(dl.dl as double)
                             / (cast(s.sdl as double) / cast(s.n as double))))
          * 1000000000.0) as bigint) AS c
      FROM qt JOIN tf USING (term) JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      WHERE tf.doc_id <> qt.query_id),
    scored AS (
      SELECT query_id, doc_id, cast(sum(c) as bigint) AS score_nano
      FROM contrib GROUP BY 1, 2)
    SELECT query_id, rank, doc_id, score_nano FROM (
      SELECT query_id, doc_id, score_nano,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY score_nano DESC, doc_id) AS rank
      FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank"""),
    (s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), DedupOps.tokens(col("text")).as("_t"))
      // dl from the shared exploded kernel: row count per doc == token
      // array size (an empty doc contributes its one "" token)
      val toks = SharedArtifacts.docTokens(s, d)
        .select(col("doc_id"), col("tok").as("term"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).cast("long").as("dl"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
      val qt = docs.where(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"),
          explode(slice(col("_t"), 1, 6)).as("term"))
        .distinct()
      val contrib = tf.join(dfreq, "term").join(dl, "doc_id")
        .join(broadcast(qt), "term")
        .where(col("doc_id") =!= col("query_id"))
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          expr("""cast(round(
            ln((cast(n as double) - df + 0.5) / (df + 0.5) + 1.0)
            * (cast(tf as double) * 2.2)
            / (cast(tf as double)
               + 1.2 * (0.25 + 0.75 * cast(dl as double)
                               / (cast(sdl as double) / cast(n as double))))
            * 1000000000.0) as bigint)""").as("c"))
      val scored = contrib.groupBy("query_id", "doc_id")
        .agg(sum("c").as("score_nano"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score_nano").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "score_nano")
        .orderBy("query_id", "rank")
    })


  // Distributed BPE vocabulary training, 3 merge rounds (BpeOps —
  // VERDICT r12 #5): count adjacent symbol pairs corpus-wide (weighted
  // by word frequency), emit the argmax merge, apply it, repeat — the
  // inner loop of subword-tokenizer training. The structural 100 TB
  // fact: after ONE corpus pass builds the distinct-word frequency
  // table, every round runs on the VOCABULARY, never the corpus — pair
  // counting is a map-side-combinable hash agg on the (l, r) key, the
  // argmax a limit-1 TakeOrdered, the merge a broadcast join + pure
  // higher-order fold (textbook leftmost-greedy: "aaa" under (a,a) →
  // [aa, a]). Ties break (cnt desc, l, r) — binary string order on both
  // engines.
  private val tx19 = Q("tx19_bpe_merges", Some(s"""
    $bpeTwoRoundCtes,
    ${bpeRoundCtes(3, withMerge = false)}
    SELECT 1 AS round, l AS left_sym, r AS right_sym,
      cast(cnt as bigint) AS pair_count FROM m1
    UNION ALL SELECT 2, l, r, cast(cnt as bigint) FROM m2
    UNION ALL SELECT 3, l, r, cast(cnt as bigint) FROM m3
    ORDER BY round"""),
    (s, d) => graft.operators.BpeOps.bpeMerges(T(s, d, "documents"), "text",
        rounds = 3)
      .orderBy("round"))


  // BPE ENCODE pass (the train→apply cycle tx19's merge table exists
  // for): per document, the whitespace token count, the BPE token count
  // after 3 learned merges, and the character volume — the compression
  // curve tokenizer design optimizes. The corpus text is touched
  // exactly once more: merges apply on the VOCABULARY (each distinct
  // word's symbol count after the fold), and one exploded-token
  // equi-join distributes the counts back to documents. Docs with no
  // non-empty tokens are absent (inner join, mirrored).
  private val tx20 = Q("tx20_bpe_encode", Some(s"""
    $bpeTwoRoundCtes,
    ${bpeRoundCtes(3, withMerge = true)},
    vb AS (SELECT w, len(string_split(seq, chr(31))) AS n_bpe FROM s3),
    tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents WHERE length(trim(text)) > 0),
    tt AS (SELECT doc_id, w FROM tok WHERE length(w) > 0)
    SELECT t.doc_id, cast(count(*) as bigint) AS n_ws_tokens,
      cast(sum(vb.n_bpe) as bigint) AS n_bpe_tokens,
      cast(sum(length(t.w)) as bigint) AS n_chars
    FROM tt t JOIN vb USING (w)
    GROUP BY t.doc_id ORDER BY t.doc_id"""),
    (s, d) => graft.operators.BpeOps.encodedTokenCounts(
        T(s, d, "documents"), "doc_id", "text", rounds = 3)
      .orderBy("doc_id"))


  // Unigram-LM (SentencePiece-style) tokenizer training
  // (UnigramOps.unigramFit — Kudo 2018; VERDICT r14 next-round #2, the
  // EM-pruning complement of tx19's merge-based BPE): seed the
  // vocabulary with every frequent ≤4-char substring of the distinct
  // word table, then 2 EM rounds of per-word VITERBI segmentation under
  // integer nano-log-probs (exact BIGINT path sums — ties pick the
  // longest piece), frequency-weighted count re-estimation,
  // 0.2-quantile pruning (single chars exempt: segmentability), and
  // Laplace-smoothed re-scoring. The 100 TB shape is BpeOps' fact: ONE
  // corpus pass to the word-frequency table, every EM round on the
  // VOCABULARY — the DP is a per-row integer fold over each word's ≤
  // 4·|w| candidate pieces, no join fan-out, no corpus window. The
  // oracle replays seed + both rounds CTE-by-CTE with the DP UNROLLED
  // into join/agg steps (see unigramRoundCtes: DuckDB's list_reduce
  // lambdas were non-deterministic under threads); words are capped at
  // maxWordLen = 16 on both engines — the SentencePiece-style length
  // cap that also bounds the oracle's unroll depth.
  private val tx26 = Q("tx26_unigram_lm", Some(s"""
    $unigramVocabCtes
    SELECT piece, cnt, lp AS lp_nano FROM p2 ORDER BY piece"""),
    (s, d) => graft.operators.UnigramOps.unigramFit(
        T(s, d, "documents"), "text", maxLen = 4, minCount = 2, rounds = 2,
        maxWordLen = 16,
        tokenTable = Some(SharedArtifacts.docTokens(s, d)))
      .orderBy("piece"))


  // Unigram-LM ENCODE (UnigramOps.encodeStats — tx20's serving analog
  // for the EM-trained vocabulary, completing the train/serve pair the
  // BPE family already has): Viterbi-segment each DISTINCT word ONCE
  // under tx26's trained piece log-probs — served via
  // SharedArtifacts.unigramVocab16, the DiskArtifacts-persisted trained
  // artifact; tx26 stays builder-fresh — then map the corpus by one
  // equi-join on the word and aggregate per document. The 100 TB shape:
  // the DP runs on the VOCABULARY-scale distinct-word table, the corpus
  // pays its token explode (the shared docTokens kernel) + one join
  // against that reduced table. Output: per-doc word/char/piece counts
  // and the integer pieces-per-kilochar compression proxy. The oracle
  // replays training (seed + 2 EM rounds) and then ONE more unrolled
  // Viterbi pass under the final vocabulary — ch3_i backtrack rows ARE
  // the chosen pieces, so n_pieces(w) is a COUNT over their union.
  private val tx27 = Q("tx27_unigram_encode", Some(s"""
    ${unigramPieceCtes("doc_id")}
    SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      CAST(sum(length(dt.w)) AS BIGINT) AS n_chars,
      CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces,
      CAST(CAST(sum(np.n_pieces) AS BIGINT) * 1000
        // CAST(sum(length(dt.w)) AS BIGINT) AS BIGINT) AS pieces_per_kchar
    FROM dt JOIN np USING (w)
    GROUP BY dt.doc_id ORDER BY dt.doc_id"""),
    (s, d) => graft.operators.UnigramOps.encodeStats(
        T(s, d, "documents"), "text", "doc_id",
        vocab = SharedArtifacts.unigramVocab16(s, d),
        maxLen = 4, maxWordLen = 16,
        tokenTable = Some(SharedArtifacts.docTokens(s, d)))
      .orderBy("doc_id"))


  // Stupid Backoff LM scoring (TextOps.stupidBackoff — Brants et al.
  // 2007, the n-gram smoothing DESIGNED for the distributed
  // trillion-token regime: every score a pure count ratio, training =
  // hash aggs, scoring = equi-joins, no discount normalization). Model
  // trained on HISTORY docs (doc_id < 400, the dd08/tx15 split); the
  // BATCH is scored, so the backoff arm genuinely fires on unseen
  // bigrams: S = c12/c1 if seen else 0.4·(c(w2)+1)/(N+V) (add-one on
  // the backoff arm so OOV stays finite — documented deviation).
  // Per-term nano-rounding before the per-doc sum; output all-integer
  // (no division by design; tx33 later verified Spark `div` and DuckDB
  // integer `//` both truncate, so negative sums would in fact divide
  // identically).
  private val tx28 = Q("tx28_stupid_backoff", Some("""
    WITH t AS (
      SELECT doc_id, doc_id >= 400 AS b,
        regexp_split_to_array(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    occ AS (
      SELECT doc_id, s.h2 AS h2, s.h1 AS h1, s.hu AS hu, count(*) AS cnt
      FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(tk) - 1),
            i -> struct_pack(h2 := substr(md5(tk[i] || ' ' || tk[i+1]), 1, 16),
                             h1 := substr(md5(tk[i]), 1, 16),
                             hu := substr(md5(tk[i+1]), 1, 16)))) AS s
        FROM t WHERE b AND len(tk) >= 2)
      GROUP BY 1, 2, 3, 4),
    hb AS (
      SELECT s.h2 AS h2, s.h1 AS h1 FROM (
        SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> struct_pack(h2 := substr(md5(tk[i] || ' ' || tk[i+1]), 1, 16),
                           h1 := substr(md5(tk[i]), 1, 16)))) AS s
        FROM t WHERE NOT b AND len(tk) >= 2)),
    c12 AS (SELECT h2, count(*) AS c12 FROM hb GROUP BY 1),
    c1 AS (SELECT h1, count(*) AS c1 FROM hb GROUP BY 1),
    hu_t AS (SELECT substr(md5(u), 1, 16) AS hu FROM (
        SELECT unnest(tk) AS u FROM t WHERE NOT b)),
    cu AS (SELECT hu, count(*) AS cu FROM hu_t GROUP BY 1),
    nv AS (SELECT count(*) AS n, count(DISTINCT hu) AS v FROM hu_t),
    terms AS (
      SELECT occ.doc_id, occ.cnt, c12.c12,
        CAST(round(1000000000.0 * (CASE
          WHEN c12.c12 IS NOT NULL THEN ln(c12.c12) - ln(c1.c1)
          ELSE ln(0.4) + ln(coalesce(cu.cu, 0) + 1.0) - ln(nv.n + nv.v)
        END)) AS BIGINT) AS t_nano
      FROM occ LEFT JOIN c12 USING (h2) LEFT JOIN c1 USING (h1)
        LEFT JOIN cu USING (hu) CROSS JOIN nv)
    SELECT doc_id,
      CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      CAST(sum(CASE WHEN c12 IS NULL THEN cnt ELSE 0 END) AS BIGINT)
        AS n_backoff,
      CAST(sum(cnt * t_nano) AS BIGINT) AS score_sum_nano
    FROM terms GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => TextOps.stupidBackoff(T(s, d, "documents"), "text", "doc_id",
        col("doc_id") >= 400)
      .orderBy("doc_id"))


  // TextRank keyword extraction (Mihalcea & Tarau 2004 — PageRank over
  // the word CO-OCCURRENCE graph, the classic unsupervised keyword
  // ranker): nodes are qualifying words (length ≥ 4 — the stand-in for
  // the paper's POS filter), edges connect words co-occurring within a
  // window of 2 in any document (undirected, weight = co-occurrence
  // count, self-pairs dropped), and 3 synchronous weighted-PageRank
  // rounds run q68's PURE-INTEGER discipline (init = 1e12 div |nodes|;
  // contribution = (pr·w) div wdeg; 15/85 damping in integer div) — no
  // float ever, so both engines agree bit-for-bit. 100 TB shape: ONE
  // corpus pass builds the pair table (two HOF window explodes, no
  // self-join), every round runs on the VOCABULARY-scale graph. Top 50
  // by (pr DESC, word) — a total order.
  private val tx29 = Q("tx29_textrank", Some(s"""
    WITH t AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    rawp AS (
      SELECT p.a AS a, p.b AS b FROM (
        SELECT unnest(list_concat(
          list_transform(generate_series(1, len(tk) - 1),
            i -> {'a': tk[i], 'b': tk[i+1]}),
          list_transform(generate_series(1, len(tk) - 2),
            i -> {'a': tk[i], 'b': tk[i+2]}))) AS p
        FROM t)),
    pairs AS (
      SELECT least(a, b) AS u, greatest(a, b) AS v, count(*) AS w
      FROM rawp
      WHERE length(a) >= 4 AND length(b) >= 4 AND a <> b
      GROUP BY 1, 2),
    tedges0 AS (
      SELECT u, v, w FROM pairs
      UNION ALL SELECT v AS u, u AS v, w FROM pairs),
    twdeg AS (SELECT u, sum(w) AS wdeg FROM tedges0 GROUP BY u),
    tedges AS (SELECT e.u, e.v, e.w, d.wdeg
               FROM tedges0 e JOIN twdeg d USING (u)),
    tnodes AS (SELECT u AS node FROM twdeg),
    tmeta AS (SELECT 1000000000000 // greatest(1, count(*)) AS init FROM tnodes),
    tr0 AS (SELECT node, (SELECT init FROM tmeta) AS pr FROM tnodes),
    tr1 AS (${textrankIterSql("tr0")}),
    tr2 AS (${textrankIterSql("tr1")}),
    tr3 AS (${textrankIterSql("tr2")})
    SELECT node AS word, CAST(pr AS BIGINT) AS pr
    FROM tr3 ORDER BY pr DESC, word LIMIT 50"""),
    (s, d) => TextOps.textrankKeywords(T(s, d, "documents"), "text",
      minLen = 4, rounds = 3, topK = 50))


  // ---------------------------------------------------------------------

  // PMI-ranked bigram collocations (Church & Hanks 1990 — THE classic
  // association measure for multiword-expression mining in a corpus
  // pipeline): pmi = ln((c12/N_bi)/((c1/N_uni)(c2/N_uni))) evaluated as
  // a fixed-order sum of six ln terms over exact integer counts (never
  // an integer product — c12·N_uni² overflows a long and loses double
  // precision past 2^53 at corpus scale), nano-rounded so both engines
  // rank identically. The minCount=5 floor lands BEFORE the unigram
  // joins (the rare tail — most of the bigram space — never joins), and
  // the global top-20 is a LIMIT over the floored table.
  private val tx30 = Q("tx30_pmi_collocations", Some("""
    WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
               FROM documents WHERE length(trim(text)) > 0),
    uni AS (SELECT u AS w, count(*) AS cu
            FROM (SELECT unnest(tk) AS u FROM t) GROUP BY 1),
    nu AS (SELECT cast(sum(cu) as bigint) AS nu FROM uni),
    bi AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM (
        SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
        FROM t WHERE len(tk) >= 2) GROUP BY 1, 2),
    nb AS (SELECT cast(sum(c12) as bigint) AS nb FROM bi),
    sc AS (SELECT f.w1, f.w2, f.c12,
        cast(round((ln(f.c12) - ln(nb.nb) - ln(u1.cu) - ln(u2.cu)
          + 2 * ln(nu.nu)) * 1000000000.0) as bigint) AS pmi_nano
      FROM bi f JOIN uni u1 ON u1.w = f.w1 JOIN uni u2 ON u2.w = f.w2
      CROSS JOIN nb CROSS JOIN nu
      WHERE f.c12 >= 5)
    SELECT w1, w2, cast(c12 as bigint) AS n_pair, pmi_nano,
      row_number() OVER (ORDER BY pmi_nano DESC, w1, w2) AS rank
    FROM sc ORDER BY pmi_nano DESC, w1, w2 LIMIT 20"""),
    (s, d) => TextOps.pmiCollocations(T(s, d, "documents"), "text",
        minCount = 5L, topK = 20)
      .orderBy("rank"))


  // Sliding-window context chunking (the GPT-style fixed-window
  // pretraining / RAG serving op): 64-token windows every 48 tokens,
  // the last clipped to the doc end — 1 + max(0, ceil((n-64)/48))
  // chunks per doc by pure integer arithmetic. Row-local: one explode
  // over a per-doc sequence + slice on the already-split array, no
  // join or shuffle at any corpus size; chunk text leaves as an md5
  // hash (full-content parity at 32 bytes/row instead of re-emitting
  // chunk/stride × the corpus bytes).
  private val tx31 = Q("tx31_context_chunks", Some("""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
               FROM documents WHERE length(trim(text)) > 0),
    c AS (SELECT doc_id, tk, len(tk) AS n,
            unnest(generate_series(0, greatest(0, (len(tk) - 17) // 48)))
              AS chunk_id
          FROM t)
    SELECT doc_id, cast(chunk_id as bigint) AS chunk_id,
      cast(chunk_id * 48 + 1 as bigint) AS start_tok,
      cast(least(64, n - chunk_id * 48) as bigint) AS n_toks,
      md5(array_to_string(list_slice(tk, chunk_id * 48 + 1,
        chunk_id * 48 + least(64, n - chunk_id * 48)), ' ')) AS chunk_hash
    FROM c ORDER BY doc_id, chunk_id"""),
    (s, d) => TextOps.contextChunks(T(s, d, "documents"), "text", "doc_id",
        chunk = 64, stride = 48)
      .orderBy("doc_id", "chunk_id"))


  // Feature-hashing featurizer (Weinberger et al. 2009 — the
  // fixed-width bag-of-words vector a quality classifier trains on with
  // NO corpus-sized vocabulary): token → md5-prefix mod 16 (dp19's
  // portable hash), per-(doc, bucket) counts zero-filled to a dense
  // 16-dim row set per document. Output size is docs × dims regardless
  // of vocabulary — the point of the hashing trick; the zero-fill spine
  // is a row-local sequence explode, never a cross join.
  private val tx32 = Q("tx32_feature_hash", Some("""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
               FROM documents WHERE length(trim(text)) > 0),
    tok AS (SELECT doc_id,
        ('0x' || substr(md5(u), 1, 8))::BIGINT % 16 AS b
      FROM (SELECT doc_id, unnest(tk) AS u FROM t)),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM tok GROUP BY 1, 2),
    spine AS (SELECT doc_id, unnest(generate_series(0, 15)) AS dim FROM t)
    SELECT s.doc_id, cast(s.dim as bigint) AS dim,
      cast(coalesce(c.c, 0) as bigint) AS val
    FROM spine s LEFT JOIN cnt c ON c.doc_id = s.doc_id AND c.b = s.dim
    ORDER BY s.doc_id, s.dim"""),
    (s, d) => TextOps.featureHash(T(s, d, "documents"), "text", "doc_id",
        dims = 16)
      .orderBy("doc_id", "dim"))


  // Distributed logistic-regression training on hashed bag-of-words
  // features (TextOps.hashLogReg — the fastText-style in-engine
  // quality/language classifier): 3 full-batch GD rounds on tx32's
  // 16-dim hashed features + bias, label = (lang = 'en'), weights in
  // exact micro-unit longs, the sigmoid the one mirrored float step.
  // The oracle replays feature hashing, every logit, every
  // micro-rounded gradient term, and every floor-divided update
  // CTE-by-CTE.
  private val tx33 = Q("tx33_hash_logreg", Some(s"""
    WITH t AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (SELECT doc_id, ('0x' || substr(md5(u), 1, 8))::BIGINT % 16 AS b
      FROM (SELECT doc_id, unnest(tk) AS u FROM t)),
    feats AS (
      SELECT doc_id, b AS dim, cast(count(*) as bigint) AS val
      FROM tok GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, cast(-1 as bigint) AS dim, cast(1 as bigint) AS val
      FROM t),
    lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM t),
    nd AS (SELECT 10 * count(*) AS d FROM lab),
    w0 AS (SELECT cast(unnest(generate_series(-1, 15)) as bigint) AS dim,
           cast(0 as bigint) AS w),
    ${lrRoundCtes(1)},
    ${lrRoundCtes(2)},
    ${lrRoundCtes(3)}
    SELECT dim, w AS w_micro FROM w3 ORDER BY dim"""),
    (s, d) => TextOps.hashLogReg(T(s, d, "documents"), "text", "doc_id",
        col("lang") === "en", dims = 16, rounds = 3)
      .orderBy("dim"))


  // Measured classifier grading (VERDICT r15 next-round #3 — the
  // measure-everything discipline applied to the engine's one trained
  // MODEL: ann07 grades the quantizers, dd17/dd27/dd28 the dedup arms,
  // this grades the tx33 quality gate): train TextOps.hashLogReg on the
  // dp02 deterministic split's train fraction (salted-md5 frac < 0.8 —
  // membership a pure function of doc_id, no RNG), score the held-out
  // 20% with TextOps.logRegScore (integer decision boundary z_micro >
  // 0), and emit the confusion matrix + precision/recall/F1/accuracy
  // vs the lang='en' label truth. A curation user reads this row
  // before trusting the gate. The oracle replays the split, feature
  // hashing, all 3 GD rounds (lrRoundCtes — tx33's machinery verbatim,
  // trained on the train split only), and the integer-threshold
  // scoring; metrics are round(·, 6) doubles of exact BIGINT counts
  // with greatest(1, ·) zero-denominator guards mirrored on both
  // engines.
  private val tx36 = Q("tx36_classifier_eval", Some(s"""
    WITH t AS (SELECT doc_id, lang,
        regexp_split_to_array(trim(text), '\\s+') AS tk,
        ('0x' || substr(md5('split:' || cast(doc_id as varchar)), 1, 15))::BIGINT
          / 1152921504606846976.0 AS frac
      FROM documents WHERE length(trim(text)) > 0),
    tr AS (SELECT doc_id, lang, tk FROM t WHERE frac < 0.8),
    te AS (SELECT doc_id, lang, tk FROM t WHERE frac >= 0.8),
    tok AS (SELECT doc_id, ('0x' || substr(md5(u), 1, 8))::BIGINT % 16 AS b
      FROM (SELECT doc_id, unnest(tk) AS u FROM tr)),
    feats AS (
      SELECT doc_id, b AS dim, cast(count(*) as bigint) AS val
      FROM tok GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, cast(-1 as bigint) AS dim, cast(1 as bigint) AS val
      FROM tr),
    lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM tr),
    nd AS (SELECT 10 * count(*) AS d FROM lab),
    w0 AS (SELECT cast(unnest(generate_series(-1, 15)) as bigint) AS dim,
           cast(0 as bigint) AS w),
    ${lrRoundCtes(1)},
    ${lrRoundCtes(2)},
    ${lrRoundCtes(3)},
    ttok AS (SELECT doc_id, ('0x' || substr(md5(u), 1, 8))::BIGINT % 16 AS b
      FROM (SELECT doc_id, unnest(tk) AS u FROM te)),
    tfeats AS (
      SELECT doc_id, b AS dim, cast(count(*) as bigint) AS val
      FROM ttok GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, cast(-1 as bigint) AS dim, cast(1 as bigint) AS val
      FROM te),
    tz AS (SELECT f.doc_id, cast(sum(w.w * f.val) as bigint) AS z
           FROM tfeats f JOIN w3 w USING (dim) GROUP BY 1),
    ty AS (SELECT te.doc_id,
        CASE WHEN te.lang = 'en' THEN 1 ELSE 0 END AS y,
        CASE WHEN tz.z > 0 THEN 1 ELSE 0 END AS p
      FROM te JOIN tz USING (doc_id)),
    cm AS (SELECT count(*) AS n_test,
        cast(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) as bigint) AS tp,
        cast(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) as bigint) AS fp,
        cast(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) as bigint) AS fn,
        cast(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) as bigint) AS tn
      FROM ty),
    ntr AS (SELECT count(*) AS n_train FROM tr)
    SELECT cast(ntr.n_train as bigint) AS n_train,
      cast(cm.n_test as bigint) AS n_test, tp, fp, fn, tn,
      round(cast(tp as double) / greatest(1, tp + fp), 6) AS prec,
      round(cast(tp as double) / greatest(1, tp + fn), 6) AS rec,
      round(cast(2 * tp as double) / greatest(1, 2 * tp + fp + fn), 6) AS f1,
      round(cast(tp + tn as double) / greatest(1, cm.n_test), 6) AS acc
    FROM ntr CROSS JOIN cm"""),
    (s, d) => {
      val docs = T(s, d, "documents").where(length(trim(col("text"))) > 0)
        .withColumn("_frac",
          conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long").cast("double") / 1.152921504606846976e18)
      val tr = docs.where(col("_frac") < 0.8)
      val te = docs.where(col("_frac") >= 0.8)
      val w = TextOps.hashLogReg(tr, "text", "doc_id", col("lang") === "en",
        dims = 16, rounds = 3)
      val scored = TextOps.logRegScore(te, "text", "doc_id", w, dims = 16)
        .join(te.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("_y")), "doc_id")
      val cm = scored.agg(
        count(lit(1)).as("n_test"),
        sum(when(col("pred") === 1 && col("_y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("_y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("_y") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && col("_y") === 0, 1L).otherwise(0L)).as("tn"))
      tr.agg(count(lit(1)).as("n_train")).crossJoin(cm)
        .select(col("n_train").cast("long").as("n_train"),
          col("n_test").cast("long").as("n_test"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double")
            / greatest(lit(1L), col("tp") + col("fp")), 6).as("prec"),
          round(col("tp").cast("double")
            / greatest(lit(1L), col("tp") + col("fn")), 6).as("rec"),
          round((col("tp") * 2).cast("double")
            / greatest(lit(1L), col("tp") * 2 + col("fp") + col("fn")), 6).as("f1"),
          round((col("tp") + col("tn")).cast("double")
            / greatest(lit(1L), col("n_test")), 6).as("acc"))
    })


  // Tokenizer decode + round-trip identity with byte-fallback
  // (UnigramOps.encodeRoundTrip — VERDICT r15 next-round #4, the
  // serving property tx26/tx27 train and encode toward but nothing
  // proved: decode(encode(w)) == w for every distinct corpus word,
  // INCLUDING characters the vocabulary cannot cover). OOV is induced
  // deterministically: every trained piece containing 'w' or 'j' is
  // dropped (a domain-restricted vocab missing two letters), so words
  // like 'window'/'join'/'row' are uncoverable at those positions and
  // the SentencePiece-style byte fallback genuinely fires — those chars
  // enter the DP as synthetic per-byte-priced pieces, render as
  // <0xHH> byte pieces (counted per byte), and decode back through
  // unhex → UTF-8. The oracle replays training (tx26's seed + 2 EM
  // rounds), the vocab filter, the fallback table, and one more
  // unrolled Viterbi pass under the augmented vocabulary — and states
  // `word AS roundtrip` DIRECTLY, so hash equality IS the identity
  // proof (the q105 trick). Multi-byte fallback (emoji/CJK/control
  // chars) is pinned by UnigramSpec on a synthetic vocab.
  private val tx37 = Q("tx37_unigram_roundtrip", Some(s"""
    $unigramVocabCtes,
    kv AS MATERIALIZED (SELECT piece, lp FROM p2
      WHERE piece NOT LIKE '%w%' AND piece NOT LIKE '%j%'),
    fb AS MATERIALIZED (
      SELECT piece,
        CAST(octet_length(encode(piece)) AS BIGINT) * -25000000000 AS lp
      FROM (SELECT DISTINCT substr(w, gx, 1) AS piece FROM (
          SELECT w, unnest(generate_series(1, length(w))) AS gx FROM w) t)
      WHERE piece NOT IN (SELECT piece FROM kv WHERE length(piece) = 1)),
    pv AS MATERIALIZED (
      SELECT piece, lp FROM kv UNION ALL SELECT piece, lp FROM fb),
    ${viterbiCtes(3, "pv")},
    ch AS (SELECT w, substr(w, CAST(s AS INT), CAST(p - s + 1 AS INT)) AS piece
      FROM (${(1 to 16).map(i => s"SELECT w, p, s FROM ch3_$i").mkString(" UNION ALL ")}) u),
    fl AS (SELECT ch.w, ch.piece, fb.piece IS NOT NULL AS is_fb,
        CAST(octet_length(encode(ch.piece)) AS BIGINT) AS nb
      FROM ch LEFT JOIN fb ON fb.piece = ch.piece)
    SELECT w AS word,
      CAST(sum(CASE WHEN is_fb THEN nb ELSE 1 END) AS BIGINT) AS n_pieces,
      CAST(sum(CASE WHEN is_fb THEN nb ELSE 0 END) AS BIGINT) AS n_fallback_bytes,
      w AS roundtrip
    FROM fl GROUP BY w ORDER BY w"""),
    (s, d) => graft.operators.UnigramOps.encodeRoundTrip(
        T(s, d, "documents"), "text",
        vocab = SharedArtifacts.unigramVocab16(s, d),
        maxLen = 4, maxWordLen = 16,
        dropPiecePred = col("piece").contains("w") || col("piece").contains("j"),
        tokenTable = Some(SharedArtifacts.docTokens(s, d)))
      .orderBy("word"))


  // BPE round-trip through the SYMBOL-ID vocabulary
  // (BpeOps.encodeRoundTrip — tx37's serving identity for the
  // merge-based tokenizer, completing VERDICT r15 #4's "decode for BPE
  // and unigram"): every distinct word encodes to integer symbol ids
  // (id = binary-string rank of the post-merge symbol — the tx19
  // tie-break order), the symbol strings are DISCARDED, and decode
  // reconstructs the word from ids alone via the vocab join. The
  // oracle replays tx19's 3 merge rounds, the rank-ordered vocab, and
  // the id encoding — id_sum pins the exact id assignment (a permuted
  // vocab cannot hash-match) — and states `word AS roundtrip` directly:
  // hash equality IS the identity proof. Char-seeded BPE needs no byte
  // fallback for in-corpus words (every char is a seed symbol); the
  // vocab is bounded by |alphabet| + rounds, so its rank window is
  // alphabet-scale, never corpus-scale.
  private val tx38 = Q("tx38_bpe_roundtrip", Some(s"""
    $bpeTwoRoundCtes,
    ${bpeRoundCtes(3, withMerge = true)},
    sy AS (SELECT w, unnest(generate_series(1, len(syms))) AS i, syms
           FROM (SELECT w, string_split(seq, chr(31)) AS syms FROM s3) t),
    sy2 AS (SELECT w, i, syms[i] AS sym FROM sy),
    vocab AS (SELECT sym,
        CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS sym_id
      FROM (SELECT DISTINCT sym FROM sy2)),
    e AS (SELECT sy2.w, v.sym_id FROM sy2 JOIN vocab v USING (sym))
    SELECT w AS word, CAST(count(*) AS BIGINT) AS n_symbols,
      CAST(sum(sym_id) AS BIGINT) AS id_sum, w AS roundtrip
    FROM e GROUP BY w ORDER BY w"""),
    (s, d) => graft.operators.BpeOps.encodeRoundTrip(
        T(s, d, "documents"), "text", rounds = 3)
      .orderBy("word"))


  // RAKE keyphrase extraction (Rose et al. 2010 — the stopword-run
  // complement to tx29's TextRank): phrases are maximal non-stopword
  // runs (pos − row_number gaps-and-islands inside a per-doc window),
  // word score = deg/freq in exact micro-units via two-step Euclidean
  // division (never forming the deg·10⁶ product — TextOps.rakeKeyphrases
  // scaladoc has the overflow bound), phrase score = Σ word scores.
  // The oracle replays tokenization, the island trick, both word stats,
  // the two-step division, and the phrase aggregation CTE-by-CTE.
  private val tx34 = Q("tx34_rake_keyphrases", Some("""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
               FROM documents WHERE length(trim(text)) > 0),
    toki AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
             FROM t),
    tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS w FROM toki),
    ns AS (SELECT doc_id, pos, w,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tok
      WHERE lower(w) NOT IN ('a','an','the','and','or','of','in','to','is')),
    phr AS (SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
        count(*) AS plen
      FROM ns GROUP BY 1, 2),
    wfreq AS (SELECT w, cast(count(*) as bigint) AS freq FROM ns GROUP BY 1),
    wdeg AS (SELECT n.w, cast(sum(p.plen) as bigint) AS deg
             FROM ns n JOIN phr p USING (doc_id, grp) GROUP BY 1),
    ws AS (SELECT w,
        (deg // freq) * 1000000 + ((deg % freq) * 1000000) // freq AS s
      FROM wfreq JOIN wdeg USING (w)),
    ps AS (SELECT n.doc_id, n.grp, cast(sum(ws.s) as bigint) AS ps
           FROM ns n JOIN ws USING (w) GROUP BY 1, 2),
    agg AS (SELECT p.phrase, cast(max(p.plen) as bigint) AS n_words,
        cast(count(*) as bigint) AS n_occur,
        cast(max(ps.ps) as bigint) AS score_micro
      FROM ps JOIN phr p USING (doc_id, grp)
      GROUP BY p.phrase)
    SELECT phrase, n_words, n_occur, score_micro,
      row_number() OVER (ORDER BY score_micro DESC, phrase) AS rank
    FROM agg ORDER BY score_micro DESC, phrase LIMIT 20"""),
    (s, d) => TextOps.rakeKeyphrases(T(s, d, "documents"), "text", "doc_id",
        topK = 20)
      .orderBy("rank"))


  // Tokenizer fertility report (the number a tokenizer TRAINING run is
  // judged by — pieces per word / per kilochar, per language; high
  // fertility on a language = the vocab underserves it): tx27's encode
  // stats (each DISTINCT word Viterbi-segmented ONCE under the shared
  // trained unigram vocab) rolled up per language. At 100 TB the DP
  // still never sees the corpus — the rollup adds one join to the
  // doc-lang table and one |langs|-row aggregate.
  private val tx35 = Q("tx35_tokenizer_fertility", Some(s"""
    ${unigramPieceCtes("lang")}
    SELECT dt.lang, CAST(count(*) AS BIGINT) AS n_words,
      CAST(sum(length(dt.w)) AS BIGINT) AS n_chars,
      CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces,
      CAST(CAST(sum(np.n_pieces) AS BIGINT) * 1000
        // CAST(count(*) AS BIGINT) AS BIGINT) AS pieces_per_kword,
      CAST(CAST(sum(np.n_pieces) AS BIGINT) * 1000
        // CAST(sum(length(dt.w)) AS BIGINT) AS BIGINT) AS pieces_per_kchar
    FROM dt JOIN np USING (w)
    GROUP BY dt.lang ORDER BY dt.lang"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      val st = unigramEncodeStats(s, d, docs)
      st.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(sum("n_words").cast("long").as("n_words"),
          sum("n_chars").cast("long").as("n_chars"),
          sum("n_pieces").cast("long").as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_pieces"),
          expr("n_pieces * 1000 div n_words").as("pieces_per_kword"),
          expr("n_pieces * 1000 div n_chars").as("pieces_per_kchar"))
        .orderBy("lang")
    })

  private[queries] def textQueries: Seq[Q] = Seq(
    tx01, tx02, tx03, tx04, tx05, tx06, tx07, tx08, tx09, tx10, tx11, tx12, tx13, tx14, tx15, tx16, tx17, tx18, tx19, tx20, tx21, tx22, tx23, tx24, tx25, tx26, tx27, tx28, tx29, tx30, tx31, tx32, tx33, tx34, tx35, tx36, tx37, tx38)
}
