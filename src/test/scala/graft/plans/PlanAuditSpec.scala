package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The zero-cartesian / no-unexpected-BNLJ invariant from
  * `tools.PlanAudit`, promoted to `sbt test` so a plan regression fails
  * the build instead of waiting for a human to run the audit main
  * (VERDICT r3 next-round #3).
  *
  * Streaming catalog entries are excluded: their `fn` runs the stream
  * eagerly and returns a batch read of the sink output, so the audited
  * plan would be a plain parquet scan — all cost, no signal.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val streamingQueries = Set(
    "q23_stream_windows", "q50_stream_dedup", "q51_stream_join",
    "q62_stream_sessions", "q66_stream_upsert", "q72_stream_enrich")

  /** BNLJ is legitimate only where the build side is a broadcast scalar
    * or a deliberate 1-row/query-vector side (audited by hand, see each
    * query's scaladoc): q29 broadcasts one scalar row, ann01/ann03
    * broadcast the query-vector set, tx06 cross-joins a 1-row doc count,
    * tx11/dp07/dp08 cross-join a 1-row corpus aggregate (total / max).
    * (The integer PageRanks — q68, q87, tx29 — collect their 1-row
    * teleport share on the driver once, so they have no such join.)
    */
  private val designedBnlj = Set(
    "q29_scalar_subq", "ann01_bruteforce_topk", "ann03_topk_aggregator",
    "ann04_ivf",    // 16-row seed-centroid cross join (was hidden behind a
                    // localCheckpoint; DISK_ONLY persist keeps it visible)
    "dd13_semantic_dedup", // k-row TRAINED centroid cross join (assignment)
    "dd15_semantic_decontam", // same k-row centroid cross join, both sides
    "ann07_recall", // 1-row (n_queries x hits) cross joins, one per method
    "tx06_tfidf", "tx11_vocab_coverage", "dp07_weighted_sample",
    "dp08_ingest_gate",
    "dp15_temperature_mixture", // 1-row (B, S) budget-total aggregate
    "tx14_bigram_lm",           // 1-row vocabulary-size aggregate
    "dd17_lsh_recall",          // bounded query-set broadcast (ann01 pattern)
    "dp18_epoch_mixture",       // 1-row budget-total aggregate
    "dd18_incremental_semantic", // k-row trained centroid cross join
                                 // (history + batch assignments, dd13's shape)
    "ann11_ivf_adc_topk",       // trained 16-cell centroid cross join
                                // (coarse assignment + query probe ranking)
    "tx16_perplexity_buckets",  // tx14's 1-row vocabulary aggregate (the
                                // LM it scores with)
    "dp19_dsir_select",         // 1-row feature-totals aggregate
    "ann12_sq8_topk",           // 1-row scale-array + query-code set
                                // (ann01's bounded query-side pattern)
    "ann13_ivfpq_residual_topk", // trained 16-cell centroid cross join
                                 // (assignment + probe ranking, ann11's shape)
    "ann14_knn_graph",          // k-row trained centroid cross join
                                // (assignment + the aggregator-reduced
                                // probe ranking — dd13's bounded shape)
    "ann15_filtered_topk",      // k-row centroid cross join (assignment
                                // + bounded query probe ranking)
    "ann22_hard_negatives",     // ann15's shape with the label test
                                // inverted — same bounded centroid
                                // cross join + query broadcast
    "ann23_range_search",       // ann15's probe shape, threshold in
                                // place of the rank window — same
                                // bounded centroid cross join
    "ann19_index_update",       // k-row FROZEN centroid cross join (the
                                // batch assignment pass is the query)
    "q83_sketch_setops",        // |types|-row sketch-table pair join
                                // (5 rows — everything past sketch
                                // building runs on the reduced table)
    "ann17_graph_recall",       // ann07's recallOf shape: 1-row hit
                                // counts x 1-row query counts
    "ann20_nprobe_curve",       // same recallOf shape, one per nProbe
                                // arm (pool scored once, materialized)
    "ann18_graph_depth_curve",  // same recallOf shape, one per depth arm
    "tx21_heaps_growth",        // 1-row OLS-stats aggregate over the
                                // 10-row decile curve (tx18's slope
                                // arithmetic, attached curve-side)
    "tx22_bm25_retrieval",      // 1-row (N, Σdl) corpus-stats aggregate
                                // (the bounded query-term set rides a
                                // hash equi-join, not the BNLJ)
    "ann21_mips_topk",          // 10-query quantized-vector broadcast
                                // (ann01's bounded query-side pattern)
    "q95_chisq_independence",   // 7-row dow-marginal + two 1-row
                                // aggregates (q83's reduced-table
                                // contingency-grid shape)
    "tx28_stupid_backoff",      // 1-row (N, V) history-corpus aggregate
                                // (tx14's audited shape)
    "tx30_pmi_collocations",    // two 1-row totals (N_bi, N_uni) cross
                                // joins (tx14's audited shape)
    "ann25_rrf_fusion",         // dense arm = ann01's bounded
                                // query-vector broadcast (the lexical
                                // arm rides a hash equi-join)
    "q104_theil_sen",           // bounded-series pairwise self-join +
                                // 1-row median-slope cross join (the
                                // operator's documented O(M²) contract)
    "ann26_fusion_recall",      // ann07's recallOf shape (1-row hit x
                                // 1-row query counts) + ann01/ann02
                                // bounded query broadcasts
    "ann27_ivf_imbalance",      // 16-row trained centroid cross join
                                // (the one full-corpus assignment pass)
    "dd28_semantic_recall",     // dd13's k-row centroid cross join +
                                // the 50-anchor truth broadcast
                                // (ann01's bounded query-side shape)
    "tx36_classifier_eval",     // 1-row n_train x 1-row confusion
                                // matrix cross join (scalar metrics)
    "q108_cms_join_size",       // 1-row exact x 1-row sketch-estimate
                                // cross joins (scalar stat rows)
    "q110_histogram_selectivity") // 8-row histogram x 3-row predicate
                                // table cross join (bounded both sides)

  private lazy val executions: Map[String, org.apache.spark.sql.execution.QueryExecution] =
    graft.queries.Catalog.all
      .filterNot(q => streamingQueries(q.name))
      .map(q => q.name -> q.fn(spark, sfDir).queryExecution)
      .toMap

  private lazy val plans: Map[String, String] =
    executions.map { case (n, qe) => n -> qe.executedPlan.toString }

  test("no catalog query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, plan) if plan.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("BroadcastNestedLoopJoin appears exactly where designed") {
    val bnlj = plans.collect {
      case (name, plan) if plan.contains("BroadcastNestedLoopJoin") => name
    }.toSet
    assert(bnlj == designedBnlj,
      s"unexpected: ${bnlj -- designedBnlj}; stale allowlist: ${designedBnlj -- bnlj}")
  }

  /** A user `broadcast()` hint bypasses autoBroadcastJoinThreshold
    * entirely, so every one is a standing claim that the hinted side is
    * bounded at ANY data scale — query-vector sets, seed centroids, 1-row
    * corpus aggregates, or fixed dims. (dp03's offset table left this
    * list in round 8: value-range bucketing reduces by key density, not
    * by a fixed factor, so its join is now unhinted and the bucket width
    * derives from the data — PrefixSumOps scaladoc.) This test pins the
    * exact set of
    * catalog plans whose ANALYZED plan carries a hint, so an unaudited
    * broadcast on an unbounded side (the tx08 scaladoc's scenario: a
    * corpus-sized vocabulary table) fails the build instead of OOMing a
    * driver at 100 TB. (Eager queries — q67/q68 — return checkpoint scans,
    * so their loop-internal hints are out of scope here; they are audited
    * by their own specs.)
    */
  private val designedHints = Set(
    "q04_multijoin_region",    // region+nation: fixed 5/25-row dims
    "q05_broadcast_dim",       // filtered part dim — the hint IS the query
    "q29_scalar_subq",         // 1-row scalar threshold
    "q53_correlated_avg",      // 1-row per-group-avg threshold
    "ann01_bruteforce_topk",   // query-vector set (bounded by query count)
    "ann02_lsh_topk",          // query-vector set
    "ann03_topk_aggregator",   // query-vector set
    "ann04_ivf",               // 16 seed centroids + probed query/neighbor vecs
    "ann06_pq_topk",           // query-side block codes
    "ann07_recall",            // query-vector sets of the graded configs
    "dd10_bloom_prefilter",    // broadcast bit-set (the operator's point)
    "dd13_semantic_dedup",     // k-row trained centroid set (bounded by k)
    "dd15_semantic_decontam",  // k-row centroids + bounded eval-vector set
    "tx06_tfidf",              // 1-row doc count only (df joins unhinted)
    "tx11_vocab_coverage",     // 1-row corpus aggregate
    "dp07_weighted_sample",    // 1-row total-weight aggregate
    "dp08_ingest_gate",        // 1-row corpus max
    "tx14_bigram_lm",          // 1-row vocabulary-size aggregate
    "tx28_stupid_backoff",     // 1-row (N, V) history-corpus aggregate
    "dd17_lsh_recall",         // bounded query-set broadcast
    "dp18_epoch_mixture",      // 1-row budget-total aggregate
    "ann10_pq_adc_topk",       // blocks x codes codebook + ADC table broadcasts
    "dd18_incremental_semantic", // k-row centroids + k-row width table
    "ann11_ivf_adc_topk",      // centroids + codebook + ADC table + re-rank
                               // query vectors — all bounded broadcasts
    "tx16_perplexity_buckets", // tx14's 1-row vocabulary aggregate
    "dp19_dsir_select",        // 1-row feature-totals aggregate
    "ann12_sq8_topk",          // dims-row scale array + query codes +
                               // re-rank query vectors — all bounded
    "ann13_ivfpq_residual_topk", // centroids + residual codebook + per-cell
                                 // ADC table + re-rank queries — all bounded
    "ann14_knn_graph",          // k-row trained centroid broadcast
                                // (assignment + probe ranking)
    "ann15_filtered_topk",      // centroids + bounded query-vector set
    "ann22_hard_negatives",     // same bounded sides, inverted label test
    "ann23_range_search",       // same bounded sides, threshold filter
    "ann19_index_update",       // frozen k-row centroid broadcast
    // ann16_graph_search left this list with SharedArtifacts: its probe
    // ranking + re-rank broadcasts now execute eagerly against the
    // cached index inside graphAnnSearchByDepth's materialized `scored`,
    // so the final plan is windowed checkpoint scans — hint-free
    "ann17_graph_recall",       // recallOf arms' bounded broadcasts
    "ann18_graph_depth_curve",  // same, per depth arm
    "tx21_heaps_growth",        // 1-row OLS-stats aggregate
    "tx22_bm25_retrieval",      // ≤120-row query-term set + 1-row
                                // corpus stats — both bounded by the
                                // fixed query count
    "ann21_mips_topk",          // 10-query quantized-vector broadcast
    "q95_chisq_independence",   // 7-row marginal + 1-row N + 1-row
                                // chi2 total — all bounded
    "tx30_pmi_collocations",    // two 1-row totals (N_bi, N_uni)
    "ann25_rrf_fusion",         // bounded query-shingle set + ann01's
                                // query-vector broadcast
    "q104_theil_sen",           // 1-row median-slope broadcast
    "ann26_fusion_recall",      // bounded query-shingle + query-vector
                                // broadcasts (ann02/ann01 shapes)
    "ann27_ivf_imbalance",      // 16-row trained centroid broadcast
    "dd28_semantic_recall",     // dd13's centroid set + the bounded
                                // 50-anchor truth broadcast
    "tx36_classifier_eval",     // hashLogReg/logRegScore's (dims+1)-row
                                // weight-table broadcasts
    "q110_histogram_selectivity") // 3-row predicate-table broadcast

  test("broadcast hints appear exactly where designed (tx08 carries none)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hinted = executions.collect {
      case (name, qe) if qe.analyzed.collectFirst { case h: ResolvedHint => h }.isDefined =>
        name
    }.toSet
    assert(!hinted.contains("tx08_commonness"),
      "tx08_commonness must stay unhinted (see its scaladoc: vocabulary is corpus-sized)")
    assert(hinted == designedHints,
      s"unexpected hints: ${hinted -- designedHints}; stale allowlist: ${designedHints -- hinted}")
  }

  test("the detector catches a deliberately cartesian plan") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val plan = a.crossJoin(b).queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"))
  }
}
