package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING — Kudo 2018
  * ("Subword Regularization"), the production complement of [[BpeOps]]'
  * merge-based training (VERDICT r14 next-round #2): instead of greedily
  * growing a vocabulary by pair merges, START from a large seed
  * vocabulary of frequent substrings and shrink it by EM — each round
  * segments every word by its maximum-likelihood (Viterbi) segmentation
  * under the current piece log-probabilities, re-estimates piece
  * probabilities from the chosen segmentations, and prunes the
  * lowest-evidence pieces.
  *
  * Shape at 100 TB — BpeOps' structural fact, reused verbatim: ONE corpus
  * pass builds the distinct word-frequency table (map-side-combining
  * hash agg on the token explode; the [[graft.queries.SharedArtifacts.docTokens]]
  * kernel can feed it); every EM round thereafter runs on the VOCABULARY
  * (distinct words × their ≤ maxLen substrings), never on the corpus.
  * The Viterbi DP is a per-row higher-order fold over each word's
  * candidate pieces — no join explosion, no window over the corpus.
  *
  * Determinism contract (the oracle replays every step CTE-by-CTE):
  *   - log-probs are rounded to integer NANO-units (`round(ln(x)*1e9)`,
  *     the tx06/tx18 convention) BEFORE entering the DP, so path scores
  *     are exact BIGINT sums both engines compare identically;
  *   - forward DP ties are harmless (equal maxima); the backtrack picks
  *     the LONGEST winning piece (minimum start) at every step;
  *   - probabilities are Laplace-smoothed — `ln((cnt+1)/(T+P))` over the
  *     surviving piece set — so a piece Viterbi never chose (possible
  *     for the always-kept single characters) has a finite log-prob;
  *   - pruning drops multi-char pieces with `cnt = 0` or `cnt <` the
  *     0.2-discrete-quantile of multi-char counts ([[QuantileOps]]'
  *     `cum*den >= n*num` rule = DuckDB `quantile_disc`), NEVER a
  *     single-character piece (segmentability guarantee).
  *
  * Reference behavior spec: Kudo 2018 §3.2 (EM + prune), implemented
  * relationally; no reference code consulted.
  */
object UnigramOps {

  /** All (s, e, substring) spans of `w` with length ≤ maxLen — the
    * candidate-piece enumeration both the seed pass and every EM round
    * share. One nested HOF, vocabulary-scale fan-out (|w| × maxLen rows
    * per DISTINCT word).
    */
  private def spanExpr(maxLen: Int): String =
    s"""flatten(transform(sequence(1, length(w)), sx ->
          transform(sequence(sx, least(length(w), sx + ${maxLen - 1})), ex ->
            named_struct('s', sx, 'e', ex, 'sub', substring(w, sx, ex - sx + 1)))))"""

  /** Distinct-word frequency table [w, freq] — one corpus pass
    * (an optional pre-exploded token table may substitute the scan).
    */
  def wordFreqs(df: DataFrame, textCol: String,
      tokenTable: Option[DataFrame] = None): DataFrame =
    tokenTable
      .map(_.select(col("tok").as("w")))
      .getOrElse(df.select(explode(DedupOps.tokens(col(textCol))).as("w")))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every ≤ maxLen substring of every distinct word,
    * weighted by word frequency; multi-char pieces need `cnt >=
    * minCount`, single characters are always kept (they make every word
    * segmentable, the invariant pruning also preserves).
    *
    * @return [piece, cnt]
    */
  def seedPieces(words: DataFrame, maxLen: Int, minCount: Long): DataFrame =
    words.select(col("freq"), explode(expr(spanExpr(maxLen))).as("c"))
      .groupBy(col("c.sub").as("piece"))
      .agg(sum("freq").as("cnt"))
      .where(length(col("piece")) === 1 || col("cnt") >= minCount)

  /** Attach smoothed nano-log-probs: lp = round(ln((cnt+1)/(T+P))·1e9)
    * with T = Σcnt and P = |pieces| embedded as literals (one 2-scalar
    * driver collect per round — the bounded-round convention; embedding
    * avoids a 1-row broadcast join the plan audit would have to
    * allowlist).
    */
  private def withLogProbs(pieces: DataFrame): DataFrame = {
    val r = pieces.agg(sum("cnt").cast("long"), count(lit(1))).head()
    // empty piece set (empty corpus): sum() is NULL — denom never used
    // because every downstream column computes over zero rows, but the
    // literal must still build
    val denom =
      ((if (r.isNullAt(0)) 0L else r.getLong(0)) + r.getLong(1)).toDouble max 1.0
    pieces
      .withColumn("_lpr", log((col("cnt") + lit(1L)).cast("double") / lit(denom)))
      .withColumn("lp", expr("cast(round(_lpr * 1000000000.0) as bigint)"))
      .drop("_lpr")
  }

  /** One E-step: Viterbi-segment every distinct word under the current
    * `pieces` [piece, lp] and return the frequency-weighted piece counts
    * [piece, cnt] (pieces never chosen are absent — the caller re-joins).
    *
    * Forward: best(p) = max over candidates (s, e=p, lp) of
    * best(s−1) + lp, as one integer fold (`aggregate`) whose
    * accumulator is the growing best array. Backtrack: walk from the
    * word end prepending each chosen boundary — the winning candidate
    * re-identified by `best(s−1) + lp = best(p)`, smallest s (longest
    * piece) on ties. Both folds run ≤ |w| steps and mirror into DuckDB
    * `list_reduce` with the init element prepended.
    */
  def viterbiCounts(words: DataFrame, pieces: DataFrame, maxLen: Int): DataFrame =
    viterbiBoundaries(words, pieces, maxLen)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(bt) - 1), i ->
             substring(w, cast(element_at(bt, i) + 1 as int),
               cast(element_at(bt, i + 1) - element_at(bt, i) as int)))"""))
        .as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** The shared Viterbi DP: every word of `words` segmented under
    * `pieces` [piece, lp], returned with its boundary array `bt`
    * (0 = word start … length(w), so `size(bt) − 1` pieces). `freq`
    * rides along for the callers that weight by it.
    */
  private def viterbiBoundaries(words: DataFrame, pieces: DataFrame,
      maxLen: Int): DataFrame = {
    val cands = words.select(col("w"), explode(expr(spanExpr(maxLen))).as("c"))
      .select(col("w"), col("c.s").as("s"), col("c.e").as("e"), col("c.sub").as("sub"))
      .join(pieces.select(col("piece").as("sub"), col("lp")), "sub")
    val packed = cands.groupBy("w")
      .agg(collect_list(struct(col("s"), col("e"), col("lp"))).as("cands"))
      .join(words, Seq("w"))
    packed
      .withColumn("best", expr(
        """aggregate(
             transform(sequence(1, length(w)), px -> cast(px as bigint)),
             array(cast(0 as bigint)),
             (acc, pv) -> concat(acc, array(
               array_max(transform(
                 filter(cands, cx -> cx.e = pv),
                 cx -> element_at(acc, cx.s) + cx.lp)))))"""))
      .withColumn("bt", expr(
        """aggregate(
             transform(sequence(1, length(w)), px -> cast(px as bigint)),
             array(cast(length(w) as bigint)),
             (acc, pv) -> if(element_at(acc, 1) <= 0, acc,
               concat(array(
                 array_min(transform(
                   filter(cands, cx -> cx.e = element_at(acc, 1)
                     and element_at(best, cx.s) + cx.lp
                         = element_at(best, cast(element_at(acc, 1) + 1 as int))),
                   cx -> cast(cx.s as bigint))) - 1), acc)))"""))
  }

  /** Full training run: seed → `rounds` × (E-step; prune; M-step).
    *
    * @return [piece, cnt, lp_nano] — the surviving vocabulary, its
    *         final-round Viterbi counts, and its smoothed nano-log-prob
    */
  def unigramFit(df: DataFrame, textCol: String, maxLen: Int = 4,
      minCount: Long = 2, rounds: Int = 2,
      maxWordLen: Int = 64,
      tokenTable: Option[DataFrame] = None): DataFrame = {
    require(maxLen >= 2 && rounds >= 1 && maxWordLen >= maxLen)
    // words longer than maxWordLen are excluded from training — the
    // SentencePiece convention (its max_sentencepiece_length world has
    // the same cap); it also bounds the oracle's unrolled-DP depth
    val words = Exec.materializeForSelfJoin(
      wordFreqs(df, textCol, tokenTable)
        .where(length(col("w")) <= maxWordLen))
    // state (pieces, E-step counts): `pieces` is a view over the counts
    // (the driver's release of it is a no-op)
    val Seq(pieces, _*) = Exec.iterateAll(
      Seq(withLogProbs(seedPieces(words, maxLen, minCount))), rounds) { (s, _) =>
      // E-step over the current vocabulary (materialized: the DP output
      // feeds the threshold scalar, the prune filter AND the M-step —
      // three consumers of one vocabulary-sized table)
      val all = Exec.materializeForSelfJoin(
        s.head.select("piece")
          .join(viterbiCounts(words, s.head, maxLen), Seq("piece"), "left")
          .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt")))
      // prune threshold: 0.2-discrete-quantile of MULTI-char counts
      // (single chars are exempt; zero-count multi pieces die regardless)
      val multi = all.where(length(col("piece")) >= 2)
      val thr = QuantileOps.discreteQuantile(multi, Seq(), "cnt", 1, 5, "t")
        .collect().headOption match {
          case Some(r) if !r.isNullAt(0) => r.getLong(0)
          case _ => 0L
        }
      val kept = all.where(length(col("piece")) === 1
        || (col("cnt") >= thr && col("cnt") > 0))
      Seq(withLogProbs(kept), all)
    }
    Exec.releaseMaterialized(words)
    pieces.select(col("piece"), col("cnt"), col("lp").as("lp_nano"))
  }

  /** ENCODE the corpus with a trained unigram vocabulary — the serving
    * half of the tokenizer story ([[BpeOps.encodedTokenCounts]]' analog
    * for the EM-trained vocab): Viterbi-segment each DISTINCT word ONCE
    * under the trained piece log-probs (vocabulary-scale DP — the same
    * fold as training's E-step), then map the corpus by one equi-join
    * on the word. At 100 TB the DP never sees the corpus: it runs over
    * |distinct words ≤ maxWordLen| rows, and the corpus pays exactly
    * its token explode (the [[graft.queries.SharedArtifacts.docTokens]]
    * kernel can substitute) plus one join against that reduced table.
    *
    * Output, one row per document that has ≥ 1 qualifying word
    * (1 ≤ length ≤ maxWordLen — the training cap applied symmetrically;
    * over-long words are out of the trained distribution's domain):
    * [idCol, n_words, n_chars, n_pieces, pieces_per_kchar] with
    * pieces_per_kchar = n_pieces·1000 div n_chars, the integer
    * compression proxy (more pieces per character = worse vocabulary
    * fit). Determinism is inherited from [[unigramFit]]'s contract:
    * integer nano-log-prob path sums, longest-piece tie-break.
    *
    * @param vocab a trained [piece, …, lp_nano] table (e.g.
    *              [[unigramFit]]'s output, or the
    *              `SharedArtifacts.unigramVocab16` trained artifact)
    */
  /** ENCODE → DECODE round trip with SentencePiece-style BYTE FALLBACK —
    * the serving identity a tokenizer consumer relies on
    * (decode(encode(s)) == s), proven per distinct word (VERDICT r15
    * next-round #4). Characters with no surviving single-char piece
    * (an OOV script at serving time; modeled by `dropPiecePred`, which
    * filters the trained vocabulary the way a domain-restricted vocab
    * misses chars) enter the Viterbi DP as synthetic fallback pieces
    * priced `fallbackLpPerByte` per UTF-8 byte — far below any real
    * piece's log-prob, so fallback fires only where nothing else covers.
    * A chosen fallback char renders as its byte pieces (`<0xE4><0xB8>
    * <0xAD>` for one 3-byte char — counted as 3 pieces, the
    * SentencePiece byte-piece accounting that also bounds dp32's budget
    * error on OOV-heavy text); decode inverts markers via
    * unhex → UTF-8. Byte pieces are distinguished by token identity
    * (the `_fb` flag here; distinct token ids in a real serving stack),
    * not by surface form, so a corpus word that literally contains
    * `<0x..>` cannot confuse the decoder.
    *
    * Scale shape: identical to [[encodeStats]] — the DP and the
    * round-trip both run once per DISTINCT word (vocabulary-scale); the
    * corpus is never touched past the one word-frequency pass. The
    * fallback char table is alphabet-sized (distinct chars anti-joined
    * against surviving singles — never collected to the driver).
    *
    * Determinism: fallback log-probs are exact integer nano-units, so
    * path sums stay exact BIGINTs under the same longest-piece
    * tie-break; rendering and decoding are byte-exact.
    *
    * @return [word, n_pieces, n_fallback_bytes, roundtrip] — the oracle
    *         states `word AS roundtrip` directly, so a hash match IS the
    *         identity proof (the q105 trick)
    */
  def encodeRoundTrip(df: DataFrame, textCol: String, vocab: DataFrame,
      maxLen: Int = 4, maxWordLen: Int = 16,
      dropPiecePred: Column = lit(false),
      fallbackLpPerByte: Long = -25000000000L,
      tokenTable: Option[DataFrame] = None): DataFrame = {
    require(maxLen >= 2 && maxWordLen >= maxLen && fallbackLpPerByte < 0)
    val words = Exec.materializeForSelfJoin(
      wordFreqs(df, textCol, tokenTable).where(length(col("w")) <= maxWordLen))
    val kept = vocab.where(!dropPiecePred)
      .select(col("piece"), col("lp_nano").as("lp"))
    val chars = words
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("piece"))
      .distinct()
    val fb = Exec.materializeForSelfJoin(
      chars.join(kept.where(length(col("piece")) === 1), Seq("piece"), "left_anti")
        .select(col("piece"),
          (octet_length(col("piece")).cast("long") * lit(fallbackLpPerByte)).as("lp")))
    val seg = viterbiBoundaries(words, kept.unionByName(fb), maxLen)
    val pcs = seg.select(col("w"), posexplode(expr(
        """transform(sequence(1, size(bt) - 1), i ->
             substring(w, cast(element_at(bt, i) + 1 as int),
               cast(element_at(bt, i + 1) - element_at(bt, i) as int)))"""))
      .as(Seq("i", "piece")))
    val flagged = pcs
      .join(fb.select(col("piece"), lit(1).as("_fb")), Seq("piece"), "left")
      .withColumn("_nb", octet_length(col("piece")).cast("long"))
      .withColumn("_r", when(col("_fb") === 1,
          regexp_replace(hex(encode(col("piece"), "UTF-8")),
            "(..)", "<0x$1>"))
        .otherwise(col("piece")))
      .withColumn("_isfb", coalesce(col("_fb"), lit(0)))
    flagged.groupBy("w")
      .agg(sum(when(col("_isfb") === 1, col("_nb")).otherwise(1L)).as("n_pieces"),
        sum(when(col("_isfb") === 1, col("_nb")).otherwise(0L)).as("n_fallback_bytes"),
        expr("""array_join(transform(array_sort(collect_list(struct(i, _r, _isfb))),
          x -> CASE WHEN x._isfb = 1
            THEN decode(unhex(regexp_replace(x._r, '<0x([0-9A-Fa-f]{2})>', '$1')), 'UTF-8')
            ELSE x._r END), '')""").as("roundtrip"))
      .select(col("w").as("word"), col("n_pieces").cast("long").as("n_pieces"),
        col("n_fallback_bytes").cast("long").as("n_fallback_bytes"),
        col("roundtrip"))
  }

  def encodeStats(df: DataFrame, textCol: String, idCol: String,
      vocab: DataFrame, maxLen: Int = 4, maxWordLen: Int = 16,
      tokenTable: Option[DataFrame] = None): DataFrame = {
    val docToks = tokenTable
      .map(_.select(col(idCol), col("tok").as("w")))
      .getOrElse(df.select(col(idCol), explode(DedupOps.tokens(col(textCol))).as("w")))
      .where(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
    val words = docToks.groupBy("w").agg(count(lit(1)).as("freq"))
    val seg = viterbiBoundaries(words,
        vocab.select(col("piece"), col("lp_nano").as("lp")), maxLen)
      .select(col("w"), (size(col("bt")) - 1).cast("long").as("n_pieces"))
    docToks.join(seg, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_pieces")).as("n_pieces"))
      .withColumn("pieces_per_kchar", expr("n_pieces * 1000 div n_chars"))
  }
}
