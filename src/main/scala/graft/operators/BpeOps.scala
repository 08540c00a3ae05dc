package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-design step beyond tx11's coverage curve: each round counts
  * adjacent symbol pairs corpus-wide and emits the argmax merge, exactly
  * the inner loop of Sennrich et al.'s subword training (reference scope:
  * the pipeline's text surface, `crawler/src/utils/`, stops at whitespace
  * tokens; this is the LLM-pipeline extension on top).
  *
  * 100 TB shape — the key structural fact of BPE training: after ONE
  * corpus pass builds the distinct-word frequency table, every merge
  * round runs on that VOCABULARY-sized table, never the corpus. Pair
  * counting is an explode + map-side-combinable hash agg on a fixed-width
  * (left, right) key weighted by word frequency; the argmax is a
  * TakeOrderedAndProject (limit 1); the merge applies as a pure
  * higher-order fold over each word's symbol array, with the winning pair
  * broadcast-joined in (no driver collect in the loop). The word table
  * and the merge rows are one [[Exec.iterateAll]] state, so plans don't
  * grow.
  *
  * Determinism contract (oracle-replayable): the merge rule is the
  * textbook leftmost-greedy fold — walking a word's symbols, the current
  * symbol merges into the accumulator iff the accumulator's LAST token
  * equals the merge's left and the current symbol equals its right; a
  * just-merged token (left||right, strictly longer than left) can never
  * re-match as left, so "aaa" under (a,a) gives [aa, a], the reference
  * BPE behavior. Symbols are joined on the unit separator (U+001F, which
  * [[DedupOps.tokens]]' whitespace split guarantees never appears inside
  * a symbol); ties on pair count break by (left, right) binary string
  * order on both engines.
  */
object BpeOps {

  /** One corpus pass → distinct-word frequencies with each word's initial
    * character-symbol sequence (`seq`, U+001F-joined).
    */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(DedupOps.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("seq", expr(
        "array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), char(31))"))

  /** Adjacent-pair counts over the current symbol sequences, weighted by
    * word frequency: [l, r, cnt]. Words of one symbol contribute nothing
    * (the transform guard — Spark's `sequence(1, 0)` would count DOWN).
    */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), expr("split(seq, char(31))").as("_syms"))
      .select(col("freq"), explode(expr(
        """CASE WHEN size(_syms) < 2 THEN array()
           ELSE transform(sequence(1, size(_syms) - 1),
             i -> struct(element_at(_syms, i) AS l, element_at(_syms, i + 1) AS r))
           END""")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))

  /** Apply one merge (the 1-row `best` table, columns l/r) to every
    * word's symbol sequence: the leftmost-greedy fold, fully declarative
    * (broadcast join + higher-order `aggregate`), no driver-side value.
    */
  def applyMerge(words: DataFrame, best: DataFrame): DataFrame =
    words.crossJoin(broadcast(best.select(col("l").as("_ml"), col("r").as("_mr"))))
      .withColumn("_syms", expr("split(seq, char(31))"))
      .withColumn("seq", expr(
        """aggregate(
             slice(_syms, 2, size(_syms) - 1),
             element_at(_syms, 1),
             (acc, x) -> CASE WHEN (acc = _ml
                                    OR right(acc, length(_ml) + 1) = concat(char(31), _ml))
                               AND x = _mr
                         THEN concat(acc, x)
                         ELSE concat(acc, char(31), x) END)"""))
      .drop("_syms", "_ml", "_mr")

  /** `rounds` BPE merge rounds over the corpus: returns one row per
    * round — [round, left_sym, right_sym, pair_count], the merge table a
    * tokenizer build persists. Requires every round to find at least one
    * adjacent pair (true for any natural corpus with multi-character
    * words; a fully-merged degenerate corpus yields fewer rows).
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (merges, words) = trainRounds(df, textCol, rounds, needFinalWords = false)
    Exec.releaseMaterialized(words)
    merges
  }

  /** The shared training loop: `rounds` (argmax, apply) iterations.
    * Returns (merge table, final word table with merged `seq`s), both
    * materialized handles the caller owns. When `needFinalWords` is
    * false the last round's merge application is skipped (the merge
    * table alone doesn't need it). Each round's 1-row argmax handle is
    * released once the round's word table and merge rows have read it,
    * so a caller that releases the half it does not return leaves one
    * handle pinned.
    */
  private def trainRounds(df: DataFrame, textCol: String, rounds: Int,
      needFinalWords: Boolean): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16]")
    // state (word table, merge rows so far); a skipped final apply
    // carries the word table over, so the driver keeps it
    val Seq(words, merges) = Exec.iterateAll(
      Seq(Exec.materializeForSelfJoin(wordTable(df, textCol))), rounds) { (s, round) =>
      val cur = s.head
      val best = Exec.materializeForSelfJoin(
        pairCounts(cur).orderBy(col("cnt").desc, col("l"), col("r")).limit(1))
      val row = best.select(lit(round).as("round"), col("l").as("left_sym"),
        col("r").as("right_sym"), col("cnt").cast("long").as("pair_count"))
      val next = Seq(
        if (round < rounds || needFinalWords)
          Exec.materializeForSelfJoin(applyMerge(cur, best))
        else cur,
        Exec.materializeForSelfJoin(s.lift(1).fold(row)(_.unionByName(row))))
      Exec.releaseMaterialized(best)
      next
    }
    (merges, words)
  }

  /** The train→APPLY cycle (what tx19's merge table is FOR): encode the
    * corpus with the learned merges and report, per document, the
    * whitespace token count, the BPE token count after `rounds` merges,
    * and the character volume — the compression curve tokenizer design
    * optimizes. Encoding never touches the corpus text twice: merges
    * apply on the VOCABULARY (each distinct word's symbol count), and
    * one exploded-token equi-join back distributes the counts to
    * documents — sum over a doc's words of |bpe_symbols(word)|. Docs
    * with no non-empty tokens are absent (inner join, mirrored).
    *
    * @return [idCol, n_ws_tokens, n_bpe_tokens, n_chars]
    */
  def encodedTokenCounts(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (merges, words) = trainRounds(df, textCol, rounds, needFinalWords = true)
    Exec.releaseMaterialized(merges)
    val vocab = words
      .select(col("w"), expr("size(split(seq, char(31)))").as("_n_bpe"))
    df.select(col(idCol), explode(DedupOps.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .join(vocab, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_ws_tokens"),
        sum("_n_bpe").cast("long").as("n_bpe_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"))
  }

  /** ENCODE → DECODE round trip through the SYMBOL-ID VOCABULARY — the
    * BPE serving identity (tx37's property for the merge-based
    * tokenizer): every distinct word is
    * encoded to integer symbol ids (the form a training run actually
    * stores), the symbol STRINGS are thrown away, and decode
    * reconstructs the word purely from ids via the vocab join —
    * decode(encode(w)) == w proven per word, with `id_sum` pinning the
    * exact id assignment cross-engine (a permuted vocab cannot hash-
    * match it).
    *
    * Vocab = the distinct post-merge symbols, id = rank in binary
    * string order (the tx19 tie-break order both engines share). The
    * symbol set is bounded by |alphabet| + rounds — the global
    * rank window runs on that tiny table, never the corpus. Everything
    * else is the [[encodedTokenCounts]] shape: merges apply on the
    * VOCABULARY, one distinct-word table end to end. Unlike the unigram
    * path, char-seeded BPE needs no byte fallback for in-corpus words —
    * every character IS a seed symbol (the property the unigram side
    * has to buy back with byte pieces).
    *
    * @return [word, n_symbols, id_sum, roundtrip]
    */
  def encodeRoundTrip(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (merges, words) = trainRounds(df, textCol, rounds, needFinalWords = true)
    Exec.releaseMaterialized(merges)
    val pos = words.select(col("w"),
      posexplode(expr("split(seq, char(31))")).as(Seq("i", "sym")))
    // bounded: ≤ |distinct chars| + rounds symbols
    val vocab = pos.select("sym").distinct()
      .withColumn("sym_id", row_number().over(Window.orderBy("sym")).cast("long"))
    val enc = pos.join(vocab, "sym").select("w", "i", "sym_id") // ids only
    enc.join(vocab, "sym_id") // decode: id -> symbol string
      .groupBy("w")
      .agg(count(lit(1)).cast("long").as("n_symbols"),
        sum("sym_id").cast("long").as("id_sum"),
        expr("""array_join(transform(array_sort(collect_list(struct(i, sym))),
          x -> x.sym), '')""").as("roundtrip"))
      .select(col("w").as("word"), col("n_symbols"), col("id_sum"),
        col("roundtrip"))
  }
}
