package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Byte-pair-encoding SEGMENTATION under an ordered merge list — the
  * tokenize-under-a-fixed-vocab step every training-data pipeline runs
  * on 100% of its corpus (Sennrich–Haddow–Birch 2016). The suite
  * already measures merge-candidate *statistics* (q77's pair table) and
  * a fertility *proxy* (q112's BPE-ish regex pieces); this operator
  * actually APPLIES merges: `rounds` fixed merge rounds (the q223/q228
  * fixed-round oracle contract — both engines run the same R rounds,
  * the oracle unrolls them as CTEs), where round r picks the current
  * highest-frequency adjacent symbol pair (corpus-frequency-weighted,
  * ties by pair text) and merges its non-overlapping occurrences
  * LEFTMOST-FIRST in every vocabulary word — exactly the reference BPE
  * trainer's greedy application order.
  *
  * The relational form of "merge leftmost-first, non-overlapping" is
  * the run trick: among CONSECUTIVE matching positions (overlapping
  * occurrences share a symbol — "aaa" matches (a,a) at 0 and 1), a
  * match applies iff its offset within the run is even, which is
  * computed with two keyed windows (a running match count splits runs:
  * distinct runs get distinct `pos − running_count`; the run minimum
  * anchors the offset) — no recursion, no per-row loop.
  *
  * Scale shape — the reason BPE fits a 100 TB engine at all: merges run
  * over the VOCABULARY (distinct words weighted by corpus frequency),
  * never the corpus. The symbol relation is |vocab|·word-length rows;
  * every window is keyed by the word (high-cardinality, bounded per-key
  * state = word length); the per-round pair-statistics aggregation
  * collapses to |symbol-pairs| rows and the argmax is a 1-row
  * TakeOrdered broadcast. Applying the result corpus-wide is one
  * broadcast join of the (word → segmentation) map onto the token
  * stream — the `corpus_pieces` column already carries that weighted
  * readout. Per-round lineage is cut (localCheckpoint) so R rounds
  * never grow the plan.
  */
object Bpe {
  import TextOps._

  /** The shared training loop: corpus word vocabulary (word, freq),
    * the symbol state after `rounds` merge rounds, and the per-round
    * merge picks (merge_rank, left_sym, right_sym, pair_count) — the
    * FROZEN MERGE LIST a serving tokenizer consumes. */
  private def trainState(docs: DataFrame, textCol: String, rounds: Int)
      : (DataFrame, DataFrame, Seq[DataFrame], Seq[DataFrame]) = {
    require(rounds >= 1, s"need >= 1 merge round, got $rounds")
    val vocab = docs
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .stage("bpe:vocab") // read every round (pair weights) + final report
    val pw = Window.partitionBy("w").orderBy("pos")
    var st = vocab
      .select(col("w"), posexplode(
        expr("transform(sequence(0, length(w)-1), i -> substring(w, i+1, 1))"))
        .as(Seq("pos", "sym")))
    val merges = Seq.newBuilder[DataFrame]
    val states = Seq.newBuilder[DataFrame]
    states += st // round 0: the character baseline
    for (r <- 1 to rounds) {
      val withNext = st
        .withColumn("nxt", lead("sym", 1).over(pw))
        .stage(s"bpe:r$r") // read 2x: pair stats + merge application
      val bestFull = withNext.filter(col("nxt").isNotNull)
        .join(vocab, Seq("w"))
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1)
      merges += bestFull.select(lit(r).as("merge_rank"),
        col("a").as("left_sym"), col("b").as("right_sym"),
        col("cnt").cast("long").as("pair_count"))
      val best = bestFull.select(col("a"), col("b"))
      st = applyMerge(withNext, best)
      states += st
    }
    (vocab, st, merges.result(), states.result())
  }

  /** Merge one (a, b) pick into a symbol state, leftmost-first and
    * non-overlapping — the run trick documented in the object header.
    * Shared by the BPE trainer above and the WordPiece trainer
    * ([[WordPiece]]), whose lineages differ ONLY in the pick rule.
    * `withNext` must carry (w, pos, sym, nxt = lead(sym)); `best` is
    * the 1-row (a, b) pick. */
  private[ext] def applyMerge(withNext: DataFrame,
                              best: DataFrame): DataFrame = {
    val pw = Window.partitionBy("w").orderBy("pos")
    withNext.crossJoin(broadcast(best))
      // coalesce: the last position's nxt is NULL, which would make
      // is_match NULL (not false) when sym = a — pin it false on both
      // engines so the window arithmetic below never sees NULL.
      .withColumn("is_match",
        coalesce(col("sym") === col("a") && col("nxt") === col("b"),
          lit(false)))
      .withColumn("mk",
        sum(when(col("is_match"), 1).otherwise(0)).over(pw))
      .withColumn("grp", col("pos") - col("mk"))
      .withColumn("rs",
        min(when(col("is_match"), col("pos")))
          .over(Window.partitionBy("w", "grp")))
      .withColumn("applied",
        col("is_match") && (col("pos") - col("rs")) % 2 === 0)
      .withColumn("absorbed",
        coalesce(lag("applied", 1).over(pw), lit(false)))
      .filter(!col("absorbed"))
      .select(col("w"), col("pos").as("opos"),
        when(col("applied"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("w").orderBy("opos")) - 1)
      .select("w", "pos", "sym")
  }

  /** The four training artifacts, StageCache-shared across the BPE
    * query family (q232/q237/q238/q251/q317 all train the SAME
    * (corpus, rounds) chain — before this, each registered query
    * re-ran the full merge loop from the scan every suite pass):
    * (vocab, final state, ordered merge table, all states tagged by
    * round). ONE lazy training run backs all four builds, so a fully
    * cold call trains once and a warm call trains zero times; a
    * partially-dead cache re-trains at most once to rebuild the dead
    * artifact (the liveness contract — an unpersist can only
    * un-share, never break). */
  private def stagedArtifacts(docs: DataFrame, textCol: String,
                              rounds: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    lazy val trained = trainState(docs, textCol, rounds)
    def k(part: String) = StageCache.keyFor(docs, "bpe", part, textCol, rounds)
    val vocab = StageCache.getOrStage(k("vocab"))(trained._1)
    val st = StageCache.getOrStage(k("st"))(trained._2.stage("bpe:st"))
    val merges = StageCache.getOrStage(k("merges"))(
      trained._3.reduce(_ unionAll _).stage("bpe:merges"))
    val states = StageCache.getOrStage(k("states"))(
      trained._4.zipWithIndex.map { case (s, r) =>
        s.withColumn("round", lit(r))
      }.reduce(_ unionAll _).stage("bpe:states"))
    (vocab, st, merges, states)
  }

  /** Top-`topWords` vocabulary words (by corpus frequency, ties by
    * word) with their segmentation after `rounds` BPE merge rounds:
    * (word, freq, n_chars, n_pieces, corpus_pieces, segmentation) —
    * `corpus_pieces` = freq·n_pieces, the corpus-weighted token cost
    * of this word under the learned merges. */
  def bpeSegment(docs: DataFrame, idCol: String, textCol: String,
                 rounds: Int = 6, topWords: Int = 40): DataFrame = {
    val (vocab, st, _, _) = stagedArtifacts(docs, textCol, rounds)
    val seg = st.groupBy("w").agg(
      count(lit(1)).as("n_pieces"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        x => x.getField("sym"))).as("segmentation"))
    vocab.join(seg, Seq("w"))
      .select(col("w").as("word"), col("freq"),
        length(col("w")).cast("long").as("n_chars"),
        col("n_pieces").cast("long").as("n_pieces"),
        (col("freq") * col("n_pieces")).cast("long").as("corpus_pieces"),
        col("segmentation"))
      .orderBy(desc("freq"), col("word"))
      .limit(topWords)
  }

  /** The ORDERED MERGE TABLE itself (q237) — one row per training
    * round: (merge_rank, left_sym, right_sym, pair_count), the frozen
    * artifact a serving tokenizer ships (apply rank 1, then 2, …).
    * pair_count is the corpus-frequency-weighted occurrence count the
    * pick won with — strictly the argmax of its round's statistics
    * over the PREVIOUS rounds' merged state, which is why the list is
    * ordered and why replaying it (q232/q238) reproduces training
    * exactly. Each round's pick is a 1-row TakeOrdered — the whole
    * table is `rounds` rows of metadata at any corpus size. */
  def bpeMergeTable(docs: DataFrame, idCol: String, textCol: String,
                    rounds: Int = 6): DataFrame = {
    val (_, _, merges, _) = stagedArtifacts(docs, textCol, rounds)
    merges.orderBy("merge_rank")
  }

  /** CORPUS-WIDE application of the learned merges (q238): the
    * (word → piece count) map from `rounds` merge rounds broadcast
    * onto the full token stream, rolled up per source — tokens/pieces
    * volumes and the compression diagnostics every tokenizer report
    * leads with (pieces per word = fertility under THIS vocab; chars
    * per piece = how much text a piece carries). Non-vocabulary tokens
    * (digits, mixed) pass through as one piece each. This is the 100 TB
    * serving path made concrete: segmentation cost lives on the VOCAB,
    * the corpus pays one broadcast equi join. */
  def bpeApplyRate(docs: DataFrame, srcCol: String, textCol: String,
                   rounds: Int = 6): DataFrame = {
    val (_, st, _, _) = stagedArtifacts(docs, textCol, rounds)
    val seg = st.groupBy("w").agg(count(lit(1)).as("n_pieces"))
    docs.select(col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(seg), Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_pieces").isNotNull, 1L).otherwise(0L))
          .as("n_alpha_words"),
        sum(coalesce(col("n_pieces"), lit(1L))).as("total_pieces"),
        sum(length(col("w")).cast("long")).as("total_chars"))
      .select(col("source"), col("n_words").cast("long").as("n_words"),
        col("n_alpha_words").cast("long").as("n_alpha_words"),
        col("total_pieces").cast("long").as("total_pieces"),
        col("total_chars").cast("long").as("total_chars"),
        expr("total_pieces * 1000000 div n_words").as("pieces_per_word_micro"),
        expr("total_chars * 1000000 div total_pieces").as("chars_per_piece_micro"))
      .orderBy("source")
  }

  /** The (word → piece count) serving map after `rounds` BPE merges —
    * [[bpeApplyRate]]'s seg relation exposed for cross-lineage reuse
    * (q317's fertility matrix broadcasts it onto the token stream). */
  private[ext] def pieceCounts(docs: DataFrame, textCol: String,
                               rounds: Int): DataFrame = {
    val (_, st, _, _) = stagedArtifacts(docs, textCol, rounds)
    st.groupBy("w").agg(count(lit(1)).as("np"))
  }

  /** VOCAB-SIZE SWEEP (q251) — the tokenizer-selection curve: ONE
    * training run, read out after EVERY merge round (BPE training is
    * greedy-incremental, so the state after round r IS the r-round
    * tokenizer — no retraining per point). Per round 0..`rounds`
    * (0 = the character baseline): vocabulary words, corpus word/char
    * volumes, corpus-weighted piece volume, fertility (pieces per
    * corpus word) and compression (chars per piece) in exact floor
    * micro — fertility is monotone non-increasing in rounds, the curve
    * a team reads to pick its merge budget. Costs `rounds` extra
    * vocab-keyed aggregations over states the training already
    * materializes; nothing corpus-sized beyond the one vocab count. */
  def bpeRoundSweep(docs: DataFrame, idCol: String, textCol: String,
                    rounds: Int = 6): DataFrame = {
    val (vocab, _, _, states) = stagedArtifacts(docs, textCol, rounds)
    // ONE grouped aggregation over the round-tagged state union (the
    // former per-round loop ran rounds+1 separate agg jobs over the
    // same relations; values identical — per (round, w) piece counts
    // partition the union exactly as the per-state groupBys did)
    states.groupBy("round", "w").agg(count(lit(1)).as("p"))
      .join(vocab, Seq("w"))
      .groupBy("round")
      .agg(count(lit(1)).as("n_vocab_words"),
        sum("freq").as("corpus_words"),
        sum(col("freq") * length(col("w"))).as("corpus_chars"),
        sum(col("freq") * col("p")).as("corpus_pieces"))
      .select(col("round").cast("int").as("round"),
        col("n_vocab_words").cast("long").as("n_vocab_words"),
        col("corpus_words").cast("long").as("corpus_words"),
        col("corpus_chars").cast("long").as("corpus_chars"),
        col("corpus_pieces").cast("long").as("corpus_pieces"),
        expr("corpus_pieces * 1000000 div corpus_words")
          .as("fertility_micro"),
        expr("corpus_chars * 1000000 div corpus_pieces")
          .as("chars_per_piece_micro"))
      .orderBy("round")
  }
}
