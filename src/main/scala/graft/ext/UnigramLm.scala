package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** UNIGRAM-LM (SentencePiece-style) tokenizer — the second tokenizer
  * lineage next to BPE (q232/q237/q238): Kudo 2018's subword
  * regularization model, trained by EM with vocabulary pruning. Where
  * BPE GROWS a vocabulary by greedy merges, unigram-LM starts from an
  * over-complete candidate set and PRUNES it: score candidates, Viterbi-
  * segment the vocabulary under the current piece scores (the hard-EM
  * E-step), re-estimate scores from the usage counts (M-step), drop the
  * pieces the segmentation never uses, repeat. This implementation runs
  * the fixed-round form of that loop (the q223/q236 fixed-round oracle
  * contract — both engines replay the identical rounds):
  *
  *   1. seed   — candidate pieces = all substrings of vocabulary words
  *               up to `maxPieceLen` chars: every single char (never
  *               prunable — the segmentability guarantee) plus the top
  *               `seedMulti` multi-char substrings by corpus-weighted
  *               occurrence count;
  *   2. E-step — Viterbi-segment every vocabulary word under piece
  *               costs −ln P(piece), P = (c+1)/(T+V) (add-one keeps
  *               every kept piece finite);
  *   3. prune  — multi-char pieces the Viterbi paths USED (weighted
  *               usage ≥ 1), top `keepMulti` by (usage desc, piece);
  *               a high-substring-count candidate with zero usage dies
  *               here — the EM point;
  *   4. E-step — re-segment under scores re-estimated from usage (the
  *               M-step), yielding the final per-word piece counts.
  *
  * Everything is exact-integer oracle-checkable: piece costs quantize
  * ONCE per piece to micro-nats over identical rational doubles (the
  * q181 idiom), and the Viterbi DP minimizes integer (cost, n_pieces,
  * piece) lexicographically — a total order, so both engines pick the
  * identical cell winner (the DuckDB oracle unrolls the same DP as
  * per-position CTEs).
  *
  * Scale shape — the q232 argument, taken to its right altitude: ALL
  * training work is VOCABULARY-sized (distinct alpha words ≤
  * `maxWordLen` chars, weighted by corpus frequency), and the per-word
  * DP is ROW-LOCAL — the whole E-step is ONE projection over the vocab
  * relation, the DP table built per word by an `aggregate` fold over
  * its positions with the piece-cost table attached as a one-row
  * broadcast map. (The first cut ran the DP as `maxWordLen`
  * driver-looped joins — 36 shuffles and a fresh codegen unit per
  * step; the step plans' fused broadcast-join chains OOM'd an 8g heap
  * at 32 concurrent tasks ON 31 VOCAB WORDS, and the surviving fix
  * still cost 45s of pure per-job overhead. A row-local recursion
  * belongs in a row-local fold.) The corpus pays exactly ONE broadcast
  * (word → piece count) join — the q238 serving shape.
  */
object UnigramLm {
  import TextOps._

  /** The per-word Viterbi cell table as an ARRAY column: `cells[p+1]` =
    * the best segmentation of w's first p chars as a struct (cost, np,
    * piece, prev) — one `aggregate` fold over the word's positions;
    * candidates at p try every piece length 1..`maxPieceLen` via the
    * broadcast piece-cost map (absent piece → null cost → filtered),
    * winner = `array_min` over (cost, np, piece, prev) structs — the
    * lexicographic (cost, np, piece) order of the oracle's
    * row_number, with prev determined by piece. */
  private def cellsExpr(maxPieceLen: Int): String =
    s"""aggregate(
       |  sequence(1, len),
       |  array(named_struct('cost', CAST(0 AS BIGINT), 'np', 0,
       |                     'piece', '', 'prev', 0)),
       |  (acc, p) -> acc || array(array_min(filter(
       |    transform(sequence(1, least($maxPieceLen, p)), l ->
       |      named_struct(
       |        'cost', element_at(acc, p - l + 1).cost +
       |                element_at(mp, substring(w, p - l + 1, l)),
       |        'np',   element_at(acc, p - l + 1).np + 1,
       |        'piece', substring(w, p - l + 1, l),
       |        'prev', p - l)),
       |    c -> c.cost IS NOT NULL))))""".stripMargin

  /** Backward walk over the cell table: the word's used pieces as an
    * array (at most `len` steps; `pos` chases `prev` to 0). */
  private val usedPiecesExpr: String =
    """aggregate(
      |  sequence(1, len),
      |  named_struct('pos', len, 'out', CAST(array() AS array<string>)),
      |  (st, x) -> IF(st.pos <= 0, st,
      |    named_struct('pos', element_at(cells, st.pos + 1).prev,
      |                 'out', st.out ||
      |                        array(element_at(cells, st.pos + 1).piece))),
      |  st -> st.out)""".stripMargin

  /** E-step: every vocab word's cell table under the piece costs `vp`
    * (piece, lp) — vp collapses to a one-row map and broadcasts; the DP
    * itself is row-local. Returns (w, len, cells). */
  private def viterbiCells(wl: DataFrame, vp: DataFrame,
                           maxPieceLen: Int): DataFrame = {
    val mp = vp.agg(map_from_entries(
      collect_list(struct(col("piece"), col("lp")))).as("mp"))
    wl.crossJoin(broadcast(mp))
      .withColumn("cells", expr(cellsExpr(maxPieceLen)))
      .select(col("w"), col("len"), col("cells"))
  }

  /** −ln((c+1)/(T+V)) in micro-nats — ONE transcendental per piece,
    * identical rational-double operands on both engines. */
  private def lpCol(cnt: String): org.apache.spark.sql.Column =
    round(log((col("tt") + col("vv")) / (col(cnt) + lit(1.0))) * 1e6, 0)
      .cast("long")

  /** The shared training state: (vocab words with freq, seed piece set
    * with substring counts, round-1 usage, pruned piece set with usage,
    * final per-word piece counts). Exposed private[ext] for the
    * hand-replay spec. */
  private[ext] def trainState(docs: DataFrame, textCol: String,
                              seedMulti: Int, keepMulti: Int,
                              maxWordLen: Int, maxPieceLen: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val vw = docs
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .stage("unigramLm:vw") // read by substring counts, usage weights, DP base
    val wl = vw.select(col("w"), length(col("w")).cast("int").as("len"))
    // corpus-weighted substring occurrence counts, lengths 1..maxPieceLen
    val occ = (1 to maxPieceLen).map { l =>
      vw.filter(length(col("w")) >= l)
        .select(col("freq"), explode(expr(
          s"transform(sequence(1, length(w) - ${l - 1}), i -> substring(w, i, $l))"))
          .as("piece"))
    }.reduce(_ unionAll _)
      .groupBy("piece").agg(sum("freq").as("c0"))
      .stage("unigramLm:occ") // read by the char slice + the multi top-k
    val chars = occ.filter(length(col("piece")) === 1)
    val multi = occ.filter(length(col("piece")) >= 2)
      .orderBy(desc("c0"), col("piece")).limit(seedMulti)
    val v0 = chars.unionAll(multi).stage("unigramLm:v0") // vp0 + prune spine + count
    val t0 = v0.agg(sum("c0").as("tt"), count(lit(1)).as("vv"))
    val vp0 = v0.crossJoin(broadcast(t0))
      .select(col("piece"), lpCol("c0").as("lp"))
    val u1 = viterbiCells(wl, vp0, maxPieceLen)
      .select(col("w"), explode(expr(usedPiecesExpr)).as("piece"))
      .join(vw, Seq("w"))
      .groupBy("piece").agg(sum("freq").as("u1"))
      .stage("unigramLm:u1") // read by both prune slices
    val keptChars = v0.filter(length(col("piece")) === 1)
      .join(u1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u1"), lit(0L)).as("u1"))
    val keptMulti = v0.filter(length(col("piece")) >= 2)
      .join(u1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u1"), lit(0L)).as("u1"))
      .filter(col("u1") >= 1)
      .orderBy(desc("u1"), col("piece")).limit(keepMulti)
    val v1 = keptChars.unionAll(keptMulti).stage("unigramLm:v1") // vp1 + count
    val t1 = v1.agg(sum("u1").as("tt"), count(lit(1)).as("vv"))
    val vp1 = v1.crossJoin(broadcast(t1))
      .select(col("piece"), lpCol("u1").as("lp"))
    val npFinal = viterbiCells(wl, vp1, maxPieceLen)
      .select(col("w"), expr("element_at(cells, len + 1).np").as("np"))
    (vw, v0, u1, v1, npFinal)
  }

  /** The q284 readout: per-source fertility under the EM-pruned
    * unigram-LM vocabulary — the q238 corpus-application shape (one
    * broadcast word→pieces join; non-vocabulary words pass through as
    * one piece each) plus the vocabulary sizes before/after the prune
    * so the EM round's effect is visible in the row itself. */
  def fertilityBySource(docs: DataFrame, srcCol: String, textCol: String,
                        seedMulti: Int = 48, keepMulti: Int = 32,
                        maxWordLen: Int = 12,
                        maxPieceLen: Int = 4): DataFrame = {
    require(seedMulti >= keepMulti && maxPieceLen >= 1 && maxWordLen >= 1,
      s"bad params: $seedMulti/$keepMulti/$maxWordLen/$maxPieceLen")
    val (_, v0, _, v1, npFinal) =
      trainState(docs, textCol, seedMulti, keepMulti, maxWordLen, maxPieceLen)
    val nV0 = v0.agg(count(lit(1)).as("vocab_initial"))
    val nV1 = v1.agg(count(lit(1)).as("vocab_final"))
    docs.select(col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(npFinal), Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("np").isNotNull, 1L).otherwise(0L)).as("n_seg_words"),
        sum(coalesce(col("np").cast("long"), lit(1L))).as("total_pieces"),
        sum(length(col("w")).cast("long")).as("total_chars"))
      .crossJoin(broadcast(nV0)).crossJoin(broadcast(nV1))
      .select(col("source"), col("n_words").cast("long").as("n_words"),
        col("n_seg_words").cast("long").as("n_seg_words"),
        col("total_pieces").cast("long").as("total_pieces"),
        col("total_chars").cast("long").as("total_chars"),
        expr("total_pieces * 1000000 div n_words")
          .as("pieces_per_word_micro"),
        col("vocab_initial").cast("long").as("vocab_initial"),
        col("vocab_final").cast("long").as("vocab_final"))
      .orderBy("source")
  }
}
