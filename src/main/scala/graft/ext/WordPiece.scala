package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** WORDPIECE vocabulary training (q313) — the THIRD production
  * tokenizer lineage beside BPE ([[Bpe]], greedy count-argmax growth)
  * and unigram-LM ([[UnigramLm]], likelihood pruning): WordPiece
  * (Schuster & Nakajima 2012; the BERT trainer) grows like BPE but
  * picks each round's merge by the LIKELIHOOD RATIO
  *
  *   score(a, b) = count(ab) / (count(a) · count(b))
  *
  * — the pair whose fusion most raises a unigram LM's corpus
  * likelihood, not the merely most frequent pair (the count-argmax
  * favors fusing two already-common symbols; the ratio favors pairs
  * that co-occur MORE than their unigram frequencies predict — PMI at
  * the symbol tier, the q206 statistic turned into a merge rule). The
  * mechanics are [[Bpe.applyMerge]] verbatim — leftmost-first
  * non-overlapping application over the frequency-weighted vocabulary
  * — so the lineages differ ONLY in the pick, which is exactly how the
  * production trainers differ.
  *
  * Exactness: the score is quantized ONCE per candidate pair to floor
  * pico-units — ⌊count(ab)·10¹² / (count(a)·count(b))⌋ in
  * DECIMAL(38,0) — and the argmax compares those integers with ties on
  * (a, b), so both engines pick identical merges every round (the q181
  * one-quantization contract; a float ratio argmax would be
  * tie-unstable across engines). Unigram counts are frequency-weighted
  * occurrence counts over the CURRENT state (merged symbols count as
  * one), the reference trainer's bookkeeping.
  *
  * Scale shape: identical to BPE's — everything runs over the
  * VOCABULARY (distinct words × corpus frequency), never the corpus;
  * per round one pair aggregation (|symbol-pairs| rows), one unigram
  * aggregation (|symbols| rows, broadcast into the score join), a
  * 1-row TakeOrdered pick, and the word-keyed merge application;
  * lineage cut per round. */
object WordPiece {
  import TextOps._

  /** The shared training loop: per-round pick rows and the final
    * symbol state after `rounds` likelihood-ratio merges. */
  private def trainLoop(docs: DataFrame, textCol: String,
                        rounds: Int): (Seq[DataFrame], DataFrame) = {
    require(rounds >= 1, s"need >= 1 merge round, got $rounds")
    val vocab = docs
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .stage("wordPiece:vocab") // read every round (pair + unigram weights)
    val pw = Window.partitionBy("w").orderBy("pos")
    var st = vocab
      .select(col("w"), posexplode(
        expr("transform(sequence(0, length(w)-1), i -> substring(w, i+1, 1))"))
        .as(Seq("pos", "sym")))
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val withNext = st
        .withColumn("nxt", lead("sym", 1).over(pw))
        .stage(s"wordPiece:r$r") // read 3x: pair stats, unigram stats, apply
      val weighted = withNext.join(vocab, Seq("w"))
      val uni = weighted.groupBy(col("sym")).agg(sum("freq").as("ucnt"))
      val bestFull = weighted.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum("freq").as("cnt"))
        .join(broadcast(uni.select(col("sym").as("a"),
          col("ucnt").as("ca"))), Seq("a"))
        .join(broadcast(uni.select(col("sym").as("b"),
          col("ucnt").as("cb"))), Seq("b"))
        .withColumn("score_pico",
          expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000000000 div " +
            "(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"))
        .orderBy(desc("score_pico"), col("a"), col("b"))
        .limit(1)
      merges += bestFull.select(lit(r).as("merge_rank"),
        col("a").as("left_sym"), col("b").as("right_sym"),
        col("cnt").cast("long").as("pair_count"),
        col("ca").cast("long").as("left_count"),
        col("cb").cast("long").as("right_count"),
        col("score_pico"))
      st = Bpe.applyMerge(withNext, bestFull.select(col("a"), col("b")))
    }
    (merges.result(), st)
  }

  /** (merge table, final state), StageCache-shared across the lineage's
    * queries (q313/q317) — one lazy training run backs both builds,
    * the [[Bpe.stagedArtifacts]] idiom. */
  private def stagedArtifacts(docs: DataFrame, textCol: String,
                              rounds: Int): (DataFrame, DataFrame) = {
    lazy val trained = trainLoop(docs, textCol, rounds)
    def k(part: String) = StageCache.keyFor(docs, "wp", part, textCol, rounds)
    val merges = StageCache.getOrStage(k("merges"))(
      trained._1.reduce(_ unionAll _).stage("wordPiece:merges"))
    val st = StageCache.getOrStage(k("st"))(trained._2.stage("wordPiece:st"))
    (merges, st)
  }

  /** One row per training round: the picked merge with its pair count,
    * both unigram counts and the exact pico-unit likelihood-ratio
    * score — the frozen ordered artifact a WordPiece tokenizer ships
    * (`rounds` rows of metadata at any corpus size). */
  def mergeTable(docs: DataFrame, textCol: String,
                 rounds: Int = 6): DataFrame =
    stagedArtifacts(docs, textCol, rounds)._1.orderBy("merge_rank")

  /** The (word → piece count) serving map after `rounds` WordPiece
    * merges — the q238 corpus-application shape for THIS lineage
    * (q317's fertility matrix broadcasts it onto the token stream). */
  private[ext] def pieceCounts(docs: DataFrame, textCol: String,
                               rounds: Int): DataFrame =
    stagedArtifacts(docs, textCol, rounds)._2
      .groupBy("w").agg(count(lit(1)).as("np"))
}
