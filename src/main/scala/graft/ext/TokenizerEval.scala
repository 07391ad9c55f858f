package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Cross-lineage tokenizer FERTILITY evaluation (q317) — the number
  * every data card and tokenizer-selection decision quotes: per
  * language, tokens-per-word and bytes-per-token under each of the
  * suite's three production tokenizer lineages ([[Bpe]] count-argmax,
  * [[UnigramLm]] likelihood prune, [[WordPiece]] likelihood-ratio),
  * trained at an EQUAL vocabulary budget — the same number of LEARNED
  * multi-character units each (BPE merges = WordPiece merges = unigram
  * kept multi-char pieces), the only budget the three growth rules
  * share.
  *
  * Scale shape: each lineage trains over the VOCABULARY (the shared
  * contract of all three trainers — never the corpus), and the corpus
  * pays ONE broadcast (word → piece count) join per lineage over a
  * token stream staged once. Words outside a lineage's vocabulary
  * contract (non-`[a-z]+`, or over the unigram length cap) pass
  * through as one piece each — the q238/q284 pass-through reading,
  * applied uniformly so the three rows are comparable. `total_chars`
  * is bytes on the ASCII fixture (Verify asserts octet_length ==
  * length suite-wide), hence the bytes_per_token naming.
  */
object TokenizerEval {
  import TextOps._

  def fertilityMatrix(docs: DataFrame, langCol: String, textCol: String,
                      budget: Int = 6): DataFrame = {
    require(budget >= 1, s"need >= 1 learned unit, got $budget")
    val tw = docs.select(col(langCol).as("lang"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .stage("fertilityMatrix:tw") // tokenized once, read by all three legs
    // The BPE/WordPiece maps derive from their lineages' StageCache'd
    // trainer artifacts (shared with q232/q237/q238/q251 and q313);
    // the unigram chain has no other rider at THIS budget, so its map
    // is staged here (keyed by corpus + budget) for bench pass 2 /
    // retries.
    val npBpe = Bpe.pieceCounts(docs, textCol, budget)
    val npWp = WordPiece.pieceCounts(docs, textCol, budget)
    val npUni = StageCache.getOrStage(
      StageCache.keyFor(docs, "fertility", "uni", budget)) {
      val (_, _, _, _, np) = UnigramLm.trainState(docs, textCol,
        seedMulti = 48, keepMulti = budget, maxWordLen = 12,
        maxPieceLen = 4)
      np.stage("fertilityMatrix:unigramLm")
    }
    def leg(name: String, np: DataFrame): DataFrame =
      tw.join(broadcast(np.select(col("w"),
          col("np").cast("long").as("np"))), Seq("w"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("np").isNotNull, 1L).otherwise(0L))
            .as("covered_words"),
          sum(coalesce(col("np"), lit(1L))).as("total_pieces"),
          sum(length(col("w")).cast("long")).as("total_chars"))
        .select(lit(name).as("lineage"), col("lang"),
          col("n_words").cast("long").as("n_words"),
          col("covered_words").cast("long").as("covered_words"),
          col("total_pieces").cast("long").as("total_pieces"),
          col("total_chars").cast("long").as("total_chars"))
    leg("bpe", npBpe)
      .unionAll(leg("unigram", npUni))
      .unionAll(leg("wordpiece", npWp))
      .withColumn("tokens_per_word_micro",
        expr("total_pieces * 1000000 div n_words"))
      .withColumn("bytes_per_token_micro",
        expr("total_chars * 1000000 div total_pieces"))
      .orderBy("lineage", "lang")
  }
}
