package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis, TextClean, TextDedup, TextOps, UnigramLm}
import graft.model.Tables
import graft.operators.Stage.StageOps

/** Oracle-checked wrappers — text-analysis tier (token stats, quality,
  * language id, LM scores, BPE tokenizer family, vocabulary/corpus
  * statistics) over the `documents` table. Round-12 split of the former
  * `ExtQueries` object — values unchanged. */
object TextQueries {
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  def languageId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")


  /** Corpus report — the summary every training-data pipeline run ends
    * with: per (predicted language, quality gate) document counts,
    * unique-text counts (exact-dedup representatives), and mean token
    * counts. Composes languageId + qualityScore (both zero-shuffle
    * per-row projections over ONE scan) with the exact-dedup tier; the
    * whole report costs the dedup aggregation plus one group-by. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lang = TextAnalysis.languageId(docs, "doc_id", "text")
      .select(col("doc_id"), col("predicted_lang"))
    val qual = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("is_quality"))
    val reps = TextDedup.exactGroups(docs, "doc_id", "text")
      .select(col("rep_id").as("doc_id"), lit(1).as("is_rep"))
    lang.join(qual, "doc_id")
      .join(reps, Seq("doc_id"), "left")
      .groupBy("predicted_lang", "is_quality")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_rep"), lit(0))).cast("long").as("n_unique"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 4).as("avg_tokens"))
      .orderBy("predicted_lang", "is_quality")
  }

  /** Within-document repetition profile per doc (q53) — Gopher-style
    * repetition filtering over the corpus. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** PII scrub (q54) over normalized text AUGMENTED with synthetic
    * doc_id-derived PII (the corpus is word-soup with none of its own) —
    * the augmentation runs identically in the oracle, so the redaction
    * regexes are exercised value-for-value on every row rather than
    * no-op'ing to a trivially green pass-through. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val aug = concat(TextOps.normText(col("text")),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or https://ex.org/d/"), col("doc_id").cast("string"),
      lit("?ref=a call 010-1234-5678"))
    TextClean.piiScrub(docs.select(col("doc_id"), aug.as("aug_text")),
        "doc_id", "aug_text")
      .orderBy("doc_id")
  }

  /** Corpus token-length histogram (q55): 16-token fixed-width buckets. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenHistogram(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("bucket_lo")

  /** Exact corpus length quantiles (q56): one-row token/char percentile
    * report. */
  def corpusQuantiles(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusQuantiles(Tables.documents(spark, dir), "doc_id", "text")

  /** Content growth curve (q164): Heaps'-law shingle discovery per
    * 50-doc slice with the cumulative riding the distributed prefix
    * sum. */
  def contentGrowth(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.contentGrowth(Tables.documents(spark, dir), "doc_id", "text")

  /** Source-level MinHash similarity matrix (q165): per-source 16-hash
    * union signatures, pairwise matching-hash Jaccard estimates. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    TextDedup.sourceMinhashSimilarity(Tables.documents(spark, dir),
      "source", "text")

  /** Pairwise source SET-OPERATION estimates via KMV sketches (q180):
    * estimated distinct-shingle counts, union and intersection sizes in
    * absolute counts, per source pair — the capacity-planning numbers
    * ("how much NEW content does source B add over A?") that the q165
    * Jaccard matrix can't answer. Integer-exact estimator, so
    * oracle-checked value-for-value. */
  def sourceSetOps(spark: SparkSession, dir: String): DataFrame =
    TextDedup.kmvSourceSetOps(Tables.documents(spark, dir), "source", "text")

  /** Character-bigram LM perplexity scoring (q181): per-doc average
    * negative log-likelihood in integer micro-nats under the corpus's
    * own add-one-smoothed bigram model — the CCNet-style quality signal
    * whose tails hold gibberish and boilerplate. */
  def bigramLmNll(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(Tables.documents(spark, dir), "doc_id", "text")

  /** Word-bigram LM scoring with interpolated backoff (q283):
    * [[graft.ext.TextAnalysis.wordBigramLmScore]] — the q181 signal at
    * word granularity (the KenLM-filter shape): Jelinek–Mercer
    * interpolation λ=0.7, bigram table pruned at corpus count ≥ 2,
    * pruned/unseen bigrams scored on the add-one unigram backoff, with
    * the backoff traffic reported per doc. */
  def wordBigramLmNll(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordBigramLmScore(Tables.documents(spark, dir), "doc_id",
      "text")

  /** CCNet head/middle/tail perplexity split (q300): the final leg of
    * the CCNet pipeline (Wenzek et al. 2020 §4.3 — line dedup q266 +
    * LM scoring q181 + THIS bucketing): within each source, rank
    * documents by their q181 char-bigram LM score and cut into
    * perplexity tertiles — `head` (most fluent third) is what CCNet
    * ships to pretraining, `tail` is the gibberish reservoir. The cut
    * is per SOURCE (CCNet cuts per language/snapshot) so a noisy
    * source's head is still its own best third, not drowned by a clean
    * source's distribution.
    *
    * Exactness: bucket = ⌊3·(pos−1)/n⌋ over the total
    * (nll_micro, doc_id) order — integer arithmetic on an exact rank,
    * no percentile estimation. Scale: the LM pass is q181's (model
    * broadcast, integer aggregates); the per-source rank comes from
    * [[graft.operators.GroupedPrefix]] (NOT a source-partitioned
    * window — a 100× source would serialize into one task) and the
    * report is |source|·3 rows. */
  /** The shared per-source fluency-rank spine of q300 and q303:
    * (doc_id, source, nll_micro, pos, nsrc) — both queries rank the
    * SAME (source, nll, doc_id) relation through the same
    * [[graft.operators.GroupedPrefix]] axis, so the rank (one staging
    * pass + quantile + per-range scan) is [[graft.ext.StageCache]]-paid
    * once per session; each query joins its own extra column on top. */
  private def nllRankBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.StageCache.getOrStage(
        graft.ext.StageCache.keyFor(docs, "nll-rank-source")) {
      val nll = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("nll_micro"))
      val j = nll.join(docs.select(col("doc_id"), col("source")),
        Seq("doc_id"))
      graft.operators.GroupedPrefix.rankWithin(j, "source", "nll_micro",
          descending = false, ties = Seq(col("doc_id")), rankCol = "pos",
          nCol = Some("nsrc"))
        .stage("nllRankBySource:nCol")
    }
  }

  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    nllRankBySource(spark, dir).join(docs, Seq("doc_id"))
      .withColumn("bucket",
        expr("""CASE (3 * (pos - 1)) div nsrc WHEN 0 THEN 'head'
                |WHEN 1 THEN 'middle' ELSE 'tail' END""".stripMargin))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("nll_micro").as("min_nll_micro"),
        max("nll_micro").as("max_nll_micro"),
        sum("n_chars").as("n_chars"))
      .orderBy("source", "bucket")
  }

  /** Two-filter agreement with Cohen's kappa (q303): do the two
    * philosophies of quality filtering — the C4 heuristic cascade
    * (q62's keep) and the CCNet perplexity head (q300's most-fluent
    * tertile) — agree BEYOND CHANCE? Raw agreement flatters any pair
    * of mostly-keep filters; kappa subtracts the chance term
    * (κ = (pₒ − pₑ)/(1 − pₑ)), the standard inter-rater statistic, so
    * a source where κ ≈ 0 is where the two stacks genuinely disagree —
    * the first place a curation team audits. Per-source rows plus the
    * `__all__` pool (the q297 self-calibrating idiom).
    *
    * Exactness: the 2×2 cell counts are exact integer sums; pₒ and pₑ
    * stay as exact DECIMAL(38,0) rationals (A·N vs Σ marginal
    * products) and κ is ONE sign-split ppm floor division — κ can be
    * negative (systematic disagreement) and truncate-vs-floor diverges
    * there. Scale: one C4 scoring pass (scan-fused), one q181 LM pass,
    * a [[graft.operators.GroupedPrefix]] per-source rank (NOT a
    * source-keyed window — one task per source at 100×), one
    * |sources|-row rollup. */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val c4 = graft.ext.QualityFilters.c4Filter(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").cast("long").as("r1"))
    val rated = nllRankBySource(spark, dir).join(c4, Seq("doc_id"))
      .withColumn("r2",
        (expr("(3 * (pos - 1)) div nsrc") === 0).cast("long"))
    val per = rated.groupBy("source").agg(count(lit(1)).as("n"),
      sum(col("r1") * col("r2")).as("n11"),
      sum(col("r1") * (lit(1L) - col("r2"))).as("n10"),
      sum((lit(1L) - col("r1")) * col("r2")).as("n01"),
      sum((lit(1L) - col("r1")) * (lit(1L) - col("r2"))).as("n00"))
      .stage("filterAgreement:per") // read by the report AND the __all__ pool
    val pooled = per.groupBy().agg(sum("n").as("n"), sum("n11").as("n11"),
      sum("n10").as("n10"), sum("n01").as("n01"), sum("n00").as("n00"))
      .select(lit("__all__").as("source"), col("n"), col("n11"),
        col("n10"), col("n01"), col("n00"))
    def d(c: Column) = c.cast("decimal(19,0)")
    per.unionAll(pooled)
      .withColumn("a", col("n11") + col("n00"))
      .withColumn("e_num",
        d(col("n11") + col("n10")) * d(col("n11") + col("n01")) +
          d(col("n00") + col("n01")) * d(col("n00") + col("n10")))
      .withColumn("num", d(col("n")) * d(col("a")) - col("e_num"))
      .withColumn("den", d(col("n")) * d(col("n")) - col("e_num"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        col("n11").cast("long").as("n_both_keep"),
        col("n10").cast("long").as("n_c4_only"),
        col("n01").cast("long").as("n_lm_only"),
        col("n00").cast("long").as("n_both_drop"),
        expr("a * 1000000 div n").cast("long").as("agree_ppm"),
        expr("""CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
                |WHEN num < 0 THEN
                |  CAST(-((-num) * 1000000 div den) AS BIGINT)
                |ELSE CAST(num * 1000000 div den AS BIGINT) END"""
          .stripMargin).as("kappa_ppm"))
      .orderBy("source")
  }

  /** Kneser–Ney word-bigram LM scoring (q293):
    * [[graft.ext.TextAnalysis.kneserNeyBigramScore]] — the smoothing
    * KenLM-filter pipelines actually ship: absolute discount D=0.75
    * with a continuation-probability backoff (a word scores by how many
    * distinct contexts it follows), bigram table pruned at corpus
    * count ≥ 2, backoff traffic reported per doc. */
  def kneserNeyNll(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.kneserNeyBigramScore(Tables.documents(spark, dir), "doc_id",
      "text")

  /** Unigram-LM (SentencePiece-style) tokenizer fertility (q284):
    * [[graft.ext.UnigramLm.fertilityBySource]] — seed substrings,
    * Viterbi E-step, usage prune, re-estimated E-step; per-source
    * fertility under the pruned vocabulary with before/after vocab
    * sizes in the row. */
  def unigramLmFertility(spark: SparkSession, dir: String): DataFrame =
    UnigramLm.fertilityBySource(Tables.documents(spark, dir), "source",
      "text")

  /** Quality-funnel matrix by source (q185): which sources lose what
    * fraction of documents to which C4-cascade rule — the audit view a
    * data team reads before re-crawling or re-weighting a source. One
    * zero-shuffle scoring pass (the q62 cascade with `source` carried
    * through), one (source, reason) count, and per-source shares from a
    * metadata-scale window over the aggregated grid. */
  def qualityFunnelBySource(spark: SparkSession, dir: String): DataFrame = {
    val f = graft.ext.QualityFilters.c4Filter(Tables.documents(spark, dir),
      "doc_id", "text", carry = Seq("source"))
    f.groupBy("source", "reject_reason")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_ppm",
        expr("(n_docs * 1000000) div sum(n_docs) over (partition by source)"))
      .orderBy("source", "reject_reason")
  }

  /** Character-entropy report (q182): per-doc Shannon entropy of the
    * character distribution in integer micro-nats — low tail = repeated
    * filler, high tail = random noise; no model table, no joins. */
  def charEntropyReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(Tables.documents(spark, dir), "doc_id", "text")

  /** Per-source language diversity (q160): inverse Simpson effective
    * language count over the declared `lang` column, exact milli. */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceDiversity(Tables.documents(spark, dir), "source", "lang")

  /** Vocabulary top-20 (q60): the corpus Zipf head with occurrence and
    * doc frequencies. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(Tables.documents(spark, dir), "doc_id", "text", k = 20)
      .orderBy("rank")

  /** Corpus TF-IDF head per source (q88): top-10 terms of each source
    * slice, integer-ranked by term frequency, weighted by corpus-wide
    * IDF. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text",
        "source", k = 10)
      .orderBy("source", "rank")

  /** C4/Gopher rule-cascade quality filter (q62): per-doc metrics, the
    * 0/1 keep gate, and the first-failing-rule reject reason. Default
    * thresholds — calibrated so every rule fires on the driver corpus. */
  def c4Filter(spark: SparkSession, dir: String): DataFrame =
    graft.ext.QualityFilters.c4Filter(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Document chunking (q75): 64-token windows with 16-token overlap,
    * provenance-keyed — the context-window shaping pass before sequence
    * training or embedding. */
  def chunk(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Chunking.chunk(Tables.documents(spark, dir), "doc_id", "text",
        chunkTokens = 64, overlap = 16)
      .orderBy("doc_id", "chunk_idx")

  /** BPE merge candidates (q77): top-20 adjacent token pairs — the
    * first-iteration merge table of byte-pair vocabulary training. */
  def bpeMergePairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeMergePairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 20)
      .orderBy("rank")

  /** Feature-hashing vectorizer (q131): train-free signed-hashing text
    * vectors in long form, exact integer bucket sums, L2-normalized at
    * the final rounded ratio. */
  def hashingVectorize(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashingVectorize(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id", "bucket")

  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.cmsHeavyHitters(Tables.documents(spark, dir), "doc_id", "text")

  def langSourceMix(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langSourceMix(Tables.documents(spark, dir), "source", "text")

  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(Tables.documents(spark, dir), "doc_id", "text")

  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(spark, dir), "doc_id", "text")

  /** Frozen-weight quality classifier over the corpus (q222): the q131
    * hashed features scored by
    * [[graft.ext.TextAnalysis.qualityClassifier]] — per-doc integer
    * logits, argmax class, margin. Closes the model-scored-filter
    * archetype under the q179 stand-in contract. */
  def qualityClassify(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityClassifier(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  /** Jensen–Shannon divergence matrix (q196): pairwise JSD between the
    * sources' token distributions in exact integer micro-nats — the
    * symmetric bounded drift statistic data-mixing reports lead with. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Drift.jsDivergenceMatrix(Tables.documents(spark, dir),
      "source", "text")

  /** PMI collocations (q206): top adjacent word pairs by pointwise
    * mutual information in micro-nats —
    * [[graft.ext.TextAnalysis.pmiCollocations]]. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(Tables.documents(spark, dir),
      "doc_id", "text")

  /** BPE encode (q232): six fixed merge rounds over the corpus word
    * vocabulary via [[graft.ext.Bpe.bpeSegment]] — the top-40 words by
    * frequency with their learned segmentations and corpus-weighted
    * piece counts. Closes the tokenizer archetype q112 only proxies. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    Bpe.bpeSegment(Tables.documents(spark, dir), "doc_id", "text",
      rounds = 6, topWords = 40)

  /** BPE ordered merge table (q237): the frozen merge list q232's
    * training produces — per round the argmax adjacent symbol pair with
    * its weighted count ([[graft.ext.Bpe.bpeMergeTable]]). */
  def bpeMergeList(spark: SparkSession, dir: String): DataFrame =
    Bpe.bpeMergeTable(Tables.documents(spark, dir), "doc_id", "text",
      rounds = 6)

  /** WordPiece ordered merge table (q313) — the THIRD production
    * tokenizer lineage (BPE grows by count, unigram-LM prunes by
    * likelihood, WordPiece grows by likelihood RATIO):
    * [[graft.ext.WordPiece.mergeTable]] — per round the argmax pair by
    * exact pico-unit ⌊cnt·10¹²/(ca·cb)⌋ with both unigram counts. */
  def wordPieceMerges(spark: SparkSession, dir: String): DataFrame =
    graft.ext.WordPiece.mergeTable(Tables.documents(spark, dir), "text",
      rounds = 6)

  /** Corpus-wide BPE application rate per source (q238):
    * [[graft.ext.Bpe.bpeApplyRate]] — the word→pieces map broadcast
    * onto the token stream, fertility + chars-per-piece per source. */
  def bpeApplyReport(spark: SparkSession, dir: String): DataFrame =
    Bpe.bpeApplyRate(Tables.documents(spark, dir), "source", "text",
      rounds = 6)

  /** BPE vocab-size sweep (q251): [[graft.ext.Bpe.bpeRoundSweep]] —
    * one training, read out after every merge round; fertility and
    * compression vs merge budget. */
  def bpeSweepReport(spark: SparkSession, dir: String): DataFrame =
    Bpe.bpeRoundSweep(Tables.documents(spark, dir), "doc_id", "text",
      rounds = 6)

  /** Zipf rank-frequency fit (q271):
    * [[graft.ext.TextAnalysis.zipfFit]] — per-source OLS of ln(freq)
    * on ln(rank) over the top-100 vocabulary; slope ≈ −10⁶ (e6 units)
    * for natural text. The synthetic word-soup corpus measures
    * ≈ −0.3·10⁶ with low R² — honest: its vocabulary is deliberately
    * near-uniform, which is exactly what this probe is built to flag. */
  def zipfFitReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(spark, dir), "doc_id",
      "source", "text")

  /** Good–Turing coverage + Chao1 richness (q272):
    * [[graft.ext.TextAnalysis.goodTuringCoverage]] — per-source unseen
    * probability mass, sample coverage, and the bias-corrected Chao1
    * estimate of the true vocabulary size. */
  def goodTuringReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.goodTuringCoverage(Tables.documents(spark, dir),
      "doc_id", "source", "text")

  /** Distinct-n diversity (q275):
    * [[graft.ext.TextAnalysis.distinctNgramDiversity]] — per-source
    * distinct-1/2/3 word n-gram ratios (Li et al. 2016), the lexical-
    * diversity and boilerplate-flood probe. */
  def diversityReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctNgramDiversity(Tables.documents(spark, dir),
      "doc_id", "source", "text")

  /** Tokenizer fertility matrix (q317): tokens-per-word and
    * bytes-per-token per (lineage, language) for the three production
    * lineages at an equal 6-learned-unit vocabulary budget —
    * [[graft.ext.TokenizerEval.fertilityMatrix]]. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TokenizerEval.fertilityMatrix(Tables.documents(spark, dir),
      "lang", "text", budget = 6)
}
