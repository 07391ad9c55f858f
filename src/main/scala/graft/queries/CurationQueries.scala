package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis, TextClean, TextDedup, TextOps}
import graft.model.Tables
import graft.operators.Stage.StageOps

/** Oracle-checked wrappers — curation tier (splits, sampling, packing,
  * token budgets, mixtures, drift, calibration, data cards) over the
  * driver test tables. Round-12 split of the former `ExtQueries`
  * object — values unchanged. */
object CurationQueries {

  /** q311's MW round count — the ONE constant both the engine default
    * ([[domainReweightTrajectory]]) and the oracle's unrolled CTEs
    * (`OracleCuration.mwTrajectorySql`) derive from, so changing it in
    * one place can't silently break parity. */
  val MwTrajectoryRounds = 4
  /** Deterministic 90/5/5 hash-split stats (q52): per-split doc counts,
    * id ranges, char volume, and how many of each split's docs the
    * deterministic 10% subsample keeps. Split assignment is affine-mod
    * arithmetic on doc_id — stable under corpus appends, reproducible in
    * the oracle. */
  def splitStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Sampling.hashSplit(docs, "doc_id", Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .withColumn("in_sample",
        when(Sampling.bucket100(col("doc_id")) < 10, 1L).otherwise(0L))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(col("in_sample")).as("n_in_10pct_sample"))
      .orderBy("split")
  }

  /** Stratified mixture rebalance (q57): downsample dominant languages
    * (en → 25%), keep rare ones whole (zh → 100%), 60% default —
    * deterministic per-language sample, reported as per-language
    * total/kept/rate. */
  def stratifiedMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = Sampling.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 25, "zh" -> 100), defaultPct = 60)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_total"), 4)
          .as("kept_rate"))
      .orderBy("lang")
  }

  /** Sequence packing report (q59): 2048-token bins over doc_id order. */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.packingReport(Tables.documents(spark, dir),
        "doc_id", "text", budget = 2048)
      .orderBy("bin")

  /** Temperature-scaled mixture report (q138): √-proportional source
    * rebalancing targeting 40% of the corpus — per-source weights,
    * keep rates (ppm) and deterministic hash-gated kept counts. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixReport(Tables.documents(spark, dir), "source",
        "doc_id", targetPct = 40)
      .orderBy("source")

  /** Temperature sweep of the mixture sampler (q288):
    * [[graft.ext.Sampling.temperatureSweep]] — the q138 α=½ point
    * measured across τ ∈ {¼, ½, ¾, 1} with per-τ effective source
    * counts; same 40% target as q138. */
  def temperatureSweepReport(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSweep(Tables.documents(spark, dir), "source",
      targetPct = 40)

  /** Token-length KS drift (q139): exact two-sample Kolmogorov–Smirnov
    * distance between the token-count distributions of the even- and
    * odd-id corpus halves — the snapshot-drift monitor, integer-exact
    * via the distributed prefix sum. */
  def tokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      size(TextOps.tokens(TextOps.normText(col("text")))).cast("long")
        .as("n_tokens"))
    graft.ext.Drift.ksReport(
      toks.filter(col("doc_id") % 2 === 0),
      toks.filter(col("doc_id") % 2 === 1), "n_tokens")
  }

  /** Per-language packing report (q141): independent 2048-token bin
    * sequences per language over doc_id order — per-group shards from
    * ONE global prefix sum (no per-group window, so a dominant
    * language can't serialize its slice). */
  def groupedPacking(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.packingReportGrouped(Tables.documents(spark, dir),
        "lang", "doc_id", "text", budget = 2048)
      .orderBy("lang", "bin")

  /** Weighted systematic PPS sample (q144): 100 draws proportional to
    * document length — the deterministic no-RNG sampler
    * ([[graft.ext.Sampling.systematicSample]]) whose exclusive prefix
    * rides the distributed two-pass prefix sum, so the layout-line scan
    * never plans an unpartitioned window. Long docs can be drawn more
    * than once (`multiplicity`). */
  def systematicSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.systematicSample(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", k = 100)
      .orderBy("doc_id")

  /** End-to-end curation pipeline (q162): the full LLM-data flow —
    * C4-style quality gate → exact dedup (smallest id per normalized
    * text) → temperature-scaled source rebalance → 2048-token packing —
    * composed as ONE declarative plan from the operators the suite
    * already oracles individually (q62, q32, q138, q59). The report is
    * the per-source funnel (input → quality → dedup → final, with final
    * token mass) plus the global packed-bin count. Scale posture: each
    * stage reuses its operator's shape (zero-shuffle scoring, text-keyed
    * dedup agg, broadcast rate gate, two-pass prefix packing); the
    * funnel counts are source-keyed partial aggs of each stage's
    * survivor projection. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keptIds = graft.ext.QualityFilters.c4Filter(docs, "doc_id", "text")
      .filter(col("keep") === 1).select("doc_id")
    val q = docs.join(keptIds, Seq("doc_id"))
    val repIds = q.select(col("doc_id"), TextOps.normText(col("text")).as("t"))
      .groupBy("t").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val dd = q.join(repIds, Seq("doc_id"))
    val fin = Sampling.temperatureMixFilter(dd, "source", "doc_id",
        targetPct = 40)
      .stage("curationPipeline:targetPct") // funnel count, token mass and packing re-read it
    val c0 = docs.groupBy("source").agg(count(lit(1)).as("n_input"))
    val c1 = q.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val c2 = dd.groupBy("source").agg(count(lit(1)).as("n_dedup"))
    val c3 = fin.groupBy("source").agg(count(lit(1)).as("n_final"),
      sum(size(TextOps.tokens(TextOps.normText(col("text")))).cast("long"))
        .as("sum_tokens_final"))
    val bins = graft.ext.Packing.packingReport(fin, "doc_id", "text", 2048)
      .agg(count(lit(1)).as("n_bins_global"))
    c0.join(c1, Seq("source"), "left")
      .join(c2, Seq("source"), "left")
      .join(c3, Seq("source"), "left")
      .crossJoin(broadcast(bins))
      .select(col("source"), col("n_input"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("sum_tokens_final"), lit(0L)).as("sum_tokens_final"),
        col("n_bins_global"))
      .orderBy("source")
  }

  /** Per-source quota (q63): keep at most 15 docs per source,
    * deterministic hash-order winners — the per-origin cap against
    * boilerplate-heavy domains. Runs the salted two-level form because
    * `source` is low-cardinality (the skewed-window case at scale);
    * output is provably identical to the single-window
    * `Sampling.perKeyQuota`, which SamplingSpec pins on a synthetic
    * hot key. */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.perKeyQuotaSalted(Tables.documents(spark, dir), "source", "doc_id",
        cap = 15, salts = 16)
      .select("source", "doc_id", "n_chars")
      .orderBy("source", "doc_id")

  /** Deterministic corpus shuffle (q64): 8 shards, hash-ordered
    * positions — the reproducible global training order. */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardShuffle(Tables.documents(spark, dir), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  /** Token-rarity scoring (q67): per-doc mean unigram rank + OOV rate
    * against the corpus top-20 vocabulary — the integer-exact perplexity
    * proxy. */
  def rarityScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.rarityScore(Tables.documents(spark, dir), "doc_id", "text",
        vocabK = 20)
      .orderBy("doc_id")

  /** Quality-weighted deterministic sampling (q78): keep rate depends on
    * the q29 quality gate (80% for quality docs, 20% otherwise) via the
    * same affine-mod bucket as every other sampling op — the
    * quality-aware mixture step between scoring and training. Reported
    * per (is_quality): totals, kept, rate. */
  def qualityWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("is_quality"))
    val keepPct = lit(20) + col("is_quality") * 60
    scored
      .withColumn("kept",
        when(Sampling.bucket100(col("doc_id")) < keepPct, 1L).otherwise(0L))
      .groupBy("is_quality")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
        round(sum(col("kept")).cast("double") / count(lit(1)), 4).as("kept_rate"))
      .orderBy("is_quality")
  }


  /** Per-source DATA CARD (q231) — the datasheet row a corpus release
    * publishes per source (Gebru et al.'s "Datasheets for Datasets",
    * operationalized): document count, token volume, tokens/doc,
    * heuristic-quality rate, exact-duplicate rate (md5 of normalized
    * text, WITHIN source), and the majority predicted language with
    * its share — one governance-ready row per source, composed from
    * the suite's own per-doc components (q28 tokens, q29 quality, q30
    * langid, q32's dedup idea) rather than re-derived.
    *
    * Scale shape: each component is a zero-shuffle scored projection;
    * the compositions join on the doc key, the rollups on the source
    * key, and every post-aggregation relation is |sources|-sized. All
    * rates are exact floor-ppm integers. */
  def sourceDataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perDoc = docs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.tokenStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_ws_tokens")), Seq("doc_id"))
      .join(TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_quality")), Seq("doc_id"))
      .join(TextAnalysis.languageId(docs, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang")), Seq("doc_id"))
      .stage("sourceDataCard:perDoc") // read 2x: base rollup + language mix
    val base = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_ws_tokens").cast("long")).as("total_tokens"),
      sum(col("is_quality").cast("long")).as("nq"))
    val lang = perDoc.groupBy("source", "predicted_lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("c").desc, col("predicted_lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("predicted_lang").as("top_lang"),
        col("c").as("top_n"))
    val dup = docs
      .select(col("source"), md5(TextOps.normText(col("text"))).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup"))
    base.join(lang, Seq("source")).join(dup, Seq("source"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("total_tokens"),
        expr("total_tokens * 1000000 div n_docs").as("tokens_per_doc_micro"),
        expr("nq * 1000000 div n_docs").as("quality_ppm"),
        expr("n_dup * 1000000 div n_docs").as("dup_ppm"),
        col("top_lang"),
        expr("top_n * 1000000 div n_docs").as("top_lang_ppm"))
      .orderBy("source")
  }

  /** Token-budget waterfilling (q204): allocate 50% of the corpus's
    * whitespace tokens across sources, no source above 30% of the
    * budget, excess redistributed proportionally —
    * [[graft.ext.Sampling.waterfillBudget]] over per-source token
    * counts. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.ext.TextOps.tokens(
          graft.ext.TextOps.normText(col("text")))).cast("long").as("tk"))
      .groupBy("source").agg(sum("tk").as("tk"))
    Sampling.waterfillBudget(counts, "source", "tk")
  }

  /** Curriculum quartile bins (q205): per-source equi-depth quality
    * quartiles (stopword-ratio score) with token budgets —
    * [[graft.ext.TextAnalysis.curriculumBins]]. */
  def curriculumBins(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.curriculumBins(Tables.documents(spark, dir),
      "source", "doc_id", "text")

  /** Percentile-rank quality normalization (q208) — the feature
    * transform that makes per-source quality scores COMPARABLE across
    * sources whose raw score distributions differ (a web crawl and a
    * books corpus don't share a stopword-ratio scale): each document's
    * score becomes its exact within-source percentile rank
    * (rank−1)·10⁶ div (n−1) — 0 for the best-ranked, 10⁶ for the worst
    * — over the (score desc, doc_id) total order, so ranks are unique
    * and both engines floor the identical rational. One scored scan
    * projection; the per-source rank and count come from
    * [[graft.operators.GroupedPrefix]] (NOT a source-partitioned
    * window — one task per source at 100×); single-document sources
    * pin to 0 rather than divide by zero. */
  def percentileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.ext.TextOps.normText(col("text"))
    val toks = graft.ext.TextOps.tokens(t)
    val nTokens = size(toks).cast("long")
    val nStop = size(org.apache.spark.sql.functions.filter(toks,
      w => w.isInCollection(TextAnalysis.Stopwords))).cast("long")
    val scored = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), nTokens.as("n_tokens"),
        nStop.as("n_stop"))
      .withColumn("score_ppm",
        expr("n_stop * 1000000 div greatest(n_tokens, 1)"))
    graft.operators.GroupedPrefix.rankWithin(scored, "source", "score_ppm",
        descending = true, ties = Seq(col("doc_id")), rankCol = "rk",
        nCol = Some("n"))
      .select(col("source"), col("doc_id"),
        col("score_ppm").cast("long").as("score_ppm"),
        expr("CAST((rk - 1) * 1000000 div greatest(n - 1, 1) AS BIGINT)")
          .as("pct_ppm"))
      .orderBy("source", "doc_id")
  }

  /** Leakage-free eval split (q219): the composition every benchmark
    * pipeline needs and the pieces alone don't give — an 80/20
    * train/eval hash split (q44/q63's append-stable affine buckets)
    * where any eval document sharing a MinHash LSH band bucket with ANY
    * train document is EXCLUDED from eval. A hash split alone guarantees
    * disjoint doc_ids, not disjoint CONTENT: near-duplicates straddle
    * the split boundary and leak training text into the benchmark
    * (the q58 decontamination problem, applied at split time instead of
    * after the fact). Band buckets are the q34 scan-side kernel
    * signatures — no pair enumeration at all here; a candidate
    * COLLISION is grounds for exclusion (recall over precision: evicting
    * a false-positive eval doc costs a row, keeping a false-negative
    * poisons the benchmark).
    *
    * Scale shape: one kernel projection to (doc, band, band_hash), two
    * split-filtered semi/anti joins keyed on the band bucket — the only
    * shuffles carry 16-byte band rows, never documents. Docs too short
    * to shingle emit no bands and can never collide; they stay in eval
    * by construction (stated, not accidental). */
  def leakFreeEvalSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = Sampling.bucket100(col("doc_id"))
    val bands = TextDedup.minhashBands(docs, "doc_id", "text")
      .withColumn("bucket", Sampling.bucket100(col("doc_id")))
    val trainBuckets = bands.filter(col("bucket") < 80)
      .select("band", "band_hash").distinct()
    val leaky = bands.filter(col("bucket") >= 80)
      .join(trainBuckets, Seq("band", "band_hash"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(bucket >= 80)
      .join(leaky, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Classifier evaluation harness (q235): confusion matrix and
    * per-class precision/recall/F1 (exact floor ppm) of the q222
    * frozen-weight classifier against the 3-class
    * [[graft.ext.TextAnalysis.ruleQualityLabel]] rule gate — the eval
    * loop that turns "the classifier produces classes" into "and here
    * is how well they track the rule labels". */
  def classifierEvalReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierEval(Tables.documents(spark, dir), "doc_id", "text")

  /** TOKEN-BUDGET greedy selection (q240) — "fill half the training
    * budget with the best documents": every doc scored by the q205
    * stopword-ratio quality proxy (exact floor ppm), globally ordered
    * by (score desc, doc_id), and kept while the running token total
    * stays within a POPULATION-RELATIVE budget (half the corpus's
    * tokens — non-vacuous at every scale factor, the q155 lesson). The
    * running total is the q59 two-pass [[graft.operators.PrefixSum]],
    * NOT an unpartitioned window — the plan survives any corpus size.
    * Output: per (source, kept) — docs, tokens, and the budget the
    * selection ran under, the mixture readout a data-budget report
    * leads with. */
  def tokenBudgetSelection(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = TextOps.normText(col("text"))
    val toks = TextOps.tokens(t)
    val scored = docs.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(TextAnalysis.Stopwords))).cast("long")
          .as("n_stop"))
      .withColumn("score_ppm",
        expr("n_stop * 1000000 div greatest(n_tokens, 1)"))
    val withPrefix = graft.operators.PrefixSum.exclusive(scored,
      "score_ppm", descending = true, ties = Seq(col("doc_id")),
      valueCol = "n_tokens", outCol = "prefix_tokens")
    val budget = scored.agg(expr("sum(n_tokens) div 2").as("budget"))
    withPrefix.crossJoin(broadcast(budget))
      .withColumn("kept",
        when(col("prefix_tokens") + col("n_tokens") <= col("budget"), 1)
          .otherwise(0).cast("int"))
      .groupBy("source", "kept")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
        min("score_ppm").as("min_score_ppm"),
        max("score_ppm").as("max_score_ppm"),
        max("budget").as("budget_tokens"))
      .select(col("source"), col("kept"),
        col("n_docs").cast("long").as("n_docs"),
        col("tokens").cast("long").as("tokens"),
        col("min_score_ppm").cast("long").as("min_score_ppm"),
        col("max_score_ppm").cast("long").as("max_score_ppm"),
        col("budget_tokens").cast("long").as("budget_tokens"))
      .orderBy("source", "kept")
  }

  /** Classifier calibration bins (q241):
    * [[graft.ext.TextAnalysis.calibrationBins]] — the q222 frozen
    * classifier's margin-binned agreement curve against the q235 rule
    * labels, the reliability diagram behind a margin cutoff. */
  def calibrationReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.calibrationBins(Tables.documents(spark, dir), "doc_id",
      "text", binWidth = 40L)

  /** PSI drift per source (q242):
    * [[graft.ext.TextAnalysis.psiDrift]] — population stability index
    * of the token-count distribution, even-id reference half vs odd-id
    * current half, completing the drift triad with q139 (KS) and q196
    * (JSD). */
  def psiDriftReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.psiDrift(Tables.documents(spark, dir), "doc_id",
      "source", "text", binTokens = 16L)

  /** DSIR importance selection (q243):
    * [[graft.ext.TextAnalysis.dsirWeights]] — hashed-unigram importance
    * weights toward the `lang = 'en'` target slice, top-40 most
    * target-like docs (Xie et al. 2023). */
  def dsirSelection(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(Tables.documents(spark, dir), "doc_id",
      "source", "lang", "text", dim = 64, topK = 40)

  /** QUALITY THRESHOLD SWEEP (q249) — the filter-tuning curve: docs
    * binned by the q240 stopword-ratio score (fixed width 50k ppm, so
    * ≤ 21 bins at ANY corpus size), per bin the doc/token volumes plus
    * the CUMULATIVE volumes retained if the quality gate were set at
    * that bin's lower edge (keep score ≥ bin·50k) — "which threshold
    * hits my token budget", the dual of q240's budget-first selection.
    * The cumulative sums come from a nonequi self-join of the BIN
    * relation against itself — bounded 21×21 by construction (the bin
    * count is fixed by the ppm width, independent of the corpus), so
    * the broadcast nested-loop is metadata work, never a window over
    * data.
    *
    * Scale shape: one scan-side score projection, one bin-keyed count;
    * everything after runs on ≤ 21 rows. */
  def qualityThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = TextOps.normText(col("text"))
    val toks = TextOps.tokens(t)
    val scored = docs.select(
        size(toks).cast("long").as("n_tokens"),
        size(org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(TextAnalysis.Stopwords))).cast("long")
          .as("n_stop"))
      .withColumn("score_ppm",
        expr("n_stop * 1000000 div greatest(n_tokens, 1)"))
      .withColumn("bin", expr("score_ppm div 50000"))
    val bins = scored.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .stage("qualityThresholdSweep:bins") // <= 21 rows; read by cum join (both sides) + total
    val tot = bins.agg(sum("tokens").as("tt"))
    val cum = bins.select(col("bin"))
      .join(bins.select(col("bin").as("b2"), col("n_docs").as("nd2"),
        col("tokens").as("tk2")), col("b2") >= col("bin"))
      .groupBy("bin")
      .agg(sum("nd2").as("cum_docs"), sum("tk2").as("cum_tokens"))
    bins.join(cum, Seq("bin")).crossJoin(broadcast(tot))
      .select(col("bin").cast("long").as("bin"),
        (col("bin") * 50000).cast("long").as("threshold_ppm"),
        col("n_docs").cast("long").as("n_docs"),
        col("tokens").cast("long").as("tokens"),
        col("cum_docs").cast("long").as("cum_docs"),
        col("cum_tokens").cast("long").as("cum_tokens"),
        expr("cum_tokens * 1000000 div tt").as("cum_token_share_ppm"))
      .orderBy("bin")
  }

  /** CAPPED TOKEN-BUDGET selection (q261) — q240's greedy budget with
    * a FAIRNESS constraint: fill half the corpus's tokens with the
    * best-scoring documents, but no source may contribute more than
    * 70% of ITS OWN tokens (the anti-capture rule a mixture curator
    * actually runs — pure greedy lets one verbose source eat the
    * budget). A doc is kept iff BOTH its global positional prefix fits
    * the budget AND its within-source positional prefix fits the
    * source cap — the q240 positional-prefix convention on both
    * constraints (prefixes accumulate over dropped docs too; stated,
    * exactly replayable). Global prefix = the two-pass
    * [[graft.operators.PrefixSum]]; source prefix = a SOURCE-KEYED
    * window (bounded per-key state) — no unpartitioned window
    * anywhere. Per (source, kept): volumes plus both binding limits,
    * so the readout shows WHICH constraint bit.
    *
    * Scale shape: one scan-side score projection, the q59 two-pass
    * prefix, one source-keyed window sharing the same sort order, a
    * 1-row budget broadcast and a |sources|-row cap join. */
  def cappedBudgetSelection(spark: SparkSession, dir: String,
                            budgetPpm: Long = 500000L,
                            srcCapPpm: Long = 700000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = TextOps.normText(col("text"))
    val toks = TextOps.tokens(t)
    val scored = docs.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(org.apache.spark.sql.functions.filter(toks,
          w => w.isInCollection(TextAnalysis.Stopwords))).cast("long")
          .as("n_stop"))
      .withColumn("score_ppm",
        expr("n_stop * 1000000 div greatest(n_tokens, 1)"))
    val withGlobal = graft.operators.PrefixSum.exclusive(scored,
      "score_ppm", descending = true, ties = Seq(col("doc_id")),
      valueCol = "n_tokens", outCol = "g_prefix")
    // per-source running budget via GroupedPrefix — a source-partitioned
    // running-sum window would hand each source's full corpus slice to
    // one task at 100×, the same serialization as a rank window
    val withSrc = graft.operators.GroupedPrefix.exclusiveMulti(withGlobal,
      "source", "score_ppm", descending = true, ties = Seq(col("doc_id")),
      valueCols = Seq("n_tokens" -> "s_prefix"))
    val budget = scored.agg(
      expr(s"sum(n_tokens) * $budgetPpm div 1000000").as("budget"))
    val caps = scored.groupBy("source")
      .agg(expr(s"sum(n_tokens) * $srcCapPpm div 1000000").as("src_cap"))
    withSrc.crossJoin(broadcast(budget))
      .join(broadcast(caps), Seq("source"))
      .withColumn("kept",
        when(col("g_prefix") + col("n_tokens") <= col("budget") &&
          col("s_prefix") + col("n_tokens") <= col("src_cap"), 1)
          .otherwise(0).cast("int"))
      .groupBy("source", "kept")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
        max("budget").as("budget_tokens"), max("src_cap").as("src_cap_tokens"))
      .select(col("source"), col("kept"),
        col("n_docs").cast("long").as("n_docs"),
        col("tokens").cast("long").as("tokens"),
        col("budget_tokens").cast("long").as("budget_tokens"),
        col("src_cap_tokens").cast("long").as("src_cap_tokens"))
      .orderBy("source", "kept")
  }

  /** Conformal selective prediction (q256):
    * [[graft.ext.TextAnalysis.conformalSelective]] — even-half
    * calibrated margin threshold (α = 10%), odd-half accept/abstain
    * readout per predicted class. */
  def conformalReport(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.conformalSelective(Tables.documents(spark, dir),
      "doc_id", "text")

  /** NEYMAN ALLOCATION (q255) — variance-optimal stratified sampling
    * design (Neyman 1934): given a total sample budget (10% of the
    * corpus), allocate per-source sample sizes n_h ∝ N_h·σ_h (σ = the
    * population SD of the token-count metric within the stratum) —
    * the design that minimizes the estimator variance for a fixed
    * budget, vs the proportional allocation (n_h ∝ N_h) also reported
    * for contrast. Exact-integer contract: per stratum the sufficient
    * statistics (N, Σx, Σx²) are exact longs; σ quantizes once to
    * round-e6 via the identical-doubles idiom (sqrt of the SAME
    * integer variance numerator on both engines); every allocation is
    * a floor division of integer products, clamped to the stratum
    * size.
    *
    * Scale shape: one scan-side projection + one source-keyed
    * aggregation; everything after runs on |sources| rows. */
  def neymanAllocation(spark: SparkSession, dir: String,
                       budgetPpm: Long = 100000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = TextOps.normText(col("text"))
    val st = docs.select(col("source"),
        size(TextOps.tokens(t)).cast("long").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("nh"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      // population variance numerator: N·Σx² − (Σx)² (exact, ≥ 0);
      // σ_e6 = round(sqrt(num)/N · 1e6) — sqrt of identical integers.
      .withColumn("s2num", col("nh") * col("sxx") - col("sx") * col("sx"))
      .withColumn("sigma_e6",
        round(sqrt(col("s2num").cast("double")) / col("nh") * 1e6, 0)
          .cast("long"))
      .withColumn("wh", col("nh") * col("sigma_e6"))
      .stage("neymanAllocation:st") // |sources| rows; read by totals + output
    val tot = st.agg(sum("nh").as("ntot"), sum("wh").as("wtot"))
    st.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"ntot * $budgetPpm div 1000000"))
      .select(col("source"), col("nh").cast("long").as("n_docs"),
        col("sigma_e6"),
        expr("CAST(wh AS DECIMAL(38,0)) * 1000000 div wtot").as("weight_ppm"),
        expr("least(nh, CAST(budget AS DECIMAL(38,0)) * wh div wtot)")
          .cast("long").as("neyman_n"),
        expr("least(nh, CAST(budget AS DECIMAL(38,0)) * nh div ntot)")
          .cast("long").as("proportional_n"),
        col("budget").cast("long").as("budget_n"))
      .orderBy("source")
  }

  /** Packing-efficiency frontier (q277):
    * [[graft.ext.Packing.packingSweep]] — bins, fill and overhang at
    * budgets 256/512/1024/2048 from ONE shared prefix pass; the
    * choose-max_seq_len curve. */
  def packingSweepReport(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.packingSweep(Tables.documents(spark, dir),
      "doc_id", "text")

  /** Weighted reservoir sample (q296):
    * [[graft.ext.Sampling.weightedReservoir]] — a 100-doc
    * Efraimidis–Spirakis sample of the corpus with inclusion
    * probability ∝ document length (the length-weighted draw a
    * token-budgeted pipeline uses so one long doc counts as many short
    * ones), deterministic via the hash-uniform contract. Plans as
    * TakeOrderedAndProject (per-partition k-heaps, no corpus sort);
    * [[graft.operators.SmallRank.afterLimit]] supplies the contractual
    * 1..k rank on the already-limited rows. */
  def weightedReservoirSample(spark: SparkSession, dir: String,
                              k: Int = 100): DataFrame = {
    val sample = Sampling.weightedReservoir(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        col("n_chars")),
      "doc_id", greatest(col("n_chars").cast("long"), lit(1L)), k)
    graft.operators.SmallRank.afterLimit(sample,
        col("priority").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("source"), col("weight"),
        round(col("lnu_e6").cast("double") / col("weight") * 1000, 0)
          .cast("long").as("prio_milli"))
      .orderBy("rank")
  }

  /** SORTED-BATCHING padding-waste report (q308) — the length-curriculum
    * readout a training pipeline computes before fixing its batching
    * strategy: when fixed-size batches pad every sequence to the batch
    * max, batching docs in LENGTH order packs near-equal lengths
    * together and reclaims most padding FLOPs, while random batching
    * pays max-of-a-random-sample per batch (the standard "sorted
    * batching"/bucketing trick of seq2seq training). For each batch
    * size and both strategies, the report carries the exact slot volume
    * (Σ over batches of batch_max·batch_rows), total real tokens, and
    * the waste in exact floor ppm — the measured FLOP overhead the
    * strategy decision trades against shuffle quality.
    *
    * Scale shape: the global length rank comes from the house
    * distributed [[graft.operators.PrefixSum]] (range-bucketed two-pass
    * — never an unpartitioned window); the "random" baseline ranks by
    * the affine-mod hash of doc_id (the house RNG-free sampler
    * contract, so both engines replay it); batch membership is pure
    * arithmetic on the rank; ONE tagged union × a broadcast 3-row
    * batch-size spine feeds a single (strategy, batch_size,
    * batch)-keyed rollup. */
  def sortedBatchingReport(spark: SparkSession, dir: String,
                           batchSizes: Seq[Int] = Seq(16, 64, 256))
      : DataFrame = {
    require(batchSizes.nonEmpty && batchSizes.forall(_ >= 1),
      s"batch sizes must be >= 1: $batchSizes")
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(TextOps.normText(col("text"))))
          .cast("long").as("n_tokens"))
      .withColumn("one", lit(1L))
    val hk = ((col("doc_id") % lit(TextOps.HashP)) * lit(48271L)
      + lit(11L)) % lit(TextOps.HashP)
    val sorted = graft.operators.PrefixSum.exclusive(
        toks.withColumn("k", col("n_tokens")), "k", descending = false,
        ties = Seq(col("doc_id")), "one", "rk")
      .select(lit("sorted").as("strategy"), col("n_tokens"), col("rk"))
    val shuffled = graft.operators.PrefixSum.exclusive(
        toks.withColumn("k", hk), "k", descending = false,
        ties = Seq(col("doc_id")), "one", "rk")
      .select(lit("hash_shuffled").as("strategy"), col("n_tokens"),
        col("rk"))
    val bs = batchSizes.sorted.toDF("batch_size")
    sorted.unionAll(shuffled)
      .crossJoin(broadcast(bs)) // bounded spine: |batchSizes| rows
      .withColumn("batch", expr("rk div batch_size"))
      .groupBy("strategy", "batch_size", "batch")
      .agg(count(lit(1)).as("nb"), max("n_tokens").as("mx"),
        sum("n_tokens").as("tt"))
      .groupBy("strategy", "batch_size")
      .agg(count(lit(1)).as("n_batches"), sum("nb").as("n_docs"),
        sum(col("mx") * col("nb")).as("slot_tokens"),
        sum("tt").as("total_tokens"))
      .select(col("strategy"), col("batch_size").cast("int").as("batch_size"),
        col("n_batches").cast("long").as("n_batches"),
        col("n_docs").cast("long").as("n_docs"),
        col("slot_tokens").cast("long").as("slot_tokens"),
        col("total_tokens").cast("long").as("total_tokens"),
        expr("CASE WHEN slot_tokens = 0 THEN 0 ELSE " +
          "(slot_tokens - total_tokens) * 1000000 div slot_tokens END")
          .as("waste_ppm"))
      .orderBy("strategy", "batch_size")
  }

  /** MULTIPLICATIVE-WEIGHTS domain reweighting (q309) — one linearized
    * exponentiated-gradient step of the DoReMi idea (Xie et al. 2023)
    * on MEASURED losses: per source, the token-share baseline weight is
    * multiplied by (1 + η·excess) where excess = the source's mean
    * char-bigram LM NLL (the q181 model) minus the corpus
    * bigram-weighted mean — sources the reference model finds HARD are
    * upweighted, easy/boilerplate sources shed mass (the DoReMi
    * excess-loss signal; the linear factor is the standard
    * multiplicative-weights first-order form of exp(η·excess), chosen
    * because exp has no established cross-engine reproducibility
    * contract in this suite while products of quantized integers do).
    * Output per source: doc/bigram volumes, baseline share, mean NLL,
    * signed excess, the clamped update factor, and the renormalized new
    * share — all exact floor ppm/micro integers.
    *
    * Scale shape: one q181 scoring pass (model broadcast, map-side
    * partial aggs), one source-keyed rollup, two 1-row scalar crosses
    * (corpus mean, normalizer). */
  /** The DoReMi family's shared (source, n_docs, nb, snl) scoring
    * rollup — ONE q181 corpus scoring pass, StageCache-shared so the
    * three registered riders (q309/q311/q318) pay it once per session
    * instead of re-scoring the corpus each. */
  private def mwPerSource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.StageCache.getOrStage(
      graft.ext.StageCache.keyFor(docs, "mw-per-source")) {
      val sc = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      docs.select(col("doc_id"), col("source"))
        .join(sc, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bigrams").as("nb"),
          sum(col("n_bigrams") * col("nll_micro")).as("snl"))
        .stage("mwPerSource:sc")
    }
  }

  def domainReweighting(spark: SparkSession, dir: String): DataFrame = {
    val per = mwPerSource(spark, dir)
    val tot = per.agg(sum("nb").as("tb"), sum("snl").as("ts"))
    val rep = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("nb"),
        expr("CASE WHEN tb = 0 THEN 0 ELSE nb * 1000000 div tb END")
          .as("share_ppm"),
        expr("CASE WHEN nb = 0 THEN 0 ELSE snl div nb END").as("nll_micro"),
        expr("CASE WHEN tb = 0 THEN 0 ELSE ts div tb END")
          .as("nll_bar_micro"))
      .withColumn("excess_micro", col("nll_micro") - col("nll_bar_micro"))
      // eta = 1; the clamp keeps a pathologically-easy source at a
      // positive weight instead of zero/negative mass
      .withColumn("factor_micro",
        greatest(lit(1L), lit(1000000L) + col("excess_micro")))
      .withColumn("raw", col("share_ppm") * col("factor_micro"))
      .stage("domainReweighting:rep") // read by the normalizer + the final projection
    val rawTot = rep.agg(sum("raw").as("rt"))
    rep.crossJoin(broadcast(rawTot))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("nb").cast("long").as("n_bigrams"),
        col("share_ppm").cast("long").as("share_ppm"),
        col("nll_micro").cast("long").as("nll_micro"),
        col("excess_micro").cast("long").as("excess_micro"),
        col("factor_micro").cast("long").as("factor_micro"),
        // DECIMAL before the multiply: raw*1e6 can clear int64 when a
        // hard source's factor is large (oracle mirrors via HUGEINT)
        expr("CASE WHEN rt = 0 THEN 0 ELSE " +
          "CAST(raw AS DECIMAL(38,0)) * 1000000 div rt END")
          .cast("long").as("new_share_ppm"))
      .orderBy("source")
  }

  /** MULTI-ROUND DoReMi trajectory (q311) — [[domainReweighting]]'s
    * one linearized MW step iterated through 4 fixed rounds
    * ([[graft.ext.Sampling.mwTrajectory]]): per round and source, the
    * previous/new renormalized share, the signed movement, and the two
    * round certificates (L1 movement toward the MW fixpoint, the
    * renormalization pin Σshare). The update factor is the q309
    * measured-loss factor, static across rounds (a fixed reference
    * model; the published method re-trains a proxy per round — stated
    * in the operator doc). Scale shape: one q181 scoring pass for the
    * base, then |sources|-row rounds (two scalar aggs + a 1-row cross
    * each), checkpointed per round. */
  def domainReweightTrajectory(spark: SparkSession, dir: String,
                               rounds: Int = MwTrajectoryRounds): DataFrame = {
    val per = mwPerSource(spark, dir)
    val tot = per.agg(sum("nb").as("tb"), sum("snl").as("ts"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("CASE WHEN tb = 0 THEN 0 ELSE nb * 1000000 div tb END")
          .as("share_ppm"),
        expr("CASE WHEN nb = 0 THEN 0 ELSE snl div nb END").as("nll_micro"),
        expr("CASE WHEN tb = 0 THEN 0 ELSE ts div tb END")
          .as("nll_bar_micro"))
      .withColumn("factor_micro",
        greatest(lit(1L),
          lit(1000000L) + col("nll_micro") - col("nll_bar_micro")))
      .select("source", "share_ppm", "factor_micro")
    Sampling.mwTrajectory(base, rounds)
  }

  /** ADAPTIVE DoReMi trajectory (q318) — q311 with the per-round
    * RE-MEASUREMENT the published method calls for, to the extent a
    * frozen reference scorer admits ([[graft.ext.Sampling
    * .mwTrajectoryAdaptive]]): per-domain nll is scored once, but each
    * round's excess is taken against the CURRENT mixture's weighted
    * mean loss, so the factor moves with the weights and the step
    * self-damps toward the equalized-excess mixture (vs q311's static
    * power iteration). Output adds the round's measured
    * `nll_bar_micro`. Shares the q309/q311 staged scoring pass. */
  def domainReweightAdaptive(spark: SparkSession, dir: String,
                             rounds: Int = MwTrajectoryRounds): DataFrame = {
    val per = mwPerSource(spark, dir)
    val tot = per.agg(sum("nb").as("tb"), sum("snl").as("ts"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("CASE WHEN tb = 0 THEN 0 ELSE nb * 1000000 div tb END")
          .as("share_ppm"),
        expr("CASE WHEN nb = 0 THEN 0 ELSE snl div nb END").as("nll_micro"))
    Sampling.mwTrajectoryAdaptive(base, rounds)
  }

  /** Leave-one-source-out OLS data valuation (q297): how much does each
    * SOURCE move the corpus-level lexical-diversity fit (distinct
    * tokens ~ α + β·tokens, the type–token regression)? For every
    * source, the model is REFIT on the corpus WITHOUT it — in closed
    * form from sufficient statistics (global sums minus that source's
    * sums), so the whole valuation is ONE corpus pass + one
    * source-keyed rollup, never |sources| re-scans. This is the
    * cheapest member of the data-valuation family (the
    * leave-one-out/Shapley idea applied at source granularity), and the
    * per-source `delta_beta` is the influence readout a curation
    * pipeline ranks sources by.
    *
    * Parity: all sufficient statistics are exact integer sums; the
    * normal-equation numerators/denominators are exact DECIMAL(38,0)
    * cross-products; each reported coefficient is ONE double division
    * over identical exact integers, quantized (micro / ppm). The
    * `__all__` row carries the un-ablated fit (delta 0 by
    * construction), so the report is self-calibrating. */
  def sourceAblationOls(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.normText(col("text"))
    val toks = TextOps.tokens(t)
    val xy = Tables.documents(spark, dir).select(col("source"),
      size(toks).cast("long").as("x"),
      size(array_distinct(toks)).cast("long").as("y"))
    val per = xy.groupBy("source").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
      .stage("sourceAblationOls:per") // read by the global rollup AND the ablation
    val g = per.agg(sum("n").as("gn"), sum("sx").as("gsx"),
      sum("sy").as("gsy"), sum("sxx").as("gsxx"), sum("sxy").as("gsxy"),
      sum("syy").as("gsyy"))
    val ablated = per.crossJoin(broadcast(g)).select(col("source"),
      (col("gn") - col("n")).as("n"), (col("gsx") - col("sx")).as("sx"),
      (col("gsy") - col("sy")).as("sy"), (col("gsxx") - col("sxx")).as("sxx"),
      (col("gsxy") - col("sxy")).as("sxy"),
      (col("gsyy") - col("syy")).as("syy"))
    val rws = ablated.unionAll(g.select(lit("__all__").as("source"),
      col("gn").as("n"), col("gsx").as("sx"), col("gsy").as("sy"),
      col("gsxx").as("sxx"), col("gsxy").as("sxy"), col("gsyy").as("syy")))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val met = rws.select(col("source"), col("n"),
        (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
          .as("num"),
        (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
          .as("den"),
        (dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy")))
          .as("sst"),
        (dec(col("sy")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sxy")))
          .as("numa"))
      .select(col("source"), col("n"),
        when(col("den") === 0, 0L).otherwise(
          round(col("num").cast("double") / col("den").cast("double") * 1e6,
            0).cast("long")).as("beta_micro"),
        when(col("den") === 0, 0L).otherwise(
          round(col("numa").cast("double") / col("den").cast("double") * 1e6,
            0).cast("long")).as("alpha_micro"),
        when(col("den") === 0 || col("sst") === 0, 0L).otherwise(
          round(col("num").cast("double") * col("num").cast("double") /
            (col("den").cast("double") * col("sst").cast("double")) * 1e6,
            0).cast("long")).as("r2_ppm"))
      .stage("sourceAblationOls:met") // read by the report AND the __all__ scalar
    val gBeta = met.filter(col("source") === "__all__")
      .select(col("beta_micro").as("gbeta"))
    met.crossJoin(broadcast(gBeta))
      .select(col("source"), col("n").cast("long").as("n_docs_wo"),
        col("beta_micro"), col("alpha_micro"),
        (col("beta_micro") - col("gbeta")).as("delta_beta_micro"),
        col("r2_ppm"))
      .orderBy("source")
  }

  /** Per-source document-length quantiles from the log-bucket sketch
    * (q315): p25/p50/p90/p99/p99.9 of document byte lengths per source
    * via [[graft.operators.QuantileSketch.groupedLogQuantiles]] — the
    * curation-report percentile tier that stays sharp under heavy
    * tails (a single 1 GB document shifts ONE bucket, not the grid),
    * with per-source maps mergeable by addition across snapshots
    * because the grid is value-independent. One (source, bucket)
    * exchange; the cumulative window rides the ≤ 64·59-row per-group
    * bucket spine, never documents. */
  def sourceLengthLogSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.groupedLogQuantiles(
      Tables.documents(spark, dir).select(col("source"),
        col("n_chars").cast("long").as("nbytes")),
      "source", "nbytes", subBits = 5)
}
