package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Parity
import graft.model.Tables.fanOut
import graft.operators.Stage.StageOps

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. Extension surface beyond the reference (which has no
  * text analytics — SURVEY.md §2.10); designed for the `documents` table.
  *
  * Scale posture: every operator is one narrow projection over the scan
  * (token stats, fingerprints) or one explode + hash-aggregate keyed by
  * doc_id (quality/langid) — no joins against anything large, no driver
  * collection, and doc_id-keyed aggregation parallelizes to any executor
  * count with bounded per-key state.
  */
object TextAnalysis {
  import TextOps._

  /** BPE-ish tokenizer regex: letter runs, single digits, single
    * punctuation marks — the classic pre-tokenization shape (letters
    * merge, digits don't). Applied to normalized (lowercase) text. */
  val BpeishPattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Stopword list used for quality scoring (subset present in any
    * realistic English corpus). */
  val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Marker tokens per language for the n-gram/stopword language-ID
    * heuristic. Disjoint across languages so scores are independent. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "et", "les", "une"),
    "es" -> Seq("el", "y", "los", "las"))

  /** Token statistics per document: whitespace token count, BPE-ish token
    * count, and normalized char length. Pure per-row expressions — fuses
    * with the scan, zero shuffles. */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    docs.select(
      col(idCol),
      size(tokens(t)).as("n_ws_tokens"),
      size(regexp_extract_all(t, lit(BpeishPattern), lit(0))).as("n_bpe_tokens"),
      length(t).as("n_chars_norm"))
  }

  /** Quality scoring per document: token count, mean token length,
    * punctuation ratio, stopword ratio, and a boolean-ish quality gate
    * (the length/punct/stopword heuristics web-scale corpus filters use).
    * Token statistics come from higher-order functions over the split
    * token array (`aggregate`/`filter`), so the whole operator is ONE
    * per-row projection fused with the scan — zero shuffles, zero joins,
    * bounded memory per row at any corpus size. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val toks = tokens(t)
    val nTokens = size(toks).cast("long")
    val tokChars = aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long"))
    val nStop = size(filter(toks, w => w.isInCollection(Stopwords))).cast("long")
    val nChars = length(t)
    val nPunct = nChars - length(regexp_replace(t, "[^a-z0-9 ]", ""))
    docs.select(
      col(idCol),
      nTokens.as("n_tokens"),
      Parity.r4(tokChars.cast("double") / nTokens).as("mean_tok_len"),
      Parity.r4(nPunct.cast("double") / nChars).as("punct_ratio"),
      Parity.r4(nStop.cast("double") / nTokens).as("stop_ratio"),
      when(nTokens.between(10, 1000) &&
        nStop.cast("double") / nTokens >= 0.05, 1).otherwise(0)
        .as("is_quality"))
  }

  /** Language ID via marker-token scoring: count marker hits per language,
    * predict the argmax with a fixed priority order on ties ('und' when no
    * marker hits at all). Marker counting is a `filter` higher-order
    * function over the token array — one per-row projection fused with
    * the scan, zero shuffles (a real system swaps the marker table for
    * char-n-gram profiles; the per-row shape is identical at any corpus
    * size). */
  /** Per-language marker-hit count columns (`s_en`...`s_es`) over a token
    * array — the scoring half of the language-ID heuristic, shared by
    * [[languageId]], [[tokenFertility]], and [[langSourceMix]]. */
  private def langScoreCols(toks: Column): Seq[Column] =
    LangMarkers.map { case (lang, markers) =>
      size(filter(toks, w => w.isInCollection(markers))).cast("long").as(s"s_$lang")
    }

  /** Argmax language over materialized `s_*` score columns, fixed
    * priority order on ties, 'und' when nothing matched. */
  private def predictedLang: Column = {
    val total = LangMarkers.map { case (l, _) => col(s"s_$l") }.reduce(_ + _)
    when(total === 0, "und")
      .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
      .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")
  }

  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(normText(col(textCol)))
    docs.select((col(idCol) +: langScoreCols(toks)): _*)
      .select(col(idCol), col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
        predictedLang.as("predicted_lang"))
  }

  /** Count-min sketch parameters: 4 pairwise-independent rows of 512
    * buckets over the 31-Horner token hash — multipliers/offsets are
    * classic LCG constants, products stay under 2⁶² (hash < 2³¹). */
  val CmsA = Seq(1103515245L, 69069L, 1664525L, 22695477L)
  val CmsB = Seq(12345L, 362437L, 1013904223L, 1L)
  val CmsW = 512L

  /** Count-min sketch accuracy report (q117): the CMS built RELATIONALLY
    * — bucket sums are a (row, bucket)-keyed aggregation, estimates are
    * the MIN over each token's 4 buckets — next to the exact counts of
    * the vocabulary head, so the sketch's overestimate is measured, not
    * assumed. Everything is integer (hashes, bucket ids, sums), so the
    * oracle replays the identical sketch; `over = est - n >= 0` is the
    * CMS guarantee and a spec gate. Scale: ONE corpus pass builds the
    * vocab relation (staged); the sketch aggregation and the top-k probe
    * both read vocab-bounded rows — the sketch itself is 4·512 rows at
    * any corpus size (the point of a sketch). */
  def cmsHeavyHitters(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 10): DataFrame = {
    val vocab = fanOut(docs)
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .withColumn("h",
        graft.functions.TextKernelOps.wordNgramHashFull(col("w"), 1).getItem(0))
      .stage("cmsHeavyHitters:vocab") // feeds the sketch AND the exact top-k probe
    val buckets = (0 until 4).map(i =>
      ((lit(CmsA(i)) * col("h") + lit(CmsB(i))) % lit(TextOps.HashP)) % lit(CmsW))
    val cms = vocab
      .select(posexplode(array(buckets: _*)).as(Seq("i", "bucket")), col("n"))
      .groupBy("i", "bucket").agg(sum("n").as("bsum"))
    val top = graft.operators.SmallRank.afterLimit(
      vocab.orderBy(col("n").desc, col("w")).limit(k),
      col("n").desc, col("w"))
    top
      .select(col("rank"), col("w"), col("n"),
        posexplode(array(buckets: _*)).as(Seq("i", "bucket")))
      .join(cms, Seq("i", "bucket"))
      .groupBy("rank", "w", "n")
      .agg(min(col("bsum")).as("est"))
      .withColumn("over", col("est") - col("n"))
      .orderBy("rank")
  }

  /** Feature-hashing text vectorizer (the "hashing trick"): train-free
    * sparse vectors straight from raw text — no vocabulary pass, no
    * model. Each token occurrence lands in `h mod dim` with a sign from
    * an independent LCG of the same hash (signed hashing keeps bucket
    * collisions unbiased, per Weinberger et al.); per-document bucket
    * sums are exact integers, L2-normalized only at the final rounded
    * ratio. Output is the LONG form (doc_id, bucket, raw, weight) —
    * relational, oracle-hashable, and pivotable to `Array[Float]` for
    * the ANN tier when needed.
    *
    * Scale shape: one (doc, bucket)-keyed partial aggregation (≤ dim
    * rows per doc out of the map side), then a doc-keyed window over
    * ≤ dim rows per key for the norm. Nothing is vocabulary-sized; no
    * driver state. */
  def hashingVectorize(docs: DataFrame, idCol: String, textCol: String,
                       dim: Int = 32): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val h = fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"),
        graft.functions.TextKernelOps.wordNgramHashFull(col("w"), 1)
          .getItem(0).as("h"))
    val signed = h.select(col("doc_id"),
      (col("h") % dim).cast("int").as("bucket"),
      (lit(1L) - lit(2L) * (((lit(69069L) * col("h") + lit(362437L))
        % lit(HashP)) % 2)).as("sgn"))
    val raw = signed.groupBy("doc_id", "bucket")
      .agg(sum("sgn").as("raw"))
      .filter(col("raw") =!= 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    raw.withColumn("nr", sqrt(sum(col("raw") * col("raw")).over(w)
        .cast("double")))
      .select(col("doc_id"), col("bucket"), col("raw"),
        Parity.r4(col("raw") / col("nr")).as("weight"))
  }

  /** FROZEN-WEIGHT TEXT QUALITY CLASSIFIER (q222) — the model-scored
    * quality filter (fastText-style linear classifier over hashed
    * features) that curation stacks run after the heuristic cascades,
    * in the q179 stand-in contract: real inference is broadcast-weights
    * × batched features → logits → argmax, and this operator has
    * exactly that execution shape with the trained matrix replaced by
    * the deterministic integer matrix W(c,b) = ((37c + 11b + 5) mod 17)
    * − 8 (the [[graft.ext.Multimodal.embedWeight]] closed form), so the
    * whole path is oracle-checked value-for-value — which a real model
    * never is. Swapping in trained weights = replacing the literal
    * matrix with a broadcast array; plan shape, schema, and scale
    * posture unchanged.
    *
    * Per document: logit_c = Σ_b W(c,b) · raw(b) over the
    * [[hashingVectorize]] signed-hash bucket counts (exact integers —
    * |raw| ≤ tokens, |W| ≤ 8, so longs never overflow), predicted
    * class = argmax with ties to the SMALLEST class id, margin =
    * winner − best runner-up (0 on a tie, exact).
    *
    * Scale shape: one (doc, bucket) partial aggregation (inherited
    * from the vectorizer), then one doc-keyed rollup computing all
    * `nClasses` logits in a single pass — the weight matrix is literal
    * arithmetic inside the aggregate, nothing joins, nothing
    * broadcasts, no UDF. */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        dim: Int = 32, nClasses: Int = 3): DataFrame = {
    require(nClasses >= 2, s"need >=2 classes, got $nClasses")
    val raw = hashingVectorize(docs, idCol, textCol, dim)
    def w(c: Int) = (lit(37L * c) + lit(11L) * col("bucket") + lit(5L)) % 17 - 8
    val logits = (0 until nClasses).map(c =>
      sum(col("raw") * w(c)).as(s"logit_$c"))
    val scored = raw.groupBy("doc_id").agg(logits.head, logits.tail: _*)
    val cls = (0 until nClasses).map(c => col(s"logit_$c"))
    // argmax, ties to the smallest class id: class c wins iff it is
    // >= every later class and > none earlier beat it — expressed as a
    // first-match when-chain, identical CASE semantics on both engines.
    val pred = (0 until nClasses - 1).foldRight(
        lit(nClasses - 1): org.apache.spark.sql.Column) { (c, rest) =>
      when((c + 1 until nClasses).map(d => cls(c) >= cls(d)).reduce(_ && _),
        lit(c)).otherwise(rest)
    }
    val margin = (0 until nClasses).map { c =>
      val others = (0 until nClasses).filter(_ != c).map(cls)
      when(col("predicted") === c,
        cls(c) - others.reduce((a, b) => greatest(a, b)))
    }.reduce((a, b) => coalesce(a, b))
    scored.withColumn("predicted", pred)
      .withColumn("margin", margin)
      .select(col("doc_id") +:
        (0 until nClasses).map(c => cls(c).cast("long").as(s"logit_$c")) :+
        col("predicted").cast("int").as("predicted") :+
        col("margin").cast("long").as("margin"): _*)
  }

  /** Tokenizer fertility by predicted language (q112): BPE-ish tokens
    * per whitespace token — the "how many pieces does the tokenizer cut
    * a word into" diagnostic every multilingual-corpus report carries
    * (fertility >> 1 for a language signals an ill-fitting vocabulary).
    * ONE projection computes marker scores and both token counts (no
    * self-join of two scans), then a language-keyed aggregation of exact
    * integers; the ratio is tie-proof fixed-point floor division. */
  def tokenFertility(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val toks = tokens(t)
    val counts = Seq(
      size(toks).cast("long").as("n_ws"),
      size(regexp_extract_all(t, lit(BpeishPattern), lit(0))).cast("long").as("n_bpe"))
    docs.select((counts ++ langScoreCols(toks)): _*)
      .select(predictedLang.as("predicted_lang"), col("n_ws"), col("n_bpe"))
      .groupBy("predicted_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("ws_tokens"),
        sum("n_bpe").as("bpe_tokens"))
      .withColumn("fertility",
        expr("CAST(bpe_tokens * 10000 div ws_tokens AS DOUBLE) / 10000.0"))
      .orderBy("predicted_lang")
  }

  /** Language × source composition (q111): document counts per
    * (source, predicted language) with the share of each source slice —
    * the mixture report a curation run reads before re-weighting. Two
    * tiny aggregations over the scored projection (the group space is
    * |sources| × |languages|); shares divide exact counts fixed-point. */
  def langSourceMix(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val toks = tokens(normText(col(textCol)))
    val counts = docs
      .select((col(srcCol).as("source") +: langScoreCols(toks)): _*)
      .select(col("source"), predictedLang.as("predicted_lang"))
      .groupBy("source", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    val tots = counts.groupBy("source").agg(sum("n_docs").as("tot"))
    counts.join(tots, Seq("source"))
      .withColumn("share",
        expr("CAST(n_docs * 1000000 div tot AS DOUBLE) / 1000000.0"))
      .drop("tot")
      .orderBy("source", "predicted_lang")
  }

  /** Per-source language diversity (q160): the inverse Simpson index
    * N²/Σn² — the "effective number of languages" a source actually
    * mixes (1 = monolingual, k = k perfectly balanced languages) — in
    * exact floored milli-units, plus the raw language count. The
    * entropy-free diversity read: no logarithm crosses the engine
    * boundary, so the statistic is bit-identical (the same reason the
    * q149 Gini uses Σp² instead of Σp·log p). One grouped count per
    * (source, lang), then a tiny per-source rollup. */
  def sourceDiversity(docs: DataFrame, srcCol: String, langCol: String): DataFrame =
    docs.groupBy(col(srcCol).as("source"), col(langCol).as("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_docs"),
        count(lit(1)).cast("int").as("n_langs"),
        sum(col("n") * col("n")).as("sq"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        expr("(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000 div sq)")
          .cast("long").as("inv_simpson_milli"))
      .orderBy("source")

  /** Content growth curve (q164): new distinct char-8-gram shingles
    * contributed per corpus slice of `bucketDocs` documents (by id
    * order) and the cumulative shingle vocabulary — the Heaps'-law
    * curve over CONTENT rather than tokens (the cumulative twin of
    * q110's per-document novelty: it tells an ingest when new data
    * stops adding new material). Each shingle's FIRST document is one
    * hash-keyed min aggregation over the scan-side shingle kernel (the
    * only corpus-wide shuffle; 16-byte rows); the per-bucket rollup is
    * ≤ buckets rows and the cumulative rides the distributed prefix sum
    * (no unpartitioned window). */
  def contentGrowth(docs: DataFrame, idCol: String, textCol: String,
                    bucketDocs: Int = 50): DataFrame = {
    require(bucketDocs > 0, s"bucketDocs must be positive, got $bucketDocs")
    val first = TextDedup.docShingleHashes(docs, idCol, textCol)
      .groupBy("hv").agg(min("doc_id").as("first_doc"))
    val buckets = first
      .groupBy(expr(s"first_doc div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_new_shingles"))
    graft.operators.PrefixSum.exclusive(buckets, "bucket",
        descending = false, ties = Seq.empty, valueCol = "n_new_shingles",
        outCol = "pre")
      .select(col("bucket"), col("n_new_shingles"),
        (col("pre") + col("n_new_shingles")).as("cum_shingles"))
      .orderBy("bucket")
  }

  /** Within-document repetition profile — the Gopher-style repetition
    * filter (Rae et al. 2021 §A1.3: repetitious documents are low-quality
    * training data): distinct-token ratio, most-frequent-token share, and
    * duplicate-bigram fraction, with a composite `is_repetitive` gate.
    * All five raw counts come from the one-pass codegen'd
    * [[graft.functions.RepetitionStats]] kernel, so the operator is a
    * pure projection fused with the scan — zero shuffles at any corpus
    * size. Token identity is the full-length rolling hash (the oracle
    * groups on the same integers, so distinct/frequency semantics match
    * exactly). Empty documents are excluded on both engines. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val distinctRatio = Parity.r4(col("rs")(1).cast("double") / col("rs")(0))
    val topFrac = Parity.r4(col("rs")(2).cast("double") / col("rs")(0))
    val dupBigram = when(col("rs")(3) > 0,
      Parity.r4(lit(1.0) - col("rs")(4).cast("double") / col("rs")(3)))
      .otherwise(lit(0.0))
    docs.filter(length(t) > 0)
      .select(col(idCol), graft.functions.TextKernelOps.repetitionStats(t).as("rs"))
      .select(col(idCol),
        col("rs")(0).as("n_tokens"),
        distinctRatio.as("distinct_ratio"),
        topFrac.as("top_token_frac"),
        dupBigram.as("dup_bigram_frac"),
        when(distinctRatio < 0.5 || topFrac > 0.2 || dupBigram > 0.5, 1)
          .otherwise(0).as("is_repetitive"))
  }

  /** Document fingerprint: order-independent sum of the distinct
    * char-8-gram rolling-hash values mod 2^31-1 (a set-hash — robust to
    * shingle order, so it is shuffle-order-stable and identical in the
    * oracle). The shingle SET is per-document, so the distinct is
    * per-row (`array_distinct` over the kernel's hash array) and the
    * whole operator is one projection fused with the scan — zero
    * shuffles, nothing leaves the row. Docs shorter than k have no
    * shingles and are excluded (the oracle's empty `range` does the
    * same). */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame =
    docs
      .select(col(idCol), graft.functions.TextKernelOps.shingleSetHash(
        normText(col(textCol)), k).as("fh"))
      .filter(col("fh")(1) > 0)
      .select(col(idCol),
        col("fh")(0).as("fingerprint"),
        col("fh")(1).as("n_shingles"))

  /** The pre-kernel formulation of [[fingerprint]] (array_distinct +
    * interpreted `aggregate` HOF over the shingle-hash array) — kept as
    * the executable reference; a parity spec pins the one-pass kernel to
    * it value-for-value. */
  private[ext] def fingerprintHof(docs: DataFrame, idCol: String, textCol: String,
                                  k: Int = 8): DataFrame =
    docs
      .select(col(idCol), array_distinct(graft.functions.TextKernelOps.shingleHashes(
        normText(col(textCol)), k)).as("hvs"))
      .filter(size(col("hvs")) > 0)
      .select(col(idCol),
        (aggregate(col("hvs"), lit(0L), (a, x) => a + x) % lit(HashP)).as("fingerprint"),
        size(col("hvs")).cast("long").as("n_shingles"))

  /** Corpus token-length histogram: fixed-width 16-token buckets keyed by
    * `bucket_lo = n_tokens - (n_tokens mod 16)` — pure integer
    * arithmetic, so bucket edges are engine-exact (no float log2 at a
    * power-of-two boundary). One scan-side projection + one tiny
    * aggregation; the histogram every corpus intake report starts with. */
  def tokenHistogram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = size(tokens(normText(col(textCol)))).cast("long")
    docs.select(n.as("n_tokens"))
      .select(col("n_tokens"), (col("n_tokens") - col("n_tokens") % 16).as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
  }

  /** Corpus vocabulary top-k: the most frequent tokens with occurrence
    * and document frequencies — the Zipf table every corpus audit (and
    * stopword/boilerplate hunt) starts with. One explode + one
    * token-keyed aggregation: partial aggs collapse each partition to
    * its local vocabulary before the shuffle, so the exchanged volume is
    * vocab-bounded, not corpus-bounded; the top-k is a
    * TakeOrderedAndProject, never a global sort. */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 20): DataFrame =
    explodedTopK(docs, idCol, explode(tokens(normText(col(textCol)))), "w", k)

  /** Shared top-k-of-exploded-terms shape behind [[vocabTopK]] and
    * [[bpeMergePairs]]: one generator explode, a term-keyed aggregation
    * whose exchanged volume is term-vocabulary-bounded after partial
    * aggregation, and a deterministic (count desc, term) top-k that
    * plans as TakeOrderedAndProject — never a global sort. */
  private def explodedTopK(docs: DataFrame, idCol: String, exploded: Column,
                           termCol: String, k: Int): DataFrame =
    graft.model.Tables.fanOut(docs)
      .select(col(idCol).as("doc_id"), exploded.as(termCol))
      .groupBy(termCol)
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_occurrences").desc, col(termCol)).limit(k)
      // contractual 1..k rank over the limited head (see SmallRank)
      .transform(graft.operators.SmallRank.afterLimit(_,
        col("n_occurrences").desc, col(termCol)))

  /** Corpus TF-IDF head per source: the top-`k` terms of each source slice
    * weighted by corpus-wide inverse document frequency — the relevance
    * ranking every curation dashboard puts next to the raw vocab head
    * ([[vocabTopK]]). Ranking is all-integer (tf desc, term) so the
    * winner set is oracle-exact; the IDF weight `tf · ln(N/df)` is the
    * only float and is display-rounded (r4), the q07 contract.
    *
    * Scale posture: one explode feeding two partial-agg'd aggregations —
    * (source, term) term frequencies and term-keyed document frequencies —
    * so every exchanged row is a term key with counts, never a document;
    * the df side joins back on the term key (AQE picks broadcast when the
    * vocab fits); N is a 1-row aggregate cross-joined as a broadcast
    * scalar, not a driver collect. The final rank window partitions by
    * `source` over VOCABULARY-sized rows (the per-source term table), so
    * its input is corpus-size-independent; a hot source with a giant
    * vocabulary would take the [[graft.operators.Skew.saltedTopKPerGroup]]
    * form, same as q63/q81. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, k: Int = 10): DataFrame = {
    val tok = fanOut(docs)
      .select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
    val total = docs.agg(countDistinct(col(idCol)).as("n_total"))
    val dfT = tok.groupBy("w").agg(countDistinct("doc_id").as("n_docs"))
    val tf = tok.groupBy("source", "w").agg(count(lit(1)).as("tf"))
    val scored = tf.join(dfT, "w")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        Parity.r4(col("tf") * log(col("n_total").cast("double") / col("n_docs"))))
    // salted grouped top-k (the hot-source form its docstring promised):
    // a source-partitioned rank window would sort a hot source's whole
    // vocabulary in one task; the salted two-phase form is
    // output-identical under the (tf desc, w) total order
    graft.operators.Skew.saltedTopKPerGroup(scored, Seq("source"),
        Seq(col("tf").desc, col("w")), k, salts = 8)
      .select("source", "rank", "w", "tf", "n_docs", "tfidf")
  }

  /** Token-rarity scoring against the corpus's own unigram distribution —
    * the integer-exact stand-in for LM-perplexity quality scoring (rare
    * vocabulary ≈ high perplexity): rank the top-`vocabK` unigrams by
    * frequency, score each document by its tokens' mean rank and its
    * out-of-vocabulary rate. All-integer until the final division, so
    * oracle-exact where a log-prob scorer would drift. Two stages, both
    * scale-flat: the vocab aggregation is partial-agg'd then truncated to
    * `vocabK` rows (broadcast side), and the scoring pass is one explode +
    * broadcast-hash left join + doc-keyed aggregation — no big shuffle
    * beyond the doc-keyed partial agg. */
  def rarityScore(docs: DataFrame, idCol: String, textCol: String,
                  vocabK: Int = 20): DataFrame = {
    val tok = graft.model.Tables.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode(tokens(normText(col(textCol)))).as("w"))
    val vocab = graft.operators.SmallRank.afterLimit(
        tok.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(vocabK),
        col("c").desc, col("w"))
      .select("w", "rank")
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rank").isNull, 1L).otherwise(0L)).as("n_oov"),
        Parity.r4(sum("rank").cast("double") / count(col("rank"))).as("mean_rank"),
        Parity.r4(sum(when(col("rank").isNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("oov_rate"))
  }

  /** BPE merge-candidate table: the most frequent ADJACENT token pairs
    * with occurrence and document frequencies — the statistic the first
    * iteration of byte-pair/WordPiece vocabulary training maximizes
    * over. [[explodedTopK]] over the codegen'd
    * [[graft.functions.WordNgrams]] bigram kernel. */
  def bpeMergePairs(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 20): DataFrame =
    explodedTopK(docs, idCol,
      explode(graft.functions.TextKernelOps.wordNgrams(
        normText(col(textCol)), 2)), "pair", k)

  /** Curriculum quartile bins (q205): per source, documents are ranked
    * by an integer quality proxy (stopword ratio in floor ppm — natural
    * prose scores high, boilerplate/noise low) and cut into `nBins`
    * equi-depth bins (SQL-standard NTILE semantics: the first n mod b
    * buckets take one extra row, ties broken by doc id). The
    * per-(source, bin) token budget is what a curriculum schedule or
    * quality-mix report feeds on. Scale: one scored scan projection,
    * then the per-source rank comes from
    * [[graft.operators.GroupedPrefix]] — NOT a source-partitioned
    * window, which would hand each source's full corpus slice to one
    * task at 100× — and the bin is recovered from (rank, n) by the
    * exact integer NTILE formula both engines share. */
  def curriculumBins(docs: DataFrame, srcCol: String, idCol: String,
                     textCol: String, nBins: Int = 4): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    val t = normText(col(textCol))
    val toks = tokens(t)
    val nTokens = size(toks).cast("long")
    val nStop = size(filter(toks, w => w.isInCollection(Stopwords))).cast("long")
    val scored = docs.select(col(srcCol), col(idCol), nTokens.as("n_tokens"),
        nStop.as("n_stop"))
      .withColumn("score_ppm",
        expr("n_stop * 1000000 div greatest(n_tokens, 1)"))
    graft.operators.GroupedPrefix.rankWithin(scored, srcCol, "score_ppm",
        descending = true, ties = Seq(col(idCol)), rankCol = "__rk",
        nCol = Some("__n"))
      .withColumn("bin", graft.operators.GroupedPrefix
        .ntileFromRank(col("__rk"), col("__n"), nBins))
      .groupBy(col(srcCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        min(col("score_ppm")).as("min_score_ppm"),
        max(col("score_ppm")).as("max_score_ppm"))
      .select(col(srcCol), col("bin"), col("n_docs").cast("long").as("n_docs"),
        col("tokens").cast("long").as("tokens"),
        col("min_score_ppm").cast("long").as("min_score_ppm"),
        col("max_score_ppm").cast("long").as("max_score_ppm"))
      .orderBy(srcCol, "bin")
  }

  /** PMI collocations (q206): the top adjacent word pairs by pointwise
    * mutual information ln(c_ab·T/(c_a·c_b)) — the collocation statistic
    * ("new york", "et al") raw bigram counts can't expose because they
    * rank by popularity, not by association. Bigrams come from the same
    * codegen'd [[graft.functions.WordNgrams]] kernel as [[bpeMergePairs]];
    * the PMI log is quantized ONCE per surviving distinct pair to
    * micro-nats (the q181 contract: one transcendental per key, integer
    * comparisons after), and the ln argument is assembled in a fixed
    * double operation order both engines restate. `minPairCount` cuts
    * hapax pairs whose PMI is pure noise (and bounds the join to the
    * frequent sliver); scale shape — two grouped counts off one
    * tokenized scan, two keyed joins of the pair sliver against the
    * unigram table, TakeOrdered head. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minPairCount: Long = 5, k: Int = 25): DataFrame = {
    val t = normText(col(textCol))
    val bigrams = docs.select(explode(
        graft.functions.TextKernelOps.wordNgrams(t, 2)).as("pair"))
    val totalBg = bigrams.agg(count(lit(1)).as("t_bg"))
    val pairCnt = bigrams.groupBy("pair").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    val uni = docs.select(explode(tokens(t)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    pairCnt
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(totalBg))
      .withColumn("pmi_micro",
        round(log(col("c_ab").cast("double") * col("t_bg")
          / col("c_a") / col("c_b")) * 1e6, 0).cast("long"))
      .select(col("w1"), col("w2"), col("c_ab").cast("long").as("pair_n"),
        col("c_a").cast("long").as("w1_n"), col("c_b").cast("long").as("w2_n"),
        col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Exact corpus quantiles of token count and normalized char length
    * (p25/p50/p75/p90/p99, linear interpolation — Spark's exact
    * `percentile` and DuckDB's `quantile_cont` share the Hive/type-7
    * definition). One scan + one single-group aggregation; at 100 TB the
    * same shape runs as a partial-aggregated `percentile_approx` — this
    * is the exactness-first variant the oracle can verify. */
  def corpusQuantiles(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val probs = "array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D)"
    docs.select(size(tokens(t)).cast("long").as("n_tokens"),
        length(t).cast("long").as("n_chars"))
      .agg(expr(s"percentile(n_tokens, $probs)").as("qt"),
        expr(s"percentile(n_chars, $probs)").as("qc"))
      .select(
        Parity.r4(col("qt")(0)).as("tok_p25"), Parity.r4(col("qt")(1)).as("tok_p50"),
        Parity.r4(col("qt")(2)).as("tok_p75"), Parity.r4(col("qt")(3)).as("tok_p90"),
        Parity.r4(col("qt")(4)).as("tok_p99"),
        Parity.r4(col("qc")(0)).as("chr_p25"), Parity.r4(col("qc")(1)).as("chr_p50"),
        Parity.r4(col("qc")(2)).as("chr_p75"), Parity.r4(col("qc")(3)).as("chr_p90"),
        Parity.r4(col("qc")(4)).as("chr_p99"))
  }

  /** Vocabulary coverage curve: for each cutoff k, what fraction of all
    * corpus token OCCURRENCES the k most frequent words cover — the
    * Zipf-coverage report a tokenizer-vocabulary decision reads
    * (e.g. "8k types cover 97% of tokens"). Cutoffs larger than the
    * vocabulary clamp to full coverage, with `n_vocab_used` reporting
    * the clamp.
    *
    * Scale: the corpus reduces to (word, count) via one partial-agg'd
    * exchange; the cumulative window then runs over ONLY the top
    * max(cutoffs) rows (TakeOrderedAndProject, never a vocab-wide global
    * sort), so the single-partition window is bounded by the largest
    * requested cutoff, not by vocabulary size. Counts are exact
    * integers; the one double division is rounded (r6). */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    cutoffs: Seq[Int] = Seq(5, 10, 20, 50)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val freq = fanOut(docs)
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val totals = freq.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).as("n_vocab"))
    // Contractual rank over the limited head (see SmallRank); the
    // cumulative count stays a plain SUM under the rank<=cutoff join —
    // no running-total window over the head at all.
    val top = graft.operators.SmallRank.afterLimit(
      freq.orderBy(col("n").desc, col("w")).limit(cutoffs.max),
      col("n").desc, col("w"))
    cutoffs.toDF("cutoff")
      .join(top, col("rank") <= col("cutoff"))
      .groupBy("cutoff")
      .agg(max(col("rank")).cast("int").as("n_vocab_used"),
        sum(col("n")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("cutoff"), col("n_vocab_used"), col("covered_tokens"),
        col("n_vocab"), col("total_tokens"),
        Parity.r6(col("covered_tokens").cast("double") /
          col("total_tokens")).as("coverage"))
      .orderBy("cutoff")
  }

  /** Character-bigram language-model scoring — the perplexity-style
    * quality filter (the CCNet/KenLM idea with the char-bigram model a
    * corpus can train ON ITSELF in one pass): per document, the average
    * negative log-likelihood of its bigrams under the corpus bigram
    * conditional model with add-one smoothing,
    *
    *   P(c₂|c₁) = (count(c₁c₂) + 1) / (count(c₁·) + V)
    *
    * (V = distinct second-character vocabulary). Gibberish, wrong-charset
    * and heavily-repeated documents sit in the tails of this score.
    *
    * Parity design: each DISTINCT bigram type's negative log-prob is
    * quantized ONCE to integer micro-nats (round(−ln p · 10⁶)) — a
    * deterministic scalar per type — and every per-doc aggregate after
    * that is exact integer arithmetic (Σ c·lp div Σ c), so the score is
    * order-independent and engine-reproducible. A float sum over shuffle
    * partitions would not be.
    *
    * Scale: per-doc bigram counts partial-aggregate map-side ((doc,
    * bigram) keys); the model is charset² rows — broadcast to the
    * scoring join; V and the marginals are rollups OF THE MODEL, never
    * a second corpus pass. Docs shorter than 2 chars score 0 over 0
    * bigrams (kept, flagged by n_bigrams = 0). */
  def bigramLmScore(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    // The per-doc NLL relation is |docs| rows and FOUR registered
    // consumers run the identical pass over the documents corpus
    // (q181 directly, q300/q303 as their fluency leg, the DoReMi
    // rollup's first build) — StageCache-memoized so the corpus pays
    // one tokenize+score pass per session; Bench's retry loop still
    // prices the standalone build.
    val scored = StageCache.getOrStage(
        StageCache.keyFor(docs, "bigram-lm", idCol, textCol)) {
      val dc = fanOut(docs)
        .select(col(idCol).as("doc_id"),
          explode_outer(charShingles(normText(col(textCol)), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(col("bg")).as("c"))
        .stage("bigramLmScore:dc") // model AND scoring read it; ≤ docs·charset² rows
      val m = dc.filter(col("bg").isNotNull)
        .groupBy("bg").agg(sum("c").as("cnt"))
      val mar = m.groupBy(substring(col("bg"), 1, 1).as("c1"))
        .agg(sum("cnt").as("tot"))
      val v = m.agg(countDistinct(substring(col("bg"), 2, 1)).as("vv"))
      val lp = m.join(mar, substring(col("bg"), 1, 1) === col("c1"))
        .crossJoin(broadcast(v))
        .select(col("bg"),
          round(-log((col("cnt") + lit(1.0)) / (col("tot") + col("vv"))) * 1e6,
            0).cast("long").as("lp"))
      dc.join(broadcast(lp), Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(coalesce(sum(when(col("bg").isNotNull, col("c"))), lit(0L))
            .as("n_bigrams"),
          coalesce(sum(col("c") * col("lp")), lit(0L)).as("sl"))
        .select(col("doc_id"), col("n_bigrams"),
          when(col("n_bigrams") === 0, 0L)
            .otherwise(expr("sl div n_bigrams")).as("nll_micro"))
        .stage("bigramLmScore:lp")
    }
    scored.orderBy("doc_id")
  }

  /** WORD-bigram language-model scoring with INTERPOLATED BACKOFF
    * (q283) — the q181 char-bigram perplexity moved to word granularity,
    * which is what KenLM-filter pipelines (CCNet's quality leg) actually
    * compute: per document the mean negative log-likelihood of its word
    * bigrams under the Jelinek–Mercer-interpolated corpus model
    *
    *   P(w₂|w₁) = 0.7·c(w₁w₂)/c(w₁·) + 0.3·(c(w₂)+1)/(T+V)
    *
    * with the bigram table PRUNED at `countFloor` (corpus bigram count
    * ≥ floor): a pruned/unseen bigram scores on the pure backoff term
    * 0.3·(c(w₂)+1)/(T+V) — exactly how a pruned KenLM model behaves —
    * and `n_backoff` reports how many of the doc's bigram tokens fell
    * through, so the pruning is measured, never silent. The add-one on
    * the unigram term keeps every score finite off-corpus.
    *
    * Parity: the q181 contract verbatim — ONE transcendental per
    * DISTINCT retained bigram type (and one per unigram type for the
    * backoff column), quantized to integer micro-nats over identical
    * rational doubles on both engines (same literal order: 0.7·cb/c1 +
    * 0.3·(c2+1)/(T+V)); every per-doc aggregate after quantization is
    * exact integer arithmetic, order-independent across shuffles.
    *
    * Scale: per-doc bigram counts partial-aggregate map-side; the
    * retained-bigram model is the observed-vocab² sliver CUT by the
    * count floor and the unigram table is vocab-sized — both broadcast
    * to the scoring join; marginals and totals are rollups OF THE MODEL
    * tables, never a second corpus pass. Docs with < 2 tokens score 0
    * over 0 bigrams (kept, flagged by n_bigrams = 0). */
  def wordBigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                        countFloor: Int = 2): DataFrame = {
    val dcb = fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode_outer(wordShingles(tokens(normText(col(textCol))), 2))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(col("bg")).as("c"))
      .stage("wordBigramLmScore:dcb") // model AND scoring read it
    val cball = dcb.filter(col("bg").isNotNull)
      .groupBy("bg").agg(sum("c").as("cb"))
      .stage("wordBigramLmScore:cball") // read by the w1 marginal + the retained model
    // the left-context marginal is over ALL observed bigrams (pruning
    // cuts the model rows, never the denominator)
    val c1 = cball.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("cb").as("c1"))
    val uni = fanOut(docs)
      .select(explode(tokens(normText(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .stage("wordBigramLmScore:uni") // read by totals + model join + backoff column
    val tot = uni.agg(sum("cu").as("tt"), count(lit(1)).as("vv"))
    val lpBig = cball.filter(col("cb") >= countFloor)
      .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
      .join(uni.select(col("w").as("w2t"), col("cu").as("c2")),
        substring_index(col("bg"), " ", -1) === col("w2t"))
      .crossJoin(broadcast(tot))
      .select(col("bg"),
        round(-log(lit(0.7) * col("cb") / col("c1") +
          lit(0.3) * (col("c2") + lit(1.0)) / (col("tt") + col("vv"))) * 1e6,
          0).cast("long").as("lp"))
    val lpUni = uni.crossJoin(broadcast(tot))
      .select(col("w").as("w2"),
        round(-log(lit(0.3) * (col("cu") + lit(1.0)) /
          (col("tt") + col("vv"))) * 1e6, 0).cast("long").as("lpu"))
    dcb.join(broadcast(lpBig), Seq("bg"), "left")
      .join(broadcast(lpUni),
        substring_index(col("bg"), " ", -1) === col("w2"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum(when(col("bg").isNotNull, col("c"))), lit(0L))
          .as("n_bigrams"),
        coalesce(sum(when(col("bg").isNotNull && col("lp").isNull,
          col("c"))), lit(0L)).as("n_backoff"),
        coalesce(sum(col("c") * coalesce(col("lp"), col("lpu"))), lit(0L))
          .as("sl"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        when(col("n_bigrams") === 0, 0L)
          .otherwise(expr("sl div n_bigrams")).as("nll_micro"))
      .orderBy("doc_id")
  }

  /** Word-bigram LM scoring with INTERPOLATED KNESER–NEY smoothing
    * (q293) — the smoothing KenLM actually ships (Kneser–Ney 1995,
    * absolute discount D with a continuation-probability backoff),
    * completing the LM-quality ladder next to add-one (q181) and
    * Jelinek–Mercer (q283):
    *
    *   P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · P_cont(w₂)
    *   P_cont(w₂) = N₁₊(·w₂) / |bigram types|
    *
    * The continuation term scores a word by how many DISTINCT contexts
    * it follows, not how often it occurs — the insight that makes KN
    * beat frequency backoff on "San Francisco"-type collocations (the
    * raw unigram model overrates "Francisco", which occurs often but
    * after only one context). The bigram table is PRUNED at
    * `countFloor` (mirroring q283): a pruned bigram scores on the pure
    * continuation backoff λ(w₁)·P_cont(w₂) — exactly how a pruned KN
    * model backs off — and `n_backoff` counts the doc's bigram tokens
    * that fell through, so pruning is measured, never silent. With
    * countFloor ≥ 1 + D the discounted numerator is strictly positive,
    * so the max(·,0) clamp of the general form is unreachable and
    * omitted on both engines.
    *
    * Parity: the q181/q283 contract verbatim — ONE transcendental per
    * DISTINCT observed bigram type, quantized to integer micro-nats
    * over identical rational doubles (same literal order on both
    * engines: (cb−0.75)/c1 + 0.75·n1p/c1·(n1pr/bt)); every per-doc
    * aggregate after quantization is exact integer arithmetic,
    * order-independent across shuffles. Self-scoring means every doc
    * bigram is an observed type, so the model join is total.
    *
    * Scale: per-doc bigram counts partial-aggregate map-side; the
    * model is one rollup chain OF the observed-bigram-type table (left
    * marginal + distinct-continuation counts are the SAME groupBy; the
    * continuation table is vocab-sized; the type total is one scalar) —
    * never a second corpus pass — and broadcasts to the scoring join. */
  def kneserNeyBigramScore(docs: DataFrame, idCol: String, textCol: String,
                           countFloor: Int = 2,
                           discount: Double = 0.75): DataFrame = {
    require(countFloor >= 1 + discount,
      s"countFloor $countFloor must exceed 1 + discount $discount")
    val dcb = fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode_outer(wordShingles(tokens(normText(col(textCol))), 2))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(col("bg")).as("c"))
      .stage("kneserNeyBigramScore:dcb") // model AND scoring read it
    val cball = dcb.filter(col("bg").isNotNull)
      .groupBy("bg").agg(sum("c").as("cb"))
      .stage("kneserNeyBigramScore:cball") // read by both marginals, the type total, the model
    // ONE left-marginal groupBy carries both c(w1·) and N1+(w1·) — the
    // continuation-weight inputs ride the rollup the plain marginal
    // already needed.
    val c1 = cball.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("cb").as("c1"), count(lit(1)).as("n1p"))
    val pc = cball.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n1pr"))
    val bt = cball.agg(count(lit(1)).as("bt"))
    val lp = cball
      .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
      .join(pc, substring_index(col("bg"), " ", -1) === col("w2"))
      .crossJoin(broadcast(bt))
      .select(col("bg"),
        (col("cb") >= countFloor).cast("int").as("retained"),
        round(-log(
          when(col("cb") >= countFloor,
            (col("cb") - lit(discount)) / col("c1") +
              lit(discount) * col("n1p") / col("c1") *
                (col("n1pr").cast("double") / col("bt")))
            .otherwise(lit(discount) * col("n1p") / col("c1") *
              (col("n1pr").cast("double") / col("bt")))) * 1e6, 0)
          .cast("long").as("lp"))
    dcb.join(broadcast(lp), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum(when(col("bg").isNotNull, col("c"))), lit(0L))
          .as("n_bigrams"),
        coalesce(sum(when(col("retained") === 0, col("c"))
          .otherwise(lit(0L))), lit(0L)).as("n_backoff"),
        coalesce(sum(col("c") * col("lp")), lit(0L)).as("sl"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        when(col("n_bigrams") === 0, 0L)
          .otherwise(expr("sl div n_bigrams")).as("nll_micro"))
      .orderBy("doc_id")
  }

  /** Per-document character-entropy report: Shannon entropy of the
    * normalized text's character distribution in integer micro-nats —
    * the classic "is this text or noise/boilerplate" signal (all-same
    * chars → 0; uniform over k chars → ln k). Uses the same
    * quantize-each-log-once parity trick as [[bigramLmScore]]:
    * H = ln n − (1/n)·Σ c·ln c, and each ln sits on an INTEGER count,
    * so l(c) = round(ln c · 10⁶) is a deterministic scalar and the
    * whole aggregate after quantization is exact integer arithmetic —
    * order-independent across engines and shuffle orders.
    *
    * Scale: one (doc, char) partial-aggregated count (≤ charset rows
    * per doc map-side) and one doc-keyed rollup — no joins, no model
    * table, no second corpus pass. */
  def charEntropy(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val lmicro = (c: Column) => round(log(c) * 1e6, 0).cast("long")
    fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode_outer(charShingles(normText(col(textCol)), 1)).as("ch"))
      .groupBy("doc_id", "ch").agg(count(col("ch")).as("c"))
      .groupBy("doc_id")
      .agg(coalesce(sum(when(col("ch").isNotNull, col("c"))), lit(0L))
          .as("n_chars"),
        sum(when(col("ch").isNotNull, 1L)).as("k"),
        sum(col("c") * lmicro(col("c"))).as("scl"))
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("k"), lit(0L)).as("distinct_chars"),
        when(col("n_chars") === 0, 0L)
          .otherwise(lmicro(col("n_chars")) - expr("scl div n_chars"))
          .as("entropy_micro"))
      .orderBy("doc_id")
  }

  /** Stop-ratio ppm threshold splitting rule-label class 1 from class 2
    * in [[ruleQualityLabel]] — 0.12 splits the quality population's
    * stopword-ratio tail at every test scale factor. */
  val RuleLabelStopPpm = 120000L

  /** THREE-class rule-based quality label — the [[qualityScore]] gate
    * refined into the label space of the frozen [[qualityClassifier]]:
    * class 0 = fails the q29 gate (bad), class 2 = passes with a
    * stopword ratio ≥ 0.12 (natural prose), class 1 = the rest
    * (passable). A deterministic rule label is what a frozen classifier
    * is evaluated AGAINST when no human labels exist — the standard
    * weak-supervision eval loop. Exact integer thresholds (floor-ppm
    * ratio), zero shuffles beyond the doc-keyed token rollup. */
  def ruleQualityLabel(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val toks = tokens(t)
    val nTokens = size(toks).cast("long")
    val nStop = size(filter(toks, w => w.isInCollection(Stopwords))).cast("long")
    docs.select(col(idCol).as("doc_id"), nTokens.as("n_tokens"),
        nStop.as("n_stop"))
      .select(col("doc_id"),
        when(!(col("n_tokens").between(10, 1000) &&
          col("n_stop") * 20 >= col("n_tokens")), 0)
          .when(expr("n_stop * 1000000 div n_tokens") >= RuleLabelStopPpm, 2)
          .otherwise(1).cast("int").as("label"))
  }

  /** CLASSIFIER EVALUATION harness (q235) — the confusion matrix and
    * per-class precision/recall/F1 of the frozen [[qualityClassifier]]
    * measured against the [[ruleQualityLabel]] rule gate, closing the
    * eval loop the way q105 closed ANN recall: q222 produces classes,
    * this measures them. One row per TRUE class c carrying the full
    * matrix row (docs of class c predicted as 0/1/2), the class totals,
    * and P/R/F1 as exact floor ppm — precision = tp·10⁶ div n_pred,
    * recall = tp·10⁶ div n_true, F1 = 2·p·r div (p+r), each 0 when its
    * denominator is 0 (the sklearn zero_division=0 convention). All
    * numerators nonnegative, so floor division needs no sign split.
    *
    * Scale shape: predictions and labels are both doc-keyed single-pass
    * rollups over the same scan; the join is doc-keyed; the matrix agg
    * collapses to |classes|² cells, and the per-class report rides a
    * 3-row spine (every class surfaces even with zero support). */
  def classifierEval(docs: DataFrame, idCol: String, textCol: String,
                     nClasses: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pred = qualityClassifier(docs, idCol, textCol, nClasses = nClasses)
      .select(col("doc_id"), col("predicted"))
    val lab = ruleQualityLabel(docs, idCol, textCol)
    val cells = lab.join(pred, Seq("doc_id"))
      .groupBy("label", "predicted").agg(count(lit(1)).as("n"))
      .stage("classifierEval:cells") // |classes|² rows; read for matrix rows AND column totals
    val predTot = cells.groupBy(col("predicted").as("class"))
      .agg(sum("n").as("n_pred"))
    val spine = (0 until nClasses).toDF("class")
    val matrixRow = (0 until nClasses).map(p =>
      coalesce(sum(when(col("predicted") === p, col("n"))), lit(0L))
        .as(s"pred_$p"))
    val rows = cells.groupBy(col("label").as("class"))
      .agg(matrixRow.head, matrixRow.tail: _*)
      .withColumn("n_true",
        (0 until nClasses).map(p => col(s"pred_$p")).reduce(_ + _))
    spine.join(broadcast(rows), Seq("class"), "left")
      .join(broadcast(predTot), Seq("class"), "left")
      .select(col("class") +:
        (0 until nClasses).map(p =>
          coalesce(col(s"pred_$p"), lit(0L)).as(s"pred_$p")) :+
        coalesce(col("n_true"), lit(0L)).as("n_true") :+
        coalesce(col("n_pred"), lit(0L)).as("n_pred"): _*)
      .withColumn("tp",
        (0 until nClasses).map(p =>
          when(col("class") === p, col(s"pred_$p"))).reduce(coalesce(_, _)))
      .withColumn("precision_ppm",
        when(col("n_pred") === 0, 0L)
          .otherwise(expr("tp * 1000000 div n_pred")))
      .withColumn("recall_ppm",
        when(col("n_true") === 0, 0L)
          .otherwise(expr("tp * 1000000 div n_true")))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") === 0, 0L)
          .otherwise(expr(
            "2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)")))
      .select(col("class") +:
        (0 until nClasses).map(p => col(s"pred_$p")) :+
        col("n_true") :+ col("n_pred") :+ col("tp").cast("long").as("tp") :+
        col("precision_ppm").cast("long").as("precision_ppm") :+
        col("recall_ppm").cast("long").as("recall_ppm") :+
        col("f1_ppm").cast("long").as("f1_ppm"): _*)
      .orderBy("class")
  }

  /** CLASSIFIER CALIBRATION bins (q241) — the reliability-diagram
    * readout of the frozen [[qualityClassifier]]: docs bucketed by the
    * classifier's integer decision MARGIN (fixed width `binWidth`, no
    * data-dependent quantile window), per bin the doc count, how often
    * the prediction agrees with the [[ruleQualityLabel]] rule gate, and
    * the agreement rate in exact floor ppm. A well-calibrated
    * margin-confidence classifier shows agreement RISING with margin —
    * the curve a pipeline reads before picking the margin cutoff above
    * which q222 predictions are trusted unreviewed. Margin is always
    * ≥ 0 (argmax logit minus runner-up), so bins and ratios need no
    * sign split.
    *
    * Scale shape: two scan-side doc-keyed rollups (classifier logits,
    * rule label) joined on the doc key, then a bin-keyed aggregation —
    * bins bounded by max-margin/binWidth regardless of corpus size. */
  def calibrationBins(docs: DataFrame, idCol: String, textCol: String,
                      binWidth: Long = 40L): DataFrame = {
    require(binWidth >= 1, s"need binWidth >= 1, got $binWidth")
    val pred = qualityClassifier(docs, idCol, textCol)
      .select(col("doc_id"), col("predicted"), col("margin"))
    val lab = ruleQualityLabel(docs, idCol, textCol)
    pred.join(lab, Seq("doc_id"))
      .withColumn("bin", expr(s"margin div $binWidth"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
          .as("n_agree"),
        min("margin").as("min_margin"),
        max("margin").as("max_margin"),
        sum("margin").as("sm"))
      .select(col("bin").cast("long").as("bin"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_agree").cast("long").as("n_agree"),
        expr("n_agree * 1000000 div n_docs").as("agree_ppm"),
        col("min_margin").cast("long").as("min_margin"),
        col("max_margin").cast("long").as("max_margin"),
        expr("sm div n_docs").as("mean_margin"))
      .orderBy("bin")
  }

  /** POPULATION STABILITY INDEX drift per source (q242) — the
    * industry-standard third drift readout beside the KS statistic
    * (q139) and JS divergence (q196): PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)
    * over fixed-width token-count bins, between each source's persisted
    * reference half (even doc_id — the q124 state convention) and its
    * current half (odd doc_id). Add-one smoothing over the per-source
    * joint bin spine keeps every ratio finite; probabilities quantized
    * to exact floor ppm, log terms to round-e6 micro-nats via the q196
    * cross-engine idiom (both engines take IEEE ln of the same rational
    * double). PSI is ≥ 0 mathematically; quantization can leave the sum
    * a hair negative, so it is clamped at 0 before the floor division
    * (the q196 `greatest` guard). Rule of thumb the report encodes:
    * psi < 0.10 stable, 0.10–0.25 moderate shift, > 0.25 action.
    *
    * Scale shape: one scan-side projection to (source, half, bin), one
    * (source, half, bin)-keyed count, then all work on the
    * |sources|·|bins| relation — never doc-sized after the first
    * rollup. */
  def psiDrift(docs: DataFrame, idCol: String, srcCol: String,
               textCol: String, binTokens: Long = 16L): DataFrame = {
    require(binTokens >= 1, s"need binTokens >= 1, got $binTokens")
    val t = normText(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source"),
        size(tokens(t)).cast("long").as("n_tokens"))
      .select(col("source"), (col("doc_id") % 2).cast("int").as("half"),
        expr(s"n_tokens div $binTokens").as("bin"))
    val cnt = base.groupBy("source", "half", "bin")
      .agg(count(lit(1)).as("c"))
    val ref = cnt.filter(col("half") === 0)
      .select(col("source"), col("bin"), col("c").as("cr"))
    val cur = cnt.filter(col("half") === 1)
      .select(col("source"), col("bin"), col("c").as("cc"))
    val spine = ref.join(cur, Seq("source", "bin"), "full_outer")
      .na.fill(0L, Seq("cr", "cc"))
      .withColumn("cr1", col("cr") + 1)
      .withColumn("cc1", col("cc") + 1)
    val tot = spine.groupBy("source").agg(
      sum("cr").as("n_ref_docs"), sum("cc").as("n_cur_docs"),
      sum("cr1").as("nr"), sum("cc1").as("nc"),
      count(lit(1)).as("n_bins"))
    spine.join(tot, Seq("source"))
      .withColumn("p_ppm", expr("cr1 * 1000000 div nr"))
      .withColumn("q_ppm", expr("cc1 * 1000000 div nc"))
      .withColumn("l_e6",
        round(log(col("cr1").cast("double") / col("nr") /
          (col("cc1").cast("double") / col("nc"))) * 1e6, 0).cast("long"))
      .groupBy("source")
      .agg(max("n_ref_docs").as("n_ref_docs"),
        max("n_cur_docs").as("n_cur_docs"),
        max("n_bins").as("n_bins"),
        sum((col("p_ppm") - col("q_ppm")) * col("l_e6")).as("s"))
      .select(col("source"),
        col("n_ref_docs").cast("long").as("n_ref_docs"),
        col("n_cur_docs").cast("long").as("n_cur_docs"),
        col("n_bins").cast("int").as("n_bins"),
        expr("greatest(CAST(0 AS BIGINT), s) div 1000000").as("psi_micro"))
      .orderBy("source")
  }

  /** SPLIT-CONFORMAL SELECTIVE PREDICTION (q256, Vovk et al.; the
    * Angelopoulos–Bates tutorial's split recipe) for the frozen
    * [[qualityClassifier]]: the even-doc_id half CALIBRATES an accept
    * threshold τ on the decision margin — τ = the k-th smallest
    * calibration margin with k = ⌊α·(n_cal+1)⌋ (α = 10%), so at most
    * ~α of exchangeable future margins fall below τ — and the odd half
    * is SCORED against it: predictions with margin ≥ τ are ACCEPTED
    * (trusted unreviewed), the rest abstain to human review. Per
    * predicted class on the test half: volumes, accept rate, and
    * accuracy vs the rule labels among accepted vs rejected — the
    * selective-prediction readout that turns q241's calibration curve
    * into an operating policy. k = 0 (tiny calibration sets) accepts
    * everything (τ = 0; margins are never negative). The k-th order
    * statistic is computed on the DISTINCT-margin spine via the
    * two-pass [[graft.operators.PrefixSum]] — never an unpartitioned
    * window over data.
    *
    * Scale shape: two scan-side doc-keyed rollups, one doc-keyed join,
    * a margin-spine prefix pass, then |classes|-row arithmetic. */
  def conformalSelective(docs: DataFrame, idCol: String, textCol: String,
                         alphaPpm: Long = 100000L): DataFrame = {
    val pred = qualityClassifier(docs, idCol, textCol)
      .select(col("doc_id"), col("predicted"), col("margin"))
    val lab = ruleQualityLabel(docs, idCol, textCol)
    val j = pred.join(lab, Seq("doc_id"))
      .withColumn("half", (col("doc_id") % 2).cast("int"))
      .stage("conformalSelective:j") // read by the calibration and test legs
    val cal = j.filter(col("half") === 0)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(s"(n_cal + 1) * $alphaPpm div 1000000"))
    val mc = cal.groupBy("margin").agg(count(lit(1)).as("c"))
    val pref = graft.operators.PrefixSum.exclusive(mc, "margin",
      descending = false, ties = Seq.empty, valueCol = "c",
      outCol = "before")
    val tau = pref.crossJoin(broadcast(nCal))
      .filter(col("before") + col("c") >= col("k"))
      .agg(coalesce(min("margin"), lit(0L)).as("tau"))
    j.filter(col("half") === 1)
      .crossJoin(broadcast(tau)).crossJoin(broadcast(nCal))
      .withColumn("acc", (col("margin") >= col("tau")).cast("int"))
      .withColumn("ok", (col("predicted") === col("label")).cast("int"))
      .groupBy("predicted")
      .agg(count(lit(1)).as("n_test"),
        sum("acc").as("n_accepted"),
        sum(col("acc") * col("ok")).as("n_acc_ok"),
        sum((lit(1) - col("acc")) * col("ok")).as("n_rej_ok"),
        max("tau").as("tau"), max("n_cal").as("n_cal"), max("k").as("k"))
      .select(col("predicted"),
        col("n_test").cast("long").as("n_test"),
        col("n_accepted").cast("long").as("n_accepted"),
        expr("n_accepted * 1000000 div n_test").as("accept_ppm"),
        when(col("n_accepted") === 0, 0L)
          .otherwise(expr("n_acc_ok * 1000000 div n_accepted"))
          .as("acc_accepted_ppm"),
        when(col("n_test") === col("n_accepted"), 0L)
          .otherwise(expr("n_rej_ok * 1000000 div (n_test - n_accepted)"))
          .as("acc_rejected_ppm"),
        col("tau").cast("long").as("tau"),
        col("n_cal").cast("long").as("n_cal"),
        col("k").cast("long").as("k"))
      .orderBy("predicted")
  }

  /** DSIR-style importance weights (q243) — Data Selection via
    * Importance Resampling (Xie et al. 2023, arXiv:2302.03169) made
    * deterministic: hashed unigram bucket features (the paper's hashed
    * n-gram feature space), target distribution = the `lang = 'en'`
    * slice, raw distribution = the whole corpus, per-bucket log
    * importance ln(p_target(b)/p_corpus(b)) in round-e6 micro-nats
    * (the q196 idiom; add-one smoothing over the fixed `dim`-bucket
    * spine keeps ratios finite), and per-doc importance = Σ over the
    * doc's tokens of the bucket log-weight — the exact log of the
    * paper's product-of-ratios importance weight. Output: the `topK`
    * most target-like documents (weight desc, ties doc_id) with their
    * source/lang for the mixture readout — the slice importance
    * RESAMPLING would promote.
    *
    * Scale shape: the weight table is `dim` rows built from one
    * bucket-keyed rollup and broadcast back onto the per-doc bucket
    * counts; everything after the scan is doc-keyed; the report is a
    * TakeOrdered top-k, never a global sort. */
  def dsirWeights(docs: DataFrame, idCol: String, srcCol: String,
                  langCol: String, textCol: String, dim: Int = 64,
                  topK: Int = 40): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = docs.sparkSession
    import spark.implicits._
    val tokh = fanOut(docs).select(col(idCol).as("doc_id"),
        when(col(langCol) === "en", 1).otherwise(0).as("tgt"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("tgt"),
        (graft.functions.TextKernelOps.wordNgramHashFull(col("w"), 1)
          .getItem(0) % dim).cast("int").as("bucket"))
    val perDoc = tokh.groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("c"), max("tgt").as("tgt"))
      .stage("dsirWeights:perDoc") // read 2x: bucket distributions + doc weights
    val byBucket = perDoc.groupBy("bucket").agg(
      sum("c").as("ca"),
      sum(when(col("tgt") === 1, col("c")).otherwise(0L)).as("ct"))
    val spine = (0 until dim).toDF("bucket")
      .join(byBucket, Seq("bucket"), "left")
      .na.fill(0L, Seq("ca", "ct"))
      .withColumn("ca1", col("ca") + 1)
      .withColumn("ct1", col("ct") + 1)
    val tots = spine.agg(sum("ca1").as("na"), sum("ct1").as("nt"))
    val weights = spine.crossJoin(broadcast(tots))
      .select(col("bucket"),
        round(log(col("ct1").cast("double") / col("nt") /
          (col("ca1").cast("double") / col("na"))) * 1e6, 0).cast("long")
          .as("lw_e6"))
    val docW = perDoc.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), sum(col("c") * col("lw_e6")).as("w"))
    docW.join(docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        col(langCol).as("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("w").cast("long").as("weight_e6"))
      .orderBy(desc("weight_e6"), col("doc_id"))
      .limit(topK)
  }

  /** DISTINCT-n DIVERSITY per source (Li et al. 2016's distinct-1/2 —
    * the lexical-diversity readout generation pipelines publish, and a
    * crawl-health probe for corpora: boilerplate floods crater
    * distinct-2/3 long before doc-level dedup sees anything): for
    * n ∈ {1, 2, 3}, the number of distinct word n-grams over the total
    * n-gram count, per source, in exact floor ppm. n-grams ride as
    * full-span rolling hashes (the q260 kernel) — no n-gram string is
    * ever shuffled.
    *
    * Scale shape: one scan-side kernel projection per n feeds a
    * (source, hash)-keyed count (map-side partial) and a source-keyed
    * total; everything after is |sources|·3 rows. */
  def distinctNgramDiversity(docs: DataFrame, idCol: String,
                             srcCol: String, textCol: String): DataFrame = {
    val t = normText(col(textCol))
    val perN = Seq(1, 2, 3).map { n =>
      val h = fanOut(docs)
        .select(col(srcCol).as("source"),
          explode(graft.functions.TextKernelOps.wordNgramHashFull(t, n))
            .as("h"))
      h.groupBy("source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_total"))
        .select(col("source"), lit(n).cast("int").as("n"),
          col("n_total").cast("long").as("n_total"),
          col("n_distinct").cast("long").as("n_distinct"),
          expr("n_distinct * 1000000 div n_total").as("distinct_ppm"))
    }
    perN.reduce(_ unionAll _).orderBy("source", "n")
  }

  /** GOOD–TURING COVERAGE + CHAO1 RICHNESS per source (Good 1953; Chao
    * 1984) — "how much of this source's vocabulary have we actually
    * seen?", the question behind deciding whether more crawling of a
    * source buys new content or re-downloads: the Good–Turing unseen
    * probability mass P₀ = N₁/N (N₁ = hapax count), sample coverage
    * C = 1 − P₀, and the bias-corrected Chao1 estimate of the TRUE
    * vocabulary size V + N₁(N₁−1)/(2(N₂+1)) (defined even when no
    * doubletons exist). All ratios exact floor ppm; Chao1's correction
    * is one integer floor division.
    *
    * Scale shape: one (source, term)-keyed count off the scan (map-side
    * partial), then one source-keyed rollup of conditional counts —
    * |sources| rows after the single vocabulary shuffle, no windows. */
  def goodTuringCoverage(docs: DataFrame, idCol: String, srcCol: String,
                         textCol: String): DataFrame =
    fanOut(docs)
      .select(col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
      .groupBy("source")
      .agg(sum("freq").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("freq") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("vocab").cast("long").as("vocab"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        expr("n1 * 1000000 div n_tokens").as("unseen_ppm"),
        expr("(n_tokens - n1) * 1000000 div n_tokens").as("coverage_ppm"),
        expr("vocab + n1 * (n1 - 1) div (2 * (n2 + 1))").as("chao1_vocab"))
      .orderBy("source")

  /** ZIPF RANK-FREQUENCY FIT per source (Zipf's law — the corpus "law"
    * check a data card quotes; a crawl whose exponent drifts far from
    * −1 is usually boilerplate-flooded or truncated): OLS of
    * ln(frequency) on ln(rank) over the top-`maxRank` vocabulary of
    * each source, slope (the Zipf exponent, ≈ −1 for natural text),
    * intercept and R² — the q148 exact-moment OLS idiom on e6-quantized
    * logs: x = round(ln(rank)·10⁶), y = round(ln(freq)·10⁶) quantize
    * once per row, the five moments accumulate exactly (DECIMAL(38,0)),
    * slope_e6 = ⌊cd·10⁶ / ca⌋ is a floor division of exact integers,
    * and R² takes ONE double division of the same exact integers
    * (cd²/(ca·sst) — the identical-doubles idiom; cd² would pass 38
    * digits as a decimal).
    *
    * Scale shape: one (source, term)-keyed count off the scan
    * (map-side partial); ranking is the salted two-phase top-`maxRank`
    * (a source's vocabulary never rides one window task); everything
    * after runs on ≤ |sources|·maxRank rows. Fitting the HEAD is also
    * the honest statistical choice — the rank-frequency tail is known
    * to bend away from the power law. */
  def zipfFit(docs: DataFrame, idCol: String, srcCol: String,
              textCol: String, maxRank: Int = 100): DataFrame = {
    require(maxRank >= 3, s"need maxRank >= 3, got $maxRank")
    val vocab = fanOut(docs)
      .select(col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val ranked = graft.operators.Skew.saltedTopKPerGroup(vocab,
      Seq("source"), Seq(col("freq").desc, col("w")), maxRank, salts = 8)
    val xy = ranked.select(col("source"),
      round(log(col("rank").cast("double")) * 1e6, 0).cast("long").as("x"),
      round(log(col("freq").cast("double")) * 1e6, 0).cast("long").as("y"))
    xy.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("ca", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("cd", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("sst", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .filter(col("ca") > 0 && col("sst") > 0) // degenerate fits dropped
      // slope/intercept numerators go NEGATIVE (a Zipf slope is ≈ −1),
      // so every division is sign-split truncation — identical on both
      // engines per the negative-floor-division parity trap.
      .withColumn("slope_e6", expr(
        "CASE WHEN cd < 0 THEN -CAST(((-cd) * 1000000) div ca AS BIGINT) " +
          "ELSE CAST((cd * 1000000) div ca AS BIGINT) END"))
      .withColumn("inum", expr(
        "CAST(sy AS DECIMAL(38,0)) * 1000000 - CAST(slope_e6 AS " +
          "DECIMAL(38,0)) * sx"))
      .select(col("source"), col("n").cast("int").as("n_ranks"),
        col("slope_e6"),
        // intercept = (Σy − slope·Σx)/n, in the shared e6 units
        expr("CASE WHEN inum < 0 THEN -CAST((-inum) div " +
          "(CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT) " +
          "ELSE CAST(inum div (CAST(n AS DECIMAL(38,0)) * 1000000) " +
          "AS BIGINT) END").as("intercept_e6"),
        expr("CAST(ROUND(CAST(cd AS DOUBLE) * CAST(cd AS DOUBLE) " +
          "/ (CAST(ca AS DOUBLE) * CAST(sst AS DOUBLE)) * 1000000, 0) " +
          "AS BIGINT)").as("r2_ppm"))
      .orderBy("source")
  }
}
