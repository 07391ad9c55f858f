package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.TextOps.{normText, tokens}
import graft.operators.Stage.StageOps

/** Full-text retrieval over the documents corpus: an inverted-index BM25
  * ranker — the lexical search primitive every corpus-curation stack
  * pairs with its embedding retriever (Similarity.scala is the dense
  * tier; this is the sparse tier of the standard hybrid).
  *
  * BM25 (Robertson–Spärck Jones, Okapi at TREC-3) with the Lucene-style
  * always-positive idf:
  *
  *   score(q, d) = Σ_{t ∈ q}  idf(t) · tf(t,d)·(k₁+1)
  *                            ─────────────────────────────────
  *                            tf(t,d) + k₁·(1 − b + b·dl(d)/avgdl)
  *
  *   idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))
  *
  * with the standard k₁ = 1.2, b = 0.75.
  *
  * Parity design (the q181 contract): the only transcendental — idf — is
  * quantized ONCE per distinct query term to integer micro-nats
  * (round(idf·10⁶)); the tf saturation term is an exact RATIONAL once
  * k₁ and b are cleared of decimals, so it floors to exact integer ppm
  * on both engines. With avgdl = T/N (T corpus tokens, N docs),
  * multiplying numerator and denominator by 10·T:
  *
  *   tf_ppm = ⌊ 22·tf·T·10⁶ / (10·T·tf + 3·T + 9·dl·N) ⌋
  *
  * (DECIMAL(38,0) intermediates: 22·tf·T·10⁶ stays under 10³⁸ for any
  * conceivable corpus). The document score Σ idf_micro·tf_ppm is then a
  * sum of exact integer products — order-independent across shuffle
  * partitions and engines — and the (score desc, doc_id) ranking is
  * fully reproducible. No float ever crosses an aggregation.
  *
  * Scale shape: one tokenize pass feeds three partial-aggregated
  * reductions — postings tf(doc, term), document lengths dl(doc), and
  * document frequencies df(term); every exchanged row is a key with
  * counts, never a document. The query set is SMALL BY CONTRACT (a
  * search request, not a table), so query terms broadcast into the
  * postings join — the only corpus-sized exchange after tokenization is
  * the (query, doc)-keyed score aggregation, which AQE coalesces. The
  * per-query top-k window partitions by query over matched docs only; a
  * query matching a constant fraction of a 100 TB corpus would take the
  * [[graft.operators.Skew.saltedTopKPerGroup]] form instead (same
  * contract as q63/q81).
  */
object Retrieval {

  /** BM25 top-`k` documents for each query in `queries`
    * (query_id → whitespace-separated terms; terms are matched after the
    * same [[TextOps.normText]] normalization the index applies). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Int, String)], k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bm25TopKDf(docs, idCol, textCol, queries.toDF("query_id", "qtext"), k)
  }

  /** [[bm25TopK]] with the query set as a DataFrame (`query_id`,
    * `qtext`) — the query-by-example form, where queries come from a
    * relation (e.g. the corpus itself) instead of literals. Query terms
    * are DEDUPLICATED (BM25 treats the query as a term SET; a
    * document-as-query would otherwise score its repeated terms
    * multiply). With `excludeQueryDoc` the candidate equal to the query
    * id is dropped BEFORE ranking — the more-like-this contract, where
    * the trivial self-hit would pin rank 1 of every list. The query set
    * stays small by contract (it is a search request); the corpus-side
    * shapes are identical to the literal form. */
  def bm25TopKDf(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, k: Int = 10,
                 excludeQueryDoc: Boolean = false): DataFrame = {
    val (tf, dl, dfT, totals) = index(docs, idCol, textCol)
    val q = queries
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
    rankTopK(idfTerms(q, dfT, totals), tf, dl, totals, k, excludeQueryDoc)
      .orderBy("query_id", "rank")
  }

  /** The inverted index: postings tf(doc, term), document lengths,
    * document frequencies, corpus totals — one tokenize pass, three
    * partial-aggregated reductions.
    *
    * All four relations are [[StageCache]]-memoized (keyed by the corpus
    * plan + columns): SEVEN registered queries build this identical
    * index (q186/q220/q254/q259/q270/q287 on the full corpus, q286 on
    * its two halves), and before the memo each re-ran the tokenize +
    * postings shuffle from the parquet scan — the round-13 verdict's
    * retrieval-family drift (q186 1.43→2.21s over two rounds) was
    * exactly this recomputation cost. The cached relations are
    * index-scale (postings = |doc,term| counts, never documents), the
    * same metadata-tier the knn/diameter families already pin; Bench's
    * retry loop still prices the full standalone build via
    * `invalidateAll()`. */
  private def index(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = StageCache.keyFor(docs, "bm25idx", idCol, textCol)
    // Postings and lengths partial-aggregate map-side; df is a rollup of
    // the postings (distinct (doc, term) rows), not a second corpus pass.
    val tf = StageCache.getOrStage(s"$base:tf") {
      graft.model.Tables.fanOut(docs)
        .select(col(idCol).as("doc_id"),
          explode(tokens(normText(col(textCol)))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .stage("bm25Index:tf") // read 3×: df rollup, dl rollup, scoring join
    }
    val dl = StageCache.getOrStage(s"$base:dl")(
      tf.groupBy("doc_id").agg(sum("tf").as("dl")).stage("bm25Index:dl"))
    val dfT = StageCache.getOrStage(s"$base:df")(
      tf.groupBy("w").agg(count(lit(1)).as("df")).stage("bm25Index:df"))
    val totals = StageCache.getOrStage(s"$base:tot")(
      dl.agg(count(lit(1)).as("n"), sum("dl").as("t")).stage("bm25Index:totals"))
    (tf, dl, dfT, totals)
  }

  /** Collection term frequencies ctf(w) — the q270/q287 rollup of the
    * staged postings, memoized under the same index key family. */
  private def ctfOf(docs: DataFrame, idCol: String, textCol: String,
                    tf: DataFrame): DataFrame =
    StageCache.getOrStage(
        StageCache.keyFor(docs, "bm25idx", idCol, textCol) + ":ctf")(
      tf.groupBy("w").agg(sum("tf").as("ctf")).stage("bm25Index:ctf"))

  /** idf per (query, term): quantized once, BEFORE any aggregation.
    * Terms absent from the corpus score 0 and are dropped. */
  private def idfTerms(q: DataFrame, dfT: DataFrame,
                       totals: DataFrame): DataFrame =
    q.join(dfT, "w")
      .crossJoin(broadcast(totals))
      .select(col("query_id"), col("w"),
        round(log(lit(1.0) +
          (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * 1e6, 0)
          .cast("long").as("idf_micro"))

  /** Score a (query_id, w, idf_micro) term relation against the index
    * and keep the per-query top-k. */
  private def rankTopK(qi: DataFrame, tf: DataFrame, dl: DataFrame,
                       totals: DataFrame, k: Int,
                       excludeQueryDoc: Boolean): DataFrame = {
    val scored = qi.join(tf, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
    (if (excludeQueryDoc) scored.filter(col("doc_id") =!= col("query_id"))
     else scored)
      .withColumn("tf_ppm",
        expr("(CAST(22 AS DECIMAL(38,0)) * tf * t * 1000000) div " +
          "(CAST(10 AS DECIMAL(38,0)) * t * tf + 3 * t + 9 * dl * n)")
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_micro") * col("tf_ppm")).as("score_e12"),
        count(lit(1)).cast("int").as("n_hit_terms"))
      .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("score_e12").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_e12"), col("n_hit_terms"))
  }

  /** INCREMENTAL inverted-index maintenance (q286) — the q209
    * merge-states-not-rebuild argument applied to the retrieval tier:
    * the corpus splits into two doc-disjoint halves (even/odd doc_id —
    * "yesterday's index" and "today's delta"), each half aggregates its
    * OWN index state (postings, doc lengths, per-half document
    * frequencies, per-half totals), and the states MERGE by pure monoid
    * ops — postings/lengths by disjoint union, df and the (N, T) totals
    * by addition — with no re-tokenization of the old half. BM25 then
    * ranks the q186 query set on the MERGED state. The DuckDB oracle
    * computes the identical ranking on a FLAT single-pass index, so a
    * green row IS the proof that merge(state(A), state(B)) ≡
    * state(A ∪ B) for every statistic BM25 consumes — the property that
    * makes daily delta index maintenance sound at 100 TB (the spec
    * additionally pins merged ≡ flat inside Spark itself).
    *
    * Scale shape: each half pays the q186 index build on its own rows
    * only; the merge is one union + one term-keyed sum of the two
    * df/total relations — metadata-scale; ranking is the unchanged
    * [[bm25TopK]] machinery. */
  def bm25TopKIncremental(docs: DataFrame, idCol: String, textCol: String,
                          queries: Seq[(Int, String)],
                          k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (tfA, dlA, dfA, totA) =
      index(docs.filter(col(idCol) % 2 === 0), idCol, textCol)
    val (tfB, dlB, dfB, totB) =
      index(docs.filter(col(idCol) % 2 =!= 0), idCol, textCol)
    // Doc-disjoint halves: postings and lengths merge by plain union
    // (their (doc, term)/(doc) keys cannot collide); df merges by
    // term-keyed addition; totals by scalar addition.
    val tf = tfA.unionAll(tfB)
    val dl = dlA.unionAll(dlB)
    val dfT = dfA.unionAll(dfB).groupBy("w").agg(sum("df").as("df"))
    val totals = totA.unionAll(totB).agg(sum("n").as("n"), sum("t").as("t"))
    val q = queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
    rankTopK(idfTerms(q, dfT, totals), tf, dl, totals, k,
        excludeQueryDoc = false)
      .orderBy("query_id", "rank")
  }

  /** UN-TRUNCATED BM25 scores per (query, doc) — the pooling input for
    * compositions that rank an AGGREGATE of scored units (q259 pools
    * chunk scores to documents) rather than the units themselves. Same
    * integer contract as [[bm25TopKDf]], no top-k window. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame): DataFrame = {
    val (tf, dl, dfT, totals) = index(docs, idCol, textCol)
    val q = queries
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
    idfTerms(q, dfT, totals).join(tf, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("tf_ppm",
        expr("(CAST(22 AS DECIMAL(38,0)) * tf * t * 1000000) div " +
          "(CAST(10 AS DECIMAL(38,0)) * t * tf + 3 * t + 9 * dl * n)")
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_micro") * col("tf_ppm")).as("score_e12"),
        count(lit(1)).cast("int").as("n_hit_terms"))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK retrieval (q254) — the classic
    * retrieve → expand → rescore loop (Rocchio/RM-style PRF, the
    * standard recall lever of a lexical stack): stage 1 ranks with
    * BM25 and takes the top `kFb` feedback documents per query; the
    * expansion picks the `nExp` highest-weight NEW terms from those
    * documents (weight = Σ over feedback docs of tf·idf_micro — exact
    * integer products; original query terms excluded by an anti join;
    * ties to the lexicographically-smaller term); stage 2 rescores the
    * corpus with the EXPANDED term set and returns the final top-k,
    * flagging per hit how many of its matched terms were expansions.
    * Both stages share ONE index build (the corpus pays one tokenize
    * pass); every PRF-specific relation — feedback lists, candidate
    * expansion terms, the expanded query set — is |Q|-bounded.
    *
    * Query-by-example contract like q220: queries come from a relation
    * and the self-hit is excluded in BOTH stages. */
  def bm25PrfTopK(docs: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, k: Int = 5, kFb: Int = 5,
                  nExp: Int = 3): DataFrame = {
    val (tf, dl, dfT, totals) = index(docs, idCol, textCol)
    val qTerms = queries
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
      .stage("bm25PrfTopK:qTerms") // read by stage-1 idf, the anti join, the union
    val fb = rankTopK(idfTerms(qTerms, dfT, totals), tf, dl, totals,
      kFb, excludeQueryDoc = true)
      .select(col("query_id"), col("doc_id"))
    val idfAll = dfT.crossJoin(broadcast(totals))
      .select(col("w"),
        round(log(lit(1.0) +
          (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * 1e6, 0)
          .cast("long").as("idf_micro"))
    val expTerms = fb.join(tf, Seq("doc_id"))
      .join(idfAll, Seq("w"))
      .groupBy("query_id", "w")
      .agg(sum(col("tf") * col("idf_micro")).as("escore"))
      .join(qTerms, Seq("query_id", "w"), "left_anti")
      .withColumn("erk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("escore").desc, col("w"))))
      .filter(col("erk") <= nExp)
      .select(col("query_id"), col("w"))
      .stage("bm25PrfTopK:expTerms") // |Q|·nExp rows, read TWICE (expanded ∪ exFlag):
      // un-staged, each read re-ran stage 1 (rank + window) from the index
    val expanded = qTerms.select("query_id", "w")
      .unionAll(expTerms)
      .distinct()
    val qi2 = idfTerms(expanded, dfT, totals)
    val exFlag = expTerms.withColumn("is_exp", lit(1))
    // rescore, then count how many matched terms were expansions
    val scored2 = qi2.join(tf, "w").join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .filter(col("doc_id") =!= col("query_id"))
      .join(exFlag, Seq("query_id", "w"), "left")
      .withColumn("tf_ppm",
        expr("(CAST(22 AS DECIMAL(38,0)) * tf * t * 1000000) div " +
          "(CAST(10 AS DECIMAL(38,0)) * t * tf + 3 * t + 9 * dl * n)")
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_micro") * col("tf_ppm")).as("score_e12"),
        count(lit(1)).cast("int").as("n_hit_terms"),
        sum(coalesce(col("is_exp"), lit(0))).cast("int")
          .as("n_exp_terms"))
    scored2.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_e12").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_e12"), col("n_hit_terms"), col("n_exp_terms"))
      .orderBy("query_id", "rank")
  }

  /** DIRICHLET-SMOOTHED QUERY LIKELIHOOD ranking (Zhai & Lafferty,
    * SIGIR 2001) — the language-modeling ranker beside BM25 (q186),
    * PRF (q254) and RRF (q220); the two families disagree exactly where
    * a deployment wants a second opinion (BM25 saturates tf, QL trades
    * tf against collection probability):
    *
    *   score(q,d) = Σ_{t∈q∩d} ln(1 + tf(t,d)·T / (μ·ctf(t)))
    *              + |q|·ln(μ / (dl(d) + μ))
    *
    * the matched-term decomposition of Π p(t|θ_d) under Dirichlet
    * smoothing (p(t|C) = ctf/T). Query terms are a SET (the q186
    * convention); OOV terms drop (their collection probability is 0 —
    * standard) and |q| counts the surviving terms. Only docs matching
    * ≥ 1 query term are ranked (stated: the no-match tail orders purely
    * by length and never reaches a top-k). μ defaults to 50, sized to
    * this corpus's ~54-token documents (the classic 2000 assumes
    * ~500-token news articles).
    *
    * Parity: both ln terms quantize ONCE to micro-nats over identical
    * exact-integer inputs (the q186 idf idiom — the doubles fed to ln
    * are built from the same longs on both engines), so the summed
    * score is an exact integer and (score desc, doc_id) reproduces.
    *
    * Scale shape: identical to [[bm25TopK]] — ctf is one extra rollup
    * of the staged postings; queries broadcast; the only corpus-sized
    * exchange is the (query, doc) score aggregation. */
  def dirichletQlTopK(docs: DataFrame, idCol: String, textCol: String,
                      queries: Seq[(Int, String)], k: Int = 10,
                      mu: Long = 50L): DataFrame = {
    require(mu >= 1 && k >= 1, s"need mu>=1, k>=1; got $mu, $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val (tf, dl, _, totals) = index(docs, idCol, textCol)
    val ctf = ctfOf(docs, idCol, textCol, tf)
    val q = queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
    val qTerms = q.join(ctf, Seq("w")).crossJoin(broadcast(totals))
      .select(col("query_id"), col("w"), col("ctf"), col("t"))
      .stage("dirichletQlTopK:qTerms") // |q| rows; read by nq + the postings join
    val nq = qTerms.groupBy("query_id").agg(count(lit(1)).as("nq"))
    val matched = qTerms.join(tf, Seq("w"))
      .select(col("query_id"), col("doc_id"),
        round(log(lit(1.0) + col("tf").cast("double") * col("t") /
          (lit(mu.toDouble) * col("ctf"))) * 1e6, 0).cast("long")
          .as("lt_micro"))
      .groupBy("query_id", "doc_id").agg(sum("lt_micro").as("s_match"))
    val scored = matched.join(dl, Seq("doc_id"))
      .join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("s_match") + col("nq") *
          round(log(lit(mu.toDouble) / (col("dl") + lit(mu.toDouble))) * 1e6,
            0).cast("long")).as("score_micro"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro").cast("long").as("score_micro"))
      .orderBy("query_id", "rank")
  }

  /** QUERY-PERFORMANCE PREDICTION by the CLARITY score (q287,
    * Cronen-Townsend–Zhou–Croft SIGIR'02) — "will this query retrieve a
    * coherent result set, or is it ambiguous?", answered BEFORE anyone
    * reads the results: the KL divergence between the language model of
    * the query's top-`fbK` feedback documents and the corpus model,
    *
    *   clarity = Σ_w P(w|F) · ln( P(w|F) / P(w|C) )
    *
    * with P(w|F) = tf_F(w)/|F| over the concatenated feedback docs and
    * P(w|C) = ctf(w)/T. A focused query's feedback set concentrates on
    * query-specific vocabulary (high KL); an ambiguous one retrieves
    * corpus-typical text (KL near 0). The standard routing signal for
    * "send to PRF (q254) / rerank (q224) / flag for human query reform".
    *
    * Exact-integer contract: feedback counts and corpus totals are
    * exact integers; each term's log ratio quantizes ONCE per
    * (query, term) to micro-nats over identical rational doubles (the
    * q181 idiom — ln((tfF·T)/(lenF·ctf)) with the same operand order on
    * both engines), and clarity_micro = ⌊Σ tfF·lp / lenF⌋ with a
    * sign-split floor (per-term contributions go negative even though
    * the KL total is ≥ 0 up to quantization).
    *
    * Scale shape: one q186 index build (shared CTE structure), stage-1
    * ranking on the |Q|-bounded broadcast query set, and every
    * post-feedback relation bounded by |Q|·fbK·doc-vocab — nothing
    * corpus-sized after the index. */
  def clarityScore(docs: DataFrame, idCol: String, textCol: String,
                   queries: Seq[(Int, String)], fbK: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (tf, dl, dfT, totals) = index(docs, idCol, textCol)
    val ctf = ctfOf(docs, idCol, textCol, tf)
    val q = queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(tokens(normText(col("qtext")))).as("w"))
      .distinct()
    val fb = rankTopK(idfTerms(q, dfT, totals), tf, dl, totals, fbK,
        excludeQueryDoc = false)
      .select("query_id", "doc_id")
    val tfF = fb.join(tf, Seq("doc_id"))
      .groupBy("query_id", "w").agg(sum("tf").as("tff"))
      .stage("clarityScore:tfF") // read by the length rollup + the KL terms
    val lenF = tfF.groupBy("query_id").agg(sum("tff").as("lenf"))
    val nFb = fb.groupBy("query_id").agg(count(lit(1)).as("n_fb_docs"))
    tfF.join(lenF, Seq("query_id"))
      .join(ctf, Seq("w"))
      .crossJoin(broadcast(totals))
      .select(col("query_id"), col("lenf"),
        (col("tff") *
          round(log((col("tff").cast("double") * col("t")) /
            (col("lenf").cast("double") * col("ctf"))) * 1e6, 0).cast("long"))
          .as("term"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_terms"), max(col("lenf")).as("fb_len"),
        sum("term").as("num"))
      .join(broadcast(nFb), Seq("query_id"))
      .select(col("query_id"),
        col("n_fb_docs").cast("long").as("n_fb_docs"),
        col("n_terms").cast("long").as("n_terms"),
        col("fb_len").cast("long").as("fb_len"),
        when(col("num") >= 0, expr("num div fb_len"))
          .otherwise(-expr("(-num) div fb_len")).cast("long")
          .as("clarity_micro"))
      .orderBy("query_id")
  }

  /** The exact-integer RBO@k weight for depth d at p = 9/10 over the
    * common denominator 2520·10^k: 9^{d−1}·10^{k−d}·(2520/d). 2520 =
    * lcm(1..10) clears every 1/d for k ≤ 10. */
  private[graft] def rboWeight(d: Int, k: Int): Long =
    (BigInt(9).pow(d - 1) * BigInt(10).pow(k - d) * (2520 / d)).toLong

  /** The nDCG discount at depth d, quantized ONCE per depth to e6
    * fixed-point (the q181 idiom): round(10⁶ / log₂(d+1)). Shared with
    * the DuckDB oracle as inlined literals, so both engines rank with
    * identical integers. */
  private[graft] def ndcgDiscountE6(d: Int): Long =
    math.round(1e6 / (math.log(d + 1.0) / math.log(2.0)))

  /** nDCG@k with GRADED relevance (q281) — the metric retrieval papers
    * lead with, added beside hit@k/MRR (q246) and RBO (q273): unlike
    * MRR (which sees only the single top relevant item) nDCG credits a
    * system for placing EVERY graded-relevant document high, so two
    * systems can order differently under the two metrics — the metric's
    * reason to exist, pinned by the spec fixture.
    *
    *   DCG@k  = Σ_{i=1..k} gain(doc@rank i) · d_i,   d_i = e6/log₂(i+1)
    *   nDCG@k = DCG@k / IDCG@k  (IDCG = DCG of the gain-sorted ideal)
    *
    * Exact-integer contract: gains are small integers by input contract,
    * discounts are the [[ndcgDiscountE6]] constants quantized once per
    * depth, so DCG and per-query IDCG are exact integer sums; per-query
    * nDCG is one floor division to ppm and the per-system mean is a
    * second floor division — both mirrored in the oracle. The ideal
    * ranking sorts (gain desc, doc_id) so ties are deterministic; a
    * query with fewer than k relevant docs gets its true shorter IDCG,
    * not a padded one. The spine is |systems| × |rel queries|: a query
    * a system misses entirely scores 0 rather than vanishing, but a
    * query present in `runs` with NO `rel` judgments is excluded by
    * construction (standard trec_eval semantics — nDCG is undefined at
    * idcg = 0, and q281's rel derives from the brute run so the case
    * never arises there; callers needing unjudged queries visible must
    * outer-extend `rel` themselves).
    *
    * Scale shape: `runs` and `rel` are |Q|·k relations by contract; the
    * gain join is (query, doc)-keyed, the discount join a k-row
    * broadcast, the spine a broadcast nested-loop of a |systems|-row
    * side onto |Q| rows — nothing corpus-sized. */
  def ndcgAtK(runs: DataFrame, rel: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in 1..10, got $k")
    val spark = runs.sparkSession
    import spark.implicits._
    val disc = (1 to k).map(d => d -> ndcgDiscountE6(d)).toDF("rnk", "d")
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("gain"), col("doc_id"))
    val idcg = rel.withColumn("rnk", row_number().over(iw))
      .filter(col("rnk") <= k)
      .join(broadcast(disc), Seq("rnk"))
      .groupBy("query_id").agg(sum(col("gain") * col("d")).as("idcg"))
    val dcg = runs.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "doc_id"))
      .join(broadcast(disc), col("rank") === col("rnk"))
      .groupBy("system", "query_id").agg(sum(col("gain") * col("d")).as("dcg"))
    val systems = runs.select("system").distinct()
    idcg.crossJoin(broadcast(systems)) // bounded spine: |systems| × |Q|
      .join(dcg, Seq("system", "query_id"), "left")
      .na.fill(0L, Seq("dcg"))
      .withColumn("ndcg_ppm",
        expr("CASE WHEN idcg = 0 THEN 0 ELSE dcg * 1000000 div idcg END"))
      .groupBy("system")
      .agg(count(lit(1)).as("n_queries"), sum("dcg").as("sum_dcg_e6"),
        sum("ndcg_ppm").as("sum_ndcg"))
      .select(col("system"),
        col("n_queries").cast("long").as("n_queries"),
        col("sum_dcg_e6").cast("long").as("sum_dcg_e6"),
        expr("sum_ndcg div n_queries").cast("long").as("mean_ndcg_ppm"))
      .orderBy("system")
  }

  /** RANK-BIASED OVERLAP between two top-k rankings (Webber, Moffat &
    * Zobel, TOIS 2010) at p = 9/10 — the ranker-agreement metric the
    * retrieval family needs once it carries more than one ranker (BM25
    * q186, QL q270, the dense tiers): unlike Kendall/Spearman it
    * weights the head, and it is defined for non-conjoint lists.
    *
    *   RBO@k = (1−p) Σ_{d=1..k} p^{d−1} · |A_{1..d} ∩ B_{1..d}| / d
    *
    * Exact rational contract: a doc common to both lists ENTERS the
    * overlap at depth max(rank_A, rank_B), so X_d = #{pairs: max ≤ d};
    * with p = 9/10 every term is rational over the common denominator
    * 2520·10^k (2520 = lcm(1..10)), so the sum is one integer weighted
    * count and rbo needs one DECIMAL(38,0) floor division — no floats.
    * Two readouts: `rbo_min_ppm` (the truncated prefix sum — the mass
    * p^k beyond depth k stays unassigned, so identical lists score
    * 1 − p^k ≈ 0.651) and `rbo_norm_ppm` (normalized by 1 − p^k:
    * identical lists score exactly 10⁶ up to the floor).
    *
    * Scale shape: inputs are |Q|·k relations by contract; the match
    * join is (query, doc)-keyed; the depth spine is a k-row broadcast
    * nonequi join (≤ k² rows per query). Nothing corpus-sized. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in 1..10 (2520 clears 1/d), got $k")
    val spark = a.sparkSession
    import spark.implicits._
    val m = a.select(col("query_id"), col("doc_id"), col("rank").as("ra"))
      .join(b.select(col("query_id"), col("doc_id"), col("rank").as("rb")),
        Seq("query_id", "doc_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
      .stage("rankBiasedOverlap:m") // |Q|·k at most; read by the spine join + count
    val spine = (1 to k).map(d => d -> rboWeight(d, k)).toDF("d", "wt")
    val num = m.join(broadcast(spine), col("m") <= col("d"))
      .groupBy("query_id").agg(sum(col("wt")).as("num"))
    val denMin = (BigInt(2520) * BigInt(10).pow(k)).toLong
    val denNorm = (BigInt(2520) * (BigInt(10).pow(k) - BigInt(9).pow(k))).toLong
    val nc = m.groupBy("query_id").agg(count(lit(1)).as("n_common"))
    // Query spine = union of BOTH inputs' query ids: a query ranked by
    // only one system still gets its (zero-overlap) row instead of being
    // silently dropped when it happens to be B-only. For q273 both
    // rankers cover the same query set, so the union is a no-op there.
    a.select("query_id").unionByName(b.select("query_id")).distinct()
      .join(nc, Seq("query_id"), "left")
      .join(num, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common", "num"))
      .select(col("query_id"),
        col("n_common").cast("long").as("n_common"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div $denMin " +
          "AS BIGINT)").as("rbo_min_ppm"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div $denNorm " +
          "AS BIGINT)").as("rbo_norm_ppm"))
      .orderBy("query_id")
  }
}
