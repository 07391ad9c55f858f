package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis, TextClean, TextDedup, TextOps}
import graft.model.Tables
import graft.operators.Stage.StageOps

/** Oracle-checked wrappers — lexical/hybrid retrieval tier (BM25,
  * Dirichlet QL, PRF, RRF fusion, rerank, chunk retrieval, ranker
  * agreement) over the `documents` table. Round-12 split of the former
  * `ExtQueries` object — values unchanged. */
object RetrievalQueries {
  /** BM25 lexical search (q186): three fixed keyword queries ranked over
    * the documents corpus by the integer-exact Okapi BM25 of
    * [[graft.ext.Retrieval.bm25TopK]]. The query strings hit the
    * corpus's core vocabulary so every query retrieves a full top-10 at
    * every scale factor. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(1 -> "spark hash join", 2 -> "window merge sort",
        3 -> "stream batch data"), k = 10)

  /** Incremental BM25 index maintenance (q286):
    * [[graft.ext.Retrieval.bm25TopKIncremental]] — the q186 ranking
    * computed from two per-half index STATES merged by monoid ops; the
    * oracle ranks on a flat index, so the green row proves
    * merge(state(A), state(B)) ≡ state(A ∪ B). Same queries/k as
    * q186. */
  def bm25SearchIncremental(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopKIncremental(Tables.documents(spark, dir), "doc_id",
      "text", Seq(1 -> "spark hash join", 2 -> "window merge sort",
        3 -> "stream batch data"), k = 10)

  /** Query clarity / QPP (q287): [[graft.ext.Retrieval.clarityScore]]
    * — KL of each q186 query's top-5 feedback language model against
    * the corpus model in exact micro-nats; the routing signal for
    * PRF/rerank/reform decisions. */
  def clarityReport(spark: SparkSession, dir: String): DataFrame =
    Retrieval.clarityScore(Tables.documents(spark, dir), "doc_id", "text",
      Seq(1 -> "spark hash join", 2 -> "window merge sort",
        3 -> "stream batch data"), fbK = 5)

  /** Reciprocal-rank fusion (q189): the standard hybrid-retrieval
    * ensemble (Cormack–Clarke–Buettcher RRF) over the suite's three
    * dense rankers — exact brute (q37), sign-LSH (q38) and IVF (q49) —
    * per query:  rrf(d) = Σ_lists 1/(60 + rank_list(d)).  Scored in
    * exact integer micro-units (⌊10⁶/(60+rank)⌋ — ranks are small
    * integers, so the floor loses nothing that changes an ordering) and
    * summed as plain longs, the fused winner set is reproducible
    * value-for-value with no float anywhere. A doc missing from a list
    * simply contributes nothing (the union is the outer join); n_lists
    * reports how many rankers surfaced each hit.
    *
    * Scale shape: the inputs are the ALREADY-BOUNDED top-k relations
    * (|Q|·k rows each), so the union, the (query, doc) rollup and the
    * final rank window all cost nothing at any corpus size — fusion
    * adds zero corpus passes beyond what the three tiers already do. */
  def rrfFusion(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_micro").desc, col("neighbor_id"))
    Seq(SimilarityQueries.annBruteTopK(spark, dir), SimilarityQueries.annLshTopK(spark, dir), SimilarityQueries.annIvfTopK(spark, dir))
      .map(_.select(col("query_id"), col("neighbor_id"),
        expr("1000000 div (60 + rank)").as("c")))
      .reduce(_ unionAll _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).cast("int").as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "rrf_micro", "n_lists")
      .orderBy("query_id", "rank")
  }

  /** HYBRID lexical+dense retrieval fusion (q220) — the shape every
    * RAG/curation pipeline actually runs: BM25 over the text index and
    * cosine over the embedding index answer the SAME query set, and
    * reciprocal-rank fusion merges the two rankings. Query-by-example:
    * the ten query documents (doc_id < 10 — the q37 query contract;
    * documents and embeddings are id-aligned) supply their TEXT to the
    * lexical tier ([[graft.ext.Retrieval.bm25TopKDf]], query terms
    * deduplicated, self-hit excluded, top-10) and their VECTOR to the
    * dense tier (the q37 exact brute top-5), and each hit scores
    * Σ_lists ⌊10⁶/(60+rank)⌋ — the q189 integer micro-unit RRF, no
    * float anywhere; n_lists says which hits both tiers agree on.
    *
    * Scale shape: the two tiers' own contracts (inverted-index partial
    * aggs; broadcast query side) bound the work; fusion itself touches
    * only the two ALREADY-BOUNDED |Q|·k relations — zero extra corpus
    * passes, the q189 guarantee extended across modalities. */
  def hybridRrf(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    hybridFused(spark, dir, k)
      .select("query_id", "rank", "neighbor_id", "rrf_micro", "n_lists")
      .orderBy("query_id", "rank")

  /** The q220 fused candidate relation (|Q|·k rows), staged —
    * [[graft.ext.StageCache]]-memoized on (documents plan, k) because
    * TWO registered queries consume it (q220 reads it directly, q224
    * reranks it): before this, q224's lazy plan re-ran the whole
    * two-tier retrieve+fuse pipeline a second time per suite pass. The
    * staging follows the Bpe merge-table precedent (a bounded derived
    * relation shared across a query family); Bench's retry loop still
    * prices the standalone build via `invalidateAll()`. */
  private def hybridFused(spark: SparkSession, dir: String,
                          k: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.StageCache.getOrStage(
        graft.ext.StageCache.keyFor(docs, "hybridrrf", k)) {
      hybridFusedPlan(spark, dir, k).stage("hybridFused:docs")
    }
  }

  /** The un-staged q220 fusion pipeline — the relation [[hybridFused]]
    * materializes; exposed `private[graft]` so PlanSpec can pin ITS
    * shape (the staged consumer plan is just a scan of the
    * checkpointed rows). */
  private[graft] def hybridFusedPlan(spark: SparkSession, dir: String,
                                     k: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qdocs = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val lex = Retrieval.bm25TopKDf(docs, "doc_id", "text", qdocs, k = 10,
        excludeQueryDoc = true)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
    val dense = SimilarityQueries.annBruteTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("neighbor_id"))
    Seq(lex, dense)
      .map(_.select(col("query_id"), col("neighbor_id"),
        expr("1000000 div (60 + rank)").as("c")))
      .reduce(_ unionAll _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).cast("int").as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Frozen-weight RERANKER over the hybrid candidates (q224) — the
    * second stage of the retrieve→rerank pipeline every production
    * search/RAG stack runs: the cheap first stage (q220's hybrid RRF)
    * nominates a small candidate set, and a LEARNED scorer re-orders
    * it. The scorer here is a low-rank bilinear form in the q179
    * stand-in contract: score(q, d) = (P·q)·(P·d) with P the 4×64
    * deterministic integer matrix W(k,j) (the `embedWeight` closed
    * form) — exactly the execution shape of a late-interaction /
    * two-tower reranker (project both sides through frozen weights,
    * dot the projections), with the trained matrix swapped for a
    * literal one so the whole chain stays oracle-checked. Ranking key
    * is the 4-dp rounded score (reproducible, the cosine-tier
    * contract), ties to the smallest neighbor id; `rrf_rank` rides
    * along so rank movement is visible.
    *
    * Scale shape: candidates are the ALREADY-BOUNDED |Q|·k fused rows;
    * the two projection joins are id-keyed against the embeddings
    * relation (candidate side broadcast by AQE at any corpus size), and
    * the 4-component projections are scan-side dot products against
    * literal weight arrays — reranking adds zero corpus shuffles. */
  def rerankFused(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val fused = hybridFused(spark, dir, k)
      .select(col("query_id"), col("rank").as("rrf_rank"), col("neighbor_id"))
    def wRow(kk: Int) = array((0 until 64).map(j =>
      lit(Multimodal.embedWeight(kk, j).toFloat)): _*)
    def projected(idAlias: String, prefix: String) =
      Tables.embeddings(spark, dir).select(
        col("vec_id").as(idAlias) +:
          (0 until 4).map(kk =>
            Similarity.dot(col("embedding"), wRow(kk)).as(s"$prefix$kk")): _*)
    // LEFT join on the candidate side: a lexical hit with no embedding
    // row (the corpora need not be 1:1) cannot be scored, but silently
    // dropping a nominated candidate would shrink the result — it keeps
    // its slot at the tail of the list instead (NULL score, ranked
    // after every scored candidate, ties by id). Query docs always have
    // vectors by the q37 contract, so that side stays inner.
    fused
      .join(projected("neighbor_id", "d"), Seq("neighbor_id"), "left_outer")
      .join(projected("query_id", "q"), Seq("query_id"))
      .withColumn("rerank_score", round(
        (0 until 4).map(kk => col(s"q$kk") * col(s"d$kk")).reduce(_ + _), 4))
      .withColumn("rerank_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rerank_score").desc_nulls_last,
            col("neighbor_id"))).cast("int"))
      .select(col("query_id"), col("rerank_rank"), col("neighbor_id"),
        col("rerank_score"), col("rrf_rank").cast("int").as("rrf_rank"))
      .orderBy("query_id", "rerank_rank")
  }

  /** MMR-DIVERSIFIED top-k (q228) — maximal marginal relevance
    * (Carbonell–Goldstein 1998), the de-dup-at-selection step RAG and
    * search stacks run so the final k hits aren't k copies of the same
    * answer: greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    * with λ=0.7, five unrolled selection rounds (both engines run the
    * SAME five — the fixed-round contract), relevance = exact-cosine
    * rank scores over the q37 query set's top-10 candidates, all
    * similarities quantized once to e4 integers so every objective is
    * exact integer arithmetic (7·rel_e4 − 3·maxsim_e4) with ties to
    * the smallest id.
    *
    * Scale shape: candidates are the bounded |Q|·10 relation; the
    * pairwise-sim table is |Q|·10·9 rows (selection needs
    * candidate-candidate sims — bounded by the CANDIDATE count, never
    * the corpus); each greedy round is an anti join + a keyed max —
    * metadata-scale after the one corpus pass the brute tier already
    * pays. */
  def mmrDiversified(spark: SparkSession, dir: String, kCand: Int = 10,
                     kOut: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cands = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", kCand)
      .select(col("query_id"), col("neighbor_id").as("cid"),
        round(col("score") * 10000, 0).cast("long").as("rel_e4"))
      .stage("mmr:cands") // read every greedy round
    val ce = cands.join(
      emb.select(col("vec_id").as("cid"), col("embedding").as("e"),
        Similarity.l2norm(col("embedding")).as("n")), Seq("cid"))
    val a = ce.select(col("query_id"), col("cid").as("a"),
      col("e").as("ea"), col("n").as("na"))
    val b = ce.select(col("query_id"), col("cid").as("b"),
      col("e").as("eb"), col("n").as("nb"))
    val sims = a.join(b, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(Similarity.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")) * 10000, 0).cast("long").as("sim_e4"))
      .stage("mmr:sims") // read every greedy round
    var sel = cands.groupBy("query_id")
      .agg(max_by(col("cid"), struct(col("rel_e4"), -col("cid"))).as("cid"))
      .withColumn("mmr_rank", lit(1))
    for (t <- 2 to kOut) {
      val remaining = cands
        .join(sel.select("query_id", "cid"), Seq("query_id", "cid"),
          "left_anti")
      val ms = remaining
        .join(sims.select(col("query_id"), col("a").as("cid"),
          col("b").as("scid"), col("sim_e4")), Seq("query_id", "cid"))
        .join(sel.select(col("query_id"), col("cid").as("scid")),
          Seq("query_id", "scid"))
        .groupBy("query_id", "cid").agg(max("sim_e4").as("maxsim"))
      val pick = remaining.join(ms, Seq("query_id", "cid"), "left_outer")
        .withColumn("obj_e4",
          col("rel_e4") * 7 - lit(3L) * coalesce(col("maxsim"), lit(0L)))
        .groupBy("query_id")
        .agg(max_by(col("cid"), struct(col("obj_e4"), -col("cid"))).as("cid"))
        .withColumn("mmr_rank", lit(t))
      sel = sel.unionByName(pick).stage(s"mmr:r$t")
    }
    sel.join(cands, Seq("query_id", "cid"))
      .select(col("query_id"), col("mmr_rank").cast("int").as("mmr_rank"),
        col("cid").as("neighbor_id"), col("rel_e4"))
      .orderBy("query_id", "mmr_rank")
  }

  /** CHUNK RETRIEVAL with document max-pooling (q259) — the RAG-stack
    * passage search: documents split into the q75 sliding chunks
    * (64 tokens, stride 48), BM25 scored AT CHUNK GRANULARITY against
    * the q186 queries, then max-pooled to documents — rank by the best
    * chunk's score (ties smaller doc), reporting WHICH chunk won and
    * how many of the doc's chunks matched at all. Long documents stop
    * burying their relevant passage in their length normalization
    * (chunk dl ≤ 64 regardless of doc size) — the reason RAG stacks
    * index passages, made measurable. Chunk ids pack as
    * doc_id·10⁶ + chunk_idx (stated bound: < 10⁶ chunks per doc).
    *
    * Scale shape: the chunk relation is the corpus × (1/stride)
    * fan-out the chunking tier already pays; the BM25 shapes are
    * q186's on that relation; pooling is one (query, doc)-keyed agg of
    * the scored sliver; the final rank is a per-query keyed window. */
  def chunkRetrieval(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val chunks = graft.ext.Chunking.chunk(Tables.documents(spark, dir),
        "doc_id", "text", chunkTokens = 64, overlap = 16)
      .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
        col("chunk_text").as("text"))
    val queries = Seq(1 -> "spark hash join", 2 -> "window merge sort",
      3 -> "stream batch data").toDF("query_id", "qtext")
    val pooled = Retrieval.bm25Scores(chunks, "doc_id", "text", queries)
      .select(col("query_id"), expr("doc_id div 1000000").as("doc"),
        expr("doc_id % 1000000").as("chunk_idx"), col("score_e12"))
      .groupBy("query_id", "doc")
      .agg(max("score_e12").as("best_score_e12"),
        min_by(col("chunk_idx"),
          org.apache.spark.sql.functions.struct(-col("score_e12"),
            col("chunk_idx"))).as("best_chunk"),
        count(lit(1)).as("n_chunks_hit"))
    pooled.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("best_score_e12").desc, col("doc"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        col("best_chunk").cast("long").as("best_chunk"),
        col("best_score_e12").cast("long").as("best_score_e12"),
        col("n_chunks_hit").cast("long").as("n_chunks_hit"))
      .orderBy("query_id", "rank")
  }

  /** PRF retrieval (q254): [[graft.ext.Retrieval.bm25PrfTopK]] —
    * query-by-example (doc_id < 10) BM25 with pseudo-relevance
    * feedback: top-5 feedback docs, 3 expansion terms, rescored
    * top-5. */
  def bm25PrfSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Retrieval.bm25PrfTopK(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("text").as("qtext")),
      k = 5, kFb = 5, nExp = 3)
  }

  /** Dirichlet query-likelihood search (q270):
    * [[graft.ext.Retrieval.dirichletQlTopK]] — the language-modeling
    * ranker over the q186 query set, μ = 50 sized to this corpus's
    * ~54-token documents. */
  def dirichletQlSearch(spark: SparkSession, dir: String): DataFrame =
    Retrieval.dirichletQlTopK(Tables.documents(spark, dir), "doc_id",
      "text", Seq(1 -> "spark hash join", 2 -> "window merge sort",
        3 -> "stream batch data"), k = 10)

  /** Ranker agreement by RBO (q273):
    * [[graft.ext.Retrieval.rankBiasedOverlap]] — rank-biased overlap
    * (p = 0.9) between the BM25 (q186) and Dirichlet-QL (q270) top-10
    * lists on the shared query set. */
  def rankerAgreement(spark: SparkSession, dir: String): DataFrame =
    Retrieval.rankBiasedOverlap(
      bm25Search(spark, dir).select("query_id", "doc_id", "rank"),
      dirichletQlSearch(spark, dir).select("query_id", "doc_id", "rank"),
      k = 10)
}
