package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Similarity search over an embedding column (`ArrayType(FloatType)`):
  * brute-force cosine top-k as the exact baseline, a random-hyperplane
  * LSH-bucketed variant as the scale path, and cosine near-duplicate pair
  * detection. Extension surface beyond the reference (BASELINE.json north
  * star) over the `embeddings` table.
  *
  * Cosine is computed by [[graft.functions.VectorDot]] — a native
  * codegen'd Catalyst expression (tight primitive loop, no allocation) —
  * in double precision; no UDFs, no vector library, no serialization.
  *
  * Scale posture: brute force is O(|Q|·N) with the query side broadcast —
  * exact, and fine whenever |Q| is small. The LSH variant buckets both
  * sides by sign-of-projection onto fixed integer hyperplanes, so the join
  * is equi on bucket (hash join, no cross product) and probes only
  * N/2^planes candidates per query — the IVF-style recall/cost dial.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision (sequential — deterministic order). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.vecDot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    ratio(dot(a, b), l2norm(a) * l2norm(b))

  /** The one guarded cosine ratio: `num / normProduct`, 0.0 when the norm
    * product is 0 (cosine 0 by convention) — a zero vector scores
    * instead of ANSI-faulting the divide and failing its whole query.
    * Every cosine in this object goes through it. */
  private def ratio(num: Column, normProduct: Column): Column =
    when(normProduct === 0.0, lit(0.0)).otherwise(num / normProduct)

  /** [[ratio]] of a dot product over two norms, rounded to 4 dp — the
    * ranking key, so ordering is reproducible cross-engine. */
  private def cosScore(dotQC: Column, qNrm: Column, cNrm: Column): Column =
    round(ratio(dotQC, qNrm * cNrm), 4)

  /** The one top-k window: `rank` = row_number over `by` ordered by
    * `order`, kept to rank ≤ k. */
  private def topK(df: DataFrame, by: Seq[String], order: Seq[Column],
                   k: Int, rank: String = "rank"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*).orderBy(order: _*)
    df.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** The order of every top-k here: `score` descending, ties by `tie`. */
  private def byScore(score: String, tie: String = "neighbor_id"): Seq[Column] =
    Seq(desc(score), col(tie))

  /** Fixed integer hyperplanes for sign-LSH: weight i of plane m is
    * `((i·(2m+3)) mod 11) - 5` — exact integer arithmetic, reproducible in
    * the oracle as literal arrays. */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Int]] =
    (0 until nPlanes).map(m => (0 until dim).map(i => ((i * (2 * m + 3)) % 11) - 5))

  /** Plane rows `from until from+n` of the same generator — an
    * INDEPENDENT sign-LSH table (different hyperplanes, identical
    * integer reproducibility); `planes(n, d) == planesFrom(0, n, d)`.
    *
    * Known degeneracy (documented, not patched): generator rows where
    * (2m+3) % 11 == 0 (m = 4, 15, 26, …) have every weight equal to −5,
    * so that plane's bit is just sign(−Σvᵢ) — a near-constant bit that
    * weakens bucket diversity for the table containing it (row 4 = bit 0
    * of the second q267 table). The oracle mirrors the identical planes,
    * so there is no parity risk, and every LSH-seeded operator reports
    * MEASURED recall against an exact baseline — the degeneracy is priced
    * into those published numbers. Skipping such rows would reshuffle
    * every pinned LSH bucket/recall value across both engines for a
    * marginal recall gain; the honest-readout contract keeps it. */
  def planesFrom(from: Int, n: Int, dim: Int): Seq[Seq[Int]] =
    (from until from + n).map(m =>
      (0 until dim).map(i => ((i * (2 * m + 3)) % 11) - 5))

  /** LSH bucket id: bit m set iff the projection onto plane m is > 0.
    * (Float literals: the weights are small integers, exact in float32, so
    * float⇄double promotion matches the oracle's double arithmetic.) */
  def bucketCol(emb: Column, nPlanes: Int, dim: Int): Column =
    bucketColFrom(emb, 0, nPlanes, dim)

  /** [[bucketCol]] over the plane family starting at row `from`. */
  def bucketColFrom(emb: Column, from: Int, nPlanes: Int, dim: Int): Column =
    planesFrom(from, nPlanes, dim).zipWithIndex.map { case (w, j) =>
      when(dot(emb, array(w.map(x => lit(x.toFloat)): _*)) > 0, 1L << j)
        .otherwise(0L)
    }.reduce(_ + _)

  // The retrieval tier below is candidate generation plus ONE shared
  // scoring and top-k step: [[side]] projects either side, [[cosScore]]
  // scores float candidates (and the IVF centroid probe), [[topK]] ranks
  // per query and [[flaggedTopK]] adds the exact-recall flag.

  /** The one side projection of the retrieval tier: `p` = "q" gives
    * (query_id, q_emb, q_nrm, extra…) over `df`; `p` = "c" gives
    * (neighbor_id, c_emb, c_nrm, extra…) over the fanned-out corpus.
    * Norms are per ROW, computed before any pairing join — the oracle's
    * `nm` CTE shape (inlining [[cosine]] would re-run a norm dot product
    * for both sides of every candidate pair). */
  private def side(df: DataFrame, p: String, idCol: String, embCol: String,
                   extra: Column*): DataFrame = {
    val (src, id) =
      if (p == "q") (df, "query_id")
      else (graft.model.Tables.fanOut(df), "neighbor_id")
    src.select(Seq(col(idCol).as(id), col(embCol).as(s"${p}_emb"),
      l2norm(col(embCol)).as(s"${p}_nrm")) ++ extra: _*)
  }

  private def notSelf: Column = col("neighbor_id") =!= col("query_id")

  /** Float-tier candidates: corpus [[side]] ⋈ broadcast query side on
    * `on` (a cross join when empty — queries are small by contract, the
    * corpus streams, nothing collects), filtered by `keep`, scored by
    * [[cosScore]]: (query_id, neighbor_id, carry…, score). */
  private def cosinePairs(c: DataFrame, q: DataFrame, on: Seq[String],
                          keep: Column, carry: String*): DataFrame = {
    val pairs =
      if (on.isEmpty) c.crossJoin(broadcast(q)) else c.join(broadcast(q), on)
    pairs.filter(keep).select(Seq(col("query_id"), col("neighbor_id")) ++
      carry.map(col) :+ cosScore(dot(col("q_emb"), col("c_emb")),
        col("q_nrm"), col("c_nrm")).as("score"): _*)
  }

  /** [[topK]] with each hit flagged against the exact float winner set
    * ([[exactTopKFlags]], a broadcast left join): (query_id, rank,
    * neighbor_id, cols…, in_exact_topk ∈ {0, 1}) ordered by (query_id,
    * rank) — the recall readout of every approximate or quantized tier. */
  private def flaggedTopK(scored: DataFrame, score: String, k: Int,
                          corpus: DataFrame, queries: DataFrame,
                          idCol: String, embCol: String,
                          cols: Column*): DataFrame =
    topK(scored, Seq("query_id"), byScore(score), k)
      .join(broadcast(exactTopKFlags(corpus, queries, idCol, embCol, k)),
        Seq("query_id", "neighbor_id"), "left")
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++ cols :+
        coalesce(col("hit"), lit(0)).as("in_exact_topk"): _*)
      .orderBy("query_id", "rank")

  /** Brute-force cosine top-k: every query row against every corpus row,
    * rank by (rounded score desc, id) per query. Query side is small by
    * contract → broadcast; the corpus side streams, nothing collects. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, k: Int): DataFrame =
    topK(cosinePairs(side(corpus, "c", idCol, embCol),
        side(queries, "q", idCol, embCol), Nil, notSelf), Seq("query_id"),
        byScore("score"), k)
      .select("query_id", "neighbor_id", "score", "rank")

  /** LSH-bucketed approximate top-k: both sides keyed by sign-LSH bucket,
    * candidates = same-bucket rows only (equi join on bucket), then exact
    * cosine rank within the candidates. Recall < 1 by design; the plan is
    * one hash join + one bounded window instead of a cross product. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int, nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val b = bucketCol(col(embCol), nPlanes, dim).as("bucket")
    topK(cosinePairs(side(corpus, "c", idCol, embCol, b),
        side(queries, "q", idCol, embCol, b), Seq("bucket"), notSelf, "bucket"),
        Seq("query_id"), byScore("score"), k)
      .select("query_id", "neighbor_id", "bucket", "score", "rank")
  }

  /** Multi-probe LSH top-k (q192, the Lv et al. VLDB'07 idea on the
    * sign-LSH tier): each query probes its OWN bucket plus every bucket
    * at Hamming distance 1 (flip one plane's sign bit) — the buckets a
    * near-neighbor most likely fell into when a single projection
    * landed on the wrong side of its hyperplane. Candidates = 5 of 16
    * buckets per query instead of 1 (nPlanes=4), recovering most of
    * what single-probe [[lshTopK]] loses while still never touching the
    * other 11/16 of the corpus — the standard memory-free alternative
    * to simply using fewer planes (which would double EVERY bucket).
    * Each hit carries an `in_exact_topk` flag against the exact
    * [[exactTopKFlags]] winner set, so the recall the extra probes buy
    * is measured, not asserted.
    *
    * Scale shape: the probe fan-out multiplies only the QUERY side
    * (|Q|·(nPlanes+1) rows, still broadcast); the corpus side keeps its
    * single scan-side bucket projection and the join stays equi on the
    * bucket key. Probe buckets of one query are pairwise distinct, so
    * no candidate dedup is needed. */
  def multiProbeLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        embCol: String, k: Int, nPlanes: Int = 4,
                        dim: Int = 64): DataFrame = {
    val masks = lit(0L) +: (0 until nPlanes).map(m => lit(1L << m))
    val b = bucketCol(col(embCol), nPlanes, dim)
    val q = side(queries, "q", idCol, embCol, b.as("qb"))
      .withColumn("mask", explode(array(masks: _*)))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        expr("qb ^ mask").as("bucket"))
    val c = side(corpus, "c", idCol, embCol, b.as("bucket"))
    flaggedTopK(cosinePairs(c, q, Seq("bucket"), notSelf), "score", k,
      corpus, queries, idCol, embCol, col("score"))
  }

  /** Hard-negative mining: for each query, the top-k most-similar
    * corpus rows whose LABEL DIFFERS from the query's — the standard
    * contrastive-training negative sampler (similar enough to be hard,
    * labeled differently so they are true negatives). The label
    * inequality rides the JOIN (a per-query predicate), not a corpus
    * pre-filter — each query keeps its own candidate pool. Same
    * |Q|-bounded broadcast shape as [[bruteTopK]]: exact over the full
    * corpus, queries small by contract. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, labelCol: String, k: Int): DataFrame =
    topK(cosinePairs(side(corpus, "c", idCol, embCol, col(labelCol).as("n_label")),
        side(queries, "q", idCol, embCol, col(labelCol).as("q_label")), Nil,
        col("n_label") =!= col("q_label"), "n_label"), Seq("query_id"),
        byScore("score"), k)
      .select("query_id", "neighbor_id", "n_label", "score", "rank")

  /** The 100 TB path for [[hardNegatives]]: sign-LSH bucket equi join
    * generates candidates (one hash join, no cross product), the label
    * inequality filters them, exact cosine ranks the survivors. Recall
    * < 1 by design, like [[lshTopK]]; candidates per query are bounded
    * by bucket occupancy rather than corpus size. */
  def hardNegativesLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                       embCol: String, labelCol: String, k: Int,
                       nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val b = bucketCol(col(embCol), nPlanes, dim).as("bucket")
    topK(cosinePairs(
        side(corpus, "c", idCol, embCol, col(labelCol).as("n_label"), b),
        side(queries, "q", idCol, embCol, col(labelCol).as("q_label"), b),
        Seq("bucket"), col("n_label") =!= col("q_label"), "n_label"),
        Seq("query_id"), byScore("score"), k)
      .select("query_id", "neighbor_id", "n_label", "score", "rank")
  }

  /** Double-precision dot product over two `array<double>` columns —
    * sequential left-to-right fold, matching DuckDB's
    * `list_dot_product` accumulation order. Used only on tiny relations
    * (queries × centroids), where the interpreted HOF cost is
    * irrelevant. */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Per-cell centroids as element-wise means, computed with the
    * integer-cents idiom (sum of `round(v·10⁴)` longs, divide once at
    * the end) so the result is independent of aggregation order and
    * reproducible in the oracle — the determinism trick that makes a
    * float centroid hash-comparable across engines. */
  def cellCentroids(corpus: DataFrame, cellCol: String, embCol: String): DataFrame =
    // |cells| rows; probed by q49/q233/q262/q292 (+ q246's nested runs)
    // over the identical corpus — memoized so the per-query cost is a
    // lookup, not a corpus aggregation.
    StageCache.getOrStage(
        StageCache.keyFor(corpus, "cellcents", cellCol, embCol)) {
      graft.model.Tables.fanOut(corpus)
        .select(col(cellCol).as("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("v").cast("double") * 10000, 0).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => x.getField("s").cast("double") / lit(10000.0) /
            x.getField("n").cast("double")).as("centroid"))
        .stage("cellCentroids:centroids")
    }

  /** IVF top-k — the other classic ANN scale path next to sign-LSH
    * ([[lshTopK]]): a coarse quantizer assigns every corpus vector to a
    * cell, each query probes only the `nprobe` nearest cells by centroid
    * cosine, and the exact scan runs within the probed cells. Unlike LSH
    * (which searches exactly the query's own bucket), `nprobe` is a
    * recall/cost dial that crosses cell boundaries. Here the cell
    * assignment is the corpus' label column (a production system trains
    * k-means for it — the quantizer's origin is orthogonal to the
    * operator's plan shape): centroids are one narrow aggregation,
    * probing is queries × cells (tiny, broadcast), and the search join
    * is equi on cell — no cross product anywhere.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, cellCol: String, k: Int, nprobe: Int = 2): DataFrame =
    topK(cosinePairs(side(corpus, "c", idCol, embCol, col(cellCol).as("cell")),
        probedCells(corpus, queries, idCol, embCol, cellCol, nprobe),
        Seq("cell"), notSelf, "cell"), Seq("query_id"), byScore("score"), k)
      .select("query_id", "neighbor_id", "cell", "score", "rank")

  /** One k-means refinement step over the embedding corpus (q76): score
    * every vector against the current centroids (label-cell seeds —
    * [[cellCentroids]]), reassign to the argmax-cosine cell, recompute
    * centroids over the new assignment, and report per-cell movement
    * (size before/after, old↔new centroid cosine). This is the training
    * iteration behind every IVF/clustering quantizer, expressed in the
    * engine's own deterministic idioms: centroids use the integer-cents
    * sum so they are aggregation-order-exact, scores are rounded before
    * ranking so the argmax is reproducible cross-engine.
    *
    * Scale shape: centroids are k·dim rows after a partial-agg'd shuffle
    * of (cell, pos, value) triples; the assignment join is corpus ×
    * broadcast(k centroids) with a per-row argmax window keyed by the
    * vector id (high-cardinality — state is one row); the refine
    * aggregation is the same centroid shuffle again. Nothing fact-sized
    * is ever sort-merge joined. */
  def kmeansStep(corpus: DataFrame, idCol: String, embCol: String,
                 cellCol: String): DataFrame = {
    // Both multi-consumer intermediates are staged (localCheckpoint, the
    // TextDedup idiom): `cents` feeds the assignment broadcast AND the
    // final drift join; `assigned` feeds the new-centroid aggregation
    // AND the size report. Without staging, each second consumer re-runs
    // the full corpus × centroids scoring pass.
    val cents = cellCentroids(corpus, cellCol, embCol)
      .withColumn("cnrm", sqrt(dotD(col("centroid"), col("centroid"))))
      .stage("kmeansStep:cents")
    val vecs = graft.model.Tables.fanOut(corpus)
      .select(col(idCol).as("vid"), col(embCol).as("emb"),
        l2norm(col(embCol)).as("nrm"), col(cellCol).as("old_cell"))
    val assigned = topK(vecs.crossJoin(broadcast(cents))
      .select(col("vid"), col("emb"), col("old_cell"), col("cell"),
        cosScore(dotD(col("emb").cast("array<double>"), col("centroid")),
          col("nrm"), col("cnrm")).as("score")),
        Seq("vid"), byScore("score", tie = "cell"), 1, "rk")
      .select(col("vid"), col("emb"), col("old_cell"), col("cell"))
      .stage("kmeansStep:assigned")
    val newCents = cellCentroids(assigned, "cell", "emb")
      .select(col("cell"), col("centroid").as("new_centroid"))
    val sizes = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_assigned"),
        sum(when(col("old_cell") === col("cell"), 1L).otherwise(0L)).as("n_stayed"))
    cents.join(newCents, Seq("cell"))
      .join(sizes, Seq("cell"))
      .select(col("cell"), col("n_assigned"), col("n_stayed"),
        cosScore(dotD(col("centroid"), col("new_centroid")),
          sqrt(dotD(col("centroid"), col("centroid"))),
          sqrt(dotD(col("new_centroid"), col("new_centroid"))))
          .as("centroid_cos"))
      .orderBy("cell")
  }

  /** Int8 scalar-quantized retrieval (q187): L2-normalize every vector,
    * then map each coordinate to an 8-bit code under ONE symmetric
    * corpus-wide scale (the max |coordinate| of the normalized corpus):
    *
    *   code(x̂) = ⌊127·x̂/scale⌋ ∈ [−127, 127]
    *
    * and rank by the INTEGER dot product of code vectors — the memory
    * layout production vector indexes actually serve from (4× smaller
    * than float32, SIMD-friendly). Symmetric zero-centred scaling is
    * the part that matters: code ≈ (127/scale)·x̂ with NO additive bias,
    * so Σ codeᵢ·codeᵢ ≈ (127/scale)²·cos — a faithful monotone proxy of
    * the cosine ranking (a per-dimension min/max affine quantizer adds
    * bias terms that scramble it). The ranking key is an exact integer,
    * so unlike the float tiers the winner set needs no display
    * rounding; each hit also carries an `in_exact_topk` flag against
    * the float32 [[bruteTopK]] winner set — the recall readout that
    * tells you what the 4× compression cost.
    *
    * Parity: normalization and the quantizer are IEEE double ops in a
    * fixed order (the norm is the same sequential [[dot]] sum the
    * oracle's list_dot_product computes; sqrt/÷/floor are exactly
    * rounded), so both engines produce bit-identical codes. Zero-norm
    * vectors code to all-zero rather than dividing by zero.
    *
    * Scale shape: the scale is a 1-row aggregate broadcast — the corpus
    * never reshuffles to get its codes; scoring is the same
    * |Q|-bounded broadcast cross as [[bruteTopK]] but over int8 codes;
    * the exact-baseline join adds one more |Q|·k-row broadcast. At
    * 100 TB the quantized scan replaces the float scan (an IVF cell
    * restriction composes on top — [[ivfTopK]]), it never adds to it. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, k: Int): DataFrame = {
    def unit(p: String): Column = expr(
      s"""transform(${p}_emb, x -> CASE WHEN ${p}_nrm = 0.0D THEN 0.0D
         |  ELSE CAST(x AS DOUBLE) / ${p}_nrm END)""".stripMargin).as("nx")
    val codeExpr =
      """transform(nx, x -> CAST(CASE WHEN scale = 0.0D THEN 0.0D
        |  ELSE floor(127.0D * x / scale) END AS BIGINT))""".stripMargin
    val cN = side(corpus, "c", idCol, embCol).select(col("neighbor_id"), unit("c"))
    val scale = cN.select(explode(col("nx")).as("x"))
      .agg(max(abs(col("x"))).as("scale"))
    val q = side(queries, "q", idCol, embCol).select(col("query_id"), unit("q"))
      .crossJoin(broadcast(scale))
      .select(col("query_id"), expr(codeExpr).as("q_code"))
    val c = cN.crossJoin(broadcast(scale))
      .select(col("neighbor_id"), expr(codeExpr).as("c_code"))
    val scored = c.crossJoin(broadcast(q))
      .filter(notSelf)
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(q_code, c_code, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("qdot"))
    flaggedTopK(scored, "qdot", k, corpus, queries, idCol, embCol, col("qdot"))
  }

  /** Exact float top-k winner set as (query_id, neighbor_id, hit=1)
    * rows — the recall readout the approximate tiers (q192 multi-probe,
    * q187 int8, q227 PQ, q233 IVFADC, q292 residual IVFADC, graph ANN)
    * flag their hits against: [[bruteTopK]] itself. */
  private def exactTopKFlags(corpus: DataFrame, queries: DataFrame,
                             idCol: String, embCol: String,
                             k: Int): DataFrame =
    // Those tiers plus q246's nested re-runs flag against the IDENTICAL
    // exact winner set — memoize the |Q|·k flag relation rather than
    // re-paying the corpus×|Q| scoring cross per query. Keyed on BOTH
    // plans + k; output is tiny.
    StageCache.getOrStage(
        StageCache.keyFor(corpus, "exactflags", idCol, embCol, k,
          StageCache.keyFor(queries))) {
      bruteTopK(corpus, queries, idCol, embCol, k)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        .stage("exactTopKFlags:scored")
    }

  /** Unit-e6 subvector projection (the q187/q227 integer contract) of
    * one [[side]]: (query_id | neighbor_id, m, j, xe6) — subspace
    * m = i div sw, within-subspace j, xe6 = round(x̂·10⁶) with the
    * zero-norm → 0 guard. Shared by the PQ family (q227/q233) and the
    * residual variant (q292). */
  private def unitE6Proj(df: DataFrame, p: String, idCol: String,
                         embCol: String, sw: Int): DataFrame = {
    val s = side(df, p, idCol, embCol)
    val id = s.columns.head
    s.select(col(id), posexplode(col(s"${p}_emb")).as(Seq("i", "x")),
        col(s"${p}_nrm").as("_nrm"))
      .select(col(id), (col("i") / sw).cast("int").as("m"),
        (col("i") % sw).cast("int").as("j"),
        when(col("_nrm") === 0.0, 0L)
          .otherwise(round(col("x") / col("_nrm") * 1e6, 0).cast("long"))
          .as("xe6"))
  }

  /** The deterministic PQ training + coding shared by q227/q233/q292:
    * seed the per-subspace codebook from the first `nCent` vectors'
    * subvectors of the integer projection `vx` (neighbor_id, m, j,
    * xe6), run ONE Lloyd step (assign all subvectors by exact integer
    * L2, recenter at the sign-split floor-mean), then code every
    * vector as its argmin centroid. Returns (book(aid, m, j, ce6),
    * codes(neighbor_id, m, aid)). q292 feeds RESIDUAL subvectors
    * through the identical machinery — the training algebra is
    * projection-agnostic. Both outputs are memoized in [[StageCache]]
    * under `cacheKey` (they depend only on the corpus-side projection,
    * which the callers key by plan hash + params). */
  private def lloydBookAndCodes(vx: DataFrame, nCent: Int,
                                cacheKey: String): (DataFrame, DataFrame) = {
    val book = StageCache.getOrStage(s"$cacheKey:book")(lloydBook(vx, nCent))
    val codes = StageCache.getOrStage(s"$cacheKey:codes")(
      codesFor(vx, book).stage("lloydBookAndCodes:codes"))
    (book, codes)
  }

  private def codesFor(vx: DataFrame, book: DataFrame): DataFrame = {
    val dist = vx.join(broadcast(book), Seq("m", "j"))
      .groupBy(col("neighbor_id"), col("m"), col("aid"))
      .agg(sum((col("xe6") - col("ce6")) * (col("xe6") - col("ce6")))
        .as("d2"))
    dist.groupBy("neighbor_id", "m")
      .agg(min_by(col("aid"), struct(col("d2"), col("aid"))).as("aid"))
  }

  private def lloydBook(vx: DataFrame, nCent: Int): DataFrame = {
    val seed = vx.filter(col("neighbor_id") < nCent)
      .select(col("neighbor_id").cast("int").as("aid"), col("m"), col("j"),
        col("xe6").as("ce6"))
    // One Lloyd step: assign every corpus subvector to its nearest seed,
    // recenter each (subspace, centroid) at the sign-split floor-mean.
    val d1 = vx.join(broadcast(seed), Seq("m", "j"))
      .groupBy(col("neighbor_id"), col("m"), col("aid"))
      .agg(sum((col("xe6") - col("ce6")) * (col("xe6") - col("ce6")))
        .as("d2"))
    val a1 = d1.groupBy("neighbor_id", "m")
      .agg(min_by(col("aid"), struct(col("d2"), col("aid"))).as("aid"))
    a1.join(vx, Seq("neighbor_id", "m"))
      .groupBy(col("aid"), col("m"), col("j"))
      .agg(sum("xe6").as("sx"), count(lit(1)).as("n"))
      .select(col("aid"), col("m"), col("j"),
        when(col("sx") >= 0, expr("sx div n"))
          .otherwise(-expr("(-sx) div n")).as("ce6"))
      .stage("lloydBook:a1") // read 2x: coding join + the caller's LUT
  }

  /** The PQ machinery shared by [[pqTopK]] and [[ivfPqTopK]]: the
    * deterministic Lloyd-refined codebook, the corpus codes
    * (neighbor_id, m, aid), and the per-query ADC lookup table
    * (query_id, m, aid, pdot) — exactly the q227 construction, shared
    * verbatim so the IVF composition scores with the identical
    * codebook. */
  private def pqCodesAndLut(corpus: DataFrame, queries: DataFrame,
                            idCol: String, embCol: String, dim: Int,
                            nSub: Int, nCent: Int): (DataFrame, DataFrame) = {
    require(dim % nSub == 0, s"nSub $nSub must divide dim $dim")
    val sw = dim / nSub
    // Corpus-side stages (projection, codebook, codes) are StageCache-
    // memoized: q227, q233 and q246's nested re-runs all train the
    // IDENTICAL codebook over the identical corpus — before round 13
    // each paid the projection + Lloyd pass + coding from the scan.
    // The query-side LUT stays live (it depends on `queries`).
    val base = StageCache.keyFor(corpus, "pq", idCol, embCol, dim, nSub,
      nCent)
    val cx = StageCache.getOrStage(s"$base:cx") {
      unitE6Proj(corpus, "c", idCol, embCol, sw)
        .stage("pqCodesAndLut:cx") // read 4x: seed, refine, coding, LUT side
    }
    val (book, codes) = lloydBookAndCodes(cx, nCent, s"$base:raw")
    val lut = unitE6Proj(queries, "q", idCol, embCol, sw)
      .join(broadcast(book), Seq("m", "j"))
      .groupBy(col("query_id"), col("m"), col("aid"))
      .agg(sum(col("xe6") * col("ce6")).as("pdot"))
    (codes, lut)
  }

  /** PRODUCT-QUANTIZATION retrieval (Jégou–Douze–Schmid, PAMI 2011) —
    * the compression rung above the q187 int8 scalar codes: the unit
    * vector is split into `nSub` subvectors, each coded as its nearest
    * entry of a per-subspace codebook, and queries score candidates by
    * ASYMMETRIC DISTANCE COMPUTATION — one |codebook|-entry lookup
    * table of exact query·centroid dots per (query, subspace), so
    * scoring a candidate is `nSub` table lookups + adds instead of a
    * 64-float dot, and the stored corpus is nSub one-byte codes per
    * vector (8× smaller than float32 at the 32×64 default).
    *
    * Everything is integer-exact in the q187 contract: unit vectors
    * quantize ONCE to e6 integer components; code assignment is argmin
    * of exact integer squared distances (ties to the smallest centroid
    * id); the codebook is DETERMINISTIC — seeded by the subvectors of
    * the first `nCent` corpus vectors, then ONE Lloyd refinement step
    * (assign every corpus subvector to its seed, recenter each cluster
    * at the sign-split floor-mean of its members — measured recall@5
    * 0.78 vs 0.68 unrefined at sf0.01; a fully trained PQ iterates this
    * same step); LUT entries and scores are exact integer dots, so the
    * winner set reproduces value-for-value on both engines. Each hit is
    * flagged against the exact float top-k (the recall readout — on
    * REAL clustered embeddings PQ does far better than on this
    * near-uniform synthetic set).
    *
    * Scale shape: coding is one posexplode projection joined to the
    * BROADCAST codebook (nCent-fanout on narrow integer rows, scan
    * side); the LUT is |Q|·nSub·nCent rows (broadcast); scoring joins
    * codes to the LUT on (subspace, code) keys and rolls up per
    * (query, vector) — no float dot per pair anywhere, no cross
    * product beyond the bounded LUT side. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, dim: Int = 64, nSub: Int = 32,
             nCent: Int = 64): DataFrame = {
    val (codes, lut) =
      pqCodesAndLut(corpus, queries, idCol, embCol, dim, nSub, nCent)
    val scored = codes.join(broadcast(lut), Seq("m", "aid"))
      .filter(notSelf)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("pdot").as("pq_dot"))
    flaggedTopK(scored, "pq_dot", k, corpus, queries, idCol, embCol,
      col("pq_dot").cast("long").as("pq_dot"))
  }

  /** The q49/q233/q292 coarse probe: each query's [[side]] row repeated
    * for its `nprobe` nearest cells by rounded centroid cosine
    * ([[cosScore]] over the double-precision centroid dot), `cell`
    * appended. */
  private def probedCells(corpus: DataFrame, queries: DataFrame,
                          idCol: String, embCol: String, cellCol: String,
                          nprobe: Int): DataFrame = {
    val cents = cellCentroids(corpus, cellCol, embCol)
      .withColumn("cnrm", sqrt(dotD(col("centroid"), col("centroid"))))
    val q = side(queries, "q", idCol, embCol)
    val qCols = q.columns.toSeq.map(col)
    topK(q.crossJoin(broadcast(cents)).select(qCols ++ Seq(col("cell"),
        cosScore(dotD(col("q_emb").cast("array<double>"), col("centroid")),
          col("q_nrm"), col("cnrm")).as("cscore")): _*),
        Seq("query_id"), byScore("cscore", tie = "cell"), nprobe)
      .select(qCols :+ col("cell"): _*)
  }

  /** IVFADC — the Jégou–Douze–Schmid COMPOSITION of the two scale
    * tiers this suite proves separately: the q49-style IVF coarse
    * quantizer restricts each query's candidates to its `nprobe`
    * nearest cells (by rounded centroid cosine, the [[ivfTopK]]
    * probe), and within those cells candidates are scored by the q227
    * PQ asymmetric-distance lookup — the actual billion-vector serving
    * shape (cell lists bound the scan, 32 one-byte codes per vector
    * bound the memory, the LUT bounds the per-candidate cost to nSub
    * adds). The codebook, codes and LUT are [[pqCodesAndLut]] verbatim
    * — IVF changes WHICH vectors are scored, never HOW, so the
    * composition's scores are value-identical to q227's on the shared
    * candidates, and everything stays exact-integer oracle-checkable.
    * Each hit carries the full-corpus exact-float top-k flag (recall
    * against the unrestricted scan — measuring what BOTH restrictions
    * cost together).
    *
    * Scale shape: probing is queries × broadcast(k cells); the
    * candidate list is an equi join on the cell id (bounded by the
    * probed cells' sizes, never the corpus); scoring joins candidate
    * codes to the BROADCAST LUT on (query, subspace, centroid) integer
    * keys — no cross product, no float dot per pair, nothing
    * corpus-wide after the one coding pass PQ already pays. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, cellCol: String, k: Int, nprobe: Int = 2,
                dim: Int = 64, nSub: Int = 32, nCent: Int = 64): DataFrame = {
    val probed = probedCells(corpus, queries, idCol, embCol, cellCol, nprobe)
      .select("query_id", "cell")
    val (codes, lut) =
      pqCodesAndLut(corpus, queries, idCol, embCol, dim, nSub, nCent)
    val cand = graft.model.Tables.fanOut(corpus)
      .select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(notSelf)
    val scored = codes.join(cand, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "m", "aid"))
      .groupBy("query_id", "neighbor_id", "cell")
      .agg(sum("pdot").as("pq_dot"))
    flaggedTopK(scored, "pq_dot", k, corpus, queries, idCol, embCol,
      col("cell"), col("pq_dot").cast("long").as("pq_dot"))
  }

  /** IVFADC with RESIDUAL encoding (q292) — the published Jégou–Douze–
    * Schmid IVFADC proper: q233 composes IVF with PQ codes of the RAW
    * vectors, but the paper quantizes each vector's residual
    * r = x − c(cell) against its coarse centroid, so the shared
    * codebook's 64 entries model the WITHIN-cell variation instead of
    * re-spending them on the between-cell structure the coarse
    * quantizer already captured — better recall at the same probe and
    * code budget. Scoring is the two-term ADC expansion
    * q·x ≈ q·c(cell) + q_r·pq(r), with q_r = q − c(cell) the query's
    * residual AGAINST EACH PROBED CELL (a per-(query, cell) LUT — the
    * new join shape this operator exercises) and q·c(cell) the exact
    * integer offset term.
    *
    * Integer parity contract (the q227 conventions end-to-end): unit
    * vectors quantize once to e6 components; cell centroids are
    * sign-split floor-means of member xe6 (exact integers, NOT the q49
    * float probe centroids); residuals subtract exactly; the residual
    * codebook is the identical [[lloydBookAndCodes]] machinery (seed
    * slice + one Lloyd step + argmin codes, ties to smallest id); LUT
    * entries, offsets and scores are exact integer dots. The coarse
    * PROBE stays q233's rounded-cosine probe verbatim, so q292 and
    * q233 rank the SAME candidate sets — any recall difference is
    * attributable to residual vs raw coding alone. Hits are flagged
    * against the unrestricted exact float top-k.
    *
    * Scale shape: everything q233 pins (cell-equi candidates, broadcast
    * codebook/LUT joins on integer keys, no cross beyond the two
    * bounded probe/exact-flag crosses) plus: cent6 is a |cells|·dim
    * bounded relation (broadcast), the per-(query, cell) LUT is
    * |Q|·nprobe·nSub·nCent rows (broadcast), and the offset term is a
    * |Q|·nprobe relation. The residual subtraction rides the one
    * coding pass PQ already pays — nothing new is corpus-wide. */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame,
                         idCol: String, embCol: String, cellCol: String,
                         k: Int, nprobe: Int = 2, dim: Int = 64,
                         nSub: Int = 32, nCent: Int = 64): DataFrame = {
    require(dim % nSub == 0, s"nSub $nSub must divide dim $dim")
    val sw = dim / nSub
    val fanned = graft.model.Tables.fanOut(corpus)
    val cellOf = fanned
      .select(col(idCol).as("neighbor_id"), col(cellCol).as("cell"))
    // Corpus-side residual stages are StageCache-memoized like the raw
    // PQ family's (same discipline: query-side LUT/offsets stay live).
    val base = StageCache.keyFor(corpus, "ivfres", idCol, embCol, cellCol,
      dim, nSub, nCent)
    val cx = StageCache.getOrStage(s"$base:cx") {
      unitE6Proj(corpus, "c", idCol, embCol, sw)
        .join(cellOf, Seq("neighbor_id"))
        .stage("ivfAdcResidualTopK:cx") // read 2x: centroid rollup + residual build
    }
    // Integer cell centroids: sign-split floor-mean of member xe6.
    val cent6 = StageCache.getOrStage(s"$base:cent6") {
      cx.groupBy("cell", "m", "j")
        .agg(sum("xe6").as("sx"), count(lit(1)).as("n"))
        .select(col("cell"), col("m"), col("j"),
          when(col("sx") >= 0, expr("sx div n"))
            .otherwise(-expr("(-sx) div n")).as("ke6"))
        .stage("ivfAdcResidualTopK:cent6") // read 3x: residuals, query residuals, offsets
    }
    // Residual projection — feeds the IDENTICAL PQ training machinery.
    val rx = StageCache.getOrStage(s"$base:rx") {
      cx.join(broadcast(cent6), Seq("cell", "m", "j"))
        .select(col("neighbor_id"), col("m"), col("j"),
          (col("xe6") - col("ke6")).as("xe6"))
        .stage("ivfAdcResidualTopK:rx") // read 3x inside lloydBookAndCodes
    }
    val (book, codes) = lloydBookAndCodes(rx, nCent, s"$base:res")
    val probed = probedCells(corpus, queries, idCol, embCol, cellCol, nprobe)
      .select("query_id", "cell")
    // Query residual against EACH probed cell + the exact offset term.
    val qx = unitE6Proj(queries, "q", idCol, embCol, sw)
      .join(broadcast(probed), Seq("query_id"))
      .join(broadcast(cent6), Seq("cell", "m", "j"))
      .stage("ivfAdcResidualTopK:qx") // read 2x: LUT + offset
    val lut = qx
      .select(col("query_id"), col("cell"), col("m"), col("j"),
        (col("xe6") - col("ke6")).as("qre6"))
      .join(broadcast(book), Seq("m", "j"))
      .groupBy(col("query_id"), col("cell"), col("m"), col("aid"))
      .agg(sum(col("qre6") * col("ce6")).as("pdot"))
    val offset = qx.groupBy("query_id", "cell")
      .agg(sum(col("xe6") * col("ke6")).as("cdot"))
    val cand = fanned
      .select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(notSelf)
    val scored = codes.join(cand, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "cell", "m", "aid"))
      .groupBy("query_id", "neighbor_id", "cell")
      .agg(sum("pdot").as("rdot"))
      .join(broadcast(offset), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        (col("rdot") + col("cdot")).as("adc_dot"))
    flaggedTopK(scored, "adc_dot", k, corpus, queries, idCol, embCol,
      col("cell"), col("adc_dot").cast("long").as("adc_dot"))
  }

  /** Per-label SILHOUETTE quality of an embedding clustering — the
    * standard "are these clusters real" diagnostic, made one-pass and
    * integer-exact. The classic definition needs all-pairs distances;
    * with cosine distance over UNIT vectors the mean similarity of v to
    * cluster L is linear — mean_L(v) = v̂·(Σ_{u∈L} û)/|L| — so one
    * label-keyed sum vector per cluster replaces the pairwise join
    * entirely: a(v) uses its own label's sum (self term subtracted
    * exactly), b(v) is the max mean over other labels (nearest other
    * cluster in similarity), and s(v) = (a−b)/max(1−a, 1−b) maps the
    * similarity form back to the distance-form silhouette.
    *
    * Parity contract: unit vectors are quantized ONCE to integer e6
    * components (round(x̂·10⁶)); every sum, dot and self-dot after that
    * is exact integer arithmetic — the label sum vectors and the
    * vector-to-label-sum dots accumulate in DECIMAL(38,0) (|dot| is
    * bounded by 64·10⁶·n_l·10⁶, which would wrap a LONG at n_l ≳ 1.4e5
    * vectors per label; DECIMAL(38,0) holds to n_l ≈ 10²⁵, matching the
    * DuckDB oracle's HUGEINT accumulation) — and each division is a SIGN-SPLIT
    * floor division (|num| div den, sign reapplied) so negative
    * means/silhouettes round toward zero identically on both engines.
    * Output values are e12 (means) and ppm (silhouette) fixed-point.
    *
    * Scale shape: one posexplode projection (64 narrow rows per
    * vector), one (label, i)-keyed sum producing a |labels|·dim
    * relation that BROADCASTS, one i-keyed join computing every
    * (vector, label) dot in a single pass, and label-keyed rollups —
    * no pairwise anything, corpus touched once. */
  def silhouetteByLabel(corpus: DataFrame, idCol: String, embCol: String,
                        labelCol: String): DataFrame = {
    val unit = corpus
      .select(col(idCol).as("vid"), col(labelCol).as("lbl"),
        col(embCol).as("e"), l2norm(col(embCol)).as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vid"), col("lbl"), posexplode(col("e")).as(Seq("i", "x")),
        col("nrm"))
      .select(col("vid"), col("lbl"), col("i"),
        round(col("x") / col("nrm") * 1e6, 0).cast("long").as("xe6"))
      .stage("silhouetteByLabel:unit") // read 3×: label sums, self-dots, dot join
    val sums = unit.groupBy(col("lbl").as("l2"), col("i"))
      .agg(sum(expr("CAST(xe6 AS DECIMAL(38,0))")).as("s"))
    val nL = unit.select("vid", "lbl").distinct()
      .groupBy(col("lbl").as("l2")).agg(count(lit(1)).as("n_l"))
    val selfDot = unit.groupBy("vid")
      .agg(sum(col("xe6") * col("xe6")).as("sd"))
    val dots = unit.join(broadcast(sums), Seq("i"))
      .groupBy(col("vid"), col("lbl"), col("l2"))
      .agg(sum(expr("CAST(xe6 AS DECIMAL(38,0)) * s")).as("dot"))
    val m = dots
      .join(broadcast(nL), Seq("l2"))
      .join(selfDot, Seq("vid"))
      .withColumn("num",
        when(col("lbl") === col("l2"), col("dot") - col("sd"))
          .otherwise(col("dot")))
      .withColumn("den",
        when(col("lbl") === col("l2"), greatest(col("n_l") - 1, lit(1L)))
          .otherwise(col("n_l")))
      .withColumn("mean_e12",
        when(col("num") >= 0, expr("num div den"))
          .otherwise(-expr("(-num) div den")))
    val ab = m.groupBy("vid", "lbl")
      .agg(max(when(col("lbl") === col("l2"), col("mean_e12"))).as("a_e12"),
        max(when(col("lbl") =!= col("l2"), col("mean_e12"))).as("b_e12"))
      .withColumn("d",
        greatest(lit(1000000000000L) - col("a_e12"),
          lit(1000000000000L) - col("b_e12"), lit(1L)))
      .withColumn("s_ppm",
        when(col("a_e12") >= col("b_e12"),
          expr("(a_e12 - b_e12) * 1000000 div d"))
          .otherwise(-expr("(b_e12 - a_e12) * 1000000 div d")))
    ab.groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_vecs"), sum("s_ppm").as("ssum"),
        sum(when(col("s_ppm") > 0, 1L).otherwise(0L)).as("n_well_placed"))
      .withColumn("mean_sil_ppm",
        when(col("ssum") >= 0, expr("ssum div n_vecs"))
          .otherwise(-expr("(-ssum) div n_vecs")))
      .select(col("label"), col("n_vecs").cast("long").as("n_vecs"),
        col("mean_sil_ppm").cast("long").as("mean_sil_ppm"),
        col("n_well_placed").cast("long").as("n_well_placed"))
      .orderBy("label")
  }

  /** Pairwise CENTROID cosine between groups of embeddings — "how close
    * are these sources in embedding SPACE", the semantic companion to a
    * lexical source-similarity matrix (MinHash shingle overlap sees
    * shared strings; centroid cosine sees shared meaning-direction even
    * with zero verbatim overlap). The group centroid is the sum of unit
    * vectors (the silhouette linearity), quantized ONCE to e6 integer
    * components, so the pairwise dots and squared norms are EXACT
    * integers (DECIMAL(38,0) — a source of 10⁹ docs still fits) and the
    * final cosine is one double division of identical integers on both
    * engines, rounded to 4 dp.
    *
    * Scale shape: one posexplode projection, one (group, i)-keyed sum
    * — the only corpus-wide shuffle; everything pairwise happens on the
    * |groups|·dim sum table (metadata-scale at any corpus size). */
  def centroidSimilarity(corpus: DataFrame, groupCol: String,
                         embCol: String): DataFrame = {
    val unit = corpus
      .withColumn("_nrm", l2norm(col(embCol)))
      .filter(col("_nrm") > 0)
      .select(col(groupCol).as("g"),
        posexplode(col(embCol)).as(Seq("i", "x")), col("_nrm"))
      .select(col("g"), col("i"),
        round(col("x") / col("_nrm") * 1e6, 0).cast("long").as("xe6"))
    val sums = unit.groupBy("g", "i")
      .agg(sum("xe6").as("s"))
      .stage("centroidSimilarity:sums") // read 3x: both pair-dot sides + norms
    val n = corpus.withColumn("_nrm", l2norm(col(embCol)))
      .filter(col("_nrm") > 0)
      .groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
    val norms = sums.groupBy("g")
      .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("d2"))
    val a = sums.select(col("g").as("ga"), col("i"), col("s").as("sa"))
    val b = sums.select(col("g").as("gb"), col("i"), col("s").as("sb"))
    a.join(b, Seq("i")).filter(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(sum(expr("CAST(sa AS DECIMAL(38,0)) * sb")).as("dot"))
      .join(broadcast(norms.select(col("g").as("ga"), col("d2").as("da"))),
        Seq("ga"))
      .join(broadcast(norms.select(col("g").as("gb"), col("d2").as("db"))),
        Seq("gb"))
      .join(broadcast(n.select(col("g").as("ga"), col("n").as("n_a"))),
        Seq("ga"))
      .join(broadcast(n.select(col("g").as("gb"), col("n").as("n_b"))),
        Seq("gb"))
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        cosScore(col("dot").cast("double"), sqrt(col("da").cast("double")),
          sqrt(col("db").cast("double"))).as("cos_centroid"))
      .orderBy("source_a", "source_b")
  }

  /** The shared Lloyd recursion behind [[kmeansRounds]] (q236) and
    * [[kmeansClusterEval]] (q247): e6 unit components staged once,
    * per round a (cell, i)-keyed sign-split floor-mean recenter, a
    * broadcast distance join, and an exact-integer argmin reassignment
    * (ties smallest cell), lineage cut per round. Returns (unit
    * relation, previous assignment, final assignment).
    *
    * The unit relation and every per-round assignment are [[StageCache]]-
    * memoized with round-numbered keys (the descentRound idiom): q236
    * and q247 run this IDENTICAL 4-round recursion over the identical
    * corpus — before round 14 each paid the full loop from the scan
    * (q247 was the one r13 drift-watch query with no shared stage). */
  private def lloydLoop(corpus: DataFrame, idCol: String, embCol: String,
                        seedCol: String, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 2, s"need >= 2 rounds for a convergence readout, got $rounds")
    val base =
      StageCache.keyFor(corpus, "lloyd", idCol, embCol, seedCol, rounds)
    val unit = StageCache.getOrStage(s"$base:unit") {
      corpus
        .select(col(idCol).as("vid"), col(seedCol).as("c0"),
          col(embCol).as("e"), l2norm(col(embCol)).as("nrm"))
        .filter(col("nrm") > 0)
        .select(col("vid"), col("c0"), posexplode(col("e")).as(Seq("i", "x")),
          col("nrm"))
        .select(col("vid"), col("c0"), col("i"),
          round(col("x") / col("nrm") * 1e6, 0).cast("long").as("xe6"))
        .stage("lloydLoop:unit") // read by every round's centroid + distance legs
    }
    var asg = StageCache.getOrStage(s"$base:asg:0")(
      unit.select(col("vid"), col("c0").as("cell")).distinct()
        .stage("lloydLoop:r0"))
    var prevAsg = asg
    for (r <- 1 to rounds) {
      prevAsg = asg
      val prev = asg
      asg = StageCache.getOrStage(s"$base:asg:$r") {
        val cents = unit.join(prev, Seq("vid"))
          .groupBy(col("cell"), col("i"))
          .agg(sum("xe6").as("sx"), count(lit(1)).as("n"))
          .select(col("cell"), col("i"),
            when(col("sx") >= 0, expr("sx div n"))
              .otherwise(-expr("(-sx) div n")).as("ce6"))
        unit.join(broadcast(cents), Seq("i"))
          .groupBy(col("vid"), col("cell"))
          .agg(sum((col("xe6") - col("ce6")) * (col("xe6") - col("ce6")))
            .as("d2"))
          .groupBy("vid")
          .agg(min_by(struct(col("cell"), col("d2")),
            struct(col("d2"), col("cell"))).as("w"))
          .select(col("vid"), col("w.cell").as("cell"), col("w.d2").as("d2"))
          .stage(s"lloydLoop:r$r") // per-round lineage cut; read by next round + report
      }
    }
    (unit, prevAsg, asg)
  }

  /** MULTI-ROUND k-means with a convergence certificate (q236) — the
    * q76 single Lloyd step extended to `rounds` FIXED rounds (the
    * q223/q225 fixed-round oracle contract: both engines run the same
    * R rounds; the oracle unrolls them as CTEs), using the q227
    * integer recentering: unit vectors quantize ONCE to e6 integer
    * components, each round recomputes per-(cluster, dim) centroids as
    * the SIGN-SPLIT floor-mean of the members and reassigns every
    * vector to the argmin exact-integer squared distance (ties to the
    * smallest cluster id). `converged` certifies a true fixpoint the
    * q223 way: 1 iff NO vector changed cluster between rounds R−1 and
    * R — a caller sees "k-means finished" vs "R rounds weren't enough"
    * in the result itself, never silently.
    *
    * Output: one row per surviving cluster — member count, arrivals in
    * the last round, total squared distance (e6² units, the inertia
    * readout vs the round-R centroids), and the global `converged`
    * flag. Clusters reassignment empties simply stop appearing (the
    * standard empty-cluster drop).
    *
    * Scale shape: the exploded unit relation is staged ONCE
    * (localCheckpoint) and each round is (a) one (cluster, dim)-keyed
    * partial-agg'd shuffle producing a k·dim centroid table that
    * BROADCASTS, (b) one dim-keyed join computing every (vector,
    * cluster) distance in a single pass, (c) one vector-keyed argmin —
    * per-round assignment lineage is cut so R rounds never grow the
    * plan. Squared-distance sums are bounded by 64·(2·10⁶)² ≈ 2.6e14
    * — exact in LONG at any corpus size (per-vector, not corpus,
    * bounded). */
  def kmeansRounds(corpus: DataFrame, idCol: String, embCol: String,
                   seedCol: String, rounds: Int = 4): DataFrame = {
    val (_, prevAsg, asg) = lloydLoop(corpus, idCol, embCol, seedCol, rounds)
    val moved = prevAsg.select(col("vid"), col("cell").as("prev_cell"))
      .join(asg.select("vid", "cell"), Seq("vid"))
      .agg(sum(when(col("prev_cell") =!= col("cell"), 1L).otherwise(0L))
        .as("n_moved"))
    prevAsg.select(col("vid"), col("cell").as("prev_cell"))
      .join(asg.select("vid", "cell", "d2"), Seq("vid"))
      .groupBy(col("cell").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("prev_cell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_arrived"),
        sum("d2").as("total_d2"))
      .crossJoin(broadcast(moved))
      .select(col("cluster"), col("n_members").cast("long").as("n_members"),
        col("n_arrived").cast("long").as("n_arrived"),
        col("total_d2").cast("long").as("total_d2"),
        when(col("n_moved") === 0, 1).otherwise(0).cast("int").as("converged"))
      .orderBy("cluster")
  }

  /** CLUSTERING QUALITY vs external labels (q247) — purity and NMI of
    * the q236 final Lloyd assignment measured against the embeddings'
    * label column (the same labels that SEED the iteration, so the
    * readout is "how much label structure did Lloyd preserve/destroy"
    * — stated, not hidden). Per cluster: member count, majority label
    * (ties smallest), purity in exact floor ppm; plus the global NMI
    * with arithmetic-mean normalization NMI = 2·MI/(H_c + H_l) — the
    * sqrt-free variant both engines reproduce exactly: MI and the
    * entropies are accumulated as Σ count·round-e6-micro-nat terms
    * (the q196 ln idiom — both engines take IEEE ln of the same
    * rational double), the shared N·10⁶ denominator cancels, and the
    * final ratio is one DECIMAL(38,0)/HUGEINT floor division clamped
    * ≥ 0 against quantization (negative numerators floor differently
    * across engines, but both land < 0 and clamp to 0).
    *
    * Scale shape: one vid-keyed join of the assignment to the label
    * projection, one (cluster, label)-keyed count — after that every
    * relation is |clusters|·|labels|-sized (marginals, MI terms,
    * purity rollups). */
  def kmeansClusterEval(corpus: DataFrame, idCol: String, embCol: String,
                        seedCol: String, rounds: Int = 4): DataFrame = {
    val (unit, _, asg) = lloydLoop(corpus, idCol, embCol, seedCol, rounds)
    val lab = unit.select(col("vid"), col("c0").as("label")).distinct()
    val ct = asg.select("vid", "cell").join(lab, Seq("vid"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n"))
      .stage("kmeansClusterEval:ct") // |clusters|·|labels| rows; read by 4 rollups
    val rowTot = ct.groupBy("cell").agg(sum("n").as("ncl"))
      .stage("kmeansClusterEval:rowTot") // read by MI terms + entropy + purity spine
    val colTot = ct.groupBy("label").agg(sum("n").as("nlb"))
    val nTot = ct.agg(sum("n").as("nn"))
    val mi = ct.join(rowTot, Seq("cell")).join(colTot, Seq("label"))
      .crossJoin(broadcast(nTot))
      .select((col("n") *
        round(log((col("n").cast("double") * col("nn")) /
          (col("ncl").cast("double") * col("nlb"))) * 1e6, 0).cast("long"))
        .as("term"))
      .agg(sum("term").as("mi_num"))
    val hc = rowTot.crossJoin(broadcast(nTot))
      .select((col("ncl") *
        round(log(col("ncl").cast("double") / col("nn")) * 1e6, 0)
          .cast("long")).as("t"))
      .agg((-sum("t")).as("hc_num"))
    val hl = colTot.crossJoin(broadcast(nTot))
      .select((col("nlb") *
        round(log(col("nlb").cast("double") / col("nn")) * 1e6, 0)
          .cast("long")).as("t"))
      .agg((-sum("t")).as("hl_num"))
    val nmi = mi.crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .select(expr(
        """CASE WHEN hc_num + hl_num = 0 THEN CAST(0 AS BIGINT)
          |ELSE greatest(CAST(0 AS BIGINT),
          |  CAST(CAST(2 AS DECIMAL(38,0)) * mi_num * 1000000
          |       div (hc_num + hl_num) AS BIGINT)) END""".stripMargin)
        .as("nmi_ppm"))
    ct.groupBy("cell")
      .agg(sum("n").as("n_members"), max("n").as("n_majority"),
        min_by(col("label"), struct(-col("n"), col("label")))
          .as("majority_label"))
      .crossJoin(broadcast(nmi))
      .select(col("cell").cast("int").as("cluster"),
        col("n_members").cast("long").as("n_members"),
        col("majority_label").cast("int").as("majority_label"),
        col("n_majority").cast("long").as("n_majority"),
        expr("n_majority * 1000000 div n_members").as("purity_ppm"),
        col("nmi_ppm"))
      .orderBy("cluster")
  }

  /** MARGIN-based cross-source alignment mining (q298) — the
    * Artetxe–Schwenk (ACL 2019) mutual-kNN + ratio-margin criterion
    * that built CCMatrix/LASER bitext at web scale, applied across
    * corpus SOURCES: a pair (x ∈ A, y ∈ B) is ALIGNED when each is the
    * other's nearest cross-source neighbor (mutual NN1) AND the margin
    *   2·cos(x,y) / (avgₖNN(x→B) + avgₖNN(y→A))
    * clears a threshold — absolute cosine can't separate aligned pairs
    * from hubs (a generic vector is everyone's neighbor); dividing by
    * each side's local kNN level is the published fix.
    *
    * Candidates are bucket-restricted (the [[nearDupPairs]] IVF
    * posture: only same-`bucketCol` cross-source pairs are scored — an
    * equi join, never a cross product; recall vs exhaustive mining is
    * a stated property of the bucketing, as in q36/q221). Per-side kNN
    * statistics ride keyed windows over (vector, counterpart-source)
    * candidate lists — bounded by the bucket's source population. The
    * output is |source-pair| metadata rows, never pair-volume-sized.
    *
    * Parity: cosines quantize ONCE to e4 integers; kNN averages and
    * margins are sign-split floor divisions over exact integers (cosines
    * go negative, and truncate-vs-floor diverges there), so both engines
    * report identical micro-integers end to end. */
  def marginAlignment(corpus: DataFrame, idCol: String, embCol: String,
                      bucketCol: String, srcCol: String, kAvg: Int = 3,
                      marginThresholdPpm: Long = 1020000L): DataFrame = {
    val fanned = graft.model.Tables.fanOut(corpus)
    def half(tag: String) = fanned.select(col(bucketCol).as("bucket"),
      col(srcCol).as(s"src_$tag"), col(idCol).as(s"id_$tag"),
      col(embCol).as(s"emb_$tag"), l2norm(col(embCol)).as(s"nrm_$tag"))
    val pairs = half("a").join(half("b"), Seq("bucket"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("id_a"), col("src_b"), col("id_b"),
        round(ratio(dot(col("emb_a"), col("emb_b")),
          col("nrm_a") * col("nrm_b")) * 10000, 0).cast("long").as("cos_e4"))
      .stage("marginAlignment:pairs") // read by both directed views + the pair census
    val directed = pairs.select(col("id_a").as("qid"), col("src_a").as("qsrc"),
        col("src_b").as("oth"), col("id_b").as("nid"), col("cos_e4"))
      .unionAll(pairs.select(col("id_b").as("qid"), col("src_b").as("qsrc"),
        col("src_a").as("oth"), col("id_a").as("nid"), col("cos_e4")))
    val ranked = topK(directed, Seq("qid", "oth"), byScore("cos_e4", "nid"),
        kAvg, "rk")
      .stage("marginAlignment:ranked") // read by the kNN average AND the NN1 probe
    val avgk = ranked.groupBy("qid", "oth")
      .agg(sum("cos_e4").as("sc"), count(lit(1)).as("nc"))
      .select(col("qid"), col("oth"), expr(
        """CASE WHEN sc < 0 THEN -((-sc) div nc) ELSE sc div nc END""")
        .as("avg_e4"))
    val nn1 = ranked.filter(col("rk") === 1)
      .select(col("qid"), col("qsrc"), col("oth"), col("nid"), col("cos_e4"))
    val mutual = nn1.as("x").join(nn1.as("y"),
        col("x.nid") === col("y.qid") && col("x.qsrc") === col("y.oth") &&
          col("y.nid") === col("x.qid"))
      .filter(col("x.qsrc") < col("x.oth"))
      .select(col("x.qsrc").as("src_a"), col("x.oth").as("src_b"),
        col("x.qid").as("id_a"), col("x.nid").as("id_b"),
        col("x.cos_e4").as("cos_e4"))
      .join(avgk.select(col("qid").as("id_a"), col("oth").as("src_b"),
        col("avg_e4").as("avg_a")), Seq("id_a", "src_b"))
      .join(avgk.select(col("qid").as("id_b"), col("oth").as("src_a"),
        col("avg_e4").as("avg_b")), Seq("id_b", "src_a"))
      .select(col("src_a"), col("src_b"), col("id_a"), col("id_b"),
        expr(s"""CASE WHEN avg_a + avg_b <= 0 THEN CAST(0 AS BIGINT)
                 |WHEN cos_e4 < 0 THEN -((-cos_e4) * 2000000 div (avg_a + avg_b))
                 |ELSE cos_e4 * 2000000 div (avg_a + avg_b) END""".stripMargin)
          .as("margin_ppm"))
      .stage("marginAlignment:mutual") // read by the rollup AND the best-pair probe
    val census = pairs.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_candidates"))
    census.join(mutual.groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_mutual"),
          sum(when(col("margin_ppm") >= marginThresholdPpm, 1L)
            .otherwise(0L)).as("n_aligned"),
          max("margin_ppm").as("best_margin_ppm"),
          min_by(col("id_a"), struct(-col("margin_ppm"), col("id_a"),
            col("id_b"))).as("best_id_a"),
          min_by(col("id_b"), struct(-col("margin_ppm"), col("id_a"),
            col("id_b"))).as("best_id_b")),
        Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_candidates"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        coalesce(col("n_aligned"), lit(0L)).as("n_aligned"),
        coalesce(col("best_margin_ppm"), lit(0L)).as("best_margin_ppm"),
        coalesce(col("best_id_a"), lit(-1L)).as("best_id_a"),
        coalesce(col("best_id_b"), lit(-1L)).as("best_id_b"))
      .orderBy("src_a", "src_b")
  }

  /** Embedding-cosine near-duplicate pairs within a coarse partition key
    * (here: a label/cluster column — the IVF idea: only intra-bucket pairs
    * are candidates, so the self-join is equi on the bucket key instead of
    * a full cross product). */
  def nearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                   bucketColName: String, threshold: Double): DataFrame = {
    val fanned = graft.model.Tables.fanOut(corpus)
    val a = fanned.select(col(bucketColName).as("bucket"),
      col(idCol).as("id_a"), col(embCol).as("emb_a"),
      l2norm(col(embCol)).as("nrm_a"))
    val b = fanned.select(col(bucketColName).as("bucket"),
      col(idCol).as("id_b"), col(embCol).as("emb_b"),
      l2norm(col(embCol)).as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosScore(dot(col("emb_a"), col("emb_b")), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("bucket"), col("cos"))
  }

  /** TOP PRINCIPAL COMPONENT by fixed-round power iteration (q245) —
    * the classical v ← normalize(AᵀAv) recursion over the embedding
    * matrix, the first step of every spectral readout (PCA whitening,
    * spectral embedding-quality checks). `rounds` fixed rounds (the
    * q223/q236 fixed-round oracle contract), all arithmetic exact
    * integers: embeddings quantized to e4 units at the scan, the
    * per-vector projection s = Σᵢ qᵢ·vᵢ in longs (|s| ≤ dim·10⁸), the
    * per-dimension back-projection w = Σ_docs q·s accumulated in
    * DECIMAL(38,0) (corpus-sized sum — the silhouette/HUGEINT idiom),
    * then renormalized to e4 scale by max-|component| with the
    * sign-split floor division both engines agree on. One row per
    * dimension with the last two rounds' components plus the
    * convergence certificate the q223 pattern requires: alignment
    * cos²(v_prev, v_final) in exact ppm (dot and norms in
    * DECIMAL(38,0); squares exceed the long range by design).
    *
    * Scale shape per round: one broadcast of the dim-row direction
    * vector onto the quantized scan relation, one doc-keyed sum, one
    * dim-keyed sum — two keyed shuffles of narrow integer rows, no
    * all-pairs anything; the direction relation (dim rows) is
    * checkpointed per round to cut lineage. */
  def powerIteration(corpus: DataFrame, idCol: String, embCol: String,
                     rounds: Int = 3): DataFrame = {
    require(rounds >= 2, s"need >= 2 rounds for a convergence readout, got $rounds")
    val q = quantizedE4(corpus, idCol, embCol)
    val (v, vPrev) = powerLoop(q, rounds)
    val cert = v.select(col("i"), col("v"))
      .join(vPrev.select(col("i"), col("v").as("vp")), Seq("i"))
      .agg(sum(expr("CAST(v AS DECIMAL(38,0)) * vp")).as("dt"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("nv"),
        sum(expr("CAST(vp AS DECIMAL(38,0)) * vp")).as("np"))
      .select(expr("CAST((dt * dt * 1000000) div (nv * np) AS BIGINT)")
        .as("align_ppm"))
    v.join(vPrev.select(col("i"), col("v").as("vp")), Seq("i"))
      .crossJoin(broadcast(cert))
      .select(col("i").cast("int").as("dim"),
        col("vp").cast("long").as("v_prev_e4"),
        col("v").cast("long").as("v_e4"),
        col("align_ppm"))
      .orderBy("dim")
  }

  /** The q245 quantized scan relation: (vid, i, q) with q = round(x·10⁴)
    * — staged once, read twice per power round. [[StageCache]]-memoized
    * on the corpus plan so the two registered consumers (q245 and
    * q282's first loop) pay ONE posexplode+quantize pass per session. */
  private def quantizedE4(corpus: DataFrame, idCol: String,
                          embCol: String): DataFrame =
    StageCache.getOrStage(
        StageCache.keyFor(corpus, "pow-e4", idCol, embCol)) {
      corpus
        .select(col(idCol).as("vid"), posexplode(col(embCol)).as(Seq("i", "x")))
        .select(col("vid"), col("i"),
          round(col("x") * 1e4, 0).cast("long").as("q"))
        .stage("quantizedE4:q")
    }

  /** The q245 power recursion over a quantized (vid, i, q) relation:
    * `rounds` rounds of s = Σᵢ qᵢvᵢ per vid (LONG), w = Σ_vid q·s per
    * dim (DECIMAL(38,0)), renormalize to e4 by max-|w| with sign-split
    * floor division. Returns (final direction, previous round's).
    * [[StageCache]]-memoized on (q plan, rounds): q245 and q282 run the
    * IDENTICAL first loop (same staged scan relation, same rounds), so
    * the second consumer rides the staged directions instead of
    * re-paying rounds × (two keyed aggs) — a partially-dead cache
    * re-runs the loop at most once (the Bpe.stagedArtifacts idiom). */
  private def powerLoop(q: DataFrame, rounds: Int,
                        keyBase: Option[String] = None)
      : (DataFrame, DataFrame) = {
    // `keyBase` lets a caller whose scan relation is REBUILT per
    // invocation (q282's deflated residual — a fresh localCheckpoint
    // whose LogicalRDD hashes differently every run) key the memo on a
    // STABLE derivation of the original corpus plan instead: without
    // it, the residual loop's two entries could never hit and two dead
    // LRU entries accumulated per run (the r16 ADVICE finding).
    def key(part: String) = keyBase
      .map(b => s"$b:$part")
      .getOrElse(StageCache.keyFor(q, "powloop", rounds, part))
    lazy val looped: (DataFrame, DataFrame) = {
      var v = q.select(col("i")).distinct()
        .select(col("i"), lit(10000L).as("v"))
        .stage("powerLoop:r0")
      var vPrev = v
      for (r <- 1 to rounds) {
        val s = q.join(broadcast(v), Seq("i"))
          .groupBy("vid").agg(sum(col("q") * col("v")).as("s"))
        val w = q.join(s, Seq("vid"))
          .groupBy("i")
          .agg(sum(col("q").cast("decimal(38,0)") * col("s")).as("w"))
        val m = w.agg(max(abs(col("w"))).as("m"))
        vPrev = v
        v = w.crossJoin(broadcast(m))
          .select(col("i"),
            when(col("w") >= 0, expr("(abs(w) * 10000) div m"))
              .otherwise(-expr("(abs(w) * 10000) div m")).cast("long").as("v"))
          .stage(s"powerLoop:r$r") // dim rows; per-round lineage cut
      }
      (v, vPrev)
    }
    val v = StageCache.getOrStage(key("v"))(looped._1)
    val vPrev = StageCache.getOrStage(key("vprev"))(looped._2)
    (v, vPrev)
  }

  /** SECOND PRINCIPAL COMPONENT by deflation (q282) — the 2-D spectral
    * readout dashboards actually plot (anisotropy of the embedding
    * cloud): run the q245 power iteration to the top direction v₁, then
    * GRAM–SCHMIDT-DEFLATE every vector — q′ᵢ = qᵢ − ⌊s·v₁ᵢ / ‖v₁‖²⌋
    * (sign-split floor; s = Σ qᵢv₁ᵢ the vector's exact integer
    * projection) — and re-run the same fixed-round recursion on the
    * residual matrix, whose top direction is the second component.
    * All arithmetic stays in the q245 exact-integer contract (e4
    * quantize-once components, LONG per-vector projections,
    * DECIMAL(38,0) per-dim sums, sign-split floor renormalization), so
    * both engines unroll identical integers.
    *
    * Two certificates ride the output (the q223 pattern): `align2_ppm`
    * — cos²(v₂ previous round, v₂ final) in exact ppm, the convergence
    * readout of the second iteration — and `ortho_ppm` — cos²(v₁, v₂)
    * in exact ppm, which the spec pins near zero (the deflation floor
    * residue is the only mass left along v₁; true orthogonality up to
    * quantization).
    *
    * Scale shape: the deflation is ONE vid-keyed join (projection) plus
    * one dim-keyed broadcast join — same two keyed shuffles per round
    * as q245, nothing all-pairs; the residual relation localCheckpoints
    * so the second loop starts from cut lineage. */
  def secondComponent(corpus: DataFrame, idCol: String, embCol: String,
                      rounds: Int = 3): DataFrame = {
    require(rounds >= 2, s"need >= 2 rounds for a convergence readout, got $rounds")
    val q = quantizedE4(corpus, idCol, embCol)
    val (v1, _) = powerLoop(q, rounds)
    val nv1 = v1.agg(sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("nv"))
    val pj = q.join(broadcast(v1), Seq("i"))
      .groupBy("vid").agg(sum(col("q") * col("v")).as("s"))
    val q2 = q.join(pj, Seq("vid"))
      .join(broadcast(v1), Seq("i"))
      .crossJoin(broadcast(nv1))
      .select(col("vid"), col("i"),
        (col("q") - when(col("s") * col("v") >= 0,
          expr("(CAST(s AS DECIMAL(38,0)) * v) div nv"))
          .otherwise(-expr("(-(CAST(s AS DECIMAL(38,0)) * v)) div nv"))
          .cast("long")).as("q"))
      .stage("secondComponent:q2") // the second loop's scan relation
    // Key the residual loop on the ORIGINAL corpus scan plan (q2 is a
    // pure deterministic function of q, so equal keys ⇒ equal values):
    // q2 itself is a fresh LogicalRDD each run and can never hit.
    val (v2, v2Prev) = powerLoop(q2, rounds,
      Some(StageCache.keyFor(q, "powloop2", rounds)))
    val cert2 = v2.select(col("i"), col("v"))
      .join(v2Prev.select(col("i"), col("v").as("vp")), Seq("i"))
      .agg(sum(expr("CAST(v AS DECIMAL(38,0)) * vp")).as("dt"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("nv"),
        sum(expr("CAST(vp AS DECIMAL(38,0)) * vp")).as("np"))
      .select(expr("CAST((dt * dt * 1000000) div (nv * np) AS BIGINT)")
        .as("align2_ppm"))
    val ortho = v1.select(col("i"), col("v").as("v1"))
      .join(v2.select(col("i"), col("v").as("v2")), Seq("i"))
      .agg(sum(expr("CAST(v1 AS DECIMAL(38,0)) * v2")).as("dt"),
        sum(expr("CAST(v1 AS DECIMAL(38,0)) * v1")).as("n1"),
        sum(expr("CAST(v2 AS DECIMAL(38,0)) * v2")).as("n2"))
      .select(expr("CAST((dt * dt * 1000000) div (n1 * n2) AS BIGINT)")
        .as("ortho_ppm"))
    v1.select(col("i"), col("v").as("v1"))
      .join(v2.select(col("i"), col("v").as("v2")), Seq("i"))
      .crossJoin(broadcast(cert2)).crossJoin(broadcast(ortho))
      .select(col("i").cast("int").as("dim"),
        col("v1").cast("long").as("v1_e4"),
        col("v2").cast("long").as("v2_e4"),
        col("align2_ppm"), col("ortho_ppm"))
      .orderBy("dim")
  }

  /** k-NN GRAPH by sign-LSH seeding plus ONE NN-descent round (Dong,
    * Moses & Li, WWW 2011 — "a neighbor of a neighbor is likely a
    * neighbor"), with a measured recall certificate against the exact
    * graph on a bounded probe set. Two stages, both reported:
    *   seed    — candidates = same-bucket pairs from TWO independent
    *             sign-LSH tables (plane rows 0–3 and 4–7 of the q38
    *             generator), best-k per node by exact cosine. Two
    *             tables matter structurally: a single-table seed graph
    *             is DISCONNECTED by bucket, so a two-hop expansion
    *             could never cross a bucket boundary and descent would
    *             provably add nothing (measured: exactly zero new
    *             hits); the second table's edges are the bridges;
    *   descent — candidates = seed edges ∪ one two-hop expansion of
    *             the UNDIRECTED seed graph (forward ∪ reverse edges on
    *             both hops — Dong et al.'s general-neighbor set; the
    *             reverse edges are what bridge LSH-bucket blind
    *             spots), rescored exactly, best-k kept. Descent
    *             candidates ⊇ seed edges, so descent recall ≥ seed
    *             recall — pinned.
    * Scores are round-4dp cosines ranked (score desc, id) — the
    * engine-exact q37 contract. Recall = fraction of the exact top-k
    * edges of the probe nodes (id < `nProbe`) present in each stage's
    * graph.
    *
    * Scale shape: seed candidates are bucket-equi pairs (never
    * corpus²); descent candidates are ≤ k + (k + |R|)² per node with
    * |R| the reverse degree — degree-bounded, never corpus²; every
    * top-k is the salted two-phase form (a hot
    * LSH bucket or hub node never concentrates a window task); the
    * recall leg is one broadcast cross of the |probe|-bounded query
    * side against the corpus — the q37 shape, linear in the corpus.
    * The corpus projection stages once and feeds all five consumers. */
  def knnGraphDescent(corpus: DataFrame, idCol: String, embCol: String,
                      k: Int = 5, nPlanes: Int = 4, dim: Int = 64,
                      nProbe: Long = 64): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"need k>=1, nProbe>=1; got $k, $nProbe")
    val base = knnBaseKey(corpus, idCol, embCol, nPlanes, dim)
    val (c, seed, descent) = knnStages(corpus, idCol, embCol, k, nPlanes, dim)
    val exactK = exactProbeTopK(c, k, nProbe, s"$base:exact:$k:$nProbe")
    def stageRow(g: DataFrame, stage: String): DataFrame = {
      val nodes = g.select("id").distinct().agg(count(lit(1)).as("n_nodes"))
      val edges = g.agg(count(lit(1)).as("n_edges"))
      val nEx = exactK.agg(count(lit(1)).as("n_exact"))
      val nHit = exactK.join(g, Seq("id", "nid"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      edges.crossJoin(broadcast(nodes)).crossJoin(broadcast(nEx))
        .crossJoin(broadcast(nHit)) // 1-row scalar broadcasts only
        .select(lit(stage).as("stage"),
          col("n_nodes").cast("long").as("n_nodes"),
          col("n_edges").cast("long").as("n_edges"),
          col("n_exact").cast("long").as("n_exact"),
          col("n_hit").cast("long").as("n_hit"),
          expr("CASE WHEN n_exact = 0 THEN 0 " +
            "ELSE n_hit * 1000000 div n_exact END").as("recall_ppm"))
    }
    stageRow(seed, "seed").unionAll(stageRow(descent, "descent"))
      .orderBy("stage")
  }

  /** Exact top-k edges of the probe nodes (id < nProbe) against the
    * staged corpus projection `c` — the recall baseline shared by the
    * q267 two-stage report and the q280 trajectory. One |probe|-bounded
    * broadcast cross (the q37 shape), salted top-k. */
  private def exactProbeTopK(c: DataFrame, k: Int, nProbe: Long,
                             cacheKey: String): DataFrame =
    StageCache.getOrStage(cacheKey) {
      val probe = c.filter(col("id") < nProbe)
        .select(col("id").as("pid"), col("emb").as("p_emb"),
          col("nrm").as("p_nrm"))
      val exactScored = c.crossJoin(broadcast(probe))
        .filter(col("id") =!= col("pid"))
        .select(col("pid").as("qid"), col("id").as("nid"),
          cosScore(dot(col("p_emb"), col("emb")), col("p_nrm"), col("nrm"))
            .as("score"))
      graft.operators.Skew.saltedTopKPerGroup(
          exactScored.withColumnRenamed("qid", "id"), Seq("id"),
          Seq(col("score").desc, col("nid")), k, salts = 8)
        .select("id", "nid")
        .stage("exactProbeTopK:exactScored") // read by every round's readout
    }

  /** NN-DESCENT RUN TO A CONVERGENCE CERTIFICATE (q280) — the q267
    * one-round demo extended to `rounds` FIXED descent rounds (Dong,
    * Moses & Li's actual iteration: repeat "compare each node against
    * its neighbors' neighbors" until the graph stops changing), with
    * the per-round recall TRAJECTORY reported instead of a single
    * after-one-round point. Round 0 is the two-table sign-LSH seed
    * graph; each round r ≥ 1 applies [[descentRound]] (candidates =
    * current edges ∪ two-hop expansion of the undirected graph, exact
    * rescore, salted best-k). Per round: nodes, edges, NEW edges vs the
    * previous round (left-anti on (id, nid); round 0 counts all its
    * edges as new), exact-probe hits and recall ppm, and `converged` —
    * 1 iff the round added NO new edge. Because each round's per-node
    * candidate set ⊇ its current edges, a round with zero new edges
    * reproduces the previous graph exactly (per node the same best-k
    * wins from a superset ⟹ edge count is non-decreasing, so
    * new ⊆ old ∧ |new| ≥ |old| ⟹ equality) — n_new_edges = 0 IS the
    * fixpoint certificate (the q223 pattern), and early convergence
    * shows up as a converged=1 row mid-trajectory, never silently.
    * Recall is monotone non-decreasing in the round (supersets rescored
    * under the identical (score desc, nid) order can only swap in
    * higher-ranked exact edges) — pinned by the spec.
    *
    * Note on this synthetic corpus: the near-uniform embeddings bound
    * achievable recall (the q267 readout), so the TRAJECTORY — how much
    * each round buys — is the honest deliverable, not an absolute
    * recall target.
    *
    * Scale shape: identical per-round machinery to q267 — degree-
    * bounded two-hop candidates (≤ k + (k+|R|)² per node, never
    * corpus²), salted top-k everywhere, per-round localCheckpoint so R
    * rounds never grow the plan. The READOUT is one round-tagged union
    * of the (already-staged) per-round edge sets with keyed rollups —
    * per-round counts group by `round`, the new-edge count reads each
    * edge's round-membership set (an edge is new in round r iff it
    * appears in r but not r−1, the left-anti semantics without R anti
    * joins), hits are one equi semi-join against the probe baseline —
    * so the whole report carries exactly ONE 1-row scalar cross
    * (n_exact), not four per round. */
  def knnDescentConverged(corpus: DataFrame, idCol: String, embCol: String,
                          k: Int = 5, nPlanes: Int = 4, dim: Int = 64,
                          nProbe: Long = 64, rounds: Int = 3): DataFrame = {
    require(k >= 1 && nProbe >= 1 && rounds >= 1,
      s"need k>=1, nProbe>=1, rounds>=1; got $k, $nProbe, $rounds")
    val base = knnBaseKey(corpus, idCol, embCol, nPlanes, dim)
    val (c, seed) = knnSeed(corpus, idCol, embCol, k, nPlanes, dim)
    val exactK = exactProbeTopK(c, k, nProbe, s"$base:exact:$k:$nProbe")
    var g = seed
    var edgesAll = seed.select(lit(0).as("round"), col("id"), col("nid"))
    for (r <- 1 to rounds) {
      val ng = descentRound(c, g, k, r, s"$base:descent:$k:$r")
      edgesAll = edgesAll
        .unionAll(ng.select(lit(r).as("round"), col("id"), col("nid")))
      g = ng
    }
    val perRound = edgesAll.groupBy("round")
      .agg(countDistinct("id").as("n_nodes"), count(lit(1)).as("n_edges"))
    // an edge is NEW in round r iff its round-membership set contains r
    // but not r−1 (round 0 edges are all new) — g_r's candidates ⊇ g_{r−1}
    // makes this exactly the per-round left-anti count
    val fresh = edgesAll.groupBy("id", "nid")
      .agg(collect_set("round").as("rs"))
      .select(explode(col("rs")).as("round"), col("rs"))
      .filter(col("round") === 0 ||
        !array_contains(col("rs"), col("round") - 1))
      .groupBy("round").agg(count(lit(1)).as("n_new_edges"))
    val hits = edgesAll.join(exactK, Seq("id", "nid"), "left_semi")
      .groupBy("round").agg(count(lit(1)).as("n_hit"))
    val nEx = exactK.agg(count(lit(1)).as("n_exact"))
    perRound.join(fresh, Seq("round"), "left")
      .join(hits, Seq("round"), "left")
      .na.fill(0L, Seq("n_new_edges", "n_hit"))
      .crossJoin(broadcast(nEx)) // the one 1-row scalar cross
      .select(col("round").cast("int").as("round"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        col("n_new_edges").cast("long").as("n_new_edges"),
        col("n_exact").cast("long").as("n_exact"),
        col("n_hit").cast("long").as("n_hit"),
        expr("CASE WHEN n_exact = 0 THEN 0 " +
          "ELSE n_hit * 1000000 div n_exact END").as("recall_ppm"),
        when(col("round") > 0 && col("n_new_edges") === 0, 1).otherwise(0)
          .cast("int").as("converged"))
      .orderBy("round")
  }

  /** The q267/q276/q280 pipelines' shared cache-key prefix — session +
    * corpus plan hash + every staging parameter, so distinct corpora or
    * parameterizations never collide in [[StageCache]]. */
  private def knnBaseKey(corpus: DataFrame, idCol: String, embCol: String,
                         nPlanes: Int, dim: Int): String =
    StageCache.keyFor(corpus, "knn", idCol, embCol, nPlanes, dim)

  /** The q267 pipeline's staged seed relations — the corpus projection
    * (id, emb, nrm, b1, b2) and the two-table-seeded k-NN edges. Both are
    * memoized in [[StageCache]]: q267, q276 and q280 all start from this
    * exact pair, and before round 13 each registered query re-staged it
    * from the parquet scan (3× the staging cost per suite pass). */
  private[ext] def knnSeed(corpus: DataFrame, idCol: String,
                           embCol: String, k: Int, nPlanes: Int,
                           dim: Int): (DataFrame, DataFrame) = {
    val base = knnBaseKey(corpus, idCol, embCol, nPlanes, dim)
    val c = StageCache.getOrStage(s"$base:c") {
      graft.model.Tables.fanOut(corpus)
        .select(col(idCol).as("id"), col(embCol).as("emb"),
          l2norm(col(embCol)).as("nrm"),
          bucketColFrom(col(embCol), 0, nPlanes, dim).as("b1"),
          bucketColFrom(col(embCol), nPlanes, nPlanes, dim).as("b2"))
        .stage("knnSeed:corpus") // read by seed pairs ×4, rescore ×2, probe ×2
    }
    def seedLeg(key: String): DataFrame = c
      .select(col("id"), col("emb"), col("nrm"), col(key).as("bk"))
      .join(c.select(col("id").as("nid"), col("emb").as("n_emb"),
        col("nrm").as("n_nrm"), col(key).as("bk")), Seq("bk"))
      .filter(col("id") =!= col("nid"))
      .select(col("id"), col("nid"),
        cosScore(dot(col("emb"), col("n_emb")), col("nrm"), col("n_nrm"))
          .as("score"))
    val seed = StageCache.getOrStage(s"$base:seed:$k") {
      // A pair colliding in both tables is scored twice (deterministic
      // round-4dp score, so distinct collapses it) — cheaper than a
      // pre-score pair dedup that would force extra embedding joins.
      val seedScored = seedLeg("b1").unionAll(seedLeg("b2")).distinct()
      graft.operators.Skew.saltedTopKPerGroup(seedScored, Seq("id"),
          Seq(col("score").desc, col("nid")), k, salts = 8)
        .select("id", "nid")
        .stage("knnSeed:seed") // read by the N-of-N join (both sides) + readout
    }
    (c, seed)
  }

  /** ONE NN-descent round over graph `g` (id, nid edges): candidates =
    * g ∪ the two-hop expansion of UNDIRECTED g (Dong et al.'s
    * general-neighbor set — forward AND reverse edges on both hops;
    * reverse edges are what lets a node escape its own LSH bucket's
    * blind spot, since a foreign-bucket node that picked v as ITS
    * neighbor becomes v's bridge), rescored exactly against the staged
    * corpus projection `c`, best-k kept (salted two-phase top-k).
    * Candidates ⊇ g, so per-node hit sets vs the exact graph are
    * monotone non-decreasing across rounds — the q280 trajectory pin. */
  private[ext] def descentRound(c: DataFrame, g: DataFrame, k: Int, rnd: Int,
                                cacheKey: String): DataFrame =
    // Round-numbered keys let q267/q276 share round 1 with q280's
    // trajectory.
    StageCache.getOrStage(cacheKey)(descentRoundBuild(c, g, k, rnd))

  private def descentRoundBuild(c: DataFrame, g: DataFrame,
                                k: Int, rnd: Int): DataFrame = {
    val undirected = g
      .unionAll(g.select(col("nid").as("id"), col("id").as("nid")))
      .distinct()
      .stage(s"knnDescent:undirected-r$rnd") // both sides of the two-hop join
    val cand2 = undirected
      .join(undirected.select(col("id").as("nid"), col("nid").as("nid2")),
        Seq("nid"))
      .filter(col("nid2") =!= col("id"))
      .select(col("id"), col("nid2").as("nid"))
    val candAll = g.unionAll(cand2).distinct()
    val rescored = candAll
      .join(c.select(col("id"), col("emb"), col("nrm")), Seq("id"))
      .join(c.select(col("id").as("nid"), col("emb").as("n_emb"),
        col("nrm").as("n_nrm")), Seq("nid"))
      .select(col("id"), col("nid"),
        cosScore(dot(col("emb"), col("n_emb")), col("nrm"), col("n_nrm"))
          .as("score"))
    graft.operators.Skew.saltedTopKPerGroup(rescored, Seq("id"),
        Seq(col("score").desc, col("nid")), k, salts = 8)
      .select("id", "nid")
      .stage(s"knnDescent:r$rnd") // per-round lineage cut; read by next round + report
  }

  /** The q267 pipeline's three staged relations — the corpus projection
    * (id, emb, nrm, b1, b2), the two-table-seeded k-NN edges, and the
    * post-descent k-NN edges — shared by the q267 recall report and the
    * q276 label-noise probe (which consumes the descent graph). */
  private[ext] def knnStages(corpus: DataFrame, idCol: String,
                             embCol: String, k: Int, nPlanes: Int,
                             dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val base = knnBaseKey(corpus, idCol, embCol, nPlanes, dim)
    val (c, seed) = knnSeed(corpus, idCol, embCol, k, nPlanes, dim)
    (c, seed, descentRound(c, seed, k, 1, s"$base:descent:$k:1"))
  }

  /** LABEL-NOISE detection by k-NN disagreement (q276 — the edited-
    * nearest-neighbor rule of Wilson 1972, the cheap ancestor of
    * confident learning): a labeled vector whose neighbors' majority
    * label disagrees with its own is a mislabel suspect — the triage
    * list a labeling pipeline re-reviews first. Neighbors come from the
    * q267 two-table-LSH + one-descent k-NN graph (the candidate-
    * restricted 100 TB path; its measured recall is exactly q267's
    * published readout — stated tradeoff, never corpus²). Majority =
    * argmax neighbor-label count, ties to the smallest label (the LPA
    * convention); vectors the graph left neighborless are counted
    * separately, never silently folded in. Per label: vector count,
    * neighborless count, suspects, suspect ppm (over voted vectors).
    *
    * Scale shape: the graph is |V|·k edges; one edge-keyed label join,
    * one (id, label) count, one degree-bounded argmax window (≤ k rows
    * per id), label-keyed rollup. */
  def labelNoiseByKnn(corpus: DataFrame, idCol: String, embCol: String,
                      labelCol: String, k: Int = 5, nPlanes: Int = 4,
                      dim: Int = 64): DataFrame = {
    val (_, _, descent) = knnStages(corpus, idCol, embCol, k, nPlanes, dim)
    val labels = corpus.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("label")).stage("labelNoiseByKnn:labels")
    val votes = descent
      .join(labels.select(col("id").as("nid"), col("label").as("nlab")),
        Seq("nid"))
      .groupBy("id", "nlab").agg(count(lit(1)).as("c"))
    // ≤ k rows per id
    val majority = topK(votes, Seq("id"), byScore("c", "nlab"), 1, "rk")
      .select(col("id"), col("nlab").as("maj_label"))
    labels.join(majority, Seq("id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("maj_label").isNull, 1L).otherwise(0L))
          .as("n_no_neighbors"),
        sum(when(col("maj_label").isNotNull &&
          col("maj_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_suspect"))
      .select(col("label"),
        col("n_vectors").cast("long").as("n_vectors"),
        col("n_no_neighbors").cast("long").as("n_no_neighbors"),
        col("n_suspect").cast("long").as("n_suspect"),
        expr("CASE WHEN n_vectors - n_no_neighbors = 0 THEN 0 " +
          "ELSE n_suspect * 1000000 div (n_vectors - n_no_neighbors) END")
          .as("suspect_ppm"))
      .orderBy("label")
  }

  /** GRAPH-ANN BEAM SEARCH (q304) — the SERVING path over the NN-descent
    * kNN graph (the HNSW-family walk of Malkov & Yashunin applied to the
    * flat graph tier): q267/q280 BUILD the graph but nothing ever
    * searched it for an external query — the round-13 verdict's "builder
    * without its reader". Synchronous beam search, the distributed form
    * of greedy graph walk: start every query at a deterministic entry
    * set, then `hops` rounds of "expand the current best `beam` visited
    * nodes through their graph neighborhoods, score the new candidates
    * exactly, merge". The final answer is the best `k` of everything
    * visited (self-hit excluded — queries are corpus rows, the
    * more-like-this contract).
    *
    * ENTRY (the HNSW upper-layer idea, r14 verdict ask #6): with
    * `entryCellCol` set, entries come from an IVF-CENTROID COARSE LAYER
    * — each query probes its `nprobe` nearest cell centroids (the q49
    * deterministic [[cellCentroids]], StageCache-shared with the IVF
    * tier) and enters at each probed cell's `nEntry/nprobe` BEST-SCORED
    * members for that query (the q49 probe as entry selection: an equi
    * join on the cell key bounded by cell occupancy, never a corpus
    * cross). The walk starts at IVF-quality candidates in the query's
    * region instead of a fixed corner — which is what cuts hops at
    * corpus scale — and then crosses cell boundaries the IVF tier
    * cannot. The entry probe's scoring volume (the probed cells'
    * occupancy) is the standard IVF serving cost and is NOT counted in
    * `n_visited`, which reports the walk's own candidate volume
    * (stated). With `entryCellCol = None` the legacy fixed entry (the
    * `nEntry` smallest corpus ids — HNSW's fixed entry point,
    * multiplied) is used; the spec pins hierarchical recall ≥ legacy
    * recall at the same walk budget.
    *
    * The serving graph is the round-`graphRounds` descent graph made
    * UNDIRECTED (a reverse edge is what lets a walk enter a node's
    * neighborhood from a node that chose IT — the Dong et al. general-
    * neighbor insight applied at query time), then degree-capped back to
    * `2k` best-scored edges per node so a popularity hub can't make a
    * hop fan out unboundedly — the cap is what keeps per-hop cost
    * ≤ |Q|·beam·2k rows at ANY corpus size.
    *
    * Report: one row per (query, rank ≤ k) hit with its cosine (4dp, the
    * family contract), whether the exact brute-force tier agrees
    * (`is_hit` vs [[exactTopKFlags]] — the recall readout, directly
    * comparable to the IVF tier's q262 curve), and the query's visited-
    * set size (the candidate-volume cost of the walk; entry self rows
    * included, stated).
    *
    * Scale shape: every pipeline stage after the (StageCache-shared)
    * graph build is |Q|-bounded — entry cross is |Q|·nEntry, each hop
    * expands ≤ beam nodes per query through ≤ 2k edges, visited stays
    * ≤ nEntry + hops·beam·2k rows per query, and each hop ends in a
    * localCheckpoint so `hops` rounds never grow the plan. The corpus
    * appears only through the staged projection (scoring joins are
    * id-keyed equi joins against it), never in a cross. */
  def graphAnnBeamSearch(corpus: DataFrame, idCol: String, embCol: String,
                         queries: DataFrame, k: Int = 5, beam: Int = 4,
                         hops: Int = 3, nEntry: Int = 4,
                         graphRounds: Int = 3, nPlanes: Int = 4,
                         dim: Int = 64,
                         entryCellCol: Option[String] = None,
                         nprobe: Int = 2): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 1 && nEntry >= 1 &&
      graphRounds >= 1 && graphRounds <= 4,
      s"need k,beam,hops,nEntry>=1, graphRounds in [1,4]; " +
        s"got $k,$beam,$hops,$nEntry,$graphRounds")
    require(entryCellCol.isEmpty || (nprobe >= 1 && nEntry % nprobe == 0),
      s"hierarchical entry needs nprobe >= 1 dividing nEntry; " +
        s"got nEntry=$nEntry nprobe=$nprobe")
    val base = knnBaseKey(corpus, idCol, embCol, nPlanes, dim)
    val (c, seed) = knnSeed(corpus, idCol, embCol, k, nPlanes, dim)
    // Ride the SAME round-keyed cache entries as the q280 trajectory:
    // in a shared session the serving graph is free after q280 ran.
    var g = seed
    for (r <- 1 to graphRounds) g = descentRound(c, g, k, r, s"$base:descent:$k:$r")
    val serve = StageCache.getOrStage(s"$base:serve:$k:$graphRounds") {
      val und = g.unionAll(g.select(col("nid").as("id"), col("id").as("nid")))
        .distinct()
      val scored = und
        .join(c.select(col("id"), col("emb"), col("nrm")), Seq("id"))
        .join(c.select(col("id").as("nid"), col("emb").as("n_emb"),
          col("nrm").as("n_nrm")), Seq("nid"))
        .select(col("id"), col("nid"),
          cosScore(dot(col("emb"), col("n_emb")), col("nrm"), col("n_nrm"))
            .as("escore"))
      graft.operators.Skew.saltedTopKPerGroup(scored, Seq("id"),
          Seq(col("escore").desc, col("nid")), 2 * k, salts = 8)
        .select("id", "nid")
        .stage("graphAnn:serve") // read by every hop's expansion join
    }
    // The query projection and the ENTRY-score relation are both
    // beam-independent, so the q310 sweep's three legs (and q304) share
    // them: before r17 every leg re-staged the projection and re-ran
    // the entry probe (its scoring job is the per-leg constant cost).
    val qKey = StageCache.keyFor(queries, "annq", idCol, embCol)
    val q = StageCache.getOrStage(qKey) {
      queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        l2norm(col(embCol)).as("q_nrm")).stage("graphAnn:queries") // read per hop
    }
    def score(cand: DataFrame): DataFrame = cand
      .join(c.select(col("id").as("nid"), col("emb").as("n_emb"),
        col("nrm").as("n_nrm")), Seq("nid"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nid"),
        cosScore(dot(col("q_emb"), col("n_emb")), col("q_nrm"), col("n_nrm"))
          .as("score"))
    // Entry pairs (query_id, nid). A query that IS an entry node scores
    // itself 1.0 and expands its own neighborhood — wanted for
    // more-like-this; the self row is excluded from the final ranking
    // only.
    val entryPairs = entryCellCol match {
      case None =>
        // legacy fixed entry: every query starts at the same nEntry
        // smallest corpus ids
        val entry = c.orderBy("id").limit(nEntry).select(col("id").as("nid"))
        q.select("query_id").crossJoin(broadcast(entry))
      case Some(cc) =>
        val perCell = nEntry / nprobe
        val cents = cellCentroids(corpus, cc, embCol) // q49's cache key
          .withColumn("cnrm", sqrt(dotD(col("centroid"), col("centroid"))))
        val probed = topK(q.crossJoin(broadcast(cents))
          .select(col("query_id"), col("cell").as("__cell"),
            cosScore(dotD(col("q_emb").cast("array<double>"), col("centroid")),
              col("q_nrm"), col("cnrm")).as("pscore")),
            Seq("query_id"), byScore("pscore", "__cell"), nprobe, "prk")
          .join(broadcast(q), Seq("query_id"))
          .select("query_id", "__cell", "q_emb", "q_nrm")
        // the q49 IVF probe as entry selection: score only the probed
        // cells' members against the query (equi join on the cell key —
        // bounded by cell occupancy, never the corpus) and enter at
        // each probed cell's perCell best
        val members = c
          .join(corpus.select(col(idCol).as("id"), col(cc).as("__cell")),
            Seq("id"))
          .select(col("__cell"), col("id").as("nid"),
            col("emb").as("n_emb"), col("nrm").as("n_nrm"))
        topK(members.join(broadcast(probed), Seq("__cell"))
          .select(col("query_id"), col("__cell"), col("nid"),
            cosScore(dot(col("q_emb"), col("n_emb")), col("q_nrm"),
              col("n_nrm")).as("escore")),
            Seq("query_id", "__cell"), byScore("escore", "nid"), perCell, "erk")
          .select("query_id", "nid")
    }
    val entryScored = StageCache.getOrStage(
        s"$base:annentry:$qKey:$nEntry:${entryCellCol.getOrElse("-")}:" +
          s"$nprobe") {
      score(entryPairs).stage("graphAnn:entry")
    }
    // Per hop only the DELTA (newly scored candidates) checkpoints;
    // `visited` stays a lazy union over the staged layers (the BFS
    // posture) — re-checkpointing the whole visited set per hop
    // re-materialized every prior layer's rows each round.
    var layers = Vector(entryScored)
    def visited: DataFrame = layers.reduce(_ unionAll _)
    for (h <- 1 to hops) {
      val beamSet = topK(visited, Seq("query_id"), byScore("score", "nid"),
          beam, "brk")
        .select(col("query_id"), col("nid").as("id"))
      val expanded = beamSet.join(serve, Seq("id"))
        .select(col("query_id"), col("nid")).distinct()
        // only genuinely NEW candidates are rescored; already-visited
        // rows rejoin via the union below
        .join(visited.select("query_id", "nid"), Seq("query_id", "nid"),
          "left_anti")
      layers = layers :+ score(expanded).stage(s"graphAnn:r$h")
    }
    val nv = visited.groupBy("query_id").agg(count(lit(1)).as("n_visited"))
    val exact = exactTopKFlags(corpus, queries, idCol, embCol, k)
      .select(col("query_id"), col("neighbor_id").as("nid"),
        col("hit").as("is_hit"))
    topK(visited.filter(col("nid") =!= col("query_id")), Seq("query_id"),
        byScore("score", "nid"), k)
      .join(exact, Seq("query_id", "nid"), "left")
      .join(broadcast(nv), Seq("query_id"))
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("nid").as("neighbor_id"), col("score"),
        coalesce(col("is_hit"), lit(0)).cast("int").as("is_hit"),
        col("n_visited").cast("long").as("n_visited"))
      .orderBy("query_id", "rank")
  }

  /** BEAM-WIDTH SWEEP of the graph-ANN serving path (q310) — the
    * recall-vs-cost dial of [[graphAnnBeamSearch]], measured (the q262
    * ivfProbeSweep idea applied to the graph tier): one row per beam
    * width with the query count, the TOTAL visited-set volume (the
    * walk's candidate cost — what a serving deployment pays per query),
    * the exact-tier hits over all returned top-k lists, and the recall
    * in exact floor ppm. Widening the beam can only grow each query's
    * visited set, so recall is monotone non-decreasing in the beam —
    * the curve a deployment reads to pick its operating point.
    *
    * Scale shape: every sweep leg re-enters [[graphAnnBeamSearch]],
    * whose graph/serve/exact stages are all StageCache-shared — the
    * corpus-side work is paid once for the whole sweep; each leg adds
    * only its |Q|-bounded walk and a global rollup. */
  def graphAnnBeamSweep(corpus: DataFrame, idCol: String, embCol: String,
                        queries: DataFrame, k: Int = 5,
                        beams: Seq[Int] = Seq(1, 2, 8), hops: Int = 3,
                        nEntry: Int = 4, graphRounds: Int = 3,
                        entryCellCol: Option[String] = None,
                        nprobe: Int = 2): DataFrame = {
    require(beams.nonEmpty && beams.forall(_ >= 1), s"bad beams: $beams")
    beams.sorted.map { b =>
      graphAnnBeamSearch(corpus, idCol, embCol, queries, k, b, hops,
          nEntry, graphRounds, entryCellCol = entryCellCol, nprobe = nprobe)
        .groupBy("query_id")
        .agg(max("n_visited").as("nv"), sum("is_hit").as("h"),
          count(lit(1)).as("nr"))
        .agg(count(lit(1)).as("n_queries"),
          sum("nv").as("n_visited_total"),
          sum("h").as("n_hits"), sum("nr").as("n_results"))
        .select(lit(b).cast("int").as("beam"),
          col("n_queries").cast("long").as("n_queries"),
          col("n_visited_total").cast("long").as("n_visited_total"),
          col("n_hits").cast("long").as("n_hits"),
          col("n_results").cast("long").as("n_results"),
          expr(s"CASE WHEN n_queries = 0 THEN 0 " +
            s"ELSE n_hits * 1000000 div (n_queries * $k) END")
            .as("recall_ppm"))
    }.reduce(_ unionAll _).orderBy("beam")
  }
}
