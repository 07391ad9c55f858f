package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Tables.fanOut
import graft.operators.Stage
import graft.operators.Stage.StageOps

/** Near-duplicate detection for a training-data pipeline: exact
  * (normalized-hash) dedup, n-gram Jaccard, MinHash+LSH, and SimHash.
  * Extension surface beyond the reference (BASELINE.json north star) over
  * the `documents` table.
  *
  * Scale posture — the four tiers trade exactness for join volume:
  *  - exact: one hash aggregation on the normalized text. O(N).
  *  - n-gram Jaccard: inverted-index self-join on shingles; cost is
  *    Σ_shingle n_s², so it is reserved for verification of candidate
  *    pairs or low-frequency shingle spaces.
  *  - MinHash+LSH: the 100 TB path — shingles are hashed to longs at the
  *    scan (the shuffle carries 16-byte rows, never strings), the whole
  *    16-hash signature is computed in ONE doc-keyed aggregation (16
  *    `min` aggregates — no row multiplication), banding shrinks the
  *    self-join to signature collisions, and exact Jaccard verifies just
  *    the candidates.
  *  - SimHash: constant per-doc state (one 32-bit fingerprint over word
  *    bigram features), candidate pairs from byte-band collisions,
  *    Hamming-distance verify.
  *
  * All hashing is integer arithmetic from [[TextOps]] — deterministic
  * across engines and shuffle orders, so every operator is oracle-checked
  * value-for-value, not just row-counted.
  */
object TextDedup {
  import TextOps._

  /** Fixed MinHash permutations `h_j(x) = (a_j·x + b_j) mod 2^31-1`,
    * 16 hashes banded 4×4 (b=4 bands, r=4 rows → s-curve threshold ≈0.7).
    * (j, band, slot, a, b, weight = 31^slot). The a/b constants live in
    * [[graft.functions.GraftTextKernels]] (the codegen'd kernel is the
    * source of truth; this table, the aggregation formulation below, and
    * the oracle CTE generator all derive from the same arrays — no
    * drift). */
  val Perms: Seq[(Int, Int, Int, Long, Long, Long)] =
    (0 until 16).map { j =>
      (j, j / 4, j % 4, graft.functions.GraftTextKernels.MinhashA(j),
        graft.functions.GraftTextKernels.MinhashB(j),
        Seq(1L, 31L, 961L, 29791L)(j % 4))
    }

  /** Exact dedup: group documents by `xxhash64` of the normalized text,
    * keep the minimum id as the canonical representative. The shuffle
    * carries an 8-byte key + 12 bytes of aggregation state instead of the
    * whole document — the difference between shuffling ~20 B/doc and
    * shuffling the corpus at 100 TB. A 64-bit collision merging two
    * distinct documents needs ~2³² docs for even-odds (birthday bound);
    * the normalized length rides along as aggregation state, not as a
    * group key. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normText(col(textCol))
    fanOut(docs)
      .select(col(idCol).as("id"), xxhash64(norm).as("h"), length(norm).as("len"))
      .groupBy("h")
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_copies"),
        min(col("len")).as("n_chars_norm"))
      .select(col("rep_id"), col("n_copies"), col("n_chars_norm"))
  }

  /** Distinct (doc, char-k-gram shingle HASH) pairs — the inverted-index
    * input shared by MinHash and its Jaccard verification. Shingles are
    * hashed to longs BEFORE the distinct so the shuffle carries fixed
    * 16-byte rows; set semantics are over hash values on both engines
    * (collisions, p≈2⁻³¹ per doc-pair, affect Spark and the oracle
    * identically). */
  def docShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8): DataFrame =
    docShingleHashesRaw(docs, idCol, textCol, k).distinct()

  /** (doc, shingle hash) pairs WITH duplicates — a pure narrow
    * projection fused with the scan (no shuffle), computed by the native
    * [[graft.functions.ShingleHashes]] kernel (one codegen'd pass per
    * row; the HOF formulation evaluated interpreted and allocated a
    * string per shingle). Min-aggregation consumers (MinHash signatures)
    * use this directly: a duplicate shingle cannot change a `min`, so
    * paying a corpus-wide distinct shuffle before the signature
    * aggregation would be wasted motion. */
  private[ext] def docShingleHashesRaw(docs: DataFrame, idCol: String,
                                       textCol: String, k: Int): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        explode(graft.functions.TextKernelOps.shingleHashes(
          normText(col(textCol)), k)).as("hv"))

  /** Distinct (doc, word-n-gram HASH) pairs — the exact tier's index
    * with 8-byte elements: n-gram strings never leave the row
    * (hash-before-distinct, the same idiom as [[docShingleHashes]]; a
    * full-length 31-Horner hash mod 2³¹-1, so collisions p≈2⁻³¹ per doc
    * pair hit Spark and the oracle identically). */
  def docWordShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        explode(graft.functions.TextKernelOps.wordNgramHashFull(
          normText(col(textCol)), n)).as("hv"))
      .distinct()

  /** Edit-distance verification of the LSH candidate tier (q119): the
    * fuzzy-dup read Jaccard misses — two texts can share most shingles
    * yet differ by scattered single-character edits, and vice versa.
    * Candidates come from the same MinHash band collisions as q34 (the
    * bounded sliver); the texts travel ONLY for that sliver (two
    * doc_id-keyed joins, AQE broadcasts the pair side), and the distance
    * is one per-pair expression. Both engines compute edit distance on
    * the ASCII projection of the normalized text: DuckDB's levenshtein
    * counts BYTES where Spark counts CHARACTERS, so any non-ASCII
    * character would diverge — projecting to the printable-ASCII range
    * makes bytes ≡ chars. Similarity is tie-proof fixed-point. */
  def fuzzyPairs(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8): DataFrame = {
    val bands = minhashBands(docs, idCol, textCol, k).stage("fuzzyPairs:bands")
    val cands = bands
      .select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val txt = docs.select(col(idCol).as("doc_id"),
      regexp_replace(normText(col(textCol)), "[^ -~]", "").as("ta"))
    cands
      .join(txt.select(col("doc_id").as("doc_a"), col("ta").as("t_a")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("ta").as("t_b")), Seq("doc_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .withColumn("maxlen",
        greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("dist"),
        when(col("maxlen") === 0, lit(1.0))
          .otherwise(expr("CAST((maxlen - dist) * 10000 div maxlen AS DOUBLE)/10000.0"))
          .as("similarity"))
      .orderBy("doc_a", "doc_b")
  }

  /** Sorted-neighborhood dedup (q191, Hernández–Stolfo SNM re-expressed
    * for a distributed engine): sort documents by their 32-bit SimHash
    * fingerprint and compare each only to its `window−1` successors in
    * that order — near-duplicates have near-equal fingerprints, so they
    * land adjacent and the candidate count is a FLAT (window−1)·N
    * regardless of cluster sizes. That linear bound is the property the
    * banding tiers (q34/q35) cannot give: a pathological cluster of m
    * near-identical boilerplate docs costs m² candidate rows under any
    * collision scheme but only (window−1)·m under SNM, at the price of
    * recall when a cluster outgrows the window. Candidates are then
    * VERIFIED by exact word-n-gram Jaccard (the q33 math) over the
    * candidate sliver only.
    *
    * The global sort is blocked for the engine: the fingerprint's top 8
    * bits partition the order (256 blocks), the neighborhood window runs
    * INSIDE each block (a keyed window, no single-task global sort), and
    * pairs straddling a block boundary are forfeited — ~(window−1)/N per
    * block of the candidate mass, the standard blocked-SNM tradeoff and
    * exactly reproducible in the oracle (same blocking, same forfeits).
    *
    * Scale shape: fingerprints are a scan-side kernel projection; the
    * only corpus-wide exchanges are the 256-way block partition (8-byte
    * fp + id rows) and the shingle joins RESTRICTED to candidate pairs
    * (two id-keyed joins over the (window−1)·N sliver); set sizes ride
    * the index the verification needs anyway. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              window: Int = 4, n: Int = 3,
                              threshold: Double = 0.5): DataFrame = {
    require(window >= 2 && window <= 64, s"window out of [2,64]: $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy(col("fp"), col("doc_id"))
    val cands = simhashFingerprints(docs, idCol, textCol)
      .withColumn("block", shiftright(col("fp"), 24).cast("int"))
      .withColumn("nbs",
        array((1 until window).map(i => lead(col("doc_id"), i).over(w)): _*))
      .select(col("doc_id").as("a"), explode(col("nbs")).as("b"))
      .filter(col("b").isNotNull)
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
      .distinct()
    val sh = docWordShingleHashes(docs, idCol, textCol, n)
      .stage("sortedNeighborhoodPairs:shingles")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("hv")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hv")), Seq("doc_b", "hv"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    finishJaccard(inter, sizes, threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document shingle novelty (q110): the fraction of a document's
    * word-n-gram shingles that appear NOWHERE else in the corpus
    * (document frequency 1) — the inverse of the containment/Jaccard
    * family: high novelty marks original content, low novelty marks
    * boilerplate and near-copies, and curation pipelines read it to
    * up-weight fresh material. Unlike the pair tiers this needs NO df
    * cap: the df aggregation is keyed by the 8-byte hash and the join
    * back is 1:1 per (doc, shingle) row — linear, never quadratic, at
    * any corpus size. Ratios are tie-proof fixed-point floor division.
    * Documents with fewer than n words have no shingles and are absent
    * (the oracle's empty range does the same). */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    // Both the df aggregation and the join read the index, so stage it
    // once (the q33/q95 idiom): text is normalized and hashed exactly
    // once, and only (doc_id, hv) longs are ever re-read.
    val sh = docWordShingleHashes(docs, idCol, textCol, n).stage("shingleNovelty:shingles")
    val df = sh.groupBy("hv").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("hv"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        expr("CAST(n_novel * 1000000 div n_shingles AS DOUBLE) / 1000000.0"))
      .orderBy("doc_id")
  }

  /** Default document-frequency cap for the exact inverted-index tier: a
    * shingle present in more documents than this is dropped from the
    * shingle space on BOTH sides of the comparison (sizes and
    * intersections). Without a cap the self-join cost is Σ_shingle n_s² —
    * one hot shingle (a boilerplate phrase) creates a quadratic posting
    * join that no amount of cluster buys back at 100 TB. Hot shingles
    * also carry no dedup signal (they match everything), so df-capping is
    * standard corpus-dedup practice. The oracle SQL mirrors the cap. */
  val DefaultMaxDf = 64

  /** Pairwise Jaccard ≥ threshold over a (doc_id, sh) shingle relation:
    * df-cap the shingle space, inverted-index self-join on the shingle,
    * intersection counts, set sizes, `|A∩B| / (|A|+|B|-|A∩B|)`. Emits
    * (doc_a < doc_b, jaccard). Jaccard is computed over the CAPPED
    * shingle space (sizes and intersections both exclude hot shingles),
    * so the definition stays internally consistent.
    *
    * The pair join runs only over SHARED shingles (document frequency in
    * [2, maxDf]): a df-1 shingle — the vast majority of a
    * high-cardinality n-gram space — cannot produce a pair, but still
    * counts toward its document's set size. The df relation exists
    * anyway for the cap, so the restriction costs one semi join that
    * reuses the index's shingle partitioning, and the self-join input
    * drops from the whole index to its co-occurring sliver. Result set
    * is provably unchanged, so the oracle keeps the plain
    * all-pairs-over-capped-space form. */
  def jaccardPairs(shingles: DataFrame, shCol: String, threshold: Double,
                   maxDf: Int = DefaultMaxDf): DataFrame = {
    val (inter, sizes) = pairIntersections(shingles, shCol, maxDf)
    finishJaccard(inter, sizes, threshold)
  }

  /** Shared candidate machinery of the exact inverted-index tier:
    * df-capped shingle space → per-doc set sizes → shared-shingle
    * (df∈[2,maxDf]) posting self-join → (doc_a < doc_b, n_inter).
    * Both the symmetric (Jaccard) and asymmetric (containment)
    * finishers consume this same pair. */
  private def pairIntersections(shingles: DataFrame, shCol: String,
                                maxDf: Int): (DataFrame, DataFrame) = {
    // The raw index feeds the df aggregation, the size branch, and the
    // pair branch — stage it ONCE instead of re-exploding the corpus per
    // branch (at warehouse scale this materialization is a staging
    // table). Staged rather than persist(): blocks are reclaimed by
    // the ContextCleaner when the plan is GC'd, so a long-lived session
    // doesn't accumulate pinned cache per call.
    val raw = shingles.stage("pairIntersections:shingles")
    // One df pass serves both the hot cap and the shared-shingle
    // restriction. Count-only state, so a pathological boilerplate
    // shingle partial-aggregates to a counter, never to a posting list.
    val dfs = raw.groupBy(shCol).agg(count(lit(1)).as("df")).stage("pairIntersections:df")
    val hot = dfs.filter(col("df") > maxDf).select(shCol)
    val sizes = raw.join(broadcast(hot), Seq(shCol), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = dfs.filter(col("df").between(2, maxDf)).select(shCol)
    val sh = raw.join(shared, Seq(shCol), "left_semi")
    val a = sh.select(col("doc_id").as("doc_a"), col(shCol))
    val b = sh.select(col("doc_id").as("doc_b"), col(shCol))
    val inter = a.join(b, Seq(shCol))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    (inter, sizes)
  }

  /** Asymmetric CONTAINMENT pairs: |A∩B| / |A| and |A∩B| / |B| over the
    * same df-capped shingle space as [[jaccardPairs]]. Containment is
    * the subset/quotation detector Jaccard misses: a short document
    * fully embedded in a long one has tiny Jaccard (union is dominated
    * by the long side) but containment ≈ 1 on the short side — the
    * standard supplement for curation pipelines that must drop quoted
    * or concatenated near-copies (cf. suffix-array containment in
    * public dedup literature). A pair is emitted when EITHER side's
    * containment clears the threshold; both directions are reported so
    * the caller can tell container from contained. Cost: identical to
    * the Jaccard tier — same index, same df cap, same shared-shingle
    * restriction, so the 100 TB posture is unchanged. */
  def containmentPairs(shingles: DataFrame, shCol: String, threshold: Double,
                       maxDf: Int = DefaultMaxDf): DataFrame = {
    val (inter, sizes) = pairIntersections(shingles, shCol, maxDf)
    val ca = col("n_inter").cast("double") / col("na")
    val cb = col("n_inter").cast("double") / col("nb")
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(greatest(ca, cb) >= threshold)
      // Fixed-point floor division (the q90 idiom): the ratio of exact
      // counts can land on a rounding half-tie that ROUND splits
      // differently across engines; all-integer floor cannot.
      .select(col("doc_a"), col("doc_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("n_inter"),
        expr("CAST(n_inter * 10000 div na AS DOUBLE) / 10000.0").as("contain_a"),
        expr("CAST(n_inter * 10000 div nb AS DOUBLE) / 10000.0").as("contain_b"))
  }

  /** Word-n-gram containment near-dup pairs — [[containmentPairs]] over
    * the hashed word-n-gram index of [[docWordShingleHashes]] (8-byte
    * longs on the wire, never n-gram strings). */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, threshold: Double = 0.6,
                            maxDf: Int = DefaultMaxDf): DataFrame =
    containmentPairs(docWordShingleHashes(docs, idCol, textCol, n), "hv",
      threshold, maxDf)

  private def finishJaccard(inter: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame = {
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** LSH CANDIDATE-TIER EVALUATION (q244) — the S-curve readout of the
    * MinHash banding scheme: band-collision candidate pairs (the
    * [[minhashBands]] tier BEFORE exact verification) measured against
    * the df-capped exact char-`k`-gram Jaccard ground truth (the
    * engine's declared exact semantics, q33/q95's capped space), one
    * row per threshold. Precision@t = fraction of candidates that are
    * true ≥ t pairs; recall@t = fraction of true ≥ t pairs that collide
    * in ≥ 1 band — the two numbers that pick bands×rows for a target
    * threshold (Leskovec et al., MMDS ch. 3). The q34 pairs tier
    * verifies candidates exactly, so ITS precision is 1 by
    * construction; this evaluates the part that actually trades recall
    * for cost. P/R/F1 in exact floor ppm, 0 when the denominator is 0
    * (the q235 zero_division convention).
    *
    * Scale shape: band self-join on (band, band_hash) (4 narrow rows
    * per doc), exact tier from ONE staged shared-shingle
    * inverted-index pass (df ∈ [2, maxDf] restriction — pair volume
    * df-capped); per threshold only pair-sized relations are
    * re-filtered, and every output row is built from scalar
    * aggregates. */
  /** The staged (doc_a, doc_b, n_inter, na, nb, u) exact-Jaccard pair
    * relation over df-capped char-`k`-gram shingles — shared by the
    * q244 candidate eval and the q248 threshold sweep (one inverted-
    * index pass serves every threshold filter downstream). */
  private def jaccardJoined(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, maxDf: Int): DataFrame =
    StageCache.getOrStage(
        StageCache.keyFor(docs, "jacjoined", idCol, textCol, k, maxDf)) {
      val (inter, sizes) = pairIntersections(
        docShingleHashes(docs, idCol, textCol, k), "hv", maxDf)
      Stage.local(inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          Seq("doc_b"))
        .withColumn("u", col("na") + col("nb") - col("n_inter")), "jaccardJoined:inter")
    }

  /** DEDUP THRESHOLD SWEEP (q248) — "how much would we drop at θ": for
    * each Jaccard threshold, the exact pair count, the documents
    * dropped under the keep-first rule (drop every doc that duplicates
    * a SMALLER-id doc — doc_b of any ≥ θ pair, the q124 winner
    * convention), and the token volumes dropped/kept — the curve a
    * curation pipeline reads to pick its dedup aggressiveness against
    * its token budget. All thresholds filter ONE staged pair relation
    * (one inverted-index pass); token totals come from one scan-side
    * doc-keyed projection.
    *
    * Scale shape: pair volume df-capped as in the whole dedup family;
    * per threshold only pair-sized relations are re-filtered; every
    * output row is scalar aggregates over those slivers. */
  def dedupThresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8,
                          thresholds: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.9),
                          maxDf: Int = DefaultMaxDf): DataFrame = {
    require(thresholds.nonEmpty, "need >= 1 threshold")
    val joined = jaccardJoined(docs, idCol, textCol, k, maxDf)
    val toks = docs.select(col(idCol).as("doc_id"),
        size(tokens(normText(col(textCol)))).cast("long").as("n_tokens"))
      .stage("dedupThresholdSweep:tokens")
    val tot = toks.agg(count(lit(1)).as("total_docs"),
      sum("n_tokens").as("total_tokens"))
    val rows = thresholds.sorted.map { th =>
      val pairs = joined
        .filter(col("n_inter").cast("double") / col("u") >= th)
      val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
      val dropStats = pairs.select(col("doc_b").as("doc_id")).distinct()
        .join(toks, Seq("doc_id"))
        .agg(count(lit(1)).as("n_dropped"),
          coalesce(sum("n_tokens"), lit(0L)).as("dropped_tokens"))
      nPairs.crossJoin(broadcast(dropStats)).crossJoin(broadcast(tot))
        .select(lit(math.round(th * 1e6)).as("threshold_ppm"),
          col("n_pairs"), col("n_dropped"), col("dropped_tokens"),
          (col("total_docs") - col("n_dropped")).as("kept_docs"),
          (col("total_tokens") - col("dropped_tokens")).as("kept_tokens"))
    }
    rows.reduce(_ unionAll _)
      .select(col("threshold_ppm").cast("long").as("threshold_ppm"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_dropped").cast("long").as("n_dropped"),
        col("dropped_tokens").cast("long").as("dropped_tokens"),
        col("kept_docs").cast("long").as("kept_docs"),
        col("kept_tokens").cast("long").as("kept_tokens"))
      .orderBy("threshold_ppm")
  }

  def lshCandidateEval(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, thresholds: Seq[Double] = Seq(0.5, 0.8),
                       maxDf: Int = DefaultMaxDf): DataFrame = {
    require(thresholds.nonEmpty, "need >= 1 threshold")
    val (_, cands) = lshBandsAndCands(docs, idCol, textCol, k)
    val joined = jaccardJoined(docs, idCol, textCol, k, maxDf)
    val nCand = cands.agg(count(lit(1)).as("n_cand"))
    val rows = thresholds.sorted.map { th =>
      val ex = joined
        .filter(col("n_inter").cast("double") / col("u") >= th)
        .select("doc_a", "doc_b")
      val nEx = ex.agg(count(lit(1)).as("n_exact"))
      val nHit = ex.join(cands, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nEx.crossJoin(broadcast(nHit)).crossJoin(broadcast(nCand))
        .select(lit(math.round(th * 1e6)).as("threshold_ppm"),
          col("n_exact"), col("n_cand"), col("n_hit"))
    }
    rows.reduce(_ unionAll _)
      .withColumn("precision_ppm",
        when(col("n_cand") === 0, 0L)
          .otherwise(expr("n_hit * 1000000 div n_cand")))
      .withColumn("recall_ppm",
        when(col("n_exact") === 0, 0L)
          .otherwise(expr("n_hit * 1000000 div n_exact")))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") === 0, 0L)
          .otherwise(expr(
            "2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)")))
      .select(col("threshold_ppm").cast("long").as("threshold_ppm"),
        col("n_exact").cast("long").as("n_exact"),
        col("n_cand").cast("long").as("n_cand"),
        col("n_hit").cast("long").as("n_hit"),
        col("precision_ppm").cast("long").as("precision_ppm"),
        col("recall_ppm").cast("long").as("recall_ppm"),
        col("f1_ppm").cast("long").as("f1_ppm"))
      .orderBy("threshold_ppm")
  }

  /** Word-n-gram Jaccard near-dup pairs (direct inverted-index join — the
    * exact tier, df-capped so no posting list exceeds `maxDf`; word
    * n-gram spaces are high-cardinality so the cap rarely bites, but it
    * bounds the worst case at any scale). The index carries n-gram
    * HASHES, so the distinct and the posting self-join shuffle 8-byte
    * longs, never the n-gram strings. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Int = DefaultMaxDf): DataFrame =
    jaccardPairs(docWordShingleHashes(docs, idCol, textCol, n), "hv", threshold, maxDf)

  /** MinHash band hashes computed AT THE SCAN: (doc_id, band, band_hash),
    * one row per doc per band, from the codegen'd
    * [[graft.functions.MinHashBandHashes]] kernel — the whole 16-hash
    * signature and its 4 band hashes are a per-row projection, so no
    * (doc, shingle-hash) relation is ever shuffled to build the collision
    * index. Docs shorter than k shingle to an empty array and emit no
    * band rows, matching the aggregation form's absent group. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextKernelOps.minhashBandHashes(
          normText(col(textCol)), k)))
      .select(col("doc_id"), col("pos").cast("int").as("band"),
        col("col").as("band_hash"))

  /** The pre-kernel formulation of [[minhashBands]] — a single doc-keyed
    * aggregation with 16 `min` columns over the (doc, shingle-hash)
    * index, then band assembly. Kept as the executable REFERENCE of the
    * signature math: a parity spec pins the scan-side kernel to this
    * value-for-value, which is also what ties the kernel to the oracle
    * SQL (generated from the same [[Perms]] table). */
  private[ext] def minhashBandsFromIndex(hashed: DataFrame): DataFrame = {
    val minCols = Perms.map { case (j, _, _, a, b, _) =>
      min((col("hv") * lit(a) + lit(b)) % lit(HashP)).as(s"mh_$j")
    }
    val sig = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandStructs = Perms.groupBy(_._2).toSeq.sortBy(_._1).map { case (band, ps) =>
      val bandHash = ps.map { case (j, _, _, _, _, w) => col(s"mh_$j") * lit(w) }
        .reduce(_ + _)
      struct(lit(band).as("band"), bandHash.as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Source-level MinHash similarity matrix (q165): one 16-hash MinHash
    * signature PER SOURCE over the union of its documents' shingle sets
    * (a min over docs of per-doc mins IS the min over the union — the
    * signature of a source is exactly the signature of its merged
    * corpus), then pairwise estimated Jaccard = matching-hash fraction.
    * The corpus collapses to |sources|×16 integers in ONE source-keyed
    * aggregation straight off the scan-side shingle kernel (duplicates
    * can't change a min — no distinct shuffle); the pair stage compares
    * signature rows only, quadratic ONLY in the metadata-scale source
    * count. Estimates are k=16 Bernoulli draws: exact multiples of
    * 1/16, bit-identical across engines. */
  def sourceMinhashSimilarity(docs: DataFrame, srcCol: String,
                              textCol: String, k: Int = 8): DataFrame = {
    val sh = fanOut(docs).select(col(srcCol).as("source"),
      explode(graft.functions.TextKernelOps.shingleHashes(
        normText(col(textCol)), k)).as("hv"))
    val minCols = Perms.map { case (j, _, _, a, b, _) =>
      min((col("hv") * lit(a) + lit(b)) % lit(HashP)).as(s"mh_$j")
    }
    val sig = sh.groupBy("source").agg(minCols.head, minCols.tail: _*)
    val other = sig.columns.foldLeft(sig) { (d, c) =>
      d.withColumnRenamed(c, if (c == "source") "source_b" else s"${c}_b")
    }
    val matches = Perms.map { case (j, _, _, _, _, _) =>
      when(col(s"mh_$j") === col(s"mh_${j}_b"), 1).otherwise(0)
    }.reduce(_ + _)
    sig.join(broadcast(other), col("source") < col("source_b"))
      .select(col("source").as("source_a"), col("source_b"),
        matches.cast("int").as("n_matching"))
      .withColumn("est_similarity", col("n_matching").cast("double") / 16.0)
      .orderBy("source_a", "source_b")
  }

  /** KMV (k-minimum-values) distinct sketches per source and the pairwise
    * SET-OPERATION estimates they support — |A|, |B|, |A∪B|, |A∩B| in
    * ABSOLUTE shingle counts — which the [[sourceMinhashSimilarity]]
    * matrix (Jaccard ratios only, k=16 resolution) cannot produce.
    * The KMV estimator: hash every distinct value to a uniform point on
    * [0, P) via the full-range affine H(x) = ((x mod P)·2654435761 + 97)
    * mod P; the k-th smallest hash m_k of a set of D distinct values
    * sits near k·P/D, so D̂ = (k−1)·P div m_k (the unbiased form). The
    * k smallest of S_A ∪ S_B are exactly the k smallest of A ∪ B, so
    * the union sketch merges by sort-and-truncate, and
    * |A∩B| ≈ ρ·|A∪B| with ρ = |U ∩ S_A ∩ S_B| / k. Sources whose
    * sketch holds fewer than k hashes are EXACT (the sketch is the
    * whole set) — the CASE arms make small sources error-free instead
    * of noisy.
    *
    * Every step is integer arithmetic, so the estimates are
    * engine-reproducible and the oracle re-derives them value-for-value
    * — the property no engine-native HLL/theta sketch offers.
    *
    * Scale: ONE distinct-collapse of (source, hash) 16-byte rows is the
    * only corpus-wide shuffle (the scan-side kernel hashes shingles
    * before anything moves). The per-source k-smallest ranking is the
    * salted grouped top-k ([[graft.operators.Skew.saltedTopKPerGroup]])
    * over the already-collapsed distinct rows — never a
    * source-partitioned window, which would sort a source's whole
    * distinct-shingle set in one task; when per-source distinct counts
    * dwarf k, additionally pre-gate with `h < P div t` for a t chosen
    * so ~k·t survivors remain (the q176 hash-range-slice trick). The
    * pair stage is quadratic only in the metadata-scale source count,
    * carrying k longs per source.
    * Raise k for precision (rsd ≈ 1/√(k−2)), never for corpus size. */
  def kmvSourceSetOps(docs: DataFrame, srcCol: String, textCol: String,
                      shingleK: Int = 8, k: Int = 128): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val kk = lit(k)
    val h = fanOut(docs).select(col(srcCol).as("source"),
        explode(graft.functions.TextKernelOps.shingleHashes(
          normText(col(textCol)), shingleK)).as("hv"))
      .select(col("source"),
        (((col("hv") % lit(HashP)) * lit(2654435761L) + lit(97L)) % lit(HashP))
          .as("h"))
      .distinct()
    // k smallest hashes per source via the salted grouped top-k — a
    // source-partitioned rank window would sort a source's whole
    // distinct-shingle set (corpus-scale) in one task; output-identical
    // under the total order (h is distinct per source)
    val sk = graft.operators.Skew.saltedTopKPerGroup(h, Seq("source"),
        Seq(col("h").asc), k, salts = 8)
      .groupBy("source")
      .agg(sort_array(collect_list(col("h"))).as("sk"))
      .withColumn("n", size(col("sk")).cast("long"))
      .withColumn("est", when(col("n") < kk, col("n"))
        .otherwise(expr(s"${(k - 1).toLong * HashP}L div element_at(sk, $k)")))
    val other = sk.columns.foldLeft(sk) { (d, c) =>
      d.withColumnRenamed(c, s"${c}_b")
    }
    sk.join(broadcast(other), col("source") < col("source_b"))
      .withColumn("u",
        slice(array_sort(array_distinct(concat(col("sk"), col("sk_b")))), 1, k))
      .withColumn("nu", size(col("u")).cast("long"))
      .withColumn("est_union", when(col("nu") < kk, col("nu"))
        .otherwise(expr(s"${(k - 1).toLong * HashP}L div element_at(u, $k)")))
      .withColumn("inter_in_u",
        size(array_intersect(array_intersect(col("u"), col("sk")),
          col("sk_b"))).cast("long"))
      .withColumn("est_inter",
        expr("(inter_in_u * est_union) div nu"))
      .select(col("source").as("source_a"), col("source_b").as("source_b"),
        col("est").as("est_distinct_a"), col("est_b").as("est_distinct_b"),
        col("est_union"), col("est_inter"),
        expr("(inter_in_u * 1000) div nu").as("jaccard_milli"))
      .orderBy("source_a", "source_b")
  }

  /** MinHash+LSH near-dup pairs: band-collision candidates, verified with
    * exact Jaccard on the candidates only. The self-join touches band
    * hashes (4 rows/doc), never the shingle index, and the expensive
    * SET materialization (distinct shingles) happens only for docs that
    * appear in some candidate pair — the 100 TB shape: signature
    * aggregation runs straight off the scan (no distinct shuffle,
    * duplicates can't change a min), and the corpus-wide shingle-set
    * shuffle is replaced by a semi-join down to the near-dup docs. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, threshold: Double = 0.8): DataFrame = {
    val (_, cands) = lshBandsAndCands(docs, idCol, textCol, k)
    val candShingles = lshCandShingles(docs, idCol, textCol, k, cands)
    verifyJaccard(cands, candShingles, threshold)
  }

  /** The staged MinHash band relation and its band-collision candidate
    * pairs — the threshold-INDEPENDENT front half of the LSH tier,
    * [[StageCache]]-memoized because at least six registered queries
    * rebuild it verbatim (q34/q47-clusters/q94/q244/q268/q289/q302; the
    * verify tail differs per caller, the candidate tier never does).
    * Staging notes from the original inline form still hold: bands come
    * from the scan-side kernel (one corpus pass, no shuffle, 4 rows × 3
    * longs per doc); cands feed the verify input AND both candDocs
    * branches. */
  private def lshBandsAndCands(docs: DataFrame, idCol: String,
                               textCol: String, k: Int)
      : (DataFrame, DataFrame) = {
    val base = StageCache.keyFor(docs, "mhlsh", idCol, textCol, k)
    val bands = StageCache.getOrStage(s"$base:bands")(
      minhashBands(docs, idCol, textCol, k).stage("lsh:bands"))
    val cands = StageCache.getOrStage(s"$base:cands")(Stage.local(
      bands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"),
          col("band_hash")), Seq("band", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct(), "lsh:cands"))
    (bands, cands)
  }

  /** Distinct shingle sets materialized ONLY for docs in some candidate
    * pair (threshold-independent, so memoized with the candidate tier).
    * No broadcast hint: near-dup docs are usually a sliver of the corpus
    * (AQE converts to broadcast at runtime), but a pathological corpus
    * where most docs collide must not be forced through one driver.
    * Catalyst pushes the semi-join below the shingle explode, so only
    * candidate docs are ever re-shingled. */
  private def lshCandShingles(docs: DataFrame, idCol: String,
                              textCol: String, k: Int,
                              cands: DataFrame): DataFrame =
    StageCache.getOrStage(
        StageCache.keyFor(docs, "mhlsh", idCol, textCol, k) + ":candsh") {
      val candDocs = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b").as("doc_id")))
        .distinct()
      Stage.local(docShingleHashesRaw(docs, idCol, textCol, k)
        .join(candDocs, Seq("doc_id"), "left_semi")
        .distinct(), "lsh:candShingles")
    }

  /** Cross-source duplicate LEAKAGE report: near-dup pairs (the
    * [[minhashLshPairs]] tier) that span two different source labels,
    * aggregated per unordered source pair — the contamination matrix a
    * curation pipeline reads before deciding which source to keep when
    * mixtures overlap (e.g. the same articles syndicated into two
    * crawls). Each row: the pair of sources, how many verified near-dup
    * document pairs cross them, and the lexicographically-first example
    * pair for triage.
    *
    * Scale: the pair relation is the LSH-verified sliver (never
    * corpus-sized); the source lookup joins the 2-column (doc_id,
    * source) projection against that sliver, which AQE converts to a
    * broadcast of the pair side; the final agg is keyed by source pair
    * (bounded by n_sources²). The corpus text is never re-read. */
  def crossSourceLeakage(docs: DataFrame, idCol: String, textCol: String,
                         srcCol: String, k: Int = 8,
                         threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, k, threshold)
    val src = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        Seq("doc_b"))
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"),
        col("doc_a"), col("doc_b"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("doc_a"), col("doc_b"))).getField("doc_a")
          .as("example_doc_a"),
        min(struct(col("doc_a"), col("doc_b"))).getField("doc_b")
          .as("example_doc_b"))
      .orderBy("source_lo", "source_hi")
  }

  /** INCREMENTAL exact dedup: assign each batch doc to an existing
    * group when its normalized-text hash is already in `state` (one
    * (hash, rep_id) row per known group), else group new hashes within
    * the batch. Returns per-batch-doc assignments plus the extended
    * state — the exact-tier companion of [[minhashLshIncremental]], one
    * broadcast-sized probe join per batch instead of a corpus re-scan.
    * Contract: batch ids disjoint from the corpus'. */
  def exactGroupsIncremental(state: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val hashed = fanOut(batch).select(col(idCol).as("doc_id"),
      xxhash64(normText(col(textCol))).as("h"))
    val assigned = hashed.join(state.select(col("h"), col("rep_id")), Seq("h"), "left")
    val newGroups = assigned.filter(col("rep_id").isNull)
      .groupBy("h").agg(min(col("doc_id")).as("rep_id"))
    val assignments = assigned.filter(col("rep_id").isNotNull)
      .select(col("doc_id"), col("rep_id"), lit(0).as("is_new_group"))
      .unionByName(assigned.filter(col("rep_id").isNull).drop("rep_id")
        .join(newGroups, Seq("h"))
        .select(col("doc_id"), col("rep_id"),
          when(col("doc_id") === col("rep_id"), 1).otherwise(0).as("is_new_group")))
    (assignments, state.unionByName(newGroups.select("h", "rep_id")))
  }

  /** Build exact-dedup state from a corpus: one (h, rep_id) row per
    * distinct normalized text. */
  def exactState(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        xxhash64(normText(col(textCol))).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("rep_id"))

  /** Persisted MinHash dedup state for INCREMENTAL operation: the band
    * hashes (4 rows/doc — the collision index) and the distinct shingle
    * hashes (the verify sets). Both are plain relations a warehouse
    * stores as tables; at 100 TB they are the by-product of the initial
    * full dedup, not an extra pass. */
  case class MinhashState(bands: DataFrame, shingles: DataFrame)

  /** Build dedup state for a corpus (one pass — the same work
    * [[minhashLshPairs]] does internally, exposed for persistence). */
  def minhashState(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): MinhashState =
    MinhashState(minhashBands(docs, idCol, textCol, k),
      docShingleHashesRaw(docs, idCol, textCol, k).distinct())

  /** INCREMENTAL near-dup detection — the daily-batch shape: sign only
    * the NEW docs, collide their bands against the persisted state's
    * band index (plus batch-internal collisions), verify just the
    * candidates, and return the extended state for the next batch.
    * Nothing about the existing corpus is recomputed; per batch the cost
    * is O(batch) signing + collision probes against an indexed relation.
    * Semantics match a full re-run over the union corpus restricted to
    * pairs touching the batch (differentially specced). Contract: batch
    * doc ids must be disjoint from the state's (new documents are new —
    * re-ingesting an id would double its shingle set in the union). */
  def minhashLshIncremental(state: MinhashState, batch: DataFrame,
                            idCol: String, textCol: String, k: Int = 8,
                            threshold: Double = 0.8): (DataFrame, MinhashState) = {
    val batchHashed = docShingleHashesRaw(batch, idCol, textCol, k)
    val batchBands = minhashBands(batch, idCol, textCol, k).stage("minhashIncremental:bands")
    val allBands = state.bands.unionByName(batchBands)
    // candidates must touch the batch: batch × (state ∪ batch)
    val cands = Stage.local(
      batchBands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
        .join(allBands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash")),
          Seq("band", "band_hash"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct(), "minhashIncremental:cands")
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    val batchShingles = batchHashed.distinct()
    val allShingles = state.shingles.unionByName(batchShingles)
    val candShingles = Stage.local(allShingles
      .join(candDocs, Seq("doc_id"), "left_semi"), "minhashIncremental:candShingles")
    val pairs = verifyJaccard(cands, candShingles, threshold)
    (pairs, MinhashState(allBands, allShingles))
  }

  /** Exact Jaccard restricted to candidate pairs (over shingle hashes). */
  private def verifyJaccard(cands: DataFrame, shingles: DataFrame,
                            threshold: Double): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(shingles.select(col("doc_id").as("doc_a"), col("hv")), Seq("doc_a"))
      .join(shingles.select(col("doc_id").as("doc_b"), col("hv")), Seq("doc_b", "hv"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    finishJaccard(inter, sizes, threshold)
  }

  /** Near-dup CLUSTERS: MinHash+LSH candidate pairs (exact-Jaccard
    * verified over char-k-gram shingle hashes) grouped into connected
    * components; cluster id = min doc_id, which doubles as the kept
    * representative. The pairs → groups step every corpus dedup ends
    * with. Edges come from the LSH tier, never the full inverted-index
    * self-join: at corpus scale the candidate path is the only viable
    * pair source, and at threshold 0.8 — well above the 4×4 banding
    * s-curve midpoint ≈0.7 — LSH recall against the exact tier is
    * near-total (candidate-miss probability (1-0.8⁴)⁴ ≈ 3.6% per pair,
    * and missed pairs are overwhelmingly re-linked transitively inside
    * their cluster). */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, threshold: Double = 0.8): DataFrame =
    graft.operators.ConnectedComponents.labelPropagation(
        minhashLshPairs(docs, idCol, textCol, k, threshold),
        "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        when(col("node") === col("label"), 1).otherwise(0).as("is_rep"))

  /** DEDUP CLUSTER-SIZE HISTOGRAM (q289) — the fold-factor readout a
    * dedup deployment reports: per cluster size, how many q47 MinHash
    * clusters exist, how many documents they hold, and what the
    * keep-first rule (smallest doc_id survives — the q124 winner
    * convention) would drop in documents and tokens. Size 1 = the
    * singleton row (documents in NO cluster — the corpus spine minus
    * the clustered set), dropping nothing by construction. OUTPUT
    * CONTRACT: the size-1 spine row is ALWAYS present, even on a fully
    * clustered corpus where it reads (1, 0, 0, 0, 0) — consumers get a
    * fixed anchor row rather than a presence/absence signal (and the
    * oracle mirrors the unconditional row). A corpus
    * whose histogram mass sits at size 2 folds very differently from
    * one with a few giant boilerplate clusters, which pair counts alone
    * (q34) cannot distinguish.
    *
    * Scale shape: cluster membership is the q47 label-propagation
    * output (pair-tier-bounded); one doc-keyed token join, one
    * cluster-keyed rollup (keeper tokens via min_by — no rank window),
    * one size-keyed histogram over |clusters| rows, and the singleton
    * row from two scalar counts. */
  def clusterSizeHistogram(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, threshold: Double = 0.8): DataFrame = {
    val mem = dedupClusters(docs, idCol, textCol, k, threshold)
      .stage("clusterSizeHistogram:mem") // read by the rollup + the clustered-count scalar
    val tok = docs.select(col(idCol).as("doc_id"),
      size(tokens(normText(col(textCol)))).cast("long").as("n_tokens"))
    val per = mem.join(tok, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"), sum("n_tokens").as("tt"),
        min_by(col("n_tokens"), col("doc_id")).as("kt"))
    val hist = per.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        sum(col("sz") - 1).as("n_dropped_docs"),
        sum(col("tt") - col("kt")).as("n_dropped_tokens"))
    val nAll = docs.agg(count(lit(1)).as("n_corpus"))
    val nClustered = mem.agg(count(lit(1)).as("n_clustered"))
    val singles = nAll.crossJoin(broadcast(nClustered))
      .select(lit(1L).as("cluster_size"),
        (col("n_corpus") - col("n_clustered")).as("n_clusters"),
        (col("n_corpus") - col("n_clustered")).as("n_docs"),
        lit(0L).as("n_dropped_docs"), lit(0L).as("n_dropped_tokens"))
    hist.unionAll(singles)
      .select(col("cluster_size").cast("long").as("cluster_size"),
        col("n_clusters").cast("long").as("n_clusters"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_dropped_docs").cast("long").as("n_dropped_docs"),
        col("n_dropped_tokens").cast("long").as("n_dropped_tokens"))
      .orderBy("cluster_size")
  }

  /** Benchmark DECONTAMINATION: for every training document, the number
    * of distinct char-k-gram shingle hashes it shares with ANY document
    * of a (small) benchmark set — the n-gram-overlap contamination check
    * every serious training corpus runs against its eval suites before
    * training. Returns (doc_id, n_shingles, n_contam, contam_frac,
    * flagged) for the training side.
    *
    * Scale shape: benchmark suites are tiny relative to a 100 TB corpus,
    * so the benchmark shingle set broadcasts and the check is ONE
    * scan-side semi-join probe per training shingle — the train corpus
    * is never shuffled (the per-doc count aggregation carries 8-byte
    * keys). The broadcast hint is left to AQE: a pathological "benchmark"
    * as big as the corpus degrades to a shuffle join instead of dying on
    * the driver. */
  def contaminationReport(train: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, k: Int = 8,
                          flagFrac: Double = 0.5): DataFrame = {
    val trainH = docShingleHashes(train, idCol, textCol, k)
    val benchHv = docShingleHashes(bench, idCol, textCol, k)
      .select("hv").distinct()
    val sizes = trainH.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val overlap = trainH.join(benchHv, Seq("hv"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
    val frac = round(coalesce(col("n_contam"), lit(0L)).cast("double") /
      col("n_shingles"), 4)
    sizes.join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        frac.as("contam_frac"),
        when(frac >= flagFrac, 1).otherwise(0).as("flagged"))
  }

  /** Duplicated-PASSAGE detection: word n-gram spans (default 20 tokens —
    * the span length of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better") that recur across documents. Doc-level
    * dedup misses boilerplate passages embedded in otherwise-distinct
    * documents; this is the span-level report that finds them. One
    * kernel projection (spans never leave the row as strings — 8-byte
    * rolling hashes), one distinct, one hash-keyed count: the shuffle
    * carries (hash, doc) longs only, partial-agg bounded by the distinct
    * span space. Emits (passage_hash, n_docs, first_doc) for spans in ≥
    * `minDocs` documents. */
  def dupPassages(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 20, minDocs: Int = 2): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        explode(graft.functions.TextKernelOps.wordNgramHashFull(
          normText(col(textCol)), n)).as("hv"))
      .distinct()
      .groupBy("hv")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .select(col("hv").as("passage_hash"), col("n_docs"), col("first_doc"))

  /** 32-bit SimHash fingerprints over word-BIGRAM features, computed AT
    * THE SCAN by the codegen'd [[graft.functions.SimHash32]] kernel:
    * per-feature hash, ±1 vote per bit position, sign → bit — all inside
    * one per-row pass, so fingerprinting a corpus is a pure projection
    * (zero shuffle, zero row multiplication). Bigrams (not unigrams)
    * carry enough entropy that unrelated docs land ~16 bits apart even on
    * a small vocabulary, so Hamming ≤ 3 selects only true near-dups.
    * Docs with fewer than 2 tokens hash to the -1 sentinel and are
    * dropped, matching the aggregation form's absent group. */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
        graft.functions.TextKernelOps.simhash32(normText(col(textCol)), 2).as("fp"))
      .filter(col("fp") >= 0)

  /** The pre-kernel formulation of [[simhashFingerprints]] — explode the
    * bigram feature hashes, ONE doc-keyed aggregation with 32
    * conditional-sum vote columns, assemble the fingerprint from the
    * votes. Kept as the executable REFERENCE of the vote math (and the
    * shape the oracle SQL mirrors); a parity spec pins the kernel to it
    * value-for-value. */
  private[ext] def simhashFingerprintsAgg(docs: DataFrame, idCol: String,
                                          textCol: String): DataFrame = {
    val voteCols = (0 until 32).map { b =>
      sum(when(shiftright(col("hv"), b).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
        .as(s"v_$b")
    }
    val votes = fanOut(docs).select(col(idCol).as("doc_id"),
        explode(graft.functions.TextKernelOps.wordNgramHash8(
          normText(col(textCol)), 2)).as("hv"))
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
    val fp = (0 until 32)
      .map(b => when(col(s"v_$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    votes.select(col("doc_id"), fp.as("fp"))
  }

  /** SimHash near-dup pairs via the Manku–Jarvis–Ma block-permutation
    * scheme (WWW'07 "Detecting Near-Duplicates for Web Crawling",
    * re-expressed as a Spark equi-join): the 32-bit fingerprint is split
    * into 6 blocks (6,6,5,5,5,5 bits). Any two fingerprints within
    * Hamming distance `maxHamming` ≤ 3 differ in at most 3 blocks, so
    * they agree EXACTLY on at least one 3-subset of blocks — build one
    * "table" per C(6,3)=20 subset, key each doc by that subset's
    * concatenated bits (a 15–17-bit prefix), and equi-join on
    * (table, prefix). MJM's sorted-adjacency probe is precisely
    * "compare all rows sharing the permuted prefix run", which in Spark
    * is a hash-partitioned self-join on the prefix — no sort needed, and
    * the candidate bound improves from byte-banding's ~N²/256 per band
    * to ~N²/2^16 per table (2^16+ buckets per table vs 2^8): 20 tables ×
    * N²/65536 ≈ N²/3277 total, 12.8× fewer candidate rows, and each
    * bucket 256× smaller — the number that decides whether a hot bucket
    * fits an executor at 60M+ docs. Prefixes are computed in the same
    * scan-side projection as the fingerprint (pure bit arithmetic, zero
    * extra shuffle); the exchange carries (table:int, prefix:long,
    * doc_id, fp) — 24 fixed bytes × 20 rows per doc, never the text.
    * Candidates are then verified by exact Hamming distance, so the
    * output is identical to any complete candidate scheme.
    *
    * MinHash+LSH ([[minhashLshPairs]]) remains the primary 100 TB path;
    * SimHash's value is the constant 8-byte per-doc state when
    * re-checking a corpus incrementally. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val blockLens = Seq(6, 6, 5, 5, 5, 5)
    require(maxHamming >= 0 && maxHamming < blockLens.size,
      s"maxHamming must be in [0, ${blockLens.size}) for the MJM block scheme")
    val blockOffs = blockLens.scanLeft(0)(_ + _).init
    // Pigeonhole: ≤ maxHamming flipped bits touch ≤ maxHamming blocks, so
    // every qualifying pair agrees on some (6 - maxHamming)-subset.
    val combos = blockLens.indices.combinations(blockLens.size - maxHamming)
      .toSeq.zipWithIndex
    def prefixOf(combo: Seq[Int]): Column =
      combo.foldLeft(lit(0L): Column) { (acc, b) =>
        shiftleft(acc, blockLens(b)).bitwiseOR(
          shiftright(col("fp"), blockOffs(b))
            .bitwiseAND(lit((1L << blockLens(b)) - 1)))
      }
    // Both sides of the prefix self-join descend from the fingerprint
    // relation; stage it (one long per doc) or the per-row kernel runs
    // twice. The 20 permuted prefixes are a generator projection over the
    // staged scan — bit arithmetic only, no shuffle before the join.
    val fps = simhashFingerprints(docs, idCol, textCol).stage("simhashPairs:fingerprints")
    val keyed = fps.select(col("doc_id"), col("fp"),
        explode(array(combos.map { case (combo, t) =>
          struct(lit(t).as("t"), prefixOf(combo).as("pfx"))
        }: _*)).as("mjm"))
      .select(col("doc_id"), col("fp"),
        col("mjm.t").as("t"), col("mjm.pfx").as("pfx"))
    val cands = keyed.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
        col("t"), col("pfx"))
      .join(keyed.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
        col("t"), col("pfx")), Seq("t", "pfx"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fp_a", "fp_b").distinct()
    cands
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  /** DEDUP TIER AGREEMENT MATRIX (q278) — the Venn of the three lexical
    * tiers over the same corpus: per (exact, minhash, simhash) flag
    * combination, how many documents each tier-combination would drop
    * under the shared keep-first rule (exact: any non-minimum id in a
    * normalized-text group; minhash: doc_b of any verified Jaccard ≥
    * `threshold` pair; simhash: doc_b of any Hamming ≤ `maxHamming`
    * pair). The operational question this answers: does the cheap tier
    * already catch what the expensive tier catches (run them in
    * sequence?), and what does each tier see ALONE (is the union worth
    * three passes?). Exact ⊆ minhash and exact ⊆ simhash hold
    * mathematically for true duplicates but NOT for the banding /
    * block-permutation candidate stages — disagreement rows are the
    * measured candidate-miss rate, not a bug (the q244 S-curve).
    *
    * Scale shape: each tier is its own established pipeline (hash agg /
    * LSH sliver / MJM sliver); the matrix is three hash-keyed distinct
    * flag relations left-joined onto the doc spine and one ≤ 8-row
    * rollup. */
  def dedupTierMatrix(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, threshold: Double = 0.8,
                      maxHamming: Int = 3): DataFrame = {
    val ids = docs.select(col(idCol).as("doc_id")).stage("dedupTierMatrix:ids")
    // md5-of-normalized-text grouping (the exactState/q231 convention):
    // a keyed agg + hash-keyed join — a boilerplate mega-group never
    // rides one window task, and no document text crosses an exchange.
    val norm = docs.select(col(idCol).as("doc_id"),
      md5(TextOps.normText(col(textCol))).as("h"))
    val keepers = norm.groupBy("h").agg(min("doc_id").as("keeper"))
    val exactDrop = norm.join(keepers, Seq("h"))
      .filter(col("doc_id") > col("keeper"))
      .select("doc_id").withColumn("f_exact", lit(1))
    val mhDrop = minhashLshPairs(docs, idCol, textCol, k, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("f_minhash", lit(1))
    val shDrop = simhashPairs(docs, idCol, textCol, maxHamming)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("f_simhash", lit(1))
    ids.join(exactDrop, Seq("doc_id"), "left")
      .join(mhDrop, Seq("doc_id"), "left")
      .join(shDrop, Seq("doc_id"), "left")
      .na.fill(0, Seq("f_exact", "f_minhash", "f_simhash"))
      .groupBy("f_exact", "f_minhash", "f_simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("example_doc"))
      .select(col("f_exact").cast("int").as("f_exact"),
        col("f_minhash").cast("int").as("f_minhash"),
        col("f_simhash").cast("int").as("f_simhash"),
        col("n_docs").cast("long").as("n_docs"),
        col("example_doc").cast("long").as("example_doc"))
      .orderBy("f_exact", "f_minhash", "f_simhash")
  }

  /** CCNET-STYLE cross-document line dedup accounting (Wenzek et al.
    * 2020 §3.1, the boilerplate-removal step every CCNet/RefinedWeb
    * pipeline runs before doc-level dedup): hash normalized "lines",
    * count the number of DISTINCT documents carrying each line hash
    * (its df), and scrub every occurrence of lines with df ≥ `minDf`.
    * The corpus has no newlines, so a line is a non-overlapping
    * `width`-token window (positions 0, w, 2w, … of the normalized
    * token stream; the trailing partial window is never a line and
    * never removed) — the hash is the same full-span rolling hash the
    * repetition tiers use ([[graft.functions.GraftTextKernels
    * .wordNgramHashFull]]), so both engines agree value-for-value.
    * Reported per source (the q260 readout shape): docs affected,
    * line volumes, token volumes before/after, removal ppm.
    *
    * Scale shape: line hashes are a scan-side kernel projection
    * (stride-filtered positions of the n-gram hash array — no string
    * ever shuffles); df is a hash-keyed count over the (h, doc)
    * pre-distinct, both aggregations map-side partial, so a
    * boilerplate line occurring in millions of docs never concentrates
    * on one task (the q33 df posture — no inverted index is ever
    * materialized); the removal leg is one hash-keyed semi-join and a
    * doc-keyed count. Everything else is |docs|- then |sources|-keyed. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                srcCol: String, width: Int = 4, minDf: Int = 2): DataFrame = {
    require(width >= 1 && minDf >= 2, s"need width>=1, minDf>=2")
    val t = TextOps.normText(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        size(TextOps.tokens(t)).cast("long").as("n_tokens"),
        graft.functions.TextKernelOps.wordNgramHashFull(t, width).as("hs"))
      .stage("lineDedup:base") // read by the line leg + the per-doc rollup
    val lines = base
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .filter(pmod(col("pos"), lit(width)) === 0)
    val boiler = lines.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
    val perDoc = lines
      .join(boiler, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("lines_removed"))
    val lineCnt = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    base.select("doc_id", "source", "n_tokens")
      .join(lineCnt, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_lines", "lines_removed"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lines_removed") > 0, 1L).otherwise(0L)).as("n_affected"),
        sum("n_lines").as("lines_total"),
        sum("lines_removed").as("lines_removed"),
        sum("n_tokens").as("tokens_before"),
        sum(col("n_tokens") - col("lines_removed") * width).as("tokens_after"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_affected").cast("long").as("n_affected"),
        col("lines_total").cast("long").as("lines_total"),
        col("lines_removed").cast("long").as("lines_removed"),
        col("tokens_before").cast("long").as("tokens_before"),
        col("tokens_after").cast("long").as("tokens_after"),
        expr("(tokens_before - tokens_after) * 1000000 div tokens_before")
          .as("removed_ppm"))
      .orderBy("source")
  }

  /** CROSS-DOCUMENT span scrub accounting (Lee et al. 2022's
    * exact-substring dedup, restricted to the LSH-verified pair tier):
    * for every verified near-dup pair, a token position in one doc is
    * COVERED when its word-`n`-gram also occurs anywhere in the other
    * doc; per doc the scrub removes the UNION of covered positions
    * over all its pair partners (q260's positional-union trick applied
    * across documents instead of within one). Reported per source:
    * docs in the pair tier, docs with nonzero cover, token volumes
    * before/after the scrub, removal ppm — the "how much text is
    * literally shared" companion to the pair-count readouts (q34/q94),
    * which can't distinguish a 90%-identical pair from a 40% one.
    *
    * Scale shape: the pair relation is the [[minhashLshPairs]] sliver
    * (never corpus-sized; recall vs the exact tier at thresholds below
    * the 4×4 banding midpoint ≈0.7 is the measured q244 S-curve — the
    * documented tradeoff of candidate-restricting this tier). Cover
    * volume is Σ over directed pairs of the victim doc's positions —
    * pair-tier-bounded; the partner probe is one (doc, hash)-keyed
    * semi-join against the distinct per-doc hash sets; the positional
    * union explodes n rows per covered occurrence and collapses by
    * (doc, pos). Corpus text is read once into the staged hash arrays. */
  def crossDocSpanScrub(docs: DataFrame, idCol: String, textCol: String,
                        srcCol: String, n: Int = 4, k: Int = 8,
                        threshold: Double = 0.5): DataFrame = {
    val pairs = Stage.local(minhashLshPairs(docs, idCol, textCol, k, threshold)
      .select("doc_a", "doc_b"), "crossDocSpanScrub:pairs") // read by both directed legs
    val t = TextOps.normText(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        size(TextOps.tokens(t)).cast("long").as("n_tokens"),
        graft.functions.TextKernelOps.wordNgramHashFull(t, n).as("hs"))
      .stage("crossDocSpanScrub:base") // read by occ + dochash + the rollup
    val occ = base.select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val dochash = occ.select("doc_id", "h").distinct()
    val directed = pairs
      .select(col("doc_a").as("victim"), col("doc_b").as("partner"))
      .union(pairs.select(col("doc_b").as("victim"), col("doc_a").as("partner")))
    // Victim-side positions restricted to pair docs FIRST (semi-join),
    // then probed against the partner's hash set on the (partner, h) key.
    val shared = directed
      .join(occ.withColumnRenamed("doc_id", "victim"), Seq("victim"))
      .join(dochash.select(col("doc_id").as("partner"), col("h")),
        Seq("partner", "h"), "left_semi")
    val covered = shared.select(col("victim").as("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct() // union over partners AND overlapping runs
      .groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    val inPairs = directed.select(col("victim").as("doc_id")).distinct()
      .withColumn("in_pairs", lit(1))
    base.select("doc_id", "source", "n_tokens")
      .join(inPairs, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_removed")).na.fill(0, Seq("in_pairs"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("in_pairs").cast("long")).as("n_in_pairs"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_affected"),
        sum("n_tokens").as("tokens_before"),
        sum(col("n_tokens") - col("n_removed")).as("tokens_after"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_in_pairs").cast("long").as("n_in_pairs"),
        col("n_affected").cast("long").as("n_affected"),
        col("tokens_before").cast("long").as("tokens_before"),
        col("tokens_after").cast("long").as("tokens_after"),
        expr("(tokens_before - tokens_after) * 1000000 div tokens_before")
          .as("removed_ppm"))
      .orderBy("source")
  }

  /** EXACT-SUBSTRING DEDUP at the published 50-token contract (q290 —
    * Lee et al. 2022's ExactSubstr tier, the canonical production
    * corpus-dedup pass the suite's pair-restricted q268 scrub is NOT):
    * a token position is COVERED when it lies inside some `minLen`-token
    * span whose literal text occurs at least twice in the WHOLE corpus —
    * cross-document or within-document, both count (Lee et al. dedup
    * both). Any duplicated substring of length ≥ minLen is exactly a run
    * of duplicated minLen-grams, so the union of [p, p+minLen) over all
    * duplicated-gram start positions p IS the full covered-position set
    * — no explicit maximal-substring extraction needed. The scrub
    * removes EVERY occurrence of a covered position (the conservative
    * variant Lee et al. note; "keep one copy" needs a global occurrence
    * order this accounting report does not impose). Reported per source:
    * docs, docs affected, token volumes before/after, removal ppm.
    *
    * Exactness: duplicate detection groups candidate spans by their
    * LITERAL minLen-token text, never by hash alone — the scan-side
    * rolling-hash tier (mod 2³¹−1) only PREFILTERS candidate positions,
    * so a hash collision costs verify work but can never mark a unique
    * span as duplicated. (At 10¹¹ positions a 2³¹-space hash collides
    * constantly by birthday math; verifying on the literal span is what
    * keeps the tier exact at 100 TB.)
    *
    * Scale shape: the position stream is a scan-side kernel projection
    * (per-position full-span rolling hashes — one pass over the text,
    * codegen'd); the duplicate-hash sliver comes from one h-keyed count
    * (map-side combinable); only SLIVER positions re-materialize their
    * literal span text (span strings ride the semi-joined candidate
    * sliver, never the full corpus stream); the exact verify is one
    * (h, span)-keyed window over that sliver; covered positions explode
    * minLen rows per duplicated occurrence and collapse by (doc, pos) —
    * bounded by true duplicate volume. No suffix array is ever
    * materialized across the corpus (the sorted-suffix construction's
    * O(corpus) index build collapses to the gram group-by, which Spark
    * shuffles as 8-byte hashes). */
  def exactSubstringScrub(docs: DataFrame, idCol: String, textCol: String,
                          srcCol: String, minLen: Int = 50): DataFrame = {
    val (base, dupOcc) = exactSubstrDupOcc(docs, idCol, textCol, srcCol,
      minLen)
    val covered = dupOcc.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("p"))
      .distinct() // union over duplicated spans AND overlapping runs
      .groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    base.select("doc_id", "source", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_removed"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_affected"),
        sum("n_tokens").as("tokens_before"),
        sum(col("n_tokens") - col("n_removed")).as("tokens_after"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_affected").cast("long").as("n_affected"),
        col("tokens_before").cast("long").as("tokens_before"),
        col("tokens_after").cast("long").as("tokens_after"),
        expr("(tokens_before - tokens_after) * 1000000 div tokens_before")
          .as("removed_ppm"))
      .orderBy("source")
  }

  /** The shared front half of the exact-substring tier (q290/q307):
    * staged (doc, source, tokens, per-position hashes) base plus the
    * VERIFIED duplicated-span occurrence sliver — every (doc_id, pos,
    * h, span, n_same, rn) where the literal `minLen`-token span at that
    * position occurs ≥ 2 times corpus-wide; `rn` ranks the occurrences
    * of each span group under the deterministic global total order
    * (doc_id, pos), computed as a KEYED window over the sliver — never
    * a global sort (the distributed form of the suffix-array occurrence
    * order Lee et al.'s sequential code gets for free). */
  private def exactSubstrDupOcc(docs: DataFrame, idCol: String,
                                textCol: String, srcCol: String,
                                minLen: Int): (DataFrame, DataFrame) = {
    require(minLen >= 1, s"need minLen>=1; got $minLen")
    val t = TextOps.normText(col(textCol))
    val base = fanOut(docs).select(col(idCol).as("doc_id"),
        col(srcCol).as("source"),
        size(TextOps.tokens(t)).cast("long").as("n_tokens"),
        graft.functions.TextKernelOps.wordNgramHashFull(t, minLen).as("hs"))
      .stage("exactSubstrDupOcc:base") // read by the hash leg + the per-doc rollup
    val occ = base.select(col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    // Candidate sliver: hashes with ≥ 2 occurrences corpus-wide.
    val dupH = occ.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    // Literal spans ONLY for candidate positions: zip the hash and span
    // kernels so (pos, h, span) stay aligned, semi-join down to the
    // sliver before the span strings ever reach a shuffle.
    val spans = docs.select(col(idCol).as("doc_id"),
        posexplode(arrays_zip(
          graft.functions.TextKernelOps
            .wordNgramHashFull(TextOps.normText(col(textCol)), minLen)
            .as("h"),
          graft.functions.TextKernelOps
            .wordNgrams(TextOps.normText(col(textCol)), minLen)
            .as("span"))).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"), col("z.h").as("h"),
        col("z.span").as("span"))
    val cand = spans.join(dupH, Seq("h"), "left_semi")
    // Exact verify within the sliver: identical literal span ≥ 2 times.
    // Grouping by (h, span) ≡ grouping by span (h is a function of the
    // span text), so the hash key only narrows the shuffle.
    val wSpan = org.apache.spark.sql.expressions.Window
      .partitionBy("h", "span") // keyed; sliver-bounded per key
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("h", "span").orderBy("doc_id", "pos")
    val dupOcc = cand
      .withColumn("n_same", count(lit(1)).over(wSpan))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("n_same") > 1)
    (base, dupOcc)
  }

  /** KEEP-FIRST exact-substring dedup (q307) — the variant Lee et al.
    * 2022 actually ship: where q290 accounts the CONSERVATIVE
    * remove-all scrub (every occurrence of a duplicated ≥ minLen-token
    * span is marked), this one RETAINS exactly one occurrence per
    * duplicated span group — the first under the deterministic global
    * total order (doc_id, pos) — and scrubs only the rest, so
    * duplicated text survives somewhere in the corpus instead of
    * vanishing entirely. The keeper rank comes from a (h, span)-keyed
    * window over the verified sliver (see [[exactSubstrDupOcc]]), never
    * a global sort. A position kept by one span group may still be
    * covered by ANOTHER group's non-first occurrence (overlapping
    * runs) — the union semantics the remove-all tier also uses.
    *
    * Per source: docs, docs affected, token volumes before/after and
    * ppm (all ≤ their q290 counterparts by construction — the spec pins
    * the conservation), plus the occurrence accounting (`n_kept_occ`
    * first occurrences retained, `n_dup_occ` non-first occurrences
    * scrubbed — per span group exactly one keeper corpus-wide).
    *
    * Scale shape: identical to q290 plus one ordered keyed window over
    * the duplicate sliver — nothing new is corpus-sized. */
  def exactSubstringKeepFirst(docs: DataFrame, idCol: String,
                              textCol: String, srcCol: String,
                              minLen: Int = 50): DataFrame = {
    val (base, dupOcc) = exactSubstrDupOcc(docs, idCol, textCol, srcCol,
      minLen)
    val keepers = dupOcc.filter(col("rn") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    val losers = dupOcc.filter(col("rn") >= 2).stage("exactSubstringKeepFirst:losers")
    val nDup = losers.groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val covered = losers.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (minLen - 1))).as("p"))
      .distinct() // union over duplicated spans AND overlapping runs
      .groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    base.select("doc_id", "source", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left")
      .join(nDup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_removed", "n_kept", "n_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_affected"),
        sum("n_tokens").as("tokens_before"),
        sum(col("n_tokens") - col("n_removed")).as("tokens_after"),
        sum("n_kept").as("n_kept_occ"),
        sum("n_dup").as("n_dup_occ"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_affected").cast("long").as("n_affected"),
        col("tokens_before").cast("long").as("tokens_before"),
        col("tokens_after").cast("long").as("tokens_after"),
        expr("(tokens_before - tokens_after) * 1000000 div tokens_before")
          .as("removed_ppm"),
        col("n_kept_occ").cast("long").as("n_kept_occ"),
        col("n_dup_occ").cast("long").as("n_dup_occ"))
      .orderBy("source")
  }
}
