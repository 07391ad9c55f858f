package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis, TextClean, TextDedup, TextOps}
import graft.model.Tables
import graft.operators.Stage.StageOps

/** Oracle-checked wrappers — deduplication tier (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, semantic, incremental, span scrub, sweep
  * reports) over the `documents` table. Round-12 split of the former
  * `ExtQueries` object — values unchanged. */
object DedupQueries {
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("rep_id")

  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    TextDedup.ngramContainmentPairs(Tables.documents(spark, dir), "doc_id",
        "text", n = 3, threshold = 0.6)
      .orderBy("doc_a", "doc_b")

  def crossSourceLeakage(spark: SparkSession, dir: String): DataFrame =
    TextDedup.crossSourceLeakage(Tables.documents(spark, dir), "doc_id",
        "text", "source", k = 8, threshold = 0.8)

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 8, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  /** Incremental exact dedup (q124): persisted state built from the
    * even-id half of the corpus, the odd half arriving as the daily
    * batch — the state-probe shape a 100 TB ingest actually runs
    * (sign/hash only the batch, probe the persisted group index, group
    * the leftovers batch-internally). The oracle recomputes the merged
    * assignment from scratch, so the differential path is value-checked
    * against a full re-run, not just row-counted. */
  def dedupExactIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val state = TextDedup.exactState(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    TextDedup.exactGroupsIncremental(state,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      ._1.orderBy("doc_id")
  }

  /** Incremental MinHash+LSH near-dup detection (q125): same
    * even-state / odd-batch split as q124 over the persisted band +
    * shingle state — only the batch is signed; candidates are band
    * collisions touching the batch; verification reads candidate
    * shingle sets only. Oracle = the full-corpus q34 pair run
    * restricted to pairs touching the batch. */
  def dedupMinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val state = TextDedup.minhashState(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 8)
    TextDedup.minhashLshIncremental(state,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        k = 8, threshold = 0.8)
      ._1.orderBy("doc_a", "doc_b")
  }

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dedupClusters(Tables.documents(spark, dir), "doc_id", "text",
        k = 8, threshold = 0.8)
      .orderBy("doc_id")

  /** Dedup cluster-size histogram (q289):
    * [[graft.ext.TextDedup.clusterSizeHistogram]] — the q47 clusters
    * folded into a per-size fold-factor report with keep-first drop
    * volumes; size 1 = the singleton spine row. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    TextDedup.clusterSizeHistogram(Tables.documents(spark, dir), "doc_id",
      "text", k = 8, threshold = 0.8)

  /** Keep-best dedup selection (q184): the step AFTER clustering that
    * every production dedup actually ships — pick ONE survivor per
    * near-dup cluster (here: the longest normalized text, ties to the
    * smallest doc_id — "keep the most complete copy") and report the
    * bytes the drop saves. Composition: the q47 cluster labels joined
    * to a zero-shuffle length projection, one cluster-keyed aggregation
    * with the survivor carried as `max_by` over a (length, −doc_id)
    * key — no rank window, no second join. Cluster count ≪ corpus, so
    * everything after the label join is metadata-scale. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cl = TextDedup.dedupClusters(docs, "doc_id", "text",
      k = 8, threshold = 0.8)
    val len = docs.select(col("doc_id"),
      length(graft.ext.TextOps.normText(col("text"))).cast("long")
        .as("n_chars"))
    cl.join(len, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("doc_id").as("d"), col("n_chars").as("c")),
          struct(col("n_chars"), -col("doc_id"))).as("kept"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("cluster_id"), col("kept.d").as("kept_doc"),
        col("n_members"), col("kept.c").as("kept_chars"),
        (col("total_chars") - col("kept.c")).as("dropped_chars"))
      .orderBy("cluster_id")
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** Benchmark decontamination (q58): docs 0-4 stand in for a held-out
    * eval suite; every other doc is scored by its distinct char-8-gram
    * overlap with that suite. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextDedup.contaminationReport(
        docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 8, flagFrac = 0.35)
      .orderBy("doc_id")
  }

  /** Duplicated 20-token passages across documents (q61) — span-level
    * dedup report. */
  def dupPassages(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dupPassages(Tables.documents(spark, dir), "doc_id", "text",
        n = 20, minDocs = 2)
      .orderBy("passage_hash")

  /** Snapshot diff (q65): documents vs a deterministically mutated v2
    * (every 17th doc removed, every 13th's text edited, every 29th
    * re-keyed as an append) — added/removed/changed rows only. The
    * mutation runs identically in the oracle, so every change_type and
    * both content hashes are value-checked. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.ext.Versioning.snapshotDiff(base, v2, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  /** Exact new-content detection (q68): docs 0-399 are the previous
    * snapshot; every doc's md5 content hash is anti-probed against
    * theirs (left join marker on the hash — the same fixed-width-key
    * idiom as q65's snapshot diff, and oracle-checkable because DuckDB
    * has the identical md5). `Versioning.bloomNewDocs` is the documented
    * probabilistic scale pre-pass for this query (no false negatives;
    * spec-verified bloom-new ⊆ exact-new). */
  def exactNewDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.Versioning.exactNewDocs(
        docs.filter(col("doc_id") < 400), docs, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.fuzzyPairs(Tables.documents(spark, dir), "doc_id", "text")

  def shingleNovelty(spark: SparkSession, dir: String): DataFrame =
    TextDedup.shingleNovelty(Tables.documents(spark, dir), "doc_id", "text")

  /** SEMANTIC dedup end-to-end (q221) — the SemDeDup shape (Abbas et
    * al. 2023): near-duplicates by embedding-space similarity rather
    * than lexical shingles, composed from the suite's own tiers:
    * sign-LSH buckets over the embedding column → within-bucket
    * cosine-verified pairs ([[graft.ext.Similarity.nearDupPairs]],
    * threshold 0.40 on the 4-dp rounded cosine — splits the bucketed
    * pair population's heavy tail at every scale factor) → connected
    * components → keep-best. The survivor per cluster is the most
    * CENTRAL member — the one with the largest sum of verified-pair
    * cosines to other members (exact e4 integers; ties to the smallest
    * vec_id) — the "keep the representative" rule, where the lexical
    * q184 kept the longest text.
    *
    * Scale shape: pair volume is bucket-bounded (Σ per-bucket n², never
    * corpus²) with the bucket computed scan-side; label propagation is
    * per-round keyed joins over the pair edges only; the centrality and
    * survivor aggregations touch |pairs| and |cluster members| rows —
    * everything after verification is metadata-scale. */
  def semanticDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.40): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket",
        Similarity.bucketCol(col("embedding"), nPlanes = 4, dim = 64))
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding",
        "bucket", threshold)
      .stage("semanticDedup:pairs") // read 2×: component edges + centrality rollup
    val cc = graft.operators.ConnectedComponents.labelPropagation(
      pairs, "id_a", "id_b")
    val cent = pairs
      .select(col("id_a").as("node"),
        round(col("cos") * 10000, 0).cast("long").as("c"))
      .unionAll(pairs.select(col("id_b").as("node"),
        round(col("cos") * 10000, 0).cast("long").as("c")))
      .groupBy("node").agg(sum("c").as("cent_e4"))
    cc.join(cent, Seq("node"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        max_by(struct(col("node").as("d"), col("cent_e4").as("s")),
          struct(col("cent_e4"), -col("node"))).as("kept"),
        sum("cent_e4").as("total_cent_e4"))
      .select(col("cluster_id"), col("n_members"),
        col("kept.d").as("kept_vec"), col("kept.s").as("kept_cent_e4"),
        (col("n_members") - 1).cast("long").as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Sorted-neighborhood dedup (q191): SimHash-sorted blocked windows
    * generate a flat 3N candidate set, exact 3-gram Jaccard verifies;
    * 0.5 splits the sharply bimodal candidate population (background
    * ~0.01, true near-dups ~0.95) at every scale factor. */
  def snmPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.sortedNeighborhoodPairs(Tables.documents(spark, dir),
      "doc_id", "text")

  /** INCREMENTAL semantic dedup (q234) — the q124/q125 differential
    * pattern applied to q221's SemDeDup: the even-id half of the
    * embeddings table is the PERSISTED bucketed state, the odd half
    * arrives as the daily batch, and only batch buckets are probed —
    * against the state (any state match dedups the new doc) and
    * batch-internally (the earlier-arriving, smaller-id doc wins, the
    * q124 keep-first rule). Per NEW doc: state/batch duplicate counts,
    * the best match (highest verified cosine, ties to the smallest id)
    * and the drop decision — the operating readout of a daily delta at
    * 100 TB, where full-corpus reclustering (q221) is the weekly job
    * and this is the per-batch one.
    *
    * Scale shape: buckets are computed scan-side on the BATCH only
    * (the state's are persisted); pair volume is Σ per-bucket
    * |batch|·|state| + |batch|² — bucket-bounded, never corpus²; the
    * rollup is batch-doc-keyed. */
  def semanticDedupIncremental(spark: SparkSession, dir: String,
                               threshold: Double = 0.40): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket",
        Similarity.bucketCol(col("embedding"), nPlanes = 4, dim = 64))
      .withColumn("nrm", Similarity.l2norm(col("embedding")))
      .stage("semanticDedupIncremental:emb") // read 3x: state leg, batch leg x2
    val state = emb.filter(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("other"),
        col("embedding").as("o_emb"), col("nrm").as("o_nrm"))
    val batch = emb.filter(col("vec_id") % 2 === 1)
      .select(col("bucket"), col("vec_id").as("vid"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    def verified(pairs: DataFrame, fromState: Int) = pairs
      .withColumn("cos", round(
        Similarity.dot(col("b_emb"), col("o_emb")) /
          (col("b_nrm") * col("o_nrm")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vid"), col("other"),
        round(col("cos") * 10000, 0).cast("long").as("cos_e4"),
        lit(fromState).as("from_state"))
    val sb = verified(batch.join(state, Seq("bucket")), 1)
    val batchEarlier = batch.select(col("bucket"), col("vid").as("other"),
      col("b_emb").as("o_emb"), col("b_nrm").as("o_nrm"))
    val bb = verified(
      batch.join(batchEarlier, Seq("bucket"))
        .filter(col("other") < col("vid")), 0)
    val matches = sb.unionAll(bb).stage("semanticDedupIncremental:matches") // counts + best
    val agg = matches.groupBy("vid")
      .agg(sum(col("from_state")).as("n_dup_state"),
        sum(lit(1L) - col("from_state")).as("n_dup_batch"),
        max_by(struct(col("other").as("m"), col("cos_e4").as("c")),
          struct(col("cos_e4"), -col("other"))).as("best"))
    batch.select(col("vid"))
      .join(agg, Seq("vid"), "left")
      .select(col("vid").as("vec_id"),
        coalesce(col("n_dup_state"), lit(0L)).as("n_dup_state"),
        coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"),
        col("best.m").as("best_match"), col("best.c").as("best_cos_e4"),
        when(col("best").isNotNull, 1).otherwise(0).cast("int").as("dropped"))
      .orderBy("vec_id")
  }

  /** LSH candidate eval (q244):
    * [[graft.ext.TextDedup.lshCandidateEval]] — precision/recall of the
    * MinHash band-collision candidate tier vs the exact df-capped
    * char-8-gram Jaccard ground truth at thresholds 0.5 / 0.8 (the
    * banding S-curve, measured). */
  def lshCandidateReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.lshCandidateEval(Tables.documents(spark, dir), "doc_id",
      "text", k = 8, thresholds = Seq(0.5, 0.8))

  /** GOPHER-STYLE REPEATED-SPAN SCRUB accounting (q260, the Rae et al.
    * within-document repetition filter made exact): per document,
    * every 4-gram occurrence AFTER the first occurrence of that same
    * 4-gram (by position, within the document) is a repeated span; the
    * scrub drops the union of their token positions. Reported per
    * source: docs affected, token volumes before/after, and the
    * reduction in exact floor ppm — the dedup-inside-the-document
    * counterpart of the across-document tiers (q32..), which they
    * cannot see by construction.
    *
    * Scale shape: the position stream is a scan-side kernel projection
    * (per-position 4-gram hashes); first-occurrence marking is one
    * doc+hash-keyed window (per-key state bounded by within-doc
    * repeats); covered positions explode 4 rows per repeated
    * occurrence and collapse by (doc, pos); all rollups doc- then
    * source-keyed. */
  def repeatScrub(spark: SparkSession, dir: String, n: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = TextOps.tokens(TextOps.normText(col("text")))
    val base = docs.select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        graft.functions.TextKernelOps.wordNgramHashFull(
          TextOps.normText(col("text")), n).as("hs"))
      .stage("repeatScrub:base") // read by the span leg + the per-doc rollup
    val occ = base.select(col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    val rep = occ.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id", "h").orderBy("pos")))
      .filter(col("rn") >= 2)
    val covered = rep.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    base.select(col("doc_id"), col("source"), col("n_tokens"))
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

  /** Dedup threshold sweep (q248):
    * [[graft.ext.TextDedup.dedupThresholdSweep]] — pairs, docs dropped
    * (keep-first rule) and token volumes at Jaccard 0.3/0.5/0.7/0.9,
    * all from one staged inverted-index pass. */
  def dedupSweepReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dedupThresholdSweep(Tables.documents(spark, dir), "doc_id",
      "text", k = 8)

  /** Dedup tier agreement (q278):
    * [[graft.ext.TextDedup.dedupTierMatrix]] — the exact/minhash/
    * simhash drop-set Venn under the shared keep-first rule. */
  def dedupTierReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dedupTierMatrix(Tables.documents(spark, dir), "doc_id",
      "text")

  /** CCNet-style line dedup (q266): [[graft.ext.TextDedup.lineDedup]] —
    * 4-token normalized lines, scrub lines seen in ≥ 2 distinct docs,
    * per-source docs-affected + token volumes (the q260 readout). */
  def lineDedupReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.lineDedup(Tables.documents(spark, dir), "doc_id", "text",
      "source", width = 4, minDf = 2)

  /** Cross-doc span scrub (q268):
    * [[graft.ext.TextDedup.crossDocSpanScrub]] — Lee et al. covered-
    * position accounting over the LSH-verified pair tier at Jaccard
    * ≥ 0.5, word-4-gram spans, per-source removable token volume. */
  def spanScrubReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.crossDocSpanScrub(Tables.documents(spark, dir), "doc_id",
      "text", "source", n = 4, k = 8, threshold = 0.5)

  /** Exact-substring dedup at the 50-token contract (q290):
    * [[graft.ext.TextDedup.exactSubstringScrub]] — Lee et al. 2022's
    * ExactSubstr tier over the WHOLE corpus (hash-prefiltered,
    * literal-span-verified), covered-position union accounting per
    * source. */
  def exactSubstringReport(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactSubstringScrub(Tables.documents(spark, dir), "doc_id",
      "text", "source", minLen = 50)

  /** Keep-first exact-substring dedup (q307):
    * [[graft.ext.TextDedup.exactSubstringKeepFirst]] — the variant Lee
    * et al. ship: one occurrence per duplicated ≥50-token span survives
    * (first by the deterministic (doc_id, pos) order), the rest are
    * scrubbed; per-source volumes + keeper/scrubbed occurrence
    * accounting, conservation vs the q290 remove-all tier spec-pinned. */
  def exactSubstringKeepFirstReport(spark: SparkSession,
                                    dir: String): DataFrame =
    TextDedup.exactSubstringKeepFirst(Tables.documents(spark, dir),
      "doc_id", "text", "source", minLen = 50)

  /** Train/test near-dup leakage audit (q302): the q34 MinHash+LSH
    * verified pair tier crossed with the q52 deterministic split — per
    * unordered split pair, how many near-duplicate pairs STRADDLE the
    * boundary (a train↔test near-dup is evaluation contamination that
    * survives exact decontamination, the audit Lee et al. 2022 §6.2
    * runs on every benchmark). The full 6-cell split-pair spine is
    * always present (a 0 in train↔test is the PASSING readout — absence
    * would be silence), `is_leak` marks the cross-split cells, and
    * `share_ppm` normalizes by the total verified-pair volume. One
    * pair-tier pass + two broadcast-able split joins + a 6-row rollup —
    * the audit adds nothing pair-volume-sized to the q34 plan. */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pairs = TextDedup.minhashLshPairs(docs, "doc_id", "text",
      k = 8, threshold = 0.8)
    val splits = Sampling.hashSplit(docs.select("doc_id"), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select(col("doc_id"), col("split"))
    val crossed = pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .stage("splitLeakageAudit:crossed") // read by the cell counts AND the pair total
    val total = crossed.agg(count(lit(1)).as("n_total"))
    val names = Seq("test", "train", "val").toDF("s")
    val spine = names.select(col("s").as("split_lo"))
      .crossJoin(broadcast(names.select(col("s").as("split_hi"))))
      .filter(col("split_lo") <= col("split_hi"))
    spine
      .join(crossed.groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs")), Seq("split_lo", "split_hi"),
        "left")
      .crossJoin(broadcast(total))
      .select(col("split_lo"), col("split_hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("split_lo") =!= col("split_hi")).cast("int").as("is_leak"),
        expr("""CASE WHEN n_total = 0 THEN CAST(0 AS BIGINT)
                |ELSE coalesce(n_pairs, 0) * 1000000 div n_total
                |END""".stripMargin).as("share_ppm"))
      .orderBy("split_lo", "split_hi")
  }

  /** URL/host dedup tier (q316) — the CHEAP TOP of the dedup ladder
    * (CCNet/RefinedWeb order: URL dedup and per-host caps run BEFORE
    * any content hashing, because they remove the most bytes for
    * string-ops cost). Three stages over a deterministic synthetic
    * `url` column (the fixture carries none: host from `source`, page
    * from doc_id div 60, and one of three surface variants — scheme
    * case, `www.`, trailing slash, param order, a `utm_*` tracker — by
    * doc_id div 20 mod 3, so every page exists in all three forms):
    *   1. canonicalize ([[graft.ext.UrlOps]]: scheme/www/trailing-slash
    *      strip, utm drop, param sort);
    *   2. exact canonical-URL dedup, KEEP-FIRST (min doc_id — the
    *      ladder's q32 winner contract);
    *   3. per-host volume cap on the survivors via the salted q63
    *      quota (hash-order winners, cap 6 — host counts are FIXED as
    *      data grows, the audit's fixed-domain case, so the plain
    *      per-host window form is never used).
    * Per host: doc/url/kept counts, the removal split, and the kept-id
    * sum (pins the exact quota winner SET, not just its size). */
  def urlHostDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val page = expr("CAST(doc_id div 60 AS STRING)")
    val hostRaw = concat(col("source"), lit(".example.com"))
    val url = when(expr("(doc_id div 20) % 3") === 0,
        concat(lit("https://www."), hostRaw, lit("/docs/"), page,
          lit("?utm_source=feed&b=2&a=1")))
      .when(expr("(doc_id div 20) % 3") === 1,
        concat(lit("http://"), hostRaw, lit("/docs/"), page,
          lit("/?a=1&b=2")))
      .otherwise(
        concat(lit("HTTPS://"), hostRaw, lit("/docs/"), page,
          lit("?b=2&a=1")))
    val canon = docs.select(col("doc_id"), url.as("url"))
      .withColumn("curl", graft.ext.UrlOps.canonicalize(col("url")))
      .withColumn("host", graft.ext.UrlOps.hostOf(col("curl")))
    // keep-first exact URL dedup; staged once — read by the host
    // rollup AND the quota tier
    val winners = canon.groupBy("host", "curl")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .stage("urlHostDedup:winners")
    val capped = Sampling.perKeyQuotaSalted(winners, "host", "doc_id",
      cap = 6, salts = 8)
    val byHost = canon.groupBy("host").agg(count(lit(1)).as("n_docs"))
    val urls = winners.groupBy("host").agg(count(lit(1)).as("n_urls"))
    val kept = capped.groupBy("host").agg(count(lit(1)).as("n_kept"),
      sum("doc_id").as("kept_id_sum"))
    byHost.join(urls, Seq("host")).join(kept, Seq("host"))
      .select(col("host"), col("n_docs").cast("long").as("n_docs"),
        col("n_urls").cast("long").as("n_urls"),
        (col("n_docs") - col("n_urls")).cast("long").as("n_dup_removed"),
        col("n_kept").cast("long").as("n_kept"),
        (col("n_urls") - col("n_kept")).cast("long").as("n_cap_removed"),
        expr("(n_docs - n_urls) * 1000000 div n_docs").as("dup_ppm"),
        col("kept_id_sum").cast("long").as("kept_id_sum"))
      .orderBy("host")
  }
}
