package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Bpe, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis, TextClean, TextDedup, TextOps}
import graft.model.Tables
import graft.operators.Stage.StageOps

/** Oracle-checked wrappers — multimodal tier (typed binary decode
  * plumbing: GIF/WAV stats, frame sampling, multimodal retrieval).
  * Round-12 split of the former `ExtQueries` object — values
  * unchanged. */
object MultimodalQueries {
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"))
      .toDF()
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("width"), col("height"), col("n_frames"),
        col("sample_rate"), col("n_channels"))
      .orderBy("doc_id")

  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text")),
        stride = 5)
      .orderBy("doc_id", "frame_idx")

  /** GIF pixel statistics (q126): LZW-expand every video payload's
    * frames and aggregate the decoded palette indices — the oracle
    * replays the payload-generation arithmetic (pixels = text bytes
    * & 0x7f, cycled across frames), so the whole container walk + LZW
    * decode is value-checked per document. */
  def gifPixelStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.gifPixelStats(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"))
      .withColumn("mean_px", graft.model.Parity.r4(
        col("sum_px").cast("double") / col("n_pixels")))
      .orderBy("doc_id")

  /** WAV audio sample statistics (q127): deinterleave every audio
    * payload's 8-bit PCM stream and aggregate per (doc, channel) — the
    * oracle replays the payload-generation arithmetic (samples = text
    * bytes, zero-padded to channel alignment), so container parse +
    * deinterleave + exact integer aggregation are value-checked end to
    * end. mean/RMS derive from the exact integer sums (no fp
    * accumulation on either side). */
  def wavAudioStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.wavSampleStats(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"))
      .withColumn("mean_amp", graft.model.Parity.r4(
        col("sum_amp").cast("double") / col("n_samples")))
      .withColumn("rms", graft.model.Parity.r4(
        sqrt(col("sum_sq").cast("double") / col("n_samples"))))
      .orderBy("doc_id", "channel")

  /** WAV autocorrelation (q128): per-channel lag-{1,2,4,8}
    * autocorrelation over the decoded amplitude sequence, normalized by
    * the exact integer energy R(0) — the classical periodicity feature,
    * integer-exact up to the final rounded ratio. */
  def wavAudioAutocorr(spark: SparkSession, dir: String): DataFrame =
    Multimodal.wavAutocorr(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"))
      .orderBy("doc_id", "channel")

  /** Decoded features for the multimodal retrieval tier: attach real
    * container payloads, LZW-expand the video rows' pixels, and build
    * the exact integer-ppm pixel histogram — ONE declarative plan from
    * raw documents to a `(doc_id, Array[Long])` feature relation. */
  private def videoFeatures(spark: SparkSession, dir: String,
                            dim: Int): DataFrame =
    Multimodal.gifPixelHistogramPpm(
      Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"),
      dim)

  /** End-to-end multimodal retrieval, exact tier (q177): decode → pixel
    * histogram feature → brute-force top-k by integer dot product, all
    * one plan (the q162 composition idea applied to multimodal). The
    * probe set (video docs with id < 30) broadcasts by |Q|-bounded
    * contract; scores are exact longs (ppm·ppm ≤ 10¹² per term, dim
    * terms), so ranking has no float drift and ties break on
    * neighbor_id. Scale: candidates never shuffle — the only wide
    * stages are the narrow per-partition decode and the query-keyed
    * top-k window; [[multimodalRetrievalCelled]] is the
    * candidate-restricted scale path. */
  def multimodalRetrieval(spark: SparkSession, dir: String,
                          k: Int = 3, dim: Int = 8): DataFrame = {
    val feats = videoFeatures(spark, dir, dim)
    val queries = feats.filter(col("doc_id") < 30)
      .select(col("doc_id").as("query_id"), col("features_ppm").as("qf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    feats.select(col("doc_id").as("neighbor_id"), col("features_ppm").as("cf"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        expr("aggregate(zip_with(qf, cf, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
      .orderBy("query_id", "rank")
  }

  /** Multimodal retrieval, celled tier (q178): IVF-style candidate
    * restriction — every vector's cell is its DOMINANT histogram bucket
    * (first argmax, a deterministic integer), and each query scores only
    * same-cell candidates via an equi join on the cell id. The bucketed
    * analogue of q38/q130: no cross product anywhere, the per-cell
    * candidate lists shuffle once on the cell key, and the oracle
    * recomputes the identical restriction (cells are exact integers, so
    * celled results hash-compare — recall vs the exact tier is specced,
    * not oracled). */
  def multimodalRetrievalCelled(spark: SparkSession, dir: String,
                                k: Int = 3, dim: Int = 8): DataFrame = {
    val cell = expr("CAST(array_position(features_ppm, array_max(features_ppm)) AS INT)")
    val feats = videoFeatures(spark, dir, dim).withColumn("cell", cell)
    val queries = feats.filter(col("doc_id") < 30)
      .select(col("doc_id").as("query_id"), col("features_ppm").as("qf"),
        col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    feats.select(col("doc_id").as("neighbor_id"), col("features_ppm").as("cf"),
        col("cell"))
      .join(broadcast(queries), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        expr("aggregate(zip_with(qf, cf, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("score"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Multimodal retrieval through the LEARNED-EMBEDDING STAND-IN (q179):
    * decode → pixel-histogram feature → frozen-weight projection
    * ([[graft.ext.Multimodal.projectEmbedding]]) → brute top-k in the
    * EMBEDDED space — the full shape of model-based multimodal
    * retrieval (embed once, score in the low-dimensional space) with a
    * deterministic matrix standing in for trained weights, so the whole
    * chain is value-checked by the oracle rather than trusted. Scores
    * are exact longs (|emb| ≤ 8·10⁶ ⇒ dot ≤ dOut·6.4·10¹³); ties break
    * on neighbor_id. Scale: identical posture to
    * [[multimodalRetrieval]] — the probe set broadcasts, candidates
    * never shuffle, and scoring now touches dOut=4 longs per pair
    * instead of dim=8 (the embedding is the compression). */
  def multimodalEmbedRetrieval(spark: SparkSession, dir: String,
                               k: Int = 3, dIn: Int = 8,
                               dOut: Int = 4): DataFrame = {
    val emb = Multimodal.projectEmbedding(
      videoFeatures(spark, dir, dIn), "features_ppm", dIn, dOut)
    val eCols = (0 until dOut).map(i => s"e$i")
    val queries = emb.filter(col("doc_id") < 30)
      .select(col("doc_id").as("query_id") +:
        eCols.map(c => col(c).as(s"q_$c")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    emb.select(col("doc_id").as("neighbor_id") +:
        eCols.map(c => col(c).as(s"c_$c")): _*)
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        eCols.map(c => col(s"q_$c") * col(s"c_$c")).reduce(_ + _))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
      .orderBy("query_id", "rank")
  }

  /** Perceptual-hash image near-duplicate report (q295):
    * [[graft.ext.Multimodal.gifAHash]] over every decoded video frame,
    * then the SimHash-style BANDED self-join — the 16-bit fingerprint
    * splits into two 8-bit bands; hamming distance ≤ 1 guarantees an
    * identical band (pigeonhole), so candidates come from two
    * hash-partitioned equi-joins (~N²/256 pairs per band), never
    * all-pairs, and the exact `bit_count(xor)` verify runs on the
    * candidate sliver only. Per image: its fingerprint, live-block
    * count, near-duplicate degree, and smallest near-duplicate partner
    * (−1 when none) — one row per video doc, so the report is
    * non-vacuous at every sf even when no near-dups exist. At a 64-bit
    * fingerprint the same plan widens to four 16-bit bands. */
  def ahashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Multimodal.gifAHash(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id",
          "text"))
      .stage("ahashNearDup:hashes") // read by both band tables + the report spine
    val bands = hashes
      .select(col("doc_id"), col("ahash"), lit(0).as("band"),
        (col("ahash") % 256).as("bv"))
      .unionAll(hashes.select(col("doc_id"), col("ahash"), lit(1).as("band"),
        expr("ahash div 256").as("bv")))
    val cand = bands
      .join(bands.select(col("doc_id").as("doc_b"), col("ahash").as("hb"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("doc_id") < col("doc_b"))
      .select("doc_id", "doc_b", "ahash", "hb").distinct()
    val near = cand
      .filter(bit_count(col("ahash").bitwiseXOR(col("hb"))) <= 1)
      .select(col("doc_id"), col("doc_b"))
    val sym = near.unionAll(near.select(col("doc_b"), col("doc_id")))
      .toDF("d", "partner")
    val stats = sym.groupBy("d")
      .agg(count(lit(1)).as("n_near"), min("partner").as("nearest"))
    hashes.join(stats, hashes("doc_id") === stats("d"), "left")
      .select(col("doc_id"), col("ahash"), col("n_blocks").cast("int")
          .as("n_blocks"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("nearest"), lit(-1L)).as("nearest_id"))
      .orderBy("doc_id")
  }

  /** Video temporal near-dup census (q312) — the FOURTH modality of
    * the banded dedup family (text q34…, image q295, audio q306):
    * [[graft.ext.Multimodal.gifTemporalFingerprint]] folds every
    * decoded frame's aHash plus the brightness/structure envelopes
    * into one 32-bit spatio-temporal signature; near-dups at hamming
    * ≤ 1 via the SAME banded self-join plan widened to FOUR 8-bit
    * bands (pigeonhole: ≤ 1 differing bit leaves ≥ 3 identical bands;
    * candidates ~N²/256 per band, exact `bit_count(xor)` verify on the
    * sliver only, never all-pairs). One report row per video
    * (signature, frame count, near-dup degree, smallest partner), so
    * the census is non-vacuous at every sf. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fps = Multimodal.gifTemporalFingerprint(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id",
          "text"))
      .stage("videoNearDup:fps") // read by all four band tables + the spine
    val bands = (0 until 4).map { b =>
      fps.select(col("doc_id"), col("vfp"), lit(b).as("band"),
        expr(s"(vfp div ${1L << (8 * b)}) % 256").as("bv"))
    }.reduce(_ unionAll _)
    val cand = bands
      .join(bands.select(col("doc_id").as("doc_b"), col("vfp").as("vb"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("doc_id") < col("doc_b"))
      .select("doc_id", "doc_b", "vfp", "vb").distinct()
    val near = cand
      .filter(bit_count(col("vfp").bitwiseXOR(col("vb"))) <= 1)
      .select(col("doc_id"), col("doc_b"))
    val sym = near.unionAll(near.select(col("doc_b"), col("doc_id")))
      .toDF("d", "partner")
    val stats = sym.groupBy("d")
      .agg(count(lit(1)).as("n_near"), min("partner").as("nearest"))
    fps.join(stats, fps("doc_id") === stats("d"), "left")
      .select(col("doc_id"), col("vfp"),
        col("n_frames").cast("int").as("n_frames"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("nearest"), lit(-1L)).as("nearest_id"))
      .orderBy("doc_id")
  }

  /** Audio fingerprint near-dup census (q306):
    * [[graft.ext.Multimodal.wavEnergyFingerprint]] over every REAL
    * RIFF-parsed WAV payload (the audio third of the corpus), near-dups
    * at hamming ≤ 1 via the SAME banded self-join as the q295 image
    * tier — two 8-bit bands over the 16-bit energy fingerprint
    * (pigeonhole guarantees an identical band at hamming ≤ 1,
    * candidates ~N²/256 per band), exact `bit_count(xor)` verification
    * on the candidate sliver only. One report row per clip
    * (fingerprint, live windows, channel-0 sample count, near-dup
    * degree, smallest partner), so the census is non-vacuous at every
    * sf. Closes the multimodal dedup gap: text (q34…), image (q295),
    * and now audio all carry the same bucketed-never-all-pairs plan. */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fps = Multimodal.wavEnergyFingerprint(
        Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id",
          "text"))
      .stage("audioNearDup:fps") // read by both band tables + the report spine
    val bands = fps
      .select(col("doc_id"), col("fp"), lit(0).as("band"),
        (col("fp") % 256).as("bv"))
      .unionAll(fps.select(col("doc_id"), col("fp"), lit(1).as("band"),
        expr("fp div 256").as("bv")))
    val cand = bands
      .join(bands.select(col("doc_id").as("doc_b"), col("fp").as("fb"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("doc_id") < col("doc_b"))
      .select("doc_id", "doc_b", "fp", "fb").distinct()
    val near = cand
      .filter(bit_count(col("fp").bitwiseXOR(col("fb"))) <= 1)
      .select(col("doc_id"), col("doc_b"))
    val sym = near.unionAll(near.select(col("doc_b"), col("doc_id")))
      .toDF("d", "partner")
    val stats = sym.groupBy("d")
      .agg(count(lit(1)).as("n_near"), min("partner").as("nearest"))
    fps.join(stats, fps("doc_id") === stats("d"), "left")
      .select(col("doc_id"), col("fp"),
        col("n_windows").cast("int").as("n_windows"),
        col("n_samples"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("nearest"), lit(-1L)).as("nearest_id"))
      .orderBy("doc_id")
  }
}
