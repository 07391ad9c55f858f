package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GROUPED distributed exclusive prefix sums and ranks — the
  * [[PrefixSum]] two-pass range-bucketing engine with a group
  * dimension, replacing `Window.partitionBy(lowCardKey).orderBy(...)`
  * when the group column has FEW distinct values over data-scale rows
  * (per-source / per-segment ranks, ntiles, percentiles, running
  * budgets). A partition-by window hands each group to ONE task, so a
  * 2-to-5-value key over a corpus-scale relation serializes exactly
  * like an unpartitioned window at 100×. Here the range id is
  * `groupIndex · nBuckets + valueBucket`, so ranges split freely
  * INSIDE a group and no task ever holds more than one range of one
  * group:
  *
  *   1. the distinct group list is collected to build a dense index —
  *      metadata-scale by precondition (segments/sources/languages,
  *      < 2²¹ groups AND groups·ranges < 2²⁴ enforced — pass 1's
  *      driver scan holds one row per (group, range)); a NULL group is
  *      a loud `require` failure (a partition-by window would rank NULL
  *      as its own partition — silently dropping those rows at the
  *      index join would be row loss, so callers with a nullable key
  *      must coalesce to a sentinel first);
  *   2. GLOBAL approximate quantiles of the ordering key split its
  *      domain into contiguous buckets (per-group distributions only
  *      affect balance, never values);
  *   3. pass 1 — per-(group, bucket) totals, exclusive-scanned on the
  *      DRIVER with a reset at each group boundary;
  *   4. pass 2 — within-range prefix via a window PARTITIONED by the
  *      composite range id, plus the broadcast per-range offset.
  *
  * A rank is the exclusive count along its order plus one: an ordering
  * over a constant 1. Ties on the ordering key share a bucket (the
  * boundary comparisons can't split equal keys) and are ordered by
  * `ties` within it — the same contract as PrefixSum: the full (key,
  * ties) order must be unique within a group for a deterministic
  * result, and a pathologically hot single key value concentrates in
  * one range (inherent to any exact tie-broken ranking; still never a
  * whole group).
  */
object GroupedPrefix {
  import PrefixSum.Axis

  /** Adds each `valueCols` pair's `outCol` = exclusive running sum of
    * its LONG value column over the (`keyCol` asc/desc, `ties`...)
    * order WITHIN each `groupCol` value (NULL values contribute 0).
    * `keyCol` must be numeric; `ranges` caps per-task rows (default:
    * session shuffle parallelism). Triggers pass-1 jobs at call time
    * (group index, quantiles, per-range totals), like [[PrefixSum]]. */
  def exclusiveMulti(df: DataFrame, groupCol: String, keyCol: String,
                     descending: Boolean, ties: Seq[Column],
                     valueCols: Seq[(String, String)],
                     ranges: Int = 0): DataFrame =
    PrefixSum.scan(df, Some(groupCol),
      Seq(Axis(keyCol, descending, PrefixSum.values(valueCols))), ties,
      None, ranges)

  /** Adds `rankCol` = row_number within `groupCol` over the
    * (`keyCol` asc/desc, `ties`...) total order — 1-based, identical
    * to `row_number().over(Window.partitionBy(group).orderBy(...))` —
    * and, when `nCol` is set, the group's total row count (the pair
    * every ntile / percent_rank / cume_dist derives from; group totals
    * come free from the driver-side pass-1 scan, no extra job). */
  def rankWithin(df: DataFrame, groupCol: String, keyCol: String,
                 descending: Boolean, ties: Seq[Column], rankCol: String,
                 nCol: Option[String] = None, ranges: Int = 0): DataFrame =
    ranksMulti(df, groupCol, Seq((keyCol, descending, rankCol)), ties,
      nCol, ranges)

  /** SEVERAL grouped ranks over DIFFERENT ordering keys in ONE shared
    * machine (q211's three RFM quintiles, q215's two Spearman rank
    * axes): the input staging, group-index collect and quantile scan
    * run once for all specs (multi-column `approxQuantile`); each spec
    * then pays only its own per-range totals pass and range-keyed
    * window. `specs` = (keyCol, descending, rankCol) triples sharing
    * the `ties` tiebreak; output appends each spec's rank column in
    * spec order, then `nCol`. */
  def ranksMulti(df: DataFrame, groupCol: String,
                 specs: Seq[(String, Boolean, String)], ties: Seq[Column],
                 nCol: Option[String] = None, ranges: Int = 0): DataFrame = {
    val counted = PrefixSum.scan(df, Some(groupCol),
      specs.map { case (kc, desc, rc) => Axis(kc, desc, Seq(lit(1L) -> rc)) },
      ties, nCol, ranges)
    specs.foldLeft(counted) { case (acc, (_, _, rc)) =>
      acc.withColumn(rc, col(rc) + 1L) }
  }

  /** SQL-standard NTILE(b) recovered from a [[rankWithin]] (rank, n)
    * pair: the first n mod b buckets take ⌈n/b⌉ rows, the rest ⌊n/b⌋ —
    * the exact semantics Spark and DuckDB share (ties already broken
    * by the rank's total order). Integer arithmetic only. */
  def ntileFromRank(rank: Column, n: Column, b: Int): Column = {
    require(b >= 1, s"ntile needs b >= 1, got $b")
    val bb = lit(b.toLong)
    val nn = n.cast("long")
    val r = rank.cast("long")
    // floor divisions of NONNEGATIVE integers, so floor(double div) is
    // exact up to 2^53 — far past any group size
    val q = floor(nn / bb).cast("long")
    val rem = nn - q * bb
    val thr = rem * (q + lit(1L))
    when(r <= thr, floor((r - lit(1L)) / (q + lit(1L))).cast("long") + lit(1L))
      .otherwise(rem + floor((r - thr - lit(1L)) / q).cast("long") + lit(1L))
      .cast("int")
  }

  /** percent_rank recovered from a tie-free (rank, n) pair:
    * (rank−1)/(n−1), 0.0 for a single-row group — the SQL-standard
    * value when the window order is a total order (every graft rank
    * is; with ties percent_rank would need the rank of the first
    * peer). */
  def percentRankFromRank(rank: Column, n: Column): Column =
    when(n.cast("long") === 1L, lit(0.0))
      .otherwise((rank.cast("double") - 1.0) / (n.cast("double") - 1.0))

  /** cume_dist recovered from a tie-free (rank, n) pair: rank/n (with
    * ties it would be last-peer-rank/n; graft orders are total). */
  def cumeDistFromRank(rank: Column, n: Column): Column =
    rank.cast("double") / n.cast("double")
}
