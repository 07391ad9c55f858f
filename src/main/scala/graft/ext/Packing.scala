package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Deterministic sequence packing: assign documents, in key order, to
  * fixed-token-budget bins — the "group texts into training sequences"
  * step that turns a filtered corpus into fixed-length training rows.
  * Documents are not split; a doc belongs to the bin its starting offset
  * falls in (greedy by running token count), so bins can overhang by at
  * most one document — the standard concat-and-chunk formulation.
  *
  * The assignment is an exclusive prefix sum over the corpus order,
  * computed with the distributed two-pass scheme of
  * [[graft.operators.PrefixSum]] — per-range partial sums under a
  * deterministic key bucketing, a driver-side exclusive scan over the
  * ≤ `ranges` per-range totals, broadcast offsets back. No single task
  * ever sees more than one range, so the plan survives a corpus of any
  * size — the failure mode of the naive global-window form (kept as
  * [[packByBudgetGlobalWindow]] for the equality spec) is the one
  * unpartitioned window that drags every (doc, count) row to a single
  * task. Packing is inherently an ordered prefix operation; two passes
  * over the narrow (key, n_tokens) projection is the shuffle-minimal
  * form (PrefixSum stages the projection once via localCheckpoint, so
  * the text is tokenized exactly once however many passes read it).
  *
  * Bin assignment is invariant to WHERE the range boundaries fall (any
  * contiguous split yields the same prefix sums — PackingSpec pins
  * equality for range counts 1/3/8/64 on a skewed corpus), so the
  * quantile approximation only affects balance, never values.
  */
object Packing {

  /** (doc_id, n_tokens, bin) with `bin = floor(prefix_tokens / budget)`,
    * prefix exclusive, ordered by `keyCol` (numeric). Distributed
    * two-pass prefix sum; `ranges` defaults to the session's shuffle
    * parallelism. */
  def packByBudget(docs: DataFrame, keyCol: String, textCol: String,
                   budget: Int, ranges: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.types.{NumericType, StringType, DateType,
      TimestampType}
    val n = size(TextOps.tokens(TextOps.normText(col(textCol)))).cast("long")
    val keyType = docs.schema(keyCol).dataType
    // The prefix machinery range-buckets on a NUMERIC key. Non-numeric
    // corpus orderings get an order-preserving numeric SURROGATE —
    // never the single-task global window the two-pass scheme exists to
    // eliminate (a silent fallback at 100 TB is a scale-killer with no
    // signal). Strings: first 7 UTF-8 bytes read big-endian as an
    // unsigned 56-bit int (Spark compares strings by unsigned UTF-8
    // bytes, so the surrogate is monotone in the string order; ties —
    // strings sharing a 7-byte prefix — share a bucket by construction
    // and are ordered by the full key WITHIN it via the window's tie
    // ordering, so boundaries still never affect values). Dates /
    // timestamps: days / microseconds since epoch. Anything else fails
    // fast instead of degrading.
    val surrogate: Option[org.apache.spark.sql.Column] = keyType match {
      case _: NumericType => None
      case StringType => Some(
        conv(rpad(hex(substring(encode(col(keyCol), "UTF-8"), 1, 7)),
          14, "0"), 16, 10).cast("long"))
      case DateType => Some(datediff(col(keyCol), to_date(lit("1970-01-01")))
        .cast("long"))
      case TimestampType => Some(unix_micros(col(keyCol)))
      case other => throw new IllegalArgumentException(
        s"packByBudget orders by a numeric/string/date/timestamp key; " +
          s"got $other for $keyCol")
    }
    // Narrow projection first: only (key, n_tokens) ever reaches the
    // prefix machinery — the text never travels through an exchange.
    surrogate match {
      case None =>
        val base = docs.select(col(keyCol), n.as("n_tokens"))
        graft.operators.PrefixSum.exclusive(base, keyCol,
            descending = false, ties = Seq.empty, valueCol = "n_tokens",
            outCol = "prefix", ranges = ranges)
          .select(col(keyCol), col("n_tokens"),
            floor(col("prefix") / budget).as("bin"))
      case Some(sk) =>
        val base = docs.select(col(keyCol), sk.as("__pack_key"),
          n.as("n_tokens"))
        graft.operators.PrefixSum.exclusive(base, "__pack_key",
            descending = false, ties = Seq(col(keyCol)),
            valueCol = "n_tokens", outCol = "prefix", ranges = ranges)
          .select(col(keyCol), col("n_tokens"),
            floor(col("prefix") / budget).as("bin"))
    }
  }

  /** Grouped packing: independent bin sequences per `groupCol` value
    * (per-language / per-source training shards), each group packed in
    * `keyCol` (numeric) order exactly like [[packByBudget]]. NOT a
    * per-group window: a dominant group (the 80%-English corpus) would
    * drag its whole slice into one task. Instead the grouped exclusive
    * sum of [[graft.operators.GroupedPrefix]] splits ranges freely
    * INSIDE a group and restarts the running count at each group, for
    * any key value. The group index is metadata-scale (languages /
    * sources, not documents): < 2²¹ groups and groups·ranges < 2²⁴. */
  def packByBudgetGrouped(docs: DataFrame, groupCol: String, keyCol: String,
                          textCol: String, budget: Int,
                          ranges: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val n = size(TextOps.tokens(TextOps.normText(col(textCol)))).cast("long")
    // NULL groups have no defined shard — they drop out, the same
    // reading as a partitioned write's null partition being separated.
    val base = docs
      .select(col(groupCol).cast("string").as("g"), col(keyCol),
        n.as("n_tokens"))
      .filter(col("g").isNotNull)
    graft.operators.GroupedPrefix.exclusiveMulti(base, "g", keyCol,
        descending = false, ties = Seq.empty,
        valueCols = Seq("n_tokens" -> "prefix"), ranges = ranges)
      .select(col("g").as(groupCol), col(keyCol), col("n_tokens"),
        expr(s"prefix div $budget").as("bin"))
  }

  /** Per-(group, bin) rollup of [[packByBudgetGrouped]]. */
  def packingReportGrouped(docs: DataFrame, groupCol: String, keyCol: String,
                           textCol: String, budget: Int): DataFrame =
    packByBudgetGrouped(docs, groupCol, keyCol, textCol, budget)
      .groupBy(groupCol, "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min(keyCol).as("first_id"), max(keyCol).as("last_id"))

  /** The naive single-window form of [[packByBudget]]: exact and
    * oracle-mirrorable, but the unpartitioned window moves every
    * (key, n_tokens) row to ONE task — reference semantics for the
    * equality spec, not a scale path. */
  private[graft] def packByBudgetGlobalWindow(
      docs: DataFrame, keyCol: String, textCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val n = size(TextOps.tokens(TextOps.normText(col(textCol)))).cast("long")
    val w = Window.orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(keyCol), n.as("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget))
  }

  /** Per-bin packing report: docs per bin, token fill, and the id range
    * packed into each bin. */
  def packingReport(docs: DataFrame, keyCol: String, textCol: String,
                    budget: Int): DataFrame =
    packByBudget(docs, keyCol, textCol, budget)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min(keyCol).as("first_id"), max(keyCol).as("last_id"))

  /** PACKING-EFFICIENCY FRONTIER (q277) — the choose-your-context-length
    * curve: for each candidate token budget, how many training bins the
    * corpus packs into, the average fill, and the overhang volume (this
    * packing never splits docs, so a bin whose last doc crosses the
    * boundary overfills — the standard concat-and-chunk tradeoff that
    * shrinks as the budget grows relative to doc length). The decision
    * readout behind picking max_seq_len.
    *
    * ONE exclusive prefix pass serves EVERY budget: bin id is pure
    * arithmetic over the shared prefix (floor(prefix / b)), so the
    * sweep costs one tokenize + one two-pass prefix sum + |budgets|
    * bin-keyed rollups over the staged (key, n_tokens, prefix)
    * projection — never |budgets| corpus scans. Total tokens are
    * budget-invariant by construction (the cross-row sanity pin). */
  def packingSweep(docs: DataFrame, keyCol: String, textCol: String,
                   budgets: Seq[Int] = Seq(256, 512, 1024, 2048))
      : DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0), "budgets must be > 0")
    val n = size(TextOps.tokens(TextOps.normText(col(textCol)))).cast("long")
    val base = docs.select(col(keyCol), n.as("n_tokens"))
    val pref = graft.operators.PrefixSum.exclusive(base, keyCol,
        descending = false, ties = Seq.empty, valueCol = "n_tokens",
        outCol = "prefix", ranges = 0)
      .stage("packingSweep:prefix") // read once per budget
    budgets.map { b =>
      pref.select(floor(col("prefix") / b).as("bin"), col("n_tokens"))
        .groupBy("bin").agg(sum("n_tokens").as("fill"))
        .agg(count(lit(1)).as("n_bins"), sum("fill").as("total_tokens"),
          sum(when(col("fill") > b, col("fill") - b).otherwise(0L))
            .as("overhang_tokens"),
          sum(when(col("fill") > b, 1L).otherwise(0L)).as("n_overhang"))
        .select(lit(b).cast("int").as("budget"),
          col("n_bins").cast("long").as("n_bins"),
          col("total_tokens").cast("long").as("total_tokens"),
          expr(s"total_tokens * 1000000 div (n_bins * $b)")
            .as("avg_fill_ppm"),
          col("n_overhang").cast("long").as("n_overhang_bins"),
          col("overhang_tokens").cast("long").as("overhang_tokens"),
          expr("overhang_tokens * 1000000 div total_tokens")
            .as("overhang_ppm"))
    }.reduce(_ unionAll _).orderBy("budget")
  }
}
