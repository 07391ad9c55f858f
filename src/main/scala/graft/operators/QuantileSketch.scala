package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass quantile sketches over a LONG column, ungrouped or per group,
  * on two bucket grids — the mergeable approximate-quantile path for
  * corpus-scale columns. Exact quantiles (`percentile`) materialize and
  * sort every value; at 10¹² rows that is the query. A sketch instead
  * reduces the column to a bounded spine of integer buckets in one
  * map-side-combined aggregation (buckets merge by addition, so partial
  * aggregation and multi-snapshot union are free), then answers any
  * quantile from the cumulative bucket counts with a deterministic
  * within-bucket linear interpolation — all arithmetic in exact
  * integers, so the estimate is engine-identical.
  *
  * Every sketch is the same three steps:
  *   1. the grid's bucket function keys each non-NULL value and one
  *      (group, bucket)-keyed count — the only corpus-wide exchange —
  *      builds the spine;
  *   2. the cumulative count `cum_excl` over the spine: ungrouped, the
  *      range-keyed two-pass [[PrefixSum.exclusive]] (no unpartitioned
  *      window even over ≤ `buckets` rows); grouped, a window
  *      PARTITIONED by the group over its own spine, with the group total
  *      `n` as a second window — per-key state bounded by the grid,
  *      never by group size;
  *   3. the one readout: the tiny literal probability list is broadcast
  *      and cross-joined against the spine (the one deliberate
  *      nested-loop join, ≤ |probs|·spine rows), each probe's rank
  *      ⌊p·(n−1)⌋ picks its owning bucket (cum_excl ≤ rank <
  *      cum_excl + cnt), and the estimate interpolates inside it.
  *
  * The grids differ only in step 1 and in the scalars the spine carries:
  *   - equi-width ([[histogramQuantiles]]): B cells over one global
  *     (min, max) — a scalar aggregate broadcast into the value scan and
  *     again into the readout (ungrouped, it carries `n` too); error ≤
  *     one cell width;
  *   - log ([[logQuantiles]]): magnitude buckets on a value-independent
  *     grid — no pre-scan; ungrouped, `n` is one more broadcast count;
  *     relative error ≤ 2^−subBits.
  * Rank semantics: the estimate targets zero-indexed rank ⌊p·(n−1)⌋
  * (lower-rounded, the deterministic integer analogue of type-1
  * quantiles). `probsPpm` are in ppm (500000 = median).
  */
object QuantileSketch {

  /** Quantile estimates for `probsPpm` over LONG `valueCol` on `buckets`
    * equi-width cells: one row per probe with `prob_ppm`, the owning
    * cell's bounds `cell_lo`/`cell_hi`, its count `cell_count`, the
    * total count `n` and the interpolated integer `estimate`. */
  def histogramQuantiles(df: DataFrame, valueCol: String,
                         buckets: Int = 256,
                         probsPpm: Seq[Long] = Seq(250000L, 500000L,
                           900000L, 990000L)): DataFrame =
    histogram(df, None, valueCol, buckets, probsPpm)

  /** Per-group [[histogramQuantiles]] on a SHARED global cell grid (one
    * (min, max) over the whole column, so cells are comparable and
    * mergeable across groups): one row per (group, probe). */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
                                valueCol: String, buckets: Int = 256,
                                probsPpm: Seq[Long] = Seq(250000L, 500000L,
                                  900000L, 990000L)): DataFrame =
    histogram(df, Some(groupCol), valueCol, buckets, probsPpm)

  /** LOG-BUCKETED quantile sketch — the HEAVY-TAIL tier the equi-width
    * histogram cannot provide (cf. DDSketch, Masson–Rim–Lee VLDB 2019;
    * HdrHistogram's bucketing): bucket boundaries follow value
    * MAGNITUDE, so one 10⁴× outlier costs one extra bucket instead of
    * collapsing every interior cell (the equi-width failure: a 1 GB
    * document in a corpus of kB-documents makes all small values share
    * cell 0 and every percentile estimate goes vague exactly where the
    * distribution lives).
    *
    * Bucketing, integer-exact on both engines (no log() call): for
    * v ≥ 0 with e = ⌊log₂ v⌋ = length(bin(v)) − 1,
    *   shift = max(e − subBits, 0),  bucket = shift·2^(subBits+1) + (v div 2^shift)
    * — values < 2^(subBits+1) map to themselves (exact); larger values
    * keep their top subBits+1 bits. The id is strictly monotone in v,
    * each bucket spans [q·2^shift, (q+1)·2^shift − 1], so the RELATIVE
    * value error is ≤ 2^−subBits (width/lo = 1/q ≤ 1/2^subBits) at any
    * magnitude — the DDSketch guarantee, deterministic.
    *
    * Mergeability is STRONGER than the equi-width sketch's: the grid is
    * value-independent (no (min, max) pre-scan), so bucket count maps
    * from different partitions, snapshots or CLUSTERS merge by plain
    * addition with no re-bucketing. Bucket spine ≤ 64·(64−subBits) rows
    * regardless of data. Columns as [[histogramQuantiles]] with
    * `bucket_lo`/`bucket_hi`/`bucket_count`. Values must be NON-NEGATIVE
    * (`bin` of a negative long reads its two's-complement bits —
    * meaningless magnitude); violations fail loudly per row. */
  def logQuantiles(df: DataFrame, valueCol: String, subBits: Int = 5,
                   probsPpm: Seq[Long] = Seq(250000L, 500000L, 900000L,
                     990000L, 999000L)): DataFrame =
    logSketch(df, None, valueCol, subBits, probsPpm, "logQuantiles")

  /** Per-group [[logQuantiles]] on the SAME value-independent grid (so
    * per-group maps stay mergeable by addition — no shared pre-scan to
    * coordinate): one row per (group, probe). */
  def groupedLogQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                          subBits: Int = 5,
                          probsPpm: Seq[Long] = Seq(250000L, 500000L,
                            900000L, 990000L, 999000L)): DataFrame =
    logSketch(df, Some(groupCol), valueCol, subBits, probsPpm,
      "groupedLogQuantiles")

  /** A bucket grid: `assign` appends the bucket-key columns `keys` (the
    * first orders the spine) to value rows; `start(i)` is the smallest
    * value of the bucket whose `index` column is i, so a spine row's
    * bounds, reported as `<unit>_lo`/`<unit>_hi`/`<unit>_count`, are
    * start(index) and start(index + 1) − 1. */
  private final case class Grid(unit: String, keys: Seq[String], index: String,
                                assign: DataFrame => DataFrame,
                                start: String => String)

  /** Equi-width cells over [vmin, vmax] (columns of the value row): with
    * R = vmax − vmin + 1, cell id ((v−min)·B) div R in [0, B); the +1
    * keeps v = max inside the last cell without a special case. Cell c
    * holds exactly the offsets v − vmin in [⌈c·R/B⌉, ⌈(c+1)·R/B⌉ − 1],
    * which are the reported bounds, so every occupied cell has hi ≥ lo
    * even when R < B. (v−min)·B must fit 64 bits — rescale
    * wider-than-2⁵⁴ domains before sketching. */
  private def widthGrid(buckets: Int): Grid = Grid("cell", Seq("cell"), "cell",
    _.withColumn("cell", expr(s"((v - vmin) * $buckets) div (vmax - vmin + 1)")),
    c => s"vmin + ($c * (vmax - vmin + 1) + ${buckets - 1}) div $buckets")

  /** Log buckets (see [[logQuantiles]]); a negative value raises
    * `negative`·value. */
  private def logGrid(subBits: Int, negative: String): Grid =
    Grid("bucket", Seq("bucket", "shift", "q"), "q",
      _.withColumn("v", when(col("v") >= 0L, col("v"))
          .otherwise(raise_error(concat(lit(negative), col("v").cast("string")))))
        .withColumn("e", (length(bin(col("v"))) - 1).cast("long"))
        .withColumn("shift", greatest(col("e") - subBits, lit(0L)))
        .withColumn("q", expr("v div shiftleft(1L, cast(shift as int))"))
        .withColumn("bucket",
          (col("shift") * (1L << (subBits + 1)) + col("q")).cast("long")),
      q => s"$q * shiftleft(1L, cast(shift as int))")

  private def histogram(df: DataFrame, group: Option[String], valueCol: String,
                        buckets: Int, probsPpm: Seq[Long]): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val v = values(df, group, valueCol, probsPpm)
    // ungrouped, n rides the (min, max) scalar; grouped, the spine's
    // window computes it
    val stats = v.agg(min("v").as("vmin"), max("v").as("vmax") +:
      (if (group.isEmpty) Seq(count(lit(1)).as("n")) else Nil): _*)
    val grid = widthGrid(buckets)
    readout(spine(v.crossJoin(broadcast(stats)), group, grid)
      .crossJoin(broadcast(stats)), group, grid, probsPpm)
  }

  private def logSketch(df: DataFrame, group: Option[String], valueCol: String,
                        subBits: Int, probsPpm: Seq[Long],
                        fn: String): DataFrame = {
    require(subBits >= 1 && subBits <= 12,
      s"subBits must be in [1, 12], got $subBits")
    val v = values(df, group, valueCol, probsPpm)
    val grid = logGrid(subBits, s"$fn: negative $valueCol: ")
    val s = spine(v, group, grid)
    readout(if (group.isDefined) s
      else s.crossJoin(broadcast(v.agg(count(lit(1)).as("n")))),
      group, grid, probsPpm)
  }

  /** The non-NULL values as (g, v) — or (v) ungrouped — after checking
    * `probsPpm`. */
  private def values(df: DataFrame, group: Option[String], valueCol: String,
                     probsPpm: Seq[Long]): DataFrame = {
    require(probsPpm.nonEmpty && probsPpm.forall(p => p >= 0 && p <= 1000000),
      s"probs must be ppm in [0, 1e6], got $probsPpm")
    df.select(group.map(col(_).as("g")).toSeq :+
        col(valueCol).cast("long").as("v"): _*)
      .filter(col("v").isNotNull)
  }

  /** Steps 1 and 2: per-bucket counts `cnt` with `cum_excl` (and,
    * grouped, the group total `n`). */
  private def spine(v: DataFrame, group: Option[String], grid: Grid): DataFrame = {
    val cells = grid.assign(v)
      .groupBy((group.map(_ => "g").toSeq ++ grid.keys).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    if (group.isEmpty)
      PrefixSum.exclusive(cells, grid.keys.head, descending = false,
        ties = Seq.empty, valueCol = "cnt", outCol = "cum_excl")
    else {
      val g = Window.partitionBy("g")
      cells
        .withColumn("cum_excl", coalesce(sum("cnt").over(g.orderBy(grid.keys.head)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("cnt").over(g))
    }
  }

  /** Step 3, the one readout. */
  private def readout(spine: DataFrame, group: Option[String], grid: Grid,
                      probsPpm: Seq[Long]): DataFrame = {
    val (lo, hi) = (s"${grid.unit}_lo", s"${grid.unit}_hi")
    val probs = spine.sparkSession.createDataFrame(
        probsPpm.distinct.sorted.map(java.lang.Long.valueOf).map(Tuple1(_)))
      .toDF("prob_ppm")
    spine.crossJoin(broadcast(probs))
      .withColumn("rank", expr("(prob_ppm * (n - 1)) div 1000000"))
      .filter(col("cum_excl") <= col("rank") &&
        col("rank") < col("cum_excl") + col("cnt"))
      .withColumn(lo, expr(grid.start(grid.index)))
      .withColumn(hi, expr(s"${grid.start(s"(${grid.index} + 1)")} - 1"))
      .withColumn("estimate", expr(s"$lo + ((rank - cum_excl) * ($hi - $lo)) div cnt"))
      .select(group.map(col("g").as(_)).toSeq ++ Seq(col("prob_ppm"),
        col(lo), col(hi), col("cnt").as(s"${grid.unit}_count"),
        col("n").cast("long").as("n"), col("estimate")): _*)
      .orderBy((group.toSeq :+ "prob_ppm").map(col): _*)
  }
}
