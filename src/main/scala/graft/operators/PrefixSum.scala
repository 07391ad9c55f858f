package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType,
  NumericType, StructField, StructType}
import graft.operators.Stage.StageOps

/** Distributed exclusive prefix sum — the two-pass scheme that replaces
  * the single unpartitioned window every running-total/packing/Pareto
  * operator naively plans, and the one engine behind [[GroupedPrefix]]'s
  * grouped sums and ranks:
  *
  *   1. split the ORDERING key's domain into contiguous ranges with a
  *      pure function of the key (bucketing against driver-computed
  *      approximate quantiles — a function, not a sampled exchange, so
  *      every pass sees the same split; `repartitionByRange` re-samples
  *      per job with a job-dependent seed and would misalign the
  *      passes);
  *   2. pass 1 — per-range value totals (map-side-combined aggregation,
  *      ≤ `ranges` rows per group), exclusive-scanned on the DRIVER
  *      (metadata-scale: one row per range, never one per input row);
  *   3. pass 2 — within-range exclusive prefix via a window PARTITIONED
  *      by range id, plus the broadcast per-range offset.
  *
  * With a group column the range id is `groupIndex · nBuckets +
  * valueBucket`, so ranges split freely INSIDE a group, the driver scan
  * resets at each group, and no task ever holds more than one range of
  * one group.
  *
  * No task ever holds more than one range, so the plan survives any
  * input size; `ranges` (default: session shuffle parallelism) caps the
  * per-task row count. The result is invariant to WHERE the boundaries
  * fall — any contiguous split yields identical prefix sums (pinned by
  * PackingSpec and GroupedPrefixSpec across range counts on skewed
  * input) — so the quantile approximation affects balance only, never
  * values.
  */
object PrefixSum {

  /** Adds `outCol` = exclusive running sum of `valueCol` (a LONG column;
    * NULL values contribute 0 in both passes)
    * over the order (`keyCol` asc/desc, `ties`...). `keyCol` must be
    * numeric (it is range-bucketed); rows tied on `keyCol` fall in one
    * range and are ordered by `ties` within it, so the full sort key
    * must be unique for a deterministic result — the same contract as a
    * window's ORDER BY. Triggers pass-1 jobs at call time (quantiles +
    * per-range totals). */
  def exclusive(df: DataFrame, keyCol: String, descending: Boolean,
                ties: Seq[Column], valueCol: String, outCol: String,
                ranges: Int = 0): DataFrame =
    exclusiveMulti(df, keyCol, descending, ties, Seq(valueCol -> outCol),
      ranges)

  /** [[exclusive]] for SEVERAL value columns in ONE two-pass run: the
    * quantile scan, per-range totals job and range-keyed window are all
    * shared, so n prefix columns cost the same shuffles as one (the KS
    * drift statistic runs both cohort ECDFs through a single pass).
    * `valueCols` maps each input value column to its output column. */
  def exclusiveMulti(df: DataFrame, keyCol: String, descending: Boolean,
                     ties: Seq[Column], valueCols: Seq[(String, String)],
                     ranges: Int = 0): DataFrame =
    scan(df, None, Seq(Axis(keyCol, descending, values(valueCols))), ties,
      None, ranges)

  private[operators] def values(cols: Seq[(String, String)]) =
    cols.map { case (vc, oc) => col(vc) -> oc }

  /** One ordering of a [[scan]]: the range-bucketed `keyCol` in the
    * given direction, and each (value, output column) pair summed
    * exclusively along it. */
  private[operators] case class Axis(keyCol: String, descending: Boolean,
                                     values: Seq[(Column, String)])

  /** The engine. Appends every axis's output columns, in axis order,
    * then `nCol` = the per-group total of the FIRST axis's first value
    * (the group's row count when that value is a constant 1). The input
    * is staged once, the group index (only with `groupCol`) and ONE
    * multi-column quantile job serve every axis; each axis then pays its
    * own totals pass, offset broadcast and range-keyed window. */
  private[operators] def scan(df: DataFrame, groupCol: Option[String],
                              axes: Seq[Axis], ties: Seq[Column],
                              nCol: Option[String], ranges: Int): DataFrame = {
    require(axes.nonEmpty && axes.forall(_.values.nonEmpty),
      "at least one ordering and one value column required")
    axes.foreach { a =>
      require(df.schema(a.keyCol).dataType.isInstanceOf[NumericType],
        s"prefix scan range-buckets on a numeric key; " +
          s"got ${df.schema(a.keyCol).dataType} for ${a.keyCol}") }
    val spark = df.sparkSession
    val nRanges = (if (ranges > 0) ranges
      else spark.sessionState.conf.numShufflePartitions).max(1)
    // Several passes read the input (groups, quantiles, totals, final),
    // so stage it once: localCheckpoint materializes the relation and
    // cuts lineage (blocks released by the ContextCleaner on GC, unlike
    // persist) — callers hand us a NARROW projection, so the
    // materialized footprint is (key, value)-sized, not corpus-sized.
    val input = df.stage("prefixSum:input")
    val indexed = groupCol.fold(input) { gc =>
      val rawGroups = input.select(col(gc).cast("string").as("__g"))
        .distinct().collect().map(_.getString(0))
      // A partition-by window ranks NULL as its own partition; the index
      // join here would silently DROP those rows instead. Refuse loudly
      // (checked off the already-collected distinct list — no extra
      // job); callers with a nullable key must coalesce to a sentinel.
      require(!rawGroups.contains(null),
        s"prefix scan: NULL values in group column '$gc' — coalesce to " +
          "a sentinel first (NULL rows would be silently dropped by the " +
          "group-index join)")
      val groups = rawGroups.sorted
      require(groups.length < (1 << 21),
        s"prefix scan supports < 2^21 groups, got ${groups.length}")
      // Pass 1 collects per-(group, range) totals and broadcasts the
      // offset table — the driver holds ≤ groups·nRanges rows PER AXIS.
      // Bound the PRODUCT, not just the group count: 2^21 groups ×
      // cluster-scale shuffle partitions would be a multi-GB collect.
      require(groups.length.toLong * nRanges < (1L << 24),
        s"prefix scan driver scan holds groups*ranges rows; " +
          s"${groups.length} groups * $nRanges ranges >= 2^24 — " +
          "reduce `ranges` or pre-aggregate the group key")
      import spark.implicits._
      input.withColumn("__g", col(gc).cast("string"))
        .join(broadcast(groups.zipWithIndex.toSeq.toDF("__g", "__gidx")),
          Seq("__g"))
    }
    val gid = if (groupCol.isEmpty) lit(0L) else col("__gidx").cast("long")
    // Pass 0: ONE quantile job over every distinct ordering key — it
    // scans only the key columns. Duplicate quantiles (skew) leave
    // ranges empty; correctness is boundary-agnostic.
    val keyCols = axes.map(_.keyCol).distinct
    val bounds: Map[String, Array[Double]] =
      if (nRanges == 1) keyCols.map(_ -> Array.empty[Double]).toMap
      else keyCols.zip(input.stat.approxQuantile(keyCols.toArray,
          (1 until nRanges).map(_.toDouble / nRanges).toArray, 0.01))
        .map { case (kc, bs) => kc -> bs.distinct.sorted }.toMap
    // The bucket increases along the SORT order: ascending counts
    // boundaries below the key, descending counts boundaries above it.
    // Equal keys always share a range, so `ties` ordering stays within
    // one task. NULL keys fail every comparison -> bucket 0: right
    // ascending (nulls sort FIRST), but descending sorts them LAST, so
    // they must land in the final range or the offsets shift every
    // non-null row. NaN is the mirror image (bucket 0, but Spark orders
    // NaN GREATER than everything): last range ascending, first range
    // descending (0 is already right).
    def rangeId(a: Axis): Column = {
      val bs = bounds(a.keyCol)
      val k = col(a.keyCol).cast("double")
      val bucketed =
        if (bs.isEmpty) lit(0)
        else aggregate(array(bs.map(lit(_)): _*), lit(0),
          (acc, b) => acc + (if (a.descending) when(k < b, 1).otherwise(0)
                             else when(k > b, 1).otherwise(0)))
      val floating = df.schema(a.keyCol).dataType match {
        case DoubleType | FloatType => true
        case _ => false
      }
      val b =
        if (a.descending) when(col(a.keyCol).isNull, lit(bs.length))
          .otherwise(bucketed)
        else if (floating) when(isnan(col(a.keyCol)), lit(bs.length))
          .otherwise(bucketed)
        else bucketed
      (gid * (bs.length + 1) + b).cast("long")
    }
    val based = axes.zipWithIndex.foldLeft(indexed) { case (acc, (a, i)) =>
      acc.withColumn(s"__rng_$i", rangeId(a))
    }
    // Pass 1 per axis: per-range totals of ALL its value columns in one
    // aggregation → driver-side exclusive scan, reset at each group
    // boundary (ranges are contiguous per group by construction of the
    // range id). NULL values contribute 0 — the same reading the pass-2
    // window sum gives them (sum skips nulls) — and the coalesce also
    // keeps an all-null range's total at 0L instead of a driver NPE.
    val totals = axes.zipWithIndex.map { case (a, i) =>
      val aggs = a.values.map { case (v, _) => sum(coalesce(v, lit(0L))) }
      based.groupBy(s"__rng_$i").agg(aggs.head, aggs.tail: _*)
        .orderBy(s"__rng_$i").collect()
    }
    def buckets(i: Int) = bounds(axes(i).keyCol).length + 1
    val prefixed = axes.zipWithIndex.foldLeft(based) { case (acc, (a, i)) =>
      val rng = s"__rng_$i"
      val offCols = a.values.indices.map(j => s"__off_${i}_$j")
      val zero = a.values.map(_ => 0L)
      var curG = -1L
      var run = zero
      val offRows = totals(i).map { t =>
        val r = t.getLong(0)
        if (r / buckets(i) != curG) { curG = r / buckets(i); run = zero }
        val row = Row.fromSeq(r +: run)
        run = run.indices.map(j => run(j) + t.getLong(j + 1))
        row
      }
      val offsetDf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(offRows.toSeq, 1),
        StructType((rng +: offCols).map(StructField(_, LongType)))))
      // Pass 2: within-range exclusive prefix + broadcast offset, one
      // shared range-keyed window for every value column of the axis.
      val ord = (if (a.descending) col(a.keyCol).desc
        else col(a.keyCol).asc) +: ties
      val w = Window.partitionBy(rng).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      a.values.zip(offCols).foldLeft(acc.join(offsetDf, Seq(rng))) {
        case (acc0, ((v, oc), off)) =>
          acc0.withColumn(oc, coalesce(sum(v).over(w), lit(0L)) + col(off))
      }
    }
    val withN = nCol.fold(prefixed) { nc =>
      val groupTotals = totals.head.groupBy(_.getLong(0) / buckets(0))
        .toSeq.sortBy(_._1)
        .map { case (g, ts) => Row(g, ts.map(_.getLong(1)).sum) }
      val nDf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(groupTotals, 1),
        StructType(Seq("__gidx2", nc).map(StructField(_, LongType)))))
      prefixed.join(nDf, gid === col("__gidx2")).drop("__gidx2")
    }
    withN.drop(Seq("__g", "__gidx") ++ axes.indices.flatMap(i =>
      s"__rng_$i" +: axes(i).values.indices.map(j => s"__off_${i}_$j")): _*)
  }
}
