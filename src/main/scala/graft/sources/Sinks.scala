package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side operators (SURVEY.md §2.1 SNK1/SNK2/SNK6, §4.1): the
  * storage layout that stands in for the reference's ClickHouse DDL.
  *
  * The reference declares `PARTITION BY toYYYYMM(trade_date)` and
  * `ORDER BY (symbol, trade_date)` with a skip index
  * (`/root/reference/src/clickhouse/price_client.py:78-96`). The Spark
  * equivalent at 100 TB:
  *  - month-directory partitioning → Catalyst partition pruning on any
  *    `part_month` predicate (and on date predicates via the derived
  *    column written alongside);
  *  - sort-within-partitions on the key columns → tight parquet row-group
  *    min/max stats, so key predicates skip row groups on read (the skip
  *    index approximation);
  *  - batch sizing is partition sizing (`repartition` by month) — the
  *    engine-native form of the reference's 10k-row insert batches
  *    (`price_client.py:116-172`).
  */
object Sinks {

  /** Derived month column name used for partition directories. */
  val MonthCol = "part_month"

  /** SNK1 — timestamped parquet backup
    * (`krx_delisted_crawler.py:359-369`): `<dir>/<prefix>_<stamp>.parquet`.
    * The stamp is injected so jobs are reproducible/testable. */
  def backupParquet(df: DataFrame, baseDir: String, prefix: String,
                    stamp: String): String = {
    val path = s"$baseDir/${prefix}_$stamp.parquet"
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Fact-table write with ClickHouse-equivalent layout: monthly partition
    * directories + key-sorted row groups. One shuffle (by month) sizes
    * output files; the sort is partition-local (no global sort).
    *
    * Overwrite contract: only the months present in `df` are replaced;
    * every other month directory under `path` is left as it is (dynamic
    * partition overwrite, set on this writer only — the session's
    * static default would delete the whole table first). Writing one
    * day's batch therefore replaces that day's whole month: pass the
    * full month to keep its other days. */
  def writeMonthlyPartitioned(df: DataFrame, dateCol: String,
                              sortKeys: Seq[String], path: String): Unit =
    df.withColumn(MonthCol, date_format(col(dateCol), "yyyyMM"))
      .repartition(col(MonthCol))
      .sortWithinPartitions(sortKeys.map(col): _*)
      .write.partitionBy(MonthCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** Read the partitioned fact back; month predicates prune directories,
    * key predicates skip row groups via the write-time sort. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** SNK6 DDL + co-located layout: catalog table bucketed and sorted by
    * the join keys. Two tables bucketed the same way join with ZERO
    * shuffle exchange — the big-fact⋈big-fact answer when broadcast is
    * off the table (at 100 TB, pre-bucketing the fact pays for itself on
    * the first repeated join). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction: rewrite a parquet directory into
    * target-sized files. The operational counterpart of the row-level
    * compaction (SNK7): streaming sinks and fine-grained ingests leave
    * thousands of KB-sized files per partition, and at 100 TB the
    * resulting task-per-file scheduling and footer-read overhead
    * dominate scan cost long before data volume does.
    *
    * A partitioned table root (subdirectories, no top-level data files)
    * is compacted PER PARTITION DIRECTORY, preserving the layout and its
    * pruning. Each rewrite lands in a sibling tmp directory and swaps in
    * via rename→rename→delete, with every rename's return value checked:
    * a failed move-aside aborts before anything is touched; a failed
    * swap-in restores the original and aborts; the `_precompact` backup
    * is deleted only after the live path verifiably exists again. A
    * stranded `_precompact`/`_compacting` from a prior crash makes the
    * leaf REFUSE to compact until it is explicitly recovered — renaming
    * over it could orphan the only surviving copy (single-writer
    * contract; a fully atomic swap needs a transactional table format).
    * Returns (files before, files after) across all compacted leaves. */
  def compactFiles(spark: SparkSession, path: String,
                   targetBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: Path) =
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    def compactLeaf(p: Path): (Int, Int) = {
      val before = dataFiles(p)
      if (before.isEmpty) return (0, 0)
      val nOut = math.max(1,
        math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (nOut >= before.length) return (before.length, before.length)
      val tmp = new Path(p.toString + "_compacting")
      val old = new Path(p.toString + "_precompact")
      if (fs.exists(old) || fs.exists(tmp))
        throw new java.io.IOException(
          s"stranded ${old.getName} or ${tmp.getName} beside $p from an " +
            "unfinished compaction — restore or remove it before compacting")
      spark.read.parquet(p.toString).repartition(nOut)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(p, old))
        throw new java.io.IOException(
          s"compaction aborted: could not move $p aside (nothing changed)")
      if (!fs.rename(tmp, p)) {
        fs.rename(old, p) // put the original back; the rewrite stays in tmp
        throw new java.io.IOException(
          s"compaction aborted: could not swap $tmp into $p; original restored")
      }
      if (fs.exists(p)) fs.delete(old, true) // drop backup only once live
      (before.length, dataFiles(p).length)
    }
    val topLevel = dataFiles(root)
    val leaves =
      if (topLevel.nonEmpty) Seq(root)
      else fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
        .filterNot(_.getName.endsWith("_compacting"))
        .filterNot(_.getName.endsWith("_precompact"))
    val results = leaves.map(compactLeaf)
    (results.map(_._1).sum, results.map(_._2).sum)
  }
}
