package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.{DailyPipeline, Ingest}
import graft.model.Catalog
import graft.queries.MarketClient
import graft.sources.Sinks

/** `daily_batch`: the reference's daily KRX job, replayed over the crawl
  * drops and price rows `datagen.py` derives from `customer` (the listing
  * master) and `orders` (the price fact keyed by `o_custkey`, sliced by
  * `o_orderdate`). Every drop is raw and all-string, under the crawler's
  * Korean headers, with a seeded share of dirty rows.
  *
  * One pass, always the same work for a seed:
  *  1. backfill: a listing snapshot as of the cutoff goes through
  *     normalize, validate/rejects and merge into an empty state, and
  *     the price history up to the cutoff is landed;
  *  2. each day after the cutoff: normalize, validate/rejects, merge,
  *     persist the state, land the day's prices (`Sinks.backupParquet`),
  *     then the day reports (`DailyPipeline.report`,
  *     `MarketClient.getTopPerformers`, `Catalog.dailyMarketSummary`);
  *  3. once per replay: `Ingest.compactReplacing` of the landed fact,
  *     `Sinks.writeMonthlyPartitioned`, `Sinks.compactFiles`.
  *
  * `writeMonthlyPartitioned` overwrites the whole table under Spark's
  * default static partition-overwrite mode (two single-day writes leave
  * only the second day), so it runs once per replay, over the whole fact.
  *
  * Every pass starts from an empty state (see [[Ctx.passes]]); the
  * operation whose latency is reported is one replayed day.
  */
object DailyBatch {
  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
  private def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val drops = spark.read.parquet(s"${c.dataDir}/drops.parquet")
    val prices = spark.read.parquet(s"${c.dataDir}/prices.parquet")
    // Per day: date, drop rows, price rows (written by datagen.py).
    val daily = scala.io.Source.fromFile(s"${c.dataDir}/daily.tsv").getLines()
      .map(_.split("\t")).map(f => f(0).toInt -> (f(1), f(2).toLong, f(3).toLong)).toMap
    val lastDay = daily.keys.max
    def day(i: Int): String = daily(i)._1
    def stamp(i: Int): String = s"${day(i)} 18:00:00"
    def pathStamp(i: Int): String = day(i).replace("-", "") + "T1800"
    def rawDrop(i: Int): DataFrame = drops.filter(col("_day") === i).drop("_day")
    def dayPrices(i: Int): DataFrame = prices.filter(col("_day") === i).drop("_day")
    val rowsIn = daily.map { case (i, (_, n, _)) => i -> n }
    val priceRows = daily.values.map(_._3).sum
    val backfillRows = daily(0)._2 + daily(0)._3

    var state: DataFrame = null
    var statePath = ""
    /** normalize → validate/rejects → merge → persist the new state. */
    def ingest(out: String, i: Int): Unit = {
      val norm = c.tracer.span("ingest.normalize", "ingest")(DailyPipeline.normalize(rawDrop(i), stamp(i)))
      val accepted = c.tracer.span("ingest.validate", "ingest")(DailyPipeline.validate(norm))
      val rejected = c.tracer.span("ingest.rejects", "ingest")(DailyPipeline.rejects(norm))
      c.tracer.span("sinks.write.rejects", "sinks")(
        Sinks.backupParquet(rejected, s"$out/rejects", "rejects", pathStamp(i)))
      val base = if (state == null) DailyPipeline.emptyState(spark) else state
      statePath = c.tracer.span("ingest.merge", "ingest") {
        val merged = DailyPipeline.merge(base, accepted)
        c.tracer.span("sinks.write.state", "sinks")(
          Sinks.backupParquet(merged, s"$out/state", "state", pathStamp(i)))
      }
      state = spark.read.parquet(statePath)
    }
    def land(out: String, i: Int): Unit =
      c.tracer.span("sinks.write.prices", "sinks")(
        Sinks.backupParquet(dayPrices(i), s"$out/prices", "prices", pathStamp(i)))
    def fact(out: String): DataFrame = spark.read.parquet(s"$out/prices/*.parquet")
    def report(out: String, i: Int): Unit = c.tracer.span("report.day", "report") {
      val d = day(i)
      val client = new MarketClient(state, fact(out))
      c.full(s"exec.report.master.$i", DailyPipeline.report(state))
      c.full(s"exec.report.top_performers.$i", client.getTopPerformers(d))
      c.full(s"exec.report.catalog_daily.$i", Catalog.dailyMarketSummary(spark, c.dataDir)
        .filter(col("order_date") === lit(d).cast("date")))
    }

    var out = ""
    var passNo = 0
    val backfillRates = mutable.ArrayBuffer.empty[Double]
    val outcome = c.passes("day") {
      if (out.nonEmpty) deleteTree(new File(out))
      out = s"${c.workDir}/pass$passNo"
      passNo += 1
      state = null
      c.op("backfill") { ingest(out, 0); land(out, 0) }.foreach(t => backfillRates += backfillRows / t)
      if (state != null) (1 to lastDay).foreach { i =>
        c.op(s"day.$i") { ingest(out, i); land(out, i); report(out, i) }
      }
      c.op("replay_tail") {
        val compacted = c.tracer.span("ingest.compact_replacing", "ingest")(
          Ingest.compactReplacing(fact(out), Seq("symbol", "trade_date"), col("update_dt"),
            Seq(col("close_price").desc)))
        c.tracer.span("sinks.write.monthly", "sinks")(
          Sinks.writeMonthlyPartitioned(compacted, "trade_date", Seq("symbol", "trade_date"), s"$out/fact"))
        c.tracer.span("sinks.compact", "sinks")(Sinks.compactFiles(spark, s"$out/fact"))
      }
    }

    // Correctness of the last pass.
    val all = (0 to lastDay).map(i => DailyPipeline.normalize(rawDrop(i), stamp(i))
      .withColumn("_b", lit(i)))
    val oneShot = DailyPipeline.merge(DailyPipeline.emptyState(spark),
      DailyPipeline.validate(all.map(_.drop("_b")).reduce(_ unionByName _)))
    val finalDigest = Timed.full(state)
    val stateRows = finalDigest.rows
    c.check("state_equals_one_shot_merge", Timed.full(oneShot) == finalDigest,
      "incremental state differs")
    val replayed = DailyPipeline.merge(state,
      DailyPipeline.validate(DailyPipeline.normalize(rawDrop(lastDay), stamp(lastDay))))
    c.check("replay_last_day_idempotent", Timed.full(replayed) == finalDigest,
      "replaying the last day changed the state")
    val tagged = all.reduce(_ unionByName _)
    def perDay(df: DataFrame): Map[Int, Long] =
      df.groupBy("_b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val acc = perDay(DailyPipeline.validate(tagged))
    val rej = perDay(DailyPipeline.rejects(tagged))
    (0 to lastDay).foreach { i =>
      val (a, r, n) = (acc.getOrElse(i, 0L), rej.getOrElse(i, 0L), rowsIn.getOrElse(i, 0L))
      c.check(s"accepted_plus_rejected.$i", a + r == n, s"$a + $r != $n")
    }
    val factRows = Sinks.readPartitioned(spark, s"$out/fact").count()
    c.check("fact_rows_equal_day_rows", factRows == priceRows, s"$factRows != $priceRows")

    val stored = dirBytes(new File(statePath)) + dirBytes(new File(s"$out/fact"))
    val rowsInTotal = rowsIn.values.sum
    val accTotal = acc.values.sum
    outcome.copy(
      info = outcome.info ++ Seq("days_per_pass" -> lastDay,
        "backfill_rows_per_s" -> (if (backfillRates.isEmpty) 0.0 else Stats.median(backfillRates.toSeq)),
        "stored_bytes_per_row" -> stored.toDouble / (stateRows + factRows)),
      layerCounts = Seq(
        ("ingest.rows_in", rowsInTotal.toDouble, "count"),
        ("ingest.rows_accepted", accTotal.toDouble, "count"),
        ("ingest.reject_ratio", if (rowsInTotal > 0) 1 - accTotal.toDouble / rowsInTotal else 0.0, "ratio"),
        ("ingest.state_rows", stateRows.toDouble, "count"),
        ("sinks.files_written", dataFiles(new File(out)).toDouble, "count"),
        ("sinks.files_after_compact", dataFiles(new File(s"$out/fact")).toDouble, "count"),
        ("sinks.stored_bytes", stored.toDouble, "bytes")))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
