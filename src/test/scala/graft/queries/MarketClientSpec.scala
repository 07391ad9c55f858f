package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reference-shaped client facade against hand-built master/price
  * tables with known answers — the "switch your client over" surface.
  */
class MarketClientSpec extends SparkSpec {
  import spark.implicits._

  // two KOSPI symbols + one KOSDAQ, one delisted
  private def master = Seq(
    ("005930", "Samsung", "KOSPI", Some("2000-01-01"), None: Option[String], 1),
    ("035720", "Kakao", "KOSPI", Some("2017-07-10"), None: Option[String], 1),
    ("123456", "SmallCo", "KOSDAQ", Some("2001-01-01"), Some("2020-06-30"), 0)
  ).toDF("symbol", "name", "market", "listing_date", "delisting_date", "is_active")
    .withColumn("listing_date", col("listing_date").cast("date"))
    .withColumn("delisting_date", col("delisting_date").cast("date"))
    .withColumn("update_dt", to_timestamp(lit("2026-01-01 00:00:00")))

  // two days of prices; Samsung +10% day 2, Kakao -5% day 2
  private def price = Seq(
    ("005930", "2026-01-02", 100.0, 50L, 5000L, "2026-01-03 00:00:00"),
    ("005930", "2026-01-03", 110.0, 60L, 6600L, "2026-01-03 00:00:00"),
    ("035720", "2026-01-02", 200.0, 30L, 6000L, "2026-01-03 00:00:00"),
    ("035720", "2026-01-03", 190.0, 40L, 7600L, "2026-01-03 00:00:00"),
    ("123456", "2026-01-02", 10.0, 5L, 50L, "2026-01-03 00:00:00")
  ).toDF("symbol", "trade_date", "close_price", "volume", "amount", "update_dt")
    .withColumn("trade_date", col("trade_date").cast("date"))
    .withColumn("open_price", col("close_price") - 1)
    .withColumn("high_price", col("close_price") + 1)
    .withColumn("low_price", col("close_price") - 2)
    .withColumn("update_dt", to_timestamp(col("update_dt")))

  private def client = new MarketClient(master, price)

  test("getStockData filters symbols + range and joins names") {
    val out = client.getStockData(Seq("005930"), Some("2026-01-03"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("name") == "Samsung")
    assert(out(0).getAs[Double]("close_price") == 110.0)
  }

  test("getMarketSummary aggregates one day per market, amount-ordered") {
    val out = client.getMarketSummary("2026-01-02").collect()
    assert(out.map(_.getAs[String]("market")).toSeq == Seq("KOSPI", "KOSDAQ"))
    val kospi = out(0)
    assert(kospi.getAs[Long]("stock_count") == 2)
    assert(kospi.getAs[Double]("avg_price") == 150.0)
    assert(kospi.getAs[Long]("total_volume") == 80L)
  }

  test("getTopPerformers ranks by day-over-day change with real prev_close") {
    val out = client.getTopPerformers("2026-01-03").collect()
    assert(out.map(_.getAs[String]("symbol")).toSeq == Seq("005930", "035720"))
    assert(math.abs(out(0).getAs[Double]("change_pct") - 10.0) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("change_pct") + 5.0) < 1e-9)
  }

  test("getBacktestUniverse applies listing/delisting windows and the cap gate") {
    val all = client.getBacktestUniverse("2026-01-02", "2026-01-05")
      .collect().map(_.getString(0)).toSeq
    assert(all == Seq("005930", "035720"))  // SmallCo inactive+delisted
    val capped = client.getBacktestUniverse("2026-01-02", "2026-01-05",
        minMarketCap = Some(5500L))
      .collect().map(_.getString(0)).toSeq
    assert(capped == Seq("035720"))  // only 200*30=6000 > 5500
  }

  test("calculateReturns emits daily and cumulative returns") {
    val out = client.calculateReturns(Seq("005930"), "2026-01-02", "2026-01-03")
      .collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("daily_return")))
    assert(math.abs(out(1).getAs[Double]("daily_return") - 0.10) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("cumulative_return") - 0.10) < 1e-9)
  }

  test("getCorrelationMatrix: anti-correlated pair scores exactly -1") {
    // Samsung returns (+10%, -10%); Kakao returns (-5%, +5%) → corr -1.
    val p3 = Seq(
      ("005930", "2026-01-02", 100.0), ("005930", "2026-01-03", 110.0),
      ("005930", "2026-01-04", 99.0),
      ("035720", "2026-01-02", 200.0), ("035720", "2026-01-03", 190.0),
      ("035720", "2026-01-04", 199.5)
    ).toDF("symbol", "trade_date", "close_price")
      .withColumn("trade_date", col("trade_date").cast("date"))
    val out = new MarketClient(master, p3)
      .getCorrelationMatrix(Seq("005930", "035720"), "2026-01-02", "2026-01-04")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("correlation")).toMap
    assert(out.size == 4)
    assert(math.abs(out(("005930", "035720")) + 1.0) < 1e-9)
    assert(math.abs(out(("005930", "005930")) - 1.0) < 1e-9)
  }

  test("optimizeTable keeps the latest row per (symbol, trade_date)") {
    val dup = price.union(
      Seq(("005930", "2026-01-03", 115.0, 60L, 6900L, "2026-01-04 00:00:00"))
        .toDF("symbol", "trade_date", "close_price", "volume", "amount", "update_dt")
        .withColumn("trade_date", col("trade_date").cast("date"))
        .withColumn("open_price", col("close_price") - 1)
        .withColumn("high_price", col("close_price") + 1)
        .withColumn("low_price", col("close_price") - 2)
        .withColumn("update_dt", to_timestamp(col("update_dt")))
        .select(price.columns.map(col): _*))
    val compacted = new MarketClient(master, dup).optimizeTable()
    assert(compacted.count() == 5)
    val row = compacted.filter(col("symbol") === "005930" &&
      col("trade_date") === lit("2026-01-03").cast("date")).collect()(0)
    assert(row.getAs[Double]("close_price") == 115.0)  // later update_dt wins
  }

  test("deletePriceData refuses the everything-predicate and rewrites survivors") {
    intercept[IllegalArgumentException](client.deletePriceData())
    val left = client.deletePriceData(symbol = Some("123456"))
    assert(left.count() == 4)
    assert(left.filter(col("symbol") === "123456").count() == 0)
  }

  test("latest trade date, symbol inventory, table counts") {
    assert(client.getLatestTradeDate().collect()(0).getDate(0).toString == "2026-01-03")
    assert(client.getLatestTradeDate(Some("123456")).collect()(0)
      .getDate(0).toString == "2026-01-02")
    assert(client.getSymbolsWithData.collect().map(_.getString(0)).toSeq ==
      Seq("005930", "035720", "123456"))
    val tc = client.tableCounts().collect()(0)
    assert(tc.getAs[Long]("total_rows") == 5 && tc.getAs[Long]("unique_symbols") == 3)
  }

  test("getPriceData returns one sf0.001 customer's orders in date order") {
    // FIXTURES.md §C: orders stand in for stock_price
    val orders = graft.model.Tables.orders(spark, sf001)
    val sf = new MarketClient(master, orders.select(
      col("o_custkey").cast("string").as("symbol"),
      col("o_orderdate").cast("date").as("trade_date"),
      col("o_totalprice").as("close_price")))
    // the customer with the most orders (ties to the smallest key)
    val key = orders.groupBy("o_custkey").count()
      .orderBy(desc("count"), col("o_custkey")).head().getLong(0)
    val mine = orders.filter(col("o_custkey") === key)
      .select(col("o_orderdate").cast("date").cast("string"), col("o_totalprice"))
      .as[(String, Double)].collect().toSeq
    def dates(out: org.apache.spark.sql.DataFrame) =
      out.select(col("trade_date").cast("string")).as[String].collect().toSeq
    val all = sf.getPriceData(key.toString)
    assert(all.columns.toSeq == Seq("symbol", "trade_date", "close_price"))
    assert(dates(all) == mine.map(_._1).sorted)
    assert(all.select("close_price").as[Double].collect().sorted.toSeq ==
      mine.map(_._2).sorted)
    // an inclusive range: both bounds are order dates of this customer
    val sorted = mine.map(_._1).sorted
    val (start, end) = (sorted(2), sorted(sorted.size - 3))
    assert(dates(sf.getPriceData(key.toString, Some(start), Some(end))) ==
      sorted.filter(d => d >= start && d <= end))
    assert(sf.getPriceData("no such symbol").count() == 0)
  }
}
