package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dimension-side client facade: CRUD as state-in/state-out, the
  * ReplacingMergeTree read view, and the reference's phantom (called but
  * never implemented) data-quality probes.
  */
class MasterClientSpec extends SparkSpec {
  import spark.implicits._

  private def mkMaster(rows: Seq[(String, String, String, Option[String],
      Option[String], Int, String)]) =
    rows.toDF("symbol", "name", "market", "listing_date", "delisting_date",
        "is_active", "update_dt")
      .withColumn("listing_date", col("listing_date").cast("date"))
      .withColumn("delisting_date", col("delisting_date").cast("date"))
      .withColumn("update_dt", to_timestamp(col("update_dt")))

  private def master = mkMaster(Seq(
    ("005930", "Samsung", "KOSPI", Some("2000-01-01"), None, 1, "2026-01-01 00:00:00"),
    ("035720", "Kakao", "KOSPI", None, None, 1, "2026-01-01 00:00:00"),
    ("123456", "SmallCo", "KOSDAQ", Some("2001-01-01"), Some("2020-06-30"), 0, "2026-01-01 00:00:00"),
    ("777777", "GhostCo", "KOSDAQ", Some("2002-01-01"), None, 0, "2026-01-01 00:00:00"),
    // stale duplicate for 005930: superseded by the newer row above? No —
    // same symbol, OLDER update_dt and inactive; `current` must pick the
    // 2026 active row.
    ("005930", "Samsung Old", "KOSPI", Some("2000-01-01"), Some("2010-01-01"), 0, "2020-01-01 00:00:00")))

  private def client = new MasterClient(master)

  test("current resolves last-write-wins per symbol") {
    val cur = client.current.filter(col("symbol") === "005930").collect()
    assert(cur.length == 1 && cur(0).getAs[String]("name") == "Samsung")
    assert(client.current.count() == 4)
  }

  test("insertStocks default-fills and appends; requires key columns") {
    val add = mkMaster(Seq(
      ("999999", null, null, None, None, 1, "2026-02-01 00:00:00")))
      .withColumn("is_active", lit(null).cast("int"))
    val out = new MasterClient(client.insertStocks(add)).current
      .filter(col("symbol") === "999999").collect()(0)
    assert(out.getAs[String]("name") == "Unknown")
    assert(out.getAs[String]("market") == "UNKNOWN")
    assert(out.getAs[Int]("is_active") == 1)
    intercept[IllegalArgumentException](
      client.insertStocks(Seq(("1")).toDF("symbol")))
  }

  test("updateDelistingDate flags one symbol delisted") {
    val updated = client.updateDelistingDate("035720", "2026-03-01")
    val row = updated.filter(col("symbol") === "035720").collect()(0)
    assert(row.getAs[Int]("is_active") == 0)
    assert(row.getAs[java.sql.Date]("delisting_date").toString == "2026-03-01")
    // others untouched
    assert(updated.filter(col("symbol") === "005930" && col("is_active") === 1)
      .count() == 2 - 1)  // only the latest 005930 row is active
  }

  test("processNewListings inserts only unseen symbols (anti-join, no loop)") {
    val batch = mkMaster(Seq(
      ("005930", "Samsung DUP", "KOSPI", None, None, 1, "2026-02-01 00:00:00"),
      ("888888", "NewCo", "KONEX", None, None, 1, "2026-02-01 00:00:00")))
    val out = client.processNewListings(batch)
    assert(out.filter(col("symbol") === "888888").count() == 1)
    assert(out.filter(col("name") === "Samsung DUP").count() == 0)
  }

  test("active/delisted views filter and order like the reference") {
    assert(client.getActiveStocks().collect().map(_.getString(0)).toSeq ==
      Seq("005930", "035720"))
    assert(client.getActiveStocks(Some("KOSDAQ")).count() == 0)
    assert(client.getDelistedStocks().collect().map(_.getString(0)).toSeq ==
      Seq("123456", "777777"))  // dated first desc, then null-date GhostCo
  }

  test("getStockCount aggregates per market") {
    val counts = client.getStockCount().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(counts("KOSPI") == ((2L, 0L, 2L)))
    assert(counts("KOSDAQ") == ((0L, 2L, 2L)))
  }

  test("phantom surface: totals, symbol inventory, missing-date probes") {
    assert(client.getTotalCount().collect()(0).getLong(0) == 4)
    assert(client.getAllSymbols().collect().map(_.getString(0)).toSeq ==
      Seq("005930", "035720", "123456", "777777"))
    assert(client.getStocksMissingListingDate().collect()
      .map(_.getString(0)).toSeq == Seq("035720"))
    assert(client.getDelistedStocksMissingDate().collect()
      .map(_.getString(0)).toSeq == Seq("777777"))
  }

  test("getStockBySymbol returns the latest row of one sf0.001 customer") {
    // FIXTURES.md §C: customer ⋈ nation ⋈ region stands in for
    // stock_master; every symbol gets an older and a newer version
    import graft.model.Tables
    val cust = Tables.customer(spark, sf001)
      .join(Tables.nation(spark, sf001), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf001), col("n_regionkey") === col("r_regionkey"))
    def version(updateDt: String, tag: String) = cust.select(
      col("c_custkey").cast("string").as("symbol"),
      concat(col("c_name"), lit(tag)).as("name"), col("r_name").as("market"),
      lit(null).cast("date").as("listing_date"),
      lit(null).cast("date").as("delisting_date"), lit(1).as("is_active"),
      to_timestamp(lit(updateDt)).as("update_dt"))
    val sf = new MasterClient(version("2020-01-01 00:00:00", " (old)")
      .unionByName(version("2026-01-01 00:00:00", "")))
    val (key, name, market) = cust.orderBy("c_custkey")
      .select("c_custkey", "c_name", "r_name").as[(Long, String, String)].head()
    val got = sf.getStockBySymbol(key.toString).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("name") == name &&
      got(0).getAs[String]("market") == market)
    assert(got(0).getAs[java.sql.Timestamp]("update_dt").toString ==
      "2026-01-01 00:00:00.0")
    assert(sf.getStockBySymbol("no such symbol").count() == 0)
  }
}
