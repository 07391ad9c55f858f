package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SRC3 HTML-fixture golden parsing (the reference's own test pattern:
  * inline HTML → expected rows) and the partitioned sink round trip with
  * partition-pruning evidence.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val html =
    """<html><body>
      |<table><tr><td>tiny</td></tr></table>
      |<table>
      |  <tr><th> Company </th><th>Code</th><th>Date</th></tr>
      |  <tr><td>Samsung&nbsp;Electronics</td><td>005930</td><td>2020-01-01</td></tr>
      |  <tr><td><b>Kakao</b></td><td>035720</td><td>2020-02-02</td><td>EXTRA</td></tr>
      |  <tr><td>ShortRow</td><td>123456</td></tr>
      |</table>
      |</body></html>""".stripMargin

  test("discoverHeader reads the largest table's first row") {
    assert(HtmlTableSource.discoverHeader(html) == Seq("Company", "Code", "Date"))
  }

  test("parse picks the largest table, strips tags/entities, pads and truncates") {
    val df = HtmlTableSource.parse(spark, Seq(html).toDS(),
      Seq("company", "code", "date"))
    val rows = df.orderBy("code").collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("Samsung Electronics", "005930", "2020-01-01"),
      ("Kakao", "035720", "2020-02-02"),   // EXTRA truncated
      ("ShortRow", "123456", "")))         // padded
  }

  test("parse of a document with no table yields no rows") {
    assert(HtmlTableSource.parse(spark, Seq("<p>nope</p>").toDS(),
      Seq("a")).count() == 0)
  }

  test("monthly-partitioned sink round-trips and prunes partitions on read") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val orders = graft.model.Tables.orders(spark, sf001)
    Sinks.writeMonthlyPartitioned(orders, "o_orderdate",
      Seq("o_custkey", "o_orderdate"), s"$base/orders")
    val back = Sinks.readPartitioned(spark, s"$base/orders")
    assert(back.count() == orders.count())
    val pruned = back.filter(col(Sinks.MonthCol) === "199801")
    val expected = orders.filter(date_format(col("o_orderdate"), "yyyyMM") === "199801")
    assert(pruned.count() == expected.count() && pruned.count() > 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("part_month"), s"no partition pruning in:\n$plan")
  }

  test("monthly-partitioned sink replaces only the months it writes") {
    val path = java.nio.file.Files.createTempDirectory("graft_months")
      .toString + "/fact"
    def month(rows: (String, String, Double)*) =
      rows.toDF("symbol", "d", "close")
        .select(col("symbol"), col("d").cast("date").as("trade_date"),
          col("close"))
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      Sinks.writeMonthlyPartitioned(df, "trade_date",
        Seq("symbol", "trade_date"), path)
    def read: Set[(String, String, Double)] =
      Sinks.readPartitioned(spark, path)
        .select(col("symbol"), col("trade_date").cast("string"), col("close"))
        .as[(String, String, Double)].collect().toSet
    def files(m: String): Set[String] =
      Option(new java.io.File(s"$path/${Sinks.MonthCol}=$m").listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
    val a = Set(("005930", "2024-01-02", 10.0), ("035720", "2024-01-03", 20.0))
    write(month(a.toSeq: _*))
    val aFiles = files("202401")
    write(month(("005930", "2024-02-01", 11.0)))
    assert(read == a + (("005930", "2024-02-01", 11.0)))
    write(month(("005930", "2024-02-01", 12.0), ("000660", "2024-02-02", 5.0)))
    assert(read == a + (("005930", "2024-02-01", 12.0)) +
      (("000660", "2024-02-02", 5.0)))
    assert(files("202401") == aFiles && aFiles.nonEmpty,
      "rewriting February touched January's files")
  }

  test("meteredWrite reports confirmed rows, progress ticks, and rows/sec") {
    val base = java.nio.file.Files.createTempDirectory("graft_meter").toString
    val df = spark.range(1000).toDF("id").repartition(4)
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val m = Metering.meteredWrite(df, expectedRows = Some(1000L),
        logEveryTasks = 1,
        onProgress = e => { ticks.incrementAndGet(); lastRows.set(e.rows) }) {
      d => Sinks.backupParquet(d, base, "metered", "s1"); ()
    }
    assert(m.rows == 1000L, s"recordsWritten: $m")
    assert(m.bytes > 0 && m.seconds > 0 && m.rowsPerSec > 0)
    assert(m.tasks >= 4)
    // every task completion ticked, and the ticks saw monotone row counts
    assert(ticks.get() >= 4)
    assert(lastRows.get() > 0)
    // the completion line carries the reference's rows-in-seconds shape
    assert(m.toString.contains("rows/sec"))
    // the metered write really landed
    assert(spark.read.parquet(s"$base/metered_s1.parquet").count() == 1000)
  }

  test("csv source round-trips types, nulls, and quoted separators") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val df = Seq(
      (1L, Some("plain"), Some(1.5)),
      (2L, Some("has, comma and \"quote\""), None),
      (3L, None: Option[String], Some(-0.25))
    ).toDF("id", "name", "v")
    CsvSource.write(df, s"$base/drop")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = CsvSource.read(spark, s"$base/drop", schema)
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(back == Set(
      (1L, Some("plain"), Some(1.5)),
      (2L, Some("has, comma and \"quote\""), None),
      (3L, None, Some(-0.25))))
  }

  test("csv source nulls malformed cells instead of aborting (PERMISSIVE)") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_csvbad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/bad.csv"),
      "id,v\n1,2.5\n2,notanumber\n".getBytes)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val back = CsvSource.read(spark, s"$base/bad.csv", schema)
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getDouble(1) == 2.5)
    assert(back(1).isNullAt(1))
  }

  test("json source round-trips types/nulls and nulls malformed lines (PERMISSIVE)") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_json").toString
    val df = Seq(
      (1L, Some("""quotes " and \ slashes"""), Some(1.5)),
      (2L, None: Option[String], None: Option[Double])
    ).toDF("id", "name", "v")
    JsonSource.write(df, s"$base/drop")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = JsonSource.read(spark, s"$base/drop", schema)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(back == Set(
      (1L, Some("""quotes " and \ slashes"""), Some(1.5)),
      (2L, None, None)))
    // malformed line → all-null row, not an abort
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/bad.json"),
      "{\"id\": 1, \"v\": 2.5}\nnot json at all\n".getBytes)
    val bad = JsonSource.read(spark, s"$base/bad.json", schema).collect()
    assert(bad.length == 2)
    assert(bad.count(_.isNullAt(0)) == 1)
  }

  test("tableInfo reports per-partition rows/bytes/files and a summary") {
    val base = java.nio.file.Files.createTempDirectory("graft_ti").toString
    val orders = graft.model.Tables.orders(spark, sf001)
    Sinks.writeMonthlyPartitioned(orders, "o_orderdate",
      Seq("o_custkey", "o_orderdate"), s"$base/orders")
    val stats = TableInfo.partitionStats(spark, s"$base/orders").collect()
    assert(stats.map(_.getLong(1)).sum == orders.count())   // rows add up
    assert(stats.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
    val nMonths = orders.select(date_format(col("o_orderdate"), "yyyyMM"))
      .distinct().count()
    assert(stats.length == nMonths)
    val sum = TableInfo.summary(spark, s"$base/orders", "o_custkey").collect()(0)
    assert(sum.getAs[Long]("n_rows") == orders.count())
    assert(sum.getAs[Long]("n_keys") ==
      orders.select("o_custkey").distinct().count())
    assert(sum.getAs[Long]("n_partitions") == nMonths)
  }

  test("timestamped backup writes to a stamped path") {
    val base = java.nio.file.Files.createTempDirectory("graft_bk").toString
    val path = Sinks.backupParquet(Seq((1, "x")).toDF("k", "v"), base,
      "delisted", "20260812_120000")
    assert(path.endsWith("delisted_20260812_120000.parquet"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("compactFiles bin-packs a fragmented directory without losing rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
    df.repartition(20).write.parquet(s"$dir/t")   // 20 small files
    val (before, after) = Sinks.compactFiles(spark, s"$dir/t",
      targetBytes = 1L << 30)
    assert(before == 20 && after == 1)
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 1000)
    assert(back.agg(sum(col("v"))).head().getLong(0) == (0L until 1000L).map(_ * 2).sum)
  }

  test("compactFiles preserves a partitioned layout, compacting per leaf") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_p").toString
    spark.range(0, 400)
      .selectExpr("id", "CAST(id % 2 AS STRING) AS part")
      .repartition(10).write.partitionBy("part").parquet(s"$dir/t")
    val (before, after) = Sinks.compactFiles(spark, s"$dir/t",
      targetBytes = 1L << 30)
    assert(before > 2 && after == 2)            // one file per partition leaf
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 400)
    // partition layout survives: pruning column still present and usable
    assert(back.filter(col("part") === "1").count() == 200)
    assert(new java.io.File(s"$dir/t/part=0").isDirectory)
  }

  test("compactFiles refuses a leaf with a stranded pre-compaction backup") {
    // A leftover _precompact marks an unfinished swap from a prior crash;
    // compacting over it could delete the only surviving copy, so the
    // operator must fail fast and leave BOTH directories untouched.
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_s").toString
    spark.range(0, 100).selectExpr("id", "id AS v")
      .repartition(5).write.parquet(s"$dir/t")
    spark.range(0, 7).toDF("id").write.parquet(s"$dir/t_precompact")
    val e = intercept[java.io.IOException] {
      Sinks.compactFiles(spark, s"$dir/t", targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("_precompact"))
    assert(spark.read.parquet(s"$dir/t").count() == 100)
    assert(spark.read.parquet(s"$dir/t_precompact").count() == 7)
  }

  test("orc source round-trips types, nulls, and unicode text") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val rows = Seq(
      (1L, "plain ascii", Some(3.5)),
      (2L, "quotes \" and, commas", None),
      (3L, "한글 unicode ✓", Some(-0.25)))
    val df = rows.toDF("id", "text", "score")
    OrcSource.write(df, s"$dir/t")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("text", StringType),
      StructField("score", DoubleType)))
    val back = OrcSource.read(spark, s"$dir/t", schema)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(back == rows.toSet)
  }
}
