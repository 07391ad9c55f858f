package graft

import org.apache.spark.sql.functions._

/** End-to-end sanity over the sf0.001 test tables: every registered query
  * has an oracle and returns rows (read from [[RegistryWalk]]'s one
  * full-plan run of the registry), and the flagship entry behaves. The
  * value-level gate is the DuckDB oracle (graft.Verify +
  * tools/oracle_check.py); this spec catches schema/registration
  * regressions fast.
  */
class QueriesSpec extends SparkSpec {

  test("entry returns top-20 with positive change ordering") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 20)
    val changes = rows.map(_.getAs[Double]("change_pct"))
    assert(changes.zip(changes.tail).forall { case (a, b) => a >= b })
  }

  /** Queries deliberately without oracle SQL — non-oracle-expressible
    * operators (the driver records a rows-only check); each must carry
    * its own value-level spec instead. Currently empty: every registered
    * query is oracle-checked (q68 moved from the Bloom form to the exact
    * md5 anti-join in round 5; the Bloom sketch stays as a library-level
    * scale pre-pass pinned by VersioningSpec). */
  private val rowsOnlyQueries = Set.empty[String]

  test("every registered query has an oracle and runs non-empty on sf0.001") {
    val missingOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet --
      rowsOnlyQueries
    assert(missingOracle.isEmpty, s"queries without oracle: $missingOracle")
    // Reverse direction guards the round-11 per-domain oracle split: an
    // oracle entry whose query was renamed/removed would silently rot.
    val orphanOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracle.isEmpty, s"oracle entries without query: $orphanOracle")
    // Jobs each query starts while it is built (eager stagings and any
    // action of its own), in the walk's name order, so StageCache hits
    // depend on which query built a shared tier first. Reported only.
    val buildJobs = RegistryWalk.all.collect {
      case RegistryWalk.Visit(name, _, Right(f)) => name -> f.buildJobs
    }
    buildJobs.sortBy { case (name, jobs) => (-jobs.size, name) }.take(10)
      .foreach { case (name, jobs) => info(s"$name: ${jobs.size} jobs at build") }
    buildJobs.flatMap { case (name, jobs) =>
      jobs.filter(_.label == null).map(j => j.site -> name)
    }.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (site, hits) =>
      val names = hits.map(_._2).distinct
      info(s"unlabelled at build, $site: ${hits.size} jobs in ${names.size} " +
        s"queries: ${names.mkString(" ")}")
    }
    val empty = RegistryWalk.emptyResults(RegistryWalk.all)
    assert(empty.isEmpty, empty.mkString(", "))
  }

  test("moving average and Bollinger bands are internally consistent") {
    val ma = graft.queries.MarketAnalytics.movingAverage(spark, sf001).collect()
    // A frame of one row averages to the row itself.
    ma.filter(_.getAs[Int]("n_in_frame") == 1).foreach { r =>
      assert(r.getAs[Double]("ma_price") == r.getAs[Double]("o_totalprice"))
    }
    assert(ma.forall(_.getAs[Int]("n_in_frame") <= 5))
    val bb = graft.queries.MarketAnalytics.bollingerBands(spark, sf001).collect()
    assert(bb.nonEmpty)
    bb.foreach { r =>
      val (p, m, sd) = (r.getAs[Double]("o_totalprice"),
        r.getAs[Double]("ma_price"), r.getAs[Double]("band_sd"))
      assert(sd >= 0)
      // Flags were computed pre-rounding; re-checking against the rounded
      // sd needs the rounding slack (|sd - r4(sd)| <= 5e-5).
      if (r.getAs[Int]("breakout_up") == 1) assert(p > m + 2 * sd - 1e-4)
      if (r.getAs[Int]("breakout_down") == 1) assert(p < m - 2 * sd + 1e-4)
      assert(!(r.getAs[Int]("breakout_up") == 1 &&
        r.getAs[Int]("breakout_down") == 1))
    }
  }

  test("cube summary nests: gid=3 grand total equals the sum of gid=0 cells") {
    val cube = graft.queries.WarehouseAnalytics.cubeSummary(spark, sf001).collect()
    val gids = cube.map(_.getAs[Int]("gid")).toSet
    assert(gids == Set(0, 1, 2, 3))
    val grand = cube.filter(_.getAs[Int]("gid") == 3)
    assert(grand.length == 1)
    val cells = cube.filter(_.getAs[Int]("gid") == 0)
    assert(cells.map(_.getAs[Long]("n_items")).sum ==
      grand.head.getAs[Long]("n_items"))
    assert(math.abs(cells.map(_.getAs[Double]("sum_qty")).sum -
      grand.head.getAs[Double]("sum_qty")) < 1e-6)
  }

  test("tfidf ranks are dense per source and ubiquitous terms weigh zero") {
    val t = graft.queries.TextQueries.tfidfTopTerms(spark, sf001).collect()
    t.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
    }
    val nTotal = graft.model.Tables.documents(spark, sf001)
      .select("doc_id").distinct().count()
    t.filter(_.getAs[Long]("n_docs") == nTotal).foreach { r =>
      assert(r.getAs[Double]("tfidf") == 0.0)
    }
  }

  test("beta of the market against itself would be 1: per-supplier betas center near it") {
    val b = graft.queries.MarketAnalytics.betaVsMarket(spark, sf001, minDays = 5)
      .collect()
    assert(b.nonEmpty)
    // Betas are finite and the n_days filter held.
    b.foreach { r =>
      assert(r.getAs[Long]("n_days") >= 5)
      assert(!r.getAs[Double]("beta").isNaN)
    }
  }

  test("latestPerKey agrees with a groupBy-max cross-check") {
    val byWindow = graft.queries.MarketAnalytics.latestPerKey(spark, sf001)
      .select("o_custkey", "latest_date")
    val byAgg = graft.model.Tables.orders(spark, sf001)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("date")).as("latest_date"))
    assert(byWindow.join(byAgg, Seq("o_custkey", "latest_date")).count() ==
      byWindow.count())
  }

  test("money aggregation is bit-identical under different partitionings") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val a = graft.queries.MarketAnalytics.marketSummary(spark, sf001).collect().toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val b = graft.queries.MarketAnalytics.marketSummary(spark, sf001).collect().toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("dedup tier results are identical under different partitionings") {
    // The hash tiers shuffle integer shingle hashes through staged
    // checkpoints; none of it may depend on partition count or order.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): Seq[(Long, Long, Double)] =
      graft.queries.DedupQueries.dedupNgramJaccard(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def runLsh(): Seq[(Long, Long, Double)] =
      graft.queries.DedupQueries.dedupMinhashLsh(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val (a1, a2) = (run(), runLsh())
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      assert(run() == a1)
      assert(runLsh() == a2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("compaction is idempotent") {
    val ev = graft.model.Tables.events(spark, sf001)
    val once = graft.ingest.Ingest.compactReplacing(ev,
      Seq("user_id", "event_type"), col("ts"), Seq(col("event_id").desc))
    val twice = graft.ingest.Ingest.compactReplacing(once,
      Seq("user_id", "event_type"), col("ts"), Seq(col("event_id").desc))
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }
}
