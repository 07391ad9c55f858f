package graft.ingest

import graft.SparkSpec

/** End-to-end daily pipeline: two successive crawl drops (a listing day,
  * then a delisting day) merged into dimension state — the reference's
  * run_daily_update flow with set-based semantics.
  */
class DailyPipelineSpec extends SparkSpec {
  import spark.implicits._

  // Day 1: Korean-headed listing crawl (header names as scraped).
  private def day1 = Seq(
    ("  005930  ", "Samsung Electronics", "kospi", "2020-01-02"),
    ("035720", "Kakao", "kosdaq", "2017-07-10"),
    ("BAD", "Broken Row", "kospi", "2020-01-01"),          // P2 reject
    ("123456", "", "kospi", "2020-01-01")                  // empty name → "Unknown" (T8)
  ).toDF("종목코드", "회사명", "시장구분", "상장일")

  // Day 2: delisting crawl — Kakao delists; a new listing appears.
  private def day2 = Seq(
    ("035720", "Kakao", "kosdaq", "2017-07-10", "2024-06-30"),
    ("000660", "SK Hynix", "kospi", "1996-12-26", null)
  ).toDF("종목코드", "회사명", "시장구분", "상장일", "상장폐지일")

  test("normalize maps scraped headers to the canonical schema") {
    val n = DailyPipeline.normalize(day1, "2024-01-01 02:00:00")
    assert(n.columns.toSeq == DailyPipeline.MasterSchema.fieldNames.toSeq)
    val samsung = n.filter($"symbol" === "005930").collect()(0)
    assert(samsung.getAs[String]("name") == "Samsung Electronics")
    assert(samsung.getAs[String]("market") == "KOSPI")
    assert(samsung.getAs[Int]("is_active") == 1)
  }

  test("validation quarantines bad rows instead of dropping them silently") {
    val n = DailyPipeline.normalize(day1, "2024-01-01 02:00:00")
    assert(DailyPipeline.validate(n).count() == 3)
    // the non-numeric symbol digit-strips to "" and fails P2; the empty
    // name was already defaulted to "Unknown" by T8, so it passes
    val rej = DailyPipeline.rejects(n).select("name").as[String].collect().toSeq
    assert(rej == Seq("Broken Row"))
  }

  test("a row with an empty code lands in rejects: accepted + rejected = rows in") {
    // the empty code normalizes to NULL, so the P2 regex evaluates to
    // NULL rather than false for it
    val drop = Seq(
      ("005930", "Samsung Electronics", "kospi", "2020-01-02"),
      ("BAD", "Broken Row", "kospi", "2020-01-01"),
      ("", "No Code", "kospi", "2020-01-01")
    ).toDF("종목코드", "회사명", "시장구분", "상장일")
    val n = DailyPipeline.normalize(drop, "2024-01-01 02:00:00")
    val accepted = DailyPipeline.validate(n).count()
    val rejected = DailyPipeline.rejects(n).select("name").as[String]
      .collect().toSet
    assert(accepted == 1)
    assert(rejected == Set("Broken Row", "No Code"))
    assert(accepted + rejected.size == drop.count())
  }

  test("two daily runs produce last-write-wins state and a correct report") {
    val s1 = DailyPipeline.runBatch(DailyPipeline.emptyState(spark), day1,
      "2024-01-01 02:00:00")
    assert(s1.count() == 3)
    val s2 = DailyPipeline.runBatch(s1, day2, "2024-01-02 02:00:00")
    assert(s2.count() == 4)
    val kakao = s2.filter($"symbol" === "035720").collect()(0)
    assert(kakao.getAs[Int]("is_active") == 0)
    assert(kakao.getAs[java.sql.Date]("delisting_date").toString == "2024-06-30")
    val rep = DailyPipeline.report(s2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.toSeq == Seq(("KOSDAQ", 1L, 0L, 1L), ("KOSPI", 3L, 3L, 0L)))
  }

  test("replaying the same batch is idempotent") {
    val s1 = DailyPipeline.runBatch(DailyPipeline.emptyState(spark), day1,
      "2024-01-01 02:00:00")
    val replay = DailyPipeline.runBatch(s1, day1, "2024-01-01 02:00:00")
    assert(replay.count() == s1.count())
    assert(replay.exceptAll(s1).count() == 0)
  }

  test("full daily run: EUC-KR crawl drop on disk → decode → parse → state → client report") {
    // The whole reference journey in one pass: a raw KRX-style HTML drop
    // (EUC-KR bytes, Korean headers) through charset-fallback decode,
    // table parse, normalize/validate/merge, and the client's per-market
    // count report.
    val html =
      """<table>
        |<tr><th>종목코드</th><th>회사명</th><th>시장구분</th><th>상장일</th></tr>
        |<tr><td>005930</td><td>삼성전자</td><td>KOSPI</td><td>2000-01-02</td></tr>
        |<tr><td>035720</td><td>카카오</td><td>KOSDAQ</td><td>2017-07-10</td></tr>
        |</table>""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_daily_e2e")
    java.nio.file.Files.write(dir.resolve("kospi_drop.html"), html.getBytes("EUC-KR"))
    val raw = graft.sources.TextDecode.readHtmlTables(spark, s"$dir/*.html",
      Seq("종목코드", "회사명", "시장구분", "상장일"))
    val state = DailyPipeline.runBatch(DailyPipeline.emptyState(spark), raw,
      "2026-01-02 02:00:00")
    val samsung = state.filter($"symbol" === "005930").collect()(0)
    assert(samsung.getAs[String]("name") == "삼성전자")
    assert(samsung.getAs[java.sql.Date]("listing_date").toString == "2000-01-02")
    val report = new graft.queries.MasterClient(state).getStockCount()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.toSeq == Seq(("KOSDAQ", 1L, 0L, 1L), ("KOSPI", 1L, 0L, 1L)))
  }
}
