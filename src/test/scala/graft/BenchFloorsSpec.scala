package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench floor-table parser's SF scoping: sf0.1 and sf1 floors share
  * one row format inside one file, so the parser must never let one
  * population flag against the other's values.
  */
class BenchFloorsSpec extends AnyFunSuite {
  private val doc =
    """# baseline
      || Query | QTime floor (r13) | Note |
      ||---|---|---|
      || q142_tri | 5.80s | sf0.1 |
      || q227_pq | 3.22s | sf0.1 |
      |prose between tables
      |<!-- SF1-FLOORS-BEGIN -->
      || Query | QTime floor sf1 | Note |
      ||---|---|---|
      || q142_tri | 37.40s | sf1 |
      || q267_knn | 21.00s | sf1 |
      |<!-- SF1-FLOORS-END -->
      |trailing prose
      || q264_hits | 9.12s | post-block sf0.1 row |
      |""".stripMargin

  test("sf0.1 parse excises the sf1 block, keeps rows on both sides") {
    val f = Bench.parseFloors(doc, "/root/testdata/sf0.1")
    assert(f == Map("q142_tri" -> 5.80, "q227_pq" -> 3.22,
      "q264_hits" -> 9.12))
  }

  test("sf1 parse reads ONLY the marked block") {
    val f = Bench.parseFloors(doc, "/tmp/sf1")
    assert(f == Map("q142_tri" -> 37.40, "q267_knn" -> 21.00))
  }

  test("sf1 dir with no marked block yields an inactive gate, not sf0.1 rows") {
    val noBlock = doc.replaceAll("(?s)<!-- SF1-FLOORS-BEGIN -->.*?<!-- SF1-FLOORS-END -->", "")
    assert(Bench.parseFloors(noBlock, "/tmp/sf1").isEmpty)
  }

  test("non-canonical sf keeps the gate inactive") {
    assert(Bench.parseFloors(doc, "/root/testdata/sf0.01").isEmpty)
    assert(Bench.parseFloors(doc, "/tmp/sf2x").isEmpty)
  }

  test("a trailing slash keeps the sf; a dir merely ending in sf0.1 does not") {
    assert(Bench.parseFloors(doc, "/data/sf0.1/") ==
      Bench.parseFloors(doc, "/data/sf0.1"))
    assert(Bench.parseFloors(doc, "/tmp/sf1/").keySet == Set("q142_tri", "q267_knn"))
    assert(Bench.parseFloors(doc, "/data/xsf0.1").isEmpty)
    assert(Bench.parseFloors(doc, "/data/xsf1").isEmpty)
  }

  test("a file without markers parses whole for sf0.1 (pre-r14 layout)") {
    val legacy = "| q142_tri | 5.80s |\n| q227_pq | 3.22s |\n"
    assert(Bench.parseFloors(legacy, "/root/testdata/sf0.1").size == 2)
  }
}
