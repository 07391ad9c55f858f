package graft

import org.scalatest.funsuite.AnyFunSuite

/** QTime's query selection, as a pure function over a registry. */
class QTimeSpec extends AnyFunSuite {
  private val q: QTime.Query = (_, _) => null
  private val registry =
    Map("q01_top" -> q, "q02_summary" -> q, "q10_returns" -> q, "q100_rank" -> q)

  test("prefixes select every query whose name starts with one, in name order") {
    assert(QTime.select(registry, Seq("q10", "q01")).map(_._1) ==
      Seq("q01_top", "q100_rank", "q10_returns"))
    assert(QTime.select(registry, Seq("q10_")).map(_._1) == Seq("q10_returns"))
  }

  test("no prefixes selects every registered query") {
    assert(QTime.select(registry, Nil).map(_._1) == registry.keys.toSeq.sorted)
  }

  test("a prefix that matches nothing fails with its name in the message") {
    val e = intercept[IllegalArgumentException](
      QTime.select(registry, Seq("q01", "q99_missing")))
    assert(e.getMessage.contains("q99_missing"))
    assert(!e.getMessage.contains("q01"))
  }

  test("a full registered name selects exactly that query") {
    val name = SparkEntry.queries.keys.min
    assert(QTime.select(SparkEntry.queries, Seq(name)).map(_._1) == Seq(name))
  }
}
