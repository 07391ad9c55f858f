package graftbench

import org.apache.spark.sql.DataFrame

/** A query-mix workload: registered queries from `graft.SparkEntry.queries`,
  * run one at a time in a fixed order (closed loop, one client), each timed
  * on its full result. */
final class QueryMix(ids: Seq[String]) {
  private val registry = graft.SparkEntry.queries

  /** The call into the library: plan construction plus any eager staging
    * jobs the query function runs. */
  private def build(c: Ctx, id: String): DataFrame =
    c.tracer.span(s"build.$id", "build")(registry(id)(c.spark, c.dataDir))

  def run(c: Ctx): Outcome = {
    val missing = ids.filterNot(registry.contains)
    c.check("queries_registered", missing.isEmpty, s"not registered: ${missing.mkString(", ")}")
    val qs = ids.filter(registry.contains)
    c.passes("query")(qs.foreach(id => c.op(s"query.$id")(c.full(s"exec.$id", build(c, id)))))
  }
}

object QueryMix {
  /** `market_analytics`: registered `MarketAnalytics` and `EventWindows`
    * queries as a read-only mix. None of them stages through `StageCache`.
    * The set is a fixed twelve of the 54 registered ones (the reference
    * client's core reports and indicators plus three event windows), so
    * that a cold and a warm pass fit one run. */
  val Market = new QueryMix(Seq(
    "q01_top_performers", "q03_daily_summary", "q08_backtest_universe", "q09_latest_per_key",
    "q10_returns", "q12_topk_revenue", "q79_max_drawdown", "q84_bollinger_bands", "q89_rsi",
    "q24_tumbling_window", "q26_sessionize", "q73_event_funnel"))

  /** Queries whose time goes to an iterative `graft.operators.Graph` loop. */
  val Iterative: Set[String] = Set("q263_lpa_communities", "q279_conductance")

  /** `staged_reuse`: two families whose queries share `StageCache` entries:
    * the co-purchase graph (rank, and the label-propagation loops in
    * [[Iterative]]) and kNN descent. The cold pass pays the eager staging,
    * the warm pass reuses it; every warm result must equal its cold one.
    * BM25, dedup, the diameter and hop queries and the other graph loops
    * are left out so that two passes fit one run. */
  val Staged = new QueryMix(Seq(
    "q116_copurchase_rank", "q263_lpa_communities", "q279_conductance",
    "q267_knn_descent", "q276_label_noise", "q280_knn_rounds"))
}
