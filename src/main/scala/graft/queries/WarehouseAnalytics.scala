package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Parity, Tables}
import graft.operators.Stage.StageOps

/** Warehouse / TPC-H-shaped analytics over orders⋈lineitem⋈part⋈
  * supplier: revenue rollups, distribution reports, robust statistics,
  * basket mining and behavioral readouts. Round-12 split of the former
  * `Analytics` object — values unchanged. Scale posture as in
  * [[MarketAnalytics]]: broadcast dims, partial-agg'd exact integer
  * measures, keyed windows, top-k via TakeOrderedAndProject. */
object WarehouseAnalytics {
  import Parity._

  /** Monthly rollup (§4.1 partition granularity as a query: the
    * `toYYYYMM` bucket the reference partitions storage by). */
  def monthlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_amount"))
      .orderBy("month")

  /** Grouped top-k, plain-window REFERENCE form: top-5 suppliers by
    * revenue within each nation. Revenue reduces the fact with one
    * partial-agg'd shuffle keyed by supplier, so the rank window sees
    * one row per SUPPLIER — but it partitions by nation (25 fixed
    * groups), so per-partition input grows as |suppliers|/|nations|
    * with data: the registered q81 is [[topSuppliersPerNationSalted]]
    * (identical output, pinned by SkewAndExtensionsSpec); this form is
    * the reference semantics the equality spec compares against — the
    * `packByBudgetGlobalWindow` precedent. */
  private[graft] def topSuppliersPerNation(spark: SparkSession, dir: String,
                            k: Int = 5): DataFrame = {
    val w = Window.partitionBy("n_name")
      .orderBy(col("revenue").desc, col("s_suppkey"))
    supplierRevenue(spark, dir)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("n_name"), col("rank"), col("s_suppkey"), col("s_name"),
        col("revenue"))
      .orderBy("n_name", "rank")
  }

  /** Grouped top-k (q81): the REGISTERED skew-safe form — identical
    * winners and ranks to [[topSuppliersPerNation]] via
    * `Skew.saltedTopKPerGroup`: top-k per (nation, salt) cell first,
    * true re-rank over the ≤ k·salts survivors, so no task's window
    * state grows with supplier count. The (revenue desc, s_suppkey)
    * order is total, which is what makes the two forms provably equal
    * (pinned by SkewAndExtensionsSpec). */
  def topSuppliersPerNationSalted(spark: SparkSession, dir: String,
                                  k: Int = 5, salts: Int = 16): DataFrame =
    graft.operators.Skew.saltedTopKPerGroup(supplierRevenue(spark, dir),
        Seq("n_name"), Seq(col("revenue").desc, col("s_suppkey")), k, salts)
      .select(col("n_name"), col("rank"), col("s_suppkey"), col("s_name"),
        col("revenue"))
      .orderBy("n_name", "rank")

  /** Shared input of the q81 forms: per-supplier exact revenue (one
    * partial-agg'd shuffle keyed by supplier) + broadcast nation dim. */
  private def supplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val dim = sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    li.groupBy("l_suppkey")
      .agg(moneySum(col("l_extendedprice")).as("revenue"))
      .join(broadcast(dim), col("l_suppkey") === dim("s_suppkey"))
  }

  /** Set operations (q82): customers active in BOTH 1995 and 1996
    * (INTERSECT) vs active in 1995 only (EXCEPT) — the §2.8 family's
    * remaining members next to union (U1) and dedup (U2), labeled and
    * stacked into one report. Each side reduces to a distinct key set
    * first (partial-agg'd), so the set ops join key lists, never fact
    * rows. */
  def activityOverlap(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val y95 = o.filter(expr("year(o_orderdate) = 1995")).select("o_custkey").distinct()
    val y96 = o.filter(expr("year(o_orderdate) = 1996")).select("o_custkey").distinct()
    val both = y95.intersect(y96).withColumn("cohort", lit("both_years"))
    val only95 = y95.except(y96).withColumn("cohort", lit("only_1995"))
    both.unionByName(only95)
      .select(col("cohort"), col("o_custkey"))
      .orderBy("cohort", "o_custkey")
  }

  /** CUBE with grouping markers (q86): all four grouping combinations of
    * (returnflag, linestatus) in one pass — the §2.6 rollup family's
    * completion (q44/q70 cover ROLLUP). Spark plans CUBE as a single
    * Expand + one partial-agg'd shuffle: the fact is read once, expanded
    * 4× into cheap aggregation rows, never re-scanned per grouping set.
    * `grouping_id()` uses the standard bit order (first listed column =
    * most significant bit), which DuckDB's GROUPING(...) mirrors. */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_items"), col("sum_qty"), col("sum_price"))
      .orderBy("gid", "returnflag", "linestatus")

  /** Explicit GROUPING SETS (q123): the arbitrary-set-list form that
    * rollup (q70) and cube (q86) are special cases of — here the two
    * one-dimension marginals plus the grand total, WITHOUT the
    * two-dimension cell a cube would also pay for. Same single-Expand
    * single-exchange plan as rollup: grouping sets never cost more than
    * a plain group-by regardless of how many sets are declared. */
  def segmentPrioritySets(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
    joined
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("o_orderpriority")), Seq.empty),
        col("c_mktsegment"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total"))
      .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"), col("total"))
      .orderBy("gid", "segment", "priority")
  }

  /** UNPIVOT (q87): the wide per-returnflag metric columns melted to
    * (metric, value) long form — the inverse of the q69 pivot, the shape
    * metric stores and chart layers ingest. The wide input is already
    * aggregated (|flags| rows), so the unpivot explodes a handful of rows
    * by the metric count — O(1) work regardless of fact scale; every
    * measure is exact (integer counts / cents sums) cast to one double
    * column. Uses `Dataset.unpivot`, Spark's native melt. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("l_discount")).as("sum_disc"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("n_items"), col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** PIVOT (q69): order counts and exact money totals per priority ×
    * status — the wide-table report shape `DataFrame.pivot` exists for.
    * Pivot values are DECLARED (`Seq("F","O","P")`), so Spark skips the
    * distinct-scan planning pass and the output schema is static — the
    * only pivot form that makes sense on a 100 TB fact. One partial-agg'd
    * shuffle on the group key; statuses fan out as columns, not rows. */
  def statusPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("amt"))
      .select(col("o_orderpriority"),
        coalesce(col("F_n"), lit(0L)).as("f_n"),
        coalesce(col("F_amt"), lit(0.0)).as("f_amt"),
        coalesce(col("O_n"), lit(0L)).as("o_n"),
        coalesce(col("O_amt"), lit(0.0)).as("o_amt"),
        coalesce(col("P_n"), lit(0L)).as("p_n"),
        coalesce(col("P_amt"), lit(0.0)).as("p_amt"))
      .orderBy("o_orderpriority")

  /** ROLLUP (q70): revenue by region → nation with subtotal and
    * grand-total rows (grouping sets — the OLAP cube surface). `lvl`
    * disambiguates aggregation depth the way `GROUPING()` would (the
    * dimension names are never null in this schema). Rollup costs the
    * same single shuffle as the plain group-by: Spark expands grouping
    * sets BEFORE the exchange and partial-aggregates each set map-side. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val dim = sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("s_suppkey"), col("r_name"), col("n_name"))
    li.join(broadcast(dim), li("l_suppkey") === dim("s_suppkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"), moneySum(col("l_extendedprice")).as("total"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("market"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        when(col("r_name").isNull && col("n_name").isNull, 2)
          .when(col("n_name").isNull, 1).otherwise(0).as("lvl"),
        col("n_items"), col("total"))
      .orderBy("lvl", "market", "nation")
  }

  /** NTILE quartiles (q71): customers ranked into revenue quartiles
    * WITHIN their market segment, reported per (segment, quartile). The
    * ntile order is total-ordered (revenue desc, then key) so tile
    * boundaries are deterministic on both engines. Customer totals are
    * one partial-agg'd shuffle; the per-segment rank comes from
    * [[graft.operators.GroupedPrefix]] (a segment-partitioned window
    * would sort a whole segment's customers in ONE task at 100×) and
    * the quartile is the exact integer NTILE formula over (rank, n). */
  def revenueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(moneySum(col("o_totalprice")).as("total"))
    val seg = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = totals.join(seg, totals("o_custkey") === seg("c_custkey"))
    graft.operators.GroupedPrefix.rankWithin(joined, "c_mktsegment",
        "total", descending = true, ties = Seq(col("o_custkey")),
        rankCol = "__rk", nCol = Some("__n"))
      .withColumn("quartile", graft.operators.GroupedPrefix
        .ntileFromRank(col("__rk"), col("__n"), 4))
      .groupBy("c_mktsegment", "quartile")
      .agg(count(lit(1)).as("n_customers"),
        moneySum(col("total")).as("sum_total"),
        min(col("total")).as("min_total"),
        max(col("total")).as("max_total"))
      .orderBy("c_mktsegment", "quartile")
  }

  /** Time-series gap fill (q72): a dense month spine per tracked
    * customer, monthly totals forward-filled across order-less months —
    * the resample/ffill every market-data series needs before modeling
    * (the reference's daily prices have the same trading-halt gaps).
    * The spine is generated from the global date bounds (one tiny agg +
    * `sequence`), cross-joined only against the TRACKED key set, so grid
    * size is |keys|·|months|, never fact-sized; the forward fill is one
    * running `last(ignoreNulls)` window per key. */
  def monthlyGapFill(spark: SparkSession, dir: String,
                     maxKey: Int = 20): DataFrame = {
    val o = Tables.orders(spark, dir)
    val monthly = o.filter(col("o_custkey") < maxKey)
      .groupBy(col("o_custkey"),
        trunc(col("o_orderdate").cast("date"), "MM").as("month"))
      .agg(moneySum(col("o_totalprice")).as("amt"))
    val spine = o.agg(
        trunc(min(col("o_orderdate")).cast("date"), "MM").as("mn"),
        trunc(max(col("o_orderdate")).cast("date"), "MM").as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 month)")).as("month"))
    val keys = monthly.select("o_custkey").distinct()
    val w = Window.partitionBy("o_custkey").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keys.crossJoin(spine)
      .join(monthly, Seq("o_custkey", "month"), "left")
      .select(col("o_custkey"), col("month"),
        coalesce(last(col("amt"), ignoreNulls = true).over(w), lit(0.0))
          .as("amt_filled"),
        when(col("amt").isNull, 1).otherwise(0).as("is_gap"))
      .orderBy("o_custkey", "month")
  }

  /** Market concentration (q98): per-month Herfindahl–Hirschman index of
    * supplier revenue shares, plus the top share — the regulator's
    * concentration read on top of the q85 market model. All-integer
    * until the final ratios: HHI = Σc²/(Σc)² over integer cents, with
    * the squares accumulated in DECIMAL(38) (long² would overflow at
    * warehouse revenue magnitudes; DuckDB mirrors with HUGEINT).
    * Two partial-agg'd exchanges: fact → (suppkey, month) cents, then
    * (month). */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"),
        trunc(col("l_shipdate").cast("date"), "MM").as("month"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("c"))
    val dec = col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    monthly.groupBy("month")
      .agg(count(lit(1)).cast("int").as("n_suppliers"),
        sum(col("c")).as("total_cents"),
        max(col("c")).as("max_cents"),
        sum(dec * dec).as("sum_sq"))
      .select(col("month"), col("n_suppliers"),
        (col("total_cents").cast("double") / 100.0).as("total_rev"),
        r6(col("max_cents").cast("double") / col("total_cents").cast("double"))
          .as("top_share"),
        r6(col("sum_sq").cast("double") /
          (col("total_cents").cast("double") * col("total_cents").cast("double")))
          .as("hhi"))
      .orderBy("month")
  }

  /** Rank shift (q99): each supplier's monthly revenue rank and its
    * movement vs the supplier's previous ACTIVE month — the
    * league-table delta a market-share report leads with. Ranks are
    * dense integers over the (cents desc, suppkey) total order, so the
    * whole result is integer-exact. The rank window partitions by month
    * over supplier-reduced rows (|suppliers| per partition, never fact
    * rows); the shift window partitions by high-cardinality suppkey. */
  def rankShift(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"),
        trunc(col("l_shipdate").cast("date"), "MM").as("month"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("c"))
    val wm = Window.partitionBy("month").orderBy(col("c").desc, col("l_suppkey"))
    val ws = Window.partitionBy("l_suppkey").orderBy("month")
    monthly
      .withColumn("rnk", row_number().over(wm))
      .withColumn("prev_rnk", lag("rnk", 1).over(ws))
      .filter(col("prev_rnk").isNotNull)
      .select(col("l_suppkey"), col("month"),
        (col("c").cast("double") / 100.0).as("revenue"),
        col("rnk").cast("int").as("rnk"),
        col("prev_rnk").cast("int").as("prev_rnk"),
        (col("prev_rnk") - col("rnk")).cast("int").as("shift"))
      .orderBy("l_suppkey", "month")
  }

  /** Percentile report (q100): each customer's percent_rank and
    * cume_dist of lifetime revenue within their market segment — the
    * distribution placement the reference's global-stats query (q14)
    * can't give per-entity. The ordering is the unique (cents, custkey)
    * total order, so both ratios divide small exact integers
    * identically on both engines (r6 display). Revenue reduces the fact
    * first; the per-segment (rank, n) pair comes from
    * [[graft.operators.GroupedPrefix]] — a segment-partitioned window
    * would own a whole segment's customers in one task at 100× — and
    * percent_rank/cume_dist are recovered exactly (the order is total,
    * so there are no peers and the closed forms match SQL). */
  def percentileReport(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val rev = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("c"))
    val seg = rev.join(broadcast(cust),
        rev("o_custkey") === cust("c_custkey"))
      .select(col("c_mktsegment"), col("o_custkey"), col("c"))
    graft.operators.GroupedPrefix.rankWithin(seg, "c_mktsegment", "c",
        descending = false, ties = Seq(col("o_custkey").asc),
        rankCol = "__rk", nCol = Some("__n"))
      .withColumn("pct_rank", r6(graft.operators.GroupedPrefix
        .percentRankFromRank(col("__rk"), col("__n"))))
      .withColumn("cume", r6(graft.operators.GroupedPrefix
        .cumeDistFromRank(col("__rk"), col("__n"))))
      .select(col("c_mktsegment"), col("o_custkey"),
        (col("c").cast("double") / 100.0).as("revenue"),
        col("pct_rank"), col("cume"))
      .orderBy("c_mktsegment", "o_custkey")
  }

  /** Pareto / ABC classification (q104): suppliers bucketed by cumulative
    * revenue share — A while the running share is ≤ 80%, B to 95%, C
    * beyond; the classic inventory-analysis cut. ALL class boundaries are
    * integer compares (cum·5 ≤ total·4, cum·20 ≤ total·19 over exact
    * cents), so no float threshold can waver at a boundary; the display
    * share uses the tie-proof fixed-point floor division of q90/q101
    * rather than ROUND on a ratio. The cumulative window runs over
    * supplier-count rows (the fact reduces first), the same
    * bounded-window posture as q96. */
  def paretoAbc(spark: SparkSession, dir: String): DataFrame = {
    // Staged once: the prefix sum's three passes AND the grand total
    // read the supplier-reduced relation, not the lineitem aggregation.
    val rev = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("c"))
      .stage("paretoAbc:rev")
    val tot = rev.agg(sum(col("c")).as("total"))
    // Inclusive running revenue via the distributed two-pass prefix sum
    // (PrefixSum.exclusive + the row's own cents) — no single task ever
    // holds the whole supplier relation, however many keys survive the
    // fact reduction.
    graft.operators.PrefixSum.exclusive(rev, "c", descending = true,
        ties = Seq(col("l_suppkey")), valueCol = "c", outCol = "cum_ex")
      .withColumn("cum", col("cum_ex") + col("c"))
      .crossJoin(broadcast(tot))
      // cum·10⁶ overflows a long once total revenue passes ~9.2e12
      // cents (~SF0.4); DECIMAL(38) mirrors the oracle's HUGEINT (the
      // q98 idiom) so the fixed-point share survives any scale.
      .select(col("l_suppkey"),
        (col("c").cast("double") / 100.0).as("revenue"),
        expr("CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div total AS DOUBLE) / 1000000.0")
          .as("cum_share"),
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("revenue").desc, col("l_suppkey"))
  }

  /** Robust anomaly flags (q106): daily market revenue days whose
    * deviation from the median exceeds 3 robust sigmas (MAD · 1.4826) —
    * the outlier detector that, unlike z-scores, one fat-finger day
    * cannot drag. Median and MAD are Spark's exact `percentile` over
    * integer cents (DuckDB `quantile_cont` matches type-7), so both
    * engines evaluate the identical doubles; the robust score is
    * display-rounded (r4). Two passes over the |days|-sized daily
    * relation (stats broadcast back); the fact reduces to days first. */
  def robustAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("c"))
    val med = daily.agg(expr("percentile(c, 0.5D)").as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .select(abs(col("c") - col("med")).as("dev"))
      .agg(expr("percentile(dev, 0.5D)").as("mad"))
    daily.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .withColumn("score", (col("c") - col("med")) / (col("mad") * 1.4826))
      .filter(abs(col("score")) > 3.0)
      .select(col("d"), (col("c").cast("double") / 100.0).as("revenue"),
        (col("med") / 100.0).as("median_rev"),
        (col("mad") / 100.0).as("mad_rev"),
        r4(col("score")).as("robust_score"))
      .orderBy("d")
  }

  /** Transit-window overlap (q114): for each LARGE shipment (quantity >
    * 45) of a supplier, how many of the supplier's other shipments went
    * out while it was "in transit" — a deterministic synthetic window of
    * `1 + (orderkey + linenumber) % 14` days from the ship date (the
    * schema carries no receipt date). This is the RANGE-JOIN shape —
    * key equality PLUS point-in-interval containment — executed through
    * [[graft.operators.RangeJoin]]'s bucketized plan: an equi join on
    * (suppkey, week bucket) with the exact BETWEEN re-checked after,
    * never the quadratic nested-loop fallback Spark would otherwise
    * plan. Intervals span ≤ 15 days → ≤ 3 week-bucket rows each. */
  def transitOverlap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate").cast("date").as("ship"))
    val intervals = li.filter(col("l_quantity") > 45)
      .select(col("l_suppkey"),
        col("l_orderkey").as("i_orderkey"),
        col("l_linenumber").as("i_linenumber"),
        col("ship").as("t_start"),
        expr("date_add(ship, CAST(1 + (l_orderkey + l_linenumber) % 14 AS INT))")
          .as("t_end"))
    val points = li.select(col("l_suppkey"),
      col("l_orderkey").as("p_orderkey"),
      col("l_linenumber").as("p_linenumber"), col("ship"))
    graft.operators.RangeJoin.pointInInterval(points, intervals,
        keys = Seq("l_suppkey"), pointCol = "ship",
        startCol = "t_start", endCol = "t_end", bucketDays = 7)
      .filter(!(col("p_orderkey") === col("i_orderkey") &&
        col("p_linenumber") === col("i_linenumber")))
      .groupBy("l_suppkey", "i_orderkey", "i_linenumber", "t_start", "t_end")
      .agg(count(lit(1)).as("n_in_window"))
      .orderBy("l_suppkey", "i_orderkey", "i_linenumber")
  }

  /** Frequent item triples (q195, the A-priori level-3 market-basket
    * shape): the top-k part TRIPLES co-occurring within an order —
    * q116's pair analysis one level up, where the naive plan explodes:
    * per-order triple enumeration is Σ C(k_o, 3) rows, so the A-priori
    * prune (an item in fewer than `minItemSupport` baskets cannot join
    * a frequent triple) cuts every basket BEFORE the self-joins — the
    * level-wise candidate containment that makes basket mining feasible
    * at scale. Baskets here are order lineitems (bounded by the order's
    * line count), so the enumeration fan-out is capped by the data
    * model; a retail-scale basket would push the prune to level 2
    * (pair-frequency pruning) with identical plan shape.
    *
    * Scale shape: the basket relation stages once (the q116 idiom) and
    * every stage is keyed — support counts partial-aggregate on item
    * keys, the prune is a semi join on the item key, the enumeration
    * self-joins on the ORDER key (AQE broadcasts nothing fact-sized),
    * and the final top-k is TakeOrdered, never a global sort. Supports
    * are exact integers; ties break on the item ids. */
  def frequentTriples(spark: SparkSession, dir: String,
                      minItemSupport: Long = 2, k: Int = 25): DataFrame = {
    // the StageCache-shared basket substrate (q195/q203/q142-family)
    val items = Baskets.items(spark, dir)
    val frequent = items.groupBy("item").agg(count(lit(1)).as("s1"))
      .filter(col("s1") >= minItemSupport)
    val pruned = items.join(frequent.select("item"), Seq("item"), "left_semi")
      .stage("frequentTriples:pruned")
    pruned.select(col("oid"), col("item").as("i1"))
      .join(pruned.select(col("oid"), col("item").as("i2")), Seq("oid"))
      .filter(col("i1") < col("i2"))
      .join(pruned.select(col("oid"), col("item").as("i3")), Seq("oid"))
      .filter(col("i2") < col("i3"))
      .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("i1"), col("i2"), col("i3"))
      .limit(k)
      .transform(graft.operators.SmallRank.afterLimit(_,
        col("support").desc, col("i1"), col("i2"), col("i3")))
      .select(col("rank").cast("int").as("rank"), col("i1"), col("i2"),
        col("i3"), col("support"))
  }

  /** Rolling median/MAD anomaly detection (q190): per-priority daily
    * revenue scored against the ROBUST location/scale of its own
    * trailing 15-day window. [[robustAnomalies]] (q106) scores against
    * the GLOBAL corpus median/MAD — right for stationary series; this
    * is the windowed companion for drifting ones, where a level shift
    * would make yesterday's global median flag every day after the
    * shift. A day is anomalous when |x − med| > 5·MAD over its own
    * trailing window. Every statistic is exact integer cents: the
    * window rides `collect_list` over a bounded ROWS frame (frame order
    * = the window's sort order, deterministic on both engines), the
    * median is the lower-median element of the sorted array, and MAD is
    * the lower median of |xᵢ − med| — array ops, no float, no
    * percentile approximation, so the oracle matches value-for-value.
    * Warm-up rows (window < 7 days) are excluded from the report.
    *
    * Scale shape: one (priority, day) pre-aggregation (partial-agg'd,
    * ≤ |priorities|·|days| rows out), then a priority-partitioned
    * bounded window over that METADATA-SIZED series — the corpus-sized
    * fact never enters a window. The 15-element array per row is the
    * whole holistic state; a per-key daily series is bounded by the
    * calendar, not the data. */
  def revenueAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("px"))
    val w = Window.partitionBy("priority").orderBy("day").rowsBetween(-14, 0)
    daily.withColumn("arr", collect_list("px").over(w))
      .withColumn("med",
        expr("element_at(array_sort(arr), cast((size(arr)+1) div 2 as int))"))
      .withColumn("mad",
        expr("element_at(array_sort(transform(arr, v -> abs(v - med))), " +
          "cast((size(arr)+1) div 2 as int))"))
      .filter(size(col("arr")) >= 7)
      .select(col("priority"), col("day"),
        size(col("arr")).as("n_window"), col("px"), col("med"), col("mad"),
        when(abs(col("px") - col("med")) > col("mad") * 5, 1).otherwise(0)
          .as("is_anomaly"))
      .orderBy("priority", "day")
  }

  /** Time-decayed revenue leaderboard (q118): customer value where each
    * order's cents HALVE per calendar year of age relative to the
    * dataset's newest order — the recency-weighted CRM score a plain
    * lifetime sum overstates. Decay is integer floor division by a
    * power-of-two looked up from a literal table (ages cap at 9 — a
    * decade-old order contributes < 0.2%), so the score is exact and
    * order-independent on both engines. One 1-row anchor broadcast, one
    * customer-keyed aggregation. */
  def decayedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(col("o_custkey"),
      col("o_orderdate").cast("date").as("d"),
      round(col("o_totalprice") * 100, 0).cast("long").as("px"))
    val anchor = base.agg(max(col("d")).as("dmax"))
    base.crossJoin(broadcast(anchor))
      .withColumn("age", least(year(col("dmax")) - year(col("d")), lit(9)))
      .withColumn("decayed",
        expr("px div element_at(array(1L,2L,4L,8L,16L,32L,64L,128L,256L,512L), age + 1)"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), max(col("d")).as("last_order"),
        sum(col("px")).as("rev_units"), sum(col("decayed")).as("score_units"))
      .select(col("o_custkey"), col("n_orders").cast("int").as("n_orders"),
        col("last_order"),
        (col("rev_units").cast("double") / 100.0).as("lifetime_rev"),
        (col("score_units").cast("double") / 100.0).as("decayed_rev"))
      .orderBy(col("decayed_rev").desc, col("o_custkey"))
  }

  /** Local-supplier volume (q121, the TPC-H Q5 join shape): revenue by
    * customer nation where the supplier sits in the SAME nation,
    * region-filtered — the deepest join chain in the suite (lineitem ⋈
    * orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region). Every dimension
    * side broadcasts (region/nation are tiny, customer/supplier are
    * key+nation projections); the only big exchange is lineitem ⋈
    * orders on orderkey. Revenue is exact integer cents. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    // nation/region are unconditionally tiny -> forced broadcast;
    // customer/supplier are key+nation PROJECTIONS that AQE broadcasts
    // at bench scale but must be free to shuffle-join at 10^9 keys — a
    // forced broadcast() there is an executor OOM at real scale.
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("r_name"), col("revenue").desc, col("n_name"))
  }

  /** Sole-blame late suppliers (q122, the TPC-H Q21 correlation shape):
    * for multi-supplier orders, the supplier who shipped LATE (> 60
    * days after the order date) while every co-supplier shipped on
    * time — one EXISTS (another supplier participated) and one
    * NOT-EXISTS (another supplier was also late), both decorrelated to
    * orderkey-keyed semi/anti joins over a reduced (orderkey, suppkey,
    * any_late) relation. The fact reduces to per-(order, supplier)
    * flags BEFORE any correlation, so the semi/anti tier joins
    * order-supplier pairs, never raw lineitems. */
  def soleBlameSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"),
        col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("okey"), col("o_orderdate")), Seq("okey"))
      .groupBy("okey", "skey")
      .agg(max(when(datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")) > 60, 1).otherwise(0)).as("late"))
      .stage("soleBlameSuppliers:pairs") // three correlation branches read it
    val late = pairs.filter(col("late") === 1)
    val others = pairs.select(col("okey"), col("skey").as("other_skey"),
      col("late").as("other_late"))
    late
      // EXISTS: some other supplier in the same order
      .join(others, Seq("okey"))
      .filter(col("other_skey") =!= col("skey"))
      .groupBy("okey", "skey")
      .agg(count(lit(1)).as("n_others"),
        sum(col("other_late")).as("n_other_late"))
      // NOT EXISTS: no other LATE supplier
      .filter(col("n_other_late") === 0)
      .groupBy("skey")
      .agg(count(lit(1)).as("n_sole_blame_orders"))
      .select(col("skey").as("l_suppkey"), col("n_sole_blame_orders"))
      .orderBy(col("n_sole_blame_orders").desc, col("l_suppkey"))
  }

  /** Calendar-adjacent revenue autocorrelation (q113): Pearson corr of
    * daily market revenue against the NEXT calendar day's — the
    * persistence scalar a mean-reversion read starts from. The fact
    * reduces to |days| integer-cents rows first; adjacency is an equi
    * join on d+1 (gap days drop out — no window, no global sort), and
    * the one float statistic is display-rounded (r4), the q07
    * contract. */
  def revenueAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("c"))
    val next = daily.select(col("d").as("d2"), col("c").as("c_next"))
    daily.join(next, col("d2") === date_add(col("d"), 1))
      .agg(count(lit(1)).as("n_pairs"),
        r4(corr(col("c").cast("double"), col("c_next").cast("double")))
          .as("autocorr"))
  }

  /** Histogram-sketch order-value quantiles (q156): p25/p50/p90/p99 of
    * order totals from the ONE-PASS mergeable equi-width sketch
    * ([[graft.operators.QuantileSketch]]) instead of an exact
    * sort-everything percentile — the 100 TB quantile path (cells merge
    * by addition across partitions and snapshots; error ≤ one cell
    * width; every number integer-exact across engines). */
  def orderValueSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.histogramQuantiles(
      Tables.orders(spark, dir)
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
      "cents", buckets = 256)

  /** Per-priority order-value sketch quantiles (q157): the grouped form
    * of q156 — one shared global cell grid (cells comparable and
    * mergeable across groups), per-group cumulative counts over ≤256
    * rows per key, one corpus-wide (group, cell) exchange total. */
  def priorityValueSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.groupedHistogramQuantiles(
      Tables.orders(spark, dir)
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
      "o_orderpriority", "cents", buckets = 256)

  /** Clamped supplier inventory balance (q163): chronological quantity
    * flow per supplier where returns (`l_returnflag = 'R'`) draw down
    * and the balance floors at zero — the `b := max(0, b + delta)`
    * scan that looks sequential but linearizes to two stacked windows
    * ([[graft.operators.ClampedScan]]: balance = prefix sum − running
    * floor). One supplier-keyed shuffle, per-row state, exact
    * integers. */
  def supplierBalance(spark: SparkSession, dir: String): DataFrame = {
    val qc = round(col("l_quantity") * 100, 0).cast("long")
    val mv = Tables.lineitem(spark, dir).select(col("l_suppkey"),
      col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      when(col("l_returnflag") === "R", -qc).otherwise(qc).as("delta"))
    graft.operators.ClampedScan.balanceReport(mv, "l_suppkey",
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        "delta")
      .orderBy("l_suppkey")
  }

  /** Weighted median unit price per supplier (q158): the
    * quantity-weighted median — the "typical traded price" a plain
    * median of line rows mis-states when line sizes differ. Rows
    * collapse to (supplier, price) weight sums first (one fact
    * exchange), the cumulative weight rides a supplier-partitioned
    * window over the collapsed rows, and the median is the smallest
    * price whose doubled cumulative weight reaches the total
    * (lower-weighted-median; exact integers throughout, argmin via
    * conditional min — no second join). */
  def weightedMedianPrice(spark: SparkSession, dir: String): DataFrame = {
    val pw = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_c"),
        round(col("l_quantity") * 100, 0).cast("long").as("w"))
      .groupBy("l_suppkey", "price_c").agg(sum("w").as("w"))
    val wOrd = Window.partitionBy("l_suppkey").orderBy("price_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_suppkey")
    pw
      .withColumn("cum", sum("w").over(wOrd))
      .withColumn("tot", sum("w").over(wAll))
      .groupBy("l_suppkey")
      .agg(max(col("tot")).as("total_weight"),
        min(when(col("cum") * 2 >= col("tot"), col("price_c")))
          .as("median_c"))
      .select(col("l_suppkey"), col("total_weight"),
        (col("median_c").cast("double") / 100.0).as("weighted_median_price"))
      .orderBy("l_suppkey")
  }

  /** Modal order priority per market segment (q159): the most frequent
    * priority each segment files, ties to the lexicographically
    * smallest — argmax carried through the partial merge as
    * `min(struct(−n, priority))` (no window, no second join; the
    * (segment, priority) space is tiny after one fact agg). Share in
    * exact basis points. */
  def modalPriority(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy("c_mktsegment")
      .agg(sum("n").as("n_orders"),
        min(struct((-col("n")).as("neg"), col("o_orderpriority").as("p")))
          .as("b"))
      .select(col("c_mktsegment"), col("b.p").as("top_priority"),
        (-col("b.neg")).as("n_top"), col("n_orders"),
        expr("CAST(((- b.neg) * 10000) div n_orders AS INT)").as("share_bp"))
      .orderBy("c_mktsegment")
  }

  /** Supplier shipping coverage (q143): merge each supplier's 7-day
    * shipment-activity intervals [ship_day, ship_day+7) into maximal
    * islands ([[graft.operators.Intervals]]) and report the duty cycle:
    * how many distinct activity islands, how many days covered, over
    * what span. Days are exact integers (epoch days), the window
    * partitions by supplier — the gaps-and-islands sweep at fact
    * scale. */
  def shipIntervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01"))
          .cast("long").as("day_start"))
      .distinct() // one interval per (supplier, ship day)
      .withColumn("day_end", col("day_start") + 7)
    graft.operators.Intervals.coverage(iv, "l_suppkey", "day_start", "day_end")
      .select(col("l_suppkey"), col("n_intervals"), col("n_islands"),
        col("covered").as("covered_days"), col("span").as("span_days"))
      .orderBy("l_suppkey")
  }

  /** Brand price–size skyline (q146): per brand, the Pareto frontier of
    * parts minimizing retail price while maximizing size — the
    * "efficient catalog" no cheaper-and-bigger part dominates. 2-D, so
    * [[graft.operators.Skyline.frontier2d]] computes it with one
    * partitioned window over distinct (price, size) points instead of
    * the quadratic NOT-EXISTS self-join the oracle states. Prices
    * compare in exact integer cents. */
  def brandSkyline(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.frontier2d(
        Tables.part(spark, dir).select(col("p_brand"),
          round(col("p_retailprice") * 100, 0).cast("long").as("price_cents"),
          col("p_size")),
        "p_brand", "price_cents", "p_size")
      .select(col("p_brand"),
        (col("price_cents").cast("double") / 100.0).as("price"),
        col("p_size"), col("n_rows").as("n_parts"))
      .orderBy("p_brand", "price")

  /** Seasonal-naive forecast backtest (q147): predict each nation's
    * daily revenue with last week's same-weekday value and score the
    * error — the baseline every real forecaster must beat, and the
    * backtest loop that turns a revenue panel into a model-quality
    * report. The panel reduces to (nation, day) integer cents first
    * (ONE fact shuffle); the lag is a (nation, weekday)-partitioned
    * window; MAE/bias are exact floored cents. */
  def seasonalForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("l_shipdate").cast("date").as("d"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("c"))
    val w = Window.partitionBy(col("n_name"), weekday(col("d"))).orderBy("d")
    daily
      .withColumn("forecast", lag(col("c"), 1).over(w))
      .filter(col("forecast").isNotNull)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_forecasts"),
        expr("sum(abs(c - forecast)) div count(1)").as("mae_cents"),
        expr("sum(c - forecast) div count(1)").as("bias_cents"))
      .orderBy("n_name")
  }

  /** Per-supplier two-feature OLS (q148): regress line revenue (cents)
    * on quantity and discount (basis points) via the closed-form normal
    * equations — ONE aggregation pass accumulates the exact integer
    * Gram/moment sums per supplier, and the 2×2 solve is pure
    * projection arithmetic in 38-digit decimals (single floor per
    * coefficient, so both engines land on identical milli integers;
    * exact while the 4th-order centered product cc·cd stays inside
    * decimal(38) — ~10⁵ rows per group at these magnitudes (it grows as
    * n⁴); beyond that, rescale the units). No
    * iteration, no driver: the whole fit is groupBy + project, the
    * shape gradient descent can't match on a fixed design. R² comes
    * from the same moments, floored to ppm against the floored
    * coefficients. */
  def supplierOls(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_suppkey"),
      col("l_quantity").cast("long").as("x1"),
      round(col("l_discount") * 10000, 0).cast("long").as("x2"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
    li.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      // centered second moments (×n), all exact
      .withColumn("ca", expr("CAST(n AS DECIMAL(38,0)) * s11 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("cb", expr("CAST(n AS DECIMAL(38,0)) * s12 - CAST(s1 AS DECIMAL(38,0)) * s2"))
      .withColumn("cc", expr("CAST(n AS DECIMAL(38,0)) * s22 - CAST(s2 AS DECIMAL(38,0)) * s2"))
      .withColumn("cd", expr("CAST(n AS DECIMAL(38,0)) * s1y - CAST(s1 AS DECIMAL(38,0)) * sy"))
      .withColumn("ce", expr("CAST(n AS DECIMAL(38,0)) * s2y - CAST(s2 AS DECIMAL(38,0)) * sy"))
      .withColumn("sst", expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("det", expr("ca * cc - cb * cb"))
      .filter(col("det") > 0 && col("sst") > 0)
      // milli-scaled slopes: the 10³ factor keeps the 4th-order product
      // cc·cd·scale three decimal digits under the 38-digit cap at
      // bench scale (n⁴ growth per group — see scaladoc bound)
      .withColumn("b1_milli", expr("(cc * cd - cb * ce) * 1000 div det"))
      .withColumn("b2_milli", expr("(ca * ce - cb * cd) * 1000 div det"))
      .withColumn("r2_ppm",
        expr("(cd * b1_milli + ce * b2_milli) * 1000 div sst"))
      .select(col("l_suppkey"), col("n").cast("int").as("n_lines"),
        col("b1_milli").cast("long").as("qty_slope_milli"),
        col("b2_milli").cast("long").as("discount_slope_milli"),
        col("r2_ppm").cast("long").as("r2_ppm"))
      .orderBy("l_suppkey")
  }

  /** Gini concentration of customer lifetime revenue per market segment
    * (q197) — the inequality statistic a mean/median summary hides (two
    * segments with equal averages can have wildly different whale
    * concentration). Gini is an ORDER statistic; the textbook rank form
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  xᵢ ascending
    *
    * needs every group member ranked, so the honest cost is one sort per
    * segment. All arithmetic is exact: revenues are integer cents, the
    * rank-weighted sum rides DECIMAL(38,0) (rank·cents products overflow
    * 64 bits near 10⁹ customers), and the final ppm is one floor
    * division of nonnegative integers — identical on both engines.
    *
    * Scale shape: one custkey aggregation over orders (the only
    * fact-sized exchange), a key+segment dimension join Catalyst is free
    * to broadcast, then the per-segment rank from
    * [[graft.operators.GroupedPrefix]] — the FEW-huge-segments regime
    * is exactly the one where a segment-partitioned window concentrates
    * each segment's sort on one task, so the registered form is the
    * grouped two-pass prefix (count prefix = rank), scale-safe at any
    * segment size. */
  def giniBySegment(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val seg = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = rev.join(seg, col("o_custkey") === col("c_custkey"))
    graft.operators.GroupedPrefix.rankWithin(joined, "c_mktsegment",
        "cents", descending = false, ties = Seq(col("o_custkey")),
        rankCol = "rk")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("s"),
        sum(expr("CAST(rk AS DECIMAL(38,0)) * cents")).as("t"))
      .withColumn("gini_ppm", expr(
        "(2 * t - (CAST(n AS DECIMAL(38,0)) + 1) * s) * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * s)"))
      .select(col("c_mktsegment"), col("n").cast("int").as("n_cust"),
        (col("s").cast("double") / 100.0).as("revenue"),
        col("gini_ppm").cast("long").as("gini_ppm"),
        (col("gini_ppm").cast("double") / 1e6).as("gini"))
      .orderBy("c_mktsegment")
  }

  /** Benford first-digit audit of order totals (q198) — the classic
    * fabricated-data screen: naturally-occurring multi-magnitude amounts
    * put ~30.1% of first digits at 1, and a synthetic or tampered feed
    * shows up as a flat or spiked digit histogram. The first significant
    * digit is read from the DECIMAL STRING of the integer cents (same
    * significand as the raw amount, no float log10 near power-of-ten
    * boundaries); the expected Benford share log₁₀(1+1/d) is quantized
    * ONCE per digit row (9 rows) to ppm, so observed−expected deviations
    * are integer subtraction. One scan, one 9-group aggregation, a 1-row
    * broadcast total — nothing else. */
  def benfordPrices(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("nt"))
    digits.crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("n * 1000000 div nt"))
      .withColumn("exp_ppm",
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")) * 1e6, 0)
          .cast("long"))
      .select(col("digit"), col("n").cast("long").as("n_orders"),
        col("obs_ppm").cast("long").as("obs_ppm"), col("exp_ppm"),
        (col("obs_ppm") - col("exp_ppm")).cast("long").as("dev_ppm"))
      .orderBy("digit")
  }

  /** Trimmed and winsorized means of order totals per priority (q199) —
    * the robust location estimates that survive fat tails: trim drops
    * the extreme 5% at each end, winsorize CLAMPS them to the 5th/95th
    * exact order statistics (so n stays constant — the estimator
    * auditors prefer when row counts must reconcile). Cut points are
    * exact ranks (k = ⌊n/20⌋), not approximate percentiles: the
    * per-priority (rank, n) pair comes from
    * [[graft.operators.GroupedPrefix]] — a priority-partitioned window
    * would sort a whole priority's FACT-scale slice in one task at
    * 100× — and the winsorized sum is recovered WITHOUT a second pass
    * as trimmed_sum + k·(lo + hi) where lo/hi are the boundary order
    * statistics picked by conditional aggregation. All sums integer
    * cents; each mean is one double division at the end. */
  def robustMeans(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    graft.operators.GroupedPrefix.rankWithin(base, "o_orderpriority",
        "cents", descending = false, ties = Seq(col("o_orderkey")),
        rankCol = "rk", nCol = Some("n"))
      .withColumn("k", expr("n div 20"))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        sum(col("cents")).as("s_all"),
        sum(when(col("rk") > col("k") && col("rk") <= col("n") - col("k"),
          col("cents"))).as("s_trim"),
        sum(when(col("rk") > col("k") && col("rk") <= col("n") - col("k"),
          1L).otherwise(0L)).as("n_trim"),
        max(when(col("rk") === col("k") + 1, col("cents"))).as("lo"),
        max(when(col("rk") === col("n") - col("k"), col("cents"))).as("hi"))
      .withColumn("s_wins", col("s_trim") + col("k") * (col("lo") + col("hi")))
      .select(col("o_orderpriority"), col("n").cast("int").as("n_orders"),
        col("k").cast("int").as("k_trim"),
        (col("s_all").cast("double") / 100.0 / col("n")).as("mean"),
        (col("s_trim").cast("double") / 100.0 / col("n_trim"))
          .as("trimmed_mean"),
        (col("s_wins").cast("double") / 100.0 / col("n")).as("winsor_mean"),
        (col("lo").cast("double") / 100.0).as("lo_bound"),
        (col("hi").cast("double") / 100.0).as("hi_bound"))
      .orderBy("o_orderpriority")
  }

  /** Association rules from order baskets (q203) — the market-basket
    * output one level below q195's triples: for each frequent part pair
    * BOTH directed rules a⇒b and b⇒a with exact confidence
    * supp(ab)/supp(a) and lift supp(ab)·N/(supp(a)·supp(b)) in floor
    * ppm (lift > 1e6 = genuinely associated, not just both popular —
    * the popularity correction raw pair counts like q116 can't make).
    * Top-k by lift under a total tie-break.
    *
    * Scale shape: the basket relation stages once; pair enumeration
    * self-joins on the ORDER key (bounded by basket width); supports
    * partial-aggregate on item/pair keys; N is a 1-row broadcast;
    * the head is TakeOrdered. All-integer statistics. */
  def basketRules(spark: SparkSession, dir: String,
                  minPairSupport: Long = 2, topK: Int = 25): DataFrame = {
    // the StageCache-shared basket substrate (q195/q203/q142-family)
    val it = Baskets.items(spark, dir)
    val nOrders = it.agg(countDistinct(col("oid")).as("n_orders"))
    val isup = it.groupBy("item").agg(count(lit(1)).as("s_i"))
    val pairs = it.join(it.withColumnRenamed("item", "item2"), Seq("oid"))
      .filter(col("item") < col("item2"))
      .groupBy("item", "item2").agg(count(lit(1)).as("s_ab"))
      .filter(col("s_ab") >= minPairSupport)
    val directed = pairs
      .select(col("item").as("antecedent"), col("item2").as("consequent"),
        col("s_ab"))
      .unionAll(pairs.select(col("item2").as("antecedent"),
        col("item").as("consequent"), col("s_ab")))
    directed
      .join(isup.select(col("item").as("antecedent"), col("s_i").as("s_a")),
        Seq("antecedent"))
      .join(isup.select(col("item").as("consequent"), col("s_i").as("s_c")),
        Seq("consequent"))
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ppm", expr("s_ab * 1000000 div s_a"))
      .withColumn("lift_ppm", expr(
        "CAST(s_ab AS DECIMAL(38,0)) * n_orders * 1000000 div " +
          "(CAST(s_a AS DECIMAL(38,0)) * s_c)"))
      .select(col("antecedent"), col("consequent"),
        col("s_ab").cast("long").as("pair_supp"),
        col("s_a").cast("long").as("ante_supp"),
        col("s_c").cast("long").as("cons_supp"),
        col("conf_ppm").cast("long").as("conf_ppm"),
        col("lift_ppm").cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** Incremental aggregate maintenance (q209) — the partial-aggregate
    * MERGE identity that makes warehouse rollups maintainable without
    * full recomputes: the per-customer order summary is built from TWO
    * independently aggregated partitions (base = orders before
    * 1996-07-01, delta = orders after) whose STATES — (count, cents
    * sum, max date) — are unioned and re-aggregated, exactly how a
    * streaming sink or an incremental ETL merges yesterday's state with
    * today's delta. The DuckDB oracle recomputes the summary FLAT over
    * all orders, so a green row proves merge(state(A), state(B)) ≡
    * state(A ∪ B) value-for-value — the algebraic property (commutative
    * monoid measures: sum/count/max) that also licenses Spark's own
    * map-side partial aggregation at any cluster size. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val split = "1996-07-01"
    def state(pred: Column): DataFrame =
      Tables.orders(spark, dir).filter(pred)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
          max(col("o_orderdate").cast("date")).as("maxd"))
    val base = state(col("o_orderdate") < lit(split))
    val delta = state(col("o_orderdate") >= lit(split))
    base.unionAll(delta)
      .groupBy("o_custkey")
      .agg(sum("n").as("n"), sum("cents").as("cents"), max("maxd").as("maxd"))
      .select(col("o_custkey"), col("n").cast("long").as("n_orders"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        col("maxd").as("last_order"))
      .orderBy("o_custkey")
  }

  /** RFM customer segmentation (q211) — the classic CRM triple scored
    * WITHIN market segment: recency (days from last order to the
    * segment-wide anchor date), frequency (order count), monetary
    * (lifetime cents), each cut into quintiles (standard-SQL ntile
    * semantics both engines share; ties broken by custkey so the cut
    * is deterministic), then labeled with the usual marketing
    * taxonomy. Scale shape: one custkey aggregation over orders, a
    * broadcast-eligible segment join, one 1-row anchor broadcast, then
    * three [[graft.operators.GroupedPrefix]] ranks — NOT three
    * segment-partitioned ntile windows, which would serialize each
    * 5-value segment's full customer slice into one task at 100× —
    * each quintile recovered from its (rank, n) pair by the exact
    * integer NTILE formula. Quintiles within segment (not global)
    * compare customers against their peers, which is the defensible
    * semantics anyway. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("lastd"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val seg = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val anchor = per.agg(max(col("lastd")).as("anchor"))
    val gp = graft.operators.GroupedPrefix
    val base = per.join(seg, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("anchor"), col("lastd"))
        .cast("long"))
    // all three rank axes share ONE GroupedPrefix machine (one staging,
    // one group index, one multi-column quantile pass)
    gp.ranksMulti(base, "c_mktsegment",
        Seq(("recency_days", false, "__rkr"), ("freq", true, "__rkf"),
          ("cents", true, "__rkm")),
        ties = Seq(col("o_custkey")), nCol = Some("__n"))
      .withColumn("r", lit(6) - gp.ntileFromRank(col("__rkr"), col("__n"), 5))
      .withColumn("f", lit(6) - gp.ntileFromRank(col("__rkf"), col("__n"), 5))
      .withColumn("m", lit(6) - gp.ntileFromRank(col("__rkm"), col("__n"), 5))
      .withColumn("segment",
        when(col("r") >= 4 && col("f") >= 4 && col("m") >= 4, "champion")
          .when(col("f") >= 4, "loyal")
          .when(col("m") >= 4, "big_spender")
          .when(col("r") <= 2 && col("f") <= 2, "hibernating")
          .when(col("r") <= 2, "at_risk")
          .otherwise("regular"))
      .select(col("o_custkey"), col("c_mktsegment"), col("recency_days"),
        col("freq").cast("long").as("n_orders"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        col("r").cast("int").as("r"), col("f").cast("int").as("f"),
        col("m").cast("int").as("m"), col("segment"))
      .orderBy("o_custkey")
  }

  /** Pareto/ABC classification of parts by revenue (q200) — the
    * inventory-policy classic: class A = parts whose PRIOR cumulative
    * revenue share is under 80% (the vital few), B until 95%, C the
    * long tail. The prior-share convention (not inclusive) keeps the
    * top part in A even when it alone crosses 80%. The running total
    * rides [[graft.operators.PrefixSum]] — the two-pass range-split
    * scheme — because a part catalog is NOT metadata-scale at 100 TB
    * and a single unpartitioned window over it would serialize; shares
    * are floor-ppm in DECIMAL(38,0) against a 1-row broadcast total.
    * Output is the 3-row class summary (count, revenue, share). */
  def abcPareto(spark: SparkSession, dir: String): DataFrame = {
    val pr = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev"))
    val pfx = graft.operators.PrefixSum.exclusive(
      pr, "rev", descending = true, Seq(col("l_partkey")), "rev", "prior")
    val total = pr.agg(sum(col("rev")).as("total"))
    pfx.crossJoin(broadcast(total))
      .withColumn("prior_ppm",
        expr("CAST(prior AS DECIMAL(38,0)) * 1000000 div total"))
      .withColumn("abc_class",
        when(col("prior_ppm") < 800000, "A")
          .when(col("prior_ppm") < 950000, "B").otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cls"),
        max(col("total")).as("total"))
      .select(col("abc_class"), col("n_parts").cast("int").as("n_parts"),
        (col("rev_cls").cast("double") / 100.0).as("revenue"),
        expr("CAST(CAST(rev_cls AS DECIMAL(38,0)) * 1000000 div total" +
          " AS BIGINT)").as("share_ppm"))
      .orderBy("abc_class")
  }

  /** CUSUM level-shift detection (q212) on per-priority daily revenue —
    * the sequential change-point detector (Page 1954) that flags a
    * SUSTAINED drift long before any single day trips a spike detector
    * like [[revenueAnomaly]]'s MAD gate: each day accumulates its
    * deviation from the series mean less a slack k, and the alarm fires
    * when the accumulation crosses h. The textbook recursion
    * S⁺_t = max(0, S⁺_{t−1} + x_t − μ − k) is not a windowed aggregate,
    * but it LINEARIZES: with P_t = Σ_{i≤t}(x_i − μ − k),
    * S⁺_t = P_t − min(0, min_{j≤t} P_j) — a running sum and a running
    * min, both ordinary prefix windows (proof: substitute and induct; the
    * min picks up exactly the resets) — the same prefix-min identity
    * [[graft.operators.ClampedScan]] uses for clamped running balances,
    * inlined here so the UP and DOWN detectors share ONE priority-keyed
    * exchange instead of two passes. The downward detector S⁻ is the
    * mirrored prefix over (μ − x − k). k = μ/50 (2% drift allowance),
    * h = μ/2 — half an average day of cumulative drift. All integer
    * cents; the only division is a nonneg floor div for μ.
    *
    * Scale shape: the fact collapses to a calendar-bounded (priority,
    * day) series before any window; μ/k/h ride a per-priority 1-row-each
    * broadcast; the two windows share one priority-keyed exchange. */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("px"))
    val params = daily.groupBy("priority")
      .agg(expr("sum(px) div count(*)").as("mu"))
      .withColumn("k", expr("mu div 50"))
      .withColumn("h", expr("mu div 2"))
    val w = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(params), Seq("priority"))
      .withColumn("p_up", sum(col("px") - col("mu") - col("k")).over(w))
      .withColumn("p_dn", sum(col("mu") - col("px") - col("k")).over(w))
      .withColumn("s_up", col("p_up") - least(lit(0L), min("p_up").over(w)))
      .withColumn("s_dn", col("p_dn") - least(lit(0L), min("p_dn").over(w)))
      .select(col("priority"), col("day"), col("px"), col("mu"),
        col("s_up"), col("s_dn"),
        when(col("s_up") > col("h"), 1).otherwise(0).as("alarm_up"),
        when(col("s_dn") > col("h"), 1).otherwise(0).as("alarm_dn"))
      .orderBy("priority", "day")
  }

  /** Sequential purchase rules (q217): directed part pairs where the
    * SAME customer first bought A on a strictly earlier day than B —
    * the cross-basket temporal pattern ("adopters of A go on to buy B")
    * that [[basketRules]] (q203, within one order) and
    * [[frequentTriples]] (q195) cannot see because they never look
    * across a customer's order history. This is the level-2 step of
    * AprioriAll (Agrawal–Srikant sequential patterns): collapse each
    * (customer, part) to its FIRST purchase date, prune to parts
    * adopted by ≥ minCust customers (the level-wise support prune —
    * every frequent sequence's items are frequent), then enumerate
    * ordered pairs per customer. Confidence divides by the antecedent's
    * adopter count in floor ppm.
    *
    * Scale shape: the first-purchase collapse is one (cust, part)
    * aggregation; the support prune cuts the per-customer item list
    * BEFORE the self-join, so pair volume is bounded by (frequent items
    * per customer)², never (lines per customer)²; the pair aggregation
    * is keyed on the part pair; the head is TakeOrdered over a total
    * order. */
  def sequentialRules(spark: SparkSession, dir: String,
                      minCust: Long = 5, topK: Int = 25): DataFrame = {
    val firsts = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_partkey"))
      .agg(min(col("o_orderdate").cast("date")).as("first_d"))
    val freq = firsts.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_cust_part"))
      .filter(col("n_cust_part") >= minCust)
    val pruned = firsts.join(freq, Seq("l_partkey"))
      .select(col("o_custkey"), col("l_partkey"), col("first_d"),
        col("n_cust_part"))
      .stage("sequentialRules:pruned") // both sides of the pair join read it
    val a = pruned.select(col("o_custkey"), col("l_partkey").as("part_a"),
      col("first_d").as("d_a"), col("n_cust_part").as("n_a"))
    val b = pruned.select(col("o_custkey"), col("l_partkey").as("part_b"),
      col("first_d").as("d_b"))
    a.join(b, Seq("o_custkey"))
      .filter(col("d_a") < col("d_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_cust"), max(col("n_a")).as("n_ante"))
      .withColumn("conf_ppm", expr("n_cust * 1000000 div n_ante"))
      .orderBy(col("n_cust").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Kaplan–Meier churn table (q218): the survival-analysis readout of
    * customer lifetime — at each lifetime duration t (months between a
    * customer's first and last order), how many customers were still "at
    * risk", how many churned exactly there, the discrete hazard, and the
    * cumulative product-limit survival. Customers whose last order falls
    * within censorMonths of the dataset's newest month are CENSORED
    * (still active — their lifetime is a lower bound, they leave the
    * risk set without counting as churn), which is the whole point of
    * K-M: a naive churn-rate-by-duration silently counts active
    * customers as churned. Survival is reported in exact integer
    * micro-nats of LOG-survival — each per-t factor ln((n−d)/n) is
    * quantized ONCE (the q181 contract: one transcendental per distinct
    * integer pair, every aggregate after it exact integer addition), so
    * the cumulative column is order-independent across engines; the
    * n−d = 0 full-extinction row clamps the factor at ln(1/n)
    * (survival floor: one notional survivor), documented rather than
    * −∞. No exp() is taken — exp's last-ulp behavior differs across
    * engines, and log-survival is what downstream tests (log-rank)
    * consume anyway.
    *
    * Scale shape: the fact collapses to one row per customer, then to a
    * ≤ (calendar months) duration histogram; both running columns (risk suffix,
    * log-survival prefix) ride the two-pass distributed
    * [[graft.operators.PrefixSum]] rather than an unpartitioned
    * window. */
  def kaplanMeier(spark: SparkSession, dir: String,
                  censorMonths: Int = 3): DataFrame = {
    def mon(c: Column) = year(c) * 12 + month(c)
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(mon(col("o_orderdate"))).as("m0"),
        max(mon(col("o_orderdate"))).as("m1"))
    val anchor = per.agg(max("m1").as("mmax"))
    val hist = per.crossJoin(broadcast(anchor))
      .select((col("m1") - col("m0")).as("t"),
        when(col("m1") >= col("mmax") - censorMonths, 0L).otherwise(1L)
          .as("event"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_at_t"), sum(col("event")).as("d"))
    val risk = graft.operators.PrefixSum.exclusive(
        hist, "t", descending = true, Seq.empty, "n_at_t", "after")
      .withColumn("n_risk", col("after") + col("n_at_t"))
      .withColumn("term", expr(
        "CAST(ROUND(ln(greatest(n_risk - d, 1)) * 1000000, 0) AS BIGINT)" +
          " - CAST(ROUND(ln(n_risk) * 1000000, 0) AS BIGINT)"))
    graft.operators.PrefixSum.exclusive(
        risk, "t", descending = false, Seq.empty, "term", "prior_log")
      .select(col("t").cast("int").as("t_months"),
        col("n_risk"), col("n_at_t"), col("d").as("n_churn"),
        expr("d * 1000000 div n_risk").as("hazard_ppm"),
        (col("prior_log") + col("term")).as("log_surv_micro"))
      .orderBy("t_months")
  }

  /** Spearman rank correlation (q215) between a customer's account
    * balance and their lifetime order revenue, per market segment — the
    * MONOTONE-association companion to q07's Pearson: insensitive to
    * outliers and to any monotone rescaling of either axis (a whale's
    * absolute revenue can't dominate the statistic the way it dominates
    * a covariance). Both axes are ranked over a DETERMINISTIC total
    * order — (value, custkey) — so ranks are tie-free by construction
    * and the no-ties identity ρ = 1 − 6·Σd²/(n(n²−1)) is exact; with
    * genuinely tied values the tie-break randomizes which of the tied
    * rows gets which rank, but the SAME assignment happens on both
    * engines, so the statistic is reproducible (documented contract:
    * this is Spearman-with-deterministic-tie-break, not the
    * average-rank variant). Σd² rides DECIMAL(38,0) (d can reach n, so
    * Σd² ~ n³/3 overflows 64-bit ppm-scaled at ~10⁶ rows/group); the
    * single floor division has a nonnegative numerator — ρ goes negative
    * only through the final exact subtraction.
    *
    * Scale shape: one custkey aggregation over the fact, a broadcastable
    * dimension join, two [[graft.operators.GroupedPrefix]] ranks (a
    * segment-keyed rank window would own a whole segment's customers in
    * one task at 100×), then a per-segment aggregation — output is one
    * row per segment. */
  def spearmanSegments(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal"))
    val gp = graft.operators.GroupedPrefix
    val joined = rev.join(cust, col("o_custkey") === col("c_custkey"))
    // two GroupedPrefix ranks in one shared machine, not two
    // segment-partitioned windows: a 5-value segment key over
    // customer-scale rows serializes at 100×
    gp.ranksMulti(joined, "c_mktsegment",
        Seq(("bal", false, "rx"), ("cents", false, "ry")),
        ties = Seq(col("o_custkey")))
      .withColumn("d", (col("rx") - col("ry")).cast("long"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(d*d AS DECIMAL(38,0))")).as("sd2"))
      // n(n²−1) = 0 for a single-customer segment: Spark's `div` yields
      // NULL while DuckDB's `//` raises division-by-zero — a crash-vs-
      // NULL parity divergence on degenerate input. ρ is undefined for
      // n=1 anyway; exclude such groups on BOTH engines (oracle carries
      // the matching HAVING COUNT(*) > 1).
      .filter(col("n") > 1)
      .withColumn("rho_ppm", expr(
        "1000000 - CAST(6 * sd2 * 1000000 div" +
          " (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))" +
          " AS BIGINT)"))
      .select(col("c_mktsegment"), col("n").cast("int").as("n_cust"),
        col("sd2").cast("long").as("sum_d2"),
        col("rho_ppm").cast("long").as("rho_ppm"),
        (col("rho_ppm").cast("double") / 1e6).as("rho"))
      .orderBy("c_mktsegment")
  }

  /** Log-bucketed order-value quantiles (q314): p25/p50/p90/p99/p99.9
    * of order cents from the HEAVY-TAIL sketch
    * ([[graft.operators.QuantileSketch.logQuantiles]]) — magnitude-
    * relative buckets (DDSketch-style, ≤ 1/32 relative value error at
    * every scale), value-INDEPENDENT grid so partition / snapshot /
    * cluster maps merge by plain addition with no (min, max)
    * coordination — the q156 equi-width sketch's missing tier: one
    * 10⁴× outlier there collapses every interior cell
    * (QuantileSketchSpec plants exactly that and pins the contrast). */
  def orderValueLogSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.logQuantiles(
      Tables.orders(spark, dir)
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
      "cents", subBits = 5)
}
