package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.Stage.StageOps

/** TPC-H-class correlated-subquery shapes, decorrelated by hand into the
  * aggregate-then-join plans Catalyst cannot always derive on its own
  * (reference analogue: the multi-step SQL the reference pipeline issues
  * through its query client, `/root/reference/src/clickhouse/client.py:73-235`,
  * where every "for each key, compare to its own aggregate" question is
  * answered by a second scan — here each is a single-pass agg + co-keyed
  * join).
  *
  * Scale posture (100 TB): every query reduces the fact table FIRST —
  * brand/date filters prune via broadcast dims or pushed predicates before
  * any shuffle; per-key aggregates ride the same hash partitioning as the
  * join that consumes them (one exchange, reused); global scalars are
  * 1-row broadcasts; money/quantity math is exact integer cents
  * ([[graft.model.Parity]]) so partial aggregation is merge-order-proof.
  */
object Correlated {

  private def qcents(c: String) = round(col(c) * 100, 0).cast("long")
  /** Discount/tax as exact integer percent (the generator emits hundredths). */
  private def pct(c: String) = round(col(c) * 100, 0).cast("long")

  /** Small-quantity revenue (q132, the TPC-H Q17 correlation): revenue from
    * lineitems of one brand whose quantity is below 20% of that part's own
    * average quantity. Decorrelated: the brand's parts broadcast-prune the
    * fact, per-part (sum, count) aggregates of the REDUCED fact join back
    * on partkey — the filter `5·qty·cnt < sum_qty` is the exact integer
    * form of `qty < 0.2·avg(qty)` (no division, no fp). One fact shuffle
    * on partkey, reused by the agg and the join. */
  def smallQtyRevenue(spark: SparkSession, dir: String, brand: String = "Brand#12"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), qcents("l_quantity").as("qc"),
        qcents("l_extendedprice").as("cents"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum("qc").as("sum_qc"), count(lit(1)).as("cnt"))
    li.join(perPart, Seq("l_partkey"))
      .filter(col("qc") * col("cnt") * 5 < col("sum_qc"))
      .agg(count(lit(1)).as("n_small_qty_items"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
  }

  /** Large-volume orders (q133, the TPC-H Q18 HAVING shape): orders whose
    * total quantity exceeds a threshold, joined back to customer. The
    * HAVING runs on the orderkey-grouped fact BEFORE the dim joins, so only
    * the surviving ~1% of orders reach the customer join; top-k plans as
    * TakeOrderedAndProject. */
  def largeOrders(spark: SparkSession, dir: String, minQty: Long = 300, k: Int = 100): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(qcents("l_quantity")).as("qty_cents"))
      .filter(col("qty_cents") > minQty * 100)
    big
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"),
        (col("qty_cents").cast("double") / 100.0).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Idle rich customers (q134, the TPC-H Q22 shape): customers whose
    * balance beats the average POSITIVE balance and who placed no order on
    * or after the cutoff — per nation, how many and how much capital sits
    * idle. Decorrelated: the global (sum, count) scalar broadcasts via a
    * 1-row cross join (`bal·n > sum` is the exact integer form of
    * `bal > avg`), the NOT EXISTS becomes a custkey anti join against the
    * date-pruned order projection. */
  def idleRichCustomers(spark: SparkSession, dir: String, cutoff: String = "2001-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), qcents("c_acctbal").as("bc"))
    val posAvg = cust.filter(col("bc") > 0)
      .agg(sum("bc").as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff)).select("o_custkey")
    cust.crossJoin(broadcast(posAvg))
      .filter(col("bc") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("bc")).cast("double") / 100.0).as("total_acctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Cheapest supplier per part (q135, the TPC-H Q2 min-subquery shape):
    * for each part, the supplier with the lowest observed unit price —
    * ties broken to the lowest suppkey. Decorrelated: per-(part, supplier)
    * min price, then ONE more partkey-keyed aggregation whose
    * `min(struct(cost, suppkey))` carries the argmin through the partial
    * merge (struct ordering is lexicographic, so this is the tie-broken
    * winner with no window and no second join back). */
  def minCostSupplier(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val cost = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), qcents("l_extendedprice").as("cents"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("cents").as("min_cents"))
    val best = cost.groupBy("l_partkey")
      .agg(min(struct(col("min_cents"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey"), col("b.min_cents").as("cost_cents"),
        col("b.l_suppkey").as("s_suppkey"))
    best
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey"),
        Seq("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"), (col("cost_cents").cast("double") / 100.0).as("best_price"))
      .orderBy(col("best_price").desc, col("p_partkey"))
      .limit(k)
  }

  /** Promo revenue share by month (q136, the TPC-H Q14 CASE-share shape):
    * what fraction of each month's revenue came from PROMO-type parts,
    * in exact basis points (integer `10000·promo ÷ total` floor division —
    * no fp ratio crosses the engine boundary). Part type broadcasts into
    * the fact scan; one month-keyed aggregation. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.part(spark, dir).select(col("p_partkey"),
      (col("p_type") === "PROMO").cast("int").as("is_promo"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_shipdate"), qcents("l_extendedprice").as("cents"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(sum(when(col("is_promo") === 1, col("cents")).otherwise(0L)).as("pc"),
        sum(col("cents")).as("tc"))
      .select(col("month"),
        (col("pc").cast("double") / 100.0).as("promo_revenue"),
        (col("tc").cast("double") / 100.0).as("total_revenue"),
        expr("CAST((pc * 10000L) DIV tc AS INT)").as("promo_share_bp"))
      .orderBy("month")
  }

  /** Top supplier(s) by period revenue (q137, the TPC-H Q15 view-max
    * shape): per-supplier revenue over one quarter, keep exactly the
    * suppliers achieving the global maximum. Decorrelated: the max is a
    * 1-row broadcast compared against the SAME aggregate it came from —
    * cached so the revenue agg computes once, not twice. Ties (all rows at
    * the max) survive, matching the correlated-subquery semantics. */
  def topSupplier(spark: SparkSession, dir: String, from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .groupBy(col("l_suppkey"))
      .agg(sum(qcents("l_extendedprice")).as("rc"))
      .stage("topSupplier:rev") // read twice: once for max, once for the probe
    val mx = rev.agg(max("rc").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rc") === col("mx"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rc").cast("double") / 100.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Volume shipping between a nation pair (q151, the TPC-H Q7 shape):
    * yearly revenue flowing in EACH direction between two nations —
    * supplier in one, customer in the other. The classic disjunctive
    * pair predicate ((n1,n2) OR (n2,n1)) decorrelates into: filter the
    * TWO-ROW nation dim first, tag supplier and customer sides with
    * their nation name, and keep cross-nation rows. The only big
    * exchange is lineitem ⋈ orders on orderkey; supplier/customer are
    * key+nation projections AQE is free to broadcast at bench scale and
    * shuffle at 10⁹ keys (the q121 stance). */
  def volumeShipping(spark: SparkSession, dir: String,
                     n1: String = "NATION_3", n2: String = "NATION_7"): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin(n1, n2))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"), qcents("l_extendedprice").as("cents"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "ship_year")
      .agg(count(lit(1)).as("n_items"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** National market share (q152, the TPC-H Q8 shape): within one
    * region's customer market, what share of yearly revenue is supplied
    * by one target nation — exact integer basis points (the Q8
    * CASE-sum-over-sum, floor division, no fp ratio). The region prune
    * broadcasts through nation→customer; the share's numerator rides
    * the same aggregation as its denominator (one pass). */
  def marketShare(spark: SparkSession, dir: String,
                  region: String = "EUROPE",
                  target: String = "NATION_8"): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir).filter(col("r_name") === region)
    val marketNations = nat.join(broadcast(reg),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(marketNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === target).cast("int").as("is_target"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"), qcents("l_extendedprice").as("cents"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("ship_year")
      .agg(sum(when(col("is_target") === 1, col("cents")).otherwise(0L)).as("tc"),
        sum(col("cents")).as("mc"))
      .select(col("ship_year"),
        (col("tc").cast("double") / 100.0).as("target_revenue"),
        (col("mc").cast("double") / 100.0).as("market_revenue"),
        expr("CAST((tc * 10000L) DIV mc AS INT)").as("share_bp"))
      .orderBy("ship_year")
  }

  /** Supplier diversity per part segment (q153, the TPC-H Q16 NOT-IN
    * shape): per (brand, size), how many DISTINCT suppliers ship it —
    * excluding a disqualified supplier set (Q16's complaint filter,
    * stated here as suppliers whose heavy-discount-return RATE exceeds
    * 5% — a fraction, not an absolute count, so the cutoff splits the
    * population at every scale factor). NOT IN decorrelates to an anti
    * join against the (tiny, aggregated) offender list; the distinct
    * count shuffles (brand, size, suppkey) triples once. */
  def supplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bad = li
      .groupBy(col("l_suppkey"))
      .agg(count(when(col("l_returnflag") === "R" &&
          col("l_discount") >= 0.09, 1)).as("n_bad"),
        count(lit(1)).as("n_all"))
      .filter(col("n_bad") * 20 > col("n_all"))
      .select(col("l_suppkey"))
    val dim = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    li.select(col("l_partkey"), col("l_suppkey"))
      .join(bad, Seq("l_suppkey"), "left_anti")
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** Concentrated shipments (q154, the TPC-H Q20 nested-subquery
    * shape): suppliers for whom a single year dominates their shipping
    * history of some part — `2·qty(1997) > qty(total)` per (supplier,
    * part), suppliers holding ≥ `minParts` such parts. The correlated
    * half-of-own-total subquery collapses into ONE conditional
    * aggregation pass (the year split and the total ride the same
    * grouped agg); the qualifying pair set reduces to per-supplier
    * counts before the dim join. */
  def concentratedShipments(spark: SparkSession, dir: String,
                            yr: Int = 1997, minParts: Int = 3): DataFrame = {
    val flagged = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"),
        year(col("l_shipdate")).as("y"), qcents("l_quantity").as("qc"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(when(col("y") === yr, col("qc")).otherwise(0L)).as("q_year"),
        sum(col("qc")).as("q_total"))
      .filter(col("q_year") * 2 > col("q_total"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_concentrated_parts"))
      .filter(col("n_concentrated_parts") >= minParts)
    flagged
      .join(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_concentrated_parts"))
      .orderBy(col("n_concentrated_parts").desc, col("s_suppkey"))
  }

  /** Bracketed disjunctive revenue (q166, the TPC-H Q19 shape): revenue
    * from lineitems matching ANY of three (brand, size-range,
    * qty-range) brackets — the OR-of-ANDs predicate that tests whether
    * the engine keeps a single fact scan with the whole disjunction
    * pushed beside the join instead of unioning three scans. Part
    * attributes broadcast; one pass, exact cents. */
  def bracketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), qcents("l_quantity").as("qc"),
        qcents("l_extendedprice").as("cents"))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("qc").between(100, 1100)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("qc").between(1000, 2000)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
          col("qc").between(2000, 3000)))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
  }

  /** Returned-item reporting (q167, the TPC-H Q10 shape): customers
    * ranked by the revenue they returned in one quarter — the churn
    * report. The return+date filter prunes the fact at the scan; the
    * orderkey join is the only big exchange; top-20 plans as
    * TakeOrderedAndProject. */
  def returnedItemReport(spark: SparkSession, dir: String,
                         from: String = "1996-01-01",
                         until: String = "1996-04-01", k: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" &&
        col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .select(col("l_orderkey"), qcents("l_extendedprice").as("cents"))
    li.join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_returned_items"), sum("cents").as("rc"))
      .join(Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_returned_items"),
        (col("rc").cast("double") / 100.0).as("returned_revenue"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** Late-shipment priority mix (q168, the TPC-H Q12 shape): per return
    * flag, how many LATE shipments (> 60 days after order) belong to
    * urgent vs other orders — the logistics-priority crosstab. The
    * lateness predicate joins fact to order dates on the one orderkey
    * exchange; the priority split is a conditional aggregation. */
  def latePriorityMix(spark: SparkSession, dir: String,
                      lateDays: Int = 60): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    li.join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")) > lateDays)
      .groupBy("l_returnflag")
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("n_high_priority"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("n_low_priority"))
      .orderBy("l_returnflag")
  }

  /** Order-priority checking (q169, the TPC-H Q4 EXISTS shape): orders
    * placed in one quarter with AT LEAST ONE late lineitem, counted per
    * priority. The EXISTS decorrelates to a semi join of the date-pruned
    * orders against the lateness-filtered fact — the fact is never
    * aggregated, the semi join keeps order rows unique, and the final
    * rollup is ≤ |priorities| rows. */
  def orderPriorityCheck(spark: SparkSession, dir: String,
                         from: String = "1996-01-01",
                         until: String = "1996-04-01",
                         lateDays: Int = 30): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val lateLi = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(lateLi,
        col("o_orderkey") === col("l_orderkey") &&
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) > lateDays,
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  /** Important parts (q155, the TPC-H Q11 group-vs-global shape): parts
    * whose revenue share of the whole corpus exceeds a ppm threshold.
    * The correlated `HAVING sum(...) > (SELECT sum(...) * f)` scalar is
    * a 1-row broadcast; shares are exact integer ppm floor divisions —
    * the per-part aggregate computes once (checkpointed) and feeds both
    * the scalar and the probe. The default threshold must split the
    * population at the verification scale: sf0.01's max part share is
    * ~898 ppm, so 700 keeps a non-trivial survivor set (~68/2000) and a
    * non-trivial rejected set — a hash match then proves the share math,
    * not just "both engines returned nothing". */
  def importantParts(spark: SparkSession, dir: String,
                     multTenths: Long = 14): DataFrame = {
    // Threshold is POPULATION-RELATIVE (multTenths/10 × the mean share
    // 10⁶/n_parts ppm) so the query stays non-vacuous at every scale
    // factor: a fixed ppm floor goes empty as soon as the part
    // population grows 10× (the round-7 q155 vacuity, which a fixed 700
    // merely moved from sf0.01 to sf0.1). 1.4× the mean reproduces the
    // old 700 ppm exactly at sf0.01 (n≈2000) and splits every larger
    // population the same way.
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(qcents("l_extendedprice")).as("c"))
      .stage("importantParts:perPart") // read twice: global scalar + per-part probe
    val total = perPart.agg(sum("c").as("tot"), count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .withColumn("share_ppm",
        expr("CAST(c AS DECIMAL(38,0)) * 1000000 div tot").cast("long"))
      // greatest(1, …): the relative threshold floors to 0 ppm once
      // n_parts exceeds multTenths·10⁵ (TPC-H SF ≳ 7), and `>= 0`
      // admits every part — the vacuity class this threshold was built
      // to kill, reappearing at the LARGE end. Clamping to 1 ppm keeps
      // the filter discriminating at every population size (mirrored in
      // the q155 oracle SQL).
      .filter(col("share_ppm") >=
        expr(s"greatest(1, ${multTenths * 1000000L} div (10 * n_parts))"))
      .select(col("l_partkey").as("p_partkey"),
        (col("c").cast("double") / 100.0).as("revenue"), col("share_ppm"))
      .orderBy(col("share_ppm").desc, col("p_partkey"))
  }

  /** Pricing summary report (q170, the TPC-H Q1 shape): the canonical
    * grouped-aggregate scan — every lineitem shipped by the cutoff rolls
    * up into ≤|flag|·|status| rows of sums/averages. All money math is
    * exact integer: prices in cents, discount/tax in integer percent
    * (the generator emits exact hundredths), so disc price is cents·1e-2
    * and charge cents·1e-4 — partial aggregation merges in any order
    * without fp drift, and the doubles only appear in the final
    * projection. Scale: one scan, one hash agg (map-side partial), no
    * join, no window — the plan every columnar engine should produce. */
  def pricingSummary(spark: SparkSession, dir: String,
                     cutoff: String = "2000-12-01"): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(cutoff))
      .select(col("l_returnflag"), col("l_linestatus"),
        qcents("l_quantity").as("qc"), qcents("l_extendedprice").as("c"),
        pct("l_discount").as("dc"), pct("l_tax").as("tc"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum("qc").cast("double") / 100.0).as("sum_qty"),
        (sum("c").cast("double") / 100.0).as("sum_base_price"),
        (sum(col("c") * (lit(100L) - col("dc"))).cast("double") / 10000.0)
          .as("sum_disc_price"),
        (sum(col("c") * (lit(100L) - col("dc")) * (lit(100L) + col("tc")))
          .cast("double") / 1000000.0).as("sum_charge"),
        (sum("qc").cast("double") / count(lit(1)) / 100.0).as("avg_qty"),
        (sum("c").cast("double") / count(lit(1)) / 100.0).as("avg_price"),
        (sum("dc").cast("double") / count(lit(1)) / 100.0).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Shipping priority (q171, the TPC-H Q3 shape): unshipped revenue of
    * one market segment's orders, top 10 by revenue. The segment prune
    * broadcasts (customer is the smallest side after the filter), the
    * date-pruned orders join the shipdate-pruned fact on orderkey — ONE
    * fact shuffle — and the top-k plans as TakeOrderedAndProject, so only
    * 10 rows leave the final agg. `o_orderpriority` stands in for the
    * reference schema's missing `o_shippriority`. */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       date: String = "1996-06-01", k: Int = 10): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment).select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(date))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(date))
      .select(col("l_orderkey"), qcents("l_extendedprice").as("c"),
        pct("l_discount").as("dc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("c") * (lit(100L) - col("dc"))).as("rev_e4"))
      .select(col("l_orderkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(k)
  }

  /** Forecast revenue delta (q172, the TPC-H Q6 shape): what extra revenue
    * would have been booked in a year had discounts in a band been waived
    * for small orders. The cleanest pushdown showcase in the suite: every
    * predicate is a RAW-column comparison (shipdate range, discount band,
    * quantity cap) so all three reach the parquet scan as PushedFilters,
    * and the single-row answer needs no shuffle beyond the final
    * 1-partition partial-agg merge. Money math stays integer (cents ×
    * integer percent) until the one output division. */
  def revenueDelta(spark: SparkSession, dir: String,
                   year: String = "1996",
                   discLo: Double = 0.05, discHi: Double = 0.07,
                   maxQty: Double = 24.0): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(s"$year-01-01") &&
        col("l_shipdate") < lit(s"${year.toInt + 1}-01-01") &&
        col("l_discount") >= lit(discLo) && col("l_discount") <= lit(discHi) &&
        col("l_quantity") < lit(maxQty))
      .select(qcents("l_extendedprice").as("c"), pct("l_discount").as("dc"))
      .agg((sum(col("c") * col("dc")).cast("double") / 10000.0)
        .as("forecast_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Product-type profit (q173, the TPC-H Q9 shape): per nation per year,
    * the margin earned on parts whose name matches a pattern. The
    * reference schema carries no partsupp, so unit cost is proxied by the
    * part's retail price (margin = disc price − retail·qty, both exact
    * 1e-4-cents integers; negative margins are meaningful). The join
    * topology is the Q9 one: LIKE-pruned part and the supplier⋈nation dim
    * both broadcast into the fact, orders joins on orderkey for the year
    * column — the fact shuffles ONCE (orderkey), everything else rides
    * broadcasts, and the rollup is |nation|·|year| rows. */
  def productTypeProfit(spark: SparkSession, dir: String,
                        namePattern: String = "%red%"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").like(namePattern))
      .select(col("p_partkey"), qcents("p_retailprice").as("rc"))
    val supNat = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        qcents("l_quantity").as("qc"), qcents("l_extendedprice").as("c"),
        pct("l_discount").as("dc"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
    li.join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate").cast("date")).as("o_year"))
      .agg((sum(col("c") * (lit(100L) - col("dc")) -
        col("rc") * col("qc")).cast("double") / 10000.0).as("profit"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Customer order-count distribution (q174, the TPC-H Q13 shape): how
    * many customers placed exactly k qualifying orders — INCLUDING the
    * zero-order customers, which is what forces the LEFT OUTER join (the
    * one join shape the rest of the suite lacks). Decorrelated for scale:
    * qualifying orders pre-aggregate to per-custkey counts (map-side
    * partial, custkey exchange), customer LEFT-joins that ≤|customer|-row
    * count table, and missing matches coalesce to 0 — the wide customer
    * row never rides a fact-sized shuffle. `o_orderpriority` stands in
    * for the reference schema's missing comment filter. */
  def orderCountDistribution(spark: SparkSession, dir: String,
                             excludePriority: String = "1-URGENT"): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= excludePriority)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
}
