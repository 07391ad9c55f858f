package graft.oracle

import graft.oracle.OracleDialect._

/** DuckDB oracle SQL — warehouse/behavioral/privacy tier
  * (27 queries; round-12 mechanical split of OracleAnalytics — values
  * verbatim). SparkEntry.oracleSql concatenates the domain maps, and
  * QueriesSpec pins key-set equality (both directions) with the query
  * registry. */
object OracleWarehouse {
  private[graft] val sql: Map[String, String] = Map(
    "q143_ship_coverage" ->
      """WITH iv AS (SELECT DISTINCT l_suppkey,
        |              CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_start
        |            FROM lineitem),
        |iv2 AS (SELECT l_suppkey, day_start, day_start + 7 AS day_end FROM iv),
        |m AS (SELECT l_suppkey, day_start, day_end,
        |             CASE WHEN max(day_end) OVER wp IS NULL
        |                    OR day_start > max(day_end) OVER wp
        |                  THEN 1 ELSE 0 END AS cut
        |      FROM iv2
        |      WINDOW wp AS (PARTITION BY l_suppkey ORDER BY day_start, day_end
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (SELECT *, SUM(cut) OVER (PARTITION BY l_suppkey
        |         ORDER BY day_start, day_end
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM m),
        |isl AS (SELECT l_suppkey, island, MIN(day_start) AS s, MAX(day_end) AS e,
        |               COUNT(*) AS n
        |        FROM i GROUP BY l_suppkey, island)
        |SELECT l_suppkey, CAST(SUM(n) AS BIGINT) AS n_intervals,
        |       COUNT(*) AS n_islands,
        |       CAST(SUM(e - s) AS BIGINT) AS covered_days,
        |       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_days
        |FROM isl GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin,
    // Skyline stated as the textbook NOT-EXISTS domination predicate —
    // deliberately a DIFFERENT formulation from the engine's staircase
    // window, so the oracle checks the algorithm, not the plan.
    "q146_brand_skyline" ->
      """WITH pts AS (SELECT p_brand,
        |               CAST(ROUND(p_retailprice*100,0) AS BIGINT) AS pc,
        |               p_size, COUNT(*) AS n_parts
        |             FROM part GROUP BY p_brand, pc, p_size)
        |SELECT p_brand, CAST(pc AS DOUBLE)/100.0 AS price, p_size, n_parts
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts o
        |  WHERE o.p_brand = p.p_brand AND o.pc <= p.pc AND o.p_size >= p.p_size
        |    AND (o.pc < p.pc OR o.p_size > p.p_size))
        |ORDER BY p_brand, price""".stripMargin,
    // Seasonal-naive backtest: lag over (nation, iso weekday) = Spark's
    // weekday() partition; exact integer cents, truncating division on
    // both engines (DuckDB // truncates toward zero like Spark div).
    "q147_seasonal_forecast" ->
      s"""WITH dim AS (SELECT s_suppkey, n_name
         |            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         |daily AS (SELECT n_name, CAST(l_shipdate AS DATE) AS d,
         |                 CAST(SUM(${cents("l_extendedprice")}) AS BIGINT) AS c
         |          FROM lineitem JOIN dim ON l_suppkey = s_suppkey
         |          GROUP BY n_name, d),
         |f AS (SELECT n_name, c,
         |             LAG(c, 1) OVER (PARTITION BY n_name, isodow(d) ORDER BY d) AS forecast
         |      FROM daily)
         |SELECT n_name, COUNT(*) AS n_forecasts,
         |       CAST(SUM(ABS(c - forecast)) // COUNT(*) AS BIGINT) AS mae_cents,
         |       CAST(SUM(c - forecast) // COUNT(*) AS BIGINT) AS bias_cents
         |FROM f WHERE forecast IS NOT NULL
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // Closed-form 2-feature OLS from exact integer moments; one floor
    // per milli coefficient, R² from the same moments (HUGEINT mirror
    // of the engine's decimal(38) arithmetic).
    "q148_supplier_ols" ->
      s"""WITH li AS (SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS x1,
         |                  CAST(ROUND(l_discount*10000,0) AS BIGINT) AS x2,
         |                  ${cents("l_extendedprice")} AS y
         |           FROM lineitem),
         |g AS (SELECT l_suppkey, COUNT(*) AS n,
         |             CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |             CAST(SUM(y) AS BIGINT) AS sy,
         |             CAST(SUM(x1*x1) AS BIGINT) AS s11,
         |             CAST(SUM(x1*x2) AS BIGINT) AS s12,
         |             CAST(SUM(x2*x2) AS BIGINT) AS s22,
         |             CAST(SUM(x1*y) AS BIGINT) AS s1y,
         |             CAST(SUM(x2*y) AS BIGINT) AS s2y,
         |             SUM(CAST(y AS HUGEINT)*y) AS syy
         |      FROM li GROUP BY l_suppkey),
         |m AS (SELECT l_suppkey, n,
         |             CAST(n AS HUGEINT)*s11 - CAST(s1 AS HUGEINT)*s1 AS ca,
         |             CAST(n AS HUGEINT)*s12 - CAST(s1 AS HUGEINT)*s2 AS cb,
         |             CAST(n AS HUGEINT)*s22 - CAST(s2 AS HUGEINT)*s2 AS cc,
         |             CAST(n AS HUGEINT)*s1y - CAST(s1 AS HUGEINT)*sy AS cd,
         |             CAST(n AS HUGEINT)*s2y - CAST(s2 AS HUGEINT)*sy AS ce,
         |             CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS sst
         |      FROM g),
         |s AS (SELECT l_suppkey, n, cd, ce, sst,
         |             (cc*cd - cb*ce) * 1000 // (ca*cc - cb*cb) AS b1,
         |             (ca*ce - cb*cd) * 1000 // (ca*cc - cb*cb) AS b2
         |      FROM m WHERE ca*cc - cb*cb > 0 AND sst > 0)
         |SELECT l_suppkey, CAST(n AS INT) AS n_lines,
         |       CAST(b1 AS BIGINT) AS qty_slope_milli,
         |       CAST(b2 AS BIGINT) AS discount_slope_milli,
         |       CAST((cd*b1 + ce*b2) * 1000 // sst AS BIGINT) AS r2_ppm
         |FROM s ORDER BY l_suppkey""".stripMargin,
    // One-pass equi-width histogram quantile sketch: 256 cells, rank
    // ⌊p·(n−1)⌋, deterministic within-cell interpolation — every number
    // an exact integer on both engines.
    "q156_value_sketch" ->
      s"""WITH v AS (SELECT ${cents("o_totalprice")} AS v FROM orders
         |           WHERE o_totalprice IS NOT NULL),
         |st AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax, COUNT(*) AS n FROM v),
         |cells AS (SELECT ((v - vmin) * 256) // (vmax - vmin + 1) AS cell,
         |                 COUNT(*) AS cnt
         |          FROM v CROSS JOIN st GROUP BY cell),
         |cum AS (SELECT cell, cnt,
         |               COALESCE(SUM(cnt) OVER (ORDER BY cell
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
         |        FROM cells),
         |probs AS (SELECT CAST(unnest([250000, 500000, 900000, 990000]) AS BIGINT) AS prob_ppm),
         |j AS (SELECT prob_ppm, cell, cnt, cum_excl, vmin, vmax, n,
         |             (prob_ppm * (n - 1)) // 1000000 AS rk
         |      FROM cum CROSS JOIN st CROSS JOIN probs),
         |hit AS (SELECT * FROM j WHERE cum_excl <= rk AND rk < cum_excl + cnt),
         |o AS (SELECT prob_ppm,
         |             vmin + (cell * (vmax - vmin + 1) + 255) // 256 AS cell_lo,
         |             vmin + ((cell + 1) * (vmax - vmin + 1) + 255) // 256 - 1 AS cell_hi,
         |             cnt AS cell_count, n, rk, cum_excl
         |      FROM hit)
         |SELECT prob_ppm, cell_lo, cell_hi,
         |       CAST(cell_count AS BIGINT) AS cell_count, n,
         |       CAST(cell_lo + ((rk - cum_excl) * (cell_hi - cell_lo)) // cell_count
         |            AS BIGINT) AS estimate
         |FROM o ORDER BY prob_ppm""".stripMargin,
    // Grouped histogram sketch: shared global grid, per-group cumulative
    // counts, same exact integer interpolation.
    "q157_priority_sketch" ->
      s"""WITH v AS (SELECT o_orderpriority AS g, ${cents("o_totalprice")} AS v
         |           FROM orders WHERE o_totalprice IS NOT NULL),
         |st AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM v),
         |cells AS (SELECT g, ((v - vmin) * 256) // (vmax - vmin + 1) AS cell,
         |                 COUNT(*) AS cnt
         |          FROM v CROSS JOIN st GROUP BY g, cell),
         |cum AS (SELECT g, cell, cnt,
         |               COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY cell
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl,
         |               SUM(cnt) OVER (PARTITION BY g) AS n
         |        FROM cells),
         |probs AS (SELECT CAST(unnest([250000, 500000, 900000, 990000]) AS BIGINT) AS prob_ppm),
         |j AS (SELECT g, prob_ppm, cell, cnt, cum_excl, n, vmin, vmax,
         |             (prob_ppm * (n - 1)) // 1000000 AS rk
         |      FROM cum CROSS JOIN st CROSS JOIN probs),
         |hit AS (SELECT * FROM j WHERE cum_excl <= rk AND rk < cum_excl + cnt),
         |o AS (SELECT g, prob_ppm,
         |             vmin + (cell * (vmax - vmin + 1) + 255) // 256 AS cell_lo,
         |             vmin + ((cell + 1) * (vmax - vmin + 1) + 255) // 256 - 1 AS cell_hi,
         |             cnt AS cell_count, CAST(n AS BIGINT) AS n, rk, cum_excl
         |      FROM hit)
         |SELECT g AS o_orderpriority, prob_ppm, cell_lo, cell_hi,
         |       CAST(cell_count AS BIGINT) AS cell_count, n,
         |       CAST(cell_lo + ((rk - cum_excl) * (cell_hi - cell_lo)) // cell_count
         |            AS BIGINT) AS estimate
         |FROM o ORDER BY o_orderpriority, prob_ppm""".stripMargin,
    // Quantity-weighted lower median price per supplier: collapsed
    // (supplier, price) weights, cumulative window, smallest price whose
    // doubled cumulative weight reaches the total.
    "q158_weighted_median" ->
      s"""WITH pw AS (SELECT l_suppkey, ${cents("l_extendedprice")} AS price_c,
         |                   CAST(SUM(${cents("l_quantity")}) AS BIGINT) AS w
         |            FROM lineitem GROUP BY l_suppkey, price_c),
         |c AS (SELECT l_suppkey, price_c, w,
         |             SUM(w) OVER (PARTITION BY l_suppkey ORDER BY price_c
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |             SUM(w) OVER (PARTITION BY l_suppkey) AS tot
         |      FROM pw)
         |SELECT l_suppkey, CAST(MAX(tot) AS BIGINT) AS total_weight,
         |       CAST(MIN(CASE WHEN cum * 2 >= tot THEN price_c END) AS DOUBLE)/100.0
         |         AS weighted_median_price
         |FROM c GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin,
    // Modal order priority per segment. The engine carries the argmax
    // through partial aggregation as min(struct(-n, priority)); the
    // oracle deliberately states the rank-window form instead, so the
    // comparison checks the tie rule (smallest priority wins), not the
    // implementation.
    "q159_modal_priority" ->
      """WITH c AS (SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        |           FROM orders JOIN customer ON o_custkey = c_custkey
        |           GROUP BY c_mktsegment, o_orderpriority),
        |r AS (SELECT c_mktsegment, o_orderpriority, n,
        |             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |               ORDER BY n DESC, o_orderpriority) AS rn,
        |             SUM(n) OVER (PARTITION BY c_mktsegment) AS n_orders
        |      FROM c)
        |SELECT c_mktsegment, o_orderpriority AS top_priority,
        |       CAST(n AS BIGINT) AS n_top, CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST((n * 10000) // n_orders AS INT) AS share_bp
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    // Clamped running balance via the prefix-sum/running-floor
    // linearization: balance = S − min(0, min S); a clamp fires iff the
    // prefix sum digs a new low.
    "q163_clamped_balance" ->
      s"""WITH mv AS (SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
         |              CASE WHEN l_returnflag = 'R' THEN -${cents("l_quantity")}
         |                   ELSE ${cents("l_quantity")} END AS delta
         |            FROM lineitem),
         |s AS (SELECT *, SUM(delta) OVER wk AS ps FROM mv
         |      WINDOW wk AS (PARTITION BY l_suppkey
         |        ORDER BY l_shipdate, l_orderkey, l_linenumber
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |b AS (SELECT *, ps - LEAST(0, MIN(ps) OVER wk) AS balance,
         |             CASE WHEN ps < LEAST(0, COALESCE(MIN(ps) OVER wp, 0))
         |                  THEN 1 ELSE 0 END AS clamped
         |      FROM s
         |      WINDOW wk AS (PARTITION BY l_suppkey
         |        ORDER BY l_shipdate, l_orderkey, l_linenumber
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |      wp AS (PARTITION BY l_suppkey
         |        ORDER BY l_shipdate, l_orderkey, l_linenumber
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT l_suppkey, COUNT(*) AS n_moves,
         |       CAST(SUM(delta) AS BIGINT) AS net_delta,
         |       CAST(SUM(delta) - LEAST(0, MIN(ps)) AS BIGINT) AS final_balance,
         |       CAST(MAX(balance) AS BIGINT) AS peak_balance,
         |       CAST(SUM(clamped) AS BIGINT) AS n_clamps
         |FROM b GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin,
    // Rolling lower-median / MAD over a bounded ROWS frame: list() is
    // frame-ordered on both engines, medians are sorted-array elements,
    // everything integer cents.
    "q190_revenue_anomaly" ->
      s"""WITH d AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day,
         |                  CAST(SUM(${cents("o_totalprice")}) AS BIGINT) AS px
         |           FROM orders GROUP BY 1, 2),
         |a AS (SELECT *, list(px) OVER (PARTITION BY priority ORDER BY day
         |        ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS arr FROM d),
         |m AS (SELECT priority, day, px, len(arr) AS n, arr,
         |             list_sort(arr)[(len(arr)+1)//2] AS med
         |      FROM a),
         |m2 AS (SELECT priority, day, px, n, med,
         |              list_sort(list_transform(arr, v -> abs(v - med)))[(n+1)//2]
         |                AS mad
         |       FROM m)
         |SELECT priority, day, CAST(n AS INT) AS n_window, px, med, mad,
         |       CASE WHEN abs(px - med) > 5*mad THEN 1 ELSE 0 END AS is_anomaly
         |FROM m2 WHERE n >= 7
         |ORDER BY priority, day""".stripMargin,
    // SCD2 run collapse: lag change flag -> running-sum run ids -> one
    // aggregation per run -> lead closes each range.
    "q194_scd2_runs" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |                  o_orderkey, o_orderpriority AS priority FROM orders),
        |r AS (SELECT *, CASE WHEN lag(priority) OVER w IS NULL
        |                       OR priority <> lag(priority) OVER w
        |                     THEN 1 ELSE 0 END AS chg
        |      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
        |v AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
        |        ORDER BY d, o_orderkey ROWS UNBOUNDED PRECEDING) AS INT) AS version
        |      FROM r),
        |g AS (SELECT o_custkey, version, priority, min(d) AS valid_from,
        |             COUNT(*) AS n_orders
        |      FROM v GROUP BY 1, 2, 3),
        |f AS (SELECT *, lead(valid_from) OVER (PARTITION BY o_custkey
        |        ORDER BY version) AS valid_to FROM g)
        |SELECT o_custkey, version, priority, valid_from, valid_to,
        |       CAST(n_orders AS BIGINT) AS n_orders,
        |       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM f ORDER BY o_custkey, version""".stripMargin,
    // A-priori level-3: item-support prune, then the bounded in-basket
    // triple enumeration; top-k under a total tie-break order.
    "q195_frequent_triples" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
        |            FROM lineitem),
        |f1 AS (SELECT item FROM it GROUP BY item HAVING COUNT(*) >= 2),
        |p AS (SELECT * FROM it WHERE item IN (SELECT item FROM f1)),
        |t AS (SELECT a.i1, b.i2, c.i3, COUNT(*) AS support
        |      FROM (SELECT oid, item AS i1 FROM p) a
        |      JOIN (SELECT oid, item AS i2 FROM p) b USING (oid)
        |      JOIN (SELECT oid, item AS i3 FROM p) c USING (oid)
        |      WHERE a.i1 < b.i2 AND b.i2 < c.i3
        |      GROUP BY 1, 2, 3),
        |top AS (SELECT * FROM t ORDER BY support DESC, i1, i2, i3 LIMIT 25)
        |SELECT CAST(row_number() OVER (ORDER BY support DESC, i1, i2, i3) AS INT)
        |         AS rank,
        |       i1, i2, i3, CAST(support AS BIGINT) AS support
        |FROM top
        |ORDER BY rank""".stripMargin,

    "q197_gini_segment" ->
      """WITH rev AS (SELECT o_custkey,
        |               SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS cents
        |             FROM orders GROUP BY 1),
        |j AS (SELECT c_mktsegment, o_custkey, cents
        |      FROM rev JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT c_mktsegment, cents,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY cents, o_custkey) AS rk
        |      FROM j),
        |g AS (SELECT c_mktsegment, COUNT(*) AS n,
        |        SUM(CAST(cents AS HUGEINT)) AS s,
        |        SUM(CAST(rk AS HUGEINT) * cents) AS t
        |      FROM r GROUP BY 1)
        |SELECT c_mktsegment, CAST(n AS INT) AS n_cust,
        |       CAST(s AS DOUBLE)/100.0 AS revenue,
        |       CAST((2*t - (n+1)*s) * 1000000 // (n*s) AS BIGINT) AS gini_ppm,
        |       CAST(CAST((2*t - (n+1)*s) * 1000000 // (n*s) AS BIGINT)
        |            AS DOUBLE)/1e6 AS gini
        |FROM g ORDER BY c_mktsegment""".stripMargin,

    "q198_benford_prices" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice*100,0)
        |             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |           FROM orders
        |           WHERE CAST(round(o_totalprice*100,0) AS BIGINT) > 0),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(CAST(n AS HUGEINT)) AS nt FROM c)
        |SELECT digit, CAST(n AS BIGINT) AS n_orders,
        |       CAST(CAST(n AS HUGEINT) * 1000000 // nt AS BIGINT) AS obs_ppm,
        |       CAST(round(log10(1.0 + 1.0/digit) * 1e6, 0) AS BIGINT)
        |         AS exp_ppm,
        |       CAST(CAST(n AS HUGEINT) * 1000000 // nt AS BIGINT)
        |         - CAST(round(log10(1.0 + 1.0/digit) * 1e6, 0) AS BIGINT)
        |         AS dev_ppm
        |FROM c, t ORDER BY digit""".stripMargin,

    "q199_robust_means" ->
      """WITH b AS (SELECT o_orderpriority, o_orderkey,
        |             CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |           FROM orders),
        |r AS (SELECT o_orderpriority, cents,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY cents, o_orderkey) AS rk,
        |        COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
        |        COUNT(*) OVER (PARTITION BY o_orderpriority) // 20 AS k
        |      FROM b),
        |g AS (SELECT o_orderpriority, MAX(n) AS n, MAX(k) AS k,
        |        SUM(cents) AS s_all,
        |        SUM(CASE WHEN rk > k AND rk <= n - k THEN cents END) AS s_trim,
        |        SUM(CASE WHEN rk > k AND rk <= n - k THEN 1 ELSE 0 END)
        |          AS n_trim,
        |        MAX(CASE WHEN rk = k + 1 THEN cents END) AS lo,
        |        MAX(CASE WHEN rk = n - k THEN cents END) AS hi
        |      FROM r GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS INT) AS n_orders,
        |       CAST(k AS INT) AS k_trim,
        |       CAST(s_all AS DOUBLE)/100.0/n AS mean,
        |       CAST(s_trim AS DOUBLE)/100.0/n_trim AS trimmed_mean,
        |       CAST(s_trim + k*(lo + hi) AS DOUBLE)/100.0/n AS winsor_mean,
        |       CAST(lo AS DOUBLE)/100.0 AS lo_bound,
        |       CAST(hi AS DOUBLE)/100.0 AS hi_bound
        |FROM g ORDER BY o_orderpriority""".stripMargin,

    "q200_abc_pareto" ->
      """WITH pr AS (SELECT l_partkey,
        |              SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS rev
        |            FROM lineitem GROUP BY 1),
        |w AS (SELECT l_partkey, rev,
        |        COALESCE(SUM(CAST(rev AS HUGEINT)) OVER (
        |          ORDER BY rev DESC, l_partkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS prior
        |      FROM pr),
        |t AS (SELECT SUM(CAST(rev AS HUGEINT)) AS total FROM pr),
        |c AS (SELECT CASE WHEN prior * 1000000 // total < 800000 THEN 'A'
        |               WHEN prior * 1000000 // total < 950000 THEN 'B'
        |               ELSE 'C' END AS abc_class, rev
        |      FROM w, t)
        |SELECT abc_class, CAST(COUNT(*) AS INT) AS n_parts,
        |       CAST(SUM(CAST(rev AS HUGEINT)) AS DOUBLE)/100.0 AS revenue,
        |       CAST(SUM(CAST(rev AS HUGEINT)) * 1000000 //
        |            (SELECT total FROM t) AS BIGINT) AS share_ppm
        |FROM c GROUP BY 1 ORDER BY abc_class""".stripMargin,

    // SCD2 runs (the q194 CTEs) joined point-in-time by lineitem ship
    // date: each fact matches the version interval covering it.
    "q201_point_in_time" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |                  o_orderkey, o_orderpriority AS prio FROM orders),
        |r AS (SELECT *, CASE WHEN lag(prio) OVER w IS NULL
        |                       OR prio <> lag(prio) OVER w
        |                     THEN 1 ELSE 0 END AS chg
        |      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
        |v AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |        ORDER BY d, o_orderkey ROWS UNBOUNDED PRECEDING) AS version
        |      FROM r),
        |g AS (SELECT o_custkey AS rc_custkey, version, prio,
        |             min(d) AS valid_from
        |      FROM v GROUP BY 1, 2, 3),
        |runs AS (SELECT rc_custkey, prio, valid_from,
        |           lead(valid_from) OVER (PARTITION BY rc_custkey
        |             ORDER BY version) AS valid_to FROM g),
        |f AS (SELECT l.l_orderkey, CAST(l.l_shipdate AS DATE) AS ship_d,
        |             oo.o_custkey, oo.o_orderpriority
        |      FROM lineitem l JOIN orders oo ON l.l_orderkey = oo.o_orderkey)
        |SELECT o_orderpriority AS order_priority, prio AS active_priority,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM f JOIN runs ON f.o_custkey = runs.rc_custkey
        |  AND f.ship_d >= runs.valid_from
        |  AND (runs.valid_to IS NULL OR f.ship_d < runs.valid_to)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q203_basket_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
        |            FROM lineitem),
        |nn AS (SELECT COUNT(DISTINCT oid) AS n_orders FROM it),
        |isup AS (SELECT item, COUNT(*) AS s_i FROM it GROUP BY 1),
        |pr AS (SELECT a.item AS i1, b.item AS i2, COUNT(*) AS s_ab
        |       FROM it a JOIN it b ON a.oid = b.oid AND a.item < b.item
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dirs AS (SELECT i1 AS antecedent, i2 AS consequent, s_ab FROM pr
        |         UNION ALL
        |         SELECT i2 AS antecedent, i1 AS consequent, s_ab FROM pr),
        |j AS (SELECT d.antecedent, d.consequent, d.s_ab,
        |        sa.s_i AS s_a, sc.s_i AS s_c, nn.n_orders
        |      FROM dirs d
        |      JOIN isup sa ON d.antecedent = sa.item
        |      JOIN isup sc ON d.consequent = sc.item, nn)
        |SELECT antecedent, consequent,
        |       CAST(s_ab AS BIGINT) AS pair_supp,
        |       CAST(s_a AS BIGINT) AS ante_supp,
        |       CAST(s_c AS BIGINT) AS cons_supp,
        |       CAST(s_ab * 1000000 // s_a AS BIGINT) AS conf_ppm,
        |       CAST(CAST(s_ab AS HUGEINT) * n_orders * 1000000 //
        |            (CAST(s_a AS HUGEINT) * s_c) AS BIGINT) AS lift_ppm
        |FROM j
        |ORDER BY lift_ppm DESC, antecedent, consequent
        |LIMIT 25""".stripMargin,

    // 10 PK + 7 FK legs; anti-join semantics via NOT EXISTS (a parent
    // with duplicate keys must not multiply the child count).
    "q207_constraint_audit" ->
      """WITH legs AS (
        |  SELECT 'pk_region' AS constraint_name, 'pk' AS kind,
        |    (SELECT COUNT(*) FROM region) AS n_rows,
        |    (SELECT COUNT(*) - COUNT(DISTINCT r_regionkey) FROM region)
        |      AS n_violations
        |  UNION ALL SELECT 'pk_nation', 'pk',
        |    (SELECT COUNT(*) FROM nation),
        |    (SELECT COUNT(*) - COUNT(DISTINCT n_nationkey) FROM nation)
        |  UNION ALL SELECT 'pk_customer', 'pk',
        |    (SELECT COUNT(*) FROM customer),
        |    (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
        |  UNION ALL SELECT 'pk_supplier', 'pk',
        |    (SELECT COUNT(*) FROM supplier),
        |    (SELECT COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier)
        |  UNION ALL SELECT 'pk_part', 'pk',
        |    (SELECT COUNT(*) FROM part),
        |    (SELECT COUNT(*) - COUNT(DISTINCT p_partkey) FROM part)
        |  UNION ALL SELECT 'pk_orders', 'pk',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL SELECT 'pk_lineitem', 'pk',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
        |     FROM lineitem)
        |  UNION ALL SELECT 'pk_events', 'pk',
        |    (SELECT COUNT(*) FROM events),
        |    (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events)
        |  UNION ALL SELECT 'pk_documents', 'pk',
        |    (SELECT COUNT(*) FROM documents),
        |    (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents)
        |  UNION ALL SELECT 'pk_embeddings', 'pk',
        |    (SELECT COUNT(*) FROM embeddings),
        |    (SELECT COUNT(*) - COUNT(DISTINCT vec_id) FROM embeddings)
        |  UNION ALL SELECT 'fk_lineitem_orders', 'fk',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'fk_lineitem_part', 'fk',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'fk_lineitem_supplier', 'fk',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'fk_orders_customer', 'fk',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'fk_customer_nation', 'fk',
        |    (SELECT COUNT(*) FROM customer),
        |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'fk_supplier_nation', 'fk',
        |    (SELECT COUNT(*) FROM supplier),
        |    (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |  UNION ALL SELECT 'fk_nation_region', 'fk',
        |    (SELECT COUNT(*) FROM nation),
        |    (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)))
        |SELECT constraint_name, kind, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_violations AS BIGINT) AS n_violations,
        |       CAST(n_violations * 1000000 // greatest(n_rows, 1) AS BIGINT)
        |         AS violation_ppm
        |FROM legs ORDER BY constraint_name""".stripMargin,

    // Flat recompute — the Spark side merges two partial-aggregate
    // states, so a green row proves the merge identity.
    "q209_incremental_agg" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT))
        |            AS DOUBLE)/100.0 AS revenue,
        |       MAX(CAST(o_orderdate AS DATE)) AS last_order
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q210_k_anonymity" ->
      """SELECT c_mktsegment, c_nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS class_size,
        |       CASE WHEN COUNT(*) >= 5 THEN 1 ELSE 0 END AS is_k_anonymous
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q211_rfm_segments" ->
      """WITH per AS (SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS lastd,
        |               COUNT(*) AS freq,
        |               SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS cents
        |             FROM orders GROUP BY 1),
        |a AS (SELECT MAX(lastd) AS anchor FROM per),
        |j AS (SELECT per.o_custkey, per.freq, per.cents, c.c_mktsegment,
        |        datediff('day', per.lastd, a.anchor) AS recency_days
        |      FROM per JOIN customer c ON per.o_custkey = c.c_custkey, a),
        |s AS (SELECT *,
        |        6 - ntile(5) OVER (PARTITION BY c_mktsegment
        |              ORDER BY recency_days, o_custkey) AS r,
        |        6 - ntile(5) OVER (PARTITION BY c_mktsegment
        |              ORDER BY freq DESC, o_custkey) AS f,
        |        6 - ntile(5) OVER (PARTITION BY c_mktsegment
        |              ORDER BY cents DESC, o_custkey) AS m
        |      FROM j)
        |SELECT o_custkey, c_mktsegment,
        |       CAST(recency_days AS BIGINT) AS recency_days,
        |       CAST(freq AS BIGINT) AS n_orders,
        |       CAST(cents AS DOUBLE)/100.0 AS revenue,
        |       CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
        |       CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
        |            WHEN f >= 4 THEN 'loyal'
        |            WHEN m >= 4 THEN 'big_spender'
        |            WHEN r <= 2 AND f <= 2 THEN 'hibernating'
        |            WHEN r <= 2 THEN 'at_risk'
        |            ELSE 'regular' END AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,

    // CUSUM linearized: S⁺_t = P_t − min(0, min_{j≤t} P_j) turns Page's
    // max(0, ·) recursion into two prefix windows; all integer cents.
    "q212_cusum_shift" ->
      s"""WITH d AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day,
         |                  CAST(SUM(${cents("o_totalprice")}) AS BIGINT) AS px
         |           FROM orders GROUP BY 1, 2),
         |m AS (SELECT priority, CAST(SUM(px) // COUNT(*) AS BIGINT) AS mu
         |      FROM d GROUP BY 1),
         |j AS (SELECT d.priority, d.day, d.px, m.mu,
         |             m.mu // 50 AS k, m.mu // 2 AS h
         |      FROM d JOIN m ON d.priority = m.priority),
         |p AS (SELECT *, CAST(SUM(px - mu - k) OVER w AS BIGINT) AS p_up,
         |               CAST(SUM(mu - px - k) OVER w AS BIGINT) AS p_dn
         |      FROM j WINDOW w AS (PARTITION BY priority ORDER BY day
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |s AS (SELECT *, p_up - least(0, MIN(p_up) OVER w) AS s_up,
         |               p_dn - least(0, MIN(p_dn) OVER w) AS s_dn
         |      FROM p WINDOW w AS (PARTITION BY priority ORDER BY day
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT priority, day, px, mu, s_up, s_dn,
         |       CASE WHEN s_up > h THEN 1 ELSE 0 END AS alarm_up,
         |       CASE WHEN s_dn > h THEN 1 ELSE 0 END AS alarm_dn
         |FROM s ORDER BY priority, day""".stripMargin,

    // Interpolation via the nonneg weighted-sum form so the floor
    // division never sees a negative numerator (engines disagree there).
    "q213_gap_fill" ->
      s"""WITH d AS (SELECT o_orderpriority AS priority,
         |                  CAST(o_orderdate AS DATE) AS day,
         |                  CAST(SUM(${cents("o_totalprice")}) AS BIGINT) AS px
         |           FROM orders GROUP BY 1, 2),
         |b AS (SELECT priority, MIN(day) AS d0, MAX(day) AS d1
         |      FROM d GROUP BY 1),
         |sp AS (SELECT priority,
         |         CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
         |           AS day
         |       FROM b),
         |j AS (SELECT sp.priority, sp.day, d.px
         |      FROM sp LEFT JOIN d ON d.priority = sp.priority
         |                         AND d.day = sp.day),
         |f AS (SELECT priority, day, px,
         |        last_value(px IGNORE NULLS) OVER wb AS prev_px,
         |        last_value(CASE WHEN px IS NOT NULL THEN day END IGNORE NULLS)
         |          OVER wb AS prev_d,
         |        first_value(px IGNORE NULLS) OVER wf AS next_px,
         |        first_value(CASE WHEN px IS NOT NULL THEN day END IGNORE NULLS)
         |          OVER wf AS next_d
         |      FROM j
         |      WINDOW wb AS (PARTITION BY priority ORDER BY day
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wf AS (PARTITION BY priority ORDER BY day
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT priority, day,
         |       CASE WHEN px IS NOT NULL THEN px
         |            ELSE (prev_px * date_diff('day', day, next_d)
         |                  + next_px * date_diff('day', prev_d, day))
         |                 // date_diff('day', prev_d, next_d) END AS px_filled,
         |       CASE WHEN px IS NOT NULL THEN 1 ELSE 0 END AS is_observed
         |FROM f ORDER BY priority, day""".stripMargin,

    // Spearman with DETERMINISTIC tie-break ranks (value, custkey) on
    // both axes, so the no-ties identity is exact on both engines; the
    // floor division's numerator is nonnegative by construction.
    "q215_spearman_segments" ->
      """WITH rev AS (SELECT o_custkey,
        |               SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS cents
        |             FROM orders GROUP BY 1),
        |j AS (SELECT c_mktsegment, o_custkey, CAST(cents AS BIGINT) AS cents,
        |             CAST(round(c_acctbal*100,0) AS BIGINT) AS bal
        |      FROM rev JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT c_mktsegment,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY bal, o_custkey) AS rx,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY cents, o_custkey) AS ry
        |      FROM j),
        |g AS (SELECT c_mktsegment, COUNT(*) AS n,
        |             SUM(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sd2
        |      FROM r GROUP BY 1 HAVING COUNT(*) > 1)
        |SELECT c_mktsegment, CAST(n AS INT) AS n_cust,
        |       CAST(sd2 AS BIGINT) AS sum_d2,
        |       CAST(1000000 - 6 * sd2 * 1000000
        |            // (CAST(n AS HUGEINT) * (n*n - 1)) AS BIGINT) AS rho_ppm,
        |       CAST(CAST(1000000 - 6 * sd2 * 1000000
        |            // (CAST(n AS HUGEINT) * (n*n - 1)) AS BIGINT) AS DOUBLE)/1e6
        |         AS rho
        |FROM g ORDER BY c_mktsegment""".stripMargin,

    // AprioriAll level 2: first-purchase collapse, support prune BEFORE
    // the per-customer ordered pair join, confidence in floor ppm.
    "q217_sequential_rules" ->
      """WITH f AS (SELECT o_custkey, l_partkey,
        |             MIN(CAST(o_orderdate AS DATE)) AS first_d
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |           GROUP BY 1, 2),
        |fr AS (SELECT l_partkey, COUNT(*) AS n_cust_part
        |       FROM f GROUP BY 1 HAVING COUNT(*) >= 5),
        |p AS (SELECT f.o_custkey, f.l_partkey, f.first_d, fr.n_cust_part
        |      FROM f JOIN fr ON f.l_partkey = fr.l_partkey),
        |pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |              COUNT(*) AS n_cust, MAX(a.n_cust_part) AS n_ante
        |       FROM p a JOIN p b ON a.o_custkey = b.o_custkey
        |                        AND a.first_d < b.first_d
        |       GROUP BY 1, 2)
        |SELECT part_a, part_b, CAST(n_cust AS BIGINT) AS n_cust,
        |       CAST(n_ante AS BIGINT) AS n_ante,
        |       CAST(n_cust * 1000000 // n_ante AS BIGINT) AS conf_ppm
        |FROM pr ORDER BY n_cust DESC, part_a, part_b
        |LIMIT 25""".stripMargin,

    // Product-limit survival in integer micro-nats: each ln factor
    // quantized once (the q181 contract); running risk/log-survival
    // restated as plain prefix windows (the Spark side rides PrefixSum).
    "q218_kaplan_meier" ->
      """WITH per AS (SELECT o_custkey,
        |               MIN(year(o_orderdate)*12 + month(o_orderdate)) AS m0,
        |               MAX(year(o_orderdate)*12 + month(o_orderdate)) AS m1
        |             FROM orders GROUP BY 1),
        |a AS (SELECT MAX(m1) AS mmax FROM per),
        |h AS (SELECT m1 - m0 AS t, COUNT(*) AS n_at_t,
        |             CAST(SUM(CASE WHEN m1 >= a.mmax - 3 THEN 0 ELSE 1 END)
        |               AS BIGINT) AS d
        |      FROM per, a GROUP BY 1, a.mmax),
        |r AS (SELECT *, CAST(SUM(n_at_t) OVER (ORDER BY t DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS n_risk
        |      FROM h),
        |s AS (SELECT *, CAST(ROUND(ln(greatest(n_risk - d, 1)) * 1000000, 0)
        |          AS BIGINT)
        |        - CAST(ROUND(ln(n_risk) * 1000000, 0) AS BIGINT) AS term
        |      FROM r)
        |SELECT CAST(t AS INT) AS t_months, n_risk,
        |       CAST(n_at_t AS BIGINT) AS n_at_t, d AS n_churn,
        |       CAST(d * 1000000 // n_risk AS BIGINT) AS hazard_ppm,
        |       CAST(SUM(term) OVER (ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS log_surv_micro
        |FROM s ORDER BY t_months""".stripMargin,

    // l-diversity: QI class = (mktsegment, nationkey), sensitive band =
    // acctbal tier; distinct-l + entropy-l (floor micro-nats) + the
    // 2-diverse flag.
    "q250_l_diversity" ->
      """WITH cells AS (SELECT c_mktsegment, c_nationkey,
        |         CASE WHEN c_acctbal < 0 THEN 'neg'
        |              WHEN c_acctbal <= 5000 THEN 'mid'
        |              ELSE 'high' END AS band,
        |         COUNT(*) AS ns
        |       FROM customer GROUP BY 1, 2, 3),
        |tt AS (SELECT c_mktsegment, c_nationkey,
        |         CAST(SUM(ns) AS BIGINT) AS class_size
        |       FROM cells GROUP BY 1, 2),
        |tm AS (SELECT cells.c_mktsegment, cells.c_nationkey, ns, class_size,
        |         ns * CAST(round(ln(CAST(ns AS DOUBLE) / class_size) * 1e6, 0)
        |              AS BIGINT) AS term
        |       FROM cells JOIN tt USING (c_mktsegment, c_nationkey)),
        |ag AS (SELECT c_mktsegment, c_nationkey,
        |         MAX(class_size) AS class_size,
        |         CAST(COUNT(*) AS INT) AS distinct_l,
        |         CAST((-SUM(term)) // MAX(class_size) AS BIGINT)
        |           AS entropy_micro
        |       FROM tm GROUP BY 1, 2)
        |SELECT c_mktsegment, c_nationkey,
        |       CAST(class_size AS BIGINT) AS class_size, distinct_l,
        |       entropy_micro,
        |       CAST(CASE WHEN distinct_l >= 2 AND entropy_micro >= 693147
        |            THEN 1 ELSE 0 END AS INT) AS is_2_diverse
        |FROM ag
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    // Temporal-holdout recommender eval: pre-pivot top-3 co-purchase
    // recs, post-pivot baskets, hit-rate@k with cold-start reported.
    "q258_rec_holdout" ->
      """WITH ito AS (SELECT o_orderkey AS oid,
        |         CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 1 ELSE 0 END
        |           AS is_test
        |       FROM orders),
        |li AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
        |       FROM lineitem),
        |itx AS (SELECT li.oid, li.item, ito.is_test FROM li JOIN ito USING (oid)),
        |tr AS (SELECT oid, item FROM itx WHERE is_test = 0),
        |te AS (SELECT oid, item FROM itx WHERE is_test = 1),
        |pc AS (SELECT a.item, b.item AS other, COUNT(*) AS cnt
        |       FROM tr a JOIN tr b ON a.oid = b.oid AND a.item <> b.item
        |       GROUP BY 1, 2),
        |rc AS (SELECT item, other, rnk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY item
        |      ORDER BY cnt DESC, other) AS rnk FROM pc) z
        |  WHERE rnk <= 3),
        |sn AS (SELECT DISTINCT item FROM rc),
        |eb AS (SELECT te.oid, te.item FROM te JOIN sn USING (item)),
        |ne AS (SELECT COUNT(*) AS n_evals FROM eb),
        |ncold AS (SELECT COUNT(*) AS n_cold FROM te
        |          LEFT JOIN sn ON sn.item = te.item WHERE sn.item IS NULL),
        |mt AS (SELECT eb.oid, eb.item, MIN(rc.rnk) AS min_rank
        |       FROM eb JOIN rc USING (item)
        |       JOIN te t2 ON t2.oid = eb.oid AND t2.item = rc.other
        |       GROUP BY 1, 2),
        |ha AS (SELECT
        |    COALESCE(SUM(CASE WHEN min_rank <= 1 THEN 1 ELSE 0 END), 0) AS h1,
        |    COALESCE(SUM(CASE WHEN min_rank <= 2 THEN 1 ELSE 0 END), 0) AS h2,
        |    COALESCE(SUM(CASE WHEN min_rank <= 3 THEN 1 ELSE 0 END), 0) AS h3
        |  FROM mt),
        |ks AS (SELECT CAST(unnest([1, 2, 3]) AS INT) AS k),
        |kh AS (SELECT ks.k,
        |         CASE ks.k WHEN 1 THEN h1 WHEN 2 THEN h2 ELSE h3 END AS nh
        |       FROM ks CROSS JOIN ha)
        |SELECT kh.k, CAST(ne.n_evals AS BIGINT) AS n_evals,
        |       CAST(ncold.n_cold AS BIGINT) AS n_cold,
        |       CAST(kh.nh AS BIGINT) AS n_hits,
        |       CAST(CASE WHEN ne.n_evals = 0 THEN 0
        |            ELSE kh.nh * 1000000 // ne.n_evals END AS BIGINT)
        |         AS hitrate_ppm,
        |       CAST(CASE WHEN ne.n_evals > 1 THEN ROUND(SQRT(
        |              CAST(CAST(ne.n_evals AS HUGEINT) * kh.nh
        |                   - CAST(kh.nh AS HUGEINT) * kh.nh AS DOUBLE) /
        |              CAST(CAST(ne.n_evals AS HUGEINT) * ne.n_evals
        |                   * (ne.n_evals - 1) AS DOUBLE)) * 1000000, 0)
        |            ELSE 0 END AS BIGINT) AS hit_se_ppm
        |FROM kh CROSS JOIN ne CROSS JOIN ncold
        |ORDER BY kh.k""".stripMargin,

    // t-closeness: ordered-EMD between each QI class's sensitive-band
    // distribution and the global one, exact cross-multiplied integers.
    "q265_t_closeness" ->
      """WITH cells AS (SELECT c_mktsegment, c_nationkey,
        |    CASE WHEN c_acctbal < 0 THEN 1
        |         WHEN c_acctbal <= 5000 THEN 2 ELSE 3 END AS band,
        |    COUNT(*) AS ns
        |  FROM customer GROUP BY 1, 2, 3),
        |tot AS (SELECT c_mktsegment, c_nationkey, SUM(ns) AS class_size
        |        FROM cells GROUP BY 1, 2),
        |gl AS (SELECT b.band, COALESCE(g.gs, 0) AS gs
        |       FROM (SELECT UNNEST([1, 2, 3]) AS band) b
        |       LEFT JOIN (SELECT band, SUM(ns) AS gs FROM cells
        |                  GROUP BY band) g USING (band)),
        |nt AS (SELECT SUM(ns) AS n_total FROM cells),
        |spine AS (SELECT t.c_mktsegment, t.c_nationkey, t.class_size,
        |            b.band
        |          FROM tot t CROSS JOIN
        |            (SELECT UNNEST([1, 2, 3]) AS band) b),
        |filled AS (SELECT s.c_mktsegment, s.c_nationkey, s.band,
        |             s.class_size,
        |             CAST(COALESCE(c.ns, 0) AS HUGEINT) * nt.n_total
        |               - CAST(gl.gs AS HUGEINT) * s.class_size AS dnum,
        |             CAST(s.class_size AS HUGEINT) * nt.n_total AS den
        |           FROM spine s
        |           LEFT JOIN cells c
        |             USING (c_mktsegment, c_nationkey, band)
        |           JOIN gl USING (band) CROSS JOIN nt),
        |cm AS (SELECT *, SUM(dnum) OVER (
        |           PARTITION BY c_mktsegment, c_nationkey ORDER BY band
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS cum
        |       FROM filled)
        |SELECT c_mktsegment, c_nationkey,
        |       CAST(MAX(class_size) AS BIGINT) AS class_size,
        |       CAST(SUM(ABS(cum)) * 1000000 // (2 * MAX(den)) AS BIGINT)
        |         AS emd_ppm,
        |       CAST(CASE WHEN SUM(ABS(cum)) * 1000000 // (2 * MAX(den))
        |              <= 200000 THEN 1 ELSE 0 END AS INT) AS is_t_close
        |FROM cm WHERE band < 3
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // Log-bucket (DDSketch-style) quantile sketch: magnitude-relative
    // buckets from exact integer bit arithmetic (length(bin(v))-1 =
    // floor(log2 v) — no float log), shift*64+q id, rank ⌊p·(n−1)⌋,
    // within-bucket integer interpolation. Mirrors
    // QuantileSketch.logQuantiles (subBits=5) exactly.
    "q314_log_sketch" ->
      s"""WITH v AS (SELECT ${cents("o_totalprice")} AS v FROM orders
         |           WHERE o_totalprice IS NOT NULL),
         |d AS (SELECT v, GREATEST(length(bin(v)) - 1 - 5, 0) AS shift FROM v),
         |d2 AS (SELECT v, shift,
         |         v // (CAST(1 AS BIGINT) << CAST(shift AS INT)) AS q
         |       FROM d),
         |cells AS (SELECT shift * 64 + q AS bucket, shift, q,
         |            COUNT(*) AS cnt
         |          FROM d2 GROUP BY 1, 2, 3),
         |nn AS (SELECT COUNT(*) AS n FROM v),
         |cum AS (SELECT bucket, shift, q, cnt,
         |          COALESCE(SUM(cnt) OVER (ORDER BY bucket
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |            AS cum_excl
         |        FROM cells),
         |probs AS (SELECT CAST(unnest([250000, 500000, 900000, 990000,
         |            999000]) AS BIGINT) AS prob_ppm),
         |j AS (SELECT prob_ppm, bucket, shift, q, cnt, cum_excl, n,
         |        (prob_ppm * (n - 1)) // 1000000 AS rk
         |      FROM cum CROSS JOIN nn CROSS JOIN probs),
         |hit AS (SELECT *,
         |          q * (CAST(1 AS BIGINT) << CAST(shift AS INT)) AS bucket_lo,
         |          (q + 1) * (CAST(1 AS BIGINT) << CAST(shift AS INT)) - 1
         |            AS bucket_hi
         |        FROM j WHERE cum_excl <= rk AND rk < cum_excl + cnt)
         |SELECT prob_ppm, CAST(bucket_lo AS BIGINT) AS bucket_lo,
         |       CAST(bucket_hi AS BIGINT) AS bucket_hi,
         |       CAST(cnt AS BIGINT) AS bucket_count, n,
         |       CAST(bucket_lo + ((rk - cum_excl) * (bucket_hi - bucket_lo))
         |            // cnt AS BIGINT) AS estimate
         |FROM hit ORDER BY prob_ppm""".stripMargin,
  )
}
