package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Parity, Tables}
import graft.operators.Stage.StageOps

/** Data-profiling, constraint-audit and privacy queries (k-anonymity,
  * l-diversity, t-closeness, table profiles exact/approx/sampled).
  * Round-12 split of the former `Analytics` object — values
  * unchanged. */
object ProfileAnalytics {
  import Parity._

  /** Generic per-column table profile: for every listed column, the
    * row count, null count and exact distinct count — the ANALYZE-style
    * audit a pipeline runs before trusting a new drop. ONE aggregation
    * pass computes every column's stats (Spark plans the multi-distinct
    * via Expand — n_cols× the scan rows map-side, still one exchange),
    * then the single wide row unpivots to a (column, stats) row per
    * column — driver-sized, never data-sized. */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap { c =>
        Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c"))
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', __n - `__nn_$c`, `__nd_$c`"
    }.mkString(", ")
    wide.selectExpr("__n AS n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls, n_distinct)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"))
      .orderBy("column_name")
  }

  /** Lineitem column profile (q161): the full-width audit over the
    * fact table. */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    tableProfile(li, li.columns.toSeq)
  }

  /** [[tableProfile]] at 100 TB, native tier: `approx_count_distinct`
    * (HLL, `rsd` relative error) replaces the exact distinct — the
    * multi-distinct Expand keeps ~2·n_cols× the scan rows AND per-column
    * exact distinct state; the HLL form keeps the single-pass plan with
    * bounded per-column sketch state instead. Not oracle-comparable
    * (sketch values are engine-specific) — accuracy is unit-tested
    * against the exact profile; [[tableProfileSampled]] is the
    * oracle-checkable approximate tier. */
  def tableProfileApprox(df: DataFrame, cols: Seq[String],
                         rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap { c =>
        Seq(count(col(c)).as(s"__nn_$c"),
          approx_count_distinct(col(c), rsd).as(s"__nd_$c"))
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', __n - `__nn_$c`, `__nd_$c`"
    }.mkString(", ")
    wide.selectExpr("__n AS n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls, n_distinct_est)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct_est"))
      .orderBy("column_name")
  }

  /** [[tableProfile]] at 100 TB, portable tier: distinct counts by
    * THRESHOLD SAMPLING (Flajolet's adaptive-sampling / KMV family).
    * Each canonical value hashes through the full-range affine hash
    * H(x) = ((x mod P)·2654435761 + 97) mod P (P = 2³¹−1); only hashes
    * below P div tDiv are kept, their distinct count C is exact, and
    * the estimate is C·tDiv — distinct hashes land uniformly, so a
    * 1/tDiv hash-range slice sees ~D/tDiv of them (rsd ≈ √(tDiv/D)).
    *
    * Why this exists next to [[tableProfileApprox]]: H is pure integer
    * arithmetic, so the WHOLE estimate is engine-reproducible — the
    * DuckDB oracle recomputes it value-for-value (q176), which no
    * engine-specific HLL sketch allows. Scale: the distinct-collapse
    * shuffle carries only the ~D/tDiv surviving 8-byte hashes per
    * column (raise tDiv as D grows); row/null counts ride the same
    * single aggregation. Regime limit: columns with D ≲ tDiv² keep
    * rsd ≥ 1/√tDiv — read small estimates as "below ~tDiv²", or
    * profile known-low-cardinality columns exactly.
    *
    * `canon` maps column name → canonical NON-NEGATIVE long column
    * (null ⇔ value null), injective on the profiled domain — numerics
    * via fixed-point, strings via [[graft.ext.TextOps.hash8]], dates
    * via epoch days. */
  def tableProfileSampled(df: DataFrame, canon: Seq[(String, Column)],
                          tDiv: Long = 16L): DataFrame = {
    require(canon.nonEmpty, "at least one column to profile")
    require(tDiv >= 2, s"tDiv must be >= 2, got $tDiv")
    val P = graft.ext.TextOps.HashP
    val thresh = P / tDiv
    val stacked = df.select(explode(array(canon.map { case (n, c) =>
        struct(lit(n).as("column_name"), c.cast("long").as("canon"))
      }: _*)).as("s"))
      .select(col("s.column_name").as("column_name"), col("s.canon").as("canon"))
    val h = ((col("canon") % P) * lit(2654435761L) + lit(97L)) % P
    stacked
      .withColumn("hs", when(h < lit(thresh), h))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("canon"))).as("n_nulls"),
        countDistinct(col("hs")).as("n_sketch_keys"))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_sketch_keys"),
        (col("n_sketch_keys") * lit(tDiv)).as("n_distinct_est"))
      .orderBy("column_name")
  }

  /** Canonicalization of every lineitem column for the sampled profile
    * (q176) — longs as-is, 4-decimal fixed point for the numerics,
    * [[graft.ext.TextOps.hash8]] for the flag strings, epoch days for
    * the ship date. Kept on the object so the oracle SQL builder stays
    * in lockstep with the Spark side. */
  val LineitemCanon: Seq[(String, Column)] = {
    val longs = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .map(c => c -> col(c).cast("long"))
    val decs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => c -> round(col(c) * 10000, 0).cast("long"))
    val strs = Seq("l_returnflag", "l_linestatus")
      .map(c => c -> graft.ext.TextOps.hash8(rpad(col(c), 8, "#")))
    val dates = Seq("l_shipdate" ->
      datediff(col("l_shipdate").cast("date"), lit("1970-01-01")).cast("long"))
    longs ++ decs ++ strs ++ dates
  }

  /** Sampled lineitem profile (q176): the 100 TB audit path. */
  def lineitemProfileSampled(spark: SparkSession, dir: String): DataFrame =
    tableProfileSampled(Tables.lineitem(spark, dir), LineitemCanon)

  /** Constraint audit across the whole star schema (q207) — the
    * referential-integrity / uniqueness report a warehouse load gate
    * runs: one row per declared constraint (10 primary keys, 7 foreign
    * keys) with exact violation counts and floor-ppm rates. PK
    * violations = rows − distinct keys (composite keys audited as
    * structs); FK violations = anti-join count of child keys absent
    * from the parent. Every leg is either one map-side-combined
    * aggregation or one keyed anti join — nothing quadratic, dimensions
    * broadcast-eligible — and the 17 one-row legs union into a single
    * driver-sized report. The synthetic lineitem actually VIOLATES its
    * composite PK (duplicate (orderkey, linenumber) pairs), so the
    * audit is exercised, not vacuously green.
    *
    * Single-scan staging: a table referenced by several legs is
    * projected to exactly its audited key columns ONCE and
    * localCheckpoint'd, and every one of its legs derives from the
    * staged relation — lineitem drops from 7 parquet passes (PK agg +
    * 3×(count + anti join)) to ONE scan feeding 4 narrow in-memory
    * reads, orders from 3 to 1. At 100 TB that is the difference
    * between re-reading the biggest fact seven times and once. Each FK
    * leg also collapses the child to DISTINCT keys with per-key row
    * counts (map-side partial agg) BEFORE the anti join, so the join
    * carries |distinct keys| rows, not |child| rows, and the violation
    * row count is recovered as Σcnt over unmatched keys; the shared
    * row total is computed once per staged table and broadcast to its
    * legs. */
  def constraintAudit(spark: SparkSession, dir: String): DataFrame = {
    def pkLeg(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(struct(keys.map(col): _*)).as("nd"))
        .select(lit(name).as("constraint_name"), lit("pk").as("kind"),
          col("n_rows").cast("long").as("n_rows"),
          (col("n_rows") - col("nd")).cast("long").as("n_violations"))
    // FK leg over a staged child: distinct child keys with row counts,
    // anti-joined to the parent key set; empty unmatched set → 0 via
    // coalesce (sum over zero rows is NULL).
    def fkLeg(name: String, staged: DataFrame, childKey: String,
              total: DataFrame, parent: DataFrame,
              parentKey: String): DataFrame =
      staged.groupBy(col(childKey)).agg(count(lit(1)).as("cnt"))
        .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
          "left_anti")
        .agg(coalesce(sum("cnt"), lit(0L)).as("n_bad"))
        .crossJoin(broadcast(total))
        .select(lit(name).as("constraint_name"), lit("fk").as("kind"),
          col("n_rows").cast("long").as("n_rows"),
          col("n_bad").cast("long").as("n_violations"))
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir); val prt = Tables.part(spark, dir)
    val nat = Tables.nation(spark, dir); val reg = Tables.region(spark, dir)
    // One parquet scan each for the multi-leg tables; all their legs
    // read the staged 4-column (resp. 2-column) relation.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .stage("constraintAudit:li")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .stage("constraintAudit:ord")
    val liTotal = li.agg(count(lit(1)).as("n_rows"))
    val ordTotal = ord.agg(count(lit(1)).as("n_rows"))
    val legs = Seq(
      pkLeg("pk_region", reg, Seq("r_regionkey")),
      pkLeg("pk_nation", nat, Seq("n_nationkey")),
      pkLeg("pk_customer", cust, Seq("c_custkey")),
      pkLeg("pk_supplier", supp, Seq("s_suppkey")),
      pkLeg("pk_part", prt, Seq("p_partkey")),
      pkLeg("pk_orders", ord, Seq("o_orderkey")),
      pkLeg("pk_lineitem", li, Seq("l_orderkey", "l_linenumber")),
      pkLeg("pk_events", Tables.events(spark, dir), Seq("event_id")),
      pkLeg("pk_documents", Tables.documents(spark, dir), Seq("doc_id")),
      pkLeg("pk_embeddings", Tables.embeddings(spark, dir), Seq("vec_id")),
      fkLeg("fk_lineitem_orders", li, "l_orderkey", liTotal,
        ord, "o_orderkey"),
      fkLeg("fk_lineitem_part", li, "l_partkey", liTotal, prt, "p_partkey"),
      fkLeg("fk_lineitem_supplier", li, "l_suppkey", liTotal,
        supp, "s_suppkey"),
      fkLeg("fk_orders_customer", ord, "o_custkey", ordTotal,
        cust, "c_custkey"),
      fkLeg("fk_customer_nation", cust, "c_nationkey",
        cust.agg(count(lit(1)).as("n_rows")), nat, "n_nationkey"),
      fkLeg("fk_supplier_nation", supp, "s_nationkey",
        supp.agg(count(lit(1)).as("n_rows")), nat, "n_nationkey"),
      fkLeg("fk_nation_region", nat, "n_regionkey",
        nat.agg(count(lit(1)).as("n_rows")), reg, "r_regionkey"))
    legs.reduce(_ unionAll _)
      .withColumn("violation_ppm",
        expr("n_violations * 1000000 div greatest(n_rows, 1)"))
      .orderBy("constraint_name")
  }

  /** k-anonymity audit of the customer table (q210) — the privacy
    * screen a data-release gate runs: group by the quasi-identifier
    * pair (market segment, nation), report each equivalence class's
    * size and whether it meets k = 5 — a class smaller than k
    * re-identifies its members by the quasi-identifiers alone. One
    * grouped count (map-side partial) plus a projection; the class
    * table is |segments|×|nations| — metadata-scale at any corpus
    * size. */
  def kAnonymity(spark: SparkSession, dir: String, k: Long = 5): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("class_size").cast("long").as("class_size"),
        when(col("class_size") >= k, 1).otherwise(0).as("is_k_anonymous"))
      .orderBy("c_mktsegment", "c_nationkey")

  /** L-DIVERSITY audit (q250, Machanavajjhala et al.) — the governance
    * companion to q210's k-anonymity: within each quasi-identifier
    * class (mktsegment, nationkey), how DIVERSE is the sensitive
    * attribute (account-balance band: negative / ≤ 5000 / high)?
    * k-anonymity alone leaks when a class is large but homogeneous in
    * the sensitive value; per class this reports distinct-l (number of
    * sensitive bands present) and entropy-l (Shannon entropy of the
    * band distribution in exact floor micro-nats — Σ n_s·round-e6 ln
    * terms, all ≤ 0, negated then floor-divided by the class size, so
    * no sign split is ever needed), plus the standard 2-diverse flag
    * (distinct ≥ 2 AND entropy ≥ ln 2 = 693147 micro-nats).
    *
    * Scale shape: one (QI, band)-keyed count off the scan, then
    * everything runs on the |QI classes|·|bands| relation. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") <= 5000, "mid")
          .otherwise("high").as("band"))
      .groupBy("c_mktsegment", "c_nationkey", "band")
      .agg(count(lit(1)).as("ns"))
      .stage("lDiversity:cells") // |QI|·3 rows; read by totals + entropy legs
    val totals = cells.groupBy("c_mktsegment", "c_nationkey")
      .agg(sum("ns").as("class_size"))
    cells.join(totals, Seq("c_mktsegment", "c_nationkey"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("ns"),
        col("class_size"),
        (col("ns") *
          round(log(col("ns").cast("double") / col("class_size")) * 1e6, 0)
            .cast("long")).as("term"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(max("class_size").as("class_size"),
        count(lit(1)).as("distinct_l"),
        expr("(-sum(term)) div max(class_size)").as("entropy_micro"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("class_size").cast("long").as("class_size"),
        col("distinct_l").cast("int").as("distinct_l"),
        col("entropy_micro").cast("long").as("entropy_micro"),
        when(col("distinct_l") >= 2 && col("entropy_micro") >= 693147L, 1)
          .otherwise(0).cast("int").as("is_2_diverse"))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** T-CLOSENESS audit (q265, Li, Li & Venkatasubramanian ICDE'07) —
    * the third leg of the privacy trio after k-anonymity (q210) and
    * l-diversity (q250): a QI class can be large (k-anonymous) and
    * diverse (l-diverse) yet still leak, when its sensitive-value
    * DISTRIBUTION sits far from the global one (e.g. a class that is
    * 90% negative-balance when the population is 10%). Per class
    * (mktsegment, nationkey) this reports the Earth Mover's Distance
    * between the class's account-balance band distribution (the q250
    * bands, ORDERED neg < mid < high) and the global distribution —
    * for an ordered attribute EMD is the mean absolute cumulative
    * difference, Σ_{i<m} |Σ_{j≤i}(p_j − q_j)| / (m−1) — in exact floor
    * ppm via cross-multiplied integers (|cum(c_j·N − G_j·n_g)| over the
    * common denominator n_g·N, DECIMAL(38,0)), plus the standard
    * t = 0.2 closeness flag.
    *
    * Scale shape: one (QI, band)-keyed count off the scan; the zero-
    * filled class×band spine, the 3-row ordered cumulative window, and
    * the final rollup all run on |classes|·3 rows — metadata-scale at
    * any corpus size, the q250 posture. */
  def tCloseness(spark: SparkSession, dir: String,
                 tPpm: Long = 200000): DataFrame = {
    val banded = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        when(col("c_acctbal") < 0, 1)
          .when(col("c_acctbal") <= 5000, 2)
          .otherwise(3).as("band"))
    val cells = banded.groupBy("c_mktsegment", "c_nationkey", "band")
      .agg(count(lit(1)).as("ns"))
      .stage("tCloseness:cells") // |QI|·3 rows; spine + totals + global legs
    val totals = cells.groupBy("c_mktsegment", "c_nationkey")
      .agg(sum("ns").as("class_size"))
    // Global leg built ON the zero-filled band spine (not only the bands
    // that occur): a globally-empty interior band must still contribute
    // its |cum| term to every class's EMD walk, so gs coalesces to 0 and
    // all three band rows always survive the joins below.
    val global = spark.range(1, 4).select(col("id").cast("int").as("band"))
      .join(cells.groupBy("band").agg(sum("ns").as("gs")),
        Seq("band"), "left_outer")
      .select(col("band"), coalesce(col("gs"), lit(0L)).as("gs"))
      .crossJoin(broadcast(cells.agg(sum("ns").as("n_total"))))
    // Zero-fill: every class must carry all three band rows, else the
    // cumulative walk skips the missing band's (0 − q_j) step.
    val spine = totals.crossJoin(
      broadcast(spark.range(1, 4).select(col("id").cast("int").as("band"))))
    val filled = spine
      .join(cells, Seq("c_mktsegment", "c_nationkey", "band"), "left_outer")
      .join(broadcast(global), Seq("band"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("band"),
        col("class_size"),
        (coalesce(col("ns"), lit(0L)).cast("decimal(38,0)") * col("n_total")
          - col("gs").cast("decimal(38,0)") * col("class_size")).as("dnum"),
        (col("class_size").cast("decimal(38,0)") * col("n_total")).as("den"))
    val wcum = Window.partitionBy("c_mktsegment", "c_nationkey")
      .orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    filled.withColumn("cum", sum("dnum").over(wcum)) // 3-row keyed frame
      .filter(col("band") < 3) // EMD sums the m−1 interior cumulatives
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(max("class_size").as("class_size"),
        sum(abs(col("cum"))).as("cabs"), max("den").as("den"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("class_size").cast("long").as("class_size"),
        expr("CAST(cabs * 1000000 div (2 * den) AS BIGINT)").as("emd_ppm"))
      .withColumn("is_t_close",
        when(col("emd_ppm") <= tPpm, 1).otherwise(0).cast("int"))
      .orderBy("c_mktsegment", "c_nationkey")
  }
}
