package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Parity, Tables}
import graft.operators.Stage.StageOps

/** Graph analytics over the co-purchase projection of orders⋈lineitem
  * (PageRank/HITS/PPR, triangles, k-core, LPA communities + conductance,
  * link prediction, sampled betweenness, recommender holdout). Thin
  * oracle-facing bindings; the iterative kernels live in
  * [[graft.operators.Graph]]. Round-12 split of the former `Analytics`
  * object — values unchanged. */
object GraphAnalytics {
  import Parity._

  /** The canonical within-order part co-purchase UNDIRECTED edge list
    * (q142's construction) — shared by q142/q175/q202/q225.
    * [[graft.ext.StageCache]]-memoized on the lazy item-projection
    * plan's semantic hash: before round 13 each of the four queries
    * re-paid the lineitem distinct + within-order self-join +
    * canonicalization from the scan in every suite pass. A cache miss
    * rebuilds everything; Bench's retry invalidation keeps floors
    * standalone-priced. */
  private def partPairEdges(spark: SparkSession, dir: String): DataFrame = {
    val itemsLazy = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()
    val key = graft.ext.StageCache.keyFor(itemsLazy, "copurchase-part")
    graft.ext.StageCache.getOrStage(key) {
      // projection over the shared basket substrate — rename is free on
      // the checkpointed rows, the distinct is paid once per corpus
      val items = Baskets.items(spark, dir)
        .select(col("oid").as("okey"), col("item").as("p"))
      val pairs = items.join(items.withColumnRenamed("p", "p2"), Seq("okey"))
        .filter(col("p") < col("p2"))
      graft.operators.Graph.undirectedEdges(pairs, "p", "p2")
        .stage("partPairEdges:pairs")
    }
  }

  /** The support-≥`minPairSupport` repeat co-purchase edge list (the
    * q203 prune) — shared VERBATIM by q223/q229/q257/q263/q272/q274/
    * q279. Same [[graft.ext.StageCache]] memo discipline as
    * [[partPairEdges]]; the support threshold rides the cache key so a
    * non-default prune never collides with the default one. */
  /** The staged relation keeps the support count `s` so the weighted
    * consumers (q299 Borůvka) share ONE build with the unweighted
    * family (q142/q223/q253/q263/q279…) — the projection below is
    * free on top of the checkpointed rows. */
  private def supportWeightedEdges(spark: SparkSession, dir: String,
                                   minPairSupport: Long): DataFrame = {
    val itLazy = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .distinct()
    val key = graft.ext.StageCache.keyFor(itLazy, "copurchase-support-w",
      minPairSupport)
    graft.ext.StageCache.getOrStage(key) {
      val it = Baskets.items(spark, dir) // shared basket substrate
      it.join(it.withColumnRenamed("item", "item2"), Seq("oid"))
        .filter(col("item") < col("item2"))
        .groupBy("item", "item2").agg(count(lit(1)).as("s"))
        .filter(col("s") >= minPairSupport)
        .select(col("item").as("u"), col("item2").as("v"), col("s"))
        .stage("supportWeightedEdges:it")
    }
  }

  private def supportEdges(spark: SparkSession, dir: String,
                           minPairSupport: Long): DataFrame =
    supportWeightedEdges(spark, dir, minPairSupport).select("u", "v")

  /** Co-purchase propagation rank (q116): two integer-exact hops of
    * mass over the customer⋈supplier bipartite graph — each supplier
    * starts with 10⁶ micro-units, splits them equally over its
    * customers, and customers split what they received equally over
    * their suppliers. The result ranks suppliers by co-purchase network
    * centrality (a supplier scores high when its customers concentrate
    * their buying on few suppliers — the PageRank-style read the
    * connected-components tier can't give). ALL divisions are integer
    * floor (each hop's per-edge contribution is a long), so sums are
    * order-independent and both engines land on identical integers.
    * Plan: one orderkey equi join builds the distinct edge list, then
    * two rounds of key-keyed agg + broadcast-friendly degree joins —
    * everything exchanges on cust/supp keys, nothing quadratic. */
  /** The distinct canonical supplier↔customer co-purchase edge list
    * (u < v in the q140 even/odd node encoding: sn = 2·suppkey,
    * cn = 2·custkey+1) — [[graft.ext.StageCache]]-memoized because FIVE
    * registered queries (q116/q140/q188/q285/q291) derive their graph
    * from the SAME fact join + distinct; before this each re-paid the
    * lineitem⋈orders scan per suite pass. Consumers recover their own
    * encoding by projection (even node = supplier, odd = customer —
    * a bijection, so distinct-ness is preserved), which is free on the
    * checkpointed rows. */
  private def suppCustEdges(spark: SparkSession, dir: String): DataFrame = {
    val lazyPairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_suppkey").as("s"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("c")),
        Seq("orderkey"))
      .select((col("s") * 2).as("sn"), (col("c") * 2 + 1).as("cn"))
    val canon = graft.operators.Graph.undirectedEdges(lazyPairs, "sn", "cn")
    val key = graft.ext.StageCache.keyFor(canon, "suppcust-edges")
    graft.ext.StageCache.getOrStage(key)(canon.stage("suppCustEdges:edges"))
  }

  def copurchaseRank(spark: SparkSession, dir: String): DataFrame = {
    // Four consumers read the edge list (two degree aggs, two hops) —
    // a free projection over the staged supplier↔customer edges
    // (odd div 2 = custkey, even div 2 = suppkey).
    val edges = suppCustEdges(spark, dir).select(
      when(col("u") % 2 === 1, col("u")).otherwise(col("v"))
        .cast("long").as("cn"),
      when(col("u") % 2 === 0, col("u")).otherwise(col("v"))
        .cast("long").as("sn"))
      .select(expr("cn div 2").as("c"), expr("sn div 2").as("s"))
    val sdeg = edges.groupBy("s").agg(count(lit(1)).as("sdeg"))
    val cdeg = edges.groupBy("c").agg(count(lit(1)).as("cdeg"))
    // hop 1: suppliers → customers (each supplier splits 1e6 units)
    val m1 = edges.join(sdeg, Seq("s"))
      .select(col("c"), expr("1000000 div sdeg").as("share"))
      .groupBy("c").agg(sum("share").as("m1"))
    // hop 2: customers → suppliers
    edges.join(m1, Seq("c")).join(cdeg, Seq("c"))
      .select(col("s"), expr("m1 div cdeg").as("share"))
      .groupBy("s").agg(count(lit(1)).as("n_customers"),
        sum("share").as("score_units"))
      .join(sdeg, Seq("s"))
      .select(col("s").as("l_suppkey"), col("n_customers").cast("int")
          .as("n_customers"),
        col("score_units"),
        (col("score_units").cast("double") / 1000000.0).as("score"))
      .orderBy(col("score_units").desc, col("l_suppkey"))
  }

  /** Co-purchase PageRank (q140): 2-iteration damped PageRank over the
    * undirected customer–supplier co-purchase graph (the q116 edge
    * list), in exact integer rank units via
    * [[graft.operators.PageRank]]. Node ids pack type+key into one
    * long (supplier → 2k, customer → 2k+1) so the generic operator
    * runs untyped; the report decodes them back. Top 25 by rank. */
  def copurchasePageRank(spark: SparkSession, dir: String): DataFrame = {
    // the staged supplier↔customer edges ARE the distinct (sn, cn)
    // pairs (even/odd encoding is a bijection); both directions by union
    val pairs = suppCustEdges(spark, dir)
    val edges = pairs.select(col("u"), col("v"))
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
    graft.operators.PageRank.ranks(edges, iters = 2)
      .select(
        when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        expr("node div 2").as("node_key"),
        col("degree"), col("rank_units"))
      .orderBy(col("rank_units").desc, col("node_type"), col("node_key"))
      .limit(25)
  }

  /** Multi-source BFS hop distances (q188): how far every account sits
    * from three seed accounts on the supplier↔customer co-purchase
    * graph — the blast-radius / graph-feature primitive
    * ([[graft.operators.Bfs.hopDistances]]), with the same even/odd
    * node encoding as q140. Exact BFS levels, capped at 3 hops; the
    * oracle replays the expansion as a recursive CTE with MIN(dist)
    * collapsing longer walks. Seeds: supplier 1, customer 1, supplier 2
    * (nodes 2, 3, 4 — present at every scale factor, and a seed with no
    * edges still reports itself at dist 0). */
  def copurchaseHops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = suppCustEdges(spark, dir)
    graft.operators.Bfs.hopDistances(edges, Seq(2L, 3L, 4L).toDF("seed"),
        maxHops = 3)
      .select(col("seed"),
        when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        expr("node div 2").as("node_key"), col("dist"))
      .orderBy("seed", "dist", "node_type", "node_key")
  }

  /** Double-sweep diameter lower bound on the customer–supplier
    * co-purchase graph (q285):
    * [[graft.operators.Graph.doubleSweepDiameter]] over the q188
    * bipartite edge list — BFS from the minimum node id, BFS again from
    * its farthest node, diameter_lb = max eccentricity. */
  def copurchaseDiameter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.doubleSweepDiameter(
      suppCustEdges(spark, dir), maxHops = 6)

  /** iFUB diameter certificate on the co-purchase graph (q291):
    * [[graft.operators.Graph.ifubDiameter]] — the q285 double-sweep lb
    * plus a midpoint-rooted, cap-bounded two-level fringe refinement of
    * the upper bound; `certified` = 1 iff ub == lb with all sweeps
    * complete. On this dense bipartite graph the outer fringes overflow
    * the 32-probe cap (thousands of peripheral customers), so the
    * honest readout is a RAISED lb + the uncertified ub — the
    * certificate discharges fully on sparser graphs (the spec's
    * path/star/barbell fixtures). */
  def copurchaseDiameterCertified(spark: SparkSession,
                                  dir: String): DataFrame =
    graft.operators.Graph.ifubDiameter(
      suppCustEdges(spark, dir), maxHops = 6, cap = 32)

  /** Co-purchase triangle census (q142): parts are connected when some
    * order contains both; the report counts triangles — triples of
    * parts pairwise co-purchased — and the global clustering
    * coefficient, via [[graft.operators.Graph.triangleReport]]'s
    * degree-oriented wedge join (nothing quadratic in a hub part's
    * degree). Pair generation is a within-order self-join: bounded by
    * basket size (TPC-H baskets are ≤ 7 lines), keyed on orderkey. */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Graph.triangleReport(partPairEdges(spark, dir))
  }

  /** Sampled co-purchase triangle census (q175): q142's graph through
    * [[graft.operators.Graph.triangleReportSampled]] at p = 0.25 — the
    * scale path for the census (the exact wedge volume grows ~1000× at a
    * 100× edge scale-up; the hash-gate sample cuts it ~p² ahead of every
    * shuffle). Deterministic: the gate is a pure hash, so the estimate
    * is a fixed number both engines can agree on, not a noisy draw. */
  def copurchaseTrianglesSampled(spark: SparkSession, dir: String,
                                 pPpm: Long = 250000): DataFrame = {
    graft.operators.Graph.triangleReportSampled(
      partPairEdges(spark, dir), pPpm)
  }

  /** Co-purchase k-core peel trajectory (q202) — the cohesive-core
    * decomposition of the q142 part graph via
    * [[graft.operators.Graph.kCorePeelTrajectory]]. k is data-adaptive:
    * k = max(2, ⌊avg_deg · 11/16⌋) — deep enough inside the degree
    * distribution to actually cascade (a k below min-degree peels
    * nothing; this graph's core collapses sharply near ~3/4·avg), while
    * tracking density instead of hard-coding a magic number. m and n
    * cross the driver as two scalars (metadata scale, the PrefixSum
    * posture). Six fixed peel rounds — both engines run exactly six
    * (fixed-round semantics, not run-to-convergence, so the operator is
    * a pure function either engine restates); the trajectory output
    * (round 0 = input graph) is non-vacuous BY CONSTRUCTION even if the
    * core empties, and the spec checks convergence on the graphs where
    * six rounds suffice. */
  def copurchaseKCore(spark: SparkSession, dir: String,
                      rounds: Int = 6): DataFrame = {
    val edges = partPairEdges(spark, dir)
    val stats = edges.select(col("u").as("node")).unionAll(
        edges.select(col("v").as("node"))).distinct()
      .agg(count(lit(1)).as("n"))
      .crossJoin(edges.agg(count(lit(1)).as("m")))
      .collect()(0)
    val n = stats.getAs[Long]("n"); val m = stats.getAs[Long]("m")
    val k = math.max(2L, (2 * m / math.max(n, 1L)) * 11 / 16)
    graft.operators.Graph.kCorePeelTrajectory(edges, k, rounds)
      .withColumn("k", lit(k.toInt))
  }

  /** Personalized PageRank part recommendations (q225) — "customers
    * who buy THIS brand also buy…": damped PageRank over the q142
    * within-order co-purchase part graph with the teleport mass
    * restricted to one brand's parts
    * ([[graft.operators.PageRank.personalizedRanks]], 3 rounds), so
    * rank measures proximity to the brand, not global popularity. The
    * output is the top 25 NON-seed parts — the recommendation surface
    * (seeds would trivially head the list). Exact integer rank units
    * throughout (per-edge floor division); oracle unrolls the same 3
    * rounds.
    *
    * Scale shape: the q142 edge canonicalization + the [[graft.operators.PageRank]]
    * iteration shapes (edge list staged once, one keyed join + one
    * keyed agg per round); the seed flag is a broadcastable part-keyed
    * projection of the part dimension; TakeOrdered head. */
  def brandAffinityPpr(spark: SparkSession, dir: String,
                       brand: String = "Brand#13"): DataFrame = {
    val und = partPairEdges(spark, dir)
    val edges = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
    val seeds = Tables.part(spark, dir)
      .filter(col("p_brand") === brand)
      .select(col("p_partkey").as("node"))
    graft.operators.PageRank.personalizedRanks(edges, seeds, iters = 3)
      .filter(col("is_seed") === 0)
      .select(col("node").as("part"), col("degree"), col("rank_units"))
      .orderBy(col("rank_units").desc, col("part"))
      .limit(25)
  }

  /** Per-node coreness of the REPEAT co-purchase graph (q223) — the
    * full Matula–Beck core decomposition via
    * [[graft.operators.Graph.corenessHIndex]], answering what q202's
    * single-k trajectory can't: every part's core number in one run,
    * the graph feature downstream consumers (recommenders, fraud
    * screens) actually join on. The graph keeps only part pairs
    * co-purchased in ≥ `minPairSupport` DISTINCT orders — the
    * support prune (the q203 posture) that separates signal edges from
    * the one-off co-occurrence noise that dominates raw co-purchase at
    * scale, and keeps the edge list sublinear in the fact table.
    *
    * Scale shape: basket dedup + support-pruned pair aggregation are
    * the q203 stages (self-join bounded by basket width, partial-agg'd
    * pair keys); the h-index rounds then touch only the pruned |V|+|E|
    * relations. Fixed 24 rounds on both engines (oracle restates them
    * round for round); `converged`=1 certifies the fixpoint — true at
    * every tested scale factor. */
  def copurchaseCoreness(spark: SparkSession, dir: String,
                         minPairSupport: Long = 2,
                         rounds: Int = 24): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.corenessHIndex(edges, rounds)
      .select(col("node").cast("long").as("part"),
        col("degree").cast("long").as("degree"),
        col("coreness"), col("converged"))
      .orderBy("part")
  }

  /** Adamic–Adar link prediction on the repeat co-purchase graph
    * (q257): [[graft.operators.Graph.adamicAdar]] over the same
    * support-≥2 edges as q223/q253 — the top-25 predicted NEW links
    * ("parts that share well-connected co-purchase neighbors but were
    * never co-bought"), the classic link-prediction baseline. */
  def copurchaseLinkPrediction(spark: SparkSession, dir: String,
                               minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.adamicAdar(edges, k = 25)
  }

  /** TEMPORAL-HOLDOUT RECOMMENDER EVALUATION (q258) — the eval loop
    * that closes the co-purchase recommender family (q116 ranks, q203
    * rules) the way q105/q235/q246 closed theirs: orders BEFORE the
    * pivot date train a top-3 co-purchase recommender (pair counts,
    * ties to the smaller item id), orders ON/AFTER the pivot are the
    * honest future test — for every (test basket, seed item) with the
    * seed seen in training, did a top-k recommendation appear among
    * the basket's OTHER items? Hit-rate@k for k = 1..3, with the
    * cold-start volume (test seeds unseen in training) reported
    * separately rather than silently folded in.
    *
    * Scale shape: the train pair table is the q203-bounded basket
    * self-join; the rec table is a top-3 per-item window over it; the
    * eval is two keyed joins of test (order, item) rows against the
    * rec table and the basket membership — every relation keyed,
    * nothing quadratic in baskets. */
  def recommenderHoldout(spark: SparkSession, dir: String,
                         pivot: String = "1997-01-01"): DataFrame = {
    import spark.implicits._
    val it = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("oid"),
        (col("o_orderdate") >= lit(pivot)).cast("int").as("is_test"))
      // the staged distinct (order, item) substrate — shared with
      // q195/q203 and both co-purchase edge tiers; before this q258
      // re-paid the lineitem scan + distinct per suite pass
      .join(Baskets.items(spark, dir), Seq("oid"))
      // (r17 note: a repartition(oid) before this checkpoint — to make
      // the train-pair self-join exchange-free — was tried and REVERTED:
      // Spark 4.1's localCheckpoint rewrites to a LogicalRDD with
      // UnknownPartitioning (verified in the physical plan), so the
      // extra exchange bought nothing.)
      .stage("recommenderHoldout:it") // read by train pairs + test baskets
    val train = it.filter(col("is_test") === 0).select("oid", "item")
    val test = it.filter(col("is_test") === 1).select("oid", "item")
      .stage("recommenderHoldout:test") // read by eval base + membership probe
    val pairCnt = train
      .join(train.withColumnRenamed("item", "other"), Seq("oid"))
      .filter(col("item") =!= col("other"))
      .groupBy("item", "other").agg(count(lit(1)).as("cnt"))
    // Salted two-phase top-3: a viral item at 100× scale would
    // concentrate its full co-item list on one window task; the salted
    // form is output-identical (the (cnt desc, other) order is total)
    // with per-task state bounded at k·salts. The q63/q81 posture.
    val recs = graft.operators.Skew.saltedTopKPerGroup(pairCnt,
        Seq("item"), Seq(col("cnt").desc, col("other")), k = 3, salts = 8)
      .stage("recommenderHoldout:recs") // read by eval + seen-item set
    val seen = recs.select("item").distinct()
    val evalBase = test.join(seen, Seq("item"), "left_semi")
    val nEval = evalBase.agg(count(lit(1)).as("n_evals"))
    val nCold = test.join(seen, Seq("item"), "left_anti")
      .agg(count(lit(1)).as("n_cold"))
    val matched = evalBase.join(recs, Seq("item"))
      .join(test.select(col("oid"), col("item").as("other")),
        Seq("oid", "other"), "left_semi")
      .groupBy("oid", "item").agg(min("rank").as("min_rank"))
    val hitAgg = matched.agg(
      sum(when(col("min_rank") <= 1, 1L).otherwise(0L)).as("h1"),
      sum(when(col("min_rank") <= 2, 1L).otherwise(0L)).as("h2"),
      sum(when(col("min_rank") <= 3, 1L).otherwise(0L)).as("h3"))
    Seq(1, 2, 3).toDF("k")
      .crossJoin(broadcast(hitAgg)).crossJoin(broadcast(nEval))
      .crossJoin(broadcast(nCold))
      .select(col("k").cast("int").as("k"),
        col("n_evals").cast("long").as("n_evals"),
        col("n_cold").cast("long").as("n_cold"),
        coalesce(when(col("k") === 1, col("h1"))
          .when(col("k") === 2, col("h2")).otherwise(col("h3")), lit(0L))
          .cast("long").as("n_hits"),
        when(col("n_evals") === 0, 0L)
          .otherwise(expr("""coalesce(CASE WHEN k = 1 THEN h1
            WHEN k = 2 THEN h2 ELSE h3 END, 0) * 1000000 div n_evals"""))
          .as("hitrate_ppm"))
      // Leave-one-eval-out jackknife SE of the hit rate. For a mean of
      // 0/1 indicators the jackknife variance reduces in closed form to
      // (n·S − S²) / (n²(n−1)) — exact integer numerator/denominator
      // (DECIMAL(38,0), DuckDB's HUGEINT twin), ONE shared sqrt over
      // the same two integers on both engines, quantized to ppm. Zero
      // by construction when every eval agrees (S = 0 or S = n).
      .withColumn("hit_se_ppm", expr(
        """CASE WHEN n_evals > 1 THEN CAST(ROUND(SQRT(
          |  CAST(CAST(n_evals AS DECIMAL(38,0)) * n_hits
          |       - CAST(n_hits AS DECIMAL(38,0)) * n_hits AS DOUBLE) /
          |  CAST(CAST(n_evals AS DECIMAL(38,0)) * n_evals
          |       * (n_evals - 1) AS DOUBLE)) * 1000000, 0) AS BIGINT)
          |ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .orderBy("k")
  }

  /** Rank-2 ALS recommender training report (q294):
    * [[graft.ext.Factorization.alsRank2Report]] over the implicit
    * customer×part quantity matrix (orders⋈lineitem), two full
    * alternating rounds with the closed-form 2×2 ridge solve, training
    * RMSE per market segment after EVERY round — the matrix-
    * factorization tier the co-occurrence recommenders (q116/q257/
    * q258) were missing, with the per-round fit trajectory as the
    * oracle-checked convergence certificate. */
  /** The customer×part quantity matrix (u, i, r) both ALS reports train
    * on — [[graft.ext.StageCache]]-memoized (q294 AND q305 consume the
    * IDENTICAL relation; before this each re-paid the fact join +
    * (u, i) rollup from parquet every suite pass). */
  private def quantityRatings(spark: SparkSession, dir: String): DataFrame = {
    val lazyR = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("oid"), col("o_custkey").as("u"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("oid"), col("l_partkey").as("i"),
          col("l_quantity").cast("long").as("q")), Seq("oid"))
      .groupBy("u", "i").agg(sum("q").as("r"))
    val key = graft.ext.StageCache.keyFor(lazyR, "als-ratings")
    graft.ext.StageCache.getOrStage(key)(lazyR.stage("quantityRatings:ratings"))
  }

  def alsTrainingReport(spark: SparkSession, dir: String): DataFrame = {
    val ratings = quantityRatings(spark, dir)
    val segments = Tables.customer(spark, dir)
      .select(col("c_custkey").as("u"), col("c_mktsegment").as("seg"))
    graft.ext.Factorization.alsRank2Report(ratings, "u", "i",
      segments, "seg")
  }

  /** Implicit-feedback rank-2 ALS training report (q305):
    * [[graft.ext.Factorization.alsImplicitReport]] — the
    * Hu–Koren–Volinsky confidence-weighted form over the SAME
    * customer×part quantity fact as q294 (purchase counts ARE implicit
    * feedback — the production recommender signal): c = 1 + 40·q
    * confidences, unobserved pairs folded through the global factor
    * Gram, per-(round, segment) weighted RMSE + background term. */
  def alsImplicitTrainingReport(spark: SparkSession, dir: String): DataFrame = {
    val ratings = quantityRatings(spark, dir)
    val segments = Tables.customer(spark, dir)
      .select(col("c_custkey").as("u"), col("c_mktsegment").as("seg"))
    graft.ext.Factorization.alsImplicitReport(ratings, "u", "i",
      segments, "seg")
  }

  /** Borůvka maximum-spanning-forest trajectory (q299):
    * [[graft.operators.Graph.boruvkaForest]] over the support-weighted
    * co-purchase edges (shared staged relation with q142/q223/…) — the
    * co-purchase BACKBONE: per round, components before/after,
    * cross-component edge census, edges and support volume added, and
    * the cumulative forest — the distributed-MST primitive the graph
    * tier lacked, with its convergence trajectory oracle-checked. */
  def copurchaseSpanningForest(spark: SparkSession, dir: String,
                               minPairSupport: Long = 2): DataFrame =
    graft.operators.Graph.boruvkaForest(
      supportWeightedEdges(spark, dir, minPairSupport))

  /** k-truss peeling trajectory (q301):
    * [[graft.operators.Graph.ktrussTrajectory]] at k=4 over the
    * support-≥2 co-purchase edges (same staged relation as
    * q142/q223/q299) — the triangle-cohesion core one level above
    * coreness: per round, edges before, triangle census, edges dropped
    * below support 2, survivors, and the convergence flag. */
  def copurchaseKTruss(spark: SparkSession, dir: String,
                       minPairSupport: Long = 2): DataFrame =
    graft.operators.Graph.ktrussTrajectory(
      supportEdges(spark, dir, minPairSupport))

  /** Degree assortativity of the repeat co-purchase graph (q253):
    * [[graft.operators.Graph.degreeAssortativity]] over the same
    * support-≥2 edge list as q223 — one signed number for "do
    * frequently co-bought hub parts cluster with other hubs"; the
    * mixing readout beside the census (q142) and coreness (q223). */
  def copurchaseAssortativity(spark: SparkSession, dir: String,
                              minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.degreeAssortativity(edges)
  }

  /** Label-propagation communities of the repeat co-purchase graph
    * (q263): [[graft.operators.Graph.lpaCommunities]] over the same
    * support-≥2 edge list as q223/q253 — 4 synchronous rounds, top-20
    * communities with Newman modularity as the partition certificate;
    * the community readout the graph feature tier (coreness, lcc,
    * assortativity) was missing. */
  def copurchaseCommunities(spark: SparkSession, dir: String,
                            minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.lpaCommunities(edges)
  }

  /** LPA community conductance (q279):
    * [[graft.operators.Graph.lpaConductance]] over the same support-≥2
    * edge list — per-community cut ratio beside q263's global
    * modularity; the two reports consume IDENTICAL label assignments
    * (shared loop, spec-pinned). */
  def copurchaseConductance(spark: SparkSession, dir: String,
                            minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.lpaConductance(edges)
  }

  /** Sampled betweenness centrality of the repeat co-purchase graph
    * (q274): [[graft.operators.Graph.sampledBetweenness]] over the same
    * support-≥2 edge list as q223/q253/q263 — Brandes dependency
    * accumulation from the 4 lowest-id sources, depth ≤ 6, top-20
    * brokers; the shortest-path centrality beside PageRank (influence),
    * coreness (cohesion) and LPA (community). */
  def copurchaseBetweenness(spark: SparkSession, dir: String,
                            minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.sampledBetweenness(edges)
  }

  /** Per-node local clustering coefficients of the repeat co-purchase
    * graph (q229) — the node-level graph feature that pairs with q223's
    * coreness in a feature table: lcc separates community members
    * (closed neighborhoods) from bridges (open ones), which q142's
    * single global coefficient averages away. Same support-≥2 edge
    * prune as q223 (signal edges, sublinear in the fact), then
    * [[graft.operators.Graph.localClustering]] — the degree-oriented
    * census emitting each triangle's three members to a node-keyed
    * count; exact floor-ppm coefficients. */
  def copurchaseLcc(spark: SparkSession, dir: String,
                    minPairSupport: Long = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minPairSupport)
    graft.operators.Graph.localClustering(edges)
      .select(col("node").cast("long").as("part"), col("degree"),
        col("n_triangles"), col("lcc_ppm"))
      .orderBy("part")
  }

  /** HITS hubs and authorities over the customer→part purchase
    * bipartite graph (q264): [[graft.operators.Graph.hits]] on distinct
    * (customer, part) purchase edges — "which parts do the heaviest
    * cross-category buyers concentrate on" (authorities) and "which
    * customers buy the authoritative parts" (hubs); the prestige pair
    * beside q140's PageRank. The edge build is one orderkey-keyed join
    * of two fact projections + a distinct — sublinear output in the
    * fact (bounded by |customers|·basket diversity). */
  def purchaseHits(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("c")),
        Seq("okey"))
      .select(col("c"), col("p")).distinct()
    graft.operators.Graph.hits(edges)
  }
}
