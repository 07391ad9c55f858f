package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Fixed-iteration damped PageRank over an edge list, in integer rank
  * units — the graph-centrality primitive behind dedup-cluster
  * authority scoring, crawl frontier prioritization, and the
  * "importance-weighted corpus" sampling weight.
  *
  * All arithmetic is exact 64-bit integer: each node starts at
  * `Scale` (10¹²) units, and one round sends every neighbor
  * ⌊85·r(u) / (100·deg(u))⌋ units plus the teleport constant
  * ⌊15·Scale/100⌋ — per-edge floor division, so partial-aggregation
  * order can never change a sum (the q116 co-purchase idiom,
  * `graft.queries.GraphAnalytics.copurchaseRank`). Floors strictly lose
  * mass, so ranks are bounded by the initial total and never overflow
  * while `nodes·Scale·85 < 2⁶³` (≈ 10⁵ nodes at full concentration,
  * far more under any realistic spread; beyond that, run with a
  * smaller `Scale`).
  *
  * Scale shape: the edge list is staged once (`localCheckpoint` — it
  * is read `iters`+1 times), the degree table is one grouped count,
  * and every iteration is exactly one join + one keyed aggregation —
  * both shuffles keyed on the node id, no driver-side state, no
  * global windows. Iterations are a fixed small constant (the caller
  * picks convergence depth), so the lineage stays bounded.
  */
object PageRank {

  val Scale = 1000000000000L

  /** Ranks after `iters` damped rounds over `edges` (columns `u`, `v`:
    * LONG node ids; list one row per direction for an undirected
    * graph). Returns (node, degree, rank_units) for every node with at
    * least one outgoing edge.
    *
    * INPUT CONTRACT: `edges` must be a STAGED (checkpointed or
    * otherwise cheap-to-rescan) relation — it is read twice here (the
    * degree count and the `ed` build), and this method deliberately
    * does NOT checkpoint it again (both registered callers pass
    * StageCache'd edge lists; an internal checkpoint re-materialized
    * 2|E| rows per query per pass). A caller with a raw expensive plan
    * must `localCheckpoint()` it first or pay double evaluation. */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // e is read twice (degree count, ed build) and both registered
    // callers pass ALREADY-STAGED edge relations (q140 suppCustEdges,
    // q225 partPairEdges) — a second checkpoint here materialized 2|E|
    // rows per query per pass for nothing; ed below stays staged (it is
    // the per-round relation).
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    // Stage the degree-annotated edge list ONCE: each iteration is then
    // a single u-keyed join + a single v-keyed aggregation, not a
    // second degree join per round. (deg is also reused for the final
    // report and the shared shuffle output feeds both consumers.)
    val ed = e.join(deg, Seq("u")).stage("pageRank:edges")
    var r = deg.select(col("u"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      // Sum contributions INTO each node, then left-join back onto the
      // out-degree node set: on a directed graph a source node (out-edges,
      // no in-edges) receives nothing, but it must keep its row and its
      // teleport mass — an inner groupBy-only round would silently drop
      // it (and its outgoing mass) from every later iteration.
      val contrib = ed.join(r, Seq("u"))
        .select(col("v"), expr("r * 85 div (100 * deg)").as("c"))
        .groupBy(col("v").as("u"))
        .agg(sum(col("c")).as("cs"))
      r = deg.select("u").join(contrib, Seq("u"), "left_outer")
        .select(col("u"),
          (lit(15L * Scale / 100L) + coalesce(col("cs"), lit(0L))).as("r"))
    }
    deg.join(r, Seq("u")).select(col("u").as("node"), col("deg").as("degree"),
      col("r").as("rank_units"))
  }

  /** PERSONALIZED PageRank: the teleport mass lands only on the `seeds`
    * set, so rank measures proximity to the seeds rather than global
    * centrality — the "related items to THESE items" primitive behind
    * query-biased recommendations and seed-expanded corpus sampling.
    * Same exact-integer contract as [[ranks]] (per-edge floor division,
    * teleport ⌊15·Scale/100⌋ — but only for seed rows; non-seeds start
    * at 0 and accrue only flowed mass). Fixed `iters` rounds; each is
    * one u-keyed join + one v-keyed aggregation over the staged
    * degree-annotated edges, plus the node-keyed teleport join against
    * the staged seed-flag relation — no new shuffle shapes vs [[ranks]].
    * Returns (node, degree, is_seed, rank_units) for every node with an
    * outgoing edge.
    *
    * INPUT CONTRACT: as in [[ranks]], `edges` must already be staged —
    * it is read twice and not checkpointed here. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
                        iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")) // read 2×; callers pass staged edges
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, Seq("u")).stage("ppr:edges")
    val base = deg.select("u")
      .join(seeds.select(col("node").cast("long").as("u")).distinct()
        .withColumn("s", lit(1L)), Seq("u"), "left_outer")
      .select(col("u"), coalesce(col("s"), lit(0L)).as("is_seed"))
      .stage("ppr:base") // read every round for the teleport term
    var r = base.select(col("u"), (col("is_seed") * Scale).as("r"))
    for (i <- 1 to iters) {
      val contrib = ed.join(r, Seq("u"))
        .select(col("v"), expr("r * 85 div (100 * deg)").as("c"))
        .groupBy(col("v").as("u"))
        .agg(sum(col("c")).as("cs"))
      r = base.join(contrib, Seq("u"), "left_outer")
        .select(col("u"),
          (col("is_seed") * lit(15L * Scale / 100L) +
            coalesce(col("cs"), lit(0L))).as("r"))
      // Cut the evolving rank relation's lineage every 3 rounds (the
      // corenessHIndex cadence): each round re-chains a join+agg onto
      // r's plan, so a high-iters caller would otherwise hit
      // plan-growth/analysis blowup even though each round's work is
      // constant. base/ed are already checkpointed once above.
      if (i % 3 == 0 && i < iters) r = r.stage(s"ppr:r$i")
    }
    deg.join(base, Seq("u")).join(r, Seq("u"))
      .select(col("u").as("node"), col("deg").as("degree"),
        col("is_seed").cast("int").as("is_seed"), col("r").as("rank_units"))
  }
}
