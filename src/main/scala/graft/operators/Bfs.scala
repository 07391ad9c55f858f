package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Multi-source breadth-first hop distances over an undirected edge
  * list — the reachability/shortest-path primitive behind "how far is
  * every account from a flagged seed", blast-radius analyses, and graph
  * feature engineering (hop-to-hub as a model feature).
  *
  * Pregel-style frontier expansion: level h joins the CURRENT frontier
  * (the nodes first reached at distance h) against the adjacency list
  * and anti-joins everything already visited, so each (seed, node) pair
  * is emitted exactly once, at its true shortest hop count. Distances
  * are exact BFS levels — no weights, no approximation.
  *
  * Scale shape: the adjacency list is staged once (both directions of
  * each canonical edge) and every level is one equi join keyed on the
  * frontier node plus one anti join keyed on (seed, node) — the same
  * keyed-iteration posture as [[ConnectedComponents]]; nothing
  * broadcasts by assumption, nothing collects. Frontier and visited
  * sets are (seed, node) pairs — 16-byte rows, not payloads. The level
  * loop is driver-side but bounded by `maxHops` (a query parameter, not
  * data-dependent), with per-level `localCheckpoint` truncating the
  * lineage exactly like the components loop; the empty-frontier early
  * exit reads each level's row count, observed on the level's own
  * staging job ([[Stage.observed]]).
  */
object Bfs {

  /** Hop distance from every seed to every node within `maxHops`:
    * (`seed`, `node`, `dist`) rows, dist 0 = the seed itself. `edges`
    * must be a distinct undirected edge list (`u` < `v` columns — the
    * [[Graph.undirectedEdges]] contract); `seeds` one `seed` column. */
  def hopDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame =
    hopDistancesAdj(Graph.symStaged(edges)
      .select(col("u").as("src"), col("v").as("dst")), seeds, maxHops)

  /** [[hopDistances]] over a prebuilt symmetric adjacency (`src`, `dst`:
    * both directions of each canonical edge — a rename projection over
    * [[Graph.symStaged]], staged once per edge plan, so callers running
    * SEVERAL BFS passes over one graph share it). Each level's NEW
    * reach is checkpointed once and never re-materialized:
    * `visited` stays a union over the per-level checkpointed frames
    * (≤ maxHops materialized inputs — a shallow plan, no re-copy of
    * already-found rows per level, which halves the per-level job
    * count vs re-checkpointing the whole visited set). */
  def hopDistancesAdj(adj: DataFrame, seeds: DataFrame,
                      maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16, s"maxHops out of [0,16]: $maxHops")
    val (level0, n0) = Stage.observed(seeds.select(col("seed"),
      col("seed").as("node"), lit(0).as("dist")), "bfs:r0", count(lit(1)))
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    var reached = n0.getLong(0)
    var h = 0
    while (h < maxHops && reached > 0) {
      h += 1
      val visited = levels.reduce(_ unionAll _)
      val (next, n) = Stage.observed(levels.last.join(adj, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"))
        .distinct()
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h).as("dist")),
        s"bfs:r$h", count(lit(1)))
      levels += next
      reached = n.getLong(0)
    }
    levels.reduce(_ unionAll _)
      .select(col("seed"), col("node"), col("dist").cast("int").as("dist"))
  }

  /** BIT-PARALLEL batched eccentricity (Akiba–Iwata–Yoshida 2013's
    * BFS-with-bitmasks, the standard trick for ≤64-source sweeps): all
    * seeds ride ONE frontier whose payload is a 64-bit seed-set mask
    * per node, so each level joins the adjacency ONCE — |E| rows with
    * an 8-byte payload — instead of the per-seed edge expansion
    * [[hopDistancesAdj]] pays (|seeds|·|E| rows per level, which is
    * what made iFUB's 64-probe batch the dominant cost of q291).
    *
    * `seeds` is (`seed`, `off`) — `off` tags the caller's probe GROUPS
    * (iFUB's two fringe levels); the return is one (`off`, `pecc`) row
    * per group present, where pecc = max over the group's seeds of the
    * seed's (hop-capped) eccentricity. Only per-LEVEL gained-bit unions
    * leave the loop (one 1-row aggregate per level), so the readout
    * relation is ≤ maxHops+1 rows — per-seed distance tables are never
    * materialized. A group whose every seed-bit stops gaining nodes at
    * level e contributes exactly e; truncation at maxHops understates
    * (the iFUB caller's documented lb-only degradation). */
  def groupEccentricity(adj: DataFrame, seeds: DataFrame,
                        maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16, s"maxHops out of [0,16]: $maxHops")
    // Bit assignment: seeds ordered (off, seed) — ≤ 64 by contract (the
    // window is over the caller's limit-capped probe batches, bounded).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("off"), col("seed"))
    val (tagged, nSeeds) = Stage.observed(seeds
      .withColumn("bit_idx", row_number().over(w) - 1)
      .withColumn("bit", expr("shiftleft(CAST(1 AS BIGINT), bit_idx)"))
      .drop("bit_idx"), "groupEcc:tagged", count(lit(1)))
    require(nSeeds.getLong(0) <= 64, "groupEccentricity holds at most 64 seeds")
    val groupMasks = tagged.groupBy("off")
      .agg(expr("bit_or(bit)").as("gmask")).stage("groupEcc:groupMasks")
    val (state0, n0) = Stage.observed(
      tagged.select(col("seed").as("node"), col("bit").as("mask"))
        .groupBy("node").agg(expr("bit_or(mask)").as("mask")),
      "groupEcc:r0", count(lit(1)))
    var state = state0
    var frontier = state
    var reached = n0.getLong(0)
    // (dist, gained-bit union) — 1 lazy row per level over the level's
    // already-checkpointed gains (nothing re-materializes).
    val gains = scala.collection.mutable.ArrayBuffer(
      state.agg(expr("bit_or(mask)").as("gained"))
        .select(lit(0).as("dist"), col("gained")))
    var h = 0
    while (h < maxHops && reached > 0) {
      h += 1
      val pushed = frontier.join(adj, col("node") === col("src"))
        .groupBy(col("dst").as("node")).agg(expr("bit_or(mask)").as("pmask"))
      val (gained, n) = Stage.observed(pushed
        .join(state.withColumnRenamed("mask", "seen"), Seq("node"), "left")
        .select(col("node"),
          col("pmask").bitwiseAND(bitwise_not(coalesce(col("seen"), lit(0L))))
            .as("mask"))
        .filter(col("mask") =!= 0L), s"groupEcc:gained-r$h", count(lit(1)))
      state = state.unionAll(gained)
        .groupBy("node").agg(expr("bit_or(mask)").as("mask"))
        .stage(s"groupEcc:r$h")
      gains += gained.agg(coalesce(expr("bit_or(mask)"), lit(0L)).as("gained"))
        .select(lit(h).as("dist"), col("gained"))
      frontier = gained
      reached = n.getLong(0)
    }
    groupMasks.join(gains.reduce(_ unionAll _),
        col("gmask").bitwiseAND(col("gained")) =!= 0L, "left")
      .groupBy("off")
      .agg(coalesce(max("dist"), lit(0)).as("pecc"))
  }
}
