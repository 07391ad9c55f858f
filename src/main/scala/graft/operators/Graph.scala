package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Distributed triangle counting over an undirected edge list — the
  * graph-shape statistic (closed wedges / clustering coefficient) that
  * co-occurrence analyses reach for one step above pairwise counts.
  *
  * The naive plan — three-way self-join of the raw edge list — explodes
  * on high-degree nodes: a hub with degree d contributes d² wedge rows
  * before the closing-edge probe. The standard fix (Suri–Vassilvitskii's
  * MR triangle counting; also Schank–Wagner's sequential forward
  * algorithm) ORIENTS each edge from its lower-ranked to its
  * higher-ranked endpoint under the total order (degree, id). Every
  * triangle {a,b,c} then has exactly ONE node with two outgoing edges
  * (its minimum under the order), so each triangle is generated once,
  * and the wedge stage is bounded by Σ outdeg(v)² = O(m^1.5) instead of
  * Σ deg(v)² — a hub's edges almost all point INTO it, so hubs generate
  * no quadratic work.
  *
  * Scale shape: degree computation is one map-side-combined aggregation
  * on the edge list; orientation is a projection; the wedge build and
  * the closing-edge probe are two equi shuffles keyed on node ids. No
  * broadcast assumption anywhere — every stage partitions by key.
  */
object Graph {

  /** The SYMMETRIC direction list (both directions of every canonical
    * `u` < `v` edge) of one edge relation, staged once per session —
    * [[graft.ext.StageCache]]-memoized on the edge plan because FOUR
    * registered families over the support-pruned co-purchase graph
    * (q223 coreness, q263/q279 LPA, q274 betweenness) each built and
    * checkpointed this identical 2|E|-row relation per suite pass; the
    * BFS family over the supplier↔customer graph (q188 hops, q285/q291
    * sweeps) reads it renamed to (src, dst). Column types pass through
    * untouched; consumers that need casts or names apply them as free
    * projections over the staged blocks. */
  private[operators] def symStaged(edgesIn: DataFrame): DataFrame =
    graft.ext.StageCache.getOrStage(
        graft.ext.StageCache.keyFor(edgesIn, "symadj")) {
      val e = edgesIn.select(col("u"), col("v"))
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .stage("symStaged:sym")
    }

  /** Canonicalize an edge list to distinct undirected edges (u < v,
    * self-loops dropped). Columns: `u`, `v`. */
  def undirectedEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** One-row global triangle report over a distinct undirected edge list
    * (`u` < `v` long columns): node/edge/wedge/triangle counts and the
    * global clustering coefficient 3·T / wedges in exact floored ppm.
    * Wedges = Σ C(deg v, 2) — the open-or-closed path-of-length-2 count
    * the coefficient normalizes by. */
  def triangleReport(edgesIn: DataFrame): DataFrame = {
    // Three stages re-read the edge list (degrees, wedge build, closing
    // probe); stage it once — the canonical list is (long, long) rows.
    val edges = edgesIn.stage("triangleReport:edges")
    val deg = edges.select(col("u").as("node")).unionAll(
        edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Rank = (deg, id); orient each edge toward its higher-ranked end.
    val ranked = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = ranked.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // (An r16 localCheckpoint of `oriented` — to stop the wedge
    // self-join's two sides re-deriving the degree joins — measured
    // NEUTRAL idle and SLOWER in-suite (q142 +1.5s, q229 +0.5s): the
    // eager materialization job costs more than the recompute it saves,
    // and AQE reuses the exchange at runtime. Reverted; finding kept.)
    // Wedges at the triangle's minimum node: two out-edges s→a, s→b.
    // The a<b guard (plain id order) emits each unordered out-pair once;
    // a<b also matches the canonical u<v closing-edge key directly.
    val e2 = oriented.select(col("s"), col("t").as("t2"))
    val candidates = oriented.join(e2, "s")
      .filter(col("t") < col("t2"))
      .select(col("t").as("u"), col("t2").as("v"))
    // (r17 NEGATIVE RESULT, measured: a wedge PRE-AGGREGATION —
    // groupBy(u,v).count before the closing semi join, sum(m) after —
    // was landed and REVERTED. In-suite at sf0.1 it took q142 from
    // 6.35 s to 12.85 s and q175 from 2.06 s to 3.43 s in BOTH bench
    // passes, and its ~10M-key hash-agg state pressured neighboring
    // queries' timings: at this graph's ~1.5:1 wedge:pair ratio the
    // dedup saves far fewer shuffle bytes than the aggregate's state
    // costs. The candidate shuffle already partial-aggregates nothing
    // — rows are near-unique — so §2.3 does not apply; the sampled
    // tier (q175) remains the documented 100 TB path.)
    val tri = candidates.join(edges, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    // Three one-row aggregates; broadcast-joined, never shuffled.
    degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0L))
          .otherwise(expr("(3 * n_triangles * 1000000) div n_wedges"))
          .as("clustering_ppm"))
  }

  /** PER-NODE triangle counts and local clustering coefficients — the
    * node-level readout of [[triangleReport]]'s global census, and the
    * graph FEATURE consumers actually join on (a node's local
    * clustering separates community members from bridges, which the
    * global coefficient averages away). Same degree-oriented pipeline
    * (each triangle generated exactly once at its minimum-rank node,
    * wedge work O(m^1.5)); the only addition is that each surviving
    * triangle (s, u, v) is exploded to its THREE member nodes before a
    * node-keyed count — 3 narrow rows per triangle, nothing quadratic.
    * lcc_ppm = ⌊2·t·10⁶ / (deg·(deg−1))⌋ exactly, 0 for deg < 2.
    * Output: one row per node (node, degree, n_triangles, lcc_ppm). */
  def localClustering(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.stage("localClustering:edges")
    val deg = edges.select(col("u").as("node")).unionAll(
        edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ranked = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = ranked.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val e2 = oriented.select(col("s"), col("t").as("t2"))
    val tris = oriented.join(e2, "s")
      .filter(col("t") < col("t2"))
      .select(col("s"), col("t").as("u"), col("t2").as("v"))
      .join(edges, Seq("u", "v"), "left_semi")
    val perNode = tris.select(col("s").as("node"))
      .unionAll(tris.select(col("u").as("node")))
      .unionAll(tris.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg").cast("long").as("degree"),
        coalesce(col("t"), lit(0L)).cast("long").as("n_triangles"),
        when(col("deg") < 2, lit(0L))
          .otherwise(expr(
            "2 * coalesce(t, 0) * 1000000 div (deg * (deg - 1))"))
          .cast("long").as("lcc_ppm"))
  }

  /** Edge-sampled approximate triangle census (Doulion, Tsourakakis et
    * al. KDD'09): keep each canonical edge iff a deterministic per-edge
    * hash gate lands below `pPpm` parts-per-million, run the SAME
    * degree-oriented exact census on the kept subgraph, and scale the
    * sampled count by (10⁶/pPpm)³ — each triangle survives with
    * probability p³, so T̂ = T_sampled/p³ is unbiased, with relative
    * error concentrating as O(1/√(T·p³)).
    *
    * This is the 100 TB companion to [[triangleReport]]: the exact
    * census's wedge volume Σ outdeg² = O(m^1.5) grows ~1000× at a 100×
    * edge scale-up, while sampling at p cuts wedge work by ~p² BEFORE
    * the quadratic stage (the gate is scan-side, ahead of every
    * shuffle). At p = 0.1 that is ~100× less wedge work for a few
    * percent typical error on graphs with ≥10⁵ triangles. Use exact for
    * correctness gates and small graphs; sampled when m is huge.
    *
    * The gate is a pure affine hash of the edge key (u·1000003 + v) —
    * deterministic across runs/engines (SQL-expressible, no RNG state),
    * stable under edge-list repartitioning, and independent of the
    * census math. Node ids must be non-negative and small enough that
    * u·1000003 + v does not overflow a long (ids < ~9·10¹² — any dense
    * surrogate id space qualifies).
    *
    * Output: total/sampled edge counts, the gate rate, the raw sampled
    * count, and `est_triangles` — the 1/p³-scaled estimate in exact
    * integer floor division (DECIMAL(38,0) intermediate, so pPpm as low
    * as 1 cannot overflow). */
  /** Fixed-round k-core peeling over a distinct undirected edge list
    * (`u` < `v`): each round drops every node whose CURRENT degree is
    * below `k` (with all its edges), exactly `rounds` times — the
    * Matula–Beck peeling that isolates the cohesive core a raw degree
    * cut can't (a node with 100 low-degree neighbors survives a degree
    * filter but not the core). Fixed-round semantics (rather than
    * run-to-convergence) keep the operator a pure function both engines
    * can restate — the census-style spec checks convergence separately.
    *
    * Scale shape: per round one map-side-combined degree aggregation
    * and two semi joins keyed on node ids — no broadcast assumption, no
    * driver data; `localCheckpoint` after each round cuts the 3-stage
    * lineage growth (the ConnectedComponents posture). Returns the
    * surviving nodes with their within-core degree.
    *
    * Endpoints must be non-null: an edge with a null `u` or `v` names no
    * node, so it is dropped before peeling (the anti-join peel below
    * could never remove it, since null never equals a dropped node). */
  def kCorePeel(edgesIn: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got $k, $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var cur = nonNullEdges(edgesIn).stage("kcore:r0")
    for (r <- 1 to rounds) {
      // Peel by ANTI-joining the DROP set (deg < k) rather than
      // semi-joining the keep set: every endpoint of `cur` has a degree
      // row by construction, so anti(drop) ≡ semi(keep) — but the drop
      // set is the small side (nodes actually peeling this round), so
      // both probes broadcast and the edge list is never shuffled
      // (guide §3.1); the keep-side semi joins shuffled it twice per
      // round.
      val drop = degrees(cur).filter(col("deg") < k).select("node")
      cur = cur
        .join(drop.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
        .join(drop.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
        .stage(s"kcore:r$r")
    }
    degrees(cur).select(col("node"), col("deg").cast("long").as("core_deg"))
  }

  private def nonNullEdges(e: DataFrame): DataFrame =
    e.filter(col("u").isNotNull && col("v").isNotNull)

  /** [[kCorePeel]] reported as its ROUND TRAJECTORY — one row per round
    * 0..`rounds` with surviving node/edge counts and the degree range —
    * the decomposition readout that stays meaningful (and provably
    * non-empty: round 0 always reports the input graph) even when the
    * chosen k collapses the core to nothing. Each round's statistics are
    * two small aggregations over that round's edge list; the rows unite
    * into one result without any driver data movement. Same non-null
    * endpoint contract as [[kCorePeel]]: null-endpoint edges are dropped
    * before round 0. */
  def kCorePeelTrajectory(edgesIn: DataFrame, k: Long,
                          rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got $k, $rounds")
    // One degree aggregation per round serves BOTH the round's stats
    // row (n_edges = Σdeg/2 — no separate edge count pass) and the next
    // round's keep filter; the node-scale degree table is materialized
    // once so neither consumer re-scans the edge list.
    def degrees(e: DataFrame, r: Int): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .stage(s"kcoreTrajectory:deg-r$r")
    var cur = nonNullEdges(edgesIn).stage("kcoreTrajectory:r0")
    var deg = degrees(cur, 0)
    // (An r16 Σdeg early-fixpoint cut — the q223 trick — was tried and
    // REVERTED here: the adaptive-k trajectory is still shrinking at
    // round 6 at every bench scale (sf0.1: 1,196,000 → 1,100,065 edges,
    // strictly decreasing), so the per-round 1-row check was pure
    // added overhead, measured +0.7s in-suite.)
    val stats = (0 to rounds).map { r =>
      if (r > 0) {
        // Anti-join the DROP set (deg < k) instead of semi-joining the
        // keep set: endpoints of `cur` all carry degree rows, so
        // anti(drop) ≡ semi(keep), and the drop side — the nodes
        // actually peeling this round, a shrinking sliver after round 1
        // — broadcasts, so the edge list is never shuffled per round
        // (guide §3.1; the keep-side form shuffled it twice per round).
        val drop = deg.filter(col("deg") < k).select("node")
        cur = cur
          .join(drop.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
          .join(drop.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
          .stage(s"kcoreTrajectory:r$r")
        deg = degrees(cur, r)
      }
      deg.agg(count(lit(1)).as("n_nodes"),
          coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"),
          coalesce(min(col("deg")), lit(0L)).cast("long").as("min_deg"),
          coalesce(max(col("deg")), lit(0L)).cast("long").as("max_deg"))
        .select(lit(r).as("round"), col("n_nodes").cast("long").as("n_nodes"),
          col("n_edges").cast("long").as("n_edges"),
          col("min_deg"), col("max_deg"))
    }
    stats.reduce(_ unionAll _).orderBy("round")
  }

  /** Per-node CORENESS by the h-index iteration (Lü, Zhou, Zhang,
    * Stanley, "The H-index of a network node", 2016): start every node
    * at its degree and repeatedly replace each node's value with the
    * h-index of its neighbors' values —
    *
    *   c₀(v) = deg(v);   c_{t+1}(v) = H({c_t(u) : u ∈ N(v)})
    *
    * where H(S) = max h such that ≥ h elements of S are ≥ h. The
    * sequence is monotone non-increasing per node and its fixpoint is
    * exactly the coreness (the paper's theorem) — this is the full
    * Matula–Beck decomposition, every node's core number in one run,
    * where [[kCorePeel]] answers only a single fixed k.
    *
    * FIXED-ROUND semantics (the q202 contract): both engines run
    * exactly `rounds` iterations, so the operator is a pure function an
    * oracle restates round for round; `converged` reports whether the
    * last round changed ANY node — and because round t+1 depends only
    * on round t's values, "no node changed" certifies a true fixpoint,
    * i.e. converged=1 means the output IS the coreness, not an upper
    * bound. (The tested co-purchase graphs reach fixpoint in ≤ 21
    * rounds; the default 24 leaves margin, and a graph that needed more
    * would flag converged=0 identically on both engines.)
    *
    * Scale shape: the symmetric edge list stages once; each round is
    * one node-keyed equi join (values onto edge endpoints), one
    * node-partitioned window (rank neighbor values descending — the
    * h-index is max(min(rank, value)), invariant to tie order since it
    * depends only on the value multiset), and one node-keyed max
    * aggregation. Nothing broadcasts by assumption, per-round state is
    * |V| rows, lineage is cut every 3 rounds — the PageRank posture. */
  def corenessHIndex(edgesIn: DataFrame, rounds: Int = 24): DataFrame = {
    require(rounds >= 1, s"need rounds>=1; got $rounds")
    // Shared staged symmetric adjacency (see [[symStaged]]): the
    // per-query e + sym checkpoints this replaced re-materialized
    // 3|E| rows per suite pass that q263/q279/q274 had already staged.
    val sym = symStaged(edgesIn)
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).cast("long").as("c"))
      .stage("corenessHIndex:r0")
    var c = deg
    var prev = deg
    // Early-fixpoint cut (values IDENTICAL to the full unroll): the
    // h-index sequence is monotone non-increasing per node (Lü et al.'s
    // lemma), so Σc strictly decreases until the fixpoint and an
    // UNCHANGED Σc across a 3-round checkpoint block certifies that no
    // node changed (all deltas ≤ 0 summing to 0 ⇒ every delta 0) — every
    // remaining round is provably a no-op and c/prev/converged are
    // exactly what running them would produce. Σc is observed on the
    // block's own staging job; every block observes it, since the t=3
    // sum is the baseline that lets t=6 exit.
    var lastSum = -1L
    var done = false
    for (t <- 1 to rounds if !done) {
      prev = c
      val nbr = sym
        .join(c.select(col("node").as("v"), col("c").as("nc")), Seq("v"))
        .select(col("u").as("node"), col("nc"))
      val wr = Window.partitionBy("node").orderBy(col("nc").desc)
      c = nbr.withColumn("rk", row_number().over(wr).cast("long"))
        .groupBy("node").agg(max(least(col("rk"), col("nc"))).as("c"))
      if (t % 3 == 0 || t == rounds) {
        // Σc ≤ Σ deg = 2|E|: exact in LONG; an empty graph sums to 0.
        val (staged, obs) = Stage.observed(c, s"corenessHIndex:r$t",
          coalesce(sum(col("c")), lit(0L)))
        c = staged
        done = obs.getLong(0) == lastSum
        lastSum = obs.getLong(0)
      }
    }
    // One scalar certifies the fixpoint for the whole output (broadcast
    // 1-row cross): n_changed = 0 ⟺ round `rounds` was a no-op.
    val changed = c.join(prev.select(col("node"), col("c").as("c_prev")),
        Seq("node"))
      .agg(sum(when(col("c") =!= col("c_prev"), 1L).otherwise(0L))
        .as("n_changed"))
    c.join(deg.select(col("node"), col("c").as("degree")), Seq("node"))
      .crossJoin(broadcast(changed))
      .select(col("node"), col("degree"),
        col("c").cast("long").as("coreness"),
        when(col("n_changed") === 0, 1).otherwise(0).as("converged"))
  }

  def triangleReportSampled(edgesIn: DataFrame,
                            pPpm: Long = 250000): DataFrame = {
    require(pPpm >= 1 && pPpm <= 1000000, s"pPpm out of (0,10^6]: $pPpm")
    val edges = edgesIn.stage("triangleReportSampled:edges")
    val total = edges.agg(count(lit(1)).as("n_edges_total"))
    val sampled = edges.filter(
      graft.ext.Sampling.ppmHash(col("u") * lit(1000003L) + col("v"))
        < lit(pPpm))
    val p3 = java.math.BigInteger.valueOf(pPpm).pow(3)
    triangleReport(sampled).crossJoin(broadcast(total))
      .select(col("n_edges_total"),
        col("n_edges").as("n_edges_sampled"),
        lit(pPpm).as("p_ppm"),
        col("n_triangles").as("n_triangles_sampled"),
        expr(s"CAST((CAST(n_triangles AS DECIMAL(38,0)) * " +
          s"1000000000000000000) DIV $p3 AS BIGINT)").as("est_triangles"))
  }

  /** ADAMIC–ADAR LINK PREDICTION (q257) over a distinct undirected
    * edge list: score each NON-adjacent pair (a, b) by
    * Σ_z 1/ln(deg z) over common neighbors z — the classic
    * link-prediction baseline (Adamic–Adar 2003; Liben-Nowell &
    * Kleinberg's survey), "which parts will be co-bought next".
    * Weights quantize once per distinct degree to round-e6
    * (round(10⁶/ln d) — the idf idiom), so pair scores are exact
    * integer sums and the top-k is reproducible.
    *
    * Candidate generation is the wedge enumeration centered at the
    * common neighbor, which is inherently Σ deg(z)² — so hubs are
    * CAPPED: only centers with 2 ≤ deg ≤ `maxDeg` generate pairs (a
    * deg-1 center has no pair; ln 1 = 0 would also blow up the
    * weight). The cap is the df-cap idea from the dedup family:
    * bounded per-center work (≤ maxDeg² pairs), and the excluded hubs
    * are precisely the centers AA down-weights hardest (1/ln d → 0),
    * so the ranking loses almost nothing — stated, not hidden.
    * Already-adjacent pairs are anti-joined out. Output: top-`k`
    * predicted links by (score desc, a, b) with the supporting
    * common-neighbor count.
    *
    * Scale shape: one degree count, one center-keyed self-join bounded
    * by the cap, one pair-keyed sum, an anti join on the edge list,
    * and a TakeOrdered top-k — never a global sort. */
  def adamicAdar(edgesIn: DataFrame, k: Int = 25,
                 maxDeg: Long = 64L): DataFrame = {
    val e = edgesIn.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .stage("adamicAdar:e") // read by degrees + adjacency + anti join
    val dir = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = dir.groupBy(col("u").as("z")).agg(count(lit(1)).as("d"))
    val centers = deg.filter(col("d").between(2, maxDeg))
      .withColumn("w_e6", round(lit(1e6) / log(col("d").cast("double")), 0)
        .cast("long"))
    val adj = dir.select(col("u").as("z"), col("v").as("nb"))
      .join(centers, Seq("z"))
    val pairs = adj.select(col("z"), col("nb").as("a"), col("w_e6"))
      .join(adj.select(col("z"), col("nb").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = pairs
      .join(e.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .groupBy("a", "b")
      .agg(sum("w_e6").as("aa_e6"), count(lit(1)).as("n_common"))
    scored.select(col("a"), col("b"),
        col("aa_e6").cast("long").as("aa_e6"),
        col("n_common").cast("long").as("n_common"))
      .orderBy(desc("aa_e6"), col("a"), col("b"))
      .limit(k)
  }

  /** DEGREE ASSORTATIVITY (q253, Newman 2002) over a distinct
    * undirected edge list (`u` < `v`): the Pearson correlation of
    * endpoint degrees across the DIRECTED edge set (each undirected
    * edge counted both ways — the standard convention, which also makes
    * Σx = Σy by symmetry), answering "do hubs attach to hubs (r > 0) or
    * to leaves (r < 0)?" — the one-number mixing readout beside the
    * census (q142) and coreness (q223). All five sufficient statistics
    * accumulate as exact DECIMAL(38,0) integers (degree products are
    * corpus-sized sums — the silhouette idiom); the single transcendental
    * step (the sqrt in Pearson's denominator) runs once on the driver's
    * one-row relation over doubles cast from identical integers, so
    * r quantizes to the same e6 value on both engines. Degenerate
    * graphs (no degree variance) report r = 0 with `defined` = 0
    * rather than NaN.
    *
    * Scale shape: one node-keyed degree count, two id-keyed joins to
    * attach endpoint degrees, one global aggregation of five integer
    * sums — nothing pairwise beyond the edge list itself. */
  def degreeAssortativity(edgesIn: DataFrame): DataFrame = {
    val e = edgesIn.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .stage("degreeAssortativity:e") // read by degree count + both direction legs
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .stage("degreeAssortativity:deg") // read by node count + both endpoint joins
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max("d").as("max_degree"))
    val dir = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val s = dir
      .join(deg.select(col("n").as("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("m2"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum(col("dy").cast("decimal(38,0)")).as("sy"),
        sum(col("dx").cast("decimal(38,0)") * col("dy")).as("sxy"),
        sum(col("dx").cast("decimal(38,0)") * col("dx")).as("sxx"),
        sum(col("dy").cast("decimal(38,0)") * col("dy")).as("syy"))
    s.crossJoin(broadcast(nodes))
      .withColumn("num", expr("m2 * sxy - sx * sy"))
      .withColumn("d1", expr("m2 * sxx - sx * sx"))
      .withColumn("d2", expr("m2 * syy - sy * sy"))
      .select(col("n_nodes").cast("long").as("n_nodes"),
        expr("m2 div 2").cast("long").as("n_edges"),
        col("max_degree").cast("long").as("max_degree"),
        when(col("d1") > 0 && col("d2") > 0,
          round(col("num").cast("double") /
            sqrt(col("d1").cast("double") * col("d2").cast("double")) * 1e6,
            0).cast("long"))
          .otherwise(0L).as("assortativity_e6"),
        when(col("d1") > 0 && col("d2") > 0, 1).otherwise(0).cast("int")
          .as("defined"))
  }

  /** LABEL-PROPAGATION COMMUNITY DETECTION with an exact MODULARITY
    * certificate (q263, Raghavan et al. 2007 / Newman 2004) over a
    * distinct undirected edge list (`u` < `v`) — the community tier the
    * graph family was missing beside PageRank (q140), coreness (q223),
    * the census (q142/q229), and assortativity (q253): "which parts
    * form co-purchase communities, and how modular is the partition?"
    *
    * FIXED-ROUND synchronous LPA (the q223/q239 contract): every node
    * starts labeled with its own id; each of exactly `rounds` rounds
    * every node simultaneously adopts the most frequent label among its
    * NEIGHBORS (ties broken by smallest label) — a pure function of the
    * previous round's labels, replayable round for round by an oracle,
    * immune to the asynchronous variant's update-order dependence.
    * `n_changed_last` (nodes whose label moved in the final round) is
    * the honesty scalar: 0 certifies a fixpoint of the synchronous map,
    * nonzero says the partition is still in flight (possible on
    * bipartite-ish oscillators — reported, not hidden).
    *
    * The partition is then scored with Newman's modularity
    *   Q = Σ_c (e_c/m − (D_c/2m)²)
    *     = Σ_c (4·m·e_c − D_c²) / (4m²)
    * computed as EXACT integers (DECIMAL(38,0) — D_c² is a node-scale
    * sum squared) up to the final one-row double rounding to e6 (the
    * assortativity idiom; numerator ≤ 4m², exact in a double through
    * m ≈ 3·10⁷ edges, far past any per-partition slice the report
    * would run on whole).
    *
    * Scale shape: per round one node-keyed equi join (labels onto the
    * symmetric edge list), one (node, label)-keyed count, and one
    * node-partitioned argmax window (bounded by degree — never
    * unpartitioned); lineage cut every round (each round chains
    * join+agg+window, the heaviest per-round plan in the family).
    * Modularity needs one label join on the edge list and two
    * label-keyed aggregations. Output: the `topK` communities by
    * (size desc, label) with per-community intra-edge and degree-sum
    * stats plus the global scalars broadcast onto every row. */
  def lpaCommunities(edgesIn: DataFrame, rounds: Int = 4,
                     topK: Int = 20): DataFrame = {
    require(rounds >= 1 && topK >= 1,
      s"need rounds>=1, topK>=1; got $rounds, $topK")
    val (e, sym, lab, prev) = lpaLoop(edgesIn, rounds)
    val changed = lab
      .join(prev.select(col("node"), col("lab").as("lab_prev")), Seq("node"))
      .agg(sum(when(col("lab") =!= col("lab_prev"), 1L).otherwise(0L))
        .as("n_changed_last"))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val members = lab.join(deg, Seq("node"))
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("deg").cast("decimal(38,0)")).as("dsum"))
    val intra = e
      .join(lab.select(col("node").as("u"), col("lab").as("lu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("lab").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lab")).agg(count(lit(1)).as("ec"))
    val m = e.agg(count(lit(1)).as("m"))
    val comm = members.join(intra, Seq("lab"), "left_outer")
      .select(col("lab"), col("n_nodes"), col("dsum"),
        coalesce(col("ec"), lit(0L)).as("ec"))
      .stage("lpaCommunities:comm") // |communities| rows; read by Q sum + top-k
    val q = comm.crossJoin(broadcast(m))
      .agg(sum(expr("CAST(4 AS DECIMAL(38,0)) * m * ec - dsum * dsum"))
        .as("qnum"), count(lit(1)).as("n_communities"))
    comm.crossJoin(broadcast(m)).crossJoin(broadcast(q))
      .crossJoin(broadcast(changed))
      .select(col("lab").as("community"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("ec").cast("long").as("intra_edges"),
        col("dsum").cast("long").as("deg_sum"),
        col("n_communities").cast("long").as("n_communities"),
        when(col("m") === 0, 0L).otherwise(
          round(col("qnum").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double"))
              * 1e6, 0).cast("long")).as("modularity_e6"),
        coalesce(col("n_changed_last"), lit(0L)).cast("long")
          .as("n_changed_last"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)
  }

  /** The q263 synchronous-LPA label loop, staged — (e, sym, labels,
    * prev-round labels); shared by the modularity report
    * ([[lpaCommunities]]) and the conductance report
    * ([[lpaConductance]]) so both consume IDENTICAL assignments.
    * [[graft.ext.StageCache]]-memoized on (edge plan, rounds): the two
    * registered consumers run the SAME 4-round loop, so the second one
    * (and bench pass 2) rides the staged labels instead of re-paying
    * rounds × (join + count + argmax window) from the edge list — the
    * doubleSweep/ifub memo discipline. A partially-dead cache re-runs
    * the loop at most once (the Bpe.stagedArtifacts idiom). */
  private[operators] def lpaLoop(edgesIn: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.ext.StageCache
    def key(part: String) = StageCache.keyFor(edgesIn, "lpa", rounds, part)
    // e: a free projection over the staged canonical edges (read once
    // per consumer leg); sym: the SHARED staged symmetric adjacency
    // ([[symStaged]] — one materialization serves q223/q263/q279/q274),
    // with the long cast a free projection over its blocks.
    val e = edgesIn.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val sym = symStaged(edgesIn).select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    lazy val looped: (DataFrame, DataFrame) = {
      val nodes = sym.select(col("u").as("node")).distinct()
      var lab = nodes.select(col("node"), col("node").as("lab"))
        .stage("lpa:r0") // round 0: also the staged `prev` when rounds=1
      var prev = lab
      for (t <- 1 to rounds) {
        prev = lab
        val votes = sym
          .join(lab.select(col("node").as("v"), col("lab")), Seq("v"))
          .groupBy(col("u").as("node"), col("lab"))
          .agg(count(lit(1)).as("c"))
        val wr = Window.partitionBy("node")
          .orderBy(col("c").desc, col("lab"))
        lab = votes.withColumn("rk", row_number().over(wr))
          .filter(col("rk") === 1).select(col("node"), col("lab"))
          .stage(s"lpa:r$t")
      }
      (lab, prev)
    }
    val lab = StageCache.getOrStage(key("lab"))(looped._1)
    val prev = StageCache.getOrStage(key("prev"))(looped._2)
    (e, sym, lab, prev)
  }

  /** COMMUNITY CONDUCTANCE (q279) — the per-community quality score
    * beside q263's global modularity (a partition can score a decent Q
    * while individual communities leak badly): for each q263 LPA
    * community C, φ(C) = cut(C) / min(vol(C), vol(V∖C)) — the fraction
    * of C's edge volume that escapes it; low φ = a well-separated
    * community, φ near 1 = a label accident. Exact integers throughout:
    * cut and volumes are edge counts (an inter-community edge
    * contributes to BOTH endpoint communities' cuts, the standard
    * convention), the ratio one floor division; a community spanning
    * the whole graph reports 0 (its complement volume is 0 —
    * conductance is undefined there, stated).
    *
    * Scale shape: reuses the q263 label loop verbatim (IDENTICAL
    * assignments, spec-pinned); conductance adds one degree rollup,
    * one edge-keyed label join filtered to crossing edges, and a
    * |communities|-row readout. */
  def lpaConductance(edgesIn: DataFrame, rounds: Int = 4,
                     topK: Int = 20): DataFrame = {
    require(rounds >= 1 && topK >= 1,
      s"need rounds>=1, topK>=1; got $rounds, $topK")
    val (e, sym, lab, _) = lpaLoop(edgesIn, rounds)
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val members = lab.join(deg, Seq("node"))
      .groupBy("lab")
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("deg").cast("decimal(38,0)")).as("vol"))
    val cut = e
      .join(lab.select(col("node").as("u"), col("lab").as("lu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("lab").as("lv")), Seq("v"))
      .filter(col("lu") =!= col("lv"))
      .select(explode(array(col("lu"), col("lv"))).as("lab"))
      .groupBy("lab").agg(count(lit(1)).as("cut"))
    val volTotal = sym.agg(count(lit(1)).as("vol_total")) // = 2m
    members.join(cut, Seq("lab"), "left").na.fill(0L, Seq("cut"))
      .crossJoin(broadcast(volTotal))
      .select(col("lab").as("community"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("vol").cast("long").as("volume"),
        col("cut").cast("long").as("cut_edges"),
        expr("""CASE WHEN least(vol, CAST(vol_total AS DECIMAL(38,0)) - vol)
          |       = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(CAST(cut AS DECIMAL(38,0)) * 1000000
          |  div least(vol, CAST(vol_total AS DECIMAL(38,0)) - vol)
          |  AS BIGINT) END""".stripMargin).as("conductance_ppm"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)
  }

  /** HITS hubs and authorities (q264, Kleinberg 1999) over a BIPARTITE
    * edge list (`c` hub side, `p` authority side — here customers and
    * the parts they buy): authorities are parts bought by strong hubs,
    * hubs are customers who buy strong authorities — the mutually-
    * recursive prestige pair that degree alone misses (a part bought
    * 50 times by random one-off buyers outranks on degree, but a part
    * bought by the heaviest cross-category buyers outranks on
    * authority). Complements PageRank (q140: endogenous random-walk
    * prestige) with the query-dependent hub/authority split.
    *
    * FIXED-ROUND integer contract (the q223/q239 posture): authority
    * scores start at 10⁶; each of exactly `rounds` rounds computes
    *   h(c) = Σ_{p∈N(c)} a(p),  rescaled to h'(c) = ⌊h·10⁶ / max h⌋,
    *   a(p) = Σ_{c∈N(p)} h'(c), rescaled to a'(p) = ⌊a·10⁶ / max a⌋
    * — ∞-norm normalization instead of the textbook L2 (whose sqrt no
    * integer contract survives; the fixpoint direction is the same
    * principal singular pair, scale differs only by a constant).
    * Integer contract: the round-1 sums accumulate DECIMAL(38,0)
    * seeds; later rounds sum LONG scores ≤ 10⁶ (exact to degree
    * ~9.2·10¹²), and the rescale product — the term that CAN overflow
    * at real-world skew — is forced through DECIMAL(38,0) (DuckDB's
    * HUGEINT twin). Scores are exact integers both engines reproduce
    * value-for-value.
    *
    * Scale shape: the edge list stages once; each round is two
    * edge-keyed equi joins + keyed sums and two broadcast 1-row max
    * scalars — no broadcast of data-sized relations, no window at all.
    * Output: the top-`topK` rows PER SIDE by (score desc, node) with
    * the node's degree — 2·topK rows total. */
  def hits(edgesIn: DataFrame, rounds: Int = 3, topK: Int = 10): DataFrame = {
    require(rounds >= 1 && topK >= 1,
      s"need rounds>=1, topK>=1; got $rounds, $topK")
    val e = edgesIn.select(col("c").cast("long").as("c"),
        col("p").cast("long").as("p"))
      .stage("hits:edges") // read 2× per round + both degree counts
    val Scale = "CAST(1000000 AS DECIMAL(38,0))"
    var a = e.select(col("p")).distinct()
      .select(col("p"), expr(Scale).as("a"))
    var h = e.select(col("c")).distinct()
      .select(col("c"), expr(Scale).as("h")) // overwritten round 1
    for (t <- 1 to rounds) {
      // Accumulation contract: round 1 sums DECIMAL(38,0) seeds; from
      // round 2 on `div` (IntegralDivide) has returned LONG, so the
      // sums run in LONG — exact while Σ_{neighbors} score ≤ 2⁶³
      // (scores ≤ 10⁶ ⇒ degree ≤ ~9.2·10¹², beyond any corpus). The
      // REALISTIC overflow was the rescale product h·10⁶ (LONG
      // overflows at degree > ~9.2·10⁶, reachable at extreme skew), so
      // that product is forced through DECIMAL(38,0) — exact like
      // DuckDB's HUGEINT — while the hot per-edge sums stay LONG
      // (an all-decimal variant measured +26% on the q264 floor).
      //
      // Each half-round's join+agg is checkpointed BEFORE anything
      // derives from it: the ∞-norm scalar, the rescale projection and
      // the next half-round all read the materialized node-scale rows.
      // (The r15 shape checkpointed the RESCALED relations every 2nd
      // round, AFTER the next half-round had already captured the
      // pre-checkpoint plan — so each eager checkpoint re-evaluated
      // the other side's whole join+agg chain; 2 rounds of that
      // re-computation per round was most of the q264 floor.)
      // The ∞-norm scalar is observed on each half-round's own staging
      // job (`Stage.observed`), not a separate 1-row aggregate. The
      // literal is rendered in plain digits (round 1's sums are
      // DECIMAL(38,0) scale 0, later rounds LONG), so the `div`
      // arithmetic is unchanged. Empty-graph guard: max over zero rows
      // observes null — any positive literal serves, the rescale
      // projects zero rows anyway.
      def mxLit(obs: Row): java.math.BigInteger =
        Option(obs.get(0)).map(x => new java.math.BigDecimal(x.toString).toBigInteger)
          .getOrElse(java.math.BigInteger.ONE)
      val (hr, hmx) = Stage.observed(e.join(a, Seq("p"))
          .groupBy("c").agg(sum(col("a")).as("h")),
        s"hits:h${2 * t - 1}", max(col("h"))) // read by the rescale + next half-round
      h = hr.select(col("c"),
        expr(s"CAST((CAST(h AS DECIMAL(38,0)) * 1000000) div " +
          s"CAST(${mxLit(hmx)} AS DECIMAL(38,0)) AS BIGINT)").as("h"))
      val (ar, amx) = Stage.observed(e.join(h, Seq("c"))
          .groupBy("p").agg(sum(col("h")).as("a")),
        s"hits:h${2 * t}", max(col("a")))
      a = ar.select(col("p"),
        expr(s"CAST((CAST(a AS DECIMAL(38,0)) * 1000000) div " +
          s"CAST(${mxLit(amx)} AS DECIMAL(38,0)) AS BIGINT)").as("a"))
    }
    val hubDeg = e.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    val authDeg = e.groupBy(col("p")).agg(count(lit(1)).as("deg"))
    val hubs = h.join(hubDeg, Seq("c"))
      .select(lit("hub").as("side"), col("c").as("node"),
        col("deg").cast("long").as("degree"),
        col("h").cast("long").as("score_e6"))
    val auths = a.join(authDeg, Seq("p"))
      .select(lit("auth").as("side"), col("p").as("node"),
        col("deg").cast("long").as("degree"),
        col("a").cast("long").as("score_e6"))
    // Final top-k per side: `side` has exactly 2 values over the
    // node-scale hubs∪auths union, so a partition-by-side rank window
    // would serialize each side into ONE task at corpus scale. The
    // salted grouped top-k is output-identical under the
    // (score_e6 desc, node) total order (node is unique per side) and
    // bounds per-task state to k·salts rows.
    Skew.saltedTopKPerGroup(hubs.unionAll(auths), Seq("side"),
        Seq(col("score_e6").desc, col("node")), topK, salts = 8)
      .drop("rank")
      .orderBy(col("side"), col("score_e6").desc, col("node"))
  }

  /** SAMPLED BETWEENNESS CENTRALITY (Brandes 2001's dependency
    * accumulation, source-sampled per Brandes–Pich 2007, depth-bounded
    * per Borgatti's k-betweenness) — the brokerage centrality the graph
    * family was missing beside degree (q140 PageRank), cohesion (q223
    * coreness) and mixing (q253): which nodes sit ON the shortest paths
    * between others. Exact all-pairs Brandes is O(n·m) — the sampled
    * estimator runs the two Brandes passes from `nSources` fixed
    * sources (the lowest node ids — deterministic, no RNG) and scales
    * by n/|S|; paths longer than `maxDepth` are not counted (stated —
    * the k-bounded variant; betweenness mass concentrates on short
    * paths in small-world graphs).
    *
    * Integer contract: forward pass path counts σ are EXACT
    * DECIMAL(38,0)/HUGEINT integers (σ(v) = Σ σ(pred), layer by
    * layer); the backward dependency δ(v) = Σ_w σv/σw·(1+δw) quantizes
    * each accumulation term once as ⌊σv·(10⁶+δw) / σw⌋ — all-positive
    * floor division, identical on both engines; the readout and the
    * n/(2·|S|)-scaled estimate (the 2 folds the undirected double
    * count) are floor divisions of those integers.
    *
    * Scale shape: ALL sources advance in one batched state (src, node,
    * dist, σ) — per forward round one edge-keyed join + (src,node)
    * aggregation + anti join against the visited set, per backward
    * round one edge-keyed join against the next layer; total work
    * O(|S|·m), the Brandes bound. Every round's layer is checkpointed
    * (lineage cut, the q223 posture). Output: top-`topK` nodes by
    * accumulated dependency. */
  def sampledBetweenness(edgesIn: DataFrame, nSources: Int = 4,
                         maxDepth: Int = 6, topK: Int = 20): DataFrame = {
    require(nSources >= 1 && maxDepth >= 1 && topK >= 1,
      s"need nSources>=1, maxDepth>=1, topK>=1")
    // Shared staged symmetric adjacency (read every forward + backward
    // round); the long cast is a free projection over the staged blocks.
    val sym = symStaged(edgesIn).select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val sources = sym.select(col("u").as("src")).distinct()
      .orderBy("src").limit(nSources).stage("betweenness:sources")
    // ---- forward: batched BFS with exact path counting ----
    var layers = Vector(sources
      .select(col("src"), col("src").as("node"),
        expr("CAST(1 AS DECIMAL(38,0))").as("sigma"))
      .stage("betweenness:r0"))
    // `visited` stays a lazy UNION over the per-layer checkpointed
    // frames (the Bfs.hopDistancesAdj posture): re-checkpointing the
    // whole visited set every round — the pre-r17 shape — re-materialized
    // O(rounds·|reach|) already-staged rows per round for nothing.
    def visited: DataFrame =
      layers.map(_.select("src", "node")).reduce(_ unionAll _)
    // Early-fixpoint cut (output-identical to the fixed unroll): a BFS
    // frontier once empty stays empty, so every deeper layer is an
    // empty relation contributing zero rows to `all` below, and every
    // backward round over it is a no-op — skipping both computes the
    // same integers. The layer's row count is observed on its staging.
    var exhausted = false
    for (t <- 1 to maxDepth if !exhausted) {
      val (expand, n) = Stage.observed(layers.last
        .join(sym.select(col("u").as("node"), col("v").as("nxt")),
          Seq("node"))
        .groupBy(col("src"), col("nxt").as("node"))
        .agg(sum("sigma").as("sigma"))
        .join(visited, Seq("src", "node"), "left_anti"),
        s"betweenness:r$t", count(lit(1)))
      if (n.getLong(0) == 0) exhausted = true
      else layers = layers :+ expand
    }
    val depth = layers.size - 1
    // ---- backward: dependency accumulation, deepest layer first ----
    var deltas = Vector(layers(depth)
      .withColumn("delta", expr("CAST(0 AS DECIMAL(38,0))")))
    for (t <- (depth - 1) to 0 by -1) {
      val succ = deltas.head
        .select(col("src"), col("node").as("w"),
          col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = layers(t)
        .join(sym.select(col("u").as("node"), col("v").as("w")), Seq("node"))
        .join(succ, Seq("src", "w"))
        .withColumn("term",
          expr("CAST((sigma * (1000000 + dw)) div sw AS DECIMAL(38,0))"))
        .groupBy("src", "node").agg(sum("term").as("dsum"))
      val layer = layers(t).join(contrib, Seq("src", "node"), "left")
        .select(col("src"), col("node"), col("sigma"),
          coalesce(col("dsum"), expr("CAST(0 AS DECIMAL(38,0))"))
            .as("delta"))
        .stage(s"betweenness:back-r$t")
      deltas = layer +: deltas
    }
    val all = deltas.reduce(_ unionAll _)
    val bc = all.filter(col("node") =!= col("src"))
      .groupBy("node")
      .agg(sum("delta").as("delta_sum"),
        count(lit(1)).as("n_sources_reaching"))
    val nNodes = sym.select("u").distinct().agg(count(lit(1)).as("n_nodes"))
    val nSrc = sources.agg(count(lit(1)).as("n_src"))
    bc.crossJoin(broadcast(nNodes)).crossJoin(broadcast(nSrc))
      .select(col("node"),
        col("n_sources_reaching").cast("long").as("n_sources_reaching"),
        expr("CAST(delta_sum AS BIGINT)").as("delta_sum_e6"),
        expr("CAST(delta_sum * n_nodes div (2 * n_src) AS BIGINT)")
          .as("bc_est_e6"))
      .orderBy(col("delta_sum_e6").desc, col("node")).limit(topK)
  }

  /** The double-sweep staging SHARED by q285 and q291: staged edges,
    * symmetric adjacency, min-node seed, and the two sweep distance
    * tables with their farthest-node picks. [[graft.ext.StageCache]]-
    * memoized on (edge-plan semantic hash, maxHops) — q291's iFUB
    * certificate BEGINS with exactly q285's double sweep over exactly
    * the same graph, and before round 13 each registered query re-ran
    * both sweeps from the scan (the knnStages-trio sharing pattern the
    * round-12 verdict sanctioned, applied to the diameter pair). A
    * cache miss (evicted, unpersisted, or first touch) rebuilds
    * everything from `edgesIn`; Bench's retry loop invalidates first,
    * so floor measurements price the full standalone pipeline. */
  private def sweepStages(edgesIn: DataFrame, maxHops: Int):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame) = {
    import graft.ext.StageCache
    def key(part: String): String =
      StageCache.keyFor(edgesIn, "sweep", maxHops, part)
    // The adjacency is [[symStaged]] renamed to (src, dst), keyed on the
    // raw `edgesIn` plan so q188's hopDistances over the same graph hits
    // the same entry (the hop cap doesn't shape the adjacency). The
    // former per-family `edges` re-checkpoint is gone: both registered
    // callers pass the already-staged supplier↔customer edge list, and
    // the one remaining direct read (the u0 seed scan) is a projection
    // over its blocks.
    val edges = edgesIn
    val adj = symStaged(edgesIn).select(col("u").as("src"), col("v").as("dst"))
    val u0 = StageCache.getOrStage(key("u0")) {
      edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .agg(min("node").as("seed"))
        .stage("sweep:u0") // seed of sweep 1 + source column of its row
    }
    val d1 = StageCache.getOrStage(key("d1")) {
      Bfs.hopDistancesAdj(adj, u0, maxHops).select("node", "dist")
        .stage("sweep:d1")
    }
    val e1 = StageCache.getOrStage(key("e1")) {
      d1.orderBy(desc("dist"), col("node")).limit(1)
        .select(col("node").as("far1"), col("dist").as("ecc1"))
        .stage("sweep:e1") // sweep-2 seed + report rows + the bound
    }
    val d2 = StageCache.getOrStage(key("d2")) {
      Bfs.hopDistancesAdj(adj, e1.select(col("far1").as("seed")), maxHops)
        .select("node", "dist")
        .stage("sweep:d2")
    }
    val e2 = StageCache.getOrStage(key("e2")) {
      d2.orderBy(desc("dist"), col("node")).limit(1)
        .select(col("node").as("far2"), col("dist").as("ecc2"))
        .stage("sweep:e2")
    }
    (edges, adj, u0, d1, e1, d2, e2)
  }

  /** DOUBLE-SWEEP diameter lower bound (q285; Magnien–Latapy–Habib 2009,
    * the iFUB building block): BFS from the deterministic anchor (the
    * minimum node id) to its farthest reachable node v (ties smallest
    * id), then BFS from v — ecc(v) is the classic tight lower bound on
    * the graph diameter (exact on trees; within 1–2 on most real
    * graphs), and v is the standard starting point a full iFUB sweep
    * would iterate from. One row per sweep: source, farthest node,
    * eccentricity, nodes reached, an `exact` flag (1 iff the BFS
    * exhausted its frontier BEFORE the hop cap, so the eccentricity is
    * the true one and not a cap artifact — conservative: a frontier
    * dying exactly at the cap reports 0), and the shared
    * `diameter_lb` = max of the two eccentricities.
    *
    * Scale shape: two [[Bfs.hopDistances]] runs (per level one
    * adjacency equi join + one anti join, per-level localCheckpoint);
    * the farthest-node pick is a 1-row TakeOrdered fed back as the
    * second seed RELATION — no driver collect; the report assembles
    * from 1-row relations with seven bounded scalar crosses. */
  def doubleSweepDiameter(edgesIn: DataFrame, maxHops: Int = 6): DataFrame = {
    val (_, _, u0, d1, e1, d2, e2) = sweepStages(edgesIn, maxHops)
    val n1 = d1.agg(count(lit(1)).as("n_reached1"))
    val n2 = d2.agg(count(lit(1)).as("n_reached2"))
    val lb = e1.crossJoin(broadcast(e2))
      .select(greatest(col("ecc1"), col("ecc2")).as("diameter_lb"))
    val row1 = u0.crossJoin(broadcast(e1)).crossJoin(broadcast(n1))
      .crossJoin(broadcast(lb))
      .select(lit(1).cast("int").as("sweep"),
        col("seed").cast("long").as("source_node"),
        col("far1").cast("long").as("far_node"),
        col("ecc1").cast("int").as("ecc"),
        col("n_reached1").cast("long").as("n_reached"),
        when(col("ecc1") < maxHops, 1).otherwise(0).cast("int").as("exact"),
        col("diameter_lb").cast("int").as("diameter_lb"))
    val row2 = e1.crossJoin(broadcast(e2)).crossJoin(broadcast(n2))
      .crossJoin(broadcast(lb))
      .select(lit(2).cast("int").as("sweep"),
        col("far1").cast("long").as("source_node"),
        col("far2").cast("long").as("far_node"),
        col("ecc2").cast("int").as("ecc"),
        col("n_reached2").cast("long").as("n_reached"),
        when(col("ecc2") < maxHops, 1).otherwise(0).cast("int").as("exact"),
        col("diameter_lb").cast("int").as("diameter_lb"))
    row1.unionAll(row2).orderBy("sweep")
  }

  /** iFUB-STYLE DIAMETER CERTIFICATE (q291 — Crescenzi et al.'s
    * iterative Fringe Upper Bound, made deterministic and cap-bounded):
    * [[doubleSweepDiameter]]'s lb is only a LOWER bound; this refines a
    * matching UPPER bound so `certified = 1` means lb == ub == the true
    * diameter (of the component containing the minimum node — the q285
    * contract). Construction:
    *
    *  1. Double sweep: BFS from the min node (far1/ecc1), BFS from far1
    *     (far2/ecc2) — lb₀ = max(ecc1, ecc2).
    *  2. Root = the MIDPOINT of a shortest far1→far2 path: BFS from
    *     far2, then the smallest node with d_far1(x) + d_far2(x) = ecc2
    *     and |d_far1(x) − d_far2(x)| ≤ 1. BFS from the root gives its
    *     level structure; ub₀ = 2·ecc(root) (any path doubles through
    *     the root).
    *  3. TWO fixed fringe refinements (fixed-round semantics, the q202
    *     convention — both engines run exactly these, never
    *     to-convergence): for level i = ecc(root), then i−1, probe the
    *     `cap` smallest-id fringe nodes with one MULTI-SOURCE BFS;
    *     lb ← max(lb, probed eccentricities). iFUB's theorem — once
    *     every level > i−1 is FULLY processed, diameter ≤
    *     max(lb, 2(i−1)) — tightens ub only when no fringe so far
    *     overflowed the cap (`fringe_capped` reports the overflow
    *     honestly; a capped probe still soundly RAISES lb, it just
    *     cannot lower ub).
    *
    * Soundness under truncation: a probe BFS cut off at `maxHops`
    * understates an eccentricity, which only weakens lb (never falsely
    * certifies); the SWEEP/root BFSes must complete for the level
    * structure to be real, so `exact` = 1 iff all four stayed under
    * maxHops, and `certified` requires it.
    *
    * Scale shape: four single-source BFS + ONE bit-parallel batched
    * sweep for BOTH fringe probe sets ([[Bfs.groupEccentricity]] — all
    * ≤2·cap seeds ride one frontier as 64-bit masks, so probe cost per
    * level is |E| rows with an 8-byte payload, NOT |probes|·|E|) — all
    * five sweeps over ONE staged symmetric adjacency, per-level equi
    * joins, per-level localCheckpoint; every scalar crosses the plan as
    * a broadcast 1-row relation, nothing collects. Probe work is
    * cap-bounded BY CONSTRUCTION — on a 100 TB graph the cap is the
    * dial between certificate tightness and probe-sweep volume. */
  def ifubDiameter(edgesIn: DataFrame, maxHops: Int = 6,
                   cap: Int = 32): DataFrame = {
    // cap ≤ 32: the two fringe batches share one 64-bit bit-parallel
    // sweep ([[Bfs.groupEccentricity]]), 2·cap seed bits max.
    require(cap >= 1 && cap <= 32, s"need 1<=cap<=32; got $cap")
    // Sweeps 1+2 (and the staged edges/adjacency) are EXACTLY q285's
    // double sweep over exactly this graph — shared via [[sweepStages]]'
    // StageCache memo. The two certificate-side distance tables (d3 from
    // far2, dm from the midpoint root) are memoized in the same
    // key-space; the probe sweep and the certificate assembly always
    // run live.
    val (_, adj, _, _, e1, d2, e2) = sweepStages(edgesIn, maxHops)
    def ikey(part: String): String =
      graft.ext.StageCache.keyFor(edgesIn, "ifub", maxHops, part)
    val d3 = graft.ext.StageCache.getOrStage(ikey("d3")) {
      Bfs.hopDistancesAdj(adj, e2.select(col("far2").as("seed")), maxHops)
        .select(col("node"), col("dist").as("dist3"))
        .stage("ifub:d3")
    }
    val ecc3 = d3.agg(max("dist3").as("ecc3"))
    // Midpoint of a shortest far1→far2 path: on-path (distances sum to
    // ecc2) and balanced (sides differ by ≤ 1); smallest node id wins.
    val mid = d2.join(d3, Seq("node"))
      .join(broadcast(e2),
        col("dist") + col("dist3") === col("ecc2") &&
          abs(col("dist") - col("dist3")) <= 1)
      .orderBy("node").limit(1)
      .select(col("node").as("root"))
      .stage("ifub:mid")
    val dm = graft.ext.StageCache.getOrStage(ikey("dm")) {
      Bfs.hopDistancesAdj(adj, mid.select(col("root").as("seed")), maxHops)
        .select("node", "dist").stage("ifub:dm")
    }
    val eccm = dm.agg(max("dist").as("ecc_root")).stage("ifub:eccm")
    // Fringe at level ecc_root − off: size and the ≤cap smallest-id
    // probe batch. The two levels are disjoint (different dist), so
    // BOTH batches ride ONE multi-source BFS, split per level after.
    def fringeLeg(off: Int): (DataFrame, DataFrame) = {
      val fringe = dm.join(broadcast(eccm),
          col("dist") === col("ecc_root") - off)
        .select("node").stage(s"ifub:fringe$off")
      val nF = fringe.agg(count(lit(1)).as(s"n_fringe$off"))
      val probes = fringe.orderBy("node").limit(cap)
        .select(col("node").as("seed"), lit(off).as("off"))
      (nF, probes)
    }
    val (nF0, probes0) = fringeLeg(0)
    val (nF1, probes1) = fringeLeg(1)
    val probeEcc = Bfs.groupEccentricity(adj, probes0.unionAll(probes1),
        maxHops)
      .stage("ifub:probeEcc") // ≤2 rows; read by both per-level maxima
    val pmax0 = probeEcc.filter(col("off") === 0)
      .agg(coalesce(max("pecc"), lit(0)).as("pmax0"))
    val pmax1 = probeEcc.filter(col("off") === 1)
      .agg(coalesce(max("pecc"), lit(0)).as("pmax1"))
    val s = e1.crossJoin(broadcast(e2)).crossJoin(broadcast(ecc3))
      .crossJoin(broadcast(eccm)).crossJoin(broadcast(mid))
      .crossJoin(broadcast(nF0)).crossJoin(broadcast(pmax0))
      .crossJoin(broadcast(nF1)).crossJoin(broadcast(pmax1))
      .select(col("root"), col("ecc_root"),
        greatest(col("ecc1"), col("ecc2")).as("lb0"),
        (col("ecc_root") * 2).as("ub0"),
        (when(col("ecc1") < maxHops, 1).otherwise(0) *
          when(col("ecc2") < maxHops, 1).otherwise(0) *
          when(col("ecc3") < maxHops, 1).otherwise(0) *
          when(col("ecc_root") < maxHops, 1).otherwise(0)).as("exact"),
        col("n_fringe0"), col("pmax0"), col("n_fringe1"), col("pmax1"))
      .select(col("*"),
        greatest(col("lb0"), col("pmax0")).as("lb1"),
        (col("n_fringe0") <= cap).cast("int").as("full1"))
      .select(col("*"),
        when(col("full1") === 1,
          least(col("ub0"),
            greatest(col("lb1"), (col("ecc_root") - 1) * 2)))
          .otherwise(col("ub0")).as("ub1"))
      .select(col("*"),
        greatest(col("lb1"), col("pmax1")).as("lb2"),
        (col("full1") === 1 && col("n_fringe1") <= cap &&
          col("ecc_root") - 1 >= 0).cast("int").as("full2"))
      .select(col("*"),
        when(col("full2") === 1,
          least(col("ub1"),
            greatest(col("lb2"), (col("ecc_root") - 2) * 2)))
          .otherwise(col("ub1")).as("ub2"))
      .stage("ifub:bounds") // one scalar row; read by all three report legs
    def row(step: Int, level: org.apache.spark.sql.Column,
            nFr: org.apache.spark.sql.Column, pm: org.apache.spark.sql.Column,
            lb: org.apache.spark.sql.Column, ub: org.apache.spark.sql.Column,
            capped: org.apache.spark.sql.Column): DataFrame = s
      .select(lit(step).cast("int").as("step"),
        col("root").cast("long").as("root"),
        level.cast("int").as("level"),
        nFr.cast("long").as("n_fringe"),
        least(nFr, lit(cap)).cast("long").as("n_probed"),
        pm.cast("int").as("probe_ecc_max"),
        lb.cast("int").as("lb"), ub.cast("int").as("ub"),
        capped.cast("int").as("fringe_capped"),
        col("exact").cast("int").as("exact"),
        ((ub === lb).cast("int") * col("exact")).cast("int").as("certified"))
    row(0, col("ecc_root"), lit(0L), lit(0), col("lb0"), col("ub0"), lit(0))
      .unionAll(row(1, col("ecc_root"), col("n_fringe0"), col("pmax0"),
        col("lb1"), col("ub1"), lit(1) - col("full1")))
      .unionAll(row(2, col("ecc_root") - 1, col("n_fringe1"), col("pmax1"),
        col("lb2"), col("ub2"), lit(1) - col("full2")))
      .orderBy("step")
  }

  /** BORŮVKA spanning-forest rounds over a weighted undirected edge list
    * (u, v, s) — here as a MAXIMUM-spanning forest on the support weight
    * (the co-purchase BACKBONE: the strongest-association tree a
    * market-structure analysis keeps), which is Borůvka's algorithm
    * under the total edge order (s DESC, u, v). Borůvka is THE
    * distributed MST algorithm (1926; the GraphX/Pregel choice) because
    * every round is fully data-parallel: each component picks its best
    * incident edge (one keyed aggregation — no priority queue, no
    * sequential union–find), the picked edges merge components, and the
    * component count at least halves per completed merge — O(log V)
    * rounds total.
    *
    * Fixed-round + certificate contract (the q223/q236/q285 house
    * posture): `rounds` Borůvka rounds run; within each round the
    * selected edges' component graph is collapsed EXACTLY — min-label
    * propagation to fixpoint by [[ConnectedComponents.hashMin]] (a
    * silent partial merge is NOT acceptable here, because a split
    * label could re-select an edge INSIDE its true component next round
    * and the "forest" would quietly gain a cycle — the classic
    * bounded-pointer-jumping bug). Selection graphs are pseudo-forests
    * of components, so the fixpoint arrives in O(chain length) cheap
    * label-graph-sized hops. The output is
    * the per-round trajectory — components before, cross-component
    * edges, edges added, support volume added, components after,
    * cumulative forest size — so convergence (`n_cross_edges` → 0,
    * components → #connected-components, forest = V − #CC) is
    * oracle-checked, never asserted.
    *
    * Determinism: the (−s, u, v) struct order is total, so the selected
    * edge per component is unique on both engines; ties in weight break
    * by edge id. Scale shape per round: two label joins + one keyed
    * min_by aggregation + `mergeHops` neighbor-min joins over the
    * |components|-sized label graph — every relation is node- or
    * edge-keyed, no windows, no all-pairs, the per-round stats rows are
    * 1-row broadcast scalars, nothing collected. */
  def boruvkaForest(edgesIn: DataFrame, rounds: Int = 3,
                    mergeCap: Int = 30): DataFrame = {
    require(rounds >= 1 && rounds <= 6, s"rounds out of [1,6]: $rounds")
    val edges = edgesIn.select(col("u"), col("v"), col("s")).stage("boruvka:edges")
    val nodes = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node"))).distinct()
    var lbl = nodes.select(col("node"), col("node").as("l")).stage("boruvka:r0")
    var cumSel: DataFrame = null
    // Stats assembly: every per-round readout is ONE aggregate over a
    // tagged UNION of the round's relations — not five 1-row
    // crossJoin(broadcast) scalars, which at 3 rounds would stack 12+
    // nested-loop crosses into one plan (the suite-wide audit caps
    // legitimate scalar crosses at 8 per query).
    def tagged(df: DataFrame, tag: String,
               sv: org.apache.spark.sql.Column): DataFrame =
      df.select(lit(tag).as("t"), sv.cast("long").as("sv"))
    val rows = (1 to rounds).map { r =>
      val lblBefore = lbl
      val el = edges
        .join(lbl.select(col("node").as("u"), col("l").as("lu")), Seq("u"))
        .join(lbl.select(col("node").as("v"), col("l").as("lv")), Seq("v"))
        .filter(col("lu") =!= col("lv"))
        .stage(s"boruvka:el-r$r") // read by the census AND both selection sides
      val sel = el.select(col("lu").as("l"), col("u"), col("v"), col("s"))
        .unionAll(el.select(col("lv").as("l"), col("u"), col("v"), col("s")))
        .groupBy("l")
        .agg(min_by(struct(col("u"), col("v"), col("s")),
          struct(-col("s"), col("u"), col("v"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.s").as("s"))
        .distinct()
        .stage(s"boruvka:sel-r$r") // read by the label graph, stats, cumulative set
      // Plain union, no cross-round distinct/checkpoint: a selected
      // edge is collapsed INTO its component by this round's exact
      // merge (both endpoints take one label), so later rounds' lu≠lv
      // filter can never re-select it — within-round duplicates are
      // already removed by sel's own distinct, making the cumulative
      // set duplicate-free by construction. The pre-r17 shape paid a
      // forest-scale shuffle + re-materialization per round for a
      // distinct that provably removes nothing.
      cumSel = if (cumSel == null) sel else cumSel.unionAll(sel)
      // merge: hash-min over the selected edges' component graph
      val selLab = sel
        .join(lbl.select(col("node").as("u"), col("l").as("lu")), Seq("u"))
        .join(lbl.select(col("node").as("v"), col("l").as("lv")), Seq("v"))
        .select(col("lu"), col("lv"))
      val lg = selLab.select(col("lu").as("src"), col("lv").as("dst"))
        .unionAll(selLab.select(col("lv").as("src"), col("lu").as("dst")))
        .stage(s"boruvka:lg-r$r") // read by every hash-min hop
      val lmap = lbl.select(col("l")).distinct()
        .select(col("l").as("node"), col("l").as("label")).stage(s"boruvka:lmap-r$r")
      val (merged, changed) =
        ConnectedComponents.hashMin(lg, lmap, mergeCap, s"boruvka:hop-r${r}h")
      require(changed == 0,
        s"boruvka merge did not converge within $mergeCap hops (round $r)")
      lbl = lbl.join(merged.select(col("node").as("l"), col("label").as("m")), Seq("l"))
        .select(col("node"), col("m").as("l"))
        .stage(s"boruvka:r$r")
      // coalesce: an edgeless input aggregates an EMPTY union (one
      // all-NULL row) — a NULL long renders as pandas float64 in the
      // driver compare while the oracle's COUNT(*) stays 0.
      def cnt(tag: String) =
        coalesce(sum(when(col("t") === tag, 1L).otherwise(0L)), lit(0L))
      def sv(tag: String) =
        coalesce(sum(when(col("t") === tag, col("sv"))), lit(0L))
      tagged(lblBefore.select("l").distinct(), "before", lit(0L))
        .unionAll(tagged(el, "cross", lit(0L)))
        .unionAll(tagged(sel, "sel", col("s")))
        .unionAll(tagged(cumSel, "cum", col("s")))
        .unionAll(tagged(lbl.select("l").distinct(), "after", lit(0L)))
        .agg(cnt("before").as("n_components_before"),
          cnt("cross").as("n_cross_edges"),
          cnt("sel").as("n_edges_added"),
          sv("sel").as("support_added"),
          cnt("after").as("n_components_after"),
          cnt("cum").as("forest_edges_total"),
          sv("cum").as("forest_support_total"))
        .select(lit(r).cast("int").as("round"),
          col("n_components_before"), col("n_cross_edges"),
          col("n_edges_added"), col("support_added"),
          col("n_components_after"), col("forest_edges_total"),
          col("forest_support_total"))
    }
    rows.reduce(_ unionAll _).orderBy("round")
  }

  /** k-TRUSS peeling trajectory (Cohen 2008) — the triangle-based
    * cohesion core one level above k-core: the k-truss is the maximal
    * subgraph where EVERY edge sits in ≥ k−2 triangles, so it prunes
    * barely-attached edges that degree-based coreness keeps (a hub
    * spoke has high-degree endpoints but no triangles). Standard
    * peeling: compute per-edge triangle support, drop edges below
    * k−2, recompute on the survivors — support only falls as edges
    * leave, so the fixpoint is the truss.
    *
    * Fixed-round + trajectory contract (the q223/q299 posture):
    * `rounds` peels, each reporting edges before, triangle census
    * (Σ support / 3 — every triangle supports exactly 3 edges), edges
    * dropped, edges after, and `converged` (nothing dropped this
    * round). An unconverged trajectory is honest output, not an error.
    *
    * Scale shape: per-edge support rides the q142 degree-oriented
    * discipline — each edge pivots on its LOWER-(degree, id) endpoint,
    * so wedge generation is Σ min-deg = O(m^1.5) and a hub's spokes
    * never explode quadratically; the closing probe and the support
    * rollup are edge-keyed shuffles; per-round stats are one aggregate
    * over a tagged union (zero scalar crosses). */
  def ktrussTrajectory(edgesIn: DataFrame, k: Int = 4,
                       rounds: Int = 3): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // >= 1 only (no upper cap like boruvkaForest's merge loop needs):
    // each peel is one fixed-cost round and the fuzz proof runs the
    // trajectory to its brute fixpoint.
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val minSup = k - 2
    var cur = edgesIn.select(col("u"), col("v")).stage("ktruss:r0")
    def tagged(df: DataFrame, tag: String): DataFrame =
      df.select(lit(tag).as("t"), lit(0L).as("sv"))
    val rows = (1 to rounds).map { r =>
      val adj = cur.select(col("u").as("a"), col("v").as("b"))
        .unionAll(cur.select(col("v").as("a"), col("u").as("b")))
        .stage(s"ktruss:adj-r$r") // read by degrees, wedges, closing probe
      val deg = adj.groupBy("a").agg(count(lit(1)).as("deg"))
      // pivot each edge on its lower-(degree, id) endpoint
      val piv = cur
        .join(deg.select(col("a").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("a").as("v"), col("deg").as("dv")), Seq("v"))
        .select(col("u"), col("v"),
          when(struct(col("du"), col("u")) <= struct(col("dv"), col("v")),
            col("u")).otherwise(col("v")).as("p"),
          when(struct(col("du"), col("u")) <= struct(col("dv"), col("v")),
            col("v")).otherwise(col("u")).as("o"))
      val sup = piv
        .join(adj.select(col("a").as("p"), col("b").as("w")), Seq("p"))
        .filter(col("w") =!= col("o"))
        .join(adj.select(col("a").as("o"), col("b").as("w")), Seq("o", "w"),
          "left_semi")
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      val scored = cur.join(sup, Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("sup"))
        .stage(s"ktruss:scored-r$r") // read by the stats union AND the survivor cut
      val next = scored.filter(col("sup") >= minSup).select("u", "v")
        .stage(s"ktruss:r$r")
      val stats = tagged(cur, "before")
        .unionAll(scored.select(lit("supsum").as("t"), col("sup").as("sv")))
        .unionAll(tagged(next, "after"))
        // coalesce EVERY stat: a fully-peeled round aggregates an EMPTY
        // union (one all-NULL row), and a NULL long renders as pandas
        // float64 in the driver compare while the oracle's COUNT(*)
        // stays 0.
        .agg(coalesce(sum(when(col("t") === "before", 1L).otherwise(0L)),
            lit(0L)).as("n_edges_before"),
          coalesce(sum(when(col("t") === "supsum", col("sv"))), lit(0L))
            .as("supsum"),
          coalesce(sum(when(col("t") === "after", 1L).otherwise(0L)),
            lit(0L)).as("n_edges_after"))
        .select(lit(r).cast("int").as("round"), col("n_edges_before"),
          // every triangle supports exactly 3 edges — exact division
          expr("supsum div 3").as("n_triangles"),
          (col("n_edges_before") - col("n_edges_after")).as("n_dropped"),
          col("n_edges_after"),
          (col("n_edges_before") === col("n_edges_after")).cast("int")
            .as("converged"))
      cur = next
      stats
    }
    rows.reduce(_ unionAll _).orderBy("round")
  }
}
