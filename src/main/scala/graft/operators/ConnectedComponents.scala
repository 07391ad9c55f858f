package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Connected components by iterative min-label propagation — the step
  * that turns near-duplicate PAIRS into dedup GROUPS (keep one
  * representative per component) in a training-data pipeline.
  *
  * Each iteration is one distributed join + aggregation; lineage is cut
  * per iteration (`localCheckpoint`) so plans stay bounded. Convergence
  * takes at most the graph diameter — near-dup graphs are
  * shallow (duplicates of a duplicate), so this is a handful of rounds.
  * At extreme scale the large-star/small-star variant halves rounds; the
  * join shape is identical.
  */
object ConnectedComponents {

  /** (node, label) with label = min node id of the component. `edges` is
    * undirected input (one row per pair, any orientation). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIter: Int = 20): DataFrame = {
    // Materialize the edge input ONCE before symmetrizing: the union's
    // two branches would otherwise each re-evaluate the (potentially
    // expensive — e.g. a whole MinHash verify) upstream plan.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .stage("cc:edges")
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .stage("cc:sym")
    val init = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .stage("cc:r0")
    val (labels, changed) = hashMin(sym, init, maxIter, "cc:r")
    // Fail LOUDLY if the iteration cap cut convergence short: a silent
    // exit would leave non-min labels (a deep duplicate-of-a-duplicate
    // chain exceeding maxIter rounds), silently diverging from any
    // full-reachability oracle. Callers with genuinely deep components
    // should use [[alternatingStar]] (O(log² diameter) rounds) instead.
    if (changed > 0) throw new IllegalStateException(
      s"labelPropagation did not converge in $maxIter rounds " +
        s"($changed labels still changing); use alternatingStar for deep components")
    labels
  }

  /** The hash-min loop shared by [[labelPropagation]] and
    * [[Graph.boruvkaForest]]'s merge: each round every node takes the
    * least label among its own and its neighbours', until no label
    * changes or `cap` rounds have run. `adj` is (`src`, `dst`) with both
    * directions of each edge, `init` is (`node`, `label`); round i is
    * staged as `<prefix>i` from 1. The changed-label count rides each
    * round's staging job ([[Stage.observed]]), so convergence is checked
    * every round at one job per round. Returns the labels and the last
    * round's changed count: 0 means converged, and the caller decides
    * how to fail when it is not.
    *
    * (A pointer-doubling m[m[l]] term was tried on Borůvka's star- and
    * chain-shaped label graphs and reverted: the extra self-join per
    * round cost more than the rounds it saved, +1.8 s in-suite at sf0.1.) */
  private[operators] def hashMin(adj: DataFrame, init: DataFrame, cap: Int,
                                 prefix: String): (DataFrame, Long) = {
    var labels = init
    var changed = 1L
    var i = 0
    while (changed > 0 && i < cap) {
      val nbrMin = adj
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min("dlabel").as("nbr_label"))
      val (updated, obs) = Stage.observed(
        labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"), col("label"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("new_label")),
        s"$prefix${i + 1}",
        count(when(col("new_label") < col("label"), 1)))
      changed = obs.getLong(0)
      labels = updated.select(col("node"), col("new_label").as("label"))
      i += 1
    }
    (labels, changed)
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the extreme-scale variant: each round REWRITES the edge set toward
    * stars centered on component minima, so convergence takes
    * O(log² diameter) rounds instead of the diameter-many rounds of
    * [[labelPropagation]]. Same output contract: (node, label) with
    * label = component min.
    *
    *  - large-star: every node attaches its STRICTLY LARGER neighbors to
    *    the minimum of its neighborhood (including itself);
    *  - small-star: every node attaches its smaller-or-equal neighbors,
    *    and itself, to that minimum.
    *
    * Each phase is one symmetric-neighborhood aggregation + join —
    * identical shuffle shape to one label-prop round. Preferred when
    * components may be DEEP (long chains); near-dup graphs are shallow,
    * so [[labelPropagation]] remains the default for the dedup tiers. */
  def alternatingStar(edges: DataFrame, srcCol: String, dstCol: String,
                      maxIter: Int = 30): DataFrame = {
    val init = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .stage("star:init")
    // every node, including isolated-after-rewrite roots, must surface
    val nodes = init.select(col("a").as("node"))
      .union(init.select(col("b").as("node"))).distinct()
      .stage("star:nodes")

    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))

    def mins(nb: DataFrame): DataFrame =
      nb.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))

    var e = init
    var stable = false
    var i = 0
    while (!stable && i < maxIter) {
      // large-star: (v, m(u)) for v > u — m(u) ≤ u < v keeps pairs canonical
      val nbL = sym(e)
      val large = nbL.filter(col("v") > col("u"))
        .join(mins(nbL), Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .stage(s"star:large-r${i + 1}")
      // small-star: (v, m(u)) for v ≤ u, plus (u, m(u))
      val nbS = sym(large)
      val sMin = mins(nbS)
      val small = nbS.filter(col("v") < col("u"))
        .join(sMin, Seq("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .union(sMin.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()
        .stage(s"star:r${i + 1}")
      stable = small.exceptAll(e).isEmpty && e.exceptAll(small).isEmpty
      e = small
      i += 1
    }
    // fixed point: stars around component minima → label = min neighbor
    val labeled = sym(e).groupBy(col("u").as("node"))
      .agg(least(min(col("v")), first(col("u"))).as("label"))
    nodes.join(labeled, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }
}
