package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Distribution-drift detection between two corpus cohorts — the
  * monitoring step a recurring ingest runs to catch a silent shift in
  * document statistics (token lengths, quality scores, …) between
  * snapshots, sources, or pipeline versions.
  *
  * The statistic is the two-sample Kolmogorov–Smirnov distance
  * D = max_v |ECDF_a(v) − ECDF_b(v)|, computed exactly and entirely in
  * integers: with N_a, N_b the cohort sizes and cum_a(v), cum_b(v) the
  * inclusive cumulative counts, D's numerator at v is
  * |cum_a(v)·N_b − cum_b(v)·N_a| (a 38-digit decimal — no doubles, so
  * the argmax and the reported ppm value are engine-exact).
  *
  * Scale shape: each cohort collapses to its value spine (one grouped
  * count — the only corpus-wide shuffles, keyed on the value), the
  * spines full-outer-join (≤ distinct-values rows), and the two
  * cumulative counts ride the distributed two-pass prefix sum of
  * [[graft.operators.PrefixSum]] — no unpartitioned window even when
  * the value support is large. The final argmax is an ORDER BY ... LIMIT 1
  * over the spine (TakeOrderedAndProject, no global sort).
  */
object Drift {

  /** One-row report: `at_value` (smallest value attaining the max gap),
    * `ks_ppm` = ⌊10⁶·D⌋, and the cohort sizes. `valueCol` must be a
    * numeric column present in both inputs. */
  def ksReport(a: DataFrame, b: DataFrame, valueCol: String,
               ranges: Int = 0): DataFrame = {
    val sa = a.groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt_a"))
    val sb = b.groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt_b"))
    val spine = sa.join(sb, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val pre = graft.operators.PrefixSum.exclusiveMulti(spine, "v",
      descending = false, ties = Seq.empty,
      valueCols = Seq("cnt_a" -> "ex_a", "cnt_b" -> "ex_b"), ranges = ranges)
    val totals = spine.agg(sum("cnt_a").as("n_a"), sum("cnt_b").as("n_b"))
    pre.crossJoin(broadcast(totals))
      .withColumn("dnum",
        abs(expr("CAST(ex_a + cnt_a AS DECIMAL(38,0)) * n_b") -
          expr("CAST(ex_b + cnt_b AS DECIMAL(38,0)) * n_a")))
      .orderBy(col("dnum").desc, col("v").asc)
      .limit(1)
      .select(col("v").as("at_value"),
        expr("CAST(dnum * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)" +
          " AS BIGINT)").as("ks_ppm"),
        col("n_a"), col("n_b"))
  }

  /** Chi-square independence scan between two categorical columns — the
    * drift companion to [[ksReport]] for discrete features (does the
    * event-type mix differ by cohort? does the language mix differ by
    * source?). One contingency row per (a, b) cell of the FULL grid
    * (absent combinations count 0 — dropping them would silently bias
    * the statistic), with the cell's exact integer contribution to the
    * χ² sum:
    *
    *   contrib_ppm = ⌊10⁶·(obs·N − row·col)² / (N·row·col)⌋
    *               ≈ 10⁶·(obs − E)²/E  with E = row·col/N
    *
    * — one floor division of exact integers, computed in 38-digit
    * decimals (obs·N alone overflows 64 bits at corpus scale), so both
    * engines floor the identical rational. Headroom bound: the
    * WORST-CASE deviation |__d| = |obs·N − row·col| reaches ~N²/4 (a
    * two-category table with all mass in one cell), so __d²·10⁶ fits
    * DECIMAL(38,0) only up to N ≈ 10⁸ rows — beyond that,
    * pre-aggregate or subsample the contingency input. (Tables whose
    * every cell sits near independence stay exact far longer, but the
    * guarantee is the worst case.) `expected_milli` is ⌊10³·row·col/N⌋
    * for display.
    *
    * Scale shape: one grouped count of the (a, b) projection (the only
    * corpus-wide shuffle), two marginal rollups OF THAT RESULT (≤ cells
    * rows), and the zero-filled grid is marginal-a × marginal-b — a
    * broadcast cross of two tiny dimension lists. */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("obs"))
      .stage("chiSquareCells:cells") // marginals + grid re-read it; ≤ cells rows
    val rowM = cells.groupBy(col(aCol)).agg(sum("obs").as("row_n"))
    val colM = cells.groupBy(col(bCol)).agg(sum("obs").as("col_n"))
    val n = cells.agg(sum("obs").as("n"))
    rowM.crossJoin(broadcast(colM)).crossJoin(broadcast(n))
      .join(cells, Seq(aCol, bCol), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .withColumn("expected_milli",
        expr("CAST(row_n AS DECIMAL(38,0)) * col_n * 1000 div n"))
      .withColumn("__d",
        expr("CAST(obs AS DECIMAL(38,0)) * n - CAST(row_n AS DECIMAL(38,0)) * col_n"))
      .withColumn("contrib_ppm",
        expr("CAST(__d AS DECIMAL(38,0)) * __d * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * row_n * col_n)"))
      .select(col(aCol), col(bCol), col("obs"), col("expected_milli"),
        col("contrib_ppm"))
  }

  /** Jensen–Shannon divergence matrix between grouped categorical
    * distributions (q196: token distributions per document source) —
    * the SYMMETRIC, bounded (≤ ln 2) drift measure that completes the
    * family: [[ksReport]] for continuous features, [[chiSquareCells]]
    * for independence, JSD for "how far apart are these two vocabulary
    * mixes" — the statistic data-mixing papers report when comparing
    * corpus slices. For distributions P, Q with M = (P+Q)/2:
    *
    *   JSD = ½ Σ_t [ p·ln(p/m) + q·ln(q/m) ]
    *
    * Parity design (the q181 contract): probabilities are quantized to
    * exact integer parts-per-billion (⌊c·10⁹/N⌋ — floor division of
    * longs), each log ratio to integer micro-nats ONCE per (pair,
    * term), and the sum Σ p_ppb·lp is exact integer arithmetic. Terms
    * present on only one side contribute exactly (ln 2)/2·p — handled
    * in closed form via the CONSTANT 693147 micro-nats on the mass
    * missing from the common-term join, so the pair join stays an
    * inner join on the term key (no per-pair full-outer gymnastics).
    *
    * Scale shape: one tokenize pass → (source, term) counts
    * (partial-agg'd, the only corpus-wide shuffle); the pair stage
    * joins the per-source term tables ON THE TERM KEY, so it is
    * quadratic only in the number of sources SHARING a term, never in
    * the corpus; totals are a per-source rollup broadcast back. Output
    * is ≤ |sources|²/2 rows: a pair sharing NO vocabulary emits no row
    * (its JSD is the ln 2 maximum by definition — the inner term join
    * is what keeps the pair stage term-keyed, and the absence is
    * deterministic on both engines). */
  def jsDivergenceMatrix(docs: DataFrame, srcCol: String,
                         textCol: String): DataFrame = {
    import graft.ext.TextOps.{normText, tokens}
    val Ln2Micro = 693147L // round(ln(2)·1e6), the one-sided term's weight
    val cnt = graft.model.Tables.fanOut(docs)
      .select(col(srcCol).as("source"),
        explode(tokens(normText(col(textCol)))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .stage("jsDivergenceMatrix:cnt") // totals + both sides of the pair join
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val p = cnt.join(tot, "source")
      .select(col("source"), col("w"),
        // DECIMAL headroom: c·10⁹ can pass 2⁶³ once a source holds
        // ≥ ~9·10⁹ tokens; the floor division itself stays exact
        expr("CAST(c AS DECIMAL(38,0)) * 1000000000 div n").cast("long")
          .as("ppb"),
        (col("c").cast("double") / col("n")).as("pr"))
    val a = p.select(col("source").as("src_a"), col("w"),
      col("ppb").as("pa"), col("pr").as("ra"))
    val b = p.select(col("source").as("src_b"), col("w"),
      col("ppb").as("pb"), col("pr").as("rb"))
    val common = a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      // each side's log ratio vs the mixture, quantized once per term
      .withColumn("la",
        round(log(col("ra") / ((col("ra") + col("rb")) / 2)) * 1e6, 0)
          .cast("long"))
      .withColumn("lb",
        round(log(col("rb") / ((col("ra") + col("rb")) / 2)) * 1e6, 0)
          .cast("long"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).cast("int").as("n_common_terms"),
        sum(col("pa") * col("la") + col("pb") * col("lb")).as("s_common"),
        sum("pa").as("mass_a"), sum("pb").as("mass_b"))
    // jsd_micro = (Σ_common + ln2·(one-sided mass)) / (2·10⁹). JSD ≥ 0
    // mathematically, but per-term micro-nat rounding can push the
    // integer numerator a hair below zero for near-identical
    // distributions — clamp BEFORE dividing, because the engines
    // disagree on negative integer division (truncate vs floor).
    common
      .withColumn("jsd_micro",
        expr(s"greatest(CAST(0 AS BIGINT), s_common + $Ln2Micro * " +
          "((1000000000 - mass_a) + (1000000000 - mass_b))) div 2000000000"))
      .select(col("src_a"), col("src_b"), col("n_common_terms"),
        col("jsd_micro"),
        (col("jsd_micro").cast("double") / 1e6).as("jsd"))
      .orderBy("src_a", "src_b")
  }

  /** EMBEDDING-SPACE drift between the q242 snapshot halves (even
    * vec_id = reference, odd = current): per dimension, the centroid
    * shift (|mean_ref − mean_cur| in e6 integer units — the per-dim
    * decomposition of q230's centroid machinery) and the PSI of the
    * per-dim VALUE distribution (fixed-width bins of round(v·binsPerUnit),
    * +1-smoothed, exactly the q242 PSI contract) — drift in the
    * representation space that token-level statistics (q139/q196/q242)
    * cannot see, e.g. an embedding-model version bump or a modality
    * mix shift. Identical halves ⇒ every shift and PSI is exactly 0.
    *
    * Scale shape: ONE corpus scan (posexplode of the vector) feeding a
    * single (dim, half, bin)-keyed count+sum — map-side partial, keyed
    * by ≤ dims·bins·2 cells; centroids, the full-outer bin spine, and
    * the PSI walk all run on that metadata-scale relation. Negative
    * e6 sums floor-divide via sign-split so both engines agree. */
  def embeddingDrift(embs: DataFrame, idCol: String, embCol: String,
                     binsPerUnit: Int = 8): DataFrame = {
    require(binsPerUnit >= 1, s"need binsPerUnit >= 1, got $binsPerUnit")
    val base = embs.select((col(idCol) % 2).cast("int").as("half"),
        posexplode(col(embCol)).as(Seq("dim", "v")))
      .select(col("half"), col("dim"),
        round(col("v").cast("double") * 1e6, 0).cast("long").as("v_e6"),
        round(col("v").cast("double") * binsPerUnit, 0).cast("long").as("bin"))
    val cells = base.groupBy("dim", "half", "bin")
      .agg(count(lit(1)).as("c"), sum("v_e6").as("sv"))
      .stage("embeddingDrift:cells") // dims·bins·2 rows; read by centroid + PSI legs
    val cent = cells.groupBy("dim", "half")
      .agg(sum("c").as("n"), sum("sv").as("s"))
      .withColumn("c_e6",
        expr("CASE WHEN s < 0 THEN -((-s) div n) ELSE s div n END"))
    val cw = cent.groupBy("dim").agg(
      max(when(col("half") === 0, col("n"))).as("n_ref"),
      max(when(col("half") === 1, col("n"))).as("n_cur"),
      max(when(col("half") === 0, col("c_e6"))).as("c_ref_e6"),
      max(when(col("half") === 1, col("c_e6"))).as("c_cur_e6"))
    val ref = cells.filter(col("half") === 0)
      .select(col("dim"), col("bin"), col("c").as("cr"))
    val cur = cells.filter(col("half") === 1)
      .select(col("dim"), col("bin"), col("c").as("cc"))
    val spine = ref.join(cur, Seq("dim", "bin"), "full_outer")
      .na.fill(0L, Seq("cr", "cc"))
      .withColumn("cr1", col("cr") + 1)
      .withColumn("cc1", col("cc") + 1)
    val tot = spine.groupBy("dim").agg(sum("cr1").as("nr"),
      sum("cc1").as("nc"), count(lit(1)).as("n_bins"))
    val psi = spine.join(tot, Seq("dim"))
      .withColumn("p_ppm", expr("cr1 * 1000000 div nr"))
      .withColumn("q_ppm", expr("cc1 * 1000000 div nc"))
      .withColumn("l_e6",
        round(log(col("cr1").cast("double") / col("nr") /
          (col("cc1").cast("double") / col("nc"))) * 1e6, 0).cast("long"))
      .groupBy("dim")
      .agg(max("n_bins").as("n_bins"),
        sum((col("p_ppm") - col("q_ppm")) * col("l_e6")).as("s"))
      .select(col("dim"), col("n_bins"),
        expr("greatest(CAST(0 AS BIGINT), s) div 1000000").as("psi_micro"))
    cw.join(psi, Seq("dim"))
      .select(col("dim").cast("int").as("dim"),
        col("n_ref").cast("long").as("n_ref"),
        col("n_cur").cast("long").as("n_cur"),
        col("c_ref_e6").cast("long").as("c_ref_e6"),
        col("c_cur_e6").cast("long").as("c_cur_e6"),
        abs(col("c_ref_e6") - col("c_cur_e6")).cast("long").as("shift_e6"),
        col("n_bins").cast("int").as("n_bins"),
        col("psi_micro").cast("long").as("psi_micro"))
      .orderBy("dim")
  }
}
