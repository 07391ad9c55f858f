package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Stage.StageOps

/** Deterministic sampling and dataset splitting for a training-data
  * pipeline. Everything is keyed integer arithmetic — no RNG, no
  * `rand()` — so assignments are (a) reproducible run-to-run and
  * engine-to-engine (the DuckDB oracle computes identical buckets), and
  * (b) STABLE UNDER APPEND: a document's split never changes when the
  * corpus grows, which is what keeps train/test contamination impossible
  * across dataset versions. At 100 TB both ops are pure scan-side
  * projections/filters — zero shuffle, trivially partition-parallel.
  */
object Sampling {

  /** Affine-mod bucket in [0, 100): `(((key mod P)·a + b) mod P) mod
    * 100`. The multiplier/offset are coprime to P = 2³¹-1, so buckets
    * are uniform over any contiguous or sparse key range. The key is
    * reduced mod P BEFORE the multiply, so the product stays below
    * 2⁶³ for any non-negative long key — no silent signed overflow at
    * extreme key ranges (the oracle SQL mirrors the same reduction). */
  def bucket100(key: Column): Column =
    (((key.cast("long") % lit(TextOps.HashP)) * lit(1000003L) + lit(12345L))
      % lit(TextOps.HashP)) % 100

  /** Assign each row to a named split by cumulative percentage:
    * `weights = Seq("train" -> 90, "val" -> 5, "test" -> 5)` (must sum to
    * 100). Deterministic in the key — appends never reshuffle existing
    * assignments. */
  def hashSplit(df: DataFrame, keyCol: String,
                weights: Seq[(String, Int)]): DataFrame = {
    require(weights.map(_._2).sum == 100, "split weights must sum to 100")
    val b = bucket100(col(keyCol))
    val cum = weights.scanLeft(0)(_ + _._2).tail
    val split = weights.zip(cum).foldRight(lit(weights.last._1): Column) {
      case (((name, _), hi), rest) => when(b < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** Keep a deterministic `pct`% of rows by key — the scan-side
    * subsample every at-scale experiment starts with. */
  def deterministicSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(bucket100(col(keyCol)) < pct)

  /** Stratified deterministic sampling: per-stratum keep percentages —
    * the corpus-rebalancing step of training-data mixture design
    * (downsample the dominant language/source, keep the rare ones).
    * Strata absent from `rates` keep `defaultPct`. Same affine-mod
    * bucket as [[deterministicSample]], so per-stratum samples nest and
    * stay stable under append; still a pure scan-side filter. */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct): Column) {
      case (acc, (s, p)) => when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(bucket100(col(keyCol)) < pct)
  }

  /** Second, independent affine hash (different multiplier/offset, both
    * coprime to P) for shard assignment — independent of [[bucket100]],
    * so shard membership does not correlate with split/sample
    * membership. Same mod-P-before-multiply guard: (P-1)·2654435761 <
    * 2⁶³, so no overflow for any non-negative key. */
  def shardOf(key: Column, nShards: Int): Column =
    ((((key.cast("long") % lit(TextOps.HashP)) * lit(2654435761L) + lit(97L))
      % lit(TextOps.HashP)) % nShards).cast("int")

  /** Deterministic per-key quota: keep at most `cap` rows per key, the
    * winners chosen by hash order (then id as tie-break) so the kept set
    * is reproducible and has no correlation with ingest order — the
    * per-domain / per-source cap every web corpus applies against
    * boilerplate-heavy origins. One hash-partitioned window (rank
    * truncation is a running count, not a sort buffer); a pathological
    * mega-key outgrowing a partition is handled by the two-level
    * [[perKeyQuotaSalted]] form, which produces identical output. */
  def perKeyQuota(df: DataFrame, keyCol: String, idCol: String,
                  cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(bucket100(col(idCol)), col(idCol))
    df.withColumn("qrank", row_number().over(w))
      .filter(col("qrank") <= cap)
      .drop("qrank")
  }

  /** Skew-safe two-level form of [[perKeyQuota]] — IDENTICAL output,
    * bounded per-task state on power-law keys. Phase 1 salts each row by
    * an independent hash of the id into `salts` cells and keeps the cap
    * smallest rows (same hash order) per (key, salt) cell: every true
    * winner survives, because a row among the cap smallest of its whole
    * key group is a fortiori among the cap smallest of its own cell.
    * Phase 2 re-ranks the ≤ cap·salts survivors per key and keeps the
    * true cap. A 10⁹-row hot source therefore costs `salts` windows of
    * ~N/salts rows each plus one window of ≤ cap·salts rows — no single
    * task ever materializes the hot key — while the winner set (and hence
    * the oracle hash) is exactly [[perKeyQuota]]'s. The salt reuses
    * [[shardOf]]'s independent affine hash, so it is deterministic,
    * uncorrelated with the bucket100 rank order, and retry-stable. */
  def perKeyQuotaSalted(df: DataFrame, keyCol: String, idCol: String,
                        cap: Int, salts: Int = 16): DataFrame = {
    require(salts > 0, "salts must be positive")
    import org.apache.spark.sql.expressions.Window
    val cell = Window.partitionBy(col(keyCol), col("__qsalt"))
      .orderBy(bucket100(col(idCol)), col(idCol))
    val whole = Window.partitionBy(col(keyCol))
      .orderBy(bucket100(col(idCol)), col(idCol))
    df.withColumn("__qsalt", shardOf(col(idCol), salts))
      .withColumn("__cellrank", row_number().over(cell))
      .filter(col("__cellrank") <= cap)
      .withColumn("qrank", row_number().over(whole))
      .filter(col("qrank") <= cap)
      .drop("__qsalt", "__cellrank", "qrank")
  }

  /** Independent per-million hash in [0, 1 000 000) — [[shardOf]]'s
    * affine pair reduced mod 10⁶ instead of `nShards`, so keep/drop
    * decisions are uncorrelated with [[bucket100]] splits and sampling.
    * Same mod-P-before-multiply overflow guard. */
  def ppmHash(key: Column): Column =
    (((key.cast("long") % lit(TextOps.HashP)) * lit(2654435761L) + lit(97L))
      % lit(TextOps.HashP)) % 1000000L

  /** Temperature-scaled mixture sampling (α = ½): the data-mixing step
    * that rebalances a multi-source corpus so dominant sources are
    * downsampled toward √-proportional shares (the multilingual-corpus
    * "temperature" trick — sampling weight ∝ n^α flattens the source
    * distribution without discarding rare sources). Produces the
    * per-stratum mixing report:
    *
    *   weight_s   = ⌊10⁶·√n_s⌋            (IEEE sqrt is correctly
    *                                       rounded, so the integer
    *                                       weight is engine-identical)
    *   target T   = ⌊N·pct/100⌋           (total docs to keep)
    *   rate_s ppm = min(10⁶, ⌊10⁶·T·w_s / (Σw·n_s)⌋)   (exact integer
    *                floor division in 38-digit decimals — no double
    *                rounding anywhere after the sqrt)
    *   kept       = rows with ppmHash(key) < rate_s
    *
    * Keep decisions are per-row hash gates — stable under append, and
    * independent of split/sample membership. At 100 TB: one grouped
    * count of a 1-column projection (≤ n_strata rows shuffle), a
    * broadcast of the ≤ n_strata rate table back onto the scan, and a
    * second grouped count of the survivors. Nothing wider than the
    * stratum column ever moves. */
  def temperatureMixReport(df: DataFrame, stratumCol: String, keyCol: String,
                           targetPct: Int): DataFrame = {
    val rates = mixRates(df, stratumCol, targetPct)
    val kept = applyMixGate(df, rates, stratumCol, keyCol)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq(stratumCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /** The keep DECISION of [[temperatureMixReport]] as a row filter: the
    * input rows whose stratum-rate hash gate passes, original columns
    * intact — the form a curation pipeline composes (q162) where the
    * report only counts. Same rates, same gate, stable under append. */
  def temperatureMixFilter(df: DataFrame, stratumCol: String, keyCol: String,
                           targetPct: Int): DataFrame =
    applyMixGate(df, mixRates(df, stratumCol, targetPct), stratumCol, keyCol)

  private def applyMixGate(df: DataFrame, rates: DataFrame,
                           stratumCol: String, keyCol: String): DataFrame =
    df.join(broadcast(rates.select(col(stratumCol), col("rate_ppm"))),
        Seq(stratumCol))
      .filter(ppmHash(col(keyCol)) < col("rate_ppm"))
      .drop("rate_ppm")

  /** Per-stratum √-proportional keep rates shared by the report and the
    * filter: exact ⌊10⁶·√n⌋ weights, decimal floor-division ppm. */
  private def mixRates(df: DataFrame, stratumCol: String,
                       targetPct: Int): DataFrame = {
    require(targetPct > 0 && targetPct <= 100,
      s"targetPct must be in (0, 100], got $targetPct")
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("weight",
        floor(lit(1000000L) * sqrt(col("n_total"))).cast("long"))
    val totals = counts.agg(sum("n_total").as("corpus_n"),
      sum("weight").as("sum_w"))
    counts.crossJoin(broadcast(totals))
      .withColumn("t_target", expr(s"corpus_n * $targetPct div 100"))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("CAST(1000000 AS DECIMAL(38,0)) * t_target * weight" +
            " div (CAST(sum_w AS DECIMAL(38,0)) * n_total)").cast("long")))
      .select(col(stratumCol), col("n_total"), col("weight"), col("rate_ppm"))
  }

  /** TEMPERATURE SWEEP of the mixture sampler (q288) — the dial behind
    * the q138 α=½ point, measured across the operating range the
    * multilingual-mixing literature actually tunes (τ = n^t rebalancing,
    * Conneau–Lample XLM §3.1): per temperature t ∈ {¼, ½, ¾, 1} the
    * per-source weight n^t, the q138 exact keep-rate formula, the
    * expected kept volume, and the mixture's EFFECTIVE source count
    * (inverse Simpson (Σk)²/Σk², the q160 idiom) — the one number that
    * shows the dial working: t = 1 reproduces raw proportions (lowest
    * effective count), t → 0 flattens toward uniform (highest). t = 1 is
    * the exact anchor: every source's rate equals targetPct·10⁴ ppm
    * (weight ∝ n cancels), pinned by the spec.
    *
    * Parity: n^¼ = sqrt(sqrt(n)), n^½ = sqrt(n), n^¾ = sqrt(n)·
    * sqrt(sqrt(n)) — compositions of the IEEE exactly-rounded sqrt and
    * one multiplication, identical on both engines (no pow(), whose
    * rounding is library-specific); weights floor to e6 integers
    * (⌊10⁶·n^t⌋, the q138 idiom; t = 1 takes the exact long n·10⁶),
    * every rate/expectation after that is exact integer floor division.
    *
    * Scale shape: one grouped count of the corpus, then everything is
    * |taus|·|sources| rows — two metadata rollups and broadcast
    * scalar joins. */
  def temperatureSweep(df: DataFrame, stratumCol: String,
                       targetPct: Int): DataFrame = {
    require(targetPct > 0 && targetPct <= 100,
      s"targetPct must be in (0, 100], got $targetPct")
    val counts = df.groupBy(col(stratumCol).as("source"))
      .agg(count(lit(1)).as("n_total"))
      .stage("temperatureSweep:counts") // read by all four temperature legs
    val n = col("n_total")
    val legs: Seq[(Int, org.apache.spark.sql.Column)] = Seq(
      25 -> floor(lit(1000000d) * sqrt(sqrt(n))).cast("long"),
      50 -> floor(lit(1000000d) * sqrt(n)).cast("long"),
      75 -> floor(lit(1000000d) * (sqrt(n) * sqrt(sqrt(n)))).cast("long"),
      100 -> (n * lit(1000000L)).cast("long"))
    val weighted = legs.map { case (tau, w) =>
      counts.select(lit(tau).as("tau_pct"), col("source"), col("n_total"),
        w.as("weight_e6"))
    }.reduce(_ unionAll _)
      .stage("temperatureSweep:weighted") // read by the per-tau totals + the rate rows
    val tot = weighted.groupBy("tau_pct")
      .agg(sum("n_total").as("corpus_n"), sum("weight_e6").as("sum_w"))
    val rated = weighted.join(broadcast(tot), Seq("tau_pct"))
      .withColumn("t_target", expr(s"corpus_n * $targetPct div 100"))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("CAST(1000000 AS DECIMAL(38,0)) * t_target * weight_e6" +
            " div (CAST(sum_w AS DECIMAL(38,0)) * n_total)").cast("long")))
      .withColumn("n_kept_exp", expr("n_total * rate_ppm div 1000000"))
      .stage("temperatureSweep:rated") // read by the effective-count rollup + output
    val eff = rated.groupBy("tau_pct")
      .agg(sum("n_kept_exp").as("sk"),
        // DECIMAL squares: a 10⁹-doc source's square would sit at the
        // LONG edge — the silhouette/HUGEINT idiom
        sum(expr("CAST(n_kept_exp AS DECIMAL(38,0)) * n_kept_exp"))
          .as("sk2"))
      .select(col("tau_pct"),
        expr("CASE WHEN sk2 = 0 THEN 0 ELSE " +
          "CAST(sk AS DECIMAL(38,0)) * sk * 1000 div sk2 END")
          .cast("long").as("eff_sources_milli"))
    rated.join(broadcast(eff), Seq("tau_pct"))
      .select(col("tau_pct").cast("int").as("tau_pct"), col("source"),
        col("n_total").cast("long").as("n_total"),
        col("weight_e6").cast("long").as("weight_e6"),
        col("rate_ppm").cast("long").as("rate_ppm"),
        col("n_kept_exp").cast("long").as("n_kept_exp"),
        col("eff_sources_milli"))
      .orderBy("tau_pct", "source")
  }

  /** Weighted systematic sampling (probability-proportional-to-size):
    * lay the rows out on a line where each row occupies a segment equal
    * to its weight, then take k equally spaced pointers across the
    * whole line — row i is drawn once per pointer landing inside its
    * segment, so inclusion expectation is exactly k·wᵢ/W with at most
    * ⌈wᵢ·k/W⌉ draws, and the sample is deterministic (no RNG): pointer
    * j sits at ⌊j·W/k⌋, and the multiplicity of row i with exclusive
    * prefix Wᵢ is
    *
    *   mᵢ = ⌈(Wᵢ+wᵢ)·k/W⌉ − ⌈Wᵢ·k/W⌉        (exact integer ceils)
    *
    * — the textbook systematic PPS scheme, made distributed: the
    * exclusive prefix Wᵢ rides [[graft.operators.PrefixSum]]'s two-pass
    * range-bucketed scan (no unpartitioned window), the scalar (W, k)
    * broadcast, and the multiplicity is a per-row projection. Output is
    * the selected rows with a `multiplicity` column (≥ 1). */
  def systematicSample(df: DataFrame, keyCol: String, weightCol: String,
                       k: Int, ranges: Int = 0): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    val weighted = df.withColumn("__w",
      greatest(col(weightCol).cast("long"), lit(1L)))
    val pre = graft.operators.PrefixSum.exclusive(weighted, keyCol,
      descending = false, ties = Seq.empty, valueCol = "__w",
      outCol = "__pre", ranges = ranges)
    val total = weighted.agg(sum("__w").as("__total"))
    pre.crossJoin(broadcast(total))
      .withColumn("multiplicity",
        (expr(s"(CAST(__pre + __w AS DECIMAL(38,0)) * $k + __total - 1)" +
          " div __total") -
          expr(s"(CAST(__pre AS DECIMAL(38,0)) * $k + __total - 1)" +
            " div __total")).cast("long"))
      .filter(col("multiplicity") > 0)
      .drop("__w", "__pre", "__total")
  }

  /** Epoch-capped proportional token-budget allocation — the
    * waterfilling step of training-mixture planning: given per-source
    * token counts, a total budget (`budgetPct`% of the corpus) and a
    * per-source ceiling (`capPctOfBudget`% of the budget — no source may
    * dominate the mix), allocate the budget proportionally, clamp any
    * source over its cap, and redistribute the excess among the rest —
    * iterated to the fixpoint. Because sources are sorted by size, the
    * capped set is a PREFIX, so the fixpoint resolves in one pass: a
    * running all-capped flag marks the prefix where the sequential
    * cap-test holds, and the water level λ = rem/restC comes from two
    * scalar aggregates over it. Every quantity is exact integer
    * (DECIMAL(38,0) cross-products; floor-div allocations), so the plan
    * both engines compute is value-identical.
    *
    * Scale shape: one grouped count is the only corpus-wide work; the
    * allocation itself runs on the per-source table, explicitly bounded
    * by `maxSources` via an orderBy+limit head (the SmallRank contract —
    * windows above it are limit-bounded, never data-bounded). A corpus
    * with more than `maxSources` sources silently drops the smallest
    * tails from the head; raise the bound if source cardinality is
    * genuinely unbounded. */
  def waterfillBudget(countsIn: DataFrame, srcCol: String, cntCol: String,
                      budgetPct: Int = 50, capPctOfBudget: Int = 30,
                      maxSources: Int = 1000): DataFrame = {
    require(budgetPct >= 1 && budgetPct <= 100 &&
      capPctOfBudget >= 1 && capPctOfBudget <= 100,
      s"percentages out of [1,100]: $budgetPct, $capPctOfBudget")
    import org.apache.spark.sql.expressions.Window
    val counts = countsIn.select(col(srcCol).as("source"),
      col(cntCol).cast("long").as("tokens"))
    val tot = counts.agg(sum("tokens").as("totc"))
    val lim = counts.orderBy(col("tokens").desc, col("source"))
      .limit(maxSources)
    val w = Window.partitionBy(lit(0))
      .orderBy(col("tokens").desc, col("source"))
    val ranked = lim.crossJoin(broadcast(tot))
      .withColumn("b", expr(s"totc * $budgetPct div 100"))
      .withColumn("cap", expr(s"(totc * $budgetPct div 100)" +
        s" * $capPctOfBudget div 100"))
      .withColumn("rk", row_number().over(w))
      .withColumn("pref",
        sum(col("tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      // Sequential cap test for row i GIVEN rows 1..i-1 capped:
      //   (B - (i-1)·cap) · c_i  >  cap · (totC - pref_{i-1})
      // i.e. the proportional share at the current water level exceeds
      // the cap. Valid exactly on the maximal all-true prefix.
      .withColumn("cap_test",
        expr("(CAST(b AS DECIMAL(38,0)) - (rk - 1) * cap) * tokens" +
          " > CAST(cap AS DECIMAL(38,0)) * (totc - (pref - tokens))"))
      .withColumn("capped",
        min(when(col("cap_test"), 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)) === 1)
    val sel = ranked.agg(
      sum(when(col("capped"), 1L).otherwise(0L)).as("jstar"),
      sum(when(col("capped"), col("tokens")).otherwise(0L)).as("cap_pref"))
    ranked.crossJoin(broadcast(sel))
      .withColumn("rem", col("b") - col("jstar") * col("cap"))
      .withColumn("restc", col("totc") - col("cap_pref"))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap").cast("long")).otherwise(
          expr("CAST(tokens AS DECIMAL(38,0)) * rem" +
            " div greatest(restc, 1)").cast("long")))
      .withColumn("epochs_ppm",
        expr("CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 div tokens")
          .cast("long"))
      .select(col("source"), col("tokens"), col("alloc_tokens"),
        when(col("capped"), 1).otherwise(0).as("capped"),
        col("epochs_ppm"))
      .orderBy(col("tokens").desc, col("source"))
  }

  /** Deterministic corpus shuffle for training: assign each row a shard
    * (independent hash) and a position within its shard (hash order) —
    * the global-random-order guarantee sequence training needs, without
    * RNG; the order is stable run-to-run so resumed jobs read identical
    * batches.
    *
    * NOT a per-shard window: `nShards` is FIXED as data grows (a
    * training job's shard count does not scale with corpus size), so
    * `row_number over (partition by shard)` would serialize N/nShards
    * rows into one task — the r16 audit's fixed-domain case. Instead
    * the position is a grouped rank on the prefix engine
    * ([[graft.operators.GroupedPrefix.rankWithin]], group = shard,
    * order = (bucket100(key), key)), whose ranges split freely INSIDE a
    * shard. Identical output to the window form (SamplingSpec pins
    * equality). Any non-NULL numeric key works; a NULL key fails the
    * engine's NULL-group check (its shard is NULL). */
  def shardShuffle(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"shardShuffle needs >= 1 shard, got $nShards")
    graft.operators.GroupedPrefix.rankWithin(
        df.withColumn("shard", shardOf(col(keyCol), nShards))
          .withColumn("__b", bucket100(col(keyCol))),
        "shard", "__b", descending = false, ties = Seq(col(keyCol)),
        rankCol = "pos")
      .drop("__b")
  }

  /** MULTIPLICATIVE-WEIGHTS TRAJECTORY (the multi-round core of
    * q311): iterate the q309 linearized-DoReMi exponentiated-gradient
    * step through `rounds` fixed rounds. Input: one row per domain
    * with its starting weight `share_ppm` (floor ppm) and its STATIC
    * update factor `factor_micro` (q309's `greatest(1, 10⁶+excess)` on
    * measured losses — the published DoReMi re-measures under a
    * re-trained proxy each round; with a fixed reference model the
    * factor is constant and the trajectory is the renormalized power
    * iteration of that factor, stated). Per round t:
    * raw = share·factor (both int64-safe by the q309 bounds), then
    * share' = raw·10⁶ div Σraw on DECIMAL(38,0) — the q309 floor
    * renormalization replayed exactly, so both engines walk identical
    * integer trajectories.
    *
    * Output, one row per (round, source): the previous and new share,
    * the signed per-source movement, the static factor, and the
    * round's two certificates — `l1_move_ppm` = Σ|Δshare| (the
    * convergence reading: MW contracts toward the max-factor vertex,
    * so the L1 movement is the distance-to-fixpoint signal) and
    * `sum_share_ppm` (the renormalization pin: 10⁶ minus at most
    * |domains| flooring loss).
    *
    * Scale shape: the state is |domains| rows (metadata-scale); each
    * round is two scalar aggregations + a 1-row broadcast cross,
    * checkpointed per round (the q223/q236 fixed-round unrolled
    * contract) so `rounds` never grows the plan. */
  def mwTrajectory(base: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8], got $rounds")
    var cur = base.select(col("source"), col("share_ppm").cast("long"),
      col("factor_micro").cast("long")).stage("mw:r0")
    val legs = (1 to rounds).map { t =>
      val raw = cur.withColumn("raw", col("share_ppm") * col("factor_micro"))
      val rt = raw.agg(sum("raw").as("rt"))
      val nxt = raw.crossJoin(broadcast(rt))
        .select(col("source"), col("factor_micro"),
          col("share_ppm").as("prev_share_ppm"),
          expr("CASE WHEN rt = 0 THEN 0 ELSE " +
            "CAST(raw AS DECIMAL(38,0)) * 1000000 div rt END")
            .cast("long").as("share_ppm"))
        .withColumn("delta_ppm", col("share_ppm") - col("prev_share_ppm"))
      val roll = nxt.agg(sum(abs(col("delta_ppm"))).as("l1_move_ppm"),
        sum(col("share_ppm")).as("sum_share_ppm"))
      val leg = nxt.crossJoin(broadcast(roll))
        .withColumn("round", lit(t))
        .stage(s"mw:r$t") // next round's state AND one report slice
      cur = leg.select("source", "share_ppm", "factor_micro")
      leg
    }
    legs.reduce(_ unionAll _)
      .select(col("round").cast("int").as("round"), col("source"),
        col("prev_share_ppm").cast("long").as("prev_share_ppm"),
        col("share_ppm").cast("long").as("share_ppm"),
        col("delta_ppm").cast("long").as("delta_ppm"),
        col("factor_micro").cast("long").as("factor_micro"),
        col("l1_move_ppm").cast("long").as("l1_move_ppm"),
        col("sum_share_ppm").cast("long").as("sum_share_ppm"))
      .orderBy("round", "source")
  }

  /** ADAPTIVE multiplicative-weights trajectory (q318) — closes the
    * stated gap in [[mwTrajectory]]: there the update factor is STATIC
    * (excess loss vs the round-0 mixture), here the per-domain excess
    * is RE-MEASURED each round against the CURRENT mixture — the
    * reference model stays frozen (per-domain `nll_micro` is scored
    * once; the published DoReMi's re-trained proxy is out of scope and
    * stated), but the mixture-average baseline
    *   nll_bar_t = ⌊Σ share_t·nll / Σ share_t⌋
    * moves with the weights, so factor_t(d) = max(1, 10⁶ + nll(d) −
    * nll_bar_t) is genuinely round-dependent: as MW shifts mass toward
    * lossy domains the bar rises and the step SELF-DAMPS — the
    * fixed-point is the equalized-excess mixture, not the max-factor
    * vertex the static power iteration contracts to. All arithmetic
    * exact integer (products ≤ 10⁶·10⁶-scale micro units, renorm and
    * bar division on DECIMAL(38,0) mirroring DuckDB HUGEINT floor).
    *
    * Input: one row per domain, (`source`, `share_ppm`, `nll_micro`).
    * Output adds the round's measured `nll_bar_micro` beside the q311
    * columns. Scale shape identical to [[mwTrajectory]]: |domains|-row
    * state, three scalar aggs + 1-row broadcast crosses per round,
    * checkpoint-cut. */
  def mwTrajectoryAdaptive(base: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8], got $rounds")
    var cur = base.select(col("source"), col("share_ppm").cast("long"),
      col("nll_micro").cast("long")).stage("mwAdaptive:r0")
    val legs = (1 to rounds).map { t =>
      val bt = cur.agg(expr(
        "CASE WHEN sum(share_ppm) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(CAST(sum(share_ppm * nll_micro) AS DECIMAL(38,0)) " +
          "div sum(share_ppm) AS BIGINT) END").as("nll_bar_micro"))
      val x = cur.crossJoin(broadcast(bt))
        .withColumn("factor_micro", greatest(lit(1L),
          lit(1000000L) + col("nll_micro") - col("nll_bar_micro")))
        .withColumn("raw", col("share_ppm") * col("factor_micro"))
      val rt = x.agg(sum("raw").as("rt"))
      val nxt = x.crossJoin(broadcast(rt))
        .select(col("source"), col("nll_micro"), col("nll_bar_micro"),
          col("factor_micro"), col("share_ppm").as("prev_share_ppm"),
          expr("CASE WHEN rt = 0 THEN 0 ELSE " +
            "CAST(raw AS DECIMAL(38,0)) * 1000000 div rt END")
            .cast("long").as("share_ppm"))
        .withColumn("delta_ppm", col("share_ppm") - col("prev_share_ppm"))
      val roll = nxt.agg(sum(abs(col("delta_ppm"))).as("l1_move_ppm"),
        sum(col("share_ppm")).as("sum_share_ppm"))
      val leg = nxt.crossJoin(broadcast(roll))
        .withColumn("round", lit(t))
        .stage(s"mwAdaptive:r$t") // next round's state AND one report slice
      cur = leg.select("source", "share_ppm", "nll_micro")
      leg
    }
    legs.reduce(_ unionAll _)
      .select(col("round").cast("int").as("round"), col("source"),
        col("prev_share_ppm").cast("long").as("prev_share_ppm"),
        col("share_ppm").cast("long").as("share_ppm"),
        col("delta_ppm").cast("long").as("delta_ppm"),
        col("factor_micro").cast("long").as("factor_micro"),
        col("nll_bar_micro").cast("long").as("nll_bar_micro"),
        col("l1_move_ppm").cast("long").as("l1_move_ppm"),
        col("sum_share_ppm").cast("long").as("sum_share_ppm"))
      .orderBy("round", "source")
  }

  /** WEIGHTED reservoir sampling, Efraimidis–Spirakis A-Res (IPL 2006):
    * draw a k-sample WITHOUT replacement where each row's inclusion
    * probability is proportional to its weight — the importance-
    * weighted cousin of [[deterministicSample]] (sample by quality or
    * length instead of uniformly). Each row gets priority u^(1/w) for
    * a uniform u; the k largest priorities ARE an exact weighted
    * sample (the paper's one-pass reservoir reduces to a distributed
    * top-k, which is precisely what Spark's TakeOrderedAndProject
    * computes: per-partition heaps of k, merged on the driver —
    * O(k·partitions) driver state, no shuffle, no sort of the corpus).
    *
    * Determinism contract: u is the affine-mod hash of the key mapped
    * into (0, 1] — no RNG, append-stable like every sampler here — and
    * the rank key is ln(u)/w (monotone in u^(1/w)), computed as ONE
    * ln() per row quantized to integer micro-nats (the q181 posture)
    * and divided by the exact integer weight: both engines rank
    * identical doubles, ties broken by key. `u = 1` (priority 0, the
    * best possible) is reachable and fine — ln is never fed 0.
    *
    * Weights are clamped to ≥ 1 INSIDE the operator: a zero weight
    * would make the priority lnu/w = -∞/NaN, and Spark's descending
    * double sort places NaN FIRST, so a zero-weight row could silently
    * win a sample slot (and diverge from the oracle). The clamp keeps
    * the integer-weight contract total and makes the guard independent
    * of any caller-side greatest(). */
  def weightedReservoir(df: DataFrame, keyCol: String, weight: Column,
                        k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // the integer-weight contract is load-bearing for oracle parity:
    // a fractional weight silently floored by the long cast would
    // change priorities with no error — fail loudly at call time
    val wType = df.select(weight.as("w")).schema.head.dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(wType.typeName),
      s"weightedReservoir requires an integral weight column " +
        s"(the documented exact-integer-weight contract); got $wType")
    val h = ((col(keyCol).cast("long") % lit(TextOps.HashP)) * lit(48271L)
      + lit(11L)) % lit(TextOps.HashP)
    val lnuE6 = round(log((h + 1).cast("double") /
      lit((TextOps.HashP + 1).toDouble)) * 1e6, 0).cast("long")
    df.withColumn("weight", greatest(weight.cast("long"), lit(1L)))
      .withColumn("lnu_e6", lnuE6)
      .withColumn("priority", col("lnu_e6").cast("double") / col("weight"))
      .orderBy(col("priority").desc, col(keyCol))
      .limit(k)
  }
}
