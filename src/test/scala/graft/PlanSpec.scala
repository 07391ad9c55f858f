package graft

import graft.queries.{GraphAnalytics, MarketAnalytics, ProfileAnalytics, WarehouseAnalytics}

/** Physical-plan shape guards: the properties that make these queries
  * scale (predicate pushdown, column pruning, broadcast joins, top-k
  * without a global sort) are asserted so regressions fail fast, not at
  * the benchmark.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("point lookup pushes the key equality into the parquet scan") {
    val p = plan(MarketAnalytics.pointLookupLatest(spark, sf001))
    assert(p.contains("EqualTo(o_custkey,42)"), s"missing pushed filter:\n$p")
  }

  test("top performers: broadcast dim join + top-k without global sort") {
    val p = plan(MarketAnalytics.topPerformers(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("market summary prunes the lineitem scan to the needed columns") {
    val p = plan(MarketAnalytics.marketSummary(spark, sf001))
    assert(p.contains("l_extendedprice") && !p.contains("l_comment"),
      s"scan not pruned:\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("backtest universe plans the semi-join side without full materialization") {
    val p = plan(MarketAnalytics.backtestUniverse(spark, sf001))
    assert(p.contains("LeftSemi"), s"semi join missing:\n$p")
  }

  test("quality score and langid are single-stage projections (no exchange)") {
    import graft.ext.TextAnalysis
    val docs = graft.model.Tables.documents(spark, sf001)
    Seq(TextAnalysis.qualityScore(docs, "doc_id", "text"),
        TextAnalysis.languageId(docs, "doc_id", "text"),
        TextAnalysis.repetitionStats(docs, "doc_id", "text"),
        TextAnalysis.fingerprint(docs, "doc_id", "text"),
        graft.ext.TextClean.piiScrub(docs, "doc_id", "text")).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange"), s"unexpected shuffle in projection:\n$p")
    }
  }

  test("candidate semi-join pushes below the shingle explode") {
    import graft.ext.TextDedup
    import org.apache.spark.sql.functions.col
    val docs = graft.model.Tables.documents(spark, sf001)
    val cands = docs.select(col("doc_id")).limit(10)
    val p = plan(TextDedup.docShingleHashes(docs, "doc_id", "text")
      .join(cands, Seq("doc_id"), "left_semi"))
    val gen = p.indexOf("Generate")
    val semi = p.indexOf("LeftSemi")
    assert(gen >= 0 && semi >= 0, s"expected explode + semi join:\n$p")
    // tree prints parents first: the Generate must sit ABOVE the semi
    // join, i.e. only candidate docs are ever exploded into shingles
    assert(gen < semi, s"semi join did not push below the explode:\n$p")
  }

  test("minhash bands and simhash fingerprints are scan-side projections") {
    import graft.ext.TextDedup
    val docs = graft.model.Tables.documents(spark, sf001)
    val bands = plan(TextDedup.minhashBands(docs, "doc_id", "text"))
    assert(bands.contains("minhash_band_hashes"), s"native kernel missing:\n$bands")
    assert(!bands.contains("HashAggregate"), s"unexpected aggregation:\n$bands")
    val fps = plan(TextDedup.simhashFingerprints(docs, "doc_id", "text"))
    assert(fps.contains("simhash32"), s"native kernel missing:\n$fps")
    assert(!fps.contains("HashAggregate") && !fps.contains("Generate"),
      s"fingerprinting should be a pure projection:\n$fps")
  }

  test("simhash candidates join on MJM prefixes, not raw byte bands") {
    import graft.ext.TextDedup
    val docs = graft.model.Tables.documents(spark, sf001)
    val p = plan(TextDedup.simhashPairs(docs, "doc_id", "text"))
    // The candidate equi-join must key on the block-permutation prefix
    // (t, pfx) — 2^15+ buckets per table — never on an 8-bit byte band
    // of the raw fingerprint (the N²/256-per-band scheme MJM replaces).
    assert(p.contains("pfx"), s"MJM prefix key missing from plan:\n$p")
    assert(!p.contains("& 255"),
      s"raw byte-band self-join crept back in:\n$p")
  }

  test("c4 filter cascade is a single-stage projection (no exchange)") {
    val docs = graft.model.Tables.documents(spark, sf001)
    val p = plan(graft.ext.QualityFilters.c4Filter(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), s"unexpected shuffle in rule cascade:\n$p")
  }

  test("rarity scoring joins the vocabulary via broadcast, never sort-merge") {
    val docs = graft.model.Tables.documents(spark, sf001)
    val p = plan(graft.ext.TextAnalysis.rarityScore(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join crept in:\n$p")
  }

  test("rollup expands grouping sets below a single aggregation exchange") {
    val p = plan(WarehouseAnalytics.revenueRollup(spark, sf001))
    assert(p.contains("Expand"), s"grouping-set expand missing:\n$p")
    // one exchange for the rollup agg (dims broadcast, fact never
    // re-shuffled); AQE may add a final coalesce but no second hash
    // partitioning on the grouping keys
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"rollup should shuffle once, saw $exchanges:\n$p")
  }

  test("snapshot diff collapses value columns to one hash before the join") {
    val docs = graft.model.Tables.documents(spark, sf001)
    val p = plan(graft.ext.Versioning.snapshotDiff(
      docs.select("doc_id", "text"), docs.select("doc_id", "text"),
      "doc_id", Seq("text")))
    assert(p.contains("FullOuter"), s"full-outer join missing:\n$p")
    assert(p.contains("md5"), s"row hash missing:\n$p")
    // the wide text column must not survive past the projection feeding
    // the exchange: hash first, shuffle 16-byte digests
    val exch = p.indexOf("Exchange")
    assert(exch >= 0 && !p.substring(0, exch).contains("text#"),
      s"text column crossed the exchange unhashed:\n$p")
  }

  test("transit overlap range-joins without a nested-loop fallback") {
    val p = plan(WarehouseAnalytics.transitOverlap(spark, sf001))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join fell back to a quadratic strategy:\n$p")
    assert(p.contains("__graft_bkt"), s"bucketized join key missing:\n$p")
  }

  test("local-supplier volume broadcasts every dimension") {
    val p = plan(WarehouseAnalytics.localSupplierVolume(spark, sf001))
    assert(!p.contains("SortMergeJoin"),
      s"a dim join degraded to sort-merge:\n$p")
    // 5 joins in the chain; at least the four pure-dimension ones must
    // be broadcast (orders may or may not broadcast depending on stats)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"dimension chain not broadcast:\n$p")
  }

  test("copurchase rank stages the edge list and plans nothing quadratic") {
    val df = GraphAnalytics.copurchaseRank(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join in the two-hop propagation:\n$p")
    // the fact⋈orders edge build ran ONCE at staging time: the final
    // plan reads the checkpointed (c, s) pairs, never the parquet facts
    assert(p.contains("ExistingRDD"), s"edge staging missing:\n$p")
    assert(!p.contains("lineitem") && !p.contains("orders"),
      s"fact tables re-scanned past the edge staging:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "unexpected window in the hop pipeline")
  }

  test("decayed revenue shuffles the fact once and broadcasts the anchor") {
    val p = plan(WarehouseAnalytics.decayedRevenue(spark, sf001))
    // one customer-keyed aggregation exchange; the 1-row date anchor
    // joins via broadcast, and the final ORDER BY is range, not hash
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected one fact shuffle, saw $exchanges:\n$p")
    assert(p.contains("BroadcastExchange"), s"anchor not broadcast:\n$p")
  }

  test("session paths: every window is keyed or limit-bounded") {
    val df = graft.queries.EventWindows.sessionPaths(spark, sf001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the sessionization windows")
    // the sessionization windows key on user_id; the SmallRank rank
    // window is unpartitioned but sits above the k-row GlobalLimit, so
    // its single task is bounded by construction, never by data volume
    windows.foreach { w =>
      val bounded = w.child.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => g
      }.nonEmpty
      assert(w.partitionSpec.nonEmpty || bounded,
        s"unbounded unpartitioned window survived: $w")
    }
  }

  test("prefix-sum queries run no unpartitioned window") {
    Seq(WarehouseAnalytics.paretoAbc(spark, sf001),
        graft.queries.CurationQueries.sequencePacking(spark, sf001),
        graft.queries.CurationQueries.groupedPacking(spark, sf001),
        graft.queries.CurationQueries.tokenDrift(spark, sf001)).foreach { df =>
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, "expected the range-keyed prefix window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window survived: $w"))
    }
  }

  // ---- suite-wide audits: each reads RegistryWalk's one build of every
  // ---- registered query at sf0.001 ----------------------------------------

  test("suite-wide: every window in every registered query is keyed or limit-bounded") {
    // The one scale-killer Spark hands out silently is the unpartitioned
    // window (one task owns the whole relation). Audit EVERY registered
    // query's optimized plan: a Window must either be keyed or sit above
    // a GlobalLimit (the contractual ≤k-row rank idiom). This subsumes
    // the per-query pins and gates every future registration.
    val offenders = RegistryWalk.offenders(RegistryWalk.all)((_, f) =>
      Option.when(f.unkeyedWindows > 0)(s"${f.unkeyedWindows} unpartitioned"))
    assert(offenders.isEmpty,
      s"unbounded unpartitioned windows in: ${offenders.mkString(", ")}")
  }

  test("suite-wide: no window keyed at measured-low-cardinality over an unbounded child") {
    val offenders = RegistryWalk.offenders(RegistryWalk.all)((v, f) =>
      RegistryWalk.lowCardOffenders(f.windowCands, dir => v.query(spark, dir))).distinct
    assert(offenders.isEmpty,
      s"low-cardinality-key windows over unbounded children (use " +
        s"GroupedPrefix or Skew.saltedTopKPerGroup): " +
        offenders.mkString(", "))
  }

  test("the low-cardinality window audit catches planted offenders") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number, pmod}
    import RegistryWalk.lowCardWindowOffenders
    def docs(dir: String) = graft.model.Tables.documents(spark, dir)
    // a constant partition key — the degenerate single-group window
    assert(lowCardWindowOffenders(dir => docs(dir).withColumn("rk",
      row_number().over(Window.partitionBy(lit(1)).orderBy("doc_id"))))
      .nonEmpty, "partitionBy(lit(1)) escaped the audit")
    // a FRESH 3-value column under a name no list has ever seen — only
    // the measured probe can catch it (flat 3 → 3 across sfs)
    assert(lowCardWindowOffenders(dir => docs(dir)
      .withColumn("axis3", pmod(col("doc_id"), lit(3)))
      .withColumn("rk",
        row_number().over(Window.partitionBy("axis3").orderBy("doc_id"))))
      .exists(_.contains("fixed-domain")),
      "a fresh 3-value partition key escaped the measured probe")
    // sanity: an abundant entity key passes the sf0.001 threshold
    assert(lowCardWindowOffenders(dir => docs(dir).withColumn("rk",
      row_number().over(Window.partitionBy("doc_id").orderBy("source"))))
      .isEmpty, "an entity-keyed window was falsely flagged")
    // sanity: a SPARSE entity key (15 users at sf0.001) is saved by the
    // growth probe (150 at sf0.01), never misread as fixed-domain
    assert(lowCardWindowOffenders(dir => graft.model.Tables
      .events(spark, dir).withColumn("rk",
        row_number().over(Window.partitionBy("user_id").orderBy("ts"))))
      .isEmpty, "a growing entity key was falsely flagged")
  }

  test("suite-wide: no CartesianProduct in any registered query's plan") {
    // The second silent scale-killer after the unpartitioned window: a
    // non-equi join falling back to CartesianProduct multiplies two
    // data-sized relations. Audit every registered query's EXECUTED
    // plan: zero cartesians anywhere (measured round 11: 0/278), and
    // broadcast nested-loop joins — the legitimate form for 1-row
    // scalar crosses and contract-bounded spines — stay under the
    // observed ceiling of 8 per query, so a new data-sized BNLJ can't
    // slip in as "just one more cross".
    val offenders = RegistryWalk.offenders(RegistryWalk.all) { (_, f) =>
      if (f.cartesians > 0) Some(s"${f.cartesians} cartesian")
      else if (f.nestedLoops > 8) Some(s"${f.nestedLoops} nested-loop crosses")
      else None
    }
    assert(offenders.isEmpty,
      s"quadratic join strategies in: ${offenders.mkString(", ")}")
  }

  test("pagerank iterations are keyed joins — nothing quadratic, top-k bounded") {
    val p = plan(GraphAnalytics.copurchasePageRank(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join in the pagerank plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 must not global-sort:\n$p")
  }

  test("multimodal content decodes are narrow: one exchange (output sort) only") {
    // GIF LZW stats (q126) and WAV PCM stats/autocorr (q127/q128) decode
    // per partition; the ONLY exchange allowed is the deterministic
    // output ORDER BY (range), never a hash shuffle or a join
    Seq(graft.queries.MultimodalQueries.gifPixelStats(spark, sf001),
        graft.queries.MultimodalQueries.wavAudioStats(spark, sf001),
        graft.queries.MultimodalQueries.wavAudioAutocorr(spark, sf001)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"hash shuffle in a per-partition decode:\n$p")
      assert(!p.contains("Join"), s"unexpected join in a decode pipeline:\n$p")
    }
  }

  test("small-qty revenue broadcasts the brand prune and never sort-merges") {
    // q132 (TPC-H Q17 shape): the brand's parts must broadcast into the
    // fact scan; the self-correlation joins on the SAME partkey hashing
    val p = plan(graft.queries.Correlated.smallQtyRevenue(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"brand prune not broadcast:\n$p")
    assert(!p.contains("Window"), s"unexpected window in decorrelated agg:\n$p")
  }

  test("min-cost supplier is a window-free struct-min argmin") {
    // q135 (TPC-H Q2 shape): the per-part winner comes from min(struct),
    // never a row_number window or a join back to the cost table
    val df = graft.queries.Correlated.minCostSupplier(spark, sf001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"argmin fell back to a window: $windows")
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("triangle census: staged edges, nothing quadratic, no window") {
    val df = GraphAnalytics.copurchaseTriangles(spark, sf001)
    val p = plan(df)
    // the final merge of the three 1-row stat frames is a broadcast
    // nested loop over single-row aggregates — the one acceptable cross
    // shape; a CartesianProduct (non-broadcast) is never acceptable
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in the wedge pipeline:\n$p")
    assert(p.contains("ExistingRDD"), s"edge staging missing:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "unexpected window in the wedge pipeline")
  }

  test("chi-square grid: one fact shuffle; marginals ride the staged cells") {
    val p = plan(graft.queries.EventWindows.eventChiSquare(spark, sf001))
    // the events fact is aggregated ONCE into (type, cohort) cells; the
    // zero-filled grid and both marginals re-read the checkpointed cells
    assert(p.contains("ExistingRDD"), s"cells not staged:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tiny grid join degraded to sort-merge:\n$p")
  }

  test("skyline is window-only: no join, keyed window over distinct points") {
    val df = WarehouseAnalytics.brandSkyline(spark, sf001)
    val p = plan(df)
    assert(!p.contains("Join"), s"staircase skyline must not self-join:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"frontier window missing or unpartitioned: $windows")
  }

  test("interval coverage plans keyed windows and a single fact aggregation") {
    val df = WarehouseAnalytics.shipIntervalCoverage(spark, sf001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"islands sweep must partition by key: $windows")
    assert(!plan(df).contains("Join"), s"unexpected join:\n${plan(df)}")
  }

  test("supplier OLS is one aggregation: no join, no window") {
    val df = WarehouseAnalytics.supplierOls(spark, sf001)
    val p = plan(df)
    assert(!p.contains("Join"), s"closed-form fit must not join:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "unexpected window in the Gram aggregation")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected one supplier shuffle, saw $exchanges:\n$p")
  }

  test("systematic sample: prefix rides range-keyed windows, scalar broadcasts") {
    val df = graft.queries.CurationQueries.systematicSample(spark, sf001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"prefix window must key on the bucket range: $windows")
    assert(plan(df).contains("BroadcastExchange"),
      s"total-weight scalar not broadcast:\n${plan(df)}")
  }

  test("volume shipping: one fact-fact exchange pair, nation prune broadcast") {
    val p = plan(graft.queries.Correlated.volumeShipping(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"quadratic join:\n$p")
    // the two-row nation dim must broadcast into supplier/customer;
    // lineitem x orders on orderkey is the only sort-merge candidate
    assert(p.contains("BroadcastHashJoin"), s"nation prune not broadcast:\n$p")
  }

  test("market share: region prune broadcasts, customer set is a semi join") {
    val p = plan(graft.queries.Correlated.marketShare(spark, sf001))
    assert(p.contains("LeftSemi"), s"market membership not a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"quadratic join:\n$p")
  }

  test("curation pipeline: final survivors staged once, rate gate broadcast") {
    val p = plan(graft.queries.CurationQueries.curationPipeline(spark, sf001))
    // the checkpointed survivor set feeds the funnel count, token mass
    // and packing without re-running quality/dedup/mix
    assert(p.contains("ExistingRDD"), s"survivor staging missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"quadratic join:\n$p")
  }

  test("clamped balance: one fact exchange, windows fused over one sort") {
    val df = WarehouseAnalytics.supplierBalance(spark, sf001)
    val p = plan(df)
    // the linearized scan must shuffle the movement log ONCE (plus the
    // output ORDER BY's range exchange) — prefix sum, running floor and
    // clamp flags all ride the same supplier-keyed sort
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"expected one supplier shuffle, saw $hashEx:\n$p")
    assert(!p.contains("Join"), s"the scan must not join:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"clamped-scan windows must key on the supplier: $windows")
  }

  test("attribution journeys: the (user, jid) agg reuses the window's user shuffle") {
    // q183's journey aggregation groups by (user_id, jid) but the
    // events fact must shuffle ONCE — HashPartitioning(user_id) from
    // the window already co-locates the (user_id, jid) groups, so a
    // second hashpartitioning over the fact means the reuse broke
    val p = plan(graft.queries.EventWindows.touchJourneys(spark, sf001))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"expected one user_id shuffle, saw $hashEx:\n$p")
    assert(!p.contains("Join"), s"journey derivation must not join:\n$p")
  }

  test("idle-rich customers: scalar broadcast + anti join, no correlation leftovers") {
    // q134 (TPC-H Q22 shape): the global positive-balance average is a
    // 1-row broadcast nested loop (the only acceptable cross join) and
    // the NOT EXISTS plans as a broadcast/shuffled anti join
    val p = plan(graft.queries.Correlated.idleRichCustomers(spark, sf001))
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("celled multimodal retrieval joins on the cell key, never cross-products") {
    // q178: the candidate restriction must plan as an equi join on the
    // cell id (queries broadcast); only the |Q|-bounded q177 brute tier
    // is allowed a broadcast nested loop
    val p = plan(graft.queries.MultimodalQueries.multimodalRetrievalCelled(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"cell join not a hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in celled tier:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"celled tier fell back to nested loop:\n$p")
  }

  test("pricing summary is one scan + one aggregation: no join, no window") {
    // q170 (TPC-H Q1 shape): the canonical grouped scan — the shipdate
    // cutoff reaches the parquet scan, and nothing but the hash agg's own
    // exchange appears in the plan
    val df = graft.queries.Correlated.pricingSummary(spark, sf001)
    val p = plan(df)
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate cutoff not pushed to the scan:\n$p")
  }

  test("shipping priority: segment prune broadcasts, one fact shuffle, top-k") {
    // q171 (TPC-H Q3 shape): the BUILDING customers broadcast into the
    // date-pruned orders, the fact joins on orderkey, and the top 10 plans
    // as TakeOrderedAndProject — no global sort of the grouped output
    val p = plan(graft.queries.Correlated.shippingPriority(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"segment prune not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("revenue delta pushes every predicate into the parquet scan") {
    // q172 (TPC-H Q6 shape): shipdate range, discount band, and quantity
    // cap are all raw-column comparisons — all must appear as PushedFilters
    val df = graft.queries.Correlated.revenueDelta(spark, sf001)
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"scan-side agg grew a join/window:\n$p")
    // the rendered plan truncates long PushedFilters lists — read the
    // scan node's metadata, which carries the full string
    val pushed = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.getOrElse(sys.error("no parquet scan in the plan"))
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"predicate $f not pushed: $pushed")
    }
  }

  test("product profit: part and supplier⋈nation dims broadcast, fact shuffles once") {
    // q173 (TPC-H Q9 shape): the LIKE-pruned part list and the
    // supplier⋈nation dim both broadcast; the only shuffled join is the
    // fact⋈orders orderkey join feeding the nation×year rollup
    val df = graft.queries.Correlated.productTypeProfit(spark, sf001)
    val p = plan(df)
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 2, s"expected ≥2 broadcast dim joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the dim joins:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("order-count distribution: left outer join preserves zero-order customers") {
    // q174 (TPC-H Q13 shape): orders pre-aggregate to per-custkey counts
    // BEFORE the customer join (the wide row never rides a fact-sized
    // shuffle) and the join itself is genuinely LeftOuter
    val df = graft.queries.Correlated.orderCountDistribution(spark, sf001)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }
    assert(joins.exists(_.toString == "LeftOuter"),
      s"zero-order customers need a LeftOuter join, got: $joins")
    val join = df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.get
    val rightAgg = join.right.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(rightAgg.isDefined,
      s"orders not pre-aggregated below the join:\n${join.right}")
  }

  test("bm25: query terms broadcast into the postings join, nothing cartesian") {
    // q186: the corpus-sized relations (postings, lengths) must never
    // meet in a cartesian or be the build side of anything; the tiny
    // query-term relation broadcasts. The only cross joins are the
    // 1-row totals broadcast.
    val df = graft.queries.RetrievalQueries.bm25Search(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
  }

  test("bfs hops: per-level expansion is keyed joins over checkpointed frontiers") {
    // q188's levels materialize via localCheckpoint, so pin the SHAPE of
    // one expansion step directly: frontier ⋈ adjacency must be an equi
    // join (hash or sort-merge on the node key), the visited-set
    // subtraction an anti join — no nested loop anywhere.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = graft.operators.Graph.undirectedEdges(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
    val adj = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val frontier = Seq(1L).toDF("seed")
      .select(col("seed"), col("seed").as("node"))
    val step = frontier.join(adj, col("node") === col("src"))
      .select(col("seed"), col("dst").as("node")).distinct()
      .join(frontier.select("seed", "node"), Seq("seed", "node"), "left_anti")
    val p = step.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"non-equi join in BFS step:\n$p")
    assert(p.contains("LeftAnti"), s"visited subtraction not an anti join:\n$p")
  }

  test("semantic dedup: bucket-keyed pair join, never a cross product") {
    // the verification pair volume must be Σ per-bucket n² (equi join on
    // the LSH bucket), not corpus² — a cross shape here is the SemDeDup
    // scale killer
    val p = plan(graft.queries.DedupQueries.semanticDedup(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi pair join in semantic dedup:\n$p")
  }

  test("IVFADC: cell-equi candidates, broadcast codebook joins, no cartesian") {
    // the composition's scale contract: the IVF restriction is an equi
    // join on the cell id and the ADC scoring joins integer keys against
    // a broadcast LUT — a CartesianProduct anywhere is the scale killer;
    // the only nested-loop shapes allowed are the two contract-bounded
    // broadcast crosses (queries x cell-centroids probe, exact-flag
    // query side — the q37 shape)
    val p = plan(graft.queries.SimilarityQueries.ivfAdcRetrieval(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"cartesian in IVFADC:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"more nested-loop joins than the two bounded crosses:\n$p")
  }

  test("residual IVFADC (q292): celled candidates, broadcast LUT/offset, " +
      "no cartesian") {
    // Same contract as q233 plus the two NEW bounded broadcast sides
    // (the per-(query, cell) residual LUT and the offset term) — still
    // equi joins on integer keys, still at most the two contract-bounded
    // nested-loop crosses (probe + exact-flag query side).
    val p = plan(
      graft.queries.SimilarityQueries.ivfAdcResidualRetrieval(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"cartesian in q292:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"more nested-loop joins than the two bounded crosses:\n$p")
  }

  test("BPE merge rounds: every window keyed by the word, no cartesian") {
    val p = plan(graft.queries.TextQueries.bpeEncode(spark, sf001))
    assert(!p.contains("CartesianProduct"), s"cartesian in BPE:\n$p")
    // the per-round argmax pair is a 1-row broadcast (TakeOrdered +
    // BroadcastNestedLoopJoin is the accepted scalar-broadcast shape);
    // six rounds -> at most six such crosses, nothing else nested-loop
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 6, s"unexpected nested-loop joins in BPE:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"argmax pair should be a TakeOrdered, not a full sort:\n$p")
  }

  test("incremental semantic dedup: bucket-keyed probes, never a cross product") {
    val p = plan(graft.queries.DedupQueries.semanticDedupIncremental(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi pair join in incremental semantic dedup:\n$p")
  }

  test("hybrid RRF fuses bounded lists: no cross product, fusion rollup keyed") {
    // r16: the fused relation is StageCache'd (q220+q224 share it), so
    // the registered query's plan is a scan of the checkpointed rows;
    // the shape to pin is the BUILD pipeline's.
    val df = graft.queries.RetrievalQueries.hybridFusedPlan(spark, sf001, 5)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"cartesian in hybrid fusion:\n$p")
    // the dense tier's query side is a broadcast by contract; the only
    // BroadcastNestedLoopJoin allowed is that bounded query-side cross
    // (the q37 shape) — the fusion itself must join nothing at all, so
    // the plan's final stages are a keyed aggregation + keyed window
    assert(p.contains("TakeOrderedAndProject") || p.contains("Window"),
      s"fusion head missing:\n$p")
    // the registered consumer must stay cartesian-free too
    val pc = plan(graft.queries.RetrievalQueries.hybridRrf(spark, sf001))
    assert(!pc.contains("CartesianProduct"), s"cartesian in q220:\n$pc")
  }

  test("coreness: staged symmetric edges, keyed rounds, nothing quadratic") {
    val p = plan(graft.queries.GraphAnalytics.copurchaseCoreness(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in coreness rounds:\n$p")
    assert(p.contains("ExistingRDD"), s"edge staging missing:\n$p")
  }

  test("rerank joins candidates by id: no cartesian beyond the dense tier's broadcast") {
    val p = plan(graft.queries.RetrievalQueries.rerankFused(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in rerank pipeline:\n$p")
  }

  test("personalized pagerank: staged edges, keyed rounds, nothing quadratic") {
    val p = plan(graft.queries.GraphAnalytics.brandAffinityPpr(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in PPR rounds:\n$p")
    assert(p.contains("ExistingRDD"), s"edge staging missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("silhouette: label sums broadcast into the dot join, no pairwise join") {
    val p = plan(graft.queries.SimilarityQueries.embeddingSilhouette(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in silhouette:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"label-sum side must broadcast:\n$p")
  }

  test("pq retrieval: codebook and LUT broadcast, no cartesian beyond the exact-flag cross") {
    val p = plan(graft.queries.SimilarityQueries.pqRetrieval(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in PQ pipeline:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook/LUT sides must broadcast:\n$p")
  }

  test("mmr selection: every greedy round joins candidate-keyed, nothing quadratic") {
    val p = plan(graft.queries.RetrievalQueries.mmrDiversified(spark, sf001))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in MMR rounds:\n$p")
    assert(p.contains("ExistingRDD"),
      s"candidate/sims staging missing:\n$p")
  }

  test("local clustering: oriented wedge joins, no cartesian, no window") {
    val df = graft.queries.GraphAnalytics.copurchaseLcc(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"cartesian in lcc wedge pipeline:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "unexpected window in the lcc pipeline")
  }

  test("centroid similarity: one corpus shuffle, pairwise only on the sum table") {
    val p = plan(graft.queries.SimilarityQueries.sourceEmbeddingSimilarity(spark, sf001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi pairwise join in centroid similarity:\n$p")
    assert(p.contains("ExistingRDD"), s"sum-table staging missing:\n$p")
  }

  test("quality classifier is one aggregation pass over the hashed features") {
    val df = graft.queries.TextQueries.qualityClassify(spark, sf001)
    val p = plan(df)
    assert(!p.contains("Join"), s"classifier must not join:\n$p")
    // logits fold into the same grouped aggregation (no per-class scans)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs <= 6, s"more aggregation stages than one rollup chain:\n$p")
  }

  test("line dedup: hash-keyed joins only, no window, nothing quadratic") {
    val df = graft.queries.DedupQueries.lineDedupReport(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic strategy in the line-dedup pipeline:\n$p")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "unexpected window in line dedup")
  }

  test("cross-doc span scrub: pair tier stays keyed, no cartesian") {
    val df = graft.queries.DedupQueries.spanScrubReport(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic strategy in the span-scrub pipeline:\n$p")
    assert(p.contains("ExistingRDD"), s"pair-tier staging missing:\n$p")
  }

  test("knn descent: no cartesian; only 1-row scalar broadcast crosses") {
    val df = graft.queries.SimilarityQueries.knnGraphReport(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the knn pipeline:\n$p")
    // the heavy legs (seed pairs, rescore, probe cross) ran at eager-
    // checkpoint time; the readout plan reads staged RDDs and crosses
    // only the 1-row count scalars (4 per stage, contract-bounded)
    assert(p.contains("ExistingRDD"), s"graph staging missing:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 8, s"more than the 8 scalar crosses:\n$p")
  }
}
