package graft

/** Driver-run benchmark: times every SparkEntry query at
  * $SPARK_GRAFT_SF_DIR, emits ONE JSON line. A short warmup (scan + tiny
  * agg per table) is run untimed first so the first timed query doesn't
  * absorb JVM/codegen/scan cold-start; queries run in sorted name order so
  * per-round numbers are comparable. Each query is timed over TWO full
  * passes and reported as the per-query minimum (steady-state latency);
  * the JSON carries `method` and both raw `pass_totals` so the
  * measurement is self-describing.
  *
  * Two JSON artifacts: `bench_out.json` in the working directory carries
  * the FULL per-query map plus both pass totals; stdout gets only a
  * COMPACT summary line (total, method, n_queries, errors, sf). The
  * driver captures just the tail of stdout (~4 KB) — the 82-query map is
  * ~5.5 KB and overflowed it in round 4 (`BENCH_r04.json parsed: null`),
  * so the per-query detail must never ride on stdout. A query that
  * throws is reported in an `errors` map (name -> message) instead of
  * being silently timed.
  *
  * Regression gate — CROSS-ROUND: every run appends its per-query
  * minima (plus sf, cpu count, timestamp) as one line to
  * `bench_history.jsonl`, and the gate compares the current run against
  * the SECOND-smallest prior value per query across ALL history lines
  * with the same sf (the single smallest when only one exists) — not
  * just the immediately preceding run, which the round-6 gate did and
  * so was blind to multi-round drift (q07 doubled between rounds 5 and
  * 6 with an empty `regressions` map); and not the raw historical
  * minimum either, which one lucky outlier run can set so low that
  * every later idle run reads as a 2× regression (q144's fate for a
  * round). Any query slower than 2× that baseline (and by more than
  * 0.5s absolute, so sub-second noise can't trip it) is RE-RUN up to
  * twice in the same JVM after the suite and re-judged on the min over
  * all passes (the in-process analogue of graft.QTime isolation); only
  * flags that survive re-measurement land in the `regressions` map
  * (name → ratio) on BOTH json lines — refuted flags are preserved in
  * `suspect_regressions`, never asserted. The history
  * file is seeded with the round-6 driver run; repeated idle runs
  * tighten the baseline toward the true steady-state floor, which is
  * the right direction — a loaded driver machine can inflate a run,
  * but can never relax the baseline it is judged against.
  */
object Bench {
  /** JSON string-body escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a message or in builder-authored SQL
    * (Verify's oracle_sql.json) would otherwise break the reader's parse. */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** QTime-floor rows parsed from BASELINE.md text, SF-SCOPED: the main
    * tables are measured at sf0.1; the sf1 table lives between explicit
    * SF1-FLOORS markers so the two populations can never mix (the row
    * format `| qNNN | X.XXs |` is identical — a format-global parse
    * would mass-flag one sf against the other's floors). At sf0.1 the
    * sf1 block is excised before parsing; at an sf1 dir ONLY the block
    * is parsed (absent block → empty map → gate inactive); at any other
    * sf the gate is declared inactive. */
  private[graft] def parseFloors(text: String,
                                 sfDir: String): Map[String, Double] = {
    val pat = """\|\s*(q\w+)\s*\|\s*([0-9.]+)s\s*\|""".r
    // exact-basename compare: a trailing slash or a dir merely ENDING
    // in "sf1" (e.g. /data/xsf1) must not enable or mis-scope the gate
    val base = new java.io.File(sfDir).getName
    val isSf01 = base == "sf0.1"
    val isSf1 = base == "sf1"
    if (!isSf01 && !isSf1) Map.empty
    else {
      val begin = "<!-- SF1-FLOORS-BEGIN -->"
      val end = "<!-- SF1-FLOORS-END -->"
      val b = text.indexOf(begin)
      val e = text.indexOf(end)
      val scope =
        if (isSf1) {
          if (b >= 0 && e > b) text.substring(b + begin.length, e) else ""
        } else if (b >= 0 && e > b)
          text.substring(0, b) + text.substring(e + end.length)
        else text
      pat.findAllMatchIn(scope)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = Session.defaultCores
    val spark = Session(cores)
    // Silence WindowExec's "No Partition Defined" WARN for THIS runner
    // only: the registered suite's unpartitioned windows are exactly the
    // deliberate, limit-bounded SmallRank.afterLimit sites, and the real
    // gate is PlanSpec's suite-wide window audit — but ~40 repeats of the
    // same warning bury the bench tail (and any FUTURE real warning from
    // a different logger) under noise. Verify/tests keep the default
    // level, so an accidental unpartitioned window still surfaces there.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Likewise the iterative graph operators' per-round localCheckpoint
    // emits one "RDD N was locally checkpointed, its lineage has been
    // truncated" WARN per unpersist — dozens per suite run, burying the
    // bench tail (the round-8 record's stdout tail was 90% this line).
    // The truncation is deliberate (lineage cuts are the point of the
    // checkpoint); bench runner only, Verify/tests keep the default.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    QTime.warmUp(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // TARGETED CLEANUP, not a periodic-GC tick: 289 queries × 2 passes
    // leave shuffle files, broadcast blocks and localCheckpoint RDDs
    // whose cleanup rides ContextCleaner WEAK REFERENCES — reclaimed
    // only after a GC notices them. With an 8g heap and mostly-short
    // queries, full GCs were rare enough that the round-12 suite OOM'd
    // mid-pass-2 on accumulated state. Round 12's fix was
    // spark.cleaner.periodicGC.interval=45s, which bounded the backlog
    // but landed full-GC pauses INSIDE timed query passes — the
    // round-12 suite ran 1.21× its round-11 shared-query total with no
    // per-query plan change. This replaces the tick: an explicit
    // System.gc() every GC_EVERY queries, issued OUTSIDE the timed
    // region (after the timing is taken), so the cleaner's reference
    // queue drains on schedule without taxing any query's measurement.
    val GC_EVERY = 24
    // A query that throws gets a null timing (not its partial elapsed time),
    // so a fast-failing query can't deflate the total relative to a run
    // where it succeeds.
    // Queries whose plan construction hit StageCache (as builder OR
    // rider) — collected during the suite so the standalone loop below
    // knows which suite minima are warm numbers.
    val cacheInvolved = scala.collection.mutable.TreeSet.empty[String]
    def onePass(): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((name, fn), idx) =>
        graft.ext.StageCache.resetTouched()
        // Checkpoint/cached RDD blocks are pinned until unpersisted;
        // across a 289-query suite the accumulated blocks squeeze later
        // queries' memory (q116 measured 2.3x slower in-suite than
        // isolated before this), so QTime.time sweeps them AFTER the
        // timing. StageCache-pinned ids (the q267/q276/q280 shared knn
        // stages — bounded, metadata-scale relations) survive the sweep
        // so the share holds across the pass; the retry loop below
        // invalidates them so a re-measured query pays its full
        // standalone cost.
        val res = name -> (QTime.time(spark, sfDir, fn) match {
          case Right(t) => Some(t)
          case Left(e) =>
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            None
        })
        if (graft.ext.StageCache.wasTouched) cacheInvolved += name
        if (idx % GC_EVERY == GC_EVERY - 1) System.gc()
        res
      }
    // Two full passes (default), per-query MINIMUM reported: steady-state
    // latency, the number a resident engine (the reference's always-on
    // ClickHouse) is measured by — and robust to transient load spikes on
    // a shared bench machine, which single-shot timings conflate with
    // plan cost. Methodology is declared in the JSON (`method`, plus the
    // raw pass totals) so round-over-round comparisons stay
    // interpretable. SPARK_GRAFT_PASSES overrides the pass count (used
    // for the one-shot sf1 scaling run, where a second 10×-data pass
    // buys no extra signal at twice the wall-clock).
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
      .getOrElse(2)
    val passes: Seq[Seq[(String, Option[Double])]] =
      (1 to nPasses).map(_ => onePass())
    val results: Seq[(String, Option[Double])] =
      passes.head.indices.map { i =>
        val name = passes.head(i)._1
        name -> passes.flatMap(p => p(i)._2).reduceOption[Double](math.min)
      }
    // A query stays in `errors` only if BOTH passes failed — one good
    // timing means the query ran; a transient single-pass failure must
    // not make a fully-timed run read as failed.
    results.foreach { case (name, t) => if (t.isDefined) errors.remove(name) }
    // Baseline per query across ALL history runs at this sf: the
    // SECOND-smallest prior value when two or more samples exist (one
    // lucky outlier run must not poison the gate for every later run —
    // q144 spent a round flagged at 2x against a single fast sample
    // that no later idle run could reproduce), else the single prior.
    // Absent / corrupt file or lines -> no baseline, no flags; a
    // corrupt line never poisons the rest.
    val historyFile = "bench_history.jsonl"
    // Each prior run at this sf as its own per-query map (per-LINE maps
    // are needed twice: flattened for the per-query baseline, and kept
    // whole for the load gate's shared-query totals).
    val historyRuns: List[Map[String, Double]] = {
      import org.json4s._
      val lines = try {
        val src = scala.io.Source.fromFile(historyFile)
        try src.getLines().toList finally src.close()
      } catch { case _: Throwable => Nil }
      lines.flatMap { line =>
        try {
          val j = org.json4s.jackson.JsonMethods.parse(line)
          (j \ "sf", j \ "queries") match {
            case (JString(s), JObject(fields)) if s == sfDir =>
              Some(fields.collect { case (k, JDouble(v)) => k -> v }.toMap)
            case _ => None
          }
        } catch { case _: Throwable => None }
      }
    }
    val prior: Map[String, Double] =
      historyRuns.flatten.groupBy(_._1).map { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        k -> (if (sorted.size >= 2) sorted(1) else sorted.head)
      }
    // Absolute-delta noise floor 0.5s: across 30+ history runs, EVERY
    // flag whose delta was under half a second (q48 0.25→0.65, q110,
    // q111, q145, q149, q76, …) isolated back to its floor in a fresh
    // JVM (graft.QTime) — sub-second queries swing 1.5–3× with in-suite
    // JVM/GC state, so a 2×-with-0.2s-delta gate produced only false
    // positives. A real regression on any query whose cost matters at
    // scale clears 0.5s; smaller drifts are still visible in
    // bench_history for cross-round reading.
    def flagged(name: String, t: Double): Boolean =
      prior.get(name).exists(p => p > 0 && t > 2 * p && t - p > 0.5)
    // FLOOR RULE (round-10 blind spot): the history gate compares
    // against prior SUITE readings, which carry the same 1.3–1.7× suite
    // pressure — so a heavy query can ship at 2.3× its fresh-JVM floor
    // while staying under 2× of history (q227 at 10.04s in BENCH_r10,
    // never retried; isolation measured 3.32s). BASELINE.md's
    // isolation-floors table is the credibility rule's source of truth;
    // parse it here (| qNNN_name | X.XXs | rows) so a suite reading
    // exceeding 2× a query's floor is ALSO auto-retried, and one that
    // survives retry is stamped into `floor_violations` — the official
    // artifact never carries an unadjudicated floor violation again.
    val floors: Map[String, Double] =
      try {
        // Explicit UTF-8: BASELINE.md carries non-ASCII prose (em dashes),
        // and under a POSIX-locale JVM the default-charset decoder throws
        // MalformedInputException — which the catch below would silently
        // turn into a disabled gate (exactly how the round-12 local bench
        // ran with floor_gate_active:false).
        val src = scala.io.Source.fromFile("BASELINE.md")(scala.io.Codec.UTF8)
        val text = try src.mkString finally src.close()
        Bench.parseFloors(text, sfDir)
      } catch { case _: Throwable => Map.empty[String, Double] }
    // A silently-empty floors map would disable the credibility gate with
    // no trace (BASELINE.md renamed, cwd drift, table format change) — so
    // the gate's liveness is stamped into the artifact and warned on
    // stderr, never inferred.
    val floorGateActive = floors.nonEmpty
    if (!floorGateActive)
      System.err.println(
        "WARN graft.Bench: no QTime floors parsed from BASELINE.md — " +
          "the floor credibility gate is INACTIVE for this run")
    def floorFlagged(name: String, t: Double): Boolean =
      floors.get(name).exists(f => f > 0 && t > 2 * f && t - f > 0.5)
    // AUTO-ADJUDICATION of per-query flags (the rounds-8/9 blind spot:
    // the official record twice shipped flags — q181 2.81x, q222 4.22x —
    // that isolation runs later disproved; a transient load spike can
    // straddle BOTH timed passes of one query while the run-total load
    // gate below still passes). Any query whose min-of-2 clears the flag
    // gate is re-run up to two more times in this same JVM, after the
    // full suite (the in-process analogue of the graft.QTime isolation
    // check), and its reported time becomes the min over ALL passes. A
    // flag the re-runs refute is recorded in `suspect_regressions`
    // (with its refuted ratio) instead of `regressions` — only flags
    // that SURVIVE re-measurement are asserted.
    val retryFlagged: Seq[String] = results.collect {
      case (name, Some(t)) if flagged(name, t) || floorFlagged(name, t) => name
    }
    val retryMin: Map[String, Double] = retryFlagged.flatMap { name =>
      SparkEntry.queries.get(name).flatMap { fn =>
        // Drop the StageCache ONCE before the attempts: attempt 1 pays
        // the full standalone staging cost (no riding blocks a suite
        // pass left warm), attempt 2 rides what attempt 1 re-staged —
        // so retryMin lands on the same warm steady state the suite
        // and the history baseline measure. Invalidating before EVERY
        // attempt would make retryMin a standalone reading compared
        // against warm history minima: a permanent false "regression"
        // for any cache-sharing query.
        graft.ext.StageCache.invalidateAll()
        val times = (1 to 2).flatMap(_ => QTime.time(spark, sfDir, fn).toOption)
        if (times.isEmpty) None else Some(name -> times.min)
      }
    }.toMap
    val adjusted: Seq[(String, Option[Double])] = results.map {
      case (name, Some(t)) if retryMin.contains(name) =>
        name -> Some(math.min(t, retryMin(name)))
      case other => other
    }
    val rawRegressions = adjusted.collect {
      case (name, Some(t)) if flagged(name, t) => name -> t / prior(name)
    }
    // Flags the retry refuted: preserved as suspect, never asserted.
    val retryRefuted = retryFlagged.filterNot(rawRegressions.map(_._1).contains)
      .flatMap(n => adjusted.collectFirst {
        case (`n`, Some(t)) if prior.contains(n) => n -> t / prior(n) })
    // Floor violations that SURVIVED the retry: the final min-over-all-
    // passes still exceeds 2× the BASELINE.md isolation floor. Stamped
    // (name → ratio vs floor) so the record is self-adjudicating.
    val floorViolations = adjusted.collect {
      case (name, Some(t)) if floorFlagged(name, t) => name -> t / floors(name)
    }
    // Floor-only flags the retry refuted (post-retry min back under 2×
    // floor). Without this, a brand-new floor-listed query with no bench
    // history that flags and is refuted would appear in `retried` but in
    // neither `suspect_regressions` (needs history) nor
    // `floor_violations` — an unadjudicated retry. Recorded as
    // name → post-retry ratio vs floor. Names already adjudicated via
    // `retryRefuted` (the history-gate side) are EXCLUDED here — a query
    // flagged by both gates and refuted once must not be double-counted
    // by artifact consumers tallying adjudicated flags.
    val floorRefuted = retryFlagged
      .filterNot(floorViolations.map(_._1).contains)
      .filterNot(retryRefuted.map(_._1).contains)
      .flatMap(n => adjusted.collectFirst {
        case (`n`, Some(t)) if floors.contains(n) => n -> t / floors(n) })
    // STANDALONE readings for cache-sharing queries (round-13 verdict
    // ask): a StageCache-riding query's suite min-of-2 is a WARM number
    // (q280 reads 0.31s against its 4.02s standalone floor) and
    // cross-round diff tools read bench_out.json — so every
    // cache-involved query is re-timed ONCE, cold, after
    // invalidateAll(), and the map is emitted beside `queries` in the
    // file artifact. The headline total, the flags and bench_history
    // all keep the suite (warm) semantics unchanged; floors in
    // BASELINE.md correspond to THESE standalone readings. Runs only at
    // the canonical sf0.1 (at sf1 the loop would re-pay ~20 heavy
    // staging pipelines for no gate benefit).
    val standalone: Map[String, Double] =
      if (!sfDir.endsWith("sf0.1")) Map.empty
      else cacheInvolved.toSeq.flatMap { name =>
        SparkEntry.queries.get(name).flatMap { fn =>
          graft.ext.StageCache.invalidateAll()
          QTime.time(spark, sfDir, fn).toOption.map(name -> _)
        }
      }.toMap
    // LOAD GATE: a loaded bench machine inflates every query uniformly,
    // which the per-query 2x gate misreads as a wall of regressions (the
    // round-8 driver record carried 15 spurious >2x entries while the
    // identical suite ran at its round-7 times three hours later on an
    // idle box). Detector: against each recent history run, compare this
    // run's total over the SHARED query set (suite composition changes
    // across rounds, so whole-suite totals are not comparable) with that
    // run's total over the same set; take the MEDIAN ratio over the
    // comparable runs (>=50 shared queries each) among the last 10
    // history lines — fewer than 10 ratios when some of those lines
    // share too few queries. A median ratio
    // > 1.5 means the whole suite — not any one query — slowed, which no
    // single-query code change does: the run is load-suspect. Then:
    // per-query flags move to `suspect_regressions` (preserved, not
    // asserted), `load_suspect`:true + the ratio are stamped on both
    // JSON lines, and the run is NOT appended to bench_history (an
    // inflated run must never become a future baseline — the converse of
    // the "idle runs tighten the baseline" rule above).
    val currentByName: Map[String, Double] =
      adjusted.collect { case (k, Some(v)) => k -> v }.toMap
    val loadRatio: Option[Double] = {
      val ratios = historyRuns.takeRight(10).flatMap { run =>
        val shared = run.keySet.intersect(currentByName.keySet)
        if (shared.size < 50) None
        else {
          val histTot = shared.toSeq.map(run).sum
          val curTot = shared.toSeq.map(currentByName).sum
          if (histTot > 0) Some(curTot / histTot) else None
        }
      }.sorted
      if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
    }
    val loadSuspect = loadRatio.exists(_ > 1.5)
    val regressions = if (loadSuspect) Nil else rawRegressions
    val suspectRegressions =
      (if (loadSuspect) rawRegressions else Nil) ++ retryRefuted
    // Locale.ROOT: a comma-decimal default locale would print "2,13"
    // and corrupt both JSON lines.
    def ratioMapJson(m: Seq[(String, Double)]): String = m
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(v))
      }
      .mkString("{", ",", "}")
    val regJson = ratioMapJson(regressions)
    // Quarantined-run streak: consecutive trailing load-suspect runs at
    // this sf (counting this one). One suspect run is machine load; a
    // STREAK of >1.5x ratios across runs is how a real change to shared
    // infrastructure (Tables.fanOut, session config, checkpoint posture)
    // that slows the whole suite would present — the quarantine file
    // preserves those runs (excluded from baselines) and the streak
    // count is stamped into the official record so it gets escalated as
    // a possible global regression instead of being permanently misfiled
    // as load.
    val quarantineFile = "bench_quarantine.jsonl"
    val loadStreak: Int =
      if (!loadSuspect) 0
      else {
        val priorStreak = try {
          val src = scala.io.Source.fromFile(quarantineFile)
          val lines = try src.getLines().toList finally src.close()
          lines.reverse.takeWhile(_.contains("\"sf\":\"" + sfDir + "\"")).size
        } catch { case _: Throwable => 0 }
        priorStreak + 1
      }
    val loadJson = {
      val retriedPart =
        if (retryMin.nonEmpty)
          retryMin.keys.toSeq.sorted
            .map("\"" + _ + "\"").mkString(""","retried":[""", ",", "]")
        else ""
      val suspectPart =
        if (suspectRegressions.nonEmpty)
          s""","suspect_regressions":${ratioMapJson(suspectRegressions)}"""
        else ""
      val floorPart =
        s""","floor_gate_active":$floorGateActive""" +
          (if (floorViolations.nonEmpty)
            s""","floor_violations":${ratioMapJson(floorViolations)}"""
          else "") +
          (if (floorRefuted.nonEmpty)
            s""","floor_refuted":${ratioMapJson(floorRefuted)}"""
          else "")
      val loadPart =
        if (loadSuspect)
          s""","load_suspect":true,"load_ratio_vs_history":${
            String.format(java.util.Locale.ROOT, "%.2f",
              Double.box(loadRatio.get))},"load_suspect_streak":$loadStreak""" +
            (if (loadStreak >= 2) s""","global_slowdown_suspect":true""" else "")
        else ""
      retriedPart + suspectPart + floorPart + loadPart
    }
    val qs = adjusted.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val standaloneJson =
      if (standalone.isEmpty) ""
      else standalone.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","standalone":{""", ",", "}")
    // StageCache honesty counters: evictions > 0 in a suite run means
    // the LRU is undersized for the live key population (a warm reading
    // silently became a rebuild — the r15 q34 swing's hypothesized
    // mechanism); dead_rebuilds > 0 means pinned blocks were dropped
    // under a live memo. Stamped so the adjudication is per-run data.
    val stageCacheJson = {
      val (scSize, scBuilds, scHits, scEvict, scDead, scBytes, scPeak) =
        graft.ext.StageCache.stats
      s""","stage_cache":{"entries":$scSize,"builds":$scBuilds,""" +
        s""""hits":$scHits,"evictions":$scEvict,"dead_rebuilds":$scDead,""" +
        s""""bytes":$scBytes,"peak_bytes":$scPeak}"""
    }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    val total = adjusted.flatMap(_._2).sum
    val passTotals = passes
      .map(p => p.flatMap(_._2).sum).mkString("[", ",", "]")
    val nQueries = adjusted.size
    val method = s"min-of-$nPasses"
    // Full detail (per-query map + pass totals) only in the file; the
    // stdout line must stay well under the driver's ~4 KB tail capture.
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","method":"$method","n_queries":$nQueries,"pass_totals":$passTotals,"queries":$qs$standaloneJson$stageCacheJson,"errors":$errJson,"regressions":$regJson$loadJson,"sf":"${jsonEscape(sfDir)}"}"""
    val compactLine =
      s"""{"metric":"total","value":$total,"unit":"sec","method":"$method","n_queries":$nQueries,"pass_totals":$passTotals,"errors":$errJson,"regressions":$regJson$loadJson,"sf":"${jsonEscape(sfDir)}"}"""
    try {
      val w = new java.io.PrintWriter("bench_out.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    // Append this run's minima to the cross-round history (queries with
    // both passes failed are omitted — a null can't become a baseline).
    // A load-suspect run is NOT appended to the baseline history (an
    // inflated sample would both loosen future per-query baselines and
    // skew the load gate's own median toward accepting the next loaded
    // run) — it goes to the QUARANTINE file instead, with its ratio, so
    // repeated suspect runs remain visible and escalatable.
    val histLine =
      s"""{"ts":${System.currentTimeMillis()},"cpus":"$cores","sf":"${jsonEscape(sfDir)}","queries":${
        adjusted.collect { case (k, Some(v)) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")}}"""
    if (!loadSuspect) try {
      val w = new java.io.FileWriter(historyFile, true)
      try w.write(histLine + "\n") finally w.close()
    } catch { case _: Throwable => () }
    else try {
      val qLine = histLine.dropRight(1) +
        s""","load_ratio_vs_history":${String.format(java.util.Locale.ROOT,
          "%.2f", Double.box(loadRatio.get))}}"""
      val w = new java.io.FileWriter(quarantineFile, true)
      try w.write(qLine + "\n") finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
    println(compactLine)
  }
}
