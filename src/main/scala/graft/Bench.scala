package graft

import graft.ext.StageCache
import java.nio.file.{Files, Paths, StandardOpenOption => Open}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** Suite benchmark: times every SparkEntry query at
  * $SPARK_GRAFT_SF_DIR in sorted name order over `SPARK_GRAFT_PASSES`
  * full passes (default 2), after an untimed table warm-up, and reports
  * each query's minimum: the steady-state latency, robust to transient
  * load on a shared machine. Pass 1's total is reported beside it as
  * `cold_pass_s`. A query that fails in every pass gets a
  * null time and an `errors` entry, so a fast failure cannot deflate the
  * total.
  *
  * One JSON object is written twice: whole to `bench_out.json` in the
  * working directory, and to stdout without its per-query maps, so the
  * stdout line stays under 4 KB for a reader that keeps only the tail.
  *
  * Regression gates: one rule ([[over]]) against two baselines, the
  * per-query history in `bench_history.jsonl` and the QTime floors in
  * BASELINE.md. A flagged query is re-run after the suite and judged on
  * its minimum over all runs ([[adjudicate]]); only flags that survive
  * are asserted, refuted ones are recorded but not asserted. A run that
  * the load gate marks suspect never becomes a baseline: a loaded
  * machine can inflate a run but never relax what later runs are judged
  * against.
  */
object Bench {
  type Times = Seq[(String, Option[Double])]
  type Ratios = Seq[(String, Double)]
  type Run = Map[String, Double]

  private val HistoryFile = "bench_history.jsonl"
  private val QuarantineFile = "bench_quarantine.jsonl"

  /** The canonical sf of a data dir is its basename: a trailing slash is
    * ignored, and `/data/xsf0.1` is not sf0.1. */
  private[graft] def sfName(sfDir: String): String =
    new java.io.File(sfDir).getName

  /** QTime-floor rows parsed from BASELINE.md text, SF-SCOPED: the main
    * tables are measured at sf0.1; the sf1 table lives between explicit
    * SF1-FLOORS markers so the two populations can never mix (the row
    * format `| qNNN | X.XXs |` is identical — a format-global parse
    * would mass-flag one sf against the other's floors). At sf0.1 the
    * sf1 block is excised before parsing; at an sf1 dir ONLY the block
    * is parsed (absent block → empty map → gate inactive); at any other
    * sf the gate is declared inactive. */
  private[graft] def parseFloors(text: String, sfDir: String): Run = {
    val pat = """\|\s*(q\w+)\s*\|\s*([0-9.]+)s\s*\|""".r
    val begin = "<!-- SF1-FLOORS-BEGIN -->"
    val end = "<!-- SF1-FLOORS-END -->"
    val b = text.indexOf(begin)
    val e = text.indexOf(end)
    val marked = b >= 0 && e > b
    val scope = sfName(sfDir) match {
      case "sf1" => if (marked) text.substring(b + begin.length, e) else ""
      case "sf0.1" =>
        if (marked) text.substring(0, b) + text.substring(e + end.length) else text
      case _ => ""
    }
    pat.findAllMatchIn(scope).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Per-query times of a history (or quarantine) line recorded at `sf`;
    * None for another sf or a corrupt line, which never poisons the
    * rest. */
  private[graft] def runAt(line: String, sf: String): Option[Run] =
    try {
      val j = parse(line)
      (j \ "sf", j \ "queries") match {
        case (JString(s), JObject(fields)) if sfName(s) == sf =>
          Some(fields.collect { case (k, JDouble(v)) => k -> v }.toMap)
        case _ => None
      }
    } catch { case _: Throwable => None }

  /** StageCache calls so far: every getOrStage adds one build or one hit,
    * so a change tells that a query staged or reused an entry. */
  private[graft] def stageCalls: Long =
    StageCache.stats match { case (_, builds, hits, _, _, _, _) => builds + hits }

  /** The flag rule of both gates: slower than twice the baseline AND by
    * more than 0.5 s. Sub-second queries swing 1.5–3× with in-suite
    * JVM/GC state, and every flag with a smaller delta has isolated back
    * to its floor in a fresh JVM; a regression that matters at scale
    * clears half a second. */
  private[graft] def over(base: Run)(name: String, t: Double): Boolean =
    base.get(name).exists(b => b > 0 && t > 2 * b && t - b > 0.5)

  /** Per-query history baseline: the second-smallest prior time, so one
    * lucky outlier run cannot make every later run read as a
    * regression; the only prior time when there is one. */
  private[graft] def baseline(history: Seq[Run]): Run =
    history.flatten.groupBy(_._1).map { case (k, vs) =>
      val sorted = vs.map(_._2).sorted
      k -> (if (sorted.size >= 2) sorted(1) else sorted.head)
    }

  /** Queries that either gate flags; they are re-run before
    * [[adjudicate]]. */
  private[graft] def flagged(minima: Times, history: Seq[Run],
                             floors: Run): Seq[String] = {
    val prior = baseline(history)
    minima.collect {
      case (name, Some(t)) if over(prior)(name, t) || over(floors)(name, t) => name
    }
  }

  final case class Verdict(times: Times, regressions: Ratios,
                           suspectRegressions: Ratios, floorViolations: Ratios,
                           floorRefuted: Ratios, retried: Seq[String],
                           loadRatio: Option[Double], loadStreak: Int) {
    def loadSuspect: Boolean = loadStreak > 0
  }

  /** Judge the suite minima against both baselines, after the flagged
    * queries' re-runs (`retryMin`: each one's minimum over its re-runs).
    *
    * A flag survives when the minimum over all runs still clears
    * [[over]], and is reported as its ratio to the baseline. Each
    * baseline judges only the names it flagged before the retry: a
    * history flag the re-runs refute becomes a suspect regression; a
    * refuted floor flag lands in `floorRefuted` unless history already
    * refuted it, so no flag is counted twice.
    *
    * Load gate: against each of the last 10 history runs that shares at
    * least 50 queries with this one, compare the totals over the shared
    * queries (suite composition changes, so whole totals don't compare).
    * A median ratio above 1.5 means the whole suite slowed, which no
    * single-query change does: the history survivors become suspect, and
    * the run extends the streak of `priorStreak` quarantined runs. Floor
    * violations stand either way. */
  private[graft] def adjudicate(minima: Times, retryMin: Run,
                                history: Seq[Run], floors: Run,
                                priorStreak: Int): Verdict = {
    val prior = baseline(history)
    val times = minima.map { case (name, t) =>
      name -> (t ++ retryMin.get(name)).minOption
    }
    val current = times.collect { case (name, Some(t)) => name -> t }.toMap
    // (survivors, refuted) of one baseline's own flags; `judged` names
    // are left out of the refuted side.
    def judge(base: Run, judged: Set[String]): (Ratios, Ratios) = {
      def ratio(name: String) = name -> current(name) / base(name)
      val survivors = times.collect {
        case (name, Some(t)) if over(base)(name, t) => ratio(name)
      }
      val refuted = minima
        .collect { case (name, Some(t)) if over(base)(name, t) => name }
        .filterNot(n => judged(n) || survivors.exists(_._1 == n)).map(ratio)
      (survivors, refuted)
    }
    val (raw, historyRefuted) = judge(prior, Set.empty)
    val (floorViolations, floorRefuted) =
      judge(floors, historyRefuted.map(_._1).toSet)
    val loadRatio = {
      val ratios = history.takeRight(10).flatMap { run =>
        val shared = run.keySet.intersect(current.keySet).toSeq
        val historyTotal = shared.map(run).sum
        if (shared.size < 50 || historyTotal <= 0) None
        else Some(shared.map(current).sum / historyTotal)
      }.sorted
      ratios.lift(ratios.size / 2)
    }
    val loadSuspect = loadRatio.exists(_ > 1.5)
    Verdict(times,
      regressions = if (loadSuspect) Nil else raw,
      suspectRegressions = (if (loadSuspect) raw else Nil) ++ historyRefuted,
      floorViolations, floorRefuted, retryMin.keys.toSeq.sorted, loadRatio,
      loadStreak = if (loadSuspect) priorStreak + 1 else 0)
  }

  private def round2(v: Double): JValue =
    JDouble(BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

  private def ratios(m: Ratios): JObject =
    JObject(m.map { case (k, v) => k -> round2(v) }.toList)

  /** A JSON object of the fields that have a value (not JNothing). */
  private def obj(fields: List[JField]): JObject =
    JObject(fields.filter(_._2 != JNothing))

  /** An empty object or array as JNothing, so [[obj]] leaves it out. */
  private def unlessEmpty(j: JValue): JValue =
    if (j.children.isEmpty) JNothing else j

  /** Seconds per query, null for a query that failed. */
  private def timesJson(ts: Times): JObject =
    JObject(ts.map { case (k, t) => k -> t.fold[JValue](JNull)(JDouble(_)) }.toList)

  /** The verdict's fields, in line order; empty maps and the load fields
    * of a run that is not load-suspect are left out. A streak of load
    * suspects is how a real change to shared infrastructure that slows
    * the whole suite would look, so it is escalated instead of being
    * filed as load forever. */
  private[graft] def verdictFields(v: Verdict,
                                   floorGateActive: Boolean): List[JField] =
    obj(List(
      "regressions" -> ratios(v.regressions),
      "retried" -> unlessEmpty(JArray(v.retried.map(JString(_)).toList)),
      "suspect_regressions" -> unlessEmpty(ratios(v.suspectRegressions)),
      "floor_gate_active" -> JBool(floorGateActive),
      "floor_violations" -> unlessEmpty(ratios(v.floorViolations)),
      "floor_refuted" -> unlessEmpty(ratios(v.floorRefuted))) ++
      (if (!v.loadSuspect) Nil
       else List(
         "load_suspect" -> JBool(true),
         "load_ratio_vs_history" -> round2(v.loadRatio.get),
         "load_suspect_streak" -> JInt(v.loadStreak),
         "global_slowdown_suspect" ->
           (if (v.loadStreak >= 2) JBool(true) else JNothing)))).obj

  /** Each pass's summed time, and pass 1's alone as `cold_pass_s`: the
    * cold pass pays the StageCache staging and JIT warm-up that the
    * min-of-passes hides. Informational; no gate reads it. */
  private[graft] def passFields(passTotals: Seq[Double]): List[JField] = List(
    "pass_totals" -> JArray(passTotals.map(JDouble(_)).toList),
    "cold_pass_s" -> round2(passTotals.head))

  /** The stdout line: the full object without its per-query detail,
    * which only the file carries. */
  private[graft] def compactOf(full: JObject): JObject =
    JObject(full.obj.filterNot { case (k, _) => Set("queries", "standalone", "stage_cache")(k) })

  /** The UTF-8 lines of `file`; none when it is absent or unreadable. */
  private def readLines(file: String): List[String] =
    scala.util.Using(scala.io.Source.fromFile(file)(scala.io.Codec.UTF8))(_.getLines().toList)
      .getOrElse(Nil)

  /** Write `json` as one line; a failed write never fails the run. */
  private def writeLine(file: String, json: JValue, append: Boolean): Unit =
    try Files.writeString(Paths.get(file), compact(json) + "\n", Open.CREATE,
      if (append) Open.APPEND else Open.TRUNCATE_EXISTING)
    catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf = sfName(sfDir)
    val cores = Session.defaultCores
    val spark = Session(cores)
    // Two warnings repeat dozens of times per suite and bury the tail of
    // the output: WindowExec's "No Partition Defined" for the suite's
    // deliberate, limit-bounded unpartitioned windows (PlanSpec's window
    // audit is the real gate), and the lineage-truncated notice on every
    // unpersist of a per-round localCheckpoint, where the cut is the
    // point. This runner only: Verify and the specs keep the defaults.
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.rdd.MapPartitionsRDD").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    QTime.warmUp(spark, sfDir)
    // Cleanup of shuffle files, broadcasts and checkpoint RDDs rides the
    // ContextCleaner's weak references, so it waits for a GC; without one
    // the backlog OOMs a long suite, and a periodic-GC interval lands its
    // pauses inside timed queries. An explicit GC every GcEvery queries,
    // outside any timing, drains it on schedule.
    val GcEvery = 24
    // Queries that staged or reused a StageCache entry: their suite
    // minima are warm numbers.
    val cacheInvolved = scala.collection.mutable.TreeSet.empty[String]
    def onePass(): Seq[(String, Either[Throwable, Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((name, fn), idx) =>
          val calls = stageCalls
          val t = QTime.time(spark, sfDir, fn)
          if (stageCalls != calls) cacheInvolved += name
          if (idx % GcEvery == GcEvery - 1) System.gc()
          name -> t
      }
    val nPasses = QTime.passes(default = 2)
    val passes = (1 to nPasses).map(_ => onePass())
    val passTotals = passes.map(_.flatMap(_._2.toOption).sum)
    val perQuery = passes.transpose
    val minima: Times =
      perQuery.map(runs => runs.head._1 -> runs.flatMap(_._2.toOption).minOption)
    // A query is an error only when every pass failed: one good timing
    // means it ran.
    val errors = perQuery.collect {
      case runs @ (name, Left(e)) +: _ if runs.forall(_._2.isLeft) =>
        name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    }
    val history = readLines(HistoryFile).flatMap(runAt(_, sf))
    // BASELINE.md carries non-ASCII prose: read as anything but UTF-8,
    // a decode failure would silently disable the gate.
    val floors = parseFloors(readLines("BASELINE.md").mkString("\n"), sfDir)
    if (floors.isEmpty)
      System.err.println(
        "WARN graft.Bench: no QTime floors parsed from BASELINE.md — " +
          "the floor credibility gate is INACTIVE for this run")
    // The minimum of `runs` timings of `name` after dropping StageCache.
    def afterInvalidate(name: String, runs: Int): Option[Double] = {
      StageCache.invalidateAll()
      (1 to runs).flatMap(_ => QTime.time(spark, sfDir, SparkEntry.queries(name)).toOption)
        .minOption
    }
    // A load spike can straddle both passes of one query while the
    // run-level load gate passes, so each flag is re-measured: two more
    // runs in this JVM after the suite. StageCache is dropped once, before
    // them: the first pays full staging, the second rides what the first
    // re-staged, the same warm state the suite and history measure.
    // Dropping it before every run would judge a standalone time against
    // warm history, a permanent false flag for any cache-sharing query.
    val retryMin: Run = flagged(minima, history, floors)
      .flatMap(name => afterInvalidate(name, runs = 2).map(name -> _)).toMap
    // A cache-sharing query's suite minimum is warm; BASELINE.md's floors
    // are standalone, so each one is re-timed once, cold, for the file.
    // Only at sf0.1: at sf1 it would re-pay every heavy staging pipeline
    // for no gate.
    val standalone: Times =
      if (sf != "sf0.1") Nil
      else cacheInvolved.toSeq.map(name => name -> afterInvalidate(name, runs = 1))
    val priorStreak =
      readLines(QuarantineFile).reverse.takeWhile(runAt(_, sf).nonEmpty).size
    val v = adjudicate(minima, retryMin, history, floors, priorStreak)
    val (entries, builds, hits, evictions, deadRebuilds, bytes, peakBytes) =
      StageCache.stats
    val full = obj(List(
      "metric" -> JString("total"),
      "value" -> JDouble(v.times.flatMap(_._2).sum),
      "unit" -> JString("sec"),
      "method" -> JString(s"min-of-$nPasses"),
      "n_queries" -> JInt(v.times.size)) ++
      passFields(passTotals) ++ List(
      "queries" -> timesJson(v.times),
      "standalone" -> unlessEmpty(timesJson(standalone.filter(_._2.isDefined))),
      // evictions > 0 means the LRU is undersized for the live key
      // population (a warm reading silently became a rebuild);
      // dead_rebuilds > 0 means pinned blocks were dropped under a live
      // memo; peak_forgotten_bytes > 0 means evicted blocks stayed
      // stored, beyond the byte budget, until the query's sweep.
      "stage_cache" -> JObject("entries" -> JInt(entries), "builds" -> JInt(builds),
        "hits" -> JInt(hits), "evictions" -> JInt(evictions),
        "dead_rebuilds" -> JInt(deadRebuilds), "bytes" -> JInt(bytes),
        "peak_bytes" -> JInt(peakBytes),
        "forgotten_bytes" -> JInt(StageCache.forgottenBytes),
        "peak_forgotten_bytes" -> JInt(StageCache.peakForgotten)),
      "errors" -> JObject(errors.map { case (k, e) => k -> JString(e) }.toList)) ++
      verdictFields(v, floors.nonEmpty) :+ ("sf" -> JString(sfDir)))
    writeLine("bench_out.json", full, append = false)
    // Queries that failed in every pass are left out: a null can't be a
    // baseline. A load-suspect run is quarantined instead of appended: it
    // would loosen later baselines and pull the load gate's own median
    // toward accepting the next loaded run.
    val run = obj(List("ts" -> JInt(System.currentTimeMillis()),
      "cpus" -> JString(cores.toString), "sf" -> JString(sfDir),
      "cold_pass_s" -> round2(passTotals.head),
      "queries" -> timesJson(v.times.filter(_._2.isDefined)),
      "load_ratio_vs_history" ->
        (if (v.loadSuspect) round2(v.loadRatio.get) else JNothing)))
    writeLine(if (v.loadSuspect) QuarantineFile else HistoryFile, run, append = true)
    spark.stop()
    println(compact(compactOf(full)))
  }
}
