package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Parity, Tables}
import graft.operators.Stage.StageOps

/** Batch equivalents of streaming time-window operators over the `events`
  * table (SURVEY.md §2.9): the reference is daily-batch with no streaming
  * surface (planned steps at `/root/reference/progress.md:91-148`), so the
  * engine exposes the standard window family as ordinary aggregations —
  * tumbling / sliding via Spark's `window()` (identical semantics to the
  * Structured Streaming operator, epoch-aligned), gap-based sessionization
  * via lag + running sum.
  *
  * Scale posture: tumbling/sliding are single-shuffle hash aggregations on
  * (bucket, key) — partial aggregation upstream means the shuffle carries
  * one row per (window × key), not per event. Sessionization shuffles once
  * on user_id; per-user state is a sort within the partition, bounded by
  * per-user event counts (the same keying a streaming
  * flatMapGroupsWithState would use — see graft.streaming).
  */
object EventWindows {
  import Parity._

  /** Timestamp outputs must be written tz-naive: DuckDB's TIMESTAMP has no
    * zone, and a tz-aware Spark parquet column (isAdjustedToUTC) fails the
    * driver's value compare even at identical instants. The session TZ is
    * pinned to UTC (Verify/Bench builders), so this cast is lossless. */
  private def ntz(c: org.apache.spark.sql.Column) = c.cast("timestamp_ntz")

  /** Tumbling 1-hour window per event_type. `window()` buckets are
    * epoch-aligned, so window_start ≡ date_trunc('hour', ts). */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(ntz(col("window.start")).as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour window, 30-minute slide: each event lands in exactly
    * window/slide = 2 buckets. Same single-shuffle shape as tumbling; the
    * fan-out factor multiplies shuffle rows, not scan cost. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(ntz(col("window.start")).as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Gap-based sessionization (30-min inactivity) per user: a new session
    * starts when the gap since the previous event exceeds the threshold;
    * session id = running count of session starts. Gap comparison is done
    * on integer epoch-µs so both engines evaluate the identical predicate.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        ntz(min(col("ts"))).as("session_start"),
        ntz(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Native Spark `session_window` sessionization (the same operator the
    * streaming surface uses — graft.streaming.EventStream.sessionWindows —
    * here in batch mode, oracle-checked from first principles: Spark
    * merges events with gap < gapDuration, so the oracle CTE splits on
    * `diff >= gap`, and window end = last event + gap). */
  def sessionWindowNative(spark: SparkSession, dir: String,
                          gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(
        ntz(col("session_window.start")).as("session_start"),
        ntz(col("session_window.end")).as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Dynamic JSON props column → typed fields (`events.props` carries a
    * JSON object; the reference's analogue is the inferred-then-normalized
    * crawl schema, SURVEY.md §1.3). get_json_object is a codegen'd
    * expression — the parse fuses with the scan. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("bigint"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Ordered funnel (q73): view → click-after-view → purchase-after-click,
    * per user, reported as per-stage user counts with step conversion.
    * Each stage is one user-keyed min-timestamp aggregation joined to the
    * previous stage's user set — all three joins are user-keyed
    * aggregations over an already-reduced (one row per user) left side,
    * so the fact is scanned once per stage with its event-type filter
    * pushed to the scan and nothing larger than |users| is ever joined. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stage(t: String) = ev.filter(col("event_type") === t)
    val v = stage("view").groupBy("user_id").agg(min(col("ts")).as("tv"))
    val c = stage("click").join(v, "user_id").filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min(col("ts")).as("tc"))
    val p = stage("purchase").join(c, "user_id").filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min(col("ts")).as("tp"))
    val n1 = v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
    val n2 = c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click"))
    val n3 = p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase"))
    n1.unionByName(n2).unionByName(n3)
      .select(col("stage"), col("n_users"))
      .orderBy("stage")
  }

  /** Cohort retention (q74): users grouped by first-activity day, then
    * counted per (cohort day, day offset) for the first week — the
    * retention triangle every behavioral report draws. Two user-keyed
    * aggregations (first day, distinct active days) and one broadcast-
    * size join; the matrix itself is |days|×8 rows. */
  def cohortRetention(spark: SparkSession, dir: String,
                      maxOffset: Int = 7): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
    val cohort = act.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    act.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Rolling 7-day active users (q193): per calendar day, the DISTINCT
    * users active that day (DAU) and in the trailing `windowDays`-day
    * window (WAU) — the engagement ratio pair every product dashboard
    * leads with. Sliding DISTINCT is the aggregate windows can't do
    * (distinct state doesn't merge by subtraction), so it rides the
    * bounded-fan-out trick instead: dedup to (user, day) pairs, explode
    * each into the `windowDays` window-END days it supports, and count
    * distinct users per end day — one exact aggregation, no window
    * function, no per-day re-scan. Fan-out is × windowDays on rows that
    * are already collapsed to user-day granularity (calendar-bounded,
    * orders of magnitude below event granularity), the standard price of
    * exactness; an HLL sketch per day would be the merge-friendly
    * approximation when even that is too much.
    *
    * Window-end days with in-window activity but no same-day activity
    * still report (DAU 0); ghost days past the last activity are
    * clipped by the 1-row max-day broadcast. */
  def rollingActiveUsers(spark: SparkSession, dir: String,
                         windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1 && windowDays <= 90,
      s"windowDays out of [1,90]: $windowDays")
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
      .stage("rollingActiveUsers:ud") // feeds DAU, WAU fan-out, and the day bound
    val bound = ud.agg(max(col("day")).as("dmax"))
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .withColumn("off", explode(array((0 until windowDays).map(lit): _*)))
      .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
      .crossJoin(broadcast(bound))
      .filter(col("day") <= col("dmax"))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy("day")
  }

  /** Session path mining (q120): the top-k full event-type sequences
    * users walk within one session — the path report (view>click>
    * purchase beats view>view>view) that sits one level above the q73
    * funnel's fixed stages. Sessions are the q26 assignment (30-min
    * gap); each session's path is built INSIDE the per-session
    * aggregation (collect_list + array_sort over (micros, event_id)
    * structs — bounded by session length, never a corpus-wide sort),
    * and the path space aggregates path-keyed (tiny after partial agg).
    * All counts exact. */
  def sessionPaths(spark: SparkSession, dir: String,
                   gapMinutes: Int = 30, k: Int = 10): DataFrame =
    sessionPathAssignments(spark, dir, gapMinutes)
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(k)
      // contractual 1..k rank over the limited head (see SmallRank)
      .transform(graft.operators.SmallRank.afterLimit(_,
        col("n_sessions").desc, col("path")))
      .select("rank", "path", "n_sessions")

  /** Per-session path assignments feeding [[sessionPaths]]: one row per
    * (user, session) with the session's start timestamp, event count,
    * and ordered `a>b>c` event-type path. Exposed so the STREAMING twin
    * ([[graft.streaming.EventStream.statefulSessionPaths]]) can be
    * equivalence-checked against the batch assignment row-for-row
    * (EventStreamParitySpec), not just at the top-k summary. */
  def sessionPathAssignments(spark: SparkSession, dir: String,
                             gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(ntz(col("ts"))).as("session_start"),
        count(lit(1)).cast("int").as("n_events"),
        array_join(transform(array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .drop("session_id")
  }

  /** Event transition matrix (q102): for each ordered pair of
    * consecutive event types within a user's stream, the transition
    * count and probability — the first-order Markov model a
    * click-stream analysis starts from. The lag window partitions by
    * high-cardinality user_id (per-key state = one previous row); the
    * pair aggregation is keyed by the tiny (from, to) space, so the
    * second exchange carries ≤ |types|² rows after partial agg.
    * Probabilities divide exact counts with the tie-proof fixed-point
    * idiom of q90/q101 (all-integer floor division, then one divide). */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_type")
    pairs
      .withColumn("tot", sum(col("n")).over(wf))
      .withColumn("p",
        expr("CAST((n * 1000000) div tot AS DOUBLE) / 1000000.0"))
      .drop("tot")
      .orderBy("from_type", "to_type")
  }

  /** Conversion latency (q103): distribution of the time from a user's
    * first `view` to their first subsequent `purchase` — the
    * time-to-convert read on top of the q73 funnel. Latencies are exact
    * integer seconds (epoch-microsecond subtraction, floor division);
    * the quantiles are Spark's exact `percentile` (type-7, mirrored by
    * DuckDB `quantile_cont`). Two user-keyed min-aggregations and one
    * single-row report. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("uv"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(unix_micros(col("ts")) > col("uv"))
      .groupBy("user_id", "uv").agg(min(unix_micros(col("ts"))).as("up"))
    p.select(expr("(up - uv) div 1000000").as("latency_sec"))
      .agg(count(lit(1)).as("n_converted"),
        r4(expr("percentile(latency_sec, 0.5D)")).as("p50_sec"),
        r4(expr("percentile(latency_sec, 0.9D)")).as("p90_sec"),
        max(col("latency_sec")).as("max_sec"))
  }

  /** Behavior–cohort independence (q145): does the event-type mix
    * differ across user cohorts? Chi-square contingency scan
    * ([[graft.ext.Drift.chiSquareCells]]) of event_type × (user_id mod
    * 4) — the A/B-bucket sanity check a cohorted experiment runs before
    * trusting its splits. Full zero-filled grid, exact integer
    * contributions. */
  def eventChiSquare(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Drift.chiSquareCells(
        Tables.events(spark, dir)
          .select(col("event_type"), (col("user_id") % 4).as("cohort")),
        "event_type", "cohort")
      .orderBy("event_type", "cohort")

  /** Next-event Gini impurity (q149): per event type, how concentrated
    * is what users do NEXT — impurity 0 means one deterministic
    * follow-up, ↑ means spread. Uses the q102 transition counts
    * unchanged (user-keyed lag window, tiny pair aggregation); the
    * statistic is exact floored ppm over integer counts:
    * gini = (n² − Σnᵢ²)·10⁶ div n². */
  def transitionGini(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("from_type")
      .agg(sum("n").as("n_out"),
        count(lit(1)).as("n_next_types"),
        sum(col("n") * col("n")).as("sq"))
      .select(col("from_type"), col("n_out"),
        col("n_next_types").cast("int").as("n_next_types"),
        expr("(CAST(n_out AS DECIMAL(38,0)) * n_out - sq) * 1000000" +
          " div (CAST(n_out AS DECIMAL(38,0)) * n_out)")
          .as("gini_ppm"))
      .orderBy("from_type")
  }

  /** Session trigram mining (q150): the top-15 three-step event
    * sequences inside sessions — the pattern layer between q102's
    * single transitions and q120's full paths (full paths fragment on
    * long sessions; fixed-length n-grams aggregate across them). The
    * session assignment is the q26/q120 30-minute-gap sweep; trigrams
    * come from two leads over the (user, session)-partitioned window —
    * per-key state, no self-join — and aggregate on the tiny trigram
    * space. Top-k is TakeOrderedAndProject + contractual rank. */
  def sessionTrigrams(spark: SparkSession, dir: String,
                      gapMinutes: Int = 30, k: Int = 15): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    sess
      .withColumn("t2", lead("event_type", 1).over(ws))
      .withColumn("t3", lead("event_type", 2).over(ws))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("trigram")).limit(k)
      .transform(graft.operators.SmallRank.afterLimit(_,
        col("n_occurrences").desc, col("trigram")))
      .select("rank", "trigram", "n_occurrences")
  }

  /** First- and last-touch purchase attribution (q183): each purchase
    * closes a per-user JOURNEY (the events since that user's previous
    * purchase), and the journey's value is credited to its first and to
    * its last preceding touch (click/view) — the two classic attribution
    * models reported side by side; journeys with no touch credit
    * 'direct'.
    *
    * Shape: journey ids are a running prior-purchase count over the
    * user-keyed window sort; first/last touch and the purchase value
    * come from ONE (user, journey) aggregation whose clustered
    * distribution is already satisfied by the window's
    * HashPartitioning(user_id) — Catalyst plans NO second fact
    * exchange (a partitioning on a subset of the grouping keys
    * co-locates the groups). The model rollups touch journey-count
    * rows, not events. Ties on ts break by event_id in both the
    * journey sort and the touch extremes. */
  private[graft] def touchJourneys(spark: SparkSession,
                                   dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val isTouch = col("event_type").isin("click", "view")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("event_type") === "purchase").cast("int").as("is_p"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("jid", coalesce(
        sum("is_p").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val touch = when(isTouch,
      struct(col("ts"), col("event_id"), col("event_type")))
    ev.groupBy("user_id", "jid")
      .agg(max(col("is_p")).as("has_p"),
        min(touch).as("ft"), max(touch).as("lt"),
        sum(when(col("is_p") === 1, col("vc"))).as("vc"))
      .filter(col("has_p") === 1)
      .select(col("vc"),
        coalesce(col("ft.event_type"), lit("direct")).as("first_touch"),
        coalesce(col("lt.event_type"), lit("direct")).as("last_touch"))
  }

  def touchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val base = touchJourneys(spark, dir)
      .stage("touchAttribution:base") // journey-count rows; both model rollups read it
    def model(touchCol: String): DataFrame =
      base.groupBy(col(touchCol).as("touch_type"))
        .agg(count(lit(1)).as("n_journeys"),
          (sum(col("vc")).cast("double") / 100.0).as("attributed_value"))
        .select(lit(touchCol).as("model"), col("touch_type"),
          col("n_journeys"), col("attributed_value"))
    model("first_touch").unionAll(model("last_touch"))
      .orderBy("model", "touch_type")
  }

  /** Session pattern classification (q214) — MATCH_RECOGNIZE-lite: every
    * session (the q26/q120 30-min-gap assignment) is classified by a
    * first-match-wins rule cascade over its ORDERED event-type path, the
    * row-pattern queries (view…purchase in order, error-terminated,
    * single-event bounce) that SQL:2016 MATCH_RECOGNIZE expresses and
    * most engines lack. The path is materialized per session by
    * [[sessionPathAssignments]] (built inside the per-session
    * aggregation, bounded by session length), so pattern matching is a
    * scalar LIKE over a session-sized string — no per-event state
    * machine, no self-joins. Substring matching is sound because no
    * event-type name is a substring of another (click, error, purchase,
    * signup, view); `%view%purchase%` is exactly "a view occurs, then
    * later a purchase". Classes are mutually exclusive via CASE order.
    *
    * Scale shape: one user-keyed exchange (shared by the session window
    * and aggregation), then a ≤6-class rollup — the classification
    * itself is a zero-shuffle projection. Mean session length is the
    * fixed-point floor-ppm idiom. */
  def sessionPatternClasses(spark: SparkSession, dir: String,
                            gapMinutes: Int = 30): DataFrame =
    sessionPathAssignments(spark, dir, gapMinutes)
      .withColumn("class",
        when(col("path").like("%view%purchase%"), "view_to_purchase")
          .when(col("path").like("%purchase%"), "blind_purchase")
          .when(col("path").like("%error"), "error_exit")
          .when(col("n_events") === 1, "bounce")
          .when(col("n_events") >= 5, "engaged_browse")
          .otherwise("browse"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events").cast("long")).as("n_events_total"))
      .withColumn("avg_events_ppm",
        expr("n_events_total * 1000000 div n_sessions"))
      .select("class", "n_sessions", "n_events_total", "avg_events_ppm")
      .orderBy("class")

  /** Weekly event-type combination bitmaps (q216): which SETS of event
    * types each user exhibits within one ISO week — the engagement-mix
    * readout ("how many user-weeks purchase without ever viewing?") that
    * per-type counts can't answer because they lose the co-occurrence.
    * The week scope matters for non-vacuity too: over a user's whole
    * LIFETIME nearly everyone eventually does everything (one mask, one
    * row); within a week the combinations genuinely differ. Each
    * (user, week, type) triple is encoded as a power-of-two literal
    * (click=1, error=2, purchase=4, signup=8, view=16 — alphabetical),
    * deduplicated, and summed into one integer bitmask per user-week:
    * the sum over DISTINCT powers IS the bitwise OR, without leaning on
    * either engine's bit_or aggregate semantics. Cardinality (n_types)
    * and the human-readable combo label are decoded from the mask with
    * integer div/mod — portable across engines, no bit_count dependency;
    * concat_ws drops the NULL slots of absent types on both.
    *
    * Scale shape: the dedup collapses the fact to ≤ 5 rows per
    * user-week before the keyed sum (both lean on partial aggregation);
    * the combo rollup is keyed by a ≤ 32-value mask space, so the final
    * exchange carries almost nothing. This is the roaring-bitmap idea at
    * its degenerate small-universe extreme: the set fits one integer, so
    * membership algebra is arithmetic. */
  /** Power-of-two encoding of `event_type`. Every known type gets an
    * EXPLICIT branch; an unknown sixth type raises instead of silently
    * aliasing into `view`'s bit and corrupting every mask it touches
    * (the suite's fail-fast posture, cf. Packing's surrogate guard —
    * the q216 oracle carries the matching `error()` arm). raise_error
    * sits in the otherwise arm, so it costs nothing until a genuinely
    * unknown value appears. */
  private[queries] def eventTypeBit: Column =
    when(col("event_type") === "click", 1L)
      .when(col("event_type") === "error", 2L)
      .when(col("event_type") === "purchase", 4L)
      .when(col("event_type") === "signup", 8L)
      .when(col("event_type") === "view", 16L)
      .otherwise(raise_error(concat(
        lit("eventTypeCombos: unknown event_type "),
        col("event_type"))).cast("long"))

  def eventTypeCombos(spark: SparkSession, dir: String): DataFrame = {
    val bitVal = eventTypeBit
    def has(m: Int, label: String) =
      when(expr(s"(mask div $m) % 2") === 1, label)
    Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"),
        bitVal.as("bv")).distinct()
      .groupBy("user_id", "wk").agg(sum("bv").as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n_user_weeks"))
      .select(col("mask").cast("int").as("mask"),
        expr("CAST((mask div 1) % 2 + (mask div 2) % 2 + (mask div 4) % 2" +
          " + (mask div 8) % 2 + (mask div 16) % 2 AS INT)").as("n_types"),
        concat_ws("+", has(1, "click"), has(2, "error"), has(4, "purchase"),
          has(8, "signup"), has(16, "view")).as("combo"),
        col("n_user_weeks"))
      .orderBy("mask")
  }
}
