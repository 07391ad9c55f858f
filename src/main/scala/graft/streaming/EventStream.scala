package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._
import graft.model.Parity

/** Structured-Streaming surface over the `events` shape (SURVEY.md §2.9).
  *
  * The reference is daily batch (no streams), but its planned daily-delta
  * design (`/root/reference/progress.md:91-148`) is exactly a streaming
  * ingest: new events arrive, land in time buckets, dedup against
  * already-seen keys, close sessions on inactivity. Each transform here is
  * a pure `DataFrame => DataFrame` usable under BOTH `spark.read` and
  * `spark.readStream` — batch backfill and live tail share one
  * implementation (the EventWindows batch queries are the oracle-checked
  * twins of these).
  *
  * Scale posture: all stateful ops key by high-cardinality columns
  * (user_id, event keys), so state partitions across executors; watermarks
  * bound state size (late rows beyond the delay are dropped instead of
  * accumulating); sinks are append-mode parquet with checkpointing.
  */
object EventStream {

  /** Event schema (matches the driver's events.parquet at every scale
    * factor, with ts as a proper timestamp). Declared explicitly:
    * streaming sources cannot infer schemas. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling window counts per event_type; watermark bounds state. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Parity.moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding window counts (width/slide buckets per event). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes",
                    watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Parity.moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Native gap-based session windows per user (Spark `session_window`
    * merges events closer than `gap`; window end = last event + gap). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Parity.moneySum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Late-data-aware dedup by event identity: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is reclaimed. (The streaming form of U2 key dedup.) */
  def dedupEvents(events: DataFrame,
                  watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicates("user_id", "event_id")

  // ---- custom state: explicit sessionization -----------------------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class OpenSession(start: Long, last: Long, n: Long, cents: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        sum_value: Double)

  /** Sessionization with explicit state (`flatMapGroupsWithState`): the
    * shape to reach for when session logic outgrows `session_window`
    * (per-session caps, custom merge rules, emitted heartbeats...).
    * State per user is one open session; closed sessions emit on the next
    * event past the gap or on event-time timeout at the watermark.
    * Money accumulates as integer cents (Parity idiom) so emitted sums are
    * order-exact. */
  def statefulSessions(events: Dataset[Ev], gapMs: Long,
                       watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[OpenSession]) =>
          def toOut(s: OpenSession): SessionOut = SessionOut(
            userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
            s.n, s.cents / 100.0)
          if (rows.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(toOut).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              val cents = math.round(e.value * 100)
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  open = Some(OpenSession(s.start, math.max(s.last, t), s.n + 1, s.cents + cents))
                case Some(s) =>
                  closed += toOut(s)
                  open = Some(OpenSession(t, t, 1, cents))
                case None =>
                  open = Some(OpenSession(t, t, 1, cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class PathEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                    event_type: String)
  case class OpenPath(start: Long, last: Long, n: Int, path: List[String])
  case class SessionPathOut(user_id: Long, session_start: java.sql.Timestamp,
                            n_events: Int, path: String, truncated: Boolean)

  /** Streaming twin of the batch session-path miner (q120): the open
    * session's state carries the ordered event-type PATH, emitted as one
    * `a>b>c` string when the session closes (gap crossing or event-time
    * timeout at the watermark). State per user stays bounded: one open
    * session whose path is capped at `maxPathLen` types — the guard
    * that keeps a pathological never-idle user from growing state
    * without limit (the batch side has no such cap because its
    * collect_list is bounded by the already-closed session). A session
    * that outgrew the cap is emitted with `truncated = true` — its
    * `path` holds only the first `maxPathLen` event types while
    * `n_events` keeps the true count, so the batch≡streaming
    * equivalence (q120's twin) is explicit: exact for untruncated rows,
    * flagged for the pathological tail. Gap semantics match the batch
    * assignment exactly (close when the gap is STRICTLY exceeded),
    * computed at MICROSECOND precision like the batch side's
    * `unix_micros` arithmetic — millisecond truncation would silently
    * diverge on sub-ms event data (EventStreamParitySpec pins
    * row-for-row equality against
    * [[graft.queries.EventWindows.sessionPathAssignments]]). */
  def statefulSessionPaths(events: Dataset[PathEv], gapMs: Long,
                           watermarkDelay: String = "2 hours",
                           maxPathLen: Int = 64): Dataset[SessionPathOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def tsOf(u: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(u, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(u, 1000000L) * 1000L).toInt)
      t
    }
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenPath, SessionPathOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[PathEv], state: GroupState[OpenPath]) =>
          def toOut(s: OpenPath): SessionPathOut = SessionPathOut(
            userId, tsOf(s.start), s.n,
            s.path.reverse.mkString(">"), truncated = s.n > s.path.length)
          if (rows.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(toOut).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionPathOut]
            sorted.foreach { e =>
              val t = us(e.ts)
              open match {
                case Some(s) if t - s.last <= gapUs =>
                  val p = if (s.path.length < maxPathLen) e.event_type :: s.path
                    else s.path
                  open = Some(OpenPath(s.start, math.max(s.last, t), s.n + 1, p))
                case Some(s) =>
                  closed += toOut(s)
                  open = Some(OpenPath(t, t, 1, e.event_type :: Nil))
                case None =>
                  open = Some(OpenPath(t, t, 1, e.event_type :: Nil))
              }
            }
            open.foreach { s =>
              state.update(s)
              // state times are MICROS; the timeout API takes millis —
              // round UP so the timeout never fires before the gap
              state.setTimeoutTimestamp(
                Math.floorDiv(s.last + gapUs + 999L, 1000L))
            }
            closed.result().iterator
          }
      }
  }

  case class TransEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                     event_type: String)
  case class LastEv(last_us: Long, last_id: Long, last_type: String)
  case class TransitionOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of the q102 transition matrix: per user, emit a
    * (from_type, to_type) row for every consecutive event pair — the
    * downstream matrix is then a tiny (from, to)-keyed streaming (or
    * batch) aggregation. State per user is ONE row (the last event),
    * GC'd by event-time timeout once the user idles past `idleTtlMs`
    * beyond the watermark — bounded regardless of user count growth.
    * The GC is an explicit, documented divergence from the batch twin:
    * a pair whose gap exceeds `idleTtlMs` of EVENT time is dropped
    * (the user "re-enters" fresh), where the batch lag window would
    * still count it — the deliberate price of bounded state; size the
    * TTL to the longest gap the matrix should bridge (the parity spec
    * passes a TTL longer than its fixture's span, so the comparison is
    * exact).
    * Within a batch, rows process in exact (micros, event_id) order —
    * the batch twin's lag-window order — so a single-batch (or
    * in-order-arrival) run reproduces
    * [[graft.queries.EventWindows.eventTransitions]] pair-for-pair
    * (EventStreamParitySpec pins the aggregated matrix). A late
    * cross-batch event older than the stored state would pair out of
    * order; the watermark bounds that window exactly as it bounds the
    * session twins. */
  def statefulTransitions(events: Dataset[TransEv],
                          watermarkDelay: String = "2 hours",
                          idleTtlMs: Long = 24L * 3600 * 1000): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, TransitionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TransEv], state: GroupState[LastEv]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var prev = state.getOption
            val out = Seq.newBuilder[TransitionOut]
            sorted.foreach { e =>
              prev.foreach(p =>
                out += TransitionOut(userId, p.last_type, e.event_type))
              prev = Some(LastEv(us(e.ts), e.event_id, e.event_type))
            }
            prev.foreach { p =>
              state.update(p)
              state.setTimeoutTimestamp(
                Math.floorDiv(p.last_us + idleTtlMs * 1000L + 999L, 1000L))
            }
            out.result().iterator
          }
      }
  }

  /** Append-mode parquet sink with checkpointing — the durable landing
    * pattern for a streaming ingest (exactly-once per file-sink contract). */
  def writeParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  // ---- transformWithState (Spark 4 arbitrary state API) ------------------

  case class SpendEv(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SpendState(cents: Long, hwmCents: Long)
  case class SpendOut(user_id: Long, total: Double, high_water: Double,
                      is_new_high: Boolean)

  /** Per-user running spend with a high-water mark, on the Spark 4
    * `transformWithState` API (the successor to
    * `flatMapGroupsWithState`): typed `ValueState` per key, optional
    * TTL, timer support, and the RocksDB state store underneath — the
    * state backend that actually scales (spillable, incremental
    * checkpoints) where the HDFS-backed map store holds all state on
    * heap. One output row per micro-batch per active user (the
    * running-total q43 shape, streamed). State per key is two longs;
    * money accumulates as integer cents (Parity idiom). Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider` on the session. */
  class RunningSpendProcessor
    extends StatefulProcessor[Long, SpendEv, SpendOut] {
    @transient private var state: ValueState[SpendState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SpendState]("spend",
        org.apache.spark.sql.Encoders.product[SpendState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SpendEv],
                                 timers: TimerValues): Iterator[SpendOut] = {
      val prev = if (state.exists()) state.get() else SpendState(0L, 0L)
      // Event-time order matters: the high-water mark is taken after
      // EVERY event, so an intra-batch peak (spend then refund) is
      // captured and the output is invariant to micro-batch boundaries
      // GIVEN event-time-ordered arrival across batches — TimeMode.None
      // provides no cross-batch reordering, so a late event that lands in
      // a later batch folds after already-committed state and can yield a
      // different high_water than a run where it shared a batch. True
      // boundary invariance under out-of-order arrival needs event-time
      // timers buffering events until the watermark passes them.
      val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
      if (batch.isEmpty) Iterator.empty
      else {
        val end = batch.foldLeft(prev) { (s, e) =>
          val c = s.cents + math.round(e.value * 100)
          SpendState(c, math.max(s.hwmCents, c))
        }
        state.update(end)
        Iterator.single(SpendOut(user, end.cents / 100.0, end.hwmCents / 100.0,
          end.hwmCents > prev.hwmCents))
      }
    }
  }

  /** Wire [[RunningSpendProcessor]] over a stream of (user, ts, value). */
  def runningSpend(events: Dataset[SpendEv]): Dataset[SpendOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningSpendProcessor,
        TimeMode.None(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[SpendOut])
  }

  // ---- streaming joins ---------------------------------------------------

  /** Stream-static enrichment: each incoming event joined to a static
    * dimension (the streaming twin of the J1 broadcast fact⋈dim join —
    * the dim is re-read per micro-batch, so slowly-changing dimensions
    * pick up updates without restarting the query). Stateless: no
    * watermark needed, no join state accumulates. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    joinKey: String): DataFrame =
    events.join(broadcast(dim), Seq(joinKey), "left")

  /** Stream-stream interval join: each click matched to the SAME user's
    * views at most `horizon` BEFORE it (the attribution shape — which
    * impression led to this action). Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can expire join
    * state: view-side rows are dropped once `click_ts > view_ts + horizon`
    * passes the watermark — state is bounded by rate × horizon, not by
    * stream length. */
  def clickAttribution(events: DataFrame,
                       horizon: String = "30 minutes",
                       watermarkDelay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"interval $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }
}
