package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.Tables

/** Custom-state Structured Streaming: gap-based sessionization with
  * `flatMapGroupsWithState` — the streaming twin of
  * [[graft.operators.Sessionize]] (reference analogue: the per-invoice
  * accumulation the service does in memory, stream/processor.py:56, made
  * incremental and fault-tolerant).
  *
  * State per user is O(1) (the open-session accumulator) and BOUNDED in key
  * count: session identity is content-derived — (user_id, start_us) — so a
  * timeout close can `state.remove()` outright. An idle key costs zero
  * state forever; nothing about past sessions has to be remembered to name
  * future ones. (A stored per-user session counter would have to outlive
  * every timeout, growing the state store with the lifetime key space —
  * the round-2 design this replaces.)
  *
  * The driver-facing query replays the events table with AvailableNow plus
  * one far-future sentinel event under a synthetic key: the sentinel
  * advances the global event-time watermark past every real session's
  * timeout, so ALL sessions close before the drain terminates and the
  * streamed result equals the batch operator exactly — which makes
  * `stream_sessions` oracle-checkable against the SAME SQL twin as
  * `events_sessionize` (presentation `session_id` = row_number over
  * (user_id, start_us), the same 1-based numbering the batch query
  * derives).
  */
object StatefulSessions {

  val GapUs: Long = 1800L * 1000000

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long, cents: Long,
      ts: java.sql.Timestamp)
  final case class SessionState(start_us: Long, end_us: Long, n: Long, cents: Long)
  final case class SessionOut(user_id: Long, n_events: Long,
      start_us: Long, end_us: Long, session_value: Double)

  private def close(userId: Long, s: SessionState): SessionOut =
    // cents are Olap.units(value, 2), the units dsum(value, 2) sums, so
    // cents/100.0 is the correctly-rounded double of the same exact sum
    SessionOut(userId, s.n, s.start_us, s.end_us, s.cents / 100.0)

  /** Incremental sessionizer for one user's new events. Events within a
    * batch arrive unordered → sort locally (bounded by per-batch per-key
    * volume); the gap rule then extends or closes the open session. */
  def updateUser(userId: Long, events: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    var open = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    if (state.hasTimedOut) {
      // the watermark passed the gap: the open session is complete. The
      // state is REMOVED — session identity is (user_id, start_us), so no
      // counter must survive the close and idle keys hold no state.
      if (open != null) out += close(userId, open)
      state.remove()
      return out.iterator
    }
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    for (e <- sorted) {
      if (open == null) open = SessionState(e.ts_us, e.ts_us, 1L, e.cents)
      else if (e.ts_us - open.end_us > GapUs) {
        out += close(userId, open)
        open = SessionState(e.ts_us, e.ts_us, 1L, e.cents)
      } else {
        open = SessionState(open.start_us, e.ts_us, open.n + 1, open.cents + e.cents)
      }
    }
    state.update(open)
    // close the open session once the event-time watermark passes the gap
    state.setTimeoutTimestamp(open.end_us / 1000 + GapUs / 1000)
    out.iterator
  }

  val QueryName = "graft_stream_sessions"

  /** One source's events, normalized to (user_id, event_id, value, ts). */
  private[graft] def rawEvents(src: DataFrame): DataFrame =
    src.select(col("user_id"), col("event_id"), col("value"), col("ts"))

  /** The sessionizer DAG over a streaming event source — shared by the
    * driver query (parquet-sink drain) and durable deployments (file/Kafka
    * sink + checkpoint; see StatefulSessionsSpec's recovery test). `extra`
    * unions a second streaming source (the driver query's watermark
    * sentinel). `sourceOptions` feeds the file source (the multi-batch
    * replay specs pass maxFilesPerTrigger=1 to split time-ordered waves
    * into one micro-batch each). */
  def sessionsStream(spark: SparkSession, dir: String,
      glob: String = Tables.file("events"),
      extra: Option[DataFrame] = None,
      sourceOptions: Map[String, String] = Map.empty): Dataset[SessionOut] = {
    import spark.implicits._
    val base = rawEvents(Tables.stream(spark, dir, glob, sourceOptions))
    val all = extra.fold(base)(base.unionByName(_))
    // the watermark column must survive into the typed Dataset for
    // EventTimeTimeout bookkeeping
    val evs: Dataset[Ev] = all
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        graft.operators.Olap.units(col("value"), 2).as("cents"),
        col("ts"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(updateUser)
  }

  /** Far-future sentinel for the session/SCD2 machines — the SHARED
    * [[StreamOps.sentinelDir]] machinery at 3 gaps past the corpus max,
    * which clears every session's timeout (end + gap) with margin. */
  private def sentinelDir(spark: SparkSession, dir: String, maxTsUs: Long): String =
    StreamOps.sentinelDir(spark, dir, maxTsUs, 3 * GapUs)

  private def eventStats(spark: SparkSession, dir: String): (Long, Long) =
    StreamOps.eventStats(spark, dir)

  def streamSessions(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = StreamOps.streamingSession(rootSpark) // isolated conf
    val (maxTsUs, realCount) = eventStats(spark, dir)
    val sessions = sessionsStream(spark, dir,
      extra = Some(rawEvents(Tables.stream(spark, sentinelDir(spark, dir, maxTsUs)))))
    // O(sessions) output grows with the corpus: parquet-sink drain, the
    // driver never holds session rows. Sentinel-flush correctness needs the
    // sentinel consumed in the same micro-batch as every real event; with
    // default file-source options AvailableNow drains everything in ONE
    // data batch (the flush batch has zero input). Assert it, so a
    // maxFilesPerTrigger/many-file layout fails loudly instead of silently
    // dropping events the advanced watermark would mark late.
    val drained = StreamOps.drainViaParquetSink(spark, sessions.toDF(),
      QueryName, afterDrain =
        StreamOps.requireSingleDataBatch(QueryName, Some(realCount + 1)))
    // presentation numbering = the batch operator's 1-based per-user order
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    drained
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .select(col("user_id"), row_number().over(w).cast("bigint").as("session_id"),
        col("n_events"), col("start_us"), col("end_us"), col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // --- B38: streaming SCD2 (incremental history compaction) ----------------

  /** Idle horizon after which a user's OPEN run emits as current
    * (`valid_to` null) and their state — including the version counter —
    * is dropped: 30 days of event time, past the corpus span, so under a
    * multi-batch replay the timeout only ever fires in the final
    * sentinel-flush batch (a mid-stream fire would emit a premature
    * "current" row append mode cannot retract AND reset the version
    * numbering — the state-retention knob must sit beyond any real user's
    * idle gap, which the multi-batch replay spec pins). */
  val Scd2IdleUs = 2592000000000L

  final case class EvT(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, ts: java.sql.Timestamp)
  final case class Scd2State(version: Int, attr: String, valid_from_us: Long,
      n: Long)
  final case class Scd2Out(user_id: Long, version: Int, event_type: String,
      valid_from_us: Long, valid_to_us: Option[Long], n_events: Long)

  /** Incremental SCD2 for one user's new events: a run CLOSES (and emits,
    * with `valid_to` = the closer's event time) the moment a different
    * attribute value arrives; the open run emits with `valid_to` null when
    * the event-time watermark passes it. Unlike the sessionizer, the
    * VERSION counter must survive run closes — state is one small row per
    * ACTIVE user (the keyed-counter shape; age it with a TTL policy on a
    * production stream if the user space is unbounded). */
  def updateScd2(userId: Long, events: Iterator[EvT],
      state: GroupState[Scd2State]): Iterator[Scd2Out] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
    if (state.hasTimedOut) {
      state.getOption.foreach(s => out +=
        Scd2Out(userId, s.version, s.attr, s.valid_from_us, None, s.n))
      state.remove()
      return out.iterator
    }
    var st = state.getOption.orNull
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    var lastTs = 0L
    for (e <- sorted) {
      lastTs = e.ts_us
      if (st == null) st = Scd2State(1, e.event_type, e.ts_us, 1L)
      else if (e.event_type == st.attr) st = st.copy(n = st.n + 1)
      else {
        out += Scd2Out(userId, st.version, st.attr, st.valid_from_us,
          Some(e.ts_us), st.n)
        st = Scd2State(st.version + 1, e.event_type, e.ts_us, 1L)
      }
    }
    state.update(st)
    state.setTimeoutTimestamp(lastTs / 1000 + Scd2IdleUs / 1000)
    out.iterator
  }

  val Scd2QueryName = "graft_stream_scd2"

  /** The SCD2 DAG over a streaming (user_id, event_id, event_type, ts)
    * source — shared by the driver query and the multi-batch replay spec
    * (which feeds time-ordered waves via `sourceOptions`). `extra` unions
    * the watermark sentinel. */
  def scd2Stream(spark: SparkSession, dir: String,
      glob: String = Tables.file("events"),
      extra: Option[DataFrame] = None,
      sourceOptions: Map[String, String] = Map.empty): Dataset[Scd2Out] = {
    import spark.implicits._
    val base = Tables.stream(spark, dir, glob, sourceOptions)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    extra.fold(base)(base.unionByName(_))
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("ts"))
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(updateScd2)
  }

  /** Streaming twin of the batch `scd2_track` (OlapC.scd2On): the same
    * sentinel-flush drain discipline as [[streamSessions]] makes the
    * AvailableNow replay equal the batch compaction exactly — so this
    * shares `scd2_track`'s DuckDB oracle. The sentinel sits past the
    * 30-day idle horizon so the flush batch times out every open run. */
  def streamScd2(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = StreamOps.streamingSession(rootSpark)
    val (maxTsUs, realCount) = eventStats(spark, dir)
    val sentinel = rawEvents(Tables.stream(spark,
        StreamOps.sentinelDir(spark, dir, maxTsUs, Scd2IdleUs + 3 * GapUs)))
      .select(col("user_id"), col("event_id"),
        lit("_sentinel").as("event_type"), col("ts"))
    val runs = scd2Stream(spark, dir, extra = Some(sentinel))

    // O(attribute runs) output grows with the corpus: parquet-sink drain
    // with the same single-data-batch sentinel-flush guard as B15.
    StreamOps.drainViaParquetSink(spark, runs.toDF(), Scd2QueryName,
        afterDrain =
          StreamOps.requireSingleDataBatch(Scd2QueryName, Some(realCount + 1)))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  val NativeQueryName = "graft_stream_sessions_native"

  /** B73: B15's sessionization through Spark's NATIVE `session_window`
    * streaming aggregation — the Spark-first counterpart of the custom
    * `flatMapGroupsWithState` machine: the state store manages gap-merge
    * sessions itself (no hand-written state class, timeouts, or close
    * logic), and the same far-future sentinel advances the watermark so
    * the AvailableNow drain finalizes every session. Both
    * implementations share `events_sessionize`'s oracle — the engine
    * proves its custom state machine and the built-in operator agree
    * with the batch semantics bit-for-bit. Gap boundary parity: both
    * open a new session strictly PAST the gap (session_window merges at
    * distance ≤ gap; the batch rule flags `> gap`). O(sessions) output
    * drains through the parquet sink. */
  def streamSessionsNative(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = StreamOps.streamingSession(rootSpark)
    val (maxTsUs, _) = eventStats(spark, dir)
    val ev = rawEvents(Tables.stream(spark, dir, Tables.file("events"))).unionByName(
      rawEvents(Tables.stream(spark, sentinelDir(spark, dir, maxTsUs))))
    val agg = ev
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${GapUs / 1000000} seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        graft.operators.Olap.dsum(col("value"), 2).as("session_value"))
      .drop("session_window")
    // NO single-batch assert here: append-mode session_window emits its
    // finalized sessions in the post-watermark batch, so the drain is
    // two micro-batches BY DESIGN (data, then finalization). An unsafe
    // replay split (events arriving after their session's watermark
    // passed would be dropped) cannot pass silently — the shared batch
    // oracle hash-mismatches on the missing sessions.
    val drained = StreamOps.drainViaParquetSink(spark, agg, NativeQueryName)
      .filter(col("user_id") >= 0) // drop the sentinel's own session
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    drained
      .select(col("user_id"),
        row_number().over(w).cast("bigint").as("session_id"),
        col("n_events"), col("start_us"), col("end_us"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // --- B87: sessions via transformWithState (the Spark 4 state-v2 API) -----
  val TwsQueryName = "graft_stream_sessions_tws"

  /** The B15 sessionizer re-expressed on `transformWithState` — Spark 4's
    * arbitrary-stateful successor to flatMapGroupsWithState, and the API a
    * new deployment should target: named state variables (`ValueState`
    * with optional TTL) instead of one opaque state object, EXPLICIT
    * event-time timers (register/delete per key — B15's single implicit
    * timeout is the degenerate case), and a mandatory RocksDB state store
    * (changelog-checkpointable, the production store for large state).
    * The session logic is the SAME gap rule, so the key shares B15/B73's
    * `events_sessionize` oracle — three implementations (custom FMGWS
    * machine, native session_window, state-v2 processor) pinned to ONE
    * batch twin. Timer discipline: exactly one live timer per key (the
    * previous is deleted before re-registering at new end + gap) — stale
    * timers would close sessions early under multi-batch replays. */
  private class SessionProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues,
      ExpiredTimerInfo, ValueState}
    @transient private var open: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, events: Iterator[Ev],
        tv: TimerValues): Iterator[SessionOut] = {
      var st = if (open.exists()) open.get() else null
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
      for (e <- sorted) {
        if (st == null) st = SessionState(e.ts_us, e.ts_us, 1L, e.cents)
        else if (e.ts_us - st.end_us > GapUs) {
          out += StatefulSessions.close(userId, st) // object's, not the
          // processor's nullary lifecycle close() hook
          st = SessionState(e.ts_us, e.ts_us, 1L, e.cents)
        } else st = SessionState(st.start_us, e.ts_us, st.n + 1,
          st.cents + e.cents)
      }
      if (st != null) {
        open.update(st)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(st.end_us / 1000 + GapUs / 1000)
      }
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (open.exists()) {
        val s = open.get(); open.clear()
        Iterator(StatefulSessions.close(userId, s))
      } else Iterator.empty
  }

  def streamSessionsTws(rootSpark: SparkSession, dir: String): DataFrame = {
    // transformWithState REQUIRES the RocksDB state store — its own child
    // session carries that provider so the HDFS-backed default on every
    // other streaming query is untouched
    val spark = StreamOps.childSession(rootSpark,
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val (maxTsUs, realCount) = eventStats(spark, dir)
    val base = rawEvents(Tables.stream(spark, dir, Tables.file("events"))).unionByName(
      rawEvents(Tables.stream(spark, sentinelDir(spark, dir, maxTsUs))))
    val evs: Dataset[Ev] = base
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        graft.operators.Olap.units(col("value"), 2).as("cents"),
        col("ts"))
      .as[Ev]
    val sessions = evs.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
    val drained = StreamOps.drainViaParquetSink(spark, sessions.toDF(),
      TwsQueryName, afterDrain =
        StreamOps.requireSingleDataBatch(TwsQueryName, Some(realCount + 1)))
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    drained
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .select(col("user_id"),
        row_number().over(w).cast("bigint").as("session_id"),
        col("n_events"), col("start_us"), col("end_us"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sessions" -> (streamSessions _),
    "stream_sessions_native" -> (streamSessionsNative _),
    "stream_sessions_tws" -> (streamSessionsTws _),
    "stream_scd2" -> (streamScd2 _)
  )

  /** The sentinel-flushed replays equal their batch twins, so the oracles
    * are the SAME SQL as `events_sessionize` / `scd2_track`. */
  val oracles: Map[String, String] = Map(
    "stream_sessions" -> graft.operators.OlapB.eventsSessionizeSql,
    "stream_sessions_native" -> graft.operators.OlapB.eventsSessionizeSql,
    "stream_sessions_tws" -> graft.operators.OlapB.eventsSessionizeSql,
    "stream_scd2" -> graft.operators.OlapC.scd2TrackSql
  )
}
