package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.Tables

/** B34's event-transition matrix as a LIVE stream: the batch operator's
  * per-user `lag` window becomes per-user state holding the SINGLE last
  * event — each arriving event emits one (from_type, to_type) edge and
  * replaces the state, so the transitions FEED is append-only and the
  * matrix is a rollup over it (the "Markov monitor" every event-quality
  * dashboard runs).
  *
  * Order sensitivity mirrors [[StatefulAttribution]]: the batch `lag`
  * frame's (ts, event_id) order becomes sequential processing of the
  * batch-sorted per-user slice, so the AvailableNow drain EQUALS the batch
  * window computation and shares B34's DuckDB oracle (same single-batch
  * drain assumption as [[StatefulSessions]], documented there).
  *
  * State hygiene: per-user state is one (ts_us, event_id, type) record —
  * ~30 bytes regardless of history length. A user idle past
  * [[TransIdleUs]] of event time is timed out and restarts at START; at
  * deploy scale that bounds total state by ACTIVE users, not ever-seen
  * users. (The fixture replays in one batch, so the timeout never fires
  * at the gate and drain == batch holds exactly.)
  */
object StatefulTransitions {

  /** Idle horizon after which a user's chain restarts at START (30 days of
    * event time) — the state-retention knob, not a semantic parameter at
    * the gate. */
  val TransIdleUs = 2592000000000L

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, ts: java.sql.Timestamp)
  final case class LastEv(ts_us: Long, event_id: Long, event_type: String)
  final case class Edge(user_id: Long, event_id: Long,
      from_type: String, to_type: String)

  def updateUser(userId: Long, events: Iterator[Ev],
      state: GroupState[LastEv]): Iterator[Edge] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var last = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[Edge]
    for (e <- events.toArray.sortBy(e => (e.ts_us, e.event_id))) {
      out += Edge(userId, e.event_id,
        if (last == null) "START" else last.event_type, e.event_type)
      last = LastEv(e.ts_us, e.event_id, e.event_type)
    }
    if (last != null) {
      state.update(last)
      state.setTimeoutTimestamp(last.ts_us / 1000 + TransIdleUs / 1000)
    }
    out.iterator
  }

  val QueryName = "graft_stream_transitions"

  def transitionsStream(spark: SparkSession, dir: String,
      glob: String = Tables.file("events"),
      sourceOptions: Map[String, String] = Map.empty): Dataset[Edge] = {
    import spark.implicits._
    val evs: Dataset[Ev] = Tables.stream(spark, dir, glob, sourceOptions)
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("ts"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(updateUser)
  }

  /** Drain the edge feed, then roll it up to the matrix — the rollup is a
    * pure batch aggregation over the drained feed (the feed is the
    * streaming product; the matrix is its materialized view), so the gate
    * result matches B34's oracle column-for-column. */
  def streamTransitions(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = StreamOps.streamingSession(rootSpark)
    // The edge feed is ONE ROW PER EVENT — the most corpus-sized drain in
    // the streaming surface (10 M rows at 100× gate scale), so it goes
    // through the parquet sink: executors write each micro-batch's edges
    // straight to the sink and the O(types²) matrix rollup below is a
    // distributed aggregation over the drained feed — the driver never
    // holds an edge row. The single-batch drain assumption documented
    // above is ASSERTED; the multi-batch replay spec proves cross-batch
    // state carry separately via time-ordered waves.
    val (_, realCount) = StreamOps.eventStats(spark, dir)
    StreamOps.drainViaParquetSink(spark, transitionsStream(spark, dir).toDF(),
        QueryName, afterDrain =
          StreamOps.requireSingleDataBatch(QueryName, Some(realCount)))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }
}
