package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.Tables

/** B42's last-touch attribution as a LIVE stream: per-user state is the
  * single most-recent click (16 bytes), purchases emit their credit the
  * moment they arrive — the shape of a real-time conversion feed.
  *
  * Order sensitivity is the interesting part: the batch operator's
  * "strictly before in (ts, event_id) order" frame becomes sequential
  * processing of the batch-sorted per-user slice — a click updates state
  * before a purchase consumes it exactly when it sorts earlier, so the
  * AvailableNow drain EQUALS the batch window computation and shares its
  * DuckDB oracle (same single-batch drain assumption as
  * [[StatefulSessions]], documented there).
  *
  * State hygiene: once the event-time watermark passes a click's
  * eligibility horizon (click_ts + [[graft.operators.OlapD.AttrWindowUs]])
  * it can never be credited again — the timeout removes the key, so idle
  * users hold zero state forever.
  */
object StatefulAttribution {

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, value: Double, ts: java.sql.Timestamp)
  final case class ClickState(ts_us: Long, event_id: Long)
  final case class AttrOut(event_id: Long, user_id: Long, ts_us: Long,
      click_event_id: Option[Long], click_ts_us: Option[Long], value: Double)

  def updateUser(userId: Long, events: Iterator[Ev],
      state: GroupState[ClickState]): Iterator[AttrOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var last = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[AttrOut]
    for (e <- events.toArray.sortBy(e => (e.ts_us, e.event_id))) {
      if (e.event_type == "click") last = ClickState(e.ts_us, e.event_id)
      else if (e.event_type == "purchase") {
        val ok = last != null &&
          last.ts_us >= e.ts_us - graft.operators.OlapD.AttrWindowUs
        out += AttrOut(e.event_id, userId, e.ts_us,
          if (ok) Some(last.event_id) else None,
          if (ok) Some(last.ts_us) else None, e.value)
      }
    }
    if (last != null) {
      state.update(last)
      state.setTimeoutTimestamp(
        last.ts_us / 1000 + graft.operators.OlapD.AttrWindowUs / 1000)
    }
    out.iterator
  }

  val QueryName = "graft_stream_attribution"

  def attributionStream(spark: SparkSession, dir: String,
      glob: String = Tables.file("events"),
      sourceOptions: Map[String, String] = Map.empty): Dataset[AttrOut] = {
    import spark.implicits._
    val evs: Dataset[Ev] = Tables.stream(spark, dir, glob, sourceOptions)
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"),
        col("ts"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(updateUser)
  }

  def streamAttribution(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = StreamOps.streamingSession(rootSpark)
    // O(purchases) output grows with the corpus: parquet-sink drain. The
    // single-batch drain assumption documented above is ASSERTED (one data
    // micro-batch of exactly the event count), so a replay split fails
    // loudly instead of silently reordering a user's slice; the multi-batch
    // replay spec proves the cross-batch state carry separately via
    // time-ordered waves on [[attributionStream]].
    val (_, realCount) = StreamOps.eventStats(spark, dir)
    StreamOps.drainViaParquetSink(spark, attributionStream(spark, dir).toDF(),
        QueryName, afterDrain =
          StreamOps.requireSingleDataBatch(QueryName, Some(realCount)))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("click_event_id"), col("click_ts_us"), col("value"))
      .orderBy(col("event_id"))
  }
}
