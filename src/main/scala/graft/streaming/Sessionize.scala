package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization + streaming aggregation.
  *
  * Batch path: pure window functions (lag → gap flag → running sum),
  * one shuffle on user_id, SQL-expressible (oracle-able).
  *
  * Streaming path: Structured Streaming — windowed counts under a
  * watermark, and true stateful sessionization with
  * `flatMapGroupsWithState` (per-user state, event-time timeout).
  * State per key is O(1) (just the open session aggregate), so the
  * state store stays bounded at any scale.
  */
object Sessionize {

  val DefaultGapMinutes = 30

  /** Batch sessionization: events within `gapMinutes` of the previous
    * event of the same user share a session. Emits one row per
    * session: (user_id, session_no, n_events, total_value,
    * session_start, session_end).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = DefaultGapMinutes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    val flagged = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_no",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy("user_id", "session_no")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  // ---- streaming ----------------------------------------------------

  /** Batch-equivalence harness for the streaming path: replays the
    * events table through a REAL file-source stream (two chunk files,
    * one micro-batch each) into the day/type aggregation and returns
    * the final aggregate — which must equal the batch `q_events_agg`
    * result exactly, making the streaming engine oracle-able by the
    * same DuckDB SQL. Complete-mode memory sink is the verification
    * harness only; the production shape for unbounded input is append
    * mode + watermark (`windowedCounts`) or foreachBatch → parquet
    * (ForeachBatchSinkSpec).
    */
  def streamedDailyAgg(events: DataFrame): DataFrame =
    // 2 micro-batches: enough to prove the streamed aggregate
    // converges across batches; each extra micro-batch is ~0.5-1 s of
    // pure trigger overhead in the bench
    Replay.drain(Replay.Source("dailyAgg", events, Seq("event_id"), 2),
        OutputMode.Complete) { stream =>
      // Sum as DECIMAL: exact, so the result is independent of the
      // micro-batch accumulation order — the double sum differed from
      // the batch answer by an ULP depending on file arrival order.
      // The average divides the exact sum (as double) by the count,
      // the same two deterministic operations the oracle performs.
      stream
        .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,9)")).as("sum_value"))
    } { agg =>
      agg.select(col("day"), col("event_type"), col("n"),
          round(col("sum_value"), 4).cast("double").as("total_value"),
          round(col("sum_value").cast("double") / col("n"), 6).as("avg_value"))
        .orderBy("day", "event_type")
    }

  /** Batch-equivalence harness for the STATEFUL sessionizer: replays
    * the events table in (ts, event_id) order through a real
    * file-source stream into `streamingSessionize`, closes every
    * session by advancing the watermark with a far-future sentinel
    * event (its own last micro-batch), and re-shapes the emitted
    * sessions into exactly the batch `sessionize` schema — so the
    * operator most likely to diverge from batch (incremental per-user
    * state + event-time timeouts) is oracle-able by the same DuckDB
    * SQL as `q_sessionize`.
    *
    * Ordered delivery matters: the handler merges events into the
    * open session incrementally, which is only equivalent to the
    * batch window computation when micro-batches replay the timeline
    * in order (a production stream gets this from its source ordering
    * + watermark; the harness gets it from `Replay`'s key-ordered
    * chunks).
    */
  def streamedSessionize(events: DataFrame,
                         gapMinutes: Int = DefaultGapMinutes,
                         nChunks: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    // sentinel far past the last event: advances the watermark so
    // every real session's event-time timeout fires and is emitted
    val maxTs = base.agg(max("ts")).head().getTimestamp(0)
    val sentinel = Seq((Long.MaxValue,
        new java.sql.Timestamp(maxTs.getTime + gapMinutes * 60L * 1000L * 100),
        -1L, "sentinel", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val byUser = Window.partitionBy("user_id").orderBy("start_ms")
    Replay.drain(Replay.Source("sessionize", base, Seq("ts", "event_id"), nChunks,
        last = Some(sentinel)), OutputMode.Append) { stream =>
      streamingSessionize(stream.as[Event], gapMinutes).toDF()
    } { sessions =>
      sessions
        .filter(col("user_id") >= 0) // drop the sentinel user
        .withColumn("session_no", row_number().over(byUser).cast("long"))
        .select(col("user_id"), col("session_no"), col("n_events"),
          round(col("total_value"), 4).as("total_value"),
          date_format(timestamp_millis(col("start_ms")), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(timestamp_millis(col("end_ms")), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"))
        .orderBy("user_id", "session_no")
    }
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Per-session accumulator. `totalNanos` is the value sum as a
    * SCALED LONG (value × 10⁹, rounded once per event): long addition
    * is exact and order-independent, where a double accumulator's
    * result depends on replay order — the same ULP-vs-round(_, 4)
    * class of divergence the daily aggregate fixed with
    * decimal(38,9). The scale bounds: |Σvalue| < 9.2e9 before
    * overflow, far above any session's event sum.
    */
  case class SessionState(start: Long, end: Long, n: Long, totalNanos: Long)

  case class SessionOut(user_id: Long, n_events: Long, total_value: Double,
                        start_ms: Long, end_ms: Long)

  private val ValueScale = 1e9

  private def toNanos(v: Double): Long = math.rint(v * ValueScale).toLong

  /** Streaming windowed counts per event_type with a watermark —
    * the stream → window agg → sink shape.
    */
  def windowedCounts(events: DataFrame, windowMinutes: Int = 5,
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$windowMinutes minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))

  /** Stateful streaming sessionization: one state entry per user,
    * closed and emitted when the event-time timeout (the session gap)
    * fires. Use with `OutputMode.Append`.
    */
  def streamingSessionize(
      events: Dataset[Event],
      gapMinutes: Int = DefaultGapMinutes): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, s.totalNanos / ValueScale, s.start, s.end))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1,
                    totalNanos = s.totalNanos + toNanos(e.value)))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.n, s.totalNanos / ValueScale,
                    s.start, s.end)
                  cur = Some(SessionState(t, t, 1L, toNanos(e.value)))
                case None =>
                  cur = Some(SessionState(t, t, 1L, toNanos(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
