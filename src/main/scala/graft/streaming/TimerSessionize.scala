package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig,
  ValueState}

/** Streaming sessionization with EVENT-TIME TIMERS on Spark 4's
  * `transformWithState` — the timer-driven complement to the native
  * `session_window` aggregation (which the suite also ships): a session
  * closes exactly when the WATERMARK passes its last event plus the gap,
  * at which point the registered timer fires and `handleExpiredTimer`
  * emits the completed (user, start, end, n_events) row and clears the
  * key's state. State per key is one (start, end, count) triple plus one
  * timer — O(active users), reclaimed on emission.
  *
  * Contract: events for an open session that arrive within the watermark
  * extend its bounds (out-of-order arrivals INSIDE the window merge
  * correctly); each batch re-arms the key's single timer to the newest
  * `end + gap`. A key whose events span several gap-separated sessions
  * within ONE batch emits them as one merged row — the multi-session
  * split-within-batch case belongs to `session_window`; this operator's
  * niche is the exact-close-on-watermark semantics and bounded state.
  * Requires the RocksDB state store provider (a `transformWithState`
  * constraint, checked with a named error). */
object TimerSessionize {

  case class Event(user_id: Long, ts: java.sql.Timestamp)
  case class Session(user_id: Long, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp, n_events: Long)

  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[(Long, Long, Long)]("session",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      var (start, end, n) =
        if (sess.exists()) sess.get() else (Long.MaxValue, Long.MinValue, 0L)
      rows.foreach { e =>
        val t = e.ts.getTime
        if (t < start) start = t
        if (t > end) end = t
        n += 1
      }
      if (n > 0) {
        sess.update((start, end, n))
        // ONE timer per key: drop stale timers (they'd close the session
        // off the OLD end), then re-arm to the newest close time
        val handle = getHandle
        val olds = handle.listTimers().map(_.asInstanceOf[Long]).toList
        olds.foreach(handle.deleteTimer)
        handle.registerTimer(end + gapMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (start, end, n) = sess.get()
        sess.clear()
        Iterator.single(Session(key,
          new java.sql.Timestamp(start), new java.sql.Timestamp(end), n))
      }
    }
  }

  def start(spark: SparkSession, inDir: String, schema: String,
      outDir: String, checkpoint: String, gapSeconds: Long,
      watermarkDelay: String = "0 seconds"): StreamingQuery = {
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDBStateStoreProvider"),
      "transformWithState requires the RocksDB state store: set " +
        "spark.sql.streaming.stateStore.providerClass to " +
        "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider before starting the sessionizer")
    implicit val sessEnc = Encoders.product[Session]
    val sessions = spark.readStream.schema(schema).parquet(inDir)
      .withWatermark("ts", watermarkDelay)
      .as[Event](Encoders.product[Event])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapSeconds * 1000L),
        TimeMode.EventTime(), OutputMode.Append(), sessEnc)
    DocIngest.eachBatch(sessions.toDF(), checkpoint) { (batch, batchId) =>
      DocIngest.commitBatch(batch, batchId, outDir)
    }
  }
}
