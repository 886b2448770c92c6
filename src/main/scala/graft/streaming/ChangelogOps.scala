package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming changelog operators — the Structured-Streaming re-expression of
 * TiFlink's CDC consumer state machine (reference:
 * connectors/FlinkTikvConsumer.java:108-191: buffer prewrites, order commits
 * by (commit_ts, key), emit row-kinds at watermark/resolved-ts boundaries).
 *
 * Spark-first translation: ordering + latest-row-wins is a *streaming
 * aggregation* (`max_by` keyed state, Update mode) — Catalyst manages the
 * state store, no hand-rolled TreeMaps. Custom session state uses
 * `flatMapGroupsWithState` with event-time timeout so state is bounded by the
 * watermark, the same role FlinkTikvConsumer's resolved-ts plays.
 */
object ChangelogOps {

  /** Latest-row-wins by key — works identically on batch and streaming frames
    * (streaming: Update mode, one state row per key; batch: one shuffle).
    * This is the operator `q31_cdc_apply` is the oracle for. */
  def latestByKey(df: DataFrame, keys: Seq[String], versionCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(df.columns.toIndexedSeq.map(col): _*), col(versionCol)).as("__r"))
      .select(col("__r.*"))

  /** Publish `df` as a view's output changelog for one batch: the
    * directory `batch=<batchId>` under `root`. Written to `_staging_<id>`
    * and renamed into place, so a half-written directory is never mistaken
    * for a committed batch; a batch already published is skipped, which
    * makes a replay a no-op. */
  def publishBatch(df: DataFrame, root: String, batchId: Long): Unit = {
    val dst = new Path(root, s"batch=$batchId")
    val fs = dst.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) return
    val staging = new Path(root, s"_staging_$batchId")
    fs.delete(staging, true)
    df.write.mode("overwrite").parquet(staging.toString)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(staging, dst))
      throw new IllegalStateException(
        s"changelog rename $staging -> $dst failed; batch $batchId not emitted")
  }

  /** Per-key running aggregate MV (count/sum/max) — the incremental form of
    * `q33_mv_incremental_agg`; streaming keyed state grows O(|keys|). */
  def runningAggregate(df: DataFrame, key: String, valueCol: String, tsCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(14,2)")).cast("double").as("total_value"),
        max(col(tsCol)).as("last_ts"))

  // ------------------------------------------------------------------
  // Typed stateful sessionization (flatMapGroupsWithState showcase)

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionUpdate(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, closed: Boolean)

  /** Event-time sessionization with custom state (gap-based). Emits an update
    * per batch and a final `closed=true` record when the event-time timeout
    * fires — bounded state via watermark, TiFlink's resolved-ts discipline.
    *
    * At scale: state is one small record per active (user, session); the
    * watermark evicts idle keys, so state size tracks *active* users only. */
  def sessionize(
      events: Dataset[Event],
      gap: Long /* ms */,
      watermarkDelay: String = "10 minutes"): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, new Timestamp(s.start), new Timestamp(s.end + gap), s.n, closed = true))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closedSessions = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t < s.end + gap =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closedSessions ::= SessionUpdate(
                    userId, new Timestamp(s.start), new Timestamp(s.end + gap), s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gap)
            }
            closedSessions.reverseIterator
          }
        })
  }

  // ------------------------------------------------------------------
  // transformWithState (Spark 4 stateful API): composable typed state

  case class KeyAgg(key: Long, n_events: Long, total: Double)

  /** Running per-key count+sum as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the Spark-4-native successor to flatMapGroupsWithState: named state
    * variables (with optional TTL), timers, and multiple state types per
    * processor. This is the state shape FlinkTikvConsumer keeps in its
    * ListState (FlinkTikvConsumer.java:222-235), managed by the engine. */
  class RunningAggProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), KeyAgg] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var agg: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)](
        "agg", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[KeyAgg] = {
      var (n, total) = if (agg.exists()) agg.get() else (0L, 0.0)
      rows.foreach { case (_, v) => n += 1; total += v }
      agg.update((n, total))
      Iterator(KeyAgg(key, n, total))
    }
  }

  /** Running aggregate via transformWithState (Update-mode emission). */
  def runningAggregateTws(ds: Dataset[(Long, Double)]): Dataset[KeyAgg] = {
    val spark = ds.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    ds.groupByKey(_._1)
      .transformWithState(new RunningAggProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Lift the events table shape into the typed stream. */
  def asEvents(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("user_id"), col("ts"), col("event_type"), col("value")).as[Event]
  }
}
