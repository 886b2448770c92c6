package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Tables

/**
 * Batch semantics of TiFlink's snapshot+CDC pipeline
 * (reference: connectors/FlinkTikvConsumer.java:92-106 — scan a snapshot at a
 * start timestamp, then consume the changelog ordered by (commit_ts, key) and
 * apply INSERT/UPDATE_AFTER/DELETE row-kinds; decodeToRowData at :244-268 maps
 * store ops to row-kinds).
 *
 * The `events` table plays the changelog: key = user_id, version = (ts,
 * event_id), and `event_type = 'error'` is treated as the DELETE row-kind
 * (tombstone). The streaming twins of these operators live in
 * [[graft.streaming.ChangelogOps]]; these batch forms are the oracle-checkable
 * ground truth the streaming state must converge to.
 *
 * Scale: latest-row-wins is one hash-shuffle by key (window row_number with a
 * partial-free plan, or max_by — both single-exchange). No driver-side state.
 */
object Changelog {

  private val snapshotTs = "2024-01-15 00:00:00"

  /** Latest-row-wins by key: the upsert-compaction TiFlink's sink applies
    * (FlinkTikvProducer encodes latest value per RowKey per transaction). */
  def latestByKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- B1
  /** Snapshot read at a timestamp (FlinkTikvConsumer.scanRows: full scan at
    * startTs). The ts predicate pushes to the parquet scan. */
  def q30SnapshotRead(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter($"ts" <= lit(snapshotTs).cast("timestamp"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")

  // ---------------------------------------------------------------- B2
  /** Changelog application: latest row per key, DELETE tombstones drop the
    * key (decodeToRowData's RowKind.DELETE path). */
  def q31CdcApply(spark: SparkSession, dir: String): DataFrame =
    latestByKey(
      Tables.events(spark, dir), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      .filter($"event_type" =!= "error") // latest op is a tombstone → key absent
      .select($"user_id", $"ts".as("last_ts"), $"event_type".as("last_event_type"),
        $"value".as("last_value"))

  // ---------------------------------------------------------------- B3
  /** Snapshot + changelog merge → current state (the run() sequence: scanRows
    * then CDC from resolvedTs). Union is by construction disjoint in time; the
    * merged stream is compacted latest-row-wins, and we also report how many
    * changes arrived after the snapshot per key. */
  def q32SnapshotPlusCdc(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = lit(snapshotTs).cast("timestamp")
    val snapshot = ev.filter($"ts" <= cut)
    val cdc = ev.filter($"ts" > cut)
    val merged = latestByKey(
      snapshot.unionAll(cdc), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
    val changes = cdc.groupBy($"user_id".as("cu")).agg(count(lit(1)).as("changes_since_snapshot"))
    merged
      .join(changes, $"user_id" === $"cu", "left")
      .select($"user_id", $"ts".as("last_ts"), $"event_type".as("last_event_type"),
        coalesce($"changes_since_snapshot", lit(0L)).as("changes_since_snapshot"))
  }

  // ---------------------------------------------------------------- B4
  /** The per-key aggregate MV the streaming pipeline maintains incrementally
    * (batch ground truth; see MaterializedViewSpec for the streaming twin). */
  def q33MvIncrementalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(14, 2))).cast(DoubleType).as("total_value"),
        max($"ts").as("last_ts"))

  // ---------------------------------------------------------------- B5
  /** Tumbling event-time window (1h). Batch `window()` is the same operator
    * Structured Streaming uses with a watermark. */
  def q34TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast(DecimalType(14, 2))).cast(DoubleType).as("total_value"))
      .select($"window.start".as("window_start"), $"event_type", $"cnt", $"total_value")

  // ---------------------------------------------------------------- B6
  /** Hopping window (1h long, sliding 30min): each event lands in 2 windows. */
  def q35HoppingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("window_start"), $"cnt")

  // ---------------------------------------------------------------- B7
  /** Session window per user (1h inactivity gap) — Flink SESSION(...) analog;
    * session end = last event + gap, exactly Spark's session_window semantics. */
  def q36SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"n_events")

  // ---------------------------------------------------------------- B28
  /** Two-phase transaction-log application — the core of TiFlink's CDC
    * consumption (FlinkTikvConsumer.java:108-191): a PREWRITE row only
    * takes effect if its transaction COMMITs; ROLLBACK discards it; commit
    * order (commit_ts, then a stable tiebreak) decides the final value per
    * key. The txn log is derived deterministically from `events` (txn =
    * 3 consecutive events, every 10th txn rolls back, commit_ts = the
    * txn's max event time) so the oracle can replay the same rules.
    *
    * Scale shape: one groupBy to resolve txn outcomes (tiny vs the log),
    * a shuffle join to stamp commit_ts, and a WindowGroupLimit top-1 per
    * key — the shuffle carries one candidate row per (key, partition). */
  def q63TxnApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"value",
        expr("event_id div 3").as("txn_id"))
    val txns = ev.groupBy($"txn_id")
      .agg(max($"ts").as("commit_ts"))
      .filter($"txn_id" % 10 =!= 0) // ROLLBACK: writes never surface
    val applied = ev.join(txns, "txn_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"commit_ts".desc, $"event_id".desc)
    applied.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"value", $"commit_ts")
  }

  // ---------------------------------------------------------------- B32
  /** Changelog → temporal (SCD2) table: every change row becomes a
    * validity interval `[valid_from, valid_to)` — `valid_to` is the next
    * change's timestamp for the same key, NULL while current. This is the
    * transformation behind Flink's temporal/versioned tables (the surface
    * TiFlink users join against with FOR SYSTEM_TIME AS OF): the AS-OF
    * lookup itself is [[graft.operators.AsOf]] (B19); this builds the
    * versioned relation it probes.
    *
    * Scale: one shuffle on the key + per-key sort shared by the lead()
    * and the current-flag; intervals are exact epoch-µs with a
    * deterministic (ts, event_id) tie-break. */
  def q94Scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"value", $"ts")
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
      .withColumnRenamed("ts", "valid_from")
      .select($"user_id", $"event_id", $"event_type", $"value",
        $"valid_from", $"valid_to", $"is_current")
  }

  // ---------------------------------------------------------------- B33
  /** MV snapshot diff → changelog (RETRACTION GENERATION): given the keyed
    * state at two cut timestamps, emit the exact change rows ('I'nsert /
    * 'U'pdate / 'D'elete) that transform the old state into the new one —
    * the inverse of B2/B3, and the operation behind Flink's retraction
    * streams (TiFlink's sink consumes exactly this row-kind stream;
    * FlinkTikvProducer.java:117-139 maps RowKind.{INSERT,UPDATE_AFTER,
    * DELETE} to store ops). Downstream MVs can be maintained from this
    * diff without re-reading either snapshot.
    *
    * State at a cut = latest row per user_id at ts ≤ cut, with the 'error'
    * row-kind as DELETE tombstone (key absent), matching q31. A key whose
    * latest event is UNCHANGED between cuts emits nothing — the diff is
    * O(|changed keys|), not O(|state|).
    *
    * Scale: both states hash-shuffle on user_id once, and the full outer
    * join reuses that partitioning (no extra exchange); output is bounded
    * by keys touched in (cut1, cut2]. At 100 TB the states themselves
    * would be bucketed tables (B23) and the join shuffle-free. */
  def q101MvDiff(spark: SparkSession, dir: String): DataFrame = {
    def state(cut: String): DataFrame =
      latestByKey(
        Tables.events(spark, dir).filter($"ts" <= lit(cut).cast("timestamp")),
        Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
        .filter($"event_type" =!= "error")
        .select($"user_id", $"event_id", $"event_type", $"value")
    val oldS = state(snapshotTs).select(
      $"user_id", $"event_id".as("old_event_id"))
    val newS = state("2024-01-25 00:00:00").select(
      $"user_id", $"event_id".as("new_event_id"),
      $"event_type".as("new_event_type"), $"value".as("new_value"))
    oldS.join(newS, Seq("user_id"), "full_outer")
      .filter(!($"old_event_id" <=> $"new_event_id"))
      .select($"user_id",
        when($"old_event_id".isNull, lit("I"))
          .when($"new_event_id".isNull, lit("D"))
          .otherwise(lit("U")).as("op"),
        $"old_event_id", $"new_event_id", $"new_event_type", $"new_value")
  }

  // ---------------------------------------------------------------- B34
  /** Temporal table join (FOR SYSTEM_TIME AS OF): probe rows join the dim
    * version whose validity interval contains the probe timestamp. The dim
    * here is the user's purchase history versioned SCD2-style (B32's
    * transformation applied to the 'purchase' rows); probes are the
    * 'click' rows — each click sees the purchase value in effect at click
    * time. Clicks before a user's first purchase have no valid version and
    * drop (inner temporal-join semantics, Flink's default).
    *
    * This is the lookup-side twin of B19's as-of join: same semantics,
    * different physical shape — B19 merges both streams through one
    * running-last sort; this builds the versioned relation once (reusable
    * across many probe streams) and joins on key + interval containment.
    * Spark plans key-equality + range as a sort-merge join on user_id with
    * the band as a post-join filter on sorted runs; per-user version
    * chains are short, so the per-key scan is bounded.
    *
    * Scale: one shuffle each side on user_id; at 100 TB a small dim
    * broadcasts instead, and a large one reuses B23's bucketed layout for
    * a shuffle-free probe. */
  def q102TemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy($"user_id").orderBy($"valid_from", $"dim_event_id")
    val dim = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("dim_event_id"),
        $"value".as("dim_value"), $"ts".as("valid_from"))
      .withColumn("valid_to", lead($"valid_from", 1).over(w))
      .as("d")
    val probe = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"ts").as("p")
    // both sides are filters of one frame: aliases keep the key equality
    // from resolving to one column on both sides
    probe.join(dim,
      $"p.user_id" === $"d.user_id" &&
        $"p.ts" >= $"d.valid_from" &&
        ($"d.valid_to".isNull || $"p.ts" < $"d.valid_to"))
      .select($"p.user_id", $"p.event_id", $"p.ts",
        $"d.dim_event_id", $"d.dim_value", $"d.valid_from")
  }

  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
