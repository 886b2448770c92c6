package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Continuously-maintained SCD TYPE-2 HISTORY table — the streaming twin of
 * batch [[graft.operators.Changelog.q94Scd2Intervals]] (B32): every
 * incoming event appends a new version row and CLOSES the key's previous
 * open interval (`valid_to` = the new row's `valid_from`), so the table
 * answers both "current state" (`is_current`) and "state as of t"
 * (interval containment — the dim side B34's temporal join probes). The
 * reference keeps exactly this versioned-row history in its store (every
 * TiKV write is a new version at a commit ts; snapshot reads pin one —
 * FlinkTikvConsumer.java:92-199); here the history is an explicit
 * [[BucketedTable]] any engine can scan.
 *
 * Per batch: only the buckets holding the batch's keys are read and
 * swapped; interval recomputation is one per-key `lead` window over those
 * buckets' rows — closed intervals recompute to their stored values
 * (idempotent under replay), the affected keys' open rows close, and the
 * new rows append. Work per batch ∝ touched buckets, never the table.
 *
 * Ordering contract: APPEND-ONLY per key — each key's new versions must
 * order strictly after everything already stored (same in-order contract
 * as B46/B50). A late event would silently REWRITE history (its insertion
 * changes an already-closed interval a temporal join may have served), so
 * disorder fails LOUDLY with the offending key, never corrupts quietly.
 *
 * Replay safety: the recompute is content-deterministic and the
 * `_applied_batch` marker (written after the swap) makes a full replay a
 * no-op. A replay of a HALF-APPLIED batch (crash between swap and marker:
 * rows stored, marker stale) is made safe by anti-joining the batch
 * against the stored history on the WHOLE row (version key and payload,
 * null-safe) BEFORE the disorder check — byte-identical re-deliveries
 * drop out, so the replay neither duplicates them nor trips the
 * append-only check against its own rows; the remainder (empty on a clean
 * replay) recomputes identical buckets. A row that collides on the
 * version key with a DIFFERENT payload is not a replay — it survives the
 * drop and fails the disorder check loudly instead of vanishing.
 */
object StreamingScd2 {
  import BucketedTable._

  /** Apply one micro-batch of events to the history at `path`. `batch`
    * carries `keyCol`, `fromCol` (the version timestamp — becomes
    * `valid_from`), `tieCol` (same-timestamp total order), and payload;
    * the stored history adds `valid_to` + `is_current`. */
  def applyBatch(path: String, keyCol: String, fromCol: String,
      tieCol: String, nBuckets: Int = 16)
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    pinBucketCount(spark, path, nBuckets)
    if (readMarker(spark, path) >= batchId) return

    val newRows = batch
      .withColumnRenamed(fromCol, "valid_from")
      .withColumn("valid_to", lit(null).cast(
        batch.schema(fromCol).dataType))
      .withColumn("is_current", lit(true))
      .withColumn(BucketCol, bucketOf(Seq(col(keyCol)), nBuckets))
    val (newMat, Seq(touched)) =
      truncateObserving(newRows, col(BucketCol))
    try {
      if (touched.isEmpty) { writeMarker(spark, path, batchId); return }
      val cur = readTouched(spark, path, touched).getOrElse(newMat.df.limit(0))

      // a crash between swapTouched and writeMarker leaves the batch's
      // rows stored under the PREVIOUS marker; on replay those rows are
      // already history and must neither re-union (duplicates) nor trip
      // the disorder check (the stored max IS the batch's own row). Drop
      // them first — replay of a half-applied batch is then a true no-op
      // on the remainder. Keys map to one bucket and buckets swap whole,
      // so a key's batch rows are stored all-or-nothing; the anti-join
      // identity is the WHOLE row (version key AND payload, null-safe):
      // only a byte-identical re-delivery may drop silently — a row that
      // collides on (key, valid_from, tie) with a DIFFERENT payload is a
      // producer bug, survives the drop, and fails the disorder check
      // loudly instead of vanishing.
      val idCols = batch.columns.toSeq.map {
        case c if c == fromCol => "valid_from"
        case c => c
      }
      val curData = cur.select(idCols.map(col): _*).as("__cur")
      val antiCond = idCols.map(c =>
        col(s"__new.$c") <=> col(s"__cur.$c")).reduce(_ && _)
      val fresh = newMat.df.as("__new")
        .join(curData, antiCond, "left_anti")
      if (fresh.isEmpty) { writeMarker(spark, path, batchId); return }

      // disorder is loud: every key's incoming versions must order
      // strictly after its stored history (one bounded collect)
      val ord = struct(col("valid_from"), col(tieCol))
      val bad = fresh.groupBy(col(keyCol)).agg(min(ord).as("__mn"))
        .join(cur.groupBy(col(keyCol)).agg(max(ord).as("__mx")), Seq(keyCol))
        .filter(col("__mn") <= col("__mx"))
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"out-of-order SCD2 version for key ${bad(0).get(0)}: history " +
            "is append-only per key; a late event would rewrite an " +
            "already-served interval")

      val unioned = cur.unionByName(fresh)
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col("valid_from"), col(tieCol))
      val recomputed = unioned
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
      swapTouched(recomputed, path, touched)
      writeMarker(spark, path, batchId)
    } finally newMat.release()
  }
}
