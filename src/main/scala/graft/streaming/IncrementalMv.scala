package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained aggregate MV over a keyed changelog — the heart of
 * TiFlink: its flagship example maintains
 * `select author, count(*) from posts group by author` under inserts,
 * updates, and deletes flowing from CDC (reference:
 * examples/.../TiFlinkExample.java:12-18 + FlinkTikvConsumer row-kinds at
 * connectors/FlinkTikvConsumer.java:244-268).
 *
 * Each micro-batch:
 *   1. compacts the batch to one final change per primary key,
 *   2. diffs it against the current entity rows OF THE TOUCHED BUCKETS ONLY
 *      (partition-pruned read) → per-key (old, new),
 *   3. turns the diff into group-level deltas (retract old, add new),
 *   4. merges deltas into the touched agg buckets and upserts the touched
 *      entity buckets — only those bucket directories are rewritten
 *      ([[BucketedTable.swapTouched]]); everything else stays byte-identical.
 *
 * Work per batch ∝ changed keys + touched groups + the buckets they hash
 * into, never the full history — the defining property of incremental view
 * maintenance, and the same per-region write shape TiFlink's sink has
 * (FlinkTikvProducer groups rows by region before prewrite).
 */
object IncrementalMv {

  /** One maintained view: `SELECT groupKey, count(*), sum(valueCol) FROM
    * entity-state GROUP BY groupKey` where entity-state is the latest row
    * per `pk` with delete tombstones applied.
    *
    * Changelog schema contract: pk, version (monotone per key), op
    * ('delete' = tombstone), groupKey, valueCol. The entity table is
    * bucketed by pk, the aggregate table by groupKey (`nBuckets` each).
    */
  def maintain(
      basePath: String,
      pk: String, version: String, op: String,
      groupKey: String, valueCol: String,
      nBuckets: Int = 16,
      changelogPath: Option[String] = None)(batch: DataFrame, batchId: Long): Unit = {
    import BucketedTable._
    val spark = batch.sparkSession
    BucketedTable.pinBucketCount(spark, basePath, nBuckets)
    val entityPath = s"$basePath/entity"
    val aggPath = s"$basePath/agg"

    // 1. final change per key within the batch, tagged with its entity bucket
    val compacted = ChangelogOps.latestByKey(batch, Seq(pk), version)
      .withColumn(BucketCol, bucketOf(Seq(col(pk)), nBuckets))
    // materialized once (its bucket set observed on the way): the diff
    // and the entity union both read it — without this the compaction
    // shuffle runs twice. Under the durable posture (graft.Lineage) it
    // survives executor loss mid-batch; it is fully consumed within this
    // call → released on exit.
    val (compactedMat, Seq(touchedEntity)) =
      truncateObserving(compacted, col(BucketCol))
    try {
    val compactedM = compactedMat.df

    // 2. diff against the current entity rows of the touched buckets only
    val current = readTouched(spark, entityPath, touchedEntity)
      .getOrElse(compactedM.limit(0))
    val old = current.select(
      col(pk), col(groupKey).as("__old_g"), col(valueCol).as("__old_v"),
      col(version).as("__old_ver"))
    val diff = compactedM.join(old, Seq(pk), "left")
      // ignore stale replays: batch version must advance
      .filter(col("__old_ver").isNull || col(version) > col("__old_ver"))

    // 3. group deltas: retract the old contribution, add the new one
    val retract = diff.filter(col("__old_g").isNotNull)
      .select(col("__old_g").as(groupKey), lit(-1L).as("__dc"), (col("__old_v") * -1).as("__dv"))
    val add = diff.filter(col(op) =!= "delete")
      .select(col(groupKey), lit(1L).as("__dc"), col(valueCol).as("__dv"))
    val deltas = retract.unionByName(add)
      .groupBy(col(groupKey))
      .agg(sum(col("__dc")).as("__dc"), sum(col("__dv")).as("__dv"))
      .withColumn(BucketCol, bucketOf(Seq(col(groupKey)), nBuckets))

    // 4a. merge deltas into the touched agg buckets (groups of those buckets
    // that got no delta ride along via the full join and are preserved)
    // Replay guard for the agg table: the entity version guard above zeroes
    // deltas only once the ENTITY buckets have swapped, which happens after
    // the agg swap. A replay that crashed between the two swaps recomputes
    // non-empty deltas from the old entity state — the `_applied_batch`
    // marker (written atomically after the agg swap) tells such a replay
    // the agg already has them.
    if (readMarker(spark, aggPath) < batchId) {
    // materialized once, observing the agg bucket set on the way: the set
    // is needed before the merge reads the agg buckets, and the merge then
    // reads the deltas instead of running the diff pipeline a second time
    val (deltasMat, Seq(touchedAgg)) = truncateObserving(deltas, col(BucketCol))
    try if (touchedAgg.nonEmpty) {
      val deltasM = deltasMat.df
      // the agg merge is ADDITIVE: a crash inside its swap left some
      // buckets with this batch's deltas applied and some without, and a
      // silent latest-wins reconciliation (readTouched would otherwise
      // roll forward) followed by a replayed merge would apply the
      // deltas AGAIN to the already-swapped buckets. Refuse loudly FIRST
      // — and mark the TABLE additive so every other reconcile path
      // (a maintenance compact between crash and replay) refuses too,
      // instead of silently destroying the trash this assert reads.
      BucketedTable.assertCleanTrash(spark, aggPath)
      BucketedTable.markAdditive(spark, aggPath)
      val aggCurrent = readTouched(spark, aggPath, touchedAgg).getOrElse(
        deltasM.select(col(groupKey), lit(0L).as("cnt"), lit(0.0).as("total"),
          col(BucketCol)).limit(0))
      val merged = aggCurrent
        .join(deltasM, Seq(groupKey, BucketCol), "full")
        .select(col(groupKey),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dc"), lit(0L))).as("cnt"),
          (coalesce(col("total"), lit(0.0)) + coalesce(col("__dv"), lit(0.0))).as("total"),
          col(BucketCol))
        .filter(col("cnt") > 0)
      // merged feeds BOTH the changelog diff and the bucket swap —
      // materialize once: a second execution would re-run the whole diff
      // pipeline AND could re-merge the order-sensitive double sums
      // differently (task retry/fetch order), letting the emitted
      // changelog disagree with the committed state in the last ulp
      val mergedMat = graft.Lineage.truncate(merged)
      try {
      val mergedM = mergedMat.df
      // 4a'. emit the MV's OWN output changelog (retraction stream — the
      // row-kind stream TiFlink's sink consumes and the feed a downstream
      // MV would maintain itself from; batch twin: Changelog.q101MvDiff).
      // Commit points, in order: changelog dir (guarded by its existence),
      // agg swap + `_applied_batch` marker, entity swap (guarded by the
      // per-key version filter). A replay crashing pre-agg-swap recomputes
      // the identical diff from unchanged state and skips the committed
      // changelog dir; one crashing after the marker skips the whole agg
      // block and redoes only the entity swap. The residual window is the
      // instants between the agg swap's last rename and the marker write —
      // and a crash INSIDE the swap itself is loud (assertCleanTrash above
      // refuses to merge over an interrupted additive swap), not silent.
      changelogPath.foreach { cl =>
        val oldA = aggCurrent.select(
          col(groupKey), col("cnt").as("__oc"), col("total").as("__ot"))
        val newA = mergedM.select(col(groupKey), col("cnt"), col("total"))
        ChangelogOps.publishBatch(oldA.join(newA, Seq(groupKey), "full")
          // unchanged ride-along groups (same bucket, no delta) emit nothing
          .filter(!(col("__oc") <=> col("cnt") && col("__ot") <=> col("total")))
          .select(col(groupKey),
            when(col("__oc").isNull, lit("I"))
              .when(col("cnt").isNull, lit("D"))
              .otherwise(lit("U")).as("op"),
            col("cnt"), col("total")), cl, batchId)
      }
      swapTouched(mergedM, aggPath, touchedAgg)
      writeMarker(spark, aggPath, batchId)
      } finally mergedMat.release()
    } finally deltasMat.release()
    }

    // 4b. upsert the touched entity buckets (latest-row-wins + tombstones)
    val unioned = current.unionByName(compactedM)
    val entity = ChangelogOps.latestByKey(unioned, Seq(pk), version)
      .filter(col(op) =!= "delete")
    swapTouched(entity, entityPath, touchedEntity)
    } finally compactedMat.release()
  }
}
