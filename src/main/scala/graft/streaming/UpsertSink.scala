package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Idempotent upsert sink — the Spark analog of TiFlink's
 * `FlinkTikvProducer`/`TikvDynamicSink` (reference:
 * connectors/FlinkTikvProducer.java: batches encoded rows per transaction,
 * prewrites them, and commits atomically at checkpoint so the target table
 * always shows a consistent snapshot).
 *
 * The target is a hash-bucketed parquet directory ([[BucketedTable]]):
 * each `foreachBatch` call merges the micro-batch into the buckets holding
 * its keys (latest-version-wins by primary key, DELETE tombstones drop the
 * key) and publishes each touched bucket by staging + rename. A batch reads
 * and rewrites ONLY those buckets — per-batch cost is O(delta + touched
 * buckets), the property TiFlink gets from per-region writes. Each bucket
 * swap is atomic; a target with one bucket is swapped by one rename, the
 * whole table at once. The merge itself is a single hash shuffle on the
 * primary key (max_by aggregate — no window sort needed).
 */
object UpsertSink {

  /** Merge `batch` into the key-hash-bucketed parquet target at
    * `targetPath`, rewriting only the buckets that contain batch keys.
    * Untouched buckets' files are not modified (asserted byte-identical by
    * BucketedUpsertSpec). The target carries an extra `__bucket` partition
    * column, and its bucket count is pinned by the first call.
    *
    * @param keys       primary-key columns (TiFlinkApp.Builder.setPrimaryKeys)
    * @param versionCol monotonically increasing version (commit-ts analog)
    * @param deleteCol  optional boolean column marking tombstones
    */
  def upsertBucketed(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      versionCol: String,
      deleteCol: Option[String] = None,
      nBuckets: Int = 64): Unit = {
    import BucketedTable._
    val spark = batch.sparkSession
    val bucketed = batch.withColumn(BucketCol, bucketOf(keys.map(col), nBuckets))
    // a drifted batch fails before it runs a job, with the table untouched
    checkSchema(spark, targetPath, bucketed.schema)
    // materialize once, observing the bucket set on the way: the target
    // read needs the set before the merge runs, and the merge then reads
    // the materialized batch instead of running its lineage a second time.
    // Under the durable posture (graft.Lineage) it survives executor loss
    // mid-batch; it is fully consumed within this call, so it is released
    // on exit.
    val (batchM, Seq(touched)) = truncateObserving(bucketed, col(BucketCol))
    try {
      val batchB = batchM.df
      if (touched.isEmpty) return

      val unioned = readTouched(spark, targetPath, touched)
        .map(batchB.unionByName(_)).getOrElse(batchB)
      val packed = ChangelogOps.latestByKey(unioned, keys, versionCol)
      val alive = deleteCol.fold(packed)(d => packed.filter(!col(d)))
      // after readTouched, which refuses a flat target before anything is
      // written to it: a changed count would hash keys into new buckets
      // beside their old rows
      pinBucketCount(spark, targetPath, nBuckets)
      swapTouched(alive, targetPath, touched)
    } finally batchM.release()
  }
}
