package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Idempotent upsert sink — the Spark analog of TiFlink's
 * `FlinkTikvProducer`/`TikvDynamicSink` (reference:
 * connectors/FlinkTikvProducer.java: batches encoded rows per transaction,
 * prewrites them, and commits atomically at checkpoint so the target table
 * always shows a consistent snapshot).
 *
 * Here the target is a parquet directory: each `foreachBatch` call merges the
 * micro-batch into the target (latest-version-wins by primary key, DELETE
 * tombstones drop the key) and publishes atomically by staging + rename —
 * readers see either the old or the new snapshot, never a partial write,
 * which is the same visibility contract TiFlink gets from 2PC.
 *
 * Two write paths:
 *  - [[upsertBucketed]] (the default for [[MaterializedView]]): the target
 *    is hash-bucketed by primary key ([[BucketedTable]]); a batch reads and
 *    rewrites ONLY the buckets holding its keys — per-batch cost is
 *    O(delta + touched buckets), the property TiFlink gets from per-region
 *    writes, and the one that keeps the MV write path off the critical path
 *    at 100 TB.
 *  - [[upsertBatch]]: whole-table merge + atomic rename. O(table) per batch;
 *    kept for small dimension-sized targets where one file beats a
 *    directory tree.
 * The merge itself is a single hash shuffle on the primary key (max_by
 * aggregate — no window sort needed).
 */
object UpsertSink {

  /** Merge `batch` into the parquet dir at `targetPath`.
    *
    * @param keys       primary-key columns (TiFlinkApp.Builder.setPrimaryKeys)
    * @param versionCol monotonically increasing version (commit-ts analog)
    * @param deleteCol  optional boolean column marking tombstones
    */
  def upsertBatch(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      versionCol: String,
      deleteCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(targetPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(targetPath)
    val stage = new Path(targetPath + "__stage")
    val old = new Path(targetPath + "__old")

    // Crash-window recovery FIRST: a swap that died between its two
    // renames left the prior snapshot parked at __old and no target.
    // Restore it before merging — a replay that read "no target" would
    // merge the batch against NOTHING and silently drop every key the
    // batch doesn't carry. (__old is always a COMPLETE prior snapshot:
    // it only ever receives a fully-committed target via rename.)
    if (!fs.exists(target) && fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new IllegalStateException(
          s"could not restore $old to $target after a mid-swap crash")
    }

    val current =
      if (fs.exists(target)) Some(spark.read.parquet(targetPath)) else None
    val unioned = current.map(_.unionByName(batch)).getOrElse(batch)

    // latest-version-wins per key; single shuffle, no sort.
    val packed = unioned
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(unioned.columns.toIndexedSeq.map(col): _*), col(versionCol)).as("__r"))
      .select(col("__r.*"))
    val alive = deleteCol.fold(packed)(d => packed.filter(!col(d)))

    fs.delete(stage, true)
    alive.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // atomic publish: old snapshot readable until the rename lands. A
    // refused rename must stop the swap: renaming the stage onto a target
    // that is still there nests it INSIDE the target, and deleting __old
    // after a refused publish deletes the only copy of the snapshot.
    fs.delete(old, true)
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, old))
      throw new IllegalStateException(
        s"could not move $target aside to $old; the snapshot is unchanged")
    if (!fs.rename(stage, target)) {
      val restored = !hadTarget || fs.rename(old, target)
      throw new IllegalStateException(s"could not publish $stage to $target; " +
        (if (restored) "the previous snapshot is restored"
         else s"the previous snapshot is at $old, restored by the next upsert"))
    }
    fs.delete(old, true)
  }

  /** Merge `batch` into a key-hash-bucketed parquet target, rewriting only
    * the buckets that contain batch keys. Untouched buckets' files are not
    * modified (asserted byte-identical by UpsertSinkSpec). Same
    * latest-version-wins + tombstone semantics as [[upsertBatch]]; the
    * target carries an extra `__bucket` partition column. */
  def upsertBucketed(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      versionCol: String,
      deleteCol: Option[String] = None,
      nBuckets: Int = 64,
      reliable: Boolean = false): Unit = {
    import BucketedTable._
    val spark = batch.sparkSession
    val bucketed = batch.withColumn(BucketCol, bucketOf(keys.map(col), nBuckets))
    // a drifted batch fails before it runs a job, with the table untouched
    checkSchema(spark, targetPath, bucketed.schema)
    // materialize once: the bucket-set collect AND the merge both read the
    // batch; without this the batch's full lineage executes twice.
    // reliable=true survives executor loss mid-batch (graft.Lineage); the
    // spill is fully consumed within this call, so it is released on exit.
    val batchM = graft.Lineage.truncate(bucketed, reliable)
    try {
      val batchB = batchM.df
      val touched = touchedBuckets(batchB)
      if (touched.isEmpty) return

      val unioned = readTouched(spark, targetPath, touched)
        .map(batchB.unionByName(_)).getOrElse(batchB)
      val packed = unioned
        .groupBy(keys.map(col): _*)
        .agg(max_by(struct(unioned.columns.toIndexedSeq.map(col): _*), col(versionCol)).as("__r"))
        .select(col("__r.*"))
      val alive = deleteCol.fold(packed)(d => packed.filter(!col(d)))
      swapTouched(alive, targetPath, touched)
    } finally batchM.release()
  }

  /** foreachBatch adapter: `writeStream.foreachBatch(UpsertSink.forStream(...))`.
    * `nBuckets > 1` routes to the bucketed O(delta) path; `nBuckets <= 1`
    * keeps the whole-table merge. */
  def forStream(
      targetPath: String,
      keys: Seq[String],
      versionCol: String,
      deleteCol: Option[String] = None,
      nBuckets: Int = 0,
      reliable: Boolean = false): (DataFrame, Long) => Unit =
    (batch, _) =>
      if (nBuckets > 1)
        upsertBucketed(batch, targetPath, keys, versionCol, deleteCol, nBuckets, reliable)
      else upsertBatch(batch, targetPath, keys, versionCol, deleteCol)
}
