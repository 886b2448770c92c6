package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Lineage truncation with a durability knob for iterative and multi-read
 * plans (the duplicate-cluster label loop, the bucketed upsert paths — each
 * materializes an intermediate it then reads several times).
 *
 * - `reliable = false` (default): `localCheckpoint` — blocks live on the
 *   executors with no lineage behind them. Fastest, and the right call in
 *   local mode and inside streaming micro-batches (a failed batch simply
 *   retries). But on a real cluster, losing one executor mid-job kills the
 *   whole job, because the lost blocks cannot be recomputed.
 * - `reliable = true`: spill to parquet under the SparkContext checkpoint
 *   directory (HDFS/object-store grade). An executor loss re-reads the
 *   spill files and the job continues — the posture a 1000-executor run of
 *   an hours-long iterative job needs, bought with one extra write+read of
 *   the materialized data.
 *
 * The durable path deliberately spills via parquet rather than
 * `df.checkpoint()`: reliable RDD checkpoints are only garbage-collected
 * by the weak-reference cleaner (and only when
 * `spark.cleaner.referenceTracking.cleanCheckpoints` is on), so an
 * iterative caller would permanently accumulate one table copy per round.
 * A [[Materialized]] instead carries an explicit `release()` — the caller
 * deletes each round's spill deterministically the moment nothing reads it.
 *
 * Block accounting. `release()` frees the materialization for BOTH paths
 * (unpersist of the checkpoint blocks / delete of the spill directory) —
 * the streaming sinks release every batch's truncations in `finally`
 * blocks, so a long-running stream holds O(1) checkpoint blocks, not one
 * set per micro-batch. Operators that RETURN a lazy plan referencing a
 * truncation (the Rank range skeleton, the triangle orientation) cannot
 * release it themselves — those register in a per-SparkContext leak
 * registry instead, and a session controller frees them BETWEEN queries
 * via [[drainLeaked]] (what `Bench` does with its broader unpersist-all).
 * `drainLeaked` is a session-level barrier with the same contract as
 * `release()`: call it only when no graft-returned frame will be read
 * again — a drained frame's blocks are gone and its lineage is truncated,
 * so a later read fails loudly rather than recomputing.
 *
 * Callers expose `reliable` and pass it through; the caller (or cluster
 * conf) must have set `sparkContext.setCheckpointDir` first when enabling
 * it — fail fast here otherwise, rather than deep inside Spark.
 */
object Lineage {

  /** A lineage-truncated frame plus its cleanup. `release()` is idempotent
    * (also across threads: the first call wins) and frees the
    * materialization: the localCheckpoint path unpersists the checkpoint
    * blocks (a later read of `df` fails — the lineage behind them is
    * gone), the durable path deletes the spill directory — call it only
    * once every read of `df` has completed. */
  final class Materialized(val df: DataFrame, cleanup: () => Unit) {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit = if (released.compareAndSet(false, true)) cleanup()
  }

  /** Per-SparkContext queue of localCheckpoint RDDs created by [[truncate]]
    * and not yet released — weakly referenced (a GC'd entry is the context
    * cleaner's to unpersist), weak-keyed so a stopped context's registry
    * dies with it. */
  private val leaked: java.util.Map[
      SparkContext, ConcurrentLinkedQueue[java.lang.ref.WeakReference[RDD[_]]]] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap)

  /** The RDD holding a `df.localCheckpoint()`'s blocks — the `LogicalRDD`
    * the returned Dataset wraps. None on an unexpected plan shape (then
    * the old leak-until-eviction posture applies; never break the query
    * over accounting). */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** `eager = false` (localCheckpoint path only): the materialization is
    * MARKED at call time but computed by the CONSUMER'S first job instead
    * of a dedicated count job here — one fewer scheduler round-trip per
    * call site (~70 ms each on the measured board; the r19 verdict's
    * "per-query job floor" item). Same blocks, same lineage truncation,
    * same `release()` accounting: the RDD is persisted immediately, the
    * first job that touches it caches every partition it computes, and
    * Spark's end-of-job checkpoint hook finalizes the truncation
    * (computing any partitions that job skipped). NOT for call sites that
    * (a) read an `Observation` riding the materialization before any
    * other action runs — nothing has executed yet, so the read blocks
    * forever — or (b) `release()` an UPSTREAM Materialized before this
    * one's first read (the blocks this plan still needs would be gone).
    * Those sites — the CC/pagerank/BPE loops, the IVF/PQ builders — keep
    * the eager default. The durable (`reliable = true`) path is always
    * eager: a parquet spill has no lazy form. */
  def truncate(df: DataFrame, reliable: Boolean,
      eager: Boolean = true): Materialized =
    if (!reliable) {
      val out = df.localCheckpoint(eager)
      val rdd = checkpointRdd(out)
      rdd.foreach { r =>
        leaked.computeIfAbsent(r.sparkContext,
          _ => new ConcurrentLinkedQueue).add(new java.lang.ref.WeakReference(r))
      }
      new Materialized(out,
        () => rdd.foreach { r => r.unpersist(blocking = true); () })
    } else {
      val sc = df.sparkSession.sparkContext
      require(sc.getCheckpointDir.isDefined,
        "reliable=true needs spark.sparkContext.setCheckpointDir(...) — a " +
          "durable (HDFS/object-store) location that survives executor loss")
      val dir = new org.apache.hadoop.fs.Path(
        sc.getCheckpointDir.get, s"graft-spill-${java.util.UUID.randomUUID()}")
      df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
      val out = df.sparkSession.read.parquet(dir.toString)
      new Materialized(out, () => {
        val fs = dir.getFileSystem(sc.hadoopConfiguration)
        fs.delete(dir, true); ()
      })
    }

  /** Unpersist (blocking) every still-persisted truncation registered for
    * this session's context and empty the registry; returns how many held
    * blocks. A BARRIER between queries of a long-lived session — the same
    * contract as `Materialized.release()`: any graft-returned frame read
    * after its blocks are drained fails loudly. Already-released / GC'd
    * entries just fall off the queue. */
  def drainLeaked(spark: SparkSession): Int = {
    val q = leaked.get(spark.sparkContext)
    if (q == null) 0
    else {
      var n = 0
      var ref = q.poll()
      while (ref != null) {
        val rdd = ref.get
        if (rdd != null && rdd.getStorageLevel != StorageLevel.NONE) {
          rdd.unpersist(blocking = true); n += 1
        }
        ref = q.poll()
      }
      n
    }
  }

  /** How many registered truncations still hold blocks — the observable
    * behind the long-lived-session posture (a flat count across a
    * query/drain loop is the no-accumulation witness). */
  def leakedCount(spark: SparkSession): Int = {
    val q = leaked.get(spark.sparkContext)
    if (q == null) 0
    else {
      var n = 0
      val it = q.iterator()
      while (it.hasNext) {
        val rdd = it.next().get
        if (rdd != null && rdd.getStorageLevel != StorageLevel.NONE) n += 1
      }
      n
    }
  }
}
