package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Lineage truncation for iterative and multi-read plans (the
 * duplicate-cluster label loop, the bucketed upsert paths — each
 * materializes an intermediate it then reads several times), with one
 * durability posture per deployment.
 *
 * The posture is the session setting [[ReliableKey]]
 * (`spark.graft.lineage.reliable`), read here and nowhere else:
 *
 * - unset or `false`: `localCheckpoint` — blocks live on the executors
 *   with no lineage behind them. Fastest, and the right call in local mode
 *   and inside streaming micro-batches (a failed batch simply retries).
 *   But on a real cluster, losing one executor mid-job kills the whole
 *   job, because the lost blocks cannot be recomputed.
 * - `true`: spill to parquet under the SparkContext checkpoint directory
 *   (HDFS/object-store grade). An executor loss re-reads the spill files
 *   and the job continues — the posture a 1000-executor run of an
 *   hours-long iterative job needs, bought with one extra write+read of
 *   the materialized data.
 *
 * Like checkpointing in a Flink job, it is set once for the deployment,
 * with the checkpoint directory beside it: `--conf
 * spark.graft.lineage.reliable=true --conf spark.checkpoint.dir=hdfs://…`
 * at launch (or `-D…` on a driver JVM that builds its own session), or
 * `spark.conf.set(Lineage.ReliableKey, "true")` plus
 * `sparkContext.setCheckpointDir(…)` on a live session. The key carries
 * the `spark.` prefix because spark-submit drops any `--conf` key without
 * it. A set checkpoint directory alone does not switch the posture: MLlib
 * and `Dataset.checkpoint()` users set one without wanting every
 * truncation to spill. `true` without a checkpoint directory fails fast
 * here rather than deep inside Spark.
 *
 * The durable path deliberately spills via parquet rather than
 * `df.checkpoint()`: reliable RDD checkpoints are only garbage-collected
 * by the weak-reference cleaner (and only when
 * `spark.cleaner.referenceTracking.cleanCheckpoints` is on), so an
 * iterative caller would permanently accumulate one table copy per round.
 * A [[Materialized]] instead carries an explicit `release()` — the caller
 * deletes each round's spill deterministically the moment nothing reads it.
 *
 * Block accounting, the same for both postures. `release()` frees the
 * materialization (unpersist of the checkpoint blocks / delete of the
 * spill directory) — the streaming sinks release every batch's
 * truncations in `finally` blocks, so a long-running stream holds O(1)
 * checkpoint blocks or spills, not one set per micro-batch. Operators
 * that RETURN a lazy plan referencing a truncation (the Rank range
 * skeleton, the final cluster labels) cannot release it themselves:
 * every truncation sits in a per-SparkContext leak registry until it is
 * released, and a session controller frees what is left BETWEEN queries
 * via [[drainLeaked]] (what `Verify` does; `Bench` adds its broader
 * unpersist-all). `drainLeaked` is a session-level barrier with the same
 * contract as `release()`: call it only when no graft-returned frame will
 * be read again — a drained frame's blocks or spill files are gone and
 * its lineage is truncated, so a later read fails loudly rather than
 * recomputing.
 */
object Lineage {

  /** The session setting that selects the durable posture (object doc). */
  val ReliableKey = "spark.graft.lineage.reliable"

  /** The session's posture: `spark`'s [[ReliableKey]], `false` when unset.
    * Throws on a value that is not `true`/`false`, and on `true` with no
    * checkpoint directory. Callers whose control flow depends on the
    * posture read it once, at entry, so one call never mixes postures. */
  def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.getOption(ReliableKey).map(_.trim.toLowerCase) match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(v) => throw new IllegalArgumentException(
        s"$ReliableKey must be true or false, got '$v'")
    }
    require(!on || spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableKey=true needs a checkpoint directory (spark.checkpoint.dir " +
        "or spark.sparkContext.setCheckpointDir(...)) — a durable " +
        "(HDFS/object-store) location that survives executor loss")
    on
  }

  /** A lineage-truncated frame plus its cleanup. `release()` is idempotent
    * (also across threads: the first call wins), removes the
    * materialization from the leak registry and frees it: the
    * localCheckpoint path unpersists the checkpoint blocks (a later read
    * of `df` fails — the lineage behind them is gone), the durable path
    * deletes the spill directory — call it only once every read of `df`
    * has completed. */
  final class Materialized private[Lineage] (val df: DataFrame, held: Held) {
    def release(): Unit = held.free()
  }

  /** What a truncation holds and how to free it: the registry's entry,
    * deliberately without the frame (a GC'd localCheckpoint RDD is the
    * context cleaner's to unpersist). */
  private abstract class Held(registry: java.util.Set[Held]) {
    private val freed = new java.util.concurrent.atomic.AtomicBoolean(false)
    registry.add(this)
    /** Still holds blocks or spill files. */
    def live: Boolean
    protected def cleanup(): Unit
    /** Returns whether this call freed something. */
    def free(): Boolean = freed.compareAndSet(false, true) && {
      registry.remove(this)
      val wasLive = live
      cleanup()
      wasLive
    }
  }

  /** Per-SparkContext set of truncations not yet released, weak-keyed so a
    * stopped context's registry dies with it. */
  private val leaked: java.util.Map[SparkContext, java.util.Set[Held]] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap)

  private def registry(sc: SparkContext): java.util.Set[Held] =
    leaked.computeIfAbsent(sc, _ => java.util.concurrent.ConcurrentHashMap.newKeySet[Held]())

  /** The RDD holding a `df.localCheckpoint()`'s blocks — the `LogicalRDD`
    * the returned Dataset wraps. None on an unexpected plan shape (then
    * the old leak-until-eviction posture applies; never break the query
    * over accounting). */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Truncate `df`'s lineage under the session's posture ([[reliable]]).
    *
    * `eager = false` (localCheckpoint path only): the materialization is
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
    * the eager default. The durable path is always eager: a parquet spill
    * has no lazy form. */
  def truncate(df: DataFrame, eager: Boolean = true): Materialized = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    if (!reliable(spark)) {
      val out = df.localCheckpoint(eager)
      val ref = checkpointRdd(out).map(new java.lang.ref.WeakReference(_))
      new Materialized(out, new Held(registry(sc)) {
        def live: Boolean = ref.flatMap(r => Option(r.get))
          .exists(_.getStorageLevel != StorageLevel.NONE)
        protected def cleanup(): Unit =
          ref.flatMap(r => Option(r.get)).foreach(_.unpersist(blocking = true))
      })
    } else {
      val dir = new org.apache.hadoop.fs.Path(
        sc.getCheckpointDir.get, s"graft-spill-${java.util.UUID.randomUUID()}")
      val conf = sc.hadoopConfiguration
      // registered before the write, so a failed write's partial files
      // are drained too
      val held = new Held(registry(sc)) {
        def live: Boolean = true
        protected def cleanup(): Unit = { dir.getFileSystem(conf).delete(dir, true); () }
      }
      df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
      new Materialized(spark.read.parquet(dir.toString), held)
    }
  }

  /** Free every truncation registered for this session's context and not
    * yet released — unpersist its blocks or delete its spill directory —
    * and empty the registry; returns how many still held blocks or
    * files. A BARRIER between queries of a long-lived session — the same
    * contract as `Materialized.release()`: any graft-returned frame read
    * after it is drained fails loudly. */
  def drainLeaked(spark: SparkSession): Int = {
    val held = leaked.get(spark.sparkContext)
    if (held == null) 0
    else held.toArray(Array.empty[Held]).count(_.free())
  }

  /** How many registered truncations still hold blocks or spill files —
    * the observable behind the long-lived-session posture (a flat count
    * across a query/drain loop is the no-accumulation witness). */
  def leakedCount(spark: SparkSession): Int = {
    val held = leaked.get(spark.sparkContext)
    if (held == null) 0 else held.toArray(Array.empty[Held]).count(_.live)
  }
}
