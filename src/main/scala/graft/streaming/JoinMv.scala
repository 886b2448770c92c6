package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained equi-JOIN MV over TWO keyed changelogs — the
 * multi-table heart of the reference: TiFlink exists to keep
 * `SELECT ... FROM fact JOIN dim ON fact.fk = dim.pk` fresh under CDC on
 * BOTH tables (reference: TiFlinkApp.java:270 runs arbitrary multi-table
 * StreamSQL; FlinkTikvConsumer.java:244-268 feeds each table's row-kinds).
 * [[IncrementalMv]] maintains the aggregate shape; this maintains the join
 * shape with the delta-join algebra: a batch's output changes are exactly
 * Δfact ⋈ dim ∪ fact ⋈ Δdim — never a full recompute.
 *
 * Storage (all [[BucketedTable]]-bucketed, per-bucket atomic swaps):
 *   - `left`        fact rows, latest per `pkA`, bucketed by pkA
 *   - `left_by_fk`  secondary index (fk, pkA), bucketed by fk — the
 *                   reverse pointer that makes "which facts reference this
 *                   changed dim row" a partition-pruned lookup instead of
 *                   a fact-table scan (TiKV's key-ranged scan analog,
 *                   TableKeyRangeUtils.java:30-60)
 *   - `right`       dim rows, latest per `pkB`, bucketed by pkB
 *   - `mv`          joined output, keyed/bucketed by pkA
 *
 * Per batch: compact each side to one final change per key, upsert both
 * entity tables and the index (touched buckets only), derive the affected
 * output keys as ΔA.pk ∪ index⁻¹(ΔB.pk), re-join JUST those fact rows
 * against the current dim buckets they reference, diff against the
 * current MV rows, emit an I/U/D changelog, and swap the touched MV
 * buckets. Work per batch ∝ |ΔA| + |ΔB| + |affected| + the buckets they
 * hash into — never table-sized. An update that MOVES a fact row between
 * fk values retracts the old index entry (its old bucket) and inserts the
 * new one, so both dim sides see it correctly forever after.
 *
 * Replay safety: entity/index upserts are idempotent (latest-version-wins
 * over content-addressed state); the changelog batch directory is written
 * (staged + atomic rename) BEFORE the MV swap and guarded by existence;
 * the `_applied_batch` marker lands after the MV swap. A replay at any
 * crash point recomputes correct state and skips what already committed —
 * same commit discipline as [[IncrementalMv]]. The index commits
 * STRICTLY BEFORE the left-entity swap: the pre-swap left table is the
 * only durable record of a moved fact's OLD fk, so the reverse ordering
 * let a crash in between leave that fact's old-fk entry (and a deleted
 * fact's whole entry) dangling FOREVER — never a wrong MV row (the MV
 * derives from entity state, not the index; a dangling entry only
 * triggers a spurious recompute, and JoinMvSpec plants one to prove it),
 * but an unbounded stale-entry leak on fk-move/delete-heavy feeds that
 * inflates every later dim-fanout. With index-first, a replay from
 * either side of the boundary re-derives a correct retraction;
 * JoinMvCrashSweepSpec enumerates every mutation point and asserts the
 * index mirrors the left table EXACTLY after replay.
 *
 * Join semantics: LEFT OUTER by default (`innerJoin = true` drops
 * unmatched facts) — a fact arriving before its dim row emits with null
 * dim columns and UPGRADES to the joined row when the dim arrives, which
 * is the late-dimension behavior a CDC pipeline needs. Column names of
 * the two sides must be disjoint (checked loudly).
 */
object JoinMv {
  import BucketedTable._

  /** Per-phase wall-clock (ms, insertion-ordered) of the LAST completed
    * [[applyBatch]] in this JVM — the itemized commit choreography
    * StreamBench publishes so the per-batch floor is a read table, not a
    * guess. Phases running concurrently (the A/B compactions; the
    * left+index chain vs the right upsert) report their OWN spans, so the
    * serial sum exceeds the batch wall time by design. */
  @volatile var lastPhases: Seq[(String, Long)] = Nil

  private def phased[T](acc: java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long)], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    acc.add(name -> ((System.nanoTime() - t0) / 1000000L))
    r
  }

  // lane executor for the independent steps of a batch: the lanes are
  // Spark ACTIONS (jobs), so the threads spend their lives blocked on the
  // scheduler. CACHED pool, not fixed: a lane awaiting a sub-lane must
  // never starve behind another concurrent applyBatch's queued lanes (a
  // fixed pool deadlocks there); thread count stays at the DAG width per
  // in-flight batch. Daemon so a driver exit never hangs on them.
  private lazy val lanes: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "joinmv-lane")
        t.setDaemon(true)
        t
      }))

  // Spark localProperties are an InheritableThreadLocal snapshotted at
  // THREAD CREATION: a cached lane thread created under stream A's
  // foreachBatch inherits A's job group forever and is then reused for
  // stream B's batches — cancelling A would kill B's in-flight lane
  // jobs. Every lane task therefore re-pins the SUBMITTING thread's
  // values for the cancellation/attribution keys (null clears a stale
  // inherited entry, so a caller with no job group gets a clean lane).
  private val PropagatedProps = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel",
    "spark.scheduler.pool")

  /** Snapshot the calling thread's [[PropagatedProps]]; the returned
    * thunk re-pins them on whatever lane thread later runs. */
  private def capturePin(): () => Unit = {
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val props = sc.toSeq.flatMap(s =>
      PropagatedProps.map(k => k -> s.getLocalProperty(k)))
    () => sc.foreach(s =>
      props.foreach { case (k, v) => s.setLocalProperty(k, v) })
  }

  private def laneFuture[T](body: => T): scala.concurrent.Future[T] = {
    val pin = capturePin()
    scala.concurrent.Future { pin(); body }(lanes)
  }

  /** Run `body` on a lane thread after `f` completes — with the
    * REGISTERING thread's props re-pinned first. A bare
    * `andThen/foreach(...)(lanes)` callback runs with whatever stale job
    * group the cached lane thread inherited at creation, so any Spark
    * jobs the callback triggers (an unpersist, a checkpoint cleanup)
    * would be attributable — and CANCELLABLE — under another stream's
    * group: the exact bleed [[PropagatedProps]] exists to prevent. */
  private def afterOnLane[T](f: scala.concurrent.Future[T])(
      body: scala.util.Try[T] => Unit): scala.concurrent.Future[T] = {
    val pin = capturePin()
    f.andThen { case t => pin(); body(t) }(lanes)
  }

  /** Run `a` and `b` as concurrent lanes, awaiting BOTH before returning
    * or throwing — a fail-fast await would surface one lane's failure
    * while the other is still mid-write, handing the caller's replay an
    * orphan writer to race (the same contract the in-chain swap await
    * keeps). On a one-sided failure the surviving side's result is passed
    * to its cleanup (the caller never sees it, so it would otherwise
    * leak); the first failure is thrown with the other attached as
    * suppressed. */
  private[graft] def inParallel[A, B](a: => A, b: => B,
      cleanupA: A => Unit = (_: A) => (),
      cleanupB: B => Unit = (_: B) => ()): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fa = laneFuture(a)
    val fb = laneFuture(b)
    Await.ready(fa, Duration.Inf)
    Await.ready(fb, Duration.Inf)
    (fa.value.get, fb.value.get) match {
      case (scala.util.Success(ra), scala.util.Success(rb)) => (ra, rb)
      case (ta, tb) =>
        def clean[T](t: scala.util.Try[T], f: T => Unit): Unit =
          t.foreach(v =>
            try f(v) catch { case scala.util.control.NonFatal(_) => () })
        clean(ta, cleanupA); clean(tb, cleanupB)
        val exA = ta.failed.toOption
        val exB = tb.failed.toOption
        val first = exA.orElse(exB).get
        if (exA.nonEmpty) exB.foreach(first.addSuppressed)
        throw first
    }
  }

  /** Latest row per `pk` within one batch. */
  private def compact(batch: DataFrame, pk: String, ver: String): DataFrame =
    batch.groupBy(col(pk))
      .agg(max_by(struct(batch.columns.toIndexedSeq.map(col): _*), col(ver))
        .as("__r"))
      .select(col("__r.*"))

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      batchId: Long): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}_tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"marker rename $tmp -> $p failed")
  }

  /** Apply one micro-batch of both changelogs; see object doc. `batchA`
    * carries `(pkA, verA, opA, fk, payload...)`, `batchB`
    * `(pkB, verB, opB, payload...)`; `op` value "delete" tombstones. */
  def applyBatch(basePath: String,
      pkA: String, verA: String, opA: String, fk: String,
      pkB: String, verB: String, opB: String,
      nBuckets: Int = 16, innerJoin: Boolean = false,
      reliable: Boolean = false,
      changelogPath: Option[String] = None)
      (batchA: DataFrame, batchB: DataFrame, batchId: Long): Unit = {
    val spark = batchA.sparkSession
    val leftPath = s"$basePath/left"
    val idxPath = s"$basePath/left_by_fk"
    val rightPath = s"$basePath/right"
    val mvPath = s"$basePath/mv"
    val overlap = batchA.columns.toSet.intersect(batchB.columns.toSet)
    require(overlap.isEmpty,
      s"left/right column names must be disjoint, both have: $overlap")

    val fs = new Path(basePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    pinBucketCount(spark, basePath, nBuckets)
    val marker = new Path(mvPath, "_applied_batch")
    if (readMarker(fs, marker) >= batchId) return // full replay of a done batch
    // a drifted batch fails before either side writes: the left and right
    // chains commit concurrently, so a drift only one chain's swap caught
    // would leave the other side's table already changed
    val bucketField = org.apache.spark.sql.types.StructField(
      BucketCol, org.apache.spark.sql.types.IntegerType)
    checkSchema(spark, leftPath, batchA.schema.add(bucketField))
    checkSchema(spark, rightPath, batchB.schema.add(bucketField))

    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    // A/B compactions are independent — run them as two concurrent jobs
    // (each is a fixed-latency shuffle+checkpoint; at small batches the
    // scheduler round-trips dominate, so halving the serial job count is
    // the lever, measured in STREAMBENCH's joinmv phase table)
    val (dAMat, dBMat) = inParallel(
      phased(acc, "compact_a")(graft.Lineage.truncate(
        compact(batchA, pkA, verA)
          .withColumn(BucketCol, bucketOf(Seq(col(pkA)), nBuckets)), reliable)),
      phased(acc, "compact_b")(graft.Lineage.truncate(
        compact(batchB, pkB, verB)
          .withColumn(BucketCol, bucketOf(Seq(col(pkB)), nBuckets)), reliable)),
      cleanupA = (m: graft.Lineage.Materialized) => m.release(),
      cleanupB = (m: graft.Lineage.Materialized) => m.release())
    try {
      val dA = dAMat.df
      val dB = dBMat.df

      // ---- LEFT entity upsert (latest-wins + tombstones) + the (fk, pk)
      // index, and the RIGHT entity upsert: disjoint tables, disjoint
      // paths — the two chains run concurrently; the tail below needs
      // both committed (it reads left, index, and right post-swap).
      // leftChain returns the LEFT-SWAP future: that swap is the chain's
      // last write and nothing before the tail's left read consumes it,
      // so it overlaps affected_keys (which reads only the committed
      // index and the compacted batch); the caller awaits it before
      // touching leftPath and before surfacing any outcome.
      def leftChain(): scala.concurrent.Future[Unit] = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val touchedL = touchedBuckets(dA)
        val curL = readTouched(spark, leftPath, touchedL).getOrElse(dA.limit(0))
        // the pre-swap rows of the keys this batch changes — snapshot them
        // (they feed the index retraction AFTER the left swap invalidates
        // any frame still scanning the old bucket files); the snapshot
        // reads the SAME pre-swap files as the merge, so it runs in a
        // side lane while the merge computes
        val fSnapshot = laneFuture(phased(acc, "left_old_snapshot")(
          graft.Lineage.truncate(
            curL.join(dA.select(col(pkA)), Seq(pkA), "left_semi"),
            reliable)))
        val unionL = curL.unionByName(dA)
        val newLMat =
          try phased(acc, "left_merge")(graft.Lineage.truncate(
            unionL.groupBy(col(pkA))
              .agg(max_by(struct(unionL.columns.toIndexedSeq.map(col): _*),
                col(verA)).as("__r"))
              .select(col("__r.*"))
              .filter(col(opA) =!= "delete"), reliable))
          catch { case t: Throwable =>
            // a failed merge must not leak the side-lane snapshot
            afterOnLane(fSnapshot)(_.foreach(_.release()))
            throw t
          }
        try {
          // the snapshot scans the PRE-SWAP bucket files, so it must be
          // MATERIALIZED before the swap may rename those files out —
          // launching the swap first would race its renames against the
          // snapshot's still-running tasks. In practice the snapshot
          // (launched before the heavier merge) is already done here.
          val changedOldMat = Await.result(fSnapshot, Duration.Inf)
          try {
            // ---- secondary index (fk, pkA): retract changed keys' OLD
            // entries from their old-fk buckets, insert the new ones.
            // The index MUST commit BEFORE the left swap — the pre-swap
            // left table is the only durable record of the old fk, so if
            // the process dies with the left swapped but the index not,
            // the replay's retraction set is recomputed from POST-swap
            // rows: a moved fact's old-fk entry (and a deleted fact's
            // whole entry, whose replay idxDelta is empty) would stay
            // stale FOREVER. With the index first, a replay from either
            // side of this boundary re-derives a correct retraction
            // (pre-swap left → full re-retraction; post-index crash →
            // the retraction is already durable). Enumerated by
            // JoinMvCrashSweepSpec, which caught the parallel form
            // orphaning the moved fact's old entry.
            phased(acc, "index_swap") {
              val oldEntries = changedOldMat.df
                .select(col(fk).as("__fk"), col(pkA).as("__pk"))
              val newEntries = newLMat.df
                .join(dA.select(col(pkA)), Seq(pkA), "left_semi")
                .select(col(fk).as("__fk"), col(pkA).as("__pk"))
              val idxDelta = oldEntries.unionByName(newEntries)
                .withColumn(BucketCol, bucketOf(Seq(col("__fk")), nBuckets))
              val touchedIdx = touchedBuckets(idxDelta)
              if (touchedIdx.nonEmpty) {
                val curIdx = readTouched(spark, idxPath, touchedIdx)
                  .getOrElse(idxDelta.limit(0).select(
                    col("__fk"), col("__pk"), col(BucketCol)))
                val newIdx = curIdx
                  .join(dA.select(col(pkA).as("__pk")), Seq("__pk"), "left_anti")
                  .unionByName(newEntries.withColumn(BucketCol,
                    bucketOf(Seq(col("__fk")), nBuckets)))
                swapTouched(newIdx, idxPath, touchedIdx)
              }
            }
          } finally changedOldMat.release()
        } catch { case t: Throwable => newLMat.release(); throw t }
        // index durable — launch the swap and hand its future back;
        // newLMat lives exactly as long as the swap (released by the
        // returned future's completion, success or failure)
        val fSwap = laneFuture(phased(acc, "left_swap")(
          if (touchedL.nonEmpty)
            swapTouched(newLMat.df, leftPath, touchedL)))
        afterOnLane(fSwap)(_ => newLMat.release())
      }

      // returns dB's bucket set: the keys' buckets in `right` are also the
      // index buckets affected_keys looks dB's keys up in (same bucketOf
      // over the same values)
      def rightChain(): Seq[Int] = phased(acc, "right_upsert") {
        val touchedR = touchedBuckets(dB)
        val curR = readTouched(spark, rightPath, touchedR).getOrElse(dB.limit(0))
        val unionR = curR.unionByName(dB)
        val newR = unionR.groupBy(col(pkB))
          .agg(max_by(struct(unionR.columns.toIndexedSeq.map(col): _*),
            col(verB)).as("__r"))
          .select(col("__r.*"))
          .filter(col(opB) =!= "delete")
        if (touchedR.nonEmpty) swapTouched(newR, rightPath, touchedR)
        touchedR
      }

      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      // if rightChain fails, the surviving left chain's swap must still
      // be awaited before the failure surfaces (no orphan writer)
      val (fLeftSwap, touchedR) = inParallel(leftChain(), rightChain(),
        cleanupA = (f: scala.concurrent.Future[Unit]) => {
          Await.ready(f, Duration.Inf)
          // the batch is already failing on the right side; don't let a
          // CONCURRENT left-swap failure vanish into the discarded future
          // (replay converges either way, but the operator diagnosing the
          // incident must see both)
          f.value.get.failed.foreach(e => System.err.println(
            s"[graft] JoinMv: left swap ALSO failed while the right chain " +
              s"surfaced its own failure: $e"))
        })

      // ---- affected output keys: Δfact ∪ index⁻¹(Δdim) — reads only
      // the committed index and the compacted batch, so it overlaps the
      // in-flight left swap
      val affectedMat =
        try phased(acc, "affected_keys") {
          val fromB = readTouched(spark, idxPath, touchedR)
            .map(_.join(dB.select(col(pkB).as("__fk")), Seq("__fk"), "left_semi")
              .select(col("__pk").as("__k")))
            .getOrElse(dA.limit(0).select(col(pkA).as("__k")))
          graft.Lineage.truncate(
            dA.select(col(pkA).as("__k")).unionByName(fromB).distinct()
              .withColumn(BucketCol, bucketOf(Seq(col("__k")), nBuckets)),
            reliable)
        } catch { case t: Throwable =>
          Await.ready(fLeftSwap, Duration.Inf); throw t
        }
      // surface a left-swap failure before anything reads the swapped
      // table (the tail's leftPath reads need the post-swap files)
      try Await.result(fLeftSwap, Duration.Inf)
      catch { case t: Throwable => affectedMat.release(); throw t }
      try {
        val affected = affectedMat.df
        val touchedMv = touchedBuckets(affected)
        if (touchedMv.nonEmpty) {
          // re-join just the affected fact rows against the dim buckets
          // they reference — both reads are post-swap and bucket-pruned
          val leftRows = readTouched(spark, leftPath, touchedMv)
            .getOrElse(dA.limit(0))
            .join(affected.select(col("__k").as(pkA)), Seq(pkA), "left_semi")
          val leftMat = phased(acc, "join_left_read")(
            graft.Lineage.truncate(leftRows, reliable))
          try {
            val rightNeeded = touchedBuckets(leftMat.df
              .select(bucketOf(Seq(col(fk)), nBuckets).as(BucketCol)))
            val dimCols = batchB.columns.filterNot(c => c == opB)
            val rightState = readTouched(spark, rightPath, rightNeeded)
              .map(_.select(dimCols.toIndexedSeq.map(col): _*))
              .getOrElse(dB.select(dimCols.toIndexedSeq.map(col): _*).limit(0))
            val outCols = batchA.columns.filterNot(c => c == opA) ++
              dimCols.filterNot(c => c == pkB || c == verB)
            val joined = leftMat.df.drop(BucketCol)
              .join(rightState, col(fk) === col(pkB),
                if (innerJoin) "inner" else "left")
              .select(outCols.toIndexedSeq.map(col): _*)
              .withColumn(BucketCol, bucketOf(Seq(col(pkA)), nBuckets))
            val newOutMat = phased(acc, "join_recompute")(
              graft.Lineage.truncate(joined, reliable))
            try {
              val curMv = readTouched(spark, mvPath, touchedMv)
                .getOrElse(newOutMat.df.limit(0))
              // changelog BEFORE the swap (guarded by dir existence) so a
              // replay after the swap skips it instead of emitting a
              // spurious empty diff
              changelogPath.foreach { cl => phased(acc, "changelog") {
                val clFs = new Path(cl).getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                val dst = new Path(cl, s"batch=$batchId")
                if (!clFs.exists(dst)) {
                  val dataCols = outCols.toIndexedSeq.filterNot(_ == pkA)
                  // presence flags, not struct-null tests: a full join's
                  // missing side nulls the COLUMNS, and a struct of null
                  // fields is still a non-null struct
                  val oldRows = curMv
                    .join(affected.select(col("__k").as(pkA)), Seq(pkA),
                      "left_semi")
                    .select(col(pkA) +: lit(true).as("__has_old") +:
                      dataCols.map(c => col(c).as(s"__o_$c")): _*)
                  val newRows = newOutMat.df
                    .select(col(pkA) +: lit(true).as("__has_new") +:
                      dataCols.map(col): _*)
                  // both images ride along (Debezium's before/after shape):
                  // a downstream MV maintained from this changelog needs
                  // the OLD row to retract U/D contributions without ever
                  // re-reading this MV's state
                  val diff = oldRows.join(newRows, Seq(pkA), "full")
                    .filter(col("__has_old").isNull ||
                      col("__has_new").isNull ||
                      !(struct(dataCols.map(c => col(s"__o_$c")): _*) <=>
                        struct(dataCols.map(col): _*)))
                    .select(col(pkA),
                      when(col("__has_old").isNull, lit("I"))
                        .when(col("__has_new").isNull, lit("D"))
                        .otherwise(lit("U")).as("__op"),
                      when(col("__has_new").isNull, lit(null))
                        .otherwise(struct(dataCols.map(col): _*)).as("__row"),
                      when(col("__has_old").isNull, lit(null))
                        .otherwise(struct(dataCols.map(c =>
                          col(s"__o_$c").as(c)): _*)).as("__old"))
                  val staging = new Path(cl, s"_staging_$batchId")
                  clFs.delete(staging, true)
                  diff.write.mode("overwrite").parquet(staging.toString)
                  clFs.mkdirs(dst.getParent)
                  if (!clFs.rename(staging, dst))
                    throw new IllegalStateException(
                      s"changelog rename $staging -> $dst failed")
                }
              } }
              phased(acc, "mv_swap") {
                val kept = curMv
                  .join(affected.select(col("__k").as(pkA)), Seq(pkA),
                    "left_anti")
                swapTouched(kept.unionByName(newOutMat.df), mvPath, touchedMv)
              }
            } finally newOutMat.release()
          } finally leftMat.release()
        }
      } finally affectedMat.release()
      phased(acc, "marker")(writeMarker(fs, marker, batchId))
      lastPhases = {
        import scala.jdk.CollectionConverters._
        acc.iterator().asScala.toSeq
      }
    } finally { dAMat.release(); dBMat.release() }
  }
}
