package graft.streaming

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
 * Per batch, as a DAG of concurrent lanes (each step below is a lane that
 * starts as soon as what it reads is ready):
 *   1. materialize both raw batches with their bucket column, observing
 *      the bucket sets on the way (no job of their own). There is no
 *      per-batch compaction: every consumer is either a latest-version-wins
 *      `max_by` merge, which already yields one row per key, or a semi-/
 *      anti-join, where a key present twice matches the same rows.
 *   2. affected output keys ΔA.pk ∪ index⁻¹(ΔB.pk), read from the PRE-swap
 *      index, beside the merges: a fact whose fk moves is in ΔA either way,
 *      and every other entry is the same before and after the swap.
 *   3. `left` and `right` merge the touched buckets with the batch into
 *      materialized frames; the pre-swap (fk, pk) of ΔA's keys is
 *      snapshotted from the same pre-swap files.
 *   4. swaps, in lanes: `right`; and the index (retract ΔA's old entries,
 *      insert the new ones) followed by `left`.
 *   5. at the same time, the MV rows of the affected keys are recomputed:
 *      the fact and dim rows come from the merged frames for buckets this
 *      batch touched and from disk for the buckets it did not touch —
 *      buckets no swap of this batch renames, so the read is the same
 *      whenever it runs. The new rows are diffed against the current MV
 *      rows into an I/U/D changelog, and the touched MV buckets swap.
 *   6. the `_applied_batch` marker, once every lane has finished.
 * Work per batch ∝ |ΔA| + |ΔB| + |affected| + the buckets they hash into —
 * never table-sized. Each bucket directory holds one file: the merges
 * shuffle once on the bucket column, and the index and MV swaps
 * repartition by it (the trade-off is in [[BucketedTable]]'s doc). Under
 * the durable lineage posture ([[graft.Lineage]]) the merged frames are
 * read back from their spill files, which loses that clustering, so
 * `left` and `right` buckets may then hold several files.
 *
 * Ordering rules, each kept by one await:
 *   - the affected keys are materialized before the index swap renames a
 *     bucket (they read the pre-swap index);
 *   - the index swaps before `left` (below);
 *   - the changelog is written before the MV swap, and guarded by its
 *     directory's existence, so a replay after the swap skips it instead
 *     of emitting a spurious empty diff;
 *   - the marker lands after every swap.
 * No read may race a swap: every table's trash is reconciled and its
 * bucket directories listed once, on the calling thread, before any lane
 * starts ([[BucketedTable.open]]); inside lanes only the named bucket
 * directories are read, never the table root.
 *
 * Replay safety: entity/index upserts are idempotent (latest-version-wins
 * over content-addressed state) and the MV recompute derives from entity
 * state alone, so a replay at any crash point recomputes correct state and
 * skips what already committed — whichever swaps of the crashed attempt
 * landed — with the same commit discipline as [[IncrementalMv]]. The index
 * commits STRICTLY BEFORE the left-entity swap: the pre-swap left table is
 * the only durable record of a moved fact's OLD fk, so the reverse
 * ordering let a crash in between leave that fact's old-fk entry (and a
 * deleted fact's whole entry) dangling FOREVER — never a wrong MV row (the
 * MV derives from entity state, not the index; a dangling entry only
 * triggers a spurious recompute, and JoinMvSpec plants one to prove it),
 * but an unbounded stale-entry leak on fk-move/delete-heavy feeds that
 * inflates every later dim-fanout. With index-first, a replay from either
 * side of the boundary re-derives a correct retraction;
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

  /** Per-phase wall-clock (ms, in completion order) of the LAST completed
    * [[applyBatch]] in this JVM — the itemized commit choreography
    * StreamBench publishes so the per-batch floor is a read table, not a
    * guess. Phases running concurrently report their OWN spans, so the
    * serial sum exceeds the batch wall time by design. `compact_a` and
    * `compact_b` time the materialization of the raw batches (the names
    * are kept for the dashboards that read them), `right_upsert` the right
    * merge and `right_swap` its swap. */
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

  private def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Latest-version-wins merge of `delta` into `cur` (the touched buckets'
    * rows), tombstones dropped. One shuffle, on the bucket column: each
    * bucket's rows land in one task, so a swap of the result writes one
    * file per bucket (grouping by (bucket, pk) needs no second exchange). */
  private def merged(cur: Option[DataFrame], delta: DataFrame, pk: String,
      ver: String, op: String): DataFrame = {
    val u = cur.fold(delta)(_.unionByName(delta))
    ChangelogOps.latestByKey(u.repartition(col(BucketCol)), Seq(BucketCol, pk), ver)
      .filter(col(op) =!= "delete")
  }

  /** Apply one micro-batch of both changelogs; see object doc. `batchA`
    * carries `(pkA, verA, opA, fk, payload...)`, `batchB`
    * `(pkB, verB, opB, payload...)`; `op` value "delete" tombstones. */
  def applyBatch(basePath: String,
      pkA: String, verA: String, opA: String, fk: String,
      pkB: String, verB: String, opB: String,
      nBuckets: Int = 16, innerJoin: Boolean = false,
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

    pinBucketCount(spark, basePath, nBuckets)
    if (readMarker(spark, mvPath) >= batchId) return // full replay of a done batch
    // a drifted batch fails before either side writes: the left and right
    // chains commit concurrently, so a drift only one chain's swap caught
    // would leave the other side's table already changed
    val bucketField = org.apache.spark.sql.types.StructField(
      BucketCol, org.apache.spark.sql.types.IntegerType)
    checkSchema(spark, leftPath, batchA.schema.add(bucketField))
    checkSchema(spark, rightPath, batchB.schema.add(bucketField))

    // every read below is of named bucket directories listed HERE, before
    // any lane may swap one (see the object doc)
    val left = open(spark, leftPath)
    val idx = open(spark, idxPath)
    val right = open(spark, rightPath)
    val mv = open(spark, mvPath)

    import scala.concurrent.{Future, Promise}
    import graft.Lineage.Materialized
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    // every materialization of the batch, released once all lanes are done
    // (the merged frames earlier, when their last reader finishes)
    val held = new java.util.concurrent.ConcurrentLinkedQueue[Materialized]()
    def materialize(df: DataFrame, sets: org.apache.spark.sql.Column*)
        : (Materialized, Seq[Seq[Int]]) = {
      val out = truncateObserving(df, sets: _*)
      held.add(out._1)
      out
    }
    /** Release `f`'s frame once every one of its `readers` has completed,
      * successfully or not. */
    def releaseWhenDone(f: Future[Option[Materialized]],
        readers: Future[_]*): Unit = {
      val n = new java.util.concurrent.atomic.AtomicInteger(readers.size)
      readers.foreach(_.onComplete { _ =>
        if (n.decrementAndGet() == 0)
          f.value.flatMap(_.toOption).flatten.foreach(_.release())
      }(lanes))
    }

    try {
      // the raw batches, each with its bucket column and bucket set; A also
      // observes its fks' index buckets (where its new index entries land)
      val (matA, matB) = inParallel(
        phased(acc, "compact_a")(materialize(
          batchA.withColumn(BucketCol, bucketOf(Seq(col(pkA)), nBuckets)),
          col(BucketCol), bucketOf(Seq(col(fk)), nBuckets))),
        phased(acc, "compact_b")(materialize(
          batchB.withColumn(BucketCol, bucketOf(Seq(col(pkB)), nBuckets)),
          col(BucketCol))))
      val (dA, Seq(touchedL, fkBucketsA)) = (matA._1.df, matA._2)
      val (dB, Seq(touchedR)) = (matB._1.df, matB._2)

      // ---- affected output keys: Δfact ∪ index⁻¹(Δdim), from the PRE-swap
      // index. dB's keys hash to the same buckets in the index (bucketed by
      // fk) as in `right` (bucketed by pkB). May list a key twice.
      val fAffected = laneFuture(phased(acc, "affected_keys") {
        val fromB = idx.read(touchedR)
          .map(_.join(dB.select(col(pkB).as("__fk")), Seq("__fk"), "left_semi")
            .select(col("__pk").as("__k")))
        val keys = fromB.foldLeft(dA.select(col(pkA).as("__k")))(_ unionByName _)
        materialize(keys.withColumn(BucketCol, bucketOf(Seq(col("__k")), nBuckets)),
          col(BucketCol))
      })

      // ---- LEFT: merge, and the pre-swap (fk, pk) of the batch's keys —
      // both read the same pre-swap files, side by side
      val fLeftMerge = laneFuture(
        if (touchedL.isEmpty) None
        else Some(phased(acc, "left_merge")(materialize(
          merged(left.read(touchedL), dA, pkA, verA, opA), col(BucketCol))._1)))
      val fOldEntries = laneFuture(
        if (touchedL.isEmpty) None
        else Some(phased(acc, "left_old_snapshot")(materialize(
          left.read(touchedL).getOrElse(dA.limit(0))
            .join(dA.select(col(pkA)), Seq(pkA), "left_semi")
            .select(col(fk).as("__fk"), col(pkA).as("__pk")),
          bucketOf(Seq(col("__fk")), nBuckets)))))

      // ---- secondary index (fk, pkA): retract the batch keys' OLD entries
      // from their old-fk buckets, insert the new ones; then the left swap.
      // The index swaps only after the affected keys, which read the
      // pre-swap index, are materialized, and strictly BEFORE the left swap
      // — the pre-swap left table is the only durable record of the old fk,
      // so if the process died with the left swapped but the index not, the
      // replay's retraction set would be recomputed from POST-swap rows: a
      // moved fact's old-fk entry (and a deleted fact's whole entry) would
      // stay stale FOREVER. With the index first, a replay from either side
      // of this boundary re-derives a correct retraction. Enumerated by
      // JoinMvCrashSweepSpec.
      val fLeftSwaps = laneFuture {
        val newL = await(fLeftMerge)
        val oldEntries = await(fOldEntries)
        await(fAffected)
        for (newLM <- newL; (_, Seq(oldFkBuckets)) <- oldEntries) {
          phased(acc, "index_swap") {
            // a superset of the buckets the retraction and the insertion
            // touch; an extra bucket is rewritten unchanged
            val touchedIdx = (fkBucketsA ++ oldFkBuckets).distinct.sorted
            val newEntries = newLM.df
              .join(dA.select(col(pkA)), Seq(pkA), "left_semi")
              .select(col(fk).as("__fk"), col(pkA).as("__pk"))
              .withColumn(BucketCol, bucketOf(Seq(col("__fk")), nBuckets))
            val kept = idx.read(touchedIdx)
              .map(_.join(dA.select(col(pkA).as("__pk")), Seq("__pk"), "left_anti"))
            val newIdx = kept.fold(newEntries)(_.unionByName(newEntries))
            swapTouched(newIdx.repartition(col(BucketCol)), idxPath, touchedIdx)
          }
          phased(acc, "left_swap")(swapTouched(newLM.df, leftPath, touchedL))
        }
      }

      // ---- RIGHT: merge, then swap
      val fRightMerge = laneFuture(
        if (touchedR.isEmpty) None
        else Some(phased(acc, "right_upsert")(materialize(
          merged(right.read(touchedR), dB, pkB, verB, opB), col(BucketCol))._1)))
      val fRightSwap = laneFuture(
        await(fRightMerge).foreach(m =>
          phased(acc, "right_swap")(swapTouched(m.df, rightPath, touchedR))))

      // ---- MV: re-join the affected fact rows against the dim rows they
      // reference — from the merged frames for buckets this batch touched,
      // from disk for the buckets it did not (no swap renames those) — diff
      // against the current MV rows, write the changelog, swap.
      val leftRead = Promise[Unit]()
      val rightRead = Promise[Unit]()
      val fMv = laneFuture {
        try {
          val (affectedM, Seq(touchedMv)) = await(fAffected)
          val affected = affectedM.df
          val newL = await(fLeftMerge).map(_.df)
          val newR = await(fRightMerge).map(_.df)
          if (touchedMv.nonEmpty) {
            // touchedL ⊆ touchedMv: every ΔA key is affected
            val leftRows = (newL.toSeq ++ left.read(touchedMv.diff(touchedL)))
              .reduceOption(_ unionByName _).getOrElse(dA.limit(0))
              .join(affected.select(col("__k").as(pkA)), Seq(pkA), "left_semi")
            val (leftM, Seq(rightNeeded)) = phased(acc, "join_left_read")(
              materialize(leftRows, bucketOf(Seq(col(fk)), nBuckets)))
            leftRead.trySuccess(())
            val dimCols = batchB.columns.filterNot(c => c == opB)
            val rightState = (newR.toSeq ++ right.read(rightNeeded.diff(touchedR)))
              .reduceOption(_ unionByName _).getOrElse(dB.limit(0))
              .select(dimCols.toIndexedSeq.map(col): _*)
            val outCols = batchA.columns.filterNot(c => c == opA) ++
              dimCols.filterNot(c => c == pkB || c == verB)
            val joined = leftM.df.drop(BucketCol)
              .join(rightState, col(fk) === col(pkB),
                if (innerJoin) "inner" else "left")
              .select(outCols.toIndexedSeq.map(col): _*)
              .withColumn(BucketCol, bucketOf(Seq(col(pkA)), nBuckets))
            val newOut = phased(acc, "join_recompute")(
              materialize(joined))._1.df
            rightRead.trySuccess(())
            val curMv = mv.read(touchedMv).getOrElse(newOut.limit(0))
            changelogPath.foreach { cl => phased(acc, "changelog") {
              val dataCols = outCols.toIndexedSeq.filterNot(_ == pkA)
              // presence flags, not struct-null tests: a full join's
              // missing side nulls the COLUMNS, and a struct of null
              // fields is still a non-null struct
              val oldRows = curMv
                .join(affected.select(col("__k").as(pkA)), Seq(pkA),
                  "left_semi")
                .select(col(pkA) +: lit(true).as("__has_old") +:
                  dataCols.map(c => col(c).as(s"__o_$c")): _*)
              val newRows = newOut
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
              ChangelogOps.publishBatch(diff, cl, batchId)
            } }
            phased(acc, "mv_swap") {
              val kept = curMv
                .join(affected.select(col("__k").as(pkA)), Seq(pkA), "left_anti")
              swapTouched(kept.unionByName(newOut).repartition(col(BucketCol)),
                mvPath, touchedMv)
            }
          }
        } finally { leftRead.trySuccess(()); rightRead.trySuccess(()) }
      }
      releaseWhenDone(fLeftMerge, fLeftSwaps, leftRead.future)
      releaseWhenDone(fRightMerge, fRightSwap, rightRead.future)

      // every lane finishes before the batch succeeds or fails — a failure
      // surfacing while another lane is mid-write would hand the caller's
      // replay an orphan writer to race. A lane that awaited a failed one
      // rethrows the same exception; it is reported once.
      val lanesOfBatch = Seq(fAffected, fLeftMerge, fOldEntries, fLeftSwaps,
        fRightMerge, fRightSwap, fMv)
      lanesOfBatch.foreach(f =>
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
      val failures = lanesOfBatch.flatMap(_.value.get.failed.toOption)
        .foldLeft(List.empty[Throwable])((seen, t) =>
          if (seen.exists(_ eq t)) seen else seen :+ t)
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally held.forEach(_.release())
    phased(acc, "marker")(writeMarker(spark, mvPath, batchId))
    lastPhases = {
      import scala.jdk.CollectionConverters._
      acc.iterator().asScala.toSeq
    }
  }
}
