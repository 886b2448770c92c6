package graft.streaming

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * MVCC snapshot store — TiFlink's "stale snapshot isolation" contract
 * (README: "everytime you query the target table, you will see a consistent
 * snapshot of the materialized view in some past time"), realized with
 * versioned directories + a latest-pointer file instead of TiKV timestamps:
 *
 *   target/_v=<batchId>/...parquet      immutable snapshot per epoch
 *   target/_LATEST.v<n>                 pointer (value in the NAME —
 *                                       atomic create, max-wins; legacy
 *                                       content-bearing _LATEST still reads)
 *
 * Writers prepare a fully-formed snapshot in a per-attempt STAGING
 * directory, atomically rename it to its `_v=` name, and flip the pointer
 * as the final step; readers resolve the pointer once and then read an
 * immutable directory — a long-running query never sees a half-written
 * epoch, and time-travel (`readSnapshot(path, v)`) falls out for free. Old
 * epochs are pruned behind a retention window, the same role TiKV GC plays.
 *
 * Single-writer-at-a-time is ENFORCED, not assumed: the publish runs under
 * an exclusive `_LATEST.lock` (atomic create-if-absent, carrying the
 * writer's random token) and rejects non-monotone epochs, so a second
 * writer or a delayed stale publish fails loudly instead of silently
 * regressing the pointer. The lock is LEASED, the local stand-in for
 * TiFlink's expiring coordinator timestamps (coordinator/Transaction.java,
 * grpc/GrpcService.java): a lock with no liveness signal for `lockLeaseMs`
 * belongs to a crashed writer and may be taken over — no operator
 * intervention — while a live lock still fails the second writer loudly.
 * Liveness is a HEARTBEAT file (`_LATEST.lock.hb-<token>`) the holder
 * re-creates at a quarter of the lease: mutating a separate token-named
 * file is atomic-safe on any filesystem (object stores ignore
 * `setTimes`, and rewriting the mutex itself could clobber a successor's
 * lock), and a stalled-then-resumed writer can never freshen a lock a
 * successor now owns. A writer whose WHOLE PROCESS stalls past the lease
 * (GC pause, suspended VM) can still lose the lock; the token fence
 * (`checkHeld`) re-checked immediately before BOTH commit points (epoch
 * rename, pointer flip) converts that into a loud abort, and because
 * phase 1 only ever writes to the attempt's own staging directory, a
 * resumed loser's in-flight tasks can never add part-files to a published
 * `_v=` directory — epochs change only by whole-directory atomic rename.
 */
object SnapshotStore {

  private val Latest = "_LATEST"
  private val StagingPrefix = "_staging_v="

  /** Default lock lease: generous vs the metadata-op commit it guards. */
  val DefaultLockLeaseMs: Long = 10 * 60 * 1000L

  /** Thrown when a concurrent or stale writer is detected at publish time. */
  final class ConcurrentPublishException(msg: String)
    extends IllegalStateException(msg)

  /** Exclusive writer lease over one store's `_LATEST.lock`. The lock file
    * carries this writer's random token; a daemon heartbeat re-creates the
    * token-named `.hb-<token>` sibling at a quarter of the lease so a live
    * writer never looks expired to [[acquireLock]]'s takeover scan however
    * long phase 1 runs. `checkHeld()` re-reads the token — a lost or
    * taken-over lock aborts the publish BEFORE a commit point instead of
    * racing the thief. `close()` removes the heartbeat (ours by name) and
    * deletes the lock only if the token is still ours (never deletes a
    * successor writer's fresh lock). */
  private final class WriterLease(
      fs: org.apache.hadoop.fs.FileSystem, lock: Path, val token: String,
      leaseMs: Long) extends AutoCloseable {
    private val hb = heartbeatPath(lock, token)
    @volatile private var closed = false
    private val heartbeat = new Thread(() => {
      val period = math.max(leaseMs / 4, 250L)
      var interrupted = false
      while (!closed && !interrupted) {
        try Thread.sleep(period)
        catch { case _: InterruptedException => interrupted = true }
        if (!closed && !interrupted) {
          try { val out = fs.create(hb, true); out.writeBytes(token); out.close() }
          catch { case NonFatal(_) => () } // next beat retries
        }
      }
    }, s"graft-lease-heartbeat-$lock")
    heartbeat.setDaemon(true)
    heartbeat.start()

    private def readToken(): Option[String] = readTokenAt(lock)

    private def readTokenAt(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      } catch { case NonFatal(_) => None }

    /** Fence: fail before a commit point if the lock is gone or stolen. */
    def checkHeld(): Unit =
      if (!readToken().contains(token))
        throw new ConcurrentPublishException(
          s"writer lease on $lock lost (lock missing or taken over by " +
            "another writer); aborting before the commit point")

    def close(): Unit = {
      closed = true
      heartbeat.interrupt()
      try fs.delete(hb, false) catch { case NonFatal(_) => () }
      // Release must not read-then-delete: if the lease expired and a
      // successor took over between the two, the delete would kill the
      // successor's FRESH lock. Mirror acquireLock's takeover instead —
      // rename the lock aside (atomic, exactly one mover wins), verify the
      // moved file carries OUR token, then delete it; a moved file with a
      // stranger's token is a successor's live lock, so rename it back.
      // Residual: if the rename-back loses to a third writer's re-create,
      // the successor aborts via its fence — loud availability hazard,
      // never a correctness one.
      try if (readToken().contains(token)) {
        val aside = new Path(lock.getParent, s"${lock.getName}.closing-$token")
        val won = try fs.rename(lock, aside)
        catch { case NonFatal(_) => false }
        if (won) {
          if (readTokenAt(aside).contains(token)) fs.delete(aside, false)
          else if (!fs.rename(aside, lock)) fs.delete(aside, false)
        }
      } catch { case NonFatal(_) => () } // corpse reclaimed via lease expiry
    }
  }

  private def heartbeatPath(lock: Path, token: String): Path =
    new Path(lock.getParent, s"${lock.getName}.hb-$token")

  /** Take the store's exclusive writer lock (see [[acquireLock]] for the
    * takeover protocol), stamp it with this writer's token, and start the
    * heartbeat. */
  private def acquireLease(
      spark: SparkSession, basePath: String, leaseMs: Long): WriterLease = {
    require(leaseMs >= 1000L,
      s"lockLeaseMs=$leaseMs is below the heartbeat cadence floor (1s): " +
        "a live writer's lock would look expired between beats")
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(basePath, s"$Latest.lock")
    val token = java.util.UUID.randomUUID().toString
    val out = acquireLock(fs, lock, leaseMs)
    try { out.writeBytes(token); out.close() }
    catch { case NonFatal(e) =>
      // a token-less lock would wedge the store for a full lease — undo
      try out.close() catch { case NonFatal(_) => () }
      try fs.delete(lock, false) catch { case NonFatal(_) => () }
      throw e
    }
    new WriterLease(fs, lock, token, leaseMs)
  }

  /** Publish one epoch of one store: [[publishAll]] with one store. */
  def publish(spark: SparkSession, basePath: String, version: Long,
      keep: Int = 3, lockLeaseMs: Long = DefaultLockLeaseMs)(
      make: () => DataFrame): Unit =
    publishLeased(spark, Seq(basePath), keep, lockLeaseMs)(() => (version, Seq(make)))

  /** Cross-store publish with 2PC shape — the local stand-in for TiFlink's
    * coordinated transactions (coordinator/Transaction.java: prewrite all
    * keys, then commit at one timestamp). Phase 1 PREPARES every store by
    * staging its immutable epoch directory (no `_v=` dirs or pointers move —
    * a failure here publishes nothing anywhere). Phase 2 COMMITS by renaming
    * each staging into place and flipping each pointer under its lease. A
    * crash mid-phase-2 can leave a prefix of stores flipped — the window a
    * real coordinator closes with its commit record; readers of each store
    * still only ever see complete epochs. Each `make` runs with every lease
    * held; see [[publishLeased]]. */
  def publishAll(spark: SparkSession, stores: Seq[(String, () => DataFrame)],
      version: Long, keep: Int = 3,
      lockLeaseMs: Long = DefaultLockLeaseMs): Unit =
    publishLeased(spark, stores.map(_._1), keep, lockLeaseMs)(
      () => (version, stores.map(_._2)))

  /** Publish the store's NEXT epoch with the version number resolved UNDER
    * the lease — the shape SQL `INSERT` needs: two concurrent inserts must
    * serialize into consecutive epochs, never both compute `latest+1`
    * outside the lock (the loser's write would then alias a committed
    * version and be silently swallowed by the immutable-replay rule).
    * `make` receives the current committed version (None on an empty
    * store) and returns the full next snapshot; the new epoch number is
    * returned. */
  def publishNext(spark: SparkSession, basePath: String, keep: Int = 3,
      lockLeaseMs: Long = DefaultLockLeaseMs)(
      make: Option[Long] => DataFrame): Long =
    publishLeased(spark, Seq(basePath), keep, lockLeaseMs) { () =>
      val cur = latestVersion(spark, basePath)
      (cur.getOrElse(0L) + 1L, Seq(() => make(cur)))
    }

  /** The one publish sequence behind [[publish]], [[publishAll]] and
    * [[publishNext]]: take every store's writer lease, then run `plan`,
    * which names the epoch and one frame builder per store, then stage
    * every store, rename every staging into place, and fence and flip
    * every pointer. The leases cover the WHOLE publish; see the object
    * doc for the takeover/fence guarantees. `plan` and the builders run
    * with every store ours: any epoch derived from a store's current
    * state (e.g. [[upsertSink]]'s merge with the prior snapshot) must
    * resolve that state there — resolving it before the leases are held
    * races a competing writer's publish and silently drops its rows from
    * the merge basis, the exact lost-update this store exists to refuse.
    * Returns the published epoch. */
  private def publishLeased(spark: SparkSession, bases: Seq[String],
      keep: Int, lockLeaseMs: Long)(
      plan: () => (Long, Seq[() => DataFrame])): Long = {
    // all leases first (conflicts throw rather than block → no deadlock),
    // so no store's staging is written unless every store is ours to write
    val leases = scala.collection.mutable.ArrayBuffer.empty[WriterLease]
    try {
      bases.foreach(base => leases += acquireLease(spark, base, lockLeaseMs))
      val (version, makes) = plan()
      // zipped from the lease buffer, so every store stages before any
      // commits, whatever Seq the caller passed
      val staged = leases.lazyZip(bases).lazyZip(makes).map {
        (lease, base, make) =>
          (base, writeEpoch(make(), base, version, lease.token), lease)
      }
      staged.foreach { case (base, staging, lease) =>
        staging.foreach(s => commitEpoch(spark, base, version, s, lease))
      }
      staged.foreach { case (base, _, lease) =>
        lease.checkHeld() // fence before the pointer flip
        flipPointerLocked(spark, base, version, keep)
      }
      version
    } finally leases.foreach(l => try l.close() catch { case NonFatal(_) => () })
  }

  /** Run `body` under the path's exclusive writer lease — the same
    * heartbeated `.lock` mutex [[publish]] takes, exposed for mutators
    * whose write is NOT an epoch publish (e.g. [[graft.operators.IvfIndex]]
    * ingest/compact, which rewrite cell directories in place). Conflicts
    * THROW ([[ConcurrentPublishException]]) rather than block — the caller
    * (a streaming batch, a cron'd compactor) retries on its own cadence —
    * and a crashed holder's lock is broken after `lockLeaseMs` exactly as
    * for publishes. The lease is re-checked AFTER `body` (fence): if it
    * was lost mid-write the call fails loudly instead of reporting a
    * possibly-clobbered mutation as success. */
  def withWriterLock[T](spark: SparkSession, basePath: String,
      lockLeaseMs: Long = DefaultLockLeaseMs)(body: => T): T = {
    val lease = acquireLease(spark, basePath, lockLeaseMs)
    try {
      val r = body
      lease.checkHeld()
      r
    } finally lease.close()
  }

  /** Latest-by-key merge of a micro-batch into a store's CURRENT snapshot —
    * the one packed computation shared by [[upsertSink]] and
    * [[MultiMv.fanOut]] (call it only with the store's lease held, i.e.
    * from inside a [[publish]]/[[publishAll]] make). */
  private[streaming] def mergeLatestByKey(
      basePath: String, batch: DataFrame, keys: Seq[String],
      versionCol: String, deleteCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val prior = latestVersion(spark, basePath)
      .map(v => readSnapshot(spark, basePath, Some(v)))
    val unioned = prior.map(_.unionByName(batch)).getOrElse(batch)
    val packed = ChangelogOps.latestByKey(unioned, keys, versionCol)
    deleteCol.fold(packed)(d => packed.filter(!col(d)))
  }

  /** Phase 1: materialize the epoch into this attempt's own staging
    * directory — readers cannot see it, and no other attempt (even a
    * stalled-then-resumed one) ever writes here. Committed epochs are
    * IMMUTABLE: a replay of an already-committed version stages nothing
    * (returns None — exactly-once replays carry the same content, and
    * rewriting would yank files out from under pinned readers), and a
    * version older than the pointer is rejected before any write. */
  private def writeEpoch(df: DataFrame, basePath: String, version: Long,
      token: String): Option[Path] = {
    val spark = df.sparkSession
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = latestVersion(spark, basePath)
    if (cur.exists(_ > version))
      throw new ConcurrentPublishException(
        s"stale publish of epoch $version: pointer already at $cur")
    if (cur.contains(version)) None // committed epoch is immutable; replay no-op
    else {
      val staging = new Path(basePath, s"$StagingPrefix$version-$token")
      fs.delete(staging, true)
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      Some(staging)
    }
  }

  /** First commit point: atomically rename the staged epoch to its `_v=`
    * name, re-fencing immediately before the rename. An existing `_v=` dir
    * is either the committed epoch of a replay/competitor (pointer already
    * at `version` — keep it, drop our staging) or unrenamed debris of a
    * pre-fence loser (pointer below `version` — replace it wholesale; the
    * swap is directory-atomic, so readers never see mixed part-files). */
  private def commitEpoch(spark: SparkSession, basePath: String, version: Long,
      staging: Path, lease: WriterLease): Unit = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdir = new Path(basePath, s"_v=$version")
    lease.checkHeld() // fence as close to the rename as possible
    if (fs.exists(vdir)) {
      if (latestVersion(spark, basePath).contains(version)) {
        fs.delete(staging, true) // competitor committed the same epoch first
        return
      }
      fs.delete(vdir, true) // uncommitted leftover — unreadable, safe
    }
    if (!fs.rename(staging, vdir))
      throw new ConcurrentPublishException(
        s"epoch rename $staging -> $vdir failed; nothing was published")
  }

  /** Final commit point — flip `_LATEST`. Caller MUST hold the store's
    * [[WriterLease]] (and have fenced with `checkHeld()`). */
  private def flipPointerLocked(
      spark: SparkSession, basePath: String, version: Long, keep: Int): Unit = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // monotone epochs: equal = crash-replay of this batch (idempotent,
    // allowed); lower = a delayed stale writer that lost the race and
    // must NOT regress the pointer
    latestVersion(spark, basePath).foreach { cur =>
      if (cur > version)
        throw new ConcurrentPublishException(
          s"stale publish of epoch $version: pointer already at $cur")
    }
    // The pointer is a [[VersionedPointer]] (`_LATEST.v<n>`): one atomic
    // create is the commit point, the new version lands BEFORE superseded
    // ones are removed, and readers take the max — a crash between the
    // two steps leaves extra pointers, never a MISSING one (the old
    // delete-then-rename could lose the pointer entirely: the store then
    // read as empty, and a delayed stale writer could flip it BACKWARD
    // past the None stale-check). Same device as the oracle's gc floor.
    VersionedPointer.advance(fs, new Path(basePath), s"$Latest.v", Latest,
      version)
    // pre-versioning staging debris, unreadable by either format
    try fs.delete(new Path(basePath, s"$Latest.tmp"), false)
    catch { case scala.util.control.NonFatal(_) => () }
    versions(spark, basePath).sorted.dropRight(keep)
      .foreach(v => fs.delete(new Path(basePath, s"_v=$v"), true))
    // staging debris can only belong to crashed/expired attempts — the live
    // holder (us) renamed its own staging before reaching this sweep
    fs.listStatus(new Path(basePath)).toSeq
      .map(_.getPath).filter(_.getName.startsWith(StagingPrefix))
      .foreach(p => fs.delete(p, true))
  }

  /** Acquire `lock` by atomic create-if-absent. A held lock is a conflict
    * UNLESS neither it nor its holder's heartbeat file has been touched
    * within `leaseMs`: the holder crashed (or lost its process) and the
    * corpse must be broken. Breaking is ATOMIC via rename-to-unique-name —
    * of N racing waiters exactly one rename succeeds (the source exists
    * only once), so no waiter can delete a lock a sibling just legitimately
    * re-created; the rename winner removes the corpse (and its heartbeat)
    * and retries the create (a brand-new writer may still beat it there —
    * that is an ordinary conflict, not a race bug). */
  private def acquireLock(fs: org.apache.hadoop.fs.FileSystem, lock: Path,
      leaseMs: Long): org.apache.hadoop.fs.FSDataOutputStream = {
    var lastCreateFailure: String = "n/a"
    def tryCreate() =
      try Some(fs.create(lock, false)) // atomic create-if-absent = the mutex
      catch { case e: java.io.IOException => lastCreateFailure = e.toString; None }
    def mtimeOf(p: Path): Long =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.IOException => -1L }
    tryCreate().getOrElse {
      val lockM = mtimeOf(lock)
      // liveness = the fresher of the lock itself and the holder's heartbeat
      val holderToken =
        try {
          val in = fs.open(lock)
          try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
        } catch { case NonFatal(_) => "" }
      val hb = heartbeatPath(lock, holderToken)
      val age =
        if (lockM < 0) -1L // just freed — retry below
        else System.currentTimeMillis() - math.max(lockM, mtimeOf(hb))
      if (age >= 0 && age <= leaseMs)
        throw new ConcurrentPublishException(
          s"another writer holds $lock (age ${age}ms ≤ lease ${leaseMs}ms); " +
            "concurrent publishes to one snapshot store are not allowed")
      if (age > leaseMs) {
        val corpse = new Path(lock.getParent, s"${lock.getName}.corpse-${java.util.UUID.randomUUID()}")
        val won =
          try fs.rename(lock, corpse) // atomic: exactly one waiter wins
          catch { case _: java.io.IOException => false }
        if (!won)
          throw new ConcurrentPublishException(
            s"lost the takeover race for expired lock $lock to another writer")
        fs.delete(corpse, false)
        if (holderToken.nonEmpty)
          try fs.delete(hb, false) catch { case NonFatal(_) => () }
      }
      tryCreate().getOrElse(
        throw new ConcurrentPublishException(
          s"could not acquire $lock after takeover — another writer grabbed it, " +
            s"or the filesystem refused the create (last failure: $lastCreateFailure)"))
    }
  }

  /** Resolve the pointer: the max of the `_LATEST.v<n>` names. The flip is
    * one atomic [[VersionedPointer]] create, and superseded names go only
    * after it lands, so a versioned store never lacks its pointer. A
    * LEGACY store (content-bearing `_LATEST`) was flipped
    * delete-then-rename, which leaves a sub-millisecond window with no
    * pointer file on a store that HAS committed epochs; for those a
    * missing pointer is retried briefly before concluding the store is
    * empty. (Falling back to max(versions) instead would read a
    * renamed-but-unflipped epoch — an uncommitted read — so absence after
    * retries is the honest answer.) The retry only arms when committed
    * `_v=` epochs EXIST without a pointer (the mid-flip signature); a
    * store with no epochs is provably empty, and sleeping on it would tax
    * every first publish and every read of a fresh store ~50-150ms for
    * nothing. */
  def latestVersion(spark: SparkSession, basePath: String): Option[Long] = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (attempt < 3) {
      // name-versioned pointer: max wins (crash-safe, regression-proof;
      // `_LATEST.lock`/`.hb-*` fail the numeric parse and drop out). No
      // monotone cache here: dropIfExists legitimately wipes a store and
      // restarts its epochs from scratch at the same path.
      val got = VersionedPointer.readMax(fs, new Path(basePath),
        s"$Latest.v", Latest, monotoneCacheKey = None)
      if (got.nonEmpty) return got
      if (versions(spark, basePath).isEmpty) return None // provably empty
      // epochs exist with no readable pointer: a LEGACY store caught
      // mid-flip (delete-then-rename window) — retry briefly
      attempt += 1
      if (attempt < 3) Thread.sleep(25L)
    }
    None
  }

  def versions(spark: SparkSession, basePath: String): Seq[Long] = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(basePath))) Nil
    else fs.listStatus(new Path(basePath)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_v="))
      .map(_.stripPrefix("_v=").toLong)
  }

  /** Read the latest committed snapshot (or a pinned past `version`). */
  def readSnapshot(spark: SparkSession, basePath: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, basePath))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot at $basePath"))
    spark.read.parquet(new Path(basePath, s"_v=$v").toString)
  }

  /** Incremental read: the exact I/U/D changelog between two committed
    * epochs — "give me what changed since the version I last saw", the
    * TiCDC-style pull-based twin of IncrementalMv's push changelog (B35)
    * and the inverse of [[readSnapshot]]'s full-state reads. A consumer
    * that upserts I/U rows by key and deletes D keys onto its copy of
    * `fromVersion` holds exactly `toVersion` (spec-asserted).
    *
    * Output: key columns, `op` ('I'/'U'/'D'), then the NEW epoch's
    * non-key columns (null for D — the key is sufficient to delete).
    * Reversed bounds (`from` > `to`) are legal and yield the inverse
    * changelog (I and D swap; U carries the older values).
    *
    * Both epochs must still be retained, and must agree on columns —
    * a schema-evolved pair fails loudly (the time-travel rule B40's
    * catalog scans also enforce) rather than null-filling a phantom diff.
    *
    * Scale: one shuffle per side on the key columns (the same join
    * q101_mv_diff ships), output O(|changed keys|); non-key payloads
    * compared as a struct — one null-safe comparison, no per-column
    * join-condition blowup. */
  def changesBetween(spark: SparkSession, basePath: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val have = versions(spark, basePath).toSet
    for (v <- Seq(fromVersion, toVersion) if !have.contains(v))
      throw new IllegalArgumentException(
        s"epoch $v is not committed/retained at $basePath (have: ${have.toSeq.sorted.mkString(",")})")
    val o = readSnapshot(spark, basePath, Some(fromVersion))
    val n = readSnapshot(spark, basePath, Some(toVersion))
    if (o.columns.toSeq != n.columns.toSeq)
      throw new IllegalArgumentException(
        s"epochs $fromVersion and $toVersion have different schemas " +
          s"(${o.columns.mkString(",")} vs ${n.columns.mkString(",")}); " +
          "diff across an evolution boundary is not defined")
    for (k <- keys if !n.columns.contains(k))
      throw new IllegalArgumentException(s"key column $k not in schema")
    val nonKeys = n.columns.toSeq.filterNot(keys.contains)
    // a present row's payload struct is never null (even if every field
    // is), so presence and all-null payloads stay distinguishable
    def payload(df: DataFrame) =
      if (nonKeys.isEmpty) lit(0) else struct(nonKeys.map(col): _*)
    val oldS = o.select(keys.map(col) :+ payload(o).as("__old"): _*)
    val newS = n.select(keys.map(col) :+ payload(n).as("__new"): _*)
    val out = oldS.join(newS, keys, "full_outer")
      .filter(!(col("__old") <=> col("__new")))
      .withColumn("op",
        when(col("__old").isNull, lit("I"))
          .when(col("__new").isNull, lit("D"))
          .otherwise(lit("U")))
    out.select(keys.map(col) ++ Seq(col("op")) ++
      nonKeys.map(c => col(s"__new.$c").as(c)): _*)
  }

  /** foreachBatch sink: merge the micro-batch latest-by-key into the prior
    * snapshot and publish the result as a new epoch. The prior snapshot is
    * resolved UNDER the writer lease ([[publish]]) — a competing writer's
    * epoch can never be silently dropped from the merge basis. */
  def upsertSink(
      basePath: String, keys: Seq[String], versionCol: String,
      deleteCol: Option[String] = None, keep: Int = 3,
      lockLeaseMs: Long = DefaultLockLeaseMs): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      publish(batch.sparkSession, basePath, batchId, keep, lockLeaseMs) { () =>
        mergeLatestByKey(basePath, batch, keys, versionCol, deleteCol)
      }
    }
}
