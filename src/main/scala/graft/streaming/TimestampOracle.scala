package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Cross-JOB timestamp/epoch authority for one snapshot store root — the
 * file-protocol analog of the reference's grpc timestamp oracle shared by
 * concurrent jobs (coordinator/grpc/GrpcService.java:20-99 issues global
 * timestamps; Coordinator.java:6-12 is the client seam). [[SnapshotStore]]
 * leases already serialize writers PER TABLE; what they cannot give is a
 * GLOBAL order across independent MV jobs writing different tables of one
 * store. This oracle does: every `begin()` CAS-allocates the next integer
 * timestamp for the whole store, so two jobs' epochs interleave into one
 * monotone sequence and a pinned reader has a total order to pin against.
 *
 * Protocol (all under `<root>/_tso/`):
 *   - `t=<n>`  allocated (pending) timestamp — the CAS object: exactly one
 *     `begin()` can create it. On HDFS/object stores the namenode makes
 *     `create(overwrite=false)` atomic; on the LOCAL filesystem Hadoop's
 *     create is check-then-act, so there the CAS routes through
 *     `File.createNewFile` (O_CREAT|O_EXCL — the kernel arbitrates, so
 *     two separate driver PROCESSES sharing a local store cannot both
 *     win; in-JVM racers additionally serialize on the interned root
 *     path to cut futile retries). Allocation = max(existing, floor) + 1,
 *     retried on collision.
 *   - `c=<n>` / `a=<n>`  resolution markers. If both ever exist (a commit
 *     that lost its lease racing the expiry scan), ABORT WINS — deciders
 *     must agree, so the late committer throws instead of un-aborting.
 *   - `_floor.v<n>`  compaction high-water mark (value in the NAME —
 *     atomic create, crash-safe, max-wins across concurrent gcs; the
 *     legacy content-bearing `_floor` is still read): every n ≤ floor is
 *     resolved and its files are deleted ([[gc]], verdict markers one
 *     lease later), keeping the directory listing
 *     O(in-flight + recent) instead of O(history).
 *
 * `safePoint()` is the resolved-ts analog (FlinkTikvConsumer.java:163-191
 * emits rows only at resolved-ts boundaries): the largest timestamp below
 * which nothing is still in flight. A reader that pins `min(safePoint)`
 * across its tables never sees skew: epochs publish BEFORE their
 * timestamp commits, so once a timestamp resolves, no new epoch at-or-
 * below it can appear later. A pending allocation whose holder died holds
 * the safe point back only until `leaseMs`, then the scan writes its
 * abort marker and moves on — same expiring-lease posture as
 * [[SnapshotStore]]'s writer lock. Residual window (documented, same as
 * any lease scheme): a writer whose whole process stalls past the lease
 * can still publish after its timestamp was aborted; the abort-wins rule
 * makes its commit fail LOUDLY, and the epoch it published is a complete,
 * consistent snapshot — late, never torn.
 */
object TimestampOracle {

  /** Generous vs the seconds-scale begin→publish→commit it bounds. */
  val DefaultLeaseMs: Long = 10 * 60 * 1000L

  final case class Ts(ts: Long)

  class TimestampFencedException(msg: String)
    extends IllegalStateException(msg)

  /** The floor-fence flavor: the ts is at-or-below the gc floor and its
    * own verdict marker is gone (compacted). For a FIRST commit attempt
    * this is a normal fence (the ts was lease-aborted and compacted long
    * ago); for a transport RETRY whose first response was lost it is
    * AMBIGUOUS — the compacted verdict may have been this caller's own
    * successful commit — so [[TcpTso]] escalates it loudly instead of
    * reporting a clean abort. */
  final class TimestampCompactedException(msg: String)
    extends TimestampFencedException(msg)

  private def tsoDir(root: String) = new Path(root, "_tso")
  private def fsOf(conf: org.apache.hadoop.conf.Configuration, root: String) =
    tsoDir(root).getFileSystem(conf)

  private def listEntries(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(String, Long, Long)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val i = n.indexOf('=')
      if (i < 0) None
      else scala.util.Try(
        (n.take(i), n.drop(i + 1).toLong, st.getModificationTime)).toOption
    }

  /** Create-if-absent with a CROSS-PROCESS atomicity guarantee: Hadoop's
    * `create(overwrite=false)` is atomic on HDFS/object stores (namenode
    * / conditional PUT) but check-then-act on the local filesystem, where
    * two processes could both pass the exists check. For `file:` URIs the
    * CAS therefore goes through `File.createNewFile`, which the JDK
    * implements as open(O_CREAT|O_EXCL) — atomic at the kernel, the same
    * primitive a PID lockfile relies on. Returns false if the path
    * already exists (lost the race). */
  private def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      val f = new java.io.File(p.toUri.getPath)
      try f.createNewFile()
      catch { case _: java.io.IOException => false }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** The compaction floor — a [[VersionedPointer]] (`_floor.v<n>`):
    * crash-safe atomic-create advance, max-wins across concurrent gcs
    * from independent processes (the in-JVM intern lock does not span
    * them), double-scanned + process-monotone reads (a readdir racing a
    * sibling's deletes can miss a stable entry; a floor misread as 0
    * would defeat every fence and let `begin()` re-issue compacted
    * timestamps). The monotone cache is safe here: a wiped `_tso` dir
    * restarting ABOVE its old floor only skips timestamps, never reuses
    * them. Legacy content-bearing `_floor` files still read. */
  private def readFloor(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Long =
    VersionedPointer.readMax(fs, dir, "_floor.v", "_floor",
      monotoneCacheKey = Some(s"tso-floor:$dir")).getOrElse(0L)

  /** Allocate the store's next global timestamp (pending until [[commit]]
    * or [[abort]]). Strictly increasing and unique across jobs. Takes a
    * bare Configuration, not a SparkSession — "across jobs" means across
    * driver PROCESSES, and a second process contending for a timestamp
    * needs only the filesystem, not a Spark runtime (the cross-process
    * spec races two bare JVMs through it). */
  def begin(conf: org.apache.hadoop.conf.Configuration, root: String): Ts = {
    val fs = tsoDir(root).getFileSystem(conf)
    val dir = tsoDir(root)
    s"graft.tso:$dir".intern().synchronized {
      fs.mkdirs(dir)
      var attempt = 0
      while (attempt < 1000) {
        val floor = readFloor(fs, dir)
        // top over ALL entry kinds, not just allocations: gc deletes t=
        // files while RETAINING their verdict markers for a lease, so a
        // process whose floor read lags (fresh JVM, racy listing) still
        // sees the retained c=/a= names and cannot re-allocate below them
        val top = (listEntries(fs, dir).map(_._2) :+ floor).max
        val cand = top + 1L
        if (atomicCreate(fs, new Path(dir, s"t=$cand"))) return Ts(cand)
        attempt += 1
      }
      throw new IllegalStateException(
        s"could not allocate a timestamp at $dir after 1000 attempts")
    }
  }

  /** Resolve `ts` as committed. Throws [[TimestampFencedException]] if the
    * expiry scan already aborted it (the holder outlived its lease) —
    * abort wins, loudly, so no reader's resolved view is retracted. The
    * gc floor is an equivalent fence: [[gc]] deletes resolution markers
    * at-or-below the safe point, and the only way an UNCOMMITTED ts got
    * below the floor is that its abort verdict was delivered and then
    * compacted — a marker's absence past the floor must not read as
    * "never aborted". [[TsoServer]] serves it over TCP (no Spark runtime
    * on the oracle host). */
  def commit(conf: org.apache.hadoop.conf.Configuration, root: String,
      ts: Ts): Unit = {
    val fs = fsOf(conf, root)
    val dir = tsoDir(root)
    // Idempotent re-apply FIRST, even at-or-below the gc floor: a network
    // caller retrying a COMMIT whose response line was dropped must find
    // its own durable verdict, even if a concurrent [[gc]] advanced the
    // floor past it between the two attempts. [[gc]] retains resolution
    // markers for a lease after raising the floor for exactly this
    // window, so the retry reads its `c=` marker and succeeds instead of
    // being fenced (and then spuriously "aborted") for a commit that was
    // durably applied. The a= co-check keeps abort-wins: a race already
    // resolved against us falls through to the fences below.
    if (fs.exists(new Path(dir, s"c=${ts.ts}")) &&
        !fs.exists(new Path(dir, s"a=${ts.ts}"))) return
    def fenceIfCompactedPast(): Unit = {
      val floor = readFloor(fs, dir)
      if (ts.ts <= floor)
        throw new TimestampCompactedException(
          s"timestamp ${ts.ts} at $dir is at or below the gc floor $floor " +
            "— it was aborted by lease expiry and compacted before this " +
            "commit; the holder outlived its lease")
    }
    fenceIfCompactedPast()
    if (fs.exists(new Path(dir, s"a=${ts.ts}")))
      throw new TimestampFencedException(
        s"timestamp ${ts.ts} at $dir was aborted by lease expiry before " +
          "this commit — the holder outlived its lease")
    fs.create(new Path(dir, s"c=${ts.ts}"), true).close()
    // The decider races: if the expiry scan aborted between our check and
    // our marker, agree with the abort (abort wins), retract, report it.
    // The a= check is the ONLY post-write fence — and it is sufficient:
    // any abort verdict relevant to this window is still marker-visible,
    // because gc retains verdicts one full lease past floor passage and
    // our pre-write floor fence ran just syscalls ago. The floor itself
    // must NOT be re-checked here: a concurrent gc that listed our fresh
    // c= legitimately counts this ts as RESOLVED and advances the floor
    // past it — re-reading that floor as an abort verdict would make the
    // commit retract itself after a gc already published it as committed
    // (the self-fulfilling retraction the cross-process gc racer caught).
    if (fs.exists(new Path(dir, s"a=${ts.ts}"))) {
      try fs.delete(new Path(dir, s"c=${ts.ts}"), false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw new TimestampFencedException(
        s"timestamp ${ts.ts} at $dir lost the commit/abort race; abort wins")
    }
  }

  /** Resolve `ts` as aborted (idempotent). A timestamp that already
    * COMMITTED stays committed — the no-op covers the lost-ack window: a
    * network caller whose commit was durably applied but whose response
    * line was dropped will abort "its failed commit", and unconditionally
    * writing a=ts next to the existing c=ts would hand readers two
    * contradictory verdicts for one resolved timestamp. (The abort-wins
    * rule is for the IN-FLIGHT race, where commit() itself detects the
    * marker and retracts; a completed commit is a delivered verdict.)
    *
    * Residual window (syscalls-wide): an abort whose exists-check ran
    * just before a racing commit's marker landed still writes a= after
    * c= — both markers then exist and the STANDING rule applies: abort
    * wins, the timestamp reads as aborted everywhere, and the published
    * epoch is the documented late-never-torn case. No party acted on a
    * commit success in that interleaving (the committer's caller was
    * the one aborting). */
  def abort(conf: org.apache.hadoop.conf.Configuration, root: String,
      ts: Ts): Unit = {
    val fs = fsOf(conf, root)
    val dir = tsoDir(root)
    // At-or-below the gc floor the ts is already RESOLVED (a pending ts
    // can only pass the floor by being lease-aborted first) — its commit
    // marker may have been compacted, and writing a fresh a= here would
    // contradict a possibly-delivered commit verdict. No-op.
    if (ts.ts <= readFloor(fs, dir)) return
    if (!fs.exists(new Path(dir, s"c=${ts.ts}")))
      fs.create(new Path(dir, s"a=${ts.ts}"), true).close()
  }

  /** The largest timestamp with nothing in flight at or below it — pin
    * multi-table reads here ([[readStoreAt]]) and they can never be
    * overtaken by a late-arriving lower epoch. Pending allocations older
    * than `leaseMs` are aborted in passing (marker written — the verdict
    * is durable, so a stalled holder's later commit fences loudly). */
  def safePoint(conf: org.apache.hadoop.conf.Configuration, root: String,
      leaseMs: Long): Long = {
    val fs = fsOf(conf, root)
    val dir = tsoDir(root)
    val entries = listEntries(fs, dir)
    val resolved = entries.collect {
      case ("c", n, _) => n
      case ("a", n, _) => n
    }.toSet
    val now = System.currentTimeMillis()
    val pending = entries.collect {
      case ("t", n, mtime) if !resolved.contains(n) => (n, mtime)
    }
    val livePending = pending.filter { case (n, mtime) =>
      if (now - mtime > leaseMs) {
        // Holder outlived its lease: abort it. `resolved` is a
        // LISTING-time snapshot, so a commit can land between the listing
        // and this point — and unlike [[abort]]'s same-caller lost-ack
        // case, the scan is a DIFFERENT party: contradicting a commit
        // whose caller already observed success is the one outcome that
        // must not stand. Marker-FIRST ordering closes the permanent
        // version of that race (check-then-write would leave it open a
        // full listing wide): write our abort, THEN look for a commit.
        // A racing commit either sees our marker at its own post-write
        // recheck (it retracts and throws — abort wins, failure is what
        // its caller observes) or its marker was already durable — then
        // WE defer: retract the abort and keep holding the safe point
        // this round, so the next scan reads the settled verdict. The
        // only residue is transient dual-marker visibility to a
        // concurrent third observer, syscalls wide, never a delivered
        // success that later reads as aborted.
        fs.create(new Path(dir, s"a=$n"), true).close()
        if (!fs.exists(new Path(dir, s"c=$n"))) false // aborted cleanly
        else {
          // The retraction MUST land: once n reads resolved (c= present)
          // no later scan revisits it, so a swallowed delete failure
          // would leave a permanent dual verdict — exactly what
          // marker-first exists to prevent. Retry transient failures,
          // then fail the scan LOUDLY (a held safe point beats a
          // delivered commit that silently reads as aborted).
          var retracted = false
          var tries = 0
          while (!retracted && tries < 3) {
            tries += 1
            try { fs.delete(new Path(dir, s"a=$n"), false); retracted = true }
            catch {
              case scala.util.control.NonFatal(e) =>
                if (tries >= 3) throw new IllegalStateException(
                  s"could not retract the expiry abort for committed " +
                    s"timestamp $n at $dir — dual verdict markers would " +
                    "persist; clear a=" + n + " manually", e)
                Thread.sleep(10L * tries)
            }
          }
          true // defer: re-evaluate n on the next scan
        }
      } else true
    }
    val floor = readFloor(fs, dir)
    val top = (entries.collect { case ("t", n, _) => n } :+ floor).max
    val naive =
      if (livePending.isEmpty) top else livePending.map(_._1).min - 1L
    // Directory listings are NOT atomic under concurrent mutation:
    // another PROCESS's gc deleting compacted files mid-readdir can make
    // the scan skip an unrelated, STABLE entry (observed on ext4 — the
    // cross-process gc racer caught a pending t= vanishing from one
    // listing, letting the floor overtake an in-lease allocation and
    // fence its commit). Point lookups have no such failure mode, so
    // VERIFY the candidate — but only the listing's GAPS need lookups:
    // a ts the listing DID return is evidenced, and timestamps are
    // allocated contiguously, so in a healthy store (gc'd or not) the
    // gap set is empty and the verification costs ZERO extra calls. The
    // old form iterated every integer in (floor, naive] — O(top) loop
    // per safePoint on a never-gc'd store (floor pinned at 0) even when
    // nothing was missing. Work is now bounded by listing size, plus a
    // hard cap on gap lookups (a mass-miss listing otherwise turns the
    // fence into an RPC storm on an object store): past the cap the
    // safe point conservatively stops BELOW the first unverified gap —
    // never wrong, only tight, and the next scan's fresh listing
    // re-evaluates it.
    val inRange =
      entries.map(_._2).filter(v => v > floor && v <= naive).distinct.sorted
    val gapIter: Iterator[Long] =
      ((floor +: inRange) :+ (naive + 1L)).iterator.sliding(2).flatMap {
        case Seq(a, b) if b > a + 1 => ((a + 1L) until b).iterator
        case _ => Iterator.empty[Long]
      }
    var sp = naive
    var verified = 0
    var done = false
    // gaps ascend, and the first hit (or the cap) lowers sp and ends the
    // loop — every later gap is already above the lowered safe point
    while (!done && gapIter.hasNext) {
      val n = gapIter.next()
      if (verified >= MaxGapLookups) { sp = n - 1; done = true }
      else {
        verified += 1
        if (fs.exists(new Path(dir, s"t=$n")) &&
            !fs.exists(new Path(dir, s"c=$n")) &&
            !fs.exists(new Path(dir, s"a=$n"))) {
          sp = n - 1 // a pending allocation the listing missed
          done = true
        }
      }
    }
    sp
  }

  /** Hard cap on exists()-verified listing gaps per [[safePoint]] call —
    * bounds the fence at ≤ 3×this point lookups even against a
    * pathological listing; beyond it the safe point falls back
    * conservatively to just below the first unverified gap. */
  private[graft] val MaxGapLookups: Int = 256

  /** Compact: delete resolution files for every timestamp ≤ the current
    * safe point and record it as the `_floor` — keeps `_tso` listings
    * bounded by in-flight work, the role TiKV GC plays for old versions.
    * Resolution markers (`c=`/`a=`) are RETAINED for one `leaseMs` after
    * the floor PASSES them (the passage is stamped onto the marker's
    * mtime, so retention is anchored to the floor advance, not to when
    * the marker was written): a network caller retrying a commit whose
    * response line was dropped (its retry window is the client timeout,
    * far inside the lease) must still find its durable verdict rather
    * than a spurious floor fence — see [[commit]]'s idempotent re-apply.
    * Listings stay bounded: O(in-flight + resolved-within-one-lease). */
  def gc(conf: org.apache.hadoop.conf.Configuration, root: String,
      leaseMs: Long): Long = {
    val fs = fsOf(conf, root)
    val dir = tsoDir(root)
    val sp = safePoint(conf, root, leaseMs)
    s"graft.tso:$dir".intern().synchronized {
      val prevFloor = readFloor(fs, dir)
      if (sp > prevFloor) {
        // floor first (raising it is safe: it only widens "resolved"),
        // then the now-redundant per-ts files. New version before old
        // cleanup — see [[readFloor]] for the crash/concurrency contract.
        VersionedPointer.advance(fs, dir, "_floor.v", "_floor", sp)
      }
      listEntries(fs, dir).foreach { case (_, n, _) =>
        if (n <= sp) fs.delete(new Path(dir, s"t=$n"), false)
      }
      val now = System.currentTimeMillis()
      listEntries(fs, dir).foreach { case (k, n, mtime) =>
        if (n <= sp && (k == "c" || k == "a")) {
          // first passage: stamp "floor passed me" onto the marker's
          // mtime and RETAIN it — anchoring the one-lease retention to
          // the floor advance, not to when the verdict was written (an
          // old verdict would otherwise compact the instant the floor
          // reached it, voiding the late-retry window)
          if (n > prevFloor) {
            val p = new Path(dir, s"$k=$n")
            // setTimes is a silent no-op on FileSystems that don't
            // implement it (object-store connectors): read back, and
            // fall back to REWRITING the content-free marker — a fresh
            // object carries a fresh mtime on every store. The Try
            // guards a concurrent scan deleting the marker under us.
            scala.util.Try {
              fs.setTimes(p, now, -1)
              // setTimes is a no-op on some FileSystems (object stores):
              // fall back to REWRITING the content-free marker — but for
              // c= markers ONLY. They are the load-bearing retention (a
              // lost-ack commit retry reads its own verdict); a= markers
              // below the floor are shadowed by the floor fence itself
              // (commit's pre-write fence fires before any a= check), so
              // rewriting one buys nothing and can RESURRECT a marker a
              // concurrent retraction just removed — flipping a
              // delivered verdict either direction. Early a= compaction
              // on such stores is therefore safe and accepted.
              //
              // The c= rewrite needs the SYMMETRIC guard: a commit that
              // just lost the abort race retracts its own c= — if our
              // listing predates that retraction, the rewrite would
              // resurrect a commit verdict for a caller that observed an
              // abort fence. Guard with PRE-checks only: skip when a=
              // exists (the retraction's precondition — a committer only
              // retracts after observing a=), and re-verify the marker
              // still exists by point lookup just before the rewrite
              // (the retraction may have landed since our listing). No
              // post-write delete: an a= seen AFTER our rewrite may be a
              // TRANSIENT expiry-scan marker whose writer is about to
              // retract it on seeing our c= — deleting c= then would
              // flip a DELIVERED commit to an abort. The residual
              // syscalls-wide window (a= turns durable between our
              // checks and the create) ends in dual markers, which every
              // reader resolves by the standing abort-wins rule — the
              // delivered fence stands; a verdict never flips.
              if (k == "c" && fs.getFileStatus(p).getModificationTime < now
                  && !fs.exists(new Path(dir, s"a=$n")) && fs.exists(p))
                fs.create(p, true).close()
            }
          } else if (now - mtime > leaseMs)
            fs.delete(new Path(dir, s"$k=$n"), false)
        }
      }
    }
    sp
  }

  /** Publish `tables` under ONE global timestamp from `tso` — the
    * coordinator analog (the reference's 2PC commits every table of a
    * transaction at ONE oracle-issued timestamp, Transaction.java via
    * GrpcService.java): allocate, 2-phase-publish every table at that
    * epoch ([[SnapshotStore.publishAll]] — all leases first, all stages,
    * then all pointer flips), then commit the timestamp. A single table
    * is a one-element `tables`. Publish-before-commit is what makes
    * [[safePoint]] a consistency fence: readers pinned at the safe point
    * see a fan-out ALL-OR-NOTHING, because its epochs become safe only
    * once the shared timestamp resolves. Any failure aborts the
    * timestamp, so the safe point is never held back by a dead writer
    * longer than the lease. `tso` is [[FileTso]] for the store's own
    * `_tso` directory, or [[TcpTso]] for a [[TsoServer]] over the network
    * (the grpc-served coordinator shape): the DATA still lands in the
    * shared snapshot store, but the ORDER authority needs only a socket.
    * Returns the timestamp, which is every table's new epoch. */
  def publish(tso: TsoProvider, spark: SparkSession, root: String,
      tables: Seq[(String, () => DataFrame)], keep: Int = 3): Long = {
    val ts = tso.begin()
    try {
      SnapshotStore.publishAll(spark,
        tables.map { case (t, make) => new Path(root, t).toString -> make },
        ts.ts, keep)
      tso.commit(ts)
      ts.ts
    } catch {
      case e: Throwable =>
        try tso.abort(ts)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Pinned multi-table read: for each table, its latest committed epoch
    * at-or-below `ts` (None while a table has no epoch ≤ ts yet). Pin at
    * [[safePoint]] and the map is a consistent cut: re-resolving at the
    * same `ts` later returns the SAME epochs however many writers have
    * committed since. */
  def readStoreAt(spark: SparkSession, root: String, tables: Seq[String],
      ts: Long): Map[String, Option[DataFrame]] =
    tables.map { t =>
      val base = new Path(root, t).toString
      val v = SnapshotStore.versions(spark, base).filter(_ <= ts)
      t -> (if (v.isEmpty) None
            else Some(SnapshotStore.readSnapshot(spark, base, Some(v.max))))
    }.toMap
}
