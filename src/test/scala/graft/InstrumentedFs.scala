package graft

import java.net.URI
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * A local filesystem behind its own scheme (`ifs://`) that instruments
 * every call the graft file protocols make — the test-side device for
 * three jobs no in-JVM mock can do against real protocol code:
 *
 *   1. **Counting**: per-operation counters (exists/listStatus/...) so a
 *      spec can pin an RPC bound (e.g. safePoint's gap verification must
 *      not scale with the backlog).
 *   2. **Race injection**: one-shot before-hooks on (op, path-substring)
 *      that run arbitrary side effects at an exact interleaving point, an
 *      observer of every operation and the thread making it, a
 *      `setTimes` silent no-op mode (object-store behavior), and
 *      count-limited listing HIDING (a readdir racing a sibling's deletes
 *      can miss a stable entry — hide it from the first N listings), and
 *      one-shot rename REFUSAL (`rename` returns false, as a file system
 *      reports a rename it did not do).
 *   3. **Crash enumeration**: arm a matcher + trip point; once the Nth
 *      matching operation fires, it and EVERY subsequent call throw
 *      [[InstrumentedFs.InjectedCrash]] — the process is "dead" from that
 *      syscall on (catch/finally cleanup attempts fail too, exactly like
 *      a real halt). Sweeping N over a protocol cycle enumerates every
 *      crash point.
 *
 * State is static (the Hadoop FileSystem cache hands out one instance per
 * scheme); specs call [[InstrumentedFs.reset]] around each scenario.
 */
class InstrumentedFs extends ForkFreeRawLocalFileSystem {
  import InstrumentedFs._

  override def getUri: URI = URI.create("ifs:///")

  override def exists(f: Path): Boolean =
    gate("exists", f) { super.exists(f) }

  override def getFileStatus(f: Path): FileStatus =
    gate("getFileStatus", f) { super.getFileStatus(f) }

  override def listStatus(f: Path): Array[FileStatus] =
    gate("listStatus", f) {
      val out = super.listStatus(f)
      val n = listingCalls.incrementAndGet()
      val hidden = hiddenNames.get()
      if (hidden.nonEmpty && n <= hideFromFirstListings.get())
        out.filterNot(st => hidden.contains(st.getPath.getName))
      else out
    }

  // RawLocalFileSystem implements BOTH create overloads directly (the
  // permission-less one does NOT chain through the permission one), so
  // both must gate or fs.create(p, overwrite) slips past uncounted.
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    gate("create", f) {
      super.create(f, overwrite, bufferSize, replication, blockSize,
        progress)
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    gate("create", f) {
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    gate("open", f) { super.open(f, bufferSize) }

  override def delete(f: Path, recursive: Boolean): Boolean =
    gate("delete", f) { super.delete(f, recursive) }

  override def rename(src: Path, dst: Path): Boolean =
    gate("rename", src) { !refused(src) && super.rename(src, dst) }

  override def mkdirs(f: Path): Boolean =
    gate("mkdirs", f) { super.mkdirs(f) }

  override def setTimes(f: Path, mtime: Long, atime: Long): Unit =
    gate("setTimes", f) {
      if (!setTimesNoop.get()) super.setTimes(f, mtime, atime)
    }
}

object InstrumentedFs {
  final class InjectedCrash(op: String, path: String)
    extends java.io.IOException(s"injected crash at $op($path)")

  val Scheme = "ifs"

  /** Hadoop conf key wiring the scheme to this class. */
  def configure(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[InstrumentedFs].getName)

  // ---- counters ----
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val listingCalls = new AtomicLong(0)

  def opCount(op: String): Long =
    Option(counters.get(op)).map(_.get).getOrElse(0L)

  // ---- race injection ----
  private val setTimesNoop = new AtomicBoolean(false)
  /** Make `setTimes` a silent no-op (object-store connector behavior). */
  def noopSetTimes(v: Boolean): Unit = setTimesNoop.set(v)

  private val hiddenNames =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
  private val hideFromFirstListings = new AtomicLong(0)
  /** Hide entries named in `names` from the next `listings` listStatus
    * calls (counted from reset) — the readdir-miss simulation. */
  def hideFromListings(names: Set[String], listings: Long): Unit = {
    hiddenNames.set(names); hideFromFirstListings.set(listings)
  }

  private val refusals = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** One-shot: the next `rename` whose source path ends with `srcSuffix`
    * returns false and leaves both paths as they are. */
  def refuseRename(srcSuffix: String): Unit = refusals.add(srcSuffix)

  private def refused(src: Path): Boolean = {
    val s = src.toString
    val it = refusals.iterator()
    var hit = false
    while (!hit && it.hasNext) if (s.endsWith(it.next())) { it.remove(); hit = true }
    hit
  }

  private final case class Hook(op: String, pathContains: String,
      action: () => Unit)
  private val hooks =
    new java.util.concurrent.ConcurrentLinkedQueue[Hook]()
  /** One-shot: run `action` just BEFORE the next `op` whose path contains
    * `pathContains` (then the op proceeds). `action` may throw to fail
    * the op instead. */
  def beforeOp(op: String, pathContains: String)(action: => Unit): Unit =
    hooks.add(Hook(op, pathContains, () => action))

  @volatile private var observer: (String, String) => Unit = null
  /** Call `f(op, path)` for every operation, on the thread making it,
    * after the operation's before-hook and just before the operation
    * itself — a spec's view of how operations on different threads
    * interleave. Cleared by [[reset]]. */
  def observeOps(f: (String, String) => Unit): Unit = observer = f

  /** Hooks and refusals not yet consumed — lets a spec assert its
    * injection FIRED. */
  def pendingHooks: Int = hooks.size() + refusals.size()

  // ---- crash enumeration ----
  @volatile private var matcher: Option[(String, String) => Boolean] = None
  private val tripAt = new AtomicLong(Long.MaxValue)
  private val matched = new AtomicLong(0)
  private val dead = new AtomicBoolean(false)

  /** Count ops satisfying `m` without tripping (pass tripAtOp = MaxValue)
    * or kill the "process" at the Nth matching op (1-based). */
  def armCrash(tripAtOp: Long)(m: (String, String) => Boolean): Unit = {
    matcher = Some(m); tripAt.set(tripAtOp)
    matched.set(0); dead.set(false)
  }

  /** Matching-op count since the last arm/reset. */
  def matchedOps: Long = matched.get
  def isDead: Boolean = dead.get
  /** Revive after a crash without clearing counters — the "restarted
    * process" seam for recovery assertions. The matcher is disarmed
    * BEFORE the process comes back to life: a task of the crashed attempt
    * that is still being killed could otherwise pass the liveness check
    * and match again in between, killing the restarted process mid-
    * recovery. */
  def revive(): Unit = { matcher = None; dead.set(false) }

  def reset(): Unit = {
    counters.clear(); listingCalls.set(0)
    setTimesNoop.set(false)
    hiddenNames.set(Set.empty); hideFromFirstListings.set(0)
    hooks.clear(); refusals.clear(); observer = null
    matcher = None; tripAt.set(Long.MaxValue)
    matched.set(0); dead.set(false)
  }

  private def gate[A](op: String, f: Path)(body: => A): A = {
    counters.computeIfAbsent(op, _ => new AtomicLong(0)).incrementAndGet()
    val pathStr = f.toString
    if (dead.get) throw new InjectedCrash(op, pathStr)
    val it = hooks.iterator()
    var fired: Hook = null
    while (fired == null && it.hasNext) {
      val h = it.next()
      if (h.op == op && pathStr.contains(h.pathContains)) {
        it.remove(); fired = h
      }
    }
    if (fired != null) fired.action()
    val o = observer
    if (o != null) o(op, pathStr)
    matcher.foreach { m =>
      if (m(op, pathStr)) {
        val n = matched.incrementAndGet()
        if (n >= tripAt.get) {
          dead.set(true)
          throw new InjectedCrash(op, pathStr)
        }
      }
    }
    body
  }
}
