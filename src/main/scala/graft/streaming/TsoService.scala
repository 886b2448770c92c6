package graft.streaming

import org.apache.hadoop.conf.Configuration

/**
 * The timestamp oracle served over a REAL network transport — the analog
 * of the reference coordinator being a grpc SERVICE
 * (flink/.../coordinator/grpc/GrpcService.java:20-99 serves timestamps,
 * GrpcProvider.java wires the channel, GrpcClient.java is the caller
 * seam): any driver with a network path to the [[TsoServer]] coordinates,
 * no shared filesystem required. [[TimestampOracle]]'s file CAS stays as
 * the HDFS/object-store path; this is the same oracle behind a socket.
 *
 * Split of responsibilities:
 *   - [[TsoServer]] OWNS the oracle state: it fronts the file-based
 *     [[TimestampOracle]] on its own root, so every verdict (allocation,
 *     commit/abort, gc floor) is DURABLE — a restarted server resumes the
 *     same monotone sequence, exactly like the reference coordinator
 *     recovering its high-water mark from the backing store. Only the
 *     server touches those files; clients never need the filesystem.
 *   - [[TcpTso]] is the client: one UTF-8 request line per connection
 *     (the [[graft.sources.SocketLogProtocol]] discipline, incl. the
 *     explicit `OK`/`FENCED`/`ERR` response header so a dropped
 *     connection can never read as an answer).
 *
 * Wire protocol (an optional `AUTH <token> ` prefix precedes any verb —
 * see [[TsoServer]] for the shared-secret handshake):
 *   `BEGIN`            → `OK <ts>`
 *   `COMMIT <ts>`      → `OK <ts>` | `FENCED <reason>` (abort won — the
 *                        client throws [[TimestampOracle.TimestampFencedException]])
 *                        | `FENCED-COMPACTED <reason>` (at/below the gc
 *                        floor, verdict gone — ambiguous on a retry)
 *   `ABORT <ts>`       → `OK <ts>` (idempotent)
 *   `SAFEPOINT <leaseMs>` → `OK <sp>`
 *   `GC <leaseMs>`     → `OK <sp>`
 *   anything else      → `ERR <reason>` (incl. `ERR unauthorized` when
 *                        the server requires a token the line lacks)
 *
 * [[TsoProvider]] abstracts the two transports so the publish/commit
 * choreography ([[TimestampOracle.publish]]) is written once and
 * runs against either — the spec drives the SAME skew-free pinned-read
 * scenarios through TCP that the file provider passes.
 */
trait TsoProvider {
  def begin(): TimestampOracle.Ts
  def commit(ts: TimestampOracle.Ts): Unit
  def abort(ts: TimestampOracle.Ts): Unit
  def safePoint(leaseMs: Long = TimestampOracle.DefaultLeaseMs): Long
  def gc(leaseMs: Long = TimestampOracle.DefaultLeaseMs): Long
}

/** The filesystem-CAS oracle as a provider — the HDFS/object-store path
  * (atomic create at the namenode / conditional PUT). */
final case class FileTso(conf: Configuration, root: String)
    extends TsoProvider {
  def begin(): TimestampOracle.Ts = TimestampOracle.begin(conf, root)
  def commit(ts: TimestampOracle.Ts): Unit =
    TimestampOracle.commit(conf, root, ts)
  def abort(ts: TimestampOracle.Ts): Unit =
    TimestampOracle.abort(conf, root, ts)
  def safePoint(leaseMs: Long): Long =
    TimestampOracle.safePoint(conf, root, leaseMs)
  def gc(leaseMs: Long): Long = TimestampOracle.gc(conf, root, leaseMs)
}

/** Network client for a [[TsoServer]] — needs only (host, port), never a
  * filesystem. Every call is one request line on a fresh connection; a
  * missing/ERR header throws instead of defaulting (a masked BEGIN could
  * hand two writers one timestamp), and connect/read both carry a
  * timeout so a dead coordinator fails the CALLER loudly instead of
  * hanging its publish forever (the lease machinery then aborts the
  * orphaned timestamp server-side). */
final case class TcpTso(host: String, port: Int,
    timeoutMs: Int = 30000,
    authToken: Option[String] = None) extends TsoProvider {
  authToken.foreach(TsoServer.validateToken)

  private def request(line: String): String = {
    // the shared secret rides the same request line (`AUTH <tok> <verb>`)
    // — the protocol stays one line per connection, so there is no
    // handshake round-trip to time out separately
    val wire = authToken.fold(line)(t => s"AUTH $t $line")
    // the shared one-line-per-connection wire discipline — one
    // implementation for the changefeed broker and the oracle
    graft.sources.SocketLogProtocol.request(host, port, wire, timeoutMs)
      .headOption.getOrElse(throw new java.io.IOException(
        s"tso server gave no response to '$line'"))
  }

  private def ok(line: String): Long = {
    val resp = request(line)
    if (resp.startsWith("OK ")) resp.stripPrefix("OK ").trim.toLong
    else if (resp.startsWith("FENCED-COMPACTED "))
      throw new TimestampOracle.TimestampCompactedException(
        resp.stripPrefix("FENCED-COMPACTED "))
    else if (resp.startsWith("FENCED "))
      throw new TimestampOracle.TimestampFencedException(
        resp.stripPrefix("FENCED "))
    else throw new java.io.IOException(
      s"tso server rejected '$line': $resp")
  }

  /** One transport retry for IDEMPOTENT verbs: COMMIT/ABORT re-apply
    * cleanly server-side (and abort-after-commit is a server no-op), so a
    * dropped response line gets a second chance before the caller sees a
    * spurious failure; FENCED is a verdict, never retried. BEGIN is also
    * safe to retry — a lost-ack allocation just ages out via the lease.
    * A COMMIT retry racing a concurrent GC is also safe PROVIDED the
    * retry window stays inside one lease of the floor passing the ts —
    * the oracle retains resolution markers for one `leaseMs` after the
    * floor passes them and [[TimestampOracle.commit]] re-applies
    * idempotently off its own `c=` marker. With the defaults (30 s
    * timeout vs a 10 min lease) that holds with two orders of margin.
    * The constraint is also ENFORCED at the seam it protects: a retry
    * whose first response was lost and whose second attempt reads a
    * COMPACTED floor fence (`FENCED-COMPACTED` — the verdict marker is
    * already gone, so it may have been this caller's own successful
    * commit) escalates to a loud IllegalStateException instead of
    * reporting a clean abort — a misconfigured lease/timeout ratio
    * surfaces as an operational error, never as a silently retracted
    * commit. */
  private def okRetry(line: String): Long =
    try ok(line)
    catch {
      case _: java.io.IOException =>
        try ok(line)
        catch {
          case e: TimestampOracle.TimestampCompactedException =>
            throw new IllegalStateException(
              s"ambiguous retry of '$line': the first attempt's response " +
                "was lost and the timestamp's verdict is already compacted " +
                "past the gc floor — the commit may have SUCCEEDED. The " +
                "oracle lease must stay well above the client timeout " +
                "(default 10 min vs 30 s); treat this as a configuration " +
                "error, not an abort", e)
        }
    }

  def begin(): TimestampOracle.Ts = TimestampOracle.Ts(okRetry("BEGIN"))
  def commit(ts: TimestampOracle.Ts): Unit = okRetry(s"COMMIT ${ts.ts}")
  def abort(ts: TimestampOracle.Ts): Unit = okRetry(s"ABORT ${ts.ts}")
  def safePoint(leaseMs: Long): Long = okRetry(s"SAFEPOINT $leaseMs")
  def gc(leaseMs: Long): Long = okRetry(s"GC $leaseMs")
}

/** The oracle as a network service on an ephemeral port. State lives in
  * the file oracle under `root` on the SERVER's filesystem (durable —
  * close and reopen resumes the sequence); concurrent client requests
  * are safe because the underlying CAS already arbitrates them.
  *
  * The listener binds to the LOOPBACK interface by default. Off loopback,
  * pass `authToken` (see [[GraftOptions]] `graft.tso.auth.token`): every
  * request line must then carry a matching `AUTH <token> ` prefix —
  * compared constant-time — or it is refused `ERR unauthorized` before
  * any verb executes, so an unauthenticated peer cannot BEGIN/COMMIT/
  * ABORT/GC timestamps. The token authenticates, it does not encrypt:
  * confidentiality/integrity on an untrusted segment still belong to the
  * secured channel in front (TLS tunnel, service mesh, firewall) — the
  * posture the reference delegates to its grpc channel. With no token
  * configured the server accepts any line (and ignores an offered AUTH
  * prefix), which is only a sane posture on loopback. */
final class TsoServer(conf: Configuration, root: String,
    bindAddr: java.net.InetAddress = java.net.InetAddress.getLoopbackAddress,
    authToken: Option[String] = None)
    extends AutoCloseable {
  authToken.foreach(TsoServer.validateToken)
  private val tokenBytes = authToken.map(_.getBytes("UTF-8"))
  private val server = new java.net.ServerSocket(0, 50, bindAddr)
  def port: Int = server.getLocalPort
  def host: String = bindAddr.getHostAddress

  private val acceptor = new Thread(() => {
    while (!server.isClosed) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock))
        t.setDaemon(true); t.start()
      } catch {
        // closed during accept ends the loop; a PERSISTENT failure (fd
        // exhaustion) must not busy-spin at 100% cpu starving the very
        // requests that would release descriptors — and the backoff's
        // own interrupt must not kill the loop while the socket is live
        case _: Exception => if (!server.isClosed)
          try Thread.sleep(50)
          catch { case _: InterruptedException => () }
      }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(s: java.net.Socket): Unit =
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
      val out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"))
      val req = in.readLine()
      val resp: String =
        try {
          if (req == null) "ERR empty request"
          else {
            // peel an AUTH prefix, then gate BEFORE any verb runs: a
            // required token that is missing or wrong never reaches the
            // oracle. The compare is constant-time (MessageDigest.isEqual)
            // so the response latency leaks nothing about how much of a
            // guessed token matched.
            val (offered, verb) = req.trim.split("\\s+").toSeq match {
              case "AUTH" +: tok +: rest => (Some(tok), rest)
              case other => (None, other)
            }
            val ok = tokenBytes match {
              case None => true // no token required (loopback posture)
              case Some(expect) => offered.exists(t =>
                java.security.MessageDigest.isEqual(
                  expect, t.getBytes("UTF-8")))
            }
            if (!ok) "ERR unauthorized"
            else verb match {
            case Seq("BEGIN") =>
              s"OK ${TimestampOracle.begin(conf, root).ts}"
            case Seq("COMMIT", n) =>
              TimestampOracle.commit(conf, root,
                TimestampOracle.Ts(n.toLong))
              s"OK $n"
            case Seq("ABORT", n) =>
              TimestampOracle.abort(conf, root,
                TimestampOracle.Ts(n.toLong))
              s"OK $n"
            case Seq("SAFEPOINT", lease) =>
              s"OK ${TimestampOracle.safePoint(conf, root, lease.toLong)}"
            case Seq("GC", lease) =>
              s"OK ${TimestampOracle.gc(conf, root, lease.toLong)}"
            case _ => "ERR bad request"
            }
          }
        } catch {
          case e: TimestampOracle.TimestampCompactedException =>
            // the floor-fence flavor keeps its identity across the wire
            // so a retrying client can tell "verdict compacted (maybe my
            // own commit)" from a genuine pre-commit abort fence
            s"FENCED-COMPACTED ${e.getMessage.replace('\n', ' ')}"
          case e: TimestampOracle.TimestampFencedException =>
            // a VERDICT, not a failure: the client must throw its own
            // fence, distinguishable from transport errors
            s"FENCED ${e.getMessage.replace('\n', ' ')}"
          case scala.util.control.NonFatal(e) =>
            s"ERR ${e.toString.replace('\n', ' ')}"
        }
      out.write(resp); out.write("\n"); out.flush()
    } catch { case _: Exception => () } // client went away
    finally s.close()

  def close(): Unit = server.close()
}

object TsoServer {
  /** The shared secret rides a space-delimited request line, so it must
    * be one non-empty whitespace-free token — enforced at CONSTRUCTION
    * on both ends ([[TsoServer]] and [[TcpTso]]), where a bad value is a
    * configuration error, not a per-request "unauthorized" mystery.
    * [[graft.GraftOptions]] applies the same rule to
    * `graft.tso.auth.token` at submit time. */
  def validateToken(token: String): Unit =
    require(token.nonEmpty && !token.exists(_.isWhitespace),
      "tso auth token must be non-empty and contain no whitespace " +
        "(it rides a space-delimited wire line)")
}
