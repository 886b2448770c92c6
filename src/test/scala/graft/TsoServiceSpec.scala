package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.{SnapshotStore, TcpTso, TimestampOracle, TsoServer}

/** The timestamp oracle as a NETWORK service (grpc coordinator analog):
  * clients need only (host, port) — never the oracle's filesystem — and
  * the full file-provider semantics carry over: monotone unique
  * allocation across processes, lease expiry with a loud commit fence,
  * durable sequence across server restarts, and skew-free pinned reads
  * driven end-to-end through the TCP provider. */
class TsoServiceSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def withServer[A](root: String)(body: TsoServer => A): A = {
    val srv = new TsoServer(hconf, root)
    try body(srv) finally srv.close()
  }

  test("begin/commit/abort/safePoint round-trip the wire") {
    val root = Files.createTempDirectory("tsotcp").toString
    withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      val t1 = tso.begin()
      val t2 = tso.begin()
      assert(t2.ts === t1.ts + 1)
      tso.commit(t2)
      // t1 pending holds the safe point — exactly the file semantics
      assert(tso.safePoint() === t1.ts - 1)
      tso.abort(t1)
      assert(tso.safePoint() === t2.ts)
      // the TCP view and a direct file view agree: same oracle
      assert(TimestampOracle.safePoint(hconf, root,
        TimestampOracle.DefaultLeaseMs) === t2.ts)
      assert(tso.gc() === t2.ts)
      assert(tso.begin().ts === t2.ts + 1)
    }
  }

  test("a fenced commit throws the fence type, not a transport error") {
    val root = Files.createTempDirectory("tsotcp2").toString
    withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      val dead = tso.begin()
      Thread.sleep(50)
      // the expiry scan (driven over the wire) aborts the stalled holder
      assert(tso.safePoint(leaseMs = 1L) === dead.ts)
      intercept[TimestampOracle.TimestampFencedException] {
        tso.commit(dead)
      }
    }
  }

  test("a compacted verdict keeps its identity over the wire; a lost-ack retry escalates") {
    // END-TO-END: a commit whose verdict was compacted past the floor
    // reads FENCED-COMPACTED, which the client surfaces as the compacted
    // fence subtype on a FIRST attempt (a genuine stale fence)...
    val root = Files.createTempDirectory("tsotcp6").toString
    withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      val dead = tso.begin()
      Thread.sleep(50)
      assert(tso.safePoint(leaseMs = 1L) === dead.ts) // expiry-aborted
      assert(tso.gc(leaseMs = 1L) === dead.ts) // floor passes, marker kept
      Thread.sleep(10)
      assert(tso.gc(leaseMs = 1L) === dead.ts) // marker aged out: compacted
      val ex = intercept[TimestampOracle.TimestampFencedException] {
        tso.commit(dead)
      }
      assert(ex.isInstanceOf[TimestampOracle.TimestampCompactedException],
        s"floor fence must keep its compacted identity: $ex")
    }

    // ...but on a RETRY whose first response was LOST, compacted is
    // AMBIGUOUS (the compacted verdict may have been this caller's own
    // successful commit) — the client must escalate loudly, never report
    // a clean abort. Scripted server: hang up once, then answer
    // FENCED-COMPACTED.
    val script = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getLoopbackAddress)
    val server = new Thread(() => {
      try {
        script.accept().close() // first attempt: dropped response
        val s2 = script.accept()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s2.getInputStream, "UTF-8"))
        in.readLine()
        val out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(s2.getOutputStream, "UTF-8"))
        out.write("FENCED-COMPACTED verdict compacted past the floor\n")
        out.flush(); s2.close()
      } catch { case _: Exception => () }
    })
    server.setDaemon(true); server.start()
    try {
      val tso2 = TcpTso("127.0.0.1", script.getLocalPort, timeoutMs = 2000)
      val amb = intercept[IllegalStateException] {
        tso2.commit(TimestampOracle.Ts(1L))
      }
      assert(amb.getMessage.contains("may have SUCCEEDED"), amb.getMessage)
      assert(!amb.isInstanceOf[TimestampOracle.TimestampFencedException],
        "ambiguity must not masquerade as a clean fence verdict")
    } finally script.close()
  }

  test("malformed requests get ERR, and the client refuses to parse it") {
    val root = Files.createTempDirectory("tsotcp3").toString
    withServer(root) { srv =>
      val s = new java.net.Socket(srv.host, srv.port)
      try {
        val out = new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8")
        out.write("GIMME\n"); out.flush(); s.shutdownOutput()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
        assert(in.readLine().startsWith("ERR "))
      } finally s.close()
      // a non-numeric COMMIT errs server-side; the client THROWS rather
      // than treating it as success
      val s2 = new java.net.Socket(srv.host, srv.port)
      try {
        val out = new java.io.OutputStreamWriter(s2.getOutputStream, "UTF-8")
        out.write("COMMIT abc\n"); out.flush(); s2.shutdownOutput()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s2.getInputStream, "UTF-8"))
        assert(in.readLine().startsWith("ERR "))
      } finally s2.close()
    }
  }

  test("the sequence is durable across a server restart") {
    val root = Files.createTempDirectory("tsotcp4").toString
    val before = withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      val ts = (1 to 3).map(_ => tso.begin().ts)
      ts.foreach(t => tso.commit(TimestampOracle.Ts(t)))
      ts.max
    }
    // a NEW server over the same root resumes — verdicts were durable
    withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      assert(tso.safePoint() === before)
      assert(tso.begin().ts === before + 1)
    }
  }

  test("allocations are unique across two processes WITHOUT a shared fs") {
    // the racers get only (host, port) — no root path — so uniqueness
    // rests entirely on the server arbitrating; this is the scenario
    // the file provider cannot serve at all
    val root = Files.createTempDirectory("tsotcp5").toString
    withServer(root) { srv =>
      val javaBin = new java.io.File(new java.io.File(
        sys.props("java.home"), "bin"), "java").getAbsolutePath
      val cp = sys.props("java.class.path")
      val perProc = 25
      def launch(): Process = new ProcessBuilder(
        javaBin, "-cp", cp, "graft.TsoTcpRacerMain",
        srv.host, srv.port.toString, perProc.toString)
        .redirectErrorStream(true).start()
      val (p1, p2) = (launch(), launch())
      def drain(p: Process): Seq[String] = {
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
          "racer subprocess timed out")
        assert(p.exitValue === 0, s"racer subprocess failed:\n$out")
        out.linesIterator.toSeq
      }
      val all = (drain(p1) ++ drain(p2))
        .filter(_.matches("\\d+")).map(_.toLong)
      assert(all.size === 2 * perProc)
      assert(all.distinct.size === all.size,
        s"duplicate timestamp issued across processes: ${all.sorted}")
      assert(all.min === 1L && all.max === 2L * perProc,
        "allocation left gaps")
      // and a third client (this JVM) continues the sequence
      assert(TcpTso(srv.host, srv.port).begin().ts === 2L * perProc + 1)
    }
  }

  test("two jobs coordinate epochs through TCP; pinned reads never skew") {
    // the file-provider flagship scenario, driven END-TO-END through the
    // network oracle: DATA rides the shared snapshot store, ORDER rides
    // the socket — two writers, interleaved global epochs, a stable
    // pinned cut, and an all-or-nothing 2PC fan-out
    val root = Files.createTempDirectory("tsotcp6").toString
    withServer(root) { srv =>
      val tso = TcpTso(srv.host, srv.port)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val epochs =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      def writer(table: String, rounds: Int): Thread = new Thread(() =>
        try (1 to rounds).foreach { i =>
          val e = TimestampOracle.publish(tso, spark, root,
            Seq(table -> (() => Seq((table, i)).toDF("t", "round"))),
            keep = 10)
          epochs.add((table, e))
        } catch { case t: Throwable => errs.add(t) })
      val ws = Seq(writer("x", 4), writer("y", 4))
      ws.foreach(_.start()); ws.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${errs.asScala.toList}")
      val all = epochs.asScala.toSeq.map(_._2)
      assert(all.distinct.size === 8 && all.toSet === (1L to 8L).toSet)

      val pin = tso.safePoint()
      assert(pin === 8L)
      def cut(at: Long): Map[String, Seq[(String, Int)]] =
        TimestampOracle.readStoreAt(spark, root, Seq("x", "y"), at)
          .map { case (t, df) =>
            t -> df.get.as[(String, Int)].collect().toSeq.sorted }
      val before = cut(pin)
      assert(before("x") === Seq(("x", 4)) && before("y") === Seq(("y", 4)))
      // later traffic through the SAME network oracle moves the safe
      // point but never the pinned view
      TimestampOracle.publish(tso, spark, root,
        Seq("x" -> (() => Seq(("x", 99)).toDF("t", "round"))), keep = 10)
      assert(cut(pin) === before)
      assert(tso.safePoint() === 9L)

      // 2PC fan-out stamped by the network coordinator: one timestamp,
      // both tables, all-or-nothing at the pin
      val t2 = TimestampOracle.publish(tso, spark, root, Seq(
        "x" -> (() => Seq(("x", 100)).toDF("t", "round")),
        "y" -> (() => Seq(("y", 100)).toDF("t", "round"))))
      assert(SnapshotStore.versions(spark, s"$root/x").max === t2)
      assert(SnapshotStore.versions(spark, s"$root/y").max === t2)
      val atFan = TimestampOracle.readStoreAt(
        spark, root, Seq("x", "y"), t2 - 1)
      assert(atFan("x").nonEmpty && atFan("y").nonEmpty) // pre-fan epochs
      // a failed fan-out aborts its NETWORK timestamp; safe point moves on
      intercept[RuntimeException] {
        TimestampOracle.publish(tso, spark, root, Seq(
          "x" -> (() => Seq(("x", 101)).toDF("t", "round")),
          "y" -> (() => throw new RuntimeException("boom"))))
      }
      assert(tso.safePoint() === t2 + 1)
      assert(SnapshotStore.versions(spark, s"$root/x").max === t2)
    }
  }

  test("a token-bearing server refuses unauthenticated and wrong-token peers") {
    val root = Files.createTempDirectory("tsoauth").toString
    val srv = new TsoServer(hconf, root, authToken = Some("s3cret-tok"))
    try {
      // no token: refused before any verb runs — no timestamp allocated
      val bare = TcpTso(srv.host, srv.port)
      val e1 = intercept[java.io.IOException] { bare.begin() }
      assert(e1.getMessage.contains("unauthorized"), e1.getMessage)
      // wrong token: same refusal (constant-time compare server-side)
      val wrong = TcpTso(srv.host, srv.port, authToken = Some("wrong-tok"))
      val e2 = intercept[java.io.IOException] { wrong.begin() }
      assert(e2.getMessage.contains("unauthorized"), e2.getMessage)
      // neither refused attempt reached the oracle: the authed sequence
      // starts at 1
      val authed = TcpTso(srv.host, srv.port, authToken = Some("s3cret-tok"))
      val t1 = authed.begin()
      assert(t1.ts === 1L)
      authed.commit(t1)
      assert(authed.safePoint() === 1L)
      // fences keep their identity through the authed line too
      val dead = authed.begin()
      Thread.sleep(50)
      assert(authed.safePoint(leaseMs = 1L) === dead.ts)
      intercept[TimestampOracle.TimestampFencedException] {
        authed.commit(dead)
      }
    } finally srv.close()
  }

  test("the auth token is validated at construction and parses via GraftOptions") {
    // a whitespace-bearing secret would silently truncate on the
    // space-delimited wire line — both ends refuse it at construction
    intercept[IllegalArgumentException] {
      new TsoServer(hconf, "/tmp/unused", authToken = Some("two words"))
    }
    intercept[IllegalArgumentException] {
      TcpTso("127.0.0.1", 1, authToken = Some(""))
    }
    // ...and GraftOptions is the submit-time parse point
    val opts = GraftOptions.fromMap(Map("graft.tso.auth.token" -> "tok-1"))
    assert(opts.tsoAuthToken === Some("tok-1"))
    assert(GraftOptions.fromMap(Map.empty).tsoAuthToken === None)
    val bad = intercept[IllegalArgumentException] {
      GraftOptions.fromMap(Map("graft.tso.auth.token" -> "a b"))
    }
    assert(bad.getMessage.contains("graft.tso.auth.token"), bad.getMessage)
  }

  test("a no-token server ignores an offered AUTH prefix (loopback posture)") {
    val root = Files.createTempDirectory("tsoauth2").toString
    withServer(root) { srv =>
      val offering = TcpTso(srv.host, srv.port, authToken = Some("ignored"))
      assert(offering.begin().ts === 1L)
      assert(TcpTso(srv.host, srv.port).begin().ts === 2L)
    }
  }
}
