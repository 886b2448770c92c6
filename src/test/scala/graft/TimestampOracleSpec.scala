package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.{FileTso, SnapshotStore, TimestampOracle}

/** Cross-job timestamp authority (grpc coordinator analog): global
  * monotone allocation across concurrent writers, resolved-ts safe point,
  * lease-expiry abort with a loud commit fence, and skew-free pinned
  * multi-table reads over one store. */
class TimestampOracleSpec extends SparkSpec {
  import spark.implicits._

  test("allocations are strictly increasing and unique across racers") {
    val root = Files.createTempDirectory("tso").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => (1 to 10).foreach { _ =>
        got.add(tso.begin().ts)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = got.asScala.toSeq
    assert(all.size === 40)
    assert(all.distinct.size === 40, "duplicate timestamp issued")
    assert(all.min === 1L && all.max === 40L, "allocation left gaps")
    // nothing committed yet: the safe point sits below every allocation
    assert(tso.safePoint() === 0L)
    all.foreach(t => tso.commit(TimestampOracle.Ts(t)))
    assert(tso.safePoint() === 40L)
  }

  test("a pending allocation holds the safe point; abort releases it") {
    val root = Files.createTempDirectory("tso2").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val t1 = tso.begin()
    val t2 = tso.begin()
    tso.commit(t2) // out-of-order resolution
    // t1 still in flight: a reader must not pin past it even though a
    // LATER timestamp committed — that is exactly the skew being refused
    assert(tso.safePoint() === t1.ts - 1)
    tso.abort(t1)
    assert(tso.safePoint() === t2.ts)
  }

  test("lease expiry aborts a dead writer and fences its late commit") {
    val root = Files.createTempDirectory("tso3").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val dead = tso.begin()
    Thread.sleep(50)
    // the expiry scan writes the abort marker (durable verdict)...
    assert(tso.safePoint(leaseMs = 1L) === dead.ts)
    // ...so the stalled holder's resumed commit fails LOUDLY instead of
    // retracting a verdict readers may have acted on
    intercept[TimestampOracle.TimestampFencedException] {
      tso.commit(dead)
    }
  }

  test("gc compaction of an abort verdict still fences the late commit") {
    val root = Files.createTempDirectory("tso3b").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val dead = tso.begin()
    Thread.sleep(50)
    assert(tso.safePoint(leaseMs = 1L) === dead.ts)
    // first gc advances the floor past the aborted ts but RETAINS its a=
    // marker (stamped with the passage time — the late-retry window);
    // a second gc one lease later deletes it
    assert(tso.gc(leaseMs = 1L) === dead.ts)
    Thread.sleep(10)
    assert(tso.gc(leaseMs = 1L) === dead.ts)
    // the marker is gone, but the floor itself is the durable verdict:
    // the stalled holder's commit must still fail loudly, not succeed
    // because the per-ts file it checks for was compacted away
    intercept[TimestampOracle.TimestampFencedException] {
      tso.commit(dead)
    }
    // and the safe point / resolved view is unchanged by the attempt
    assert(tso.safePoint() === dead.ts)
  }

  test("a retried commit finds its verdict past a concurrent gc (lost ack)") {
    // the transport-retry hazard: COMMIT applied, response line dropped,
    // and a concurrent gc() compacts the floor past the resolved ts
    // before the client retries — the retry must re-apply idempotently
    // (gc retains verdict markers for a lease), never fence a commit
    // that succeeded
    val root = Files.createTempDirectory("tso8").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val t = tso.begin()
    tso.commit(t) // applied; ack "lost"
    assert(tso.gc() === t.ts) // floor passes t
    tso.commit(t) // the retry: must NOT throw
    assert(tso.safePoint() === t.ts)
    // and a late "abort my failed commit" cleanup stays a no-op even at
    // the floor — no contradictory a= marker lands below it
    tso.abort(t)
    assert(tso.safePoint() === t.ts)
    assert(tso.begin().ts === t.ts + 1)
  }

  test("the floor survives crashes and legacy stores; stale versions only advance it") {
    val root = Files.createTempDirectory("tso9").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val dir = new java.io.File(root, "_tso"); dir.mkdirs()
    // a legacy content-bearing _floor from a pre-versioning store reads
    java.nio.file.Files.write(new java.io.File(dir, "_floor").toPath,
      "5".getBytes("UTF-8"))
    assert(tso.begin().ts === 6L)
    tso.abort(TimestampOracle.Ts(6L))
    // a crashed gc can leave several versions behind — MAX wins, so a
    // concurrent/older gc can never regress the floor, and a crash
    // between create-new and delete-old loses nothing (everything at or
    // below a planted floor is resolved, per the oracle's invariant)
    assert(new java.io.File(dir, "_floor.v9").createNewFile())
    assert(new java.io.File(dir, "_floor.v7").createNewFile())
    assert(tso.begin().ts === 10L)
    // gc supersedes every older version AND the legacy file
    tso.abort(TimestampOracle.Ts(10L))
    assert(tso.gc() === 10L)
    val names = dir.listFiles().map(_.getName).toSet
    assert(names.contains("_floor.v10"), names)
    assert(!names.contains("_floor") && !names.contains("_floor.v7")
      && !names.contains("_floor.v9"), names)
    assert(tso.begin().ts === 11L)
  }

  test("abort after a completed commit is a no-op — the verdict stands") {
    // the lost-ack window: a caller whose commit WAS applied but whose
    // response vanished will 'abort its failed commit'; the oracle must
    // not hand readers two contradictory verdicts for one timestamp
    val root = Files.createTempDirectory("tso7").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val t = tso.begin()
    tso.commit(t)
    tso.abort(t) // late contradiction — ignored
    assert(tso.safePoint() === t.ts)
    // a genuinely pending ts still aborts normally
    val t2 = tso.begin()
    tso.abort(t2)
    assert(tso.safePoint() === t2.ts)
    intercept[TimestampOracle.TimestampFencedException] {
      tso.commit(t2)
    }
  }

  test("two jobs interleave epochs on one store; pinned reads never skew") {
    val root = Files.createTempDirectory("tso4").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    // two concurrent writers on DIFFERENT tables of one store, each
    // publishing several epochs — the multi-job shape the reference's
    // grpc coordinator serves
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def writer(table: String, rounds: Int): Thread = new Thread(() =>
      try (1 to rounds).foreach { i =>
        val e = TimestampOracle.publish(tso, spark, root,
          Seq(table -> (() => Seq((table, i)).toDF("t", "round"))), keep = 10)
        epochs.add((table, e))
      } catch { case t: Throwable => errs.add(t) })
    val ws = Seq(writer("x", 4), writer("y", 4))
    ws.foreach(_.start()); ws.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.asScala.toList}")
    val byTable = epochs.asScala.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    // one global sequence, 8 unique interleaved epochs, monotone per table
    val all = byTable.values.flatten.toSeq
    assert(all.distinct.size === 8)
    assert(all.toSet === (1L to 8L).toSet)
    assert(SnapshotStore.versions(spark, s"$root/x").sorted === byTable("x"))
    assert(SnapshotStore.versions(spark, s"$root/y").sorted === byTable("y"))

    // pin at the safe point: the cut is consistent and STABLE — later
    // commits never change what the pinned reader resolves
    val pin = tso.safePoint()
    assert(pin === 8L)
    def cut(at: Long): Map[String, Seq[(String, Int)]] =
      TimestampOracle.readStoreAt(spark, root, Seq("x", "y"), at)
        .map { case (t, df) =>
          t -> df.get.as[(String, Int)].collect().toSeq.sorted }
    val before = cut(pin)
    assert(before("x") === Seq(("x", 4)) && before("y") === Seq(("y", 4)))
    // more traffic after the pin...
    TimestampOracle.publish(tso, spark, root,
      Seq("x" -> (() => Seq(("x", 99)).toDF("t", "round"))), keep = 10)
    // ...must not move the pinned view
    assert(cut(pin) === before)
    assert(tso.safePoint() === 9L)

    // a pinned read BELOW a table's first epoch resolves None, not junk
    val early = TimestampOracle.readStoreAt(spark, root, Seq("x", "y"),
      byTable("x").min - 1)
    assert(early("x").isEmpty || early("y").isEmpty)

    // gc compacts resolution files but preserves ordering and allocation
    val sp = tso.gc()
    assert(sp === 9L)
    assert(tso.safePoint() === 9L)
    assert(tso.begin().ts === 10L)
  }

  test("multi-table fan-out commits every view at one global timestamp") {
    val root = Files.createTempDirectory("tso6").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    // a single-table job and a two-table fan-out interleave on one store
    val t1 = TimestampOracle.publish(tso, spark, root,
      Seq("solo" -> (() => Seq(1).toDF("v"))))
    val t2 = TimestampOracle.publish(tso, spark, root, Seq(
      "x" -> (() => Seq(("x", 1)).toDF("t", "round")),
      "y" -> (() => Seq(("y", 1)).toDF("t", "round"))))
    assert(t2 === t1 + 1)
    // both fan-out tables carry the SAME epoch — the transactional stamp
    assert(SnapshotStore.versions(spark, s"$root/x") === Seq(t2))
    assert(SnapshotStore.versions(spark, s"$root/y") === Seq(t2))
    assert(tso.safePoint() === t2)
    // a pinned reader below the fan-out's timestamp sees NEITHER table
    val before = TimestampOracle.readStoreAt(spark, root,
      Seq("x", "y"), t2 - 1)
    assert(before("x").isEmpty && before("y").isEmpty)
    // ...and at the safe point sees BOTH — all-or-nothing
    val after = TimestampOracle.readStoreAt(spark, root, Seq("x", "y"), t2)
    assert(after("x").nonEmpty && after("y").nonEmpty)

    // a failed fan-out aborts its timestamp and publishes nothing
    intercept[RuntimeException] {
      TimestampOracle.publish(tso, spark, root, Seq(
        "x" -> (() => Seq(("x", 2)).toDF("t", "round")),
        "y" -> (() => throw new RuntimeException("boom"))))
    }
    assert(SnapshotStore.versions(spark, s"$root/x") === Seq(t2))
    assert(SnapshotStore.versions(spark, s"$root/y") === Seq(t2))
    assert(tso.safePoint() === t2 + 1) // aborted
  }

  test("a failed publish aborts its timestamp; the safe point moves on") {
    val root = Files.createTempDirectory("tso5").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    intercept[RuntimeException] {
      TimestampOracle.publish(tso, spark, root,
        Seq("x" -> (() => throw new RuntimeException("boom"))))
    }
    // the allocation resolved (aborted), so nothing is in flight
    assert(tso.safePoint() === 1L)
    val ok = TimestampOracle.publish(tso, spark, root,
      Seq("x" -> (() => Seq(1).toDF("v"))))
    assert(ok === 2L)
    assert(tso.safePoint() === 2L)
  }

  test("concurrent gc from two PROCESSES never regresses the floor or reuses a ts") {
    // The intern lock serializes gc within one JVM only. Two processes
    // looping begin → commit → gc interleave floor-version creates,
    // superseded-version deletes, marker compaction, and directory
    // listings — the name-versioned max-wins floor must keep the global
    // sequence unique and gap-free and never fence an in-lease commit.
    val root = Files.createTempDirectory("tsogc").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cp = sys.props("java.class.path")
    val perProc = 20
    def launch(): Process = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.TsoGcRacerMain", root, perProc.toString)
      .redirectErrorStream(true).start()
    val (p1, p2) = (launch(), launch())
    def drain(p: Process): Seq[String] = {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "gc racer subprocess timed out")
      assert(p.exitValue === 0, s"gc racer subprocess failed:\n$out")
      out.linesIterator.toSeq
    }
    val all = (drain(p1) ++ drain(p2)).filter(_.matches("\\d+")).map(_.toLong)
    assert(all.size === 2 * perProc)
    assert(all.distinct.size === all.size,
      s"duplicate timestamp under concurrent gc: ${all.sorted}")
    assert(all.min === 1L && all.max === 2L * perProc,
      "allocation left gaps under concurrent gc")
    // everything committed and compacted coherently: the safe point sits
    // at the top and a third process continues the sequence — a lost or
    // regressed floor would re-issue an old ts here
    assert(tso.safePoint() === 2L * perProc)
    assert(tso.begin().ts === 2L * perProc + 1)
  }

  test("allocations are unique across two separate OS PROCESSES") {
    // The in-JVM intern lock cannot serialize a second driver process;
    // this races two bare JVMs (TsoRacerMain — no Spark, just Hadoop
    // Configuration) against one local store, where uniqueness rests
    // entirely on the O_CREAT|O_EXCL kernel atomicity of atomicCreate.
    // Before that fix, Hadoop's local create(overwrite=false) was
    // check-then-act and two processes could allocate the same ts.
    val root = Files.createTempDirectory("tso6").toString
    val tso = FileTso(spark.sparkContext.hadoopConfiguration, root)
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cp = sys.props("java.class.path")
    val perProc = 25
    def launch(): Process = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.TsoRacerMain", root, perProc.toString)
      .redirectErrorStream(true).start()
    val (p1, p2) = (launch(), launch())
    def drain(p: Process): Seq[String] = {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "racer subprocess timed out")
      assert(p.exitValue === 0, s"racer subprocess failed:\n$out")
      out.linesIterator.toSeq
    }
    val all = (drain(p1) ++ drain(p2)).filter(_.matches("\\d+")).map(_.toLong)
    assert(all.size === 2 * perProc)
    assert(all.distinct.size === all.size,
      s"duplicate timestamp issued across processes: ${all.sorted}")
    assert(all.min === 1L && all.max === 2L * perProc, "allocation left gaps")
    // and the store is still a coherent oracle for THIS (third) process
    assert(tso.begin().ts === 2L * perProc + 1)
  }
}
